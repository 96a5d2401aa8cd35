package graft.functions

import graft.SparkSpec
import graft.relational.{Hll, Rendezvous}
import graft.vector.{Projection, VectorFunctions}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("md5_bits60 is bitwise-equal to the composed conv(substring(md5)) form") {
    val rnd = new scala.util.Random(20260814L)
    // random UTF-8 including multi-byte chars, empties, separators — the
    // native digest must read the same bytes the builtin md5 hashes
    val strs = (1 to 300).map { i =>
      val len = rnd.nextInt(40)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        sb.append(rnd.nextInt(5) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => rnd.nextInt(10).toString
          case 2 => " "
          case 3 => ""
          case _ => Seq("é", "中", "𝕏", "ß")(rnd.nextInt(4))
        })
      }
      (i.toLong, sb.toString)
    }
    val df = strs.toDF("id", "s")
    val out = df.select(col("id"),
      HashFunctions.md5Bits60(col("s"), 0).as("n0"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("c0"),
      HashFunctions.md5Bits60(col("s"), 1).as("n1"),
      conv(substring(md5(col("s")), 16, 15), 16, 10).cast("long").as("c1"))
      .as[(Long, Long, Long, Long, Long)].collect()
    out.foreach { case (id, n0, c0, n1, c1) =>
      assert(n0 === c0, s"part 0 diverged on row $id")
      assert(n1 === c1, s"part 1 diverged on row $id")
    }
    // values are non-negative 60-bit
    assert(out.forall(r => r._2 >= 0 && r._2 < (1L << 60) && r._4 >= 0))
  }

  test("md5_bits60 refuses a non-literal or out-of-range part") {
    val df = Seq((1L, "x")).toDF("id", "s")
    val e = intercept[Exception] {
      df.select(call_function("md5_bits60", col("s"), lit(2))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("part"))
  }

  test("graft columns resolve on a session built without the graft extensions") {
    // a fresh session on the shared SparkContext; it is neither the active
    // nor the default session, and nothing registered the graft SQL names
    val plain = SparkSession.builder().create()
    val e = intercept[Exception] {
      plain.range(1).select(call_function("vec_dot", array(lit(1.0)), array(lit(1.0))))
        .collect()
    }
    assert(e.getMessage.contains("vec_dot"))
    val signs = Projection.rademacherSigns(3, 2, "plain")
    def rows(s: SparkSession): Seq[Seq[Row]] = {
      val df = s.createDataFrame(Seq(
        (1L, 0L, "a", Seq(1.0, 2.0, 0.5), Seq(0.5, -1.0, 2.0)),
        (2L, 0L, "é中", Seq(-3.0, 0.0, 1.0), Seq(1.0, 1.0, 1.0)),
        (3L, 1L, "", Seq(2.0, 2.0, -2.0), Seq(4.0, 0.5, 0.0))))
        .toDF("id", "g", "t", "a", "b")
      Seq(
        df.select(col("id"),
          HashFunctions.md5Bits60(col("t")), HashFunctions.md5Bits60(col("t"), 1),
          Rendezvous.shardOf(col("t"), 8),
          VectorFunctions.cosine(col("a"), col("b")),
          Projection.project(col("a"), signs)).orderBy("id"),
        Hll.registers(df, "g", "id").orderBy("g", "r"))
        .map(_.collect().toSeq)
    }
    assert(rows(plain) === rows(spark))
  }
}
