package graft.relational

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Guards for the memoized stage-landing boundary: the memo must SHARE
  * landed files across identical plans (that is its whole point — the
  * cross-query tf sharing) while NEVER aliasing plans that merely look
  * alike (same schema, different data), which would silently serve one
  * query another query's rows.
  */
class StagesSpec extends SparkSpec {
  import spark.implicits._

  test("materialize round-trips data and schema") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val landed = Stages.materialize(df, "spec_roundtrip")
    // parquet relaxes nullability; names and types must survive
    assert(landed.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(landed.as[(Long, String)].collect().sorted ===
      Seq((1L, "a"), (2L, "b")))
  }

  test("memo hit: the same logical stage re-lands as the same files") {
    val mk = () => Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .groupBy(col("id")).agg(sum(col("v")).as("t"))
    val a = Stages.materialize(mk(), "spec_memo")
    val b = Stages.materialize(mk(), "spec_memo")
    assert(a.inputFiles.sorted.sameElements(b.inputFiles.sorted),
      "identical stages must share one landed copy")
    assert(b.as[(Long, Long)].collect().sorted === Seq((1L, 10L), (2L, 20L)))
  }

  test("no aliasing: same-schema local fixtures with different data stay distinct") {
    // LocalRelation's toString omits its rows — a string-keyed memo would
    // alias these two and silently serve the first fixture's rows for the
    // second. The plan-node key must keep them apart.
    val a = Stages.materialize(Seq((1L, "x")).toDF("id", "s"), "spec_alias")
    val b = Stages.materialize(Seq((2L, "y")).toDF("id", "s"), "spec_alias")
    assert(a.as[(Long, String)].collect().toSeq === Seq((1L, "x")))
    assert(b.as[(Long, String)].collect().toSeq === Seq((2L, "y")))
  }

  test("no aliasing: different source paths stay distinct") {
    val d1 = java.nio.file.Files.createTempDirectory("stages_spec_src1")
    val d2 = java.nio.file.Files.createTempDirectory("stages_spec_src2")
    Seq((1L, 1L)).toDF("id", "v").write.mode("overwrite").parquet(d1.toString)
    Seq((9L, 9L)).toDF("id", "v").write.mode("overwrite").parquet(d2.toString)
    val a = Stages.materialize(spark.read.parquet(d1.toString), "spec_path")
    val b = Stages.materialize(spark.read.parquet(d2.toString), "spec_path")
    assert(a.as[(Long, Long)].collect().toSeq === Seq((1L, 1L)))
    assert(b.as[(Long, Long)].collect().toSeq === Seq((9L, 9L)))
  }

  test("source versions: a parquet dir rewritten in place re-lands its new rows") {
    val dir = java.nio.file.Files.createTempDirectory("stages_spec_rewrite").toString
    Seq((1L, 1L)).toDF("id", "v").write.mode("overwrite").parquet(dir)
    val a = Stages.materialize(spark.read.parquet(dir), "spec_rewrite")
    assert(a.as[(Long, Long)].collect().toSeq === Seq((1L, 1L)))
    Seq((2L, 2L), (3L, 3L)).toDF("id", "v").write.mode("overwrite").parquet(dir)
    val b = Stages.materialize(spark.read.parquet(dir), "spec_rewrite")
    assert(b.as[(Long, Long)].collect().sorted.toSeq === Seq((2L, 2L), (3L, 3L)))
  }

  test("source versions: a file rewritten under the same name re-lands") {
    // same path, so only the file's length / modification time can tell
    // the two versions apart
    val dir = java.nio.file.Files.createTempDirectory("stages_spec_samename")
    val file = dir.resolve("part.json")
    def read = spark.read.schema("id LONG").json(dir.toString)
    java.nio.file.Files.writeString(file, "{\"id\":1}\n")
    val a = Stages.materialize(read, "spec_samename")
    assert(a.as[Long].collect().toSeq === Seq(1L))
    java.nio.file.Files.writeString(file, "{\"id\":2}\n{\"id\":3}\n")
    val b = Stages.materialize(read, "spec_samename")
    assert(b.as[Long].collect().sorted.toSeq === Seq(2L, 3L))
  }
}
