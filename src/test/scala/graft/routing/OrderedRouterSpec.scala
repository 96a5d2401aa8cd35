package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.Row

class OrderedRouterSpec extends SparkSpec {
  import spark.implicits._

  test("per-key order is preserved; keys never split across partitions") {
    // 3 keys × 50 records, deliberately shuffled input order
    val rows = scala.util.Random.shuffle(
      for (k <- Seq("a", "b", "c"); i <- 1 to 50) yield (k, f"$i%04d", s"$k-$i"))
    val df = rows.toDF("key", "seq", "payload")

    val out = OrderedRouter.processOrdered(df, "key", "seq") { it =>
      // sequential handler: tag each row with its position in arrival order
      var pos = 0
      var lastKey: String = null
      it.map { r =>
        if (r.getString(0) != lastKey) { pos = 0; lastKey = r.getString(0) }
        pos += 1
        Row(r.getString(0), r.getString(1), s"${r.getString(2)}@$pos")
      }
    }

    val got = out.as[(String, String, String)].collect()
    assert(got.length === 150)
    // position within key must equal the seq order → handler saw sorted rows
    got.foreach { case (k, seq, tagged) =>
      val pos = tagged.split("@")(1).toInt
      assert(pos === seq.toInt, s"key $k seq $seq saw position $pos")
    }
  }

  test("typed ordered processing computes per-key running state") {
    val df = Seq(("u1", "3", 30.0), ("u1", "1", 10.0), ("u1", "2", 20.0),
      ("u2", "1", 5.0)).toDF("k", "seq", "v")
    val out = OrderedRouter.processOrdered(df, "k", "seq") { it =>
      // the handler sees whole key groups in seq order: reset on key change
      var key: String = null
      var acc = 0.0
      it.map { r =>
        if (r.getString(0) != key) { key = r.getString(0); acc = 0.0 }
        acc += r.getDouble(2)
        Row(key, r.getString(1), acc)
      }
    }.as[(String, String, Double)].collect().toSet
    assert(out === Set(("u1", "1", 10.0), ("u1", "2", 30.0), ("u1", "3", 60.0),
      ("u2", "1", 5.0)))
  }
}
