package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming first-occurrence dedup suppresses duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val deduped = StatefulOps.firstOccurrences(input.toDS())(_._1)

    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(("a", 1), ("b", 2), ("a", 3)) // a duplicated within batch
    q.processAllAvailable()
    input.addData(("a", 4), ("c", 5))           // a duplicated across batches
    q.processAllAvailable()
    val got = spark.table("dedup_out").as[(String, Int)].collect().toSet
    q.stop()

    assert(got.map(_._1) === Set("a", "b", "c"))
    assert(got.count(_._1 == "a") === 1, "only first occurrence of 'a' survives")
  }

  test("deterministic first occurrence keeps the better-min row per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val kept = StatefulOps.firstOccurrenceBy(input.toDS())(
      _._1, (a, b) => if (a._2 <= b._2) a else b)

    val q = kept.writeStream.format("memory").queryName("first_by_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(("a", 7), ("a", 3), ("b", 9)) // in-batch reduce picks a->3
    q.processAllAvailable()
    input.addData(("a", 1), ("b", 2), ("c", 5)) // later batches never re-emit
    q.processAllAvailable()
    val got = spark.table("first_by_out").as[(String, Int)].collect().toSet
    q.stop()

    assert(got === Set(("a", 3), ("b", 9), ("c", 5)),
      "winner is the in-batch minimum of the FIRST batch carrying the key")
  }


  test("streaming dyadic EWMA matches the batch closed form per trigger") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // per-batch counts 100, 230, 50 for key "e":
    //   s1=100 → ewma 100000, dev 0
    //   S2=100+230=330 → ewma 165000; dev = 1000·(230−100)/100 = 1300
    //   S3=330+50·2=430 → ewma 107500; dev = 1000·(50·2−330)/330 = −696
    val out = StatefulOps.ewmaPerBatch(input.toDS())(identity)
    val q = out.writeStream.format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(Seq.fill(100)("e"): _*); q.processAllAvailable()
    input.addData(Seq.fill(230)("e"): _*); q.processAllAvailable()
    input.addData(Seq.fill(50)("e"): _*); q.processAllAvailable()
    val got = spark.table("ewma_out").as[(String, Long, Long, Long, Long)]
      .collect().sortBy(_._2).toSeq
    q.stop()
    assert(got === Seq(
      ("e", 1L, 100L, 100000L, 0L),
      ("e", 2L, 230L, 165000L, 1300L),
      ("e", 3L, 50L, 107500L, -696L)))
  }

  test("streaming CUSUM matches the batch closed form across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // per-batch counts for key "a": 5, 5, 20 with allowance 12 →
    // d = (-7, -7, 8), P = (-7, -14, -6), S = P − min(0, runmin P) =
    // (0, 0, 8) — the ChangepointSpec recurrence, per trigger.
    val out = StatefulOps.cusumPerBatch(input.toDS(), 12L)(identity)

    val q = out.writeStream.format("memory").queryName("cusum_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(Seq.fill(5)("a"): _*); q.processAllAvailable()
    input.addData(Seq.fill(5)("a"): _*); q.processAllAvailable()
    input.addData(Seq.fill(20)("a"): _*); q.processAllAvailable()
    val got = spark.table("cusum_out").as[(String, Long, Long, Long)]
      .collect().sortBy(_._2).toSeq
    q.stop()

    assert(got === Seq(("a", 1L, 5L, 0L), ("a", 2L, 5L, 0L),
      ("a", 3L, 20L, 8L)))
  }

  test("streaming SRM guard accumulates arms and fires on a planted one-arm drift") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[java.lang.Long]
    val out = StatefulOps.srmPerBatch(input.toDS().map(_.longValue))(identity)
    val q = out.writeStream.format("memory").queryName("srm_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: balanced 50/50 — chi2 0, quiet
    input.addData((1 to 100).map(i => java.lang.Long.valueOf(i % 2)): _*)
    q.processAllAvailable()
    // batch 2: one hundred arm-0 rows only (the dropped-arm outage):
    // cumulative 150/50 — chi2 = 1e6*100*100/200 = 50000000, fires
    input.addData(Seq.fill(100)(java.lang.Long.valueOf(0L)): _*)
    q.processAllAvailable()
    val got = spark.table("srm_out").as[(Long, Long, Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
    q.stop()
    assert(got === Seq(
      (1L, 50L, 50L, 0L, false),
      (2L, 150L, 50L, 50000000L, true)))
  }

  test("streaming coverage merges across batches and snapshots equal the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val cov = StatefulOps.coveragePerBatch(input.toDS(), 10L)

    val q = cov.writeStream.format("memory").queryName("cov_out")
      .outputMode(OutputMode.Append()).start()

    // batch 1: key 1 at 0 and 5 (overlap -> one segment [0,15), covered 15)
    input.addData((1L, 5L), (1L, 0L))   // unsorted within batch on purpose
    q.processAllAvailable()
    // batch 2: key 1 at 12 (extends open seg to [0,22)) and 100 (new seg)
    input.addData((1L, 12L), (1L, 100L), (2L, 7L))
    q.processAllAvailable()
    val got = spark.table("cov_out")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    q.stop()

    assert(got === Set(
      (1L, 1L, 2L, 1L, 15L),          // after batch 1: one open segment
      (1L, 2L, 4L, 2L, 32L),          // [0,22) closed-by-extension + [100,110)
      (2L, 1L, 1L, 1L, 10L)))         // key 2 first appears in batch 2
  }

  test("streaming coverage refuses an out-of-order instant loudly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val cov = StatefulOps.coveragePerBatch(input.toDS(), 10L)
    val q = cov.writeStream.format("memory").queryName("cov_ooo")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, 100L))
    q.processAllAvailable()
    input.addData((1L, 95L))  // before the open segment start
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("out-of-order") ||
      Option(e.getCause).exists(_.getMessage.contains("out-of-order")))
  }

  test("streaming KMV merges hashes across batches at O(k) state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val kmv = StatefulOps.kmvPerBatch(input.toDS(), 16)
    val q = kmv.writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Append()).start()

    // batch 1: 5 distinct hashes (below k → exact count)
    input.addData((1L to 5L).map(h => ("a", h)): _*)
    q.processAllAvailable()
    // batch 2: one duplicate + two new → m grows to 7, still exact
    input.addData(("a", 3L), ("a", 6L), ("a", 7L))
    q.processAllAvailable()
    // key b: 20 distinct in one batch → sketch keeps the 16 smallest,
    // kth_min = 16, estimate = 15·2⁶⁰ div 16 = 15·2⁵⁶
    input.addData((1L to 20L).map(h => ("b", h)): _*)
    q.processAllAvailable()
    val got = spark.table("kmv_out")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    q.stop()

    assert(got === Set(
      ("a", 1L, 5L, 5L, 5L),
      ("a", 2L, 7L, 7L, 7L),
      ("b", 1L, 16L, 16L, (BigInt(15) << 60 >> 4).toLong)))
  }

  test("streaming KMV refuses k outside the Kmv contract") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    intercept[IllegalArgumentException](
      StatefulOps.kmvPerBatch(input.toDS(), 8))
  }

  test("lateness audit measures against the PRIOR-batch frontier only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val lat = StatefulOps.latenessPerBatch(input.toDS())
    val q = lat.writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append()).start()

    // batch 1: out-of-order WITHIN the batch is not lateness (no frontier
    // yet); frontier becomes 100
    input.addData(("a", 100L), ("a", 50L))
    q.processAllAvailable()
    // batch 2: 90 and 70 are both older than frontier 100 (worst 30s
    // stale); 120 advances the frontier
    input.addData(("a", 90L), ("a", 120L), ("a", 70L))
    q.processAllAvailable()
    // batch 3: nothing late against frontier 120
    input.addData(("a", 130L), ("b", 5L))
    q.processAllAvailable()
    val got = spark.table("late_out")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    q.stop()

    assert(got === Set(
      ("a", 1L, 2L, 0L, 0L, 100L),
      ("a", 2L, 3L, 2L, 30L, 120L),
      ("a", 3L, 1L, 0L, 0L, 130L),
      ("b", 1L, 1L, 0L, 0L, 5L)))
  }

  test("streaming DDSketch accumulates counts and reads lower bounds") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = StatefulOps.ddsketchPerBatch(input.toDS())
      .writeStream.format("memory").queryName("ddq_out")
      .outputMode(OutputMode.Append()).start()

    // batch 1: values 0..9 (singleton buckets → exact): p50 rank 5 → 4,
    // p99 rank 10 → 9
    input.addData((0L to 9L).map(v => ("a", v)): _*)
    q.processAllAvailable()
    // batch 2: ten copies of 1000 → n=20, p50 rank 10 → value 9 exact;
    // p99 rank 20 → bucket of 1000: e=10, sub=(1000>>5)-16=15,
    // L=(16+15)*2^5=992
    input.addData(Seq.fill(10)(("a", 1000L)): _*)
    q.processAllAvailable()
    val got = spark.table("ddq_out")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(got === Set(
      ("a", 1L, 10L, 4L, 9L),
      ("a", 2L, 20L, 9L, 992L)))
  }

  test("streaming DDSketch refuses negative values loudly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = StatefulOps.ddsketchPerBatch(input.toDS())
      .writeStream.format("memory").queryName("ddq_neg")
      .outputMode(OutputMode.Append()).start()
    input.addData(("a", -5L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("non-negative") ||
      Option(e.getCause).exists(_.getMessage.contains("non-negative")))
  }

  test("streaming Holt forecast matches the hand-computed dyadic recurrence") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = StatefulOps.holtPerBatch(input.toDS())(identity)
    val q = out.writeStream.format("memory").queryName("holt_out")
      .outputMode(OutputMode.Append()).start()
    // batches of 4, 8, 6 'a' rows:
    // t=1: l=4, b=0 → level 4000, trend 0, forecast 4000
    // t=2: l=(8+4+0)/2=6, b=(0+6-4)/2=1 → 6000, 1000, 7000
    // t=3: l=(6+6+1)/2=6.5, b=(1+6.5-6)/2=0.75 → 6500, 750, 7250
    Seq(4, 8, 6).foreach { k =>
      input.addData(Seq.fill(k)("a"): _*); q.processAllAvailable()
    }
    val got = spark.table("holt_out")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    q.stop()
    assert(got === Seq(
      ("a", 1L, 4L, 4000L, 0L, 4000L),
      ("a", 2L, 8L, 6000L, 1000L, 7000L),
      ("a", 3L, 6L, 6500L, 750L, 7250L)))
  }

  test("streaming Holt forecast refuses past the 20-batch exact scale") {
    implicit val sqlCtx = spark.sqlContext
    // the dyadic EWMA refuses the same way past its own 55-batch scale
    val capped = Seq[(String, Dataset[String] => Dataset[_], Int)](
      ("holt_cap", StatefulOps.holtPerBatch(_)(identity), 20),
      ("ewma_cap", StatefulOps.ewmaPerBatch(_)(identity), 55))
    for ((name, op, cap) <- capped) {
      val input = MemoryStream[String]
      val q = op(input.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      val e = intercept[Exception] {
        (0 to cap).foreach { _ => input.addData("a"); q.processAllAvailable() }
      }
      q.stop()
      def hasMsg(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains(s"past $cap batches")) ||
          hasMsg(t.getCause))
      assert(hasMsg(e), s"$name unexpected: ${e.getMessage}")
    }
  }

  test("streaming growth accounting classifies new/retained/resurrected and lazy churn") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, epochDay)
    val out = StatefulOps.growthPerBatch(input.toDS())
    val q = out.writeStream.format("memory").queryName("growth_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: u1 day 10 (new); u2 days 10,11 (new + retained);
    //          u3 days 10,13 in ONE batch (new + churn@11 + resurrected@13)
    input.addData((1L, 10L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 13L))
    q.processAllAvailable()
    // batch 2: u1 day 11 (retained, seq 2); u2 repeats day 11 (no emission,
    //          seq must NOT advance); u3 silent
    input.addData((1L, 11L), (2L, 11L))
    q.processAllAvailable()
    // batch 3: u2 day 14 (churn@12 discovered + resurrected@14, seq 2 —
    //          the repeat-only batch 2 advanced nothing)
    input.addData((2L, 14L))
    q.processAllAvailable()
    val got = spark.table("growth_out").as[(Long, Long, Long, String)]
      .collect().toSet
    q.stop()
    assert(got === Set(
      (1L, 1L, 10L, "new"), (1L, 2L, 11L, "retained"),
      (2L, 1L, 10L, "new"), (2L, 1L, 11L, "retained"),
      (2L, 2L, 12L, "churned"), (2L, 2L, 14L, "resurrected"),
      (3L, 1L, 10L, "new"), (3L, 1L, 11L, "churned"),
      (3L, 1L, 13L, "resurrected")))
  }

  test("streaming domain caps: running totals, verdicts, and the flip row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = StatefulOps.domainCapsPerBatch(input.toDS(), cap = 3L)
    val q = out.writeStream.format("memory").queryName("domcaps_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: a×2 (ok), b×4 (capped immediately — also the flip row)
    input.addData(Seq.fill(2)(("a.com", 1L)) ++ Seq.fill(4)(("b.com", 1L)): _*)
    q.processAllAvailable()
    // batch 2: a×2 (total 4 > 3 — flips NOW), b×1 (still capped, no flip);
    //          c absent — no row, seq must not advance for it
    input.addData(("a.com", 1L), ("a.com", 1L), ("b.com", 1L))
    q.processAllAvailable()
    // batch 3: c appears first time (seq 1 for c, not 3)
    input.addData(("c.org", 1L))
    q.processAllAvailable()
    val got = spark.table("domcaps_out")
      .as[(String, Long, Long, Long, Long, Boolean, Boolean)].collect().toSet
    q.stop()
    assert(got === Set(
      ("a.com", 1L, 2L, 2L, 0L, false, false),
      ("b.com", 1L, 4L, 4L, 1L, true, true),
      ("a.com", 2L, 2L, 4L, 1L, true, true),
      ("b.com", 2L, 1L, 5L, 2L, true, false),
      ("c.org", 1L, 1L, 1L, 0L, false, false)))
  }

  test("streaming growth accounting refuses out-of-order replay loudly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = StatefulOps.growthPerBatch(input.toDS())
    val q = out.writeStream.format("memory").queryName("growth_ooo")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, 10L))
    q.processAllAvailable()
    input.addData((1L, 8L))
    val e = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def hasMsg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("out-of-order replay")) ||
        hasMsg(t.getCause))
    assert(hasMsg(e), s"unexpected: ${e.getMessage}")
  }
}
