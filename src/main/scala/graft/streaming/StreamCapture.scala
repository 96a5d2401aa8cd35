package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Audit hook for per-trigger streaming plan capture (dev-tool support for
  * `graft.PlanAudit` and `graft.Probe phases`; a normal run never enables it
  * and never registers a listener).
  *
  * Why it exists: Structured Streaming's per-trigger `IncrementalExecution`s
  * are not delivered through `QueryExecutionListener`, so PlanAudit's aux-job
  * scan gate was blind to anything inside a micro-batch (the r12 verdict's
  * blind spot). And the engine's streaming drains run on `newSession()`
  * CLONES (`Dsl.streamSession` right-sizes state-store partitioning without
  * mutating the caller's conf) — each clone has its OWN
  * `StreamingQueryManager`, so a listener registered on the audit's root
  * session never sees the clone's queries. The clone factory therefore
  * attaches this capture to every clone it creates while capture is enabled;
  * `onQueryStarted` is delivered synchronously with the starting thread, so
  * a bounded drain is always captured before the declared query returns.
  * Per-trigger progress needs no buffer here: each captured query's own
  * `recentProgress` is filled on its stream thread before the drain's
  * `awaitTermination` returns.
  */
object StreamCapture {

  @volatile private var on = false
  private val startCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val queries = java.util.Collections.synchronizedList(
    new java.util.ArrayList[StreamingQuery]())

  def enabled: Boolean = on
  def enable(): Unit = { on = true }

  /** Clear the per-declared-query window. */
  def reset(): Unit = { startCount.set(0); queries.clear() }

  /** (queries started since reset, queries captured since reset) — a
    * mismatch means a started query escaped capture and its triggers went
    * ungated; the caller must refuse loudly.
    */
  def snapshot: (Int, List[StreamingQuery]) = {
    val qs = queries.synchronized {
      scala.jdk.CollectionConverters.ListHasAsScala(queries).asScala.toList }
    (startCount.get, qs)
  }

  /** Register the capture listener on `ss`'s own query manager. */
  def attach(ss: SparkSession): Unit = {
    ss.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = if (on) {
        startCount.incrementAndGet()
        val q = ss.streams.get(e.id)
        if (q != null) queries.add(q)
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
  }
}
