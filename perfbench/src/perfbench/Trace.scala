package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A closed span. Times are epoch milliseconds (fractional). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      request: String, start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** Spark work of one job, accumulated from task-end events. */
final class JobRec(val id: Int, val owner: Long, val batchKey: String,
                   val start: Double) {
  @volatile var end: Double = Double.NaN
  var stages, tasks = 0L
  var runMs, cpuNs, gcMs, durMs, shuffleW, shuffleR, spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** One micro-batch progress report of a streaming query. */
final case class Trigger(queryId: String, batchId: Long, start: Double,
                         durations: Map[String, Long], rows: Long,
                         stateRows: Long, stateBytes: Long,
                         stateCommitMs: Long, stateUpdateMs: Long)

/** Records spans around the harness's calls into the engine, Spark job
  * spans from `SparkListener` events, and streaming triggers from
  * `StreamingQueryListener` progress events; everything stays in memory
  * until the run writes its span file.
  *
  * Spans and both listeners exist only when `enabled` (the traced run):
  * every metric they feed is a per-layer metric.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession, request: String) {
  private val sc: SparkContext = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var nextId = 1L
  private val open = mutable.Stack.empty[Long]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  private val SpanKey = "perfbench.span"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(0L),
        (prop("sql.streaming.queryId") zip prop("streaming.sql.batchId"))
          .map { case (q, b) => s"$q/$b" }.orNull,
        e.time.toDouble)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        r.synchronized {
          r.tasks += 1
          r.durMs += e.taskInfo.duration
          r.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            r.runMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleW += m.shuffleWriteMetrics.bytesWritten
            r.shuffleR += m.shuffleReadMetrics.totalBytesRead
            r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      triggers.add(Trigger(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum))
    }
  }

  if (enabled) {
    spark.streams.addListener(streamListener)
    sc.addSparkListener(jobListener)
  }

  /** Time `f` as a span named `name` under the innermost open span. The
    * elapsed milliseconds are returned in both modes; the span is kept only
    * when tracing.
    */
  def span[T](name: String, kind: String)(f: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0L)
    if (enabled) {
      open.push(id)
      sc.setLocalProperty(SpanKey, id.toString)
    }
    val t0 = now()
    try {
      val r = f
      (r, now() - t0)
    } finally if (enabled) {
      spans += Span(id, parent, name, kind, request, t0, now())
      open.pop()
      sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  /** Progress reports that arrived since `mark` (a size of [[triggers]]). */
  def triggersSince(mark: Int): Seq[Trigger] = triggers.asScala.toSeq.drop(mark)

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def stop(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    if (enabled) sc.removeSparkListener(jobListener)
  }

  /** The jobs whose owning span is `root` or lies under it. */
  def jobsUnder(root: Long): Seq[JobRec] = {
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    def under(id: Long): Boolean =
      id == root || (id != 0L && parentOf.get(id).exists(under))
    jobs.values.asScala.toSeq.filter(j => under(j.owner)).sortBy(_.id)
  }

  /** Spans of jobs and triggers, parented to the harness span that caused
    * them: a streaming job to its trigger, a trigger to the harness span
    * whose interval holds its start.
    */
  def allSpans(): Seq[Span] = {
    var id = nextId
    def fresh(): Long = { val i = id; id += 1; i }
    val harness = spans.toSeq
    val streamParents = harness.filter(_.kind == "stream")
    val trig = triggers.asScala.toSeq.map { t =>
      val parent = streamParents.filter(s => s.start <= t.start && t.start <= s.end)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(0L)
      val d = t.durations.getOrElse("triggerExecution", 0L).toDouble
      (s"${t.queryId}/${t.batchId}",
        Span(fresh(), parent, s"trigger ${t.batchId}", "trigger", request,
          t.start, t.start + d,
          t.durations.map { case (k, v) => s"$k.ms" -> v.toDouble } ++
            Map("rows" -> t.rows.toDouble)))
    }
    val byBatch = trig.toMap
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val parent = Option(j.batchKey).flatMap(byBatch.get).map(_.id).getOrElse(j.owner)
      Span(fresh(), parent, s"job ${j.id}", "job", request, j.start,
        if (j.end.isNaN) j.start else j.end,
        Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "executor_run_ms" -> j.runMs.toDouble, "executor_cpu_ms" -> j.cpuNs / 1e6,
          "gc_ms" -> j.gcMs.toDouble, "shuffle_write_bytes" -> j.shuffleW.toDouble,
          "shuffle_read_bytes" -> j.shuffleR.toDouble, "spill_bytes" -> j.spill.toDouble))
    }
    harness ++ trig.map(_._2) ++ jobSpans
  }
}

object Tracer {

  /** Milliseconds of `[start, end]` covered by the union of `parts`. */
  def covered(start: Double, end: Double, parts: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    reach = start
    parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - covered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }

  /** One line of the span file. */
  def record(s: Span, self: Double): collection.Map[String, Any] =
    mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "kind" -> s.kind, "request" -> s.request, "start_ms" -> s.start,
      "end_ms" -> s.end, "self_ms" -> self,
      "attrs" -> mutable.LinkedHashMap(s.attrs.toSeq.sortBy(_._1): _*))
}
