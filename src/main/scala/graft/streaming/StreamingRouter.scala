package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.routing.Router

/** Structured-Streaming skin over the batch routing kernel.
  *
  * The reference's execution unit is "one Lambda invoke = one Kinesis batch"
  * (reference: lib/kinesisHandler.js:132-192); Structured Streaming's
  * micro-batch + `foreachBatch` is the exact same contract, so the batch
  * [[Router]] is reused unchanged — identical semantics in both modes by
  * construction, and the at-least-once + quarantine behavior carries over
  * (checkpointed offsets give the re-poll; bad messages land in the
  * dead-letter branch instead of failing the batch, ref :145-149).
  */
object StreamingRouter {

  /** Route each micro-batch through the batch kernel. The caller's `sink`
    * sees the same [[Router.Routed]] views a batch job gets.
    */
  def foreachRoutedBatch(stream: DataFrame, config: Router.Config)(
      sink: (Router.Routed, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(Router.route(batch, config), id)
    }

  /** Event-time tumbling/sliding counts with a watermark — late rows beyond
    * the watermark are dropped, state is bounded (mandated surface T6).
    */
  def windowedCounts(stream: DataFrame, tsCol: String, watermark: String,
                     size: String, slide: String, keyCols: String*): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), size, slide) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** Session windows by inactivity gap (event-time sessionization). */
  def sessionCounts(stream: DataFrame, tsCol: String, watermark: String,
                    gap: String, keyCols: String*): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** Drain a BOUNDED stream through the routed path into a parquet sink and
    * block until done (`Trigger.AvailableNow`): the reference's whole job
    * shape — decode → validate → route → ack/quarantine per micro-batch,
    * every batch appended with its tag + reason columns so branches,
    * dead letters, and skips all land in one downstream-queryable dataset
    * (ref lib/kinesisHandler.js:132-192). Checkpointed offsets make a
    * restart resume instead of re-reading (at-least-once; the parquet
    * append is the idempotency boundary, exactly the reference's re-poll
    * contract).
    */
  def drainRoutedToParquet(stream: DataFrame, config: Router.Config,
                           keepCols: Seq[String], outDir: String,
                           checkpointDir: String): Unit = {
    val q = foreachRoutedBatch(stream, config) { (routed, _) =>
      routed.tagged
        .select((Seq(Router.TagCol, Router.ReasonCol) ++ keepCols).map(col): _*)
        // one file per micro-batch: the batch is bounded by the source's
        // batch config. No shuffle sits below this coalesce, so it also folds
        // the batch's decode, validation and write into a single task.
        .coalesce(1)
        .write.mode("append").parquet(outDir)
    }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .start()
    awaitBounded(q)
  }

  /** Drain a bounded Append-mode stream into a parquet sink and return a
    * reader over the landed files. This is the ONLY scale-safe shape for a
    * streaming frame that is not answer-sized (raw routed rows, stream-stream
    * join pairs, per-event dedup survivors): the rows land on (distributed)
    * storage executor-to-disk and the driver never holds them — a memory
    * sink would collect the full pre-aggregation set into the driver
    * catalog, which dies at 100× gate scale. Downstream aggregation is then
    * ordinary batch SQL over the sink, the same pattern as
    * [[drainRoutedToParquet]].
    */
  def drainToParquet(df: DataFrame, tag: String): DataFrame =
    df.sparkSession.read.parquet(drainToTemp(tag) { (sinkDir, ckpt) =>
      awaitBounded(df.writeStream.format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start())
    })

  /** [[drainRoutedToParquet]] into a fresh temp sink; returns the sink
    * directory for the caller to read back in whichever session it runs
    * its batch SQL.
    */
  def drainRoutedToTemp(stream: DataFrame, config: Router.Config,
                        keepCols: Seq[String], tag: String): String =
    drainToTemp(tag)(drainRoutedToParquet(stream, config, keepCols, _, _))

  /** Run `drain(sinkDir, checkpointDir)` under a fresh temp root and return
    * the sink directory. Frames over the sink read it lazily, so the only
    * safe delete point is JVM exit (deleteOnExit runs in reverse
    * registration order, so the top-down walk removes files before their
    * dirs).
    */
  private def drainToTemp(tag: String)(drain: (String, String) => Unit): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_stream_$tag")
    val sinkDir = root.resolve("sink").toString
    drain(sinkDir, root.resolve("ckpt").toString)
    java.nio.file.Files.walk(root).forEach(p => p.toFile.deleteOnExit())
    sinkDir
  }

  /** Drain an answer-sized aggregate through a Complete-mode memory sink
    * under a query name unique to this call (Verify, Bench and the specs
    * run a query repeatedly in one session), and return its final result
    * as a local relation (see [[drainMemoryToLocal]]). With
    * `Trigger.AvailableNow` the last emission is the full deterministic
    * result; Append would hold back every window newer than the final
    * watermark.
    */
  def drainComplete(df: DataFrame, tag: String): DataFrame = {
    val name = s"${tag}_" + java.lang.Long.toHexString(System.nanoTime())
    drainMemoryToLocal(df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start(), name)
  }

  /** Drain a bounded Complete-mode memory-sink query and hand back its final
    * result as a LOCAL relation, dropping the temp view. Only for
    * ANSWER-SIZED aggregates (windowed counts, per-key sessions): Complete
    * mode re-emits the whole result each trigger, so the sink table IS the
    * answer. Localizing + dropping the view keeps repeated runs in one
    * session (Verify, Bench warmups, PlanAudit) from pinning one abandoned
    * result set per run in the driver catalog for the session lifetime.
    */
  def drainMemoryToLocal(q: StreamingQuery, name: String): DataFrame = {
    awaitBounded(q)
    val spark = q.sparkSession
    val t = spark.table(name)
    val rows = java.util.Arrays.asList(t.collect(): _*)
    val local = spark.createDataFrame(rows, t.schema)
    spark.catalog.dropTempView(name)
    local
  }

  /** Await a bounded (AvailableNow) query with a hang guard: a wedged
    * stream inside a correctness-gate query must fail loudly, not hang the
    * whole gate run. Ten minutes is ~50× the worst observed drain.
    */
  def awaitBounded(q: StreamingQuery, timeoutMs: Long = 600000L): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"bounded streaming query '${q.name}' still running after ${timeoutMs} ms")
    }
}
