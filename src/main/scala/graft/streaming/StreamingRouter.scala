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
  * micro-batch is the exact same contract, so the batch
  * [[Router]] is reused unchanged — identical semantics in both modes by
  * construction, and the quarantine behavior carries over (bad messages
  * land in the dead-letter branch instead of failing the batch, ref
  * :145-149). Checkpointed offsets give the re-poll; the bounded drains
  * write through Spark's parquet file sink, whose commit log makes them
  * exactly-once for readers of the sink.
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
    * every row landing with its tag + reason columns so branches, dead
    * letters, and skips all land in one downstream-queryable dataset
    * (ref lib/kinesisHandler.js:132-192). Checkpointed offsets make a
    * restart resume instead of re-reading, and the file sink's commit log
    * (`_spark_metadata`) makes the drain exactly-once for readers: a batch
    * replayed after a lost commit is skipped by the sink, and a reader of
    * `outDir` sees only committed files.
    */
  def drainRoutedToParquet(stream: DataFrame, config: Router.Config,
                           keepCols: Seq[String], outDir: String,
                           checkpointDir: String): Unit =
    drainFileSink(Router.tag(stream, config)
      .select((Seq(Router.TagCol, Router.ReasonCol) ++ keepCols).map(col): _*),
      outDir, checkpointDir)

  /** Drain a bounded Append-mode stream into a parquet sink and return a
    * reader over the landed files. This is the ONLY scale-safe shape for a
    * streaming frame that is not answer-sized (raw routed rows, stream-stream
    * join pairs, per-event dedup survivors): the rows land on (distributed)
    * storage executor-to-disk and the driver never holds them — a memory
    * sink would collect the full pre-aggregation set into the driver
    * catalog, which dies at 100× gate scale. Downstream aggregation is then
    * ordinary batch SQL over the sink, the same pattern as
    * [[drainRoutedToParquet]]. The sink lives under a fresh temp root;
    * frames over it read it lazily, so the only safe delete point is JVM
    * exit (deleteOnExit runs in reverse registration order, so the
    * top-down walk removes files before their dirs).
    */
  def drainToParquet(df: DataFrame, tag: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_stream_$tag")
    val sinkDir = root.resolve("sink").toString
    drainFileSink(df, sinkDir, root.resolve("ckpt").toString)
    java.nio.file.Files.walk(root).forEach(p => p.toFile.deleteOnExit())
    df.sparkSession.read.parquet(sinkDir)
  }

  /** Start `df` on Spark's parquet file sink (Append, AvailableNow) and
    * block until the bounded input is drained.
    */
  private def drainFileSink(df: DataFrame, outDir: String, checkpointDir: String): Unit =
    awaitBounded(df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start())

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
