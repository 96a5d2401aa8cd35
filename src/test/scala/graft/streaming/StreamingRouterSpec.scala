package graft.streaming

import graft.SparkSpec
import graft.routing._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import java.sql.Timestamp

class StreamingRouterSpec extends SparkSpec {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("schema", StringType),
    StructField("data", StructType(Seq(
      StructField("schema", StringType),
      StructField("v", LongType))))))

  test("micro-batch routing through foreachBatch matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val config = Router.Config("env/1", RegisteredSchema("env/1", Nil),
      Map("t/1" -> Router.Registration(RegisteredSchema("t/1", Nil),
        identity[org.apache.spark.sql.DataFrame])))

    val decoded = input.toDF()
      .withColumn("event", from_json(col("value"), payloadSchema))

    var routedCounts = Map.empty[String, Long]
    val q = StreamingRouter.foreachRoutedBatch(decoded, config) { (routed, _) =>
      routedCounts = Map(
        "branch" -> routed.branches("t/1").count(),
        "bad" -> routed.badMessages.count(),
        "skip" -> routed.skipped.count())
    }.start()

    input.addData(
      """{"schema":"env/1","data":{"schema":"t/1","v":1}}""",
      """{"schema":"env/1","data":{"schema":"unknown","v":2}}""",
      """not json at all""")
    q.processAllAvailable()
    q.stop()

    assert(routedCounts === Map("branch" -> 1L, "bad" -> 1L, "skip" -> 1L))
  }

  test("drainRoutedToParquet: rerun with the same checkpoint appends nothing") {
    val root = java.nio.file.Files.createTempDirectory("drain_resume")
    val outDir = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString
    val config = Router.Config("env/1", RegisteredSchema("env/1", Nil),
      Map("click" -> Router.Registration(RegisteredSchema("click", Nil),
        identity[org.apache.spark.sql.DataFrame])))
    def drain(): Unit = {
      val stream = spark.readStream
        .format(classOf[graft.sources.ReplayStreamSource].getName)
        .option("path", "/root/testdata/sf0.001/events.parquet")
        .option("batchSize", "300")
        .load()
        .withColumn("event", struct(
          lit("env/1").as("schema"),
          struct(col("event_type").as("schema")).as("data")))
      StreamingRouter.drainRoutedToParquet(stream, config,
        keepCols = Seq("event_id"), outDir, ckpt)
    }
    drain()
    val first = spark.read.parquet(outDir).count()
    assert(first === 1000L, "all fixture rows landed in the sink")
    // a restart against the same checkpoint resumes at the committed
    // offset — the already-processed rows are NOT replayed into the sink
    drain()
    assert(spark.read.parquet(outDir).count() === first,
      "rerun re-appended rows despite committed offsets")
  }

  test("drainRoutedToParquet: a batch replayed after a lost commit lands once") {
    val root = java.nio.file.Files.createTempDirectory("drain_lost_commit")
    val outDir = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt")
    val config = Router.Config("env/1", RegisteredSchema("env/1", Nil),
      Map("click" -> Router.Registration(RegisteredSchema("click", Nil),
        identity[org.apache.spark.sql.DataFrame])))
    def drain(): Unit = {
      val stream = spark.readStream
        .format(classOf[graft.sources.ReplayStreamSource].getName)
        .option("path", s"$sf0001/events.parquet")
        .option("batchSize", "300")
        .load()
        .withColumn("event", struct(
          lit("env/1").as("schema"),
          struct(col("event_type").as("schema")).as("data")))
      StreamingRouter.drainRoutedToParquet(stream, config,
        keepCols = Seq("event_id"), outDir, ckpt.toString)
    }
    drain()
    // a crash after the sink write and before the commit: the last batch's
    // offsets are logged but its commit marker is not, so a restart re-runs it
    val commits = ckpt.resolve("commits")
    val last = commits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(last === 3L, "1000 rows in 300-row batches commit batches 0..3")
    java.nio.file.Files.delete(commits.resolve(last.toString))
    java.nio.file.Files.deleteIfExists(commits.resolve(s".$last.crc"))
    drain()
    val landed = spark.read.parquet(outDir)
    assert(landed.count() === 1000L, "the replayed batch landed twice")
    assert(landed.select("event_id").distinct().count() === 1000L)
  }

  test("batch Observation metrics ride the query without a second pass") {
    val obs = new org.apache.spark.sql.Observation("route_obs")
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .observe(obs, count(lit(1)).as("rows"), sum(col("value")).as("total_value"))
    val n = df.filter(col("event_type") === "click").count()
    val metrics = obs.get
    assert(metrics("rows") === 1000L, "observation sees all scanned rows")
    assert(n < 1000L)
    assert(metrics("total_value").asInstanceOf[Double] > 0.0)
  }

  test("recentProgress captures per-batch aggregates, not payloads") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val q = input.toDF().writeStream.format("memory").queryName("metrics_probe")
      .outputMode(OutputMode.Append()).start()
    input.addData(1 to 100: _*)
    q.processAllAvailable()
    q.stop()
    // the query's own progress buffer is filled before processAllAvailable
    // returns, so no listener and no wait for async delivery
    val rows = q.recentProgress.map(_.numInputRows).toSeq
    assert(rows.contains(100L), s"expected a 100-row batch in $rows")
  }

  test("Dsl.replay delivers every row in numBatches non-empty triggers") {
    val stream = graft.queries.Dsl.replay(spark, sf0001, "events", 3)
    val q = stream.writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    StreamingRouter.awaitBounded(q)
    val rows = q.recentProgress.map(_.numInputRows).filter(_ > 0L).toSeq
    assert(rows.size === 3, s"expected 3 non-empty triggers, got $rows")
    assert(rows.sum === 1000L, "every fixture row replayed exactly once")
  }

  test("drainComplete twice in one session: equal rows, no temp view left") {
    val counts = graft.queries.Dsl.replay(spark, sf0001, "events", 2)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    def drain() = StreamingRouter.drainComplete(counts, "drain_twice")
      .as[(String, Long)].collect().toSet
    val first = drain()
    assert(first.toSeq.map(_._2).sum === 1000L)
    assert(drain() === first)
    // the memory sink's view lives in the replay clone's catalog
    val views = counts.sparkSession.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("drain_twice"))
    assert(views.isEmpty, s"memory-sink views left behind: ${views.toSeq}")
  }

  test("windowed counts with watermark drop late rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamingRouter.windowedCounts(
      input.toDF().toDF("ts", "kind"), "ts", "10 minutes", "5 minutes", "5 minutes", "kind")

    input.addData(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "a"),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "a"),
      (Timestamp.valueOf("2024-01-01 00:07:00"), "b"))
    val got = StreamingRouter.drainComplete(counts, "win_counts")
      .select(col("window.start").cast("string"), col("kind"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("2024-01-01 00:00:00", "a", 2L),
      ("2024-01-01 00:05:00", "b", 1L)))
  }

  test("file-source stream over real fixture parquet routes like batch") {
    import graft.routing.{RegisteredSchema, Required, NumRange}
    val dir = "/root/testdata/sf0.001"
    val batchDf = spark.read.parquet(s"$dir/events.parquet")
    val registry = Seq("click", "purchase").map { t =>
      t -> Router.Registration(
        RegisteredSchema(t, Seq(Required("k"), NumRange("k", None, Some(90.0)))),
        identity[org.apache.spark.sql.DataFrame])
    }.toMap
    val config = Router.Config("env/1", RegisteredSchema("env/1", Nil), registry)
    def decorate(df: org.apache.spark.sql.DataFrame) = df.withColumn("event", struct(
      lit("env/1").as("schema"),
      struct(col("event_type").as("schema"),
        get_json_object(col("props"), "$.k").cast("long").as("k")).as("data")))

    val batchCounts = Router.tag(decorate(batchDf), config)
      .groupBy(Router.TagCol).count().as[(String, Long)].collect().toMap

    // the file source needs a directory — stage the fixture file into one
    val streamDir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))

    var streamCounts = Map.empty[String, Long]
    val stream = spark.readStream.schema(batchDf.schema)
      .parquet(streamDir.toString)
    val q = StreamingRouter.foreachRoutedBatch(decorate(stream), config) { (routed, _) =>
      val got = routed.tagged.groupBy(Router.TagCol).count()
        .as[(String, Long)].collect().toMap
      streamCounts = streamCounts ++ got.map { case (k, v) =>
        k -> (streamCounts.getOrElse(k, 0L) + v)
      }
    }.start()
    q.processAllAvailable()
    q.stop()

    assert(streamCounts === batchCounts,
      "streaming micro-batch routing must equal the batch result")
  }

  test("session windows split on inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val sessions = StreamingRouter.sessionCounts(
      input.toDF().toDF("ts", "user"), "ts", "1 hour", "30 minutes", "user")
    input.addData(
      (Timestamp.valueOf("2024-01-01 00:00:00"), "u1"),
      (Timestamp.valueOf("2024-01-01 00:10:00"), "u1"),   // same session
      (Timestamp.valueOf("2024-01-01 02:00:00"), "u1"))   // new session
    val got = StreamingRouter.drainComplete(sessions, "sess_counts")
      .select("user", "n").as[(String, Long)].collect().sorted
    assert(got === Array(("u1", 1L), ("u1", 2L)))
  }
}
