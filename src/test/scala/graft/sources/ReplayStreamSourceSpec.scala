package graft.sources

import graft.SparkSpec
import graft.routing._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

class ReplayStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  test("replay source streams the fixture in fixed-size micro-batches") {
    val stream = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", s"$sf0001/events.parquet")
      .option("batchSize", "250")
      .load()

    var batchSizes = Vector.empty[Long]
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes :+= batch.count()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(batchSizes.sum === 1000L, s"all fixture rows replayed: $batchSizes")
    assert(batchSizes.count(_ > 0) >= 4, s"multiple micro-batches: $batchSizes")
    assert(batchSizes.forall(_ <= 250L), s"batchSize respected: $batchSizes")
  }

  test("numBatches fixes the batch COUNT regardless of input size") {
    val stream = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", s"$sf0001/events.parquet")
      .option("numBatches", "4")
      .load()

    var batchSizes = Vector.empty[Long]
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes :+= batch.count()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val nonEmpty = batchSizes.filter(_ > 0)
    assert(batchSizes.sum === 1000L, s"all fixture rows replayed: $batchSizes")
    assert(nonEmpty.size === 4, s"exactly numBatches micro-batches: $batchSizes")
    assert(nonEmpty.forall(_ === 250L), s"⌈1000/4⌉ rows per batch: $batchSizes")
  }

  test("multi-file directory input: offsets span files in name order, batches split mid-file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("replay_multi").toString
    // three files of 7, 5, 9 rows; name order fixes the global row order
    Seq((0 until 7, "a"), (7 until 12, "b"), (12 until 21, "c")).foreach {
      case (range, name) =>
        val tmp = s"$dir/tmp_$name"
        range.map(i => (i.toLong, s"v$i")).toDF("id", "s")
          .coalesce(1).orderBy("id").write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$dir/part_$name.parquet"))
        new java.io.File(tmp).listFiles().foreach(_.delete())
        new java.io.File(tmp).delete()
    }

    var batches = Vector.empty[Seq[Long]]
    val q = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", dir)
      .option("batchSize", "6") // crosses the 7-row and 12-row file seams
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches :+= batch.select("id").as[Long].collect().toSeq.sorted
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(batches.map(_.size).sum === 21L, s"all rows replayed once: $batches")
    assert(batches.flatten.sorted === (0L until 21L), s"no dupes or gaps: $batches")
    assert(batches.forall(_.size <= 6), s"batchSize respected across file seams: $batches")
  }

  test("executor-side reader preserves typed columns (timestamp, double, string)") {
    import spark.implicits._
    val path = s"$sf0001/orders.parquet"
    // money sum through exact decimal: a raw double sum is partition-order
    // dependent and the stream splits partitions differently than the scan
    val batch = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(12,2)")).cast("double"),
        max(col("o_orderdate")), min(col("o_orderpriority")))
      .as[(Long, Double, java.sql.Timestamp, String)].head()

    var streamed = Vector.empty[(Long, Double, java.sql.Timestamp, String)]
    val q = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", path)
      .option("batchSize", "100000") // one batch: aggregate over the whole table
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed :+= b.agg(count(lit(1)),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double"),
          max(col("o_orderdate")), min(col("o_orderpriority")))
          .as[(Long, Double, java.sql.Timestamp, String)].head()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(streamed.size === 1)
    assert(streamed.head === batch,
      "replayed aggregates must equal the batch read (types decoded identically)")
  }

  test("restart from checkpoint resumes at committed offsets (no replays)") {
    val checkpoint = java.nio.file.Files.createTempDirectory("replay_ckpt").toString
    def run(): Long = {
      var n = 0L
      val q = spark.readStream
        .format(classOf[ReplayStreamSource].getName)
        .option("path", s"$sf0001/events.parquet")
        .option("batchSize", "300")
        .load()
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          n += batch.count()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      n
    }
    assert(run() === 1000L, "first run drains the snapshot")
    assert(run() === 0L, "second run resumes at the committed end: nothing to replay")
  }

  test("routing over the replay stream equals batch routing") {
    val registry = Seq("click", "purchase").map { t =>
      t -> Router.Registration(RegisteredSchema(t, Nil),
        identity[org.apache.spark.sql.DataFrame])
    }.toMap
    val config = Router.Config("env/1", RegisteredSchema("env/1", Nil), registry)
    def decorate(df: org.apache.spark.sql.DataFrame) = df.withColumn("event",
      struct(lit("env/1").as("schema"),
        struct(col("event_type").as("schema")).as("data")))

    val batchCounts = Router.tag(
      decorate(spark.read.parquet(s"$sf0001/events.parquet")), config)
      .groupBy(Router.TagCol).count().as[(String, Long)].collect().toMap

    val stream = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", s"$sf0001/events.parquet")
      .option("batchSize", "400")
      .load()

    var streamCounts = Map.empty[String, Long]
    val q = graft.streaming.StreamingRouter.foreachRoutedBatch(
      decorate(stream), config) { (routed, _) =>
      routed.tagged.groupBy(Router.TagCol).count()
        .as[(String, Long)].collect().foreach { case (k, v) =>
          streamCounts += k -> (streamCounts.getOrElse(k, 0L) + v)
        }
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    assert(streamCounts === batchCounts)
  }

  /** Footer of the one part file a `coalesce(1)` write left under `dir`. */
  private def footer(dir: String): ParquetMetadata = {
    val part = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getPath), new Configuration()))
    try reader.getFooter finally reader.close()
  }

  /** Every row of a `batchSize`-row replay of `path`, one Seq per micro-batch. */
  private def replayBatches(path: String, batchSize: Int): Vector[Seq[Row]] = {
    var batches = Vector.empty[Seq[Row]]
    val q = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", path)
      .option("batchSize", batchSize.toString)
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => batches :+= b.collect().toSeq }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    batches
  }

  test("batches crossing row-group seams replay exactly the batch read's rows") {
    val path = java.nio.file.Files.createTempDirectory("replay_groups").toString + "/t"
    spark.range(0, 3000).selectExpr("id", "concat('v', id) AS s")
      .coalesce(1).write.option("parquet.block.size", "4096").parquet(path)
    val groups = footer(path).getBlocks.asScala.map(_.getRowCount)
    assert(groups.size > 1, s"the fixture file needs several row groups: $groups")

    // 700-row batches, each split into up to 4 partitions of 175 rows: the
    // ranges start and end inside row groups
    val batches = replayBatches(path, 700)
    assert(batches.forall(_.size <= 700), s"batchSize respected: ${batches.map(_.size)}")
    assert(batches.flatten === spark.read.parquet(path).collect().toSeq,
      "the batches, in order, are the file's rows in file order")
  }

  test("nested, decimal, date and millis-timestamp columns replay as the batch read") {
    val path = java.nio.file.Files.createTempDirectory("replay_types").toString + "/t"
    val millis = spark.newSession()
    millis.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    millis.range(0, 50).selectExpr("id",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE array(CAST(id AS float), CAST(id / 4 AS float)) END AS emb",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE named_struct('a', id * 2, 's', concat('s', id)) END AS st",
      "CAST(id * 1.25 AS decimal(12,2)) AS price",
      "date_add(DATE'2024-01-01', CAST(id AS int)) AS d",
      "timestamp_millis(1700000000123 + id * 1001) AS ts")
      .coalesce(1).write.parquet(path)
    val fileSchema = footer(path).getFileMetaData.getSchema
    assert(fileSchema.getType(fileSchema.getFieldIndex("ts")).toString.contains("MILLIS"))

    val batch = spark.read.parquet(path)
    val streamed = replayBatches(path, 20)
    assert(streamed.size === 3)
    assert(streamed.flatten.sortBy(_.getLong(0)) === batch.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("replay leaves the context's Hadoop conf untouched") {
    def entries(): Map[String, String] =
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toMap
    // a schema no other case reads, so a write into the live conf shows
    val path = java.nio.file.Files.createTempDirectory("replay_conf").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("conf_probe_id", "conf_probe_s").write.parquet(path)
    val before = entries()
    assert(replayBatches(path, 1).map(_.size).sum === 2)
    assert(entries() === before)
  }
}
