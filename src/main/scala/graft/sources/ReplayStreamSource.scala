package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** DataSource V2 micro-batch source that REPLAYS a bounded parquet dataset
  * as a stream of fixed-size micro-batches — the test/backfill stand-in for
  * the production Kinesis source (SURVEY.md §2.1 S1: one Lambda invoke =
  * one batch ⇒ one trigger = one batch here). Any schema Spark's parquet
  * reader reads replays, nested types included:
  * {{{
  *   spark.readStream
  *     .format("graft.sources.ReplayStreamSource")
  *     .option("path", "/data/events.parquet")
  *     .option("batchSize", "250")
  *     .load()
  * }}}
  *
  * Semantics: offsets are row indices into a deterministic snapshot — the
  * parquet files under `path` sorted by name, rows in file order. Each
  * trigger advances by `batchSize` rows, so a bounded input produces
  * ⌈n/batchSize⌉ micro-batches and then idles. Offsets are replayable
  * (restart from checkpoint re-serves the same rows) — the at-least-once
  * contract of the reference. `numBatches` instead fixes the batch COUNT
  * (batch size ⌈n/numBatches⌉) whatever the input size.
  *
  * Scale shape: the driver reads ONLY parquet footers — file list, row
  * counts and each row group's first row, byte offset and compressed size.
  * `planInputPartitions` maps an offset range to per-file row ranges, each
  * carrying the byte range of the row groups it overlaps; on the executor,
  * Spark's own parquet reader decodes just those groups, and the partition
  * drops the rows before its range in the first one. Driver memory is
  * O(#row groups), not O(rows).
  */
class ReplayStreamSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SparkSession.active.read.parquet(options.get("path")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ReplayTable(properties.get("path"),
      Option(properties.get("batchSize")).map(_.toInt).getOrElse(1000),
      Option(properties.get("numBatches")).map(_.toInt), schema)
}

final class ReplayTable(path: String, batchSize: Int, numBatches: Option[Int],
                        tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"replay($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ReplayMicroBatchStream(path, batchSize, numBatches, tableSchema)
      }
    }
}

final case class ReplayOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

/** One row group of a file: file-local first row, byte offset, compressed size. */
private[sources] final case class ReplayGroup(firstRow: Long, pos: Long, bytes: Long)

/** One file of the snapshot: global offset of its first row, row count, row groups. */
private[sources] final case class ReplayFile(path: String, start: Long, rows: Long, groups: Array[ReplayGroup])

final class ReplayMicroBatchStream(path: String, batchSize: Int,
                                   numBatches: Option[Int], schema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Deterministic snapshot at stream start: parquet files sorted by name,
  // row counts and row groups from footers only — no data reaches the driver.
  private lazy val files: Array[ReplayFile] = {
    val conf = new Configuration()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val statuses =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.toString)
      else Array(fs.getFileStatus(root))
    var off = 0L
    statuses.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      val blocks = try reader.getFooter.getBlocks.asScala.toArray finally reader.close()
      val firstRows = blocks.scanLeft(0L)(_ + _.getRowCount)
      val f = ReplayFile(st.getPath.toString, off, firstRows.last, blocks.zip(firstRows).map {
        case (b, first) => ReplayGroup(first, b.getStartingPos, b.getCompressedSize) })
      off += f.rows
      f
    }
  }
  private lazy val totalRows: Long = files.map(_.rows).sum

  // `numBatches` overrides `batchSize` with ⌈total/numBatches⌉, holding the
  // micro-batch COUNT constant as the input grows — trigger overhead (offset
  // log writes, state commits, sink epochs) is per-batch, so a fixed-rows
  // batch size turns a 10× bigger replay into 10× the batches of pure
  // bookkeeping. Results are batching-invariant; only the drain cost isn't.
  private lazy val effectiveBatchRows: Long =
    numBatches.map(n => math.max(1L, (totalRows + n - 1) / n))
      .getOrElse(batchSize.toLong)

  override def initialOffset(): Offset = ReplayOffset(0L)

  // Admission control: each trigger admits at most `effectiveBatchRows`
  // rows; the AvailableNow wrapper then iterates triggers until
  // reportLatestOffset.
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(effectiveBatchRows)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ReplayOffset].rows
    val max = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => effectiveBatchRows
    }
    ReplayOffset(math.min(s + max, totalRows))
  }

  override def reportLatestOffset(): Offset = ReplayOffset(totalRows)
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "admission-control latestOffset(start, limit) is used")
  override def deserializeOffset(json: String): Offset = ReplayOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ReplayOffset].rows
    val hi = end.asInstanceOf[ReplayOffset].rows
    files.iterator.flatMap { f =>
      val s = math.max(lo, f.start)
      val e = math.min(hi, f.start + f.rows)
      if (s >= e) Iterator.empty
      else {
        // split a file range across tasks like a real partitioned source
        val take = e - s
        val nSplits = math.max(1L, math.min(4L, take))
        val chunk = math.max(1L, (take + nSplits - 1) / nSplits)
        (s until e by chunk).iterator.map { cs =>
          val (from, until) = (cs - f.start, math.min(cs + chunk, e) - f.start)
          // row groups g0..g1 hold [from, until): the last one starting at or
          // before `from` through the last one starting before `until`
          val g0 = f.groups(f.groups.lastIndexWhere(_.firstRow <= from))
          val g1 = f.groups(f.groups.lastIndexWhere(_.firstRow < until))
          ReplayInputPartition(f.path, g0.pos, g1.pos + g1.bytes - g0.pos,
            from - g0.firstRow, until - from): InputPartition
        }
      }
    }.toArray
  }

  // One Spark parquet reader per micro-batch on the stream's own session, so
  // its parquet and time-zone settings apply as in a batch scan. The builder
  // writes its schema keys into the conf it gets: a copy, never the live one.
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sparkContext.hadoopConfiguration))
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[ReplayInputPartition]
      new ReplayPartitionReader(read(PartitionedFile(InternalRow.empty,
        SparkPath.fromPathString(p.path), p.start, p.length)), p.skip, p.take)
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Byte range `start`/`length` of the overlapped row groups; rows `skip`/`take` from the first. */
final case class ReplayInputPartition(path: String, start: Long, length: Long,
                                      skip: Long, take: Long) extends InputPartition

/** Serves `take` rows of Spark's parquet reader after dropping `skip`. */
final class ReplayPartitionReader(rows: Iterator[InternalRow], skip: Long, take: Long)
    extends PartitionReader[InternalRow] {
  private var toSkip = skip
  private var left = take
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (toSkip > 0 && rows.hasNext) { rows.next(); toSkip -= 1 }
    if (left <= 0 || !rows.hasNext) false
    else { current = rows.next(); left -= 1; true }
  }

  override def get(): InternalRow = current
  override def close(): Unit =
    rows match { case c: java.io.Closeable => c.close(); case _ => () }
}
