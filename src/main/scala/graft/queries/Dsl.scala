package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared engine query: the Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver hash-compares
  * against at sf0.01. Queries without oracle SQL get the weaker rows-only
  * check and carry their own ScalaTest property coverage instead.
  */
final case class DeclaredQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Shared helpers enforcing the oracle-determinism rules (the oracle side
  * builds its DuckDB text from the [[OracleSql]] fragments):
  *  - money doubles in the test tables are exactly 2-decimal, so casting the
  *    RAW column to DECIMAL(12,2) is unambiguous in both engines; all
  *    arithmetic then stays in exact decimal, and only the final aggregate is
  *    cast back to double (exact int128 → correctly-rounded double in both).
  *    Never cast a COMPUTED double to decimal — that rounding is
  *    engine-dependent at the ulp level.
  *  - integer-valued doubles (quantities) sum exactly in double: order-free.
  *  - ratios are exact-integer counts divided in double: IEEE-identical.
  *  - QUANTIZATION pattern (centroids, SQ8, PQ, k-means): map each float to
  *    an integer-valued double — floor(x·10⁶) or floor(x/maxabs·127) — so
  *    every downstream sum is exact (partition-order-independent) and each
  *    remaining division/multiply is a single IEEE op written with IDENTICAL
  *    parenthesization in the oracle SQL. This is how otherwise
  *    order-dependent float pipelines (means, trained clustering, quantized
  *    dot products) become hash-exact across engines.
  *  - every query ends in a full ORDER BY; every Spark integer output is cast
  *    to long to match DuckDB's BIGINT defaults.
  */
object Dsl {
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Normalized view of the events table: `ts` as µs TimestampType whatever
    * the generator wrote. Earlier driver fixtures carried TIMESTAMP(NANOS)
    * parquet, which Spark only reads as a long
    * (spark.sql.legacy.parquet.nanosAsLong — set in every session built by
    * this library); current fixtures write µs with isAdjustedToUTC=false,
    * which Spark reads as TIMESTAMP_NTZ. Both forms convert here — the NTZ
    * cast is value-preserving because every library session pins the session
    * time zone to UTC (and DuckDB reads the same file as a naive timestamp,
    * so oracle comparisons see identical values). All oracle-compared
    * outputs derived from `ts` are at ≥second granularity, so the ns→µs
    * truncation on legacy fixtures is invisible to the comparison.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(tbl(s, dir, "events"))

  /** Session CLONE for bounded micro-batch drains, with state-store-sized
    * shuffle partitioning. Stateful streaming operators create one state
    * store per shuffle partition and commit EVERY store on EVERY trigger —
    * at the harness's batch-tuned setting (32) a bounded AvailableNow
    * replay pays 32 store snapshot/commits per micro-batch for a few
    * thousand rows, which measured as the dominant cost of every stream_*
    * bench row (~2-4 s of pure per-trigger constants). A clone via
    * `newSession()` shares the SparkContext but carries its own SQLConf,
    * so the caller's session is NOT mutated (the house rule); 4 stores is
    * right-sized for replay volumes while keeping multi-core trigger
    * parallelism (measured r9: store commits cost ~21 ms/partition/trigger,
    * so 8→4 shaves ~0.3 s/row of pure constant with no result change —
    * partition count never affects keyed-aggregation answers). Production
    * streams size this to sustained per-trigger volume, not to the batch
    * shuffle setting.
    */
  def streamSession(s: SparkSession, parts: Int = 4): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // the clone's StreamingQueryManager is its own — PlanAudit's
    // per-trigger scan gate can only see this session's queries if the
    // capture hook rides the clone factory (no-op outside an audit run)
    if (graft.streaming.StreamCapture.enabled)
      graft.streaming.StreamCapture.attach(ss)
    ss
  }

  /** Bounded replay of `$dir/$table.parquet` on a [[streamSession]] clone,
    * cut into `numBatches` micro-batches whatever the scale factor: the one
    * reader every declared stream query opens. `ts` is left raw; callers
    * that window on it wrap the stream in [[normalizeTs]].
    */
  def replay(s: SparkSession, dir: String, table: String, numBatches: Int): DataFrame =
    streamSession(s).readStream
      .format("graft.sources.ReplayStreamSource")
      .option("path", s"$dir/$table.parquet")
      .option("numBatches", numBatches.toString)
      .load()

  /** The ONE k=3 IVF kNN edge frame every graph query consumes — PageRank,
    * triangle census, k-core peeling, LPA communities. Built via
    * `Similarity.ivfTopK` (equi-keyed cell join, no O(n²) stage) and landed
    * once per session through `Stages.materialize`: the memo key is the
    * canonicalized plan, so four queries calling this helper share ONE
    * index build + candidate join, and each graph kernel starts from a
    * compact parquet scan of the (qid, cid) edges — the shape a warehouse
    * pipeline has (an `edges` stage table written once per snapshot, read
    * by every downstream graph job), and 4× less work than the per-query
    * rebuild it replaces.
    */
  def knnEdges(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    graft.relational.Stages.materialize(
      graft.vector.Similarity.ivfTopK(
        emb, "vec_id", emb, "vec_id", "embedding", k = 3,
        nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"), nprobe = 4),
      "knn_edges")
  }

  /** Symmetrized-distinct view of [[knnEdges]] (a < b canonical order) —
    * the undirected graph the triangle/k-core/LPA kernels run on. Also
    * landed (its input is the landed edge scan, so the distinct runs over
    * parquet, and its own memo entry makes the three consumers share one
    * dedup pass).
    */
  def knnUndirected(s: SparkSession, dir: String): DataFrame =
    graft.relational.Stages.materialize(
      knnEdges(s, dir).select(
        least(col("qid"), col("cid")).as("a"),
        greatest(col("qid"), col("cid")).as("b")).distinct(),
      "knn_und")

  /** The `ts`-normalization above for ANY frame carrying a raw fixture `ts`
    * (the streaming replay source reads the same parquet footers, so its
    * frames need the identical conversion).
    */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Exact decimal view of a raw 2-decimal money column. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Aggregate a decimal expression exactly, emit as double. */
  def dsum(c: Column): Column = sum(c).cast("double")

  /** lineitem revenue in exact decimal: price * (1 - discount). */
  def revenue(price: Column, discount: Column): Column =
    dec2(price) * (lit(1) - dec2(discount))

  def ts(literal: String): Column = lit(java.sql.Timestamp.valueOf(literal))
}
