package graft

import org.apache.spark.sql.SparkSession

/** Recommended session wiring for this engine: UTC (oracle parity),
  * right-sized shuffle partitions for the local harness, nanos-parquet
  * compatibility for the events table, and [[graft.functions.GraftExtensions]]
  * (the SQL names `vec_dot`/`vec_cosine`/`md5_bits60` and the fold-fusion
  * optimizer rule; `newSession()` clones inherit them). The DataFrame API
  * needs none of it and works on any session. Extensions apply only when
  * `getOrCreate` builds a new session: called while a session is already
  * active, it returns that session with its own extensions.
  *
  * Generated-code cache: Spark keeps the classes Janino compiled for
  * whole-stage and expression codegen in one JVM-wide LRU of
  * `spark.sql.codegen.cache.maxEntries` entries (default 100). Bench's
  * warm-up and one pass of the 370 declared queries at sf0.01 compile
  * about 4.1k distinct classes, so at the default every pass evicts what
  * the previous one compiled: Bench's second pass recompiled 5,132 classes
  * (77% of the first pass's 6,687), and `Probe time` showed
  * `blocking_quality_audit` recompiling ~46 classes on every warm rep. The
  * builder sizes the cache at 8192, about twice that working set; with it
  * the second pass compiles only the ~500 classes whose generated code
  * differs from run to run, and metaspace after two passes is 245 MB
  * against 237 MB. It is a static conf that `CodeGenerator` reads once,
  * when it first initializes, so it is set here and not at runtime.
  * SCALE.md "Generated-code cache" has the measurements.
  */
object GraftSession {

  def builder(master: String = "local[4]",
              shufflePartitions: Int = 4): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .withExtensions(new graft.functions.GraftExtensions)

  /** Build (or get) the session and quiet its logs to WARN. */
  def create(master: String = "local[4]", shufflePartitions: Int = 4): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
