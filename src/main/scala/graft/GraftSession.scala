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
      .withExtensions(new graft.functions.GraftExtensions)

  /** Build (or get) the session and quiet its logs to WARN. */
  def create(master: String = "local[4]", shufflePartitions: Int = 4): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
