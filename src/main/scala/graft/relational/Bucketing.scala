package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table storage — the PRE-SHUFFLED layout for repeated fact-fact
  * joins (SURVEY §2's "co-locate joins via bucketing"): both tables are
  * written `bucketBy(n, key).sortBy(key)`, so every future join on that key
  * reads co-located, pre-sorted buckets and plans a sort-merge join with
  * ZERO exchanges — the shuffle that dominates a 100 TB lineitem⋈orders is
  * paid ONCE at write time and amortized over every downstream join,
  * exactly the warehouse layout decision a daily-refreshed fact table
  * takes. The gated query's plan audit is the proof: shuf on the join
  * input side drops to zero (the only remaining exchange is the final
  * aggregation's).
  *
  * Harness shape: tables land in the session catalog's warehouse dir
  * (in-memory catalog + parquet files — no Hive dependency); one write per
  * (session, table, source dir) via a memo, the [[Stages.materialize]]
  * discipline applied to catalog tables.
  */
object Bucketing {

  private val written = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  // a key is `<context identity hash>:<table>`; the hash is charged at its
  // widest (10 digits), so two runs of one commit charge the same bytes
  graft.MemoLedger.register("bucketing.written", planKeyed = false) { () =>
    import scala.jdk.CollectionConverters._
    (written.size.toLong,
      written.asScala.map(k => 2L * (10 + k.length - k.indexOf(':'))).sum)
  }

  /** The tag-qualified physical table name: distinct source dirs get
    * DISTINCT tables, so a session that touches two scale factors can
    * never read one dir's data under the other's name (the memo alone
    * would skip the re-write and serve stale rows).
    */
  def tableFor(base: String, tag: String): String =
    base + "_" + java.lang.Integer.toHexString(tag.hashCode)

  /** Write `df` as a bucketed+sorted catalog table once per
    * (context, table, tag); later calls are free. Overwrites on first call
    * per context so stale files from a previous JVM never leak in.
    * Returns the tag-qualified table name to read.
    */
  def ensureBucketed(df: DataFrame, baseTable: String, tag: String,
                     key: String, buckets: Int): String = {
    val table = tableFor(baseTable, tag)
    // memo at the CONTEXT level: managed tables live in the SharedState
    // catalog, which session clones share — a per-session key would
    // re-write on every clone
    val memoKey =
      s"${System.identityHashCode(df.sparkSession.sparkContext)}:$table"
    if (written.add(memoKey)) {
      val spark = df.sparkSession
      // a previous JVM's files may survive in the warehouse dir while this
      // JVM's in-memory catalog has no such table — overwrite can't see
      // them (LOCATION_ALREADY_EXISTS), so drop both table and location
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table)
    }
    table
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
