package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graftbridge.GraftBridge
import graft.streaming.StreamCapture

/** Dev probe over the declared queries (not part of the driver contract),
  * run under Bench's session shape.
  *
  * Usage: runMain graft.Probe <time|plan|phases> <query|substring>... [reps]
  *  - `time`: wall seconds, Spark job count and generated classes compiled
  *    per query and rep, with the input tables cached as Bench caches them;
  *  - `plan`: execute once, write the formatted final plan to
  *    `$SPARK_GRAFT_PLAN_DIR/<name>$SPARK_GRAFT_PLAN_SUFFIX.txt` and print
  *    the exchange-reuse stats of that final plan's [[PlanAudit.nodes]];
  *  - `phases`: per-trigger phase durations and state-operator totals of
  *    every streaming query the declared query drains.
  * An exact query name selects itself; any other argument selects every
  * name containing it. A trailing number is the rep count (default 2).
  * Env: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS (default 4).
  */
object Probe {

  final class UsageError(msg: String) extends IllegalArgumentException(msg)
  final case class Args(mode: String, names: Seq[String], reps: Int)

  val Usage = "usage: runMain graft.Probe <time|plan|phases> <query|substring>... [reps]"
  private def usage(why: String): Nothing = throw new UsageError(s"$why\n$Usage")
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def parse(args: Seq[String]): Args = {
    val mode = args.headOption.getOrElse(usage("no mode given"))
    if (!Set("time", "plan", "phases")(mode)) usage(s"unknown mode: $mode")
    val (patterns, reps) = args.tail.lastOption match {
      case Some(r) if r.matches("[-+]?[0-9.]+") =>
        if (mode == "plan") usage(s"plan takes no reps, got: $r")
        (args.tail.init, r.toIntOption.filter(_ > 0)
          .getOrElse(usage(s"reps must be a positive integer, got: $r")))
      case _ => (args.tail, 2)
    }
    if (patterns.isEmpty) usage(s"$mode needs at least one query name or substring")
    Args(mode, select(patterns), reps)
  }

  /** An exact name selects itself; otherwise every name containing it. */
  def select(patterns: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    patterns.flatMap { p =>
      if (all.contains(p)) Seq(p)
      else all.filter(_.contains(p)) match {
        case Seq() => usage(s"no declared query matches: $p; valid names:\n  " +
          all.mkString("\n  "))
        case hits => hits
      }
    }.distinct
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Unit = {
    val queries = SparkEntry.queries
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(counter)
    try for (r <- 1 to reps; n <- names) {
      GraftBridge.drainListeners(spark)
      jobs.set(0)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      queries(n)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(spark)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      println(f"[time] r$r $n%-34s $sec%7.2f s  jobs=${jobs.get}  compiles=$compiles")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
           outDir: String, suffix: String): Unit = {
    val queries = SparkEntry.queries
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val qe = queries(n)(spark, sfDir).queryExecution
      qe.executedPlan.execute().count()
      val out = Paths.get(outDir, s"$n$suffix.txt")
      Files.write(out, qe.explainString(ExplainMode.fromString("formatted"))
        .getBytes(StandardCharsets.UTF_8))
      val fin = PlanAudit.nodes(qe.executedPlan)
      val stageIds = fin.collect { case s: ShuffleQueryStageExec => s.id }
      val parquetScans = fin.collect { case f: FileSourceScanExec => f.relation.fileFormat }
        .count(_.isInstanceOf[ParquetFileFormat])
      println(s"[reuse] $n stages=${stageIds.distinct.size} " +
        s"dupStageRefs=${stageIds.size - stageIds.distinct.size} " +
        s"reusedExchange=${fin.count(_.isInstanceOf[ReusedExchangeExec])} " +
        s"parquetScans=$parquetScans plan=$out")
    }
  }

  def phases(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Unit = {
    val queries = SparkEntry.queries
    StreamCapture.enable()
    for (r <- 1 to reps; n <- names) {
      StreamCapture.reset()
      val t0 = System.nanoTime()
      queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // each query's own progress buffer, filled on its stream thread
      // before the drain returned; Spark keeps only the newest entries
      val ps = StreamCapture.snapshot._2.flatMap { q =>
        val buf = q.recentProgress
        val cap = q.sparkSession.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt
        if (buf.length >= cap) log.warn(s"Probe phases: $n query ${q.id} filled its " +
          s"$cap-entry progress buffer; earlier triggers are not shown")
        buf
      }
      println(f"[phases] r$r $n%-30s wall=$wall%6.2f s triggers=${ps.size}")
      ps.foreach { p =>
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(-1L)
        val st = p.stateOperators
        println(f"[phases]   batch=${p.batchId}%-3d rows=${p.numInputRows}%-7d " +
          f"trigger=${ms("triggerExecution")}%-6d addBatch=${ms("addBatch")}%-6d " +
          f"getBatch=${ms("getBatch")}%-5d plan=${ms("queryPlanning")}%-5d " +
          f"wal=${ms("walCommit")}%-4d commitOff=${ms("commitOffsets")}%-4d " +
          f"stateRows=${st.map(_.numRowsTotal).sum}%-7d " +
          f"stateCommitMs=${st.map(_.commitTimeMs).sum}%-5d " +
          f"stateUpdMs=${st.map(_.allUpdatesTimeMs).sum}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    val a = try {
      if (sfDir.isEmpty) usage("SPARK_GRAFT_SF_DIR is not set")
      parse(args.toSeq)
    } catch { case e: UsageError => System.err.println(e.getMessage); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val builder = GraftSession.builder(s"local[$cpus]", cpus)
    // full Location/PushedFilters detail in the human-readable plan dump
    // (the default 100 characters truncates scan metadata mid-path)
    if (a.mode == "plan") builder.config("spark.sql.maxMetadataStringLength", "8192")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try a.mode match {
      case "time" => Bench.warmTables(spark, sfDir.get); time(spark, sfDir.get, a.names, a.reps)
      case "plan" => plan(spark, sfDir.get, a.names,
        sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans"),
        sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", ""))
      case "phases" => phases(spark, sfDir.get, a.names, a.reps)
    } finally spark.stop()
  }
}
