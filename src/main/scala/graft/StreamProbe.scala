package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time stream_* rows in isolation under the bench session shape,
  * repeated, so the per-row fixed constants (query startup, per-trigger
  * incremental planning, state-store commits, sink drain) can be attributed
  * and tuned. Args: [substring filter] [reps], or `phases <query> [reps]`,
  * `jobs <query> [reps]`, `micro`. Env knobs mirror Bench.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val filter = args.headOption.getOrElse("stream_")
    // lazy: in "jobs" mode args(1) is a query name, not a rep count
    def reps = args.lift(1).map(_.toInt).getOrElse(2)
    if ((filter == "phases" || filter == "jobs") && args.length < 2) {
      System.err.println(s"usage: runMain graft.StreamProbe $filter <query> [reps]")
      return
    }
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (filter == "micro") { micro(spark, sfDir); spark.stop(); return }
    // "phases <query> [reps]": per-trigger durationMs + state-operator
    // decomposition via the StreamCapture progress hook (r16, VERDICT #4 —
    // measure join-state commits vs sink epochs vs trigger count before
    // touching a streaming row).
    if (filter == "phases") {
      val name = args(1)
      val preps = args.lift(2).map(_.toInt).getOrElse(2)
      graft.streaming.StreamCapture.enable()
      for (r <- 1 to preps) {
        graft.streaming.StreamCapture.reset()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        val ps = graft.streaming.StreamCapture.progressSnapshot
        println(f"[phases] r$r $name%-30s wall=$wall%6.2f s triggers=${ps.size}")
        ps.foreach { p =>
          val d = p.durationMs
          def ms(k: String): Long =
            Option(d.get(k)).map(_.longValue()).getOrElse(-1L)
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
      spark.stop(); return
    }
    // "jobs <query> [reps]": count Spark jobs per full query invocation —
    // the artifact for jobs-per-trigger claims (r15 verdict: dump the
    // 3-jobs→1-job measurement as a file, not a source-reading argument).
    if (filter == "jobs") {
      val name = args(1)
      val jreps = args.lift(2).map(_.toInt).getOrElse(2)
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      })
      for (r <- 1 to jreps) {
        counter.set(0)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        Thread.sleep(1000) // listener bus is async; let it drain
        println(f"[jobs] r$r $name%-34s totalJobs=${counter.get}%-4d " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      spark.stop(); return
    }
    val names = SparkEntry.queries.keys.filter(_.contains(filter)).toSeq.sorted
    for (r <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      println(f"[probe] r$r $n%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    spark.stop()
  }

  /** Factor the per-row constant: stateless pass-through vs stateful agg,
    * by trigger count and state-store (shuffle) partition count.
    */
  private def micro(s: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    def run(tag: String, nb: Int, parts: Int, stateful: Boolean): Unit = {
      val t0 = System.nanoTime()
      val ss = graft.queries.Dsl.streamSession(s, parts)
      val stream = ss.readStream
        .format(classOf[graft.sources.ReplayStreamSource].getName)
        .option("path", s"$sfDir/events.parquet")
        .option("numBatches", nb.toString)
        .load()
      val evs = graft.queries.Dsl.normalizeTs(stream)
      val frame =
        if (stateful)
          evs.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        else evs.select(col("event_type"))
      val name = "probe_" + java.lang.Long.toHexString(System.nanoTime())
      val q = frame.writeStream.format("memory").queryName(name)
        .outputMode(if (stateful) OutputMode.Complete() else OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = ss.sql(s"SELECT COUNT(*) FROM $name").collect()(0).getLong(0)
      println(f"[micro] $tag%-28s nb=$nb%-2d parts=$parts%-3d stateful=$stateful%-5s " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s (rows=$n)")
    }
    for (r <- 1 to 2) {
      run(s"r$r stateless", 4, 8, stateful = false)
      run(s"r$r stateless", 1, 8, stateful = false)
      run(s"r$r stateful", 4, 8, stateful = true)
      run(s"r$r stateful", 2, 8, stateful = true)
      run(s"r$r stateful", 1, 8, stateful = true)
      run(s"r$r stateful", 4, 2, stateful = true)
      run(s"r$r stateful", 4, 32, stateful = true)
    }
  }
}
