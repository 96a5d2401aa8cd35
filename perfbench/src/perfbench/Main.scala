package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger => SparkTrigger}
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.routing._
import graft.streaming.StreamingRouter

/** One benchmark run of one workload in a fresh JVM: set up, measure in a
  * closed loop (one request at a time, the next sent when the previous
  * finished) for the given number of seconds, check every output, and
  * write the metrics as JSON for `perfbench/run.py`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cpus>
  * <tables dir> <generated dir> <generation seconds> <work dir>
  * <result.json> <spans.jsonl>`
  */
object Main {

  /** Rows per replayed micro-batch. */
  val StreamBatchRows = 15000
  /** Each run makes a cold pass and at least one warm pass. */
  val MinPasses = 2
  /** Times the registry is compiled in set-up; the median counts. */
  val SetupRepeats = 3

  /** The query_mix rows: one per engine module. */
  val QueryMix: Seq[String] = Seq(
    "q1_pricing_summary",      // relational
    "asof_native_click",       // plans
    "blocking_quality_audit",  // dedup, with landed-stage builds
    "cosine_topk",             // vector
    "seq_pack_chunks",         // text
    "image_phash_neardup")     // multimodal

  val Workloads = Seq("route_batch", "query_mix")

  val PayloadType: StructType = Envelope.payloadSchema(Seq(
    StructField("k", LongType), StructField("tag", StringType),
    StructField("value", DoubleType), StructField("attrs", StringType)))

  /** Reads the generator's counts; writes the result and span files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cpus: Int, data: String, gen: String,
                        genS: Double, work: String, out: String, spansOut: String)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4).toInt, argv(5), argv(6), argv(7).toDouble, argv(8), argv(9), argv(10))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = graft.GraftSession.create(s"local[${a.cpus}]", a.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(a.trace, spark, s"${a.workload}/${a.seed}")
    val run = new Run(spark, tracer, a)
    run.layer("session.start_s") = (tracer.now() - jvmStart) / 1000
    run.layer("session.input_gen_s") = a.genS
    try {
      tracer.span(s"workload ${a.workload}", "workload") {
        a.workload match {
          case "route_batch" => routeBatch(run)
          case "query_mix" => queryMix(run)
        }
      }
      tracer.stop()
      run.finish()
    } finally spark.stop()
  }

  /** State and results of one run. Every operation is counted as attempted;
    * one that throws or fails a check is counted once as failed.
    */
  final class Run(val spark: SparkSession, val tracer: Tracer, val a: Args) {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.LinkedHashMap.empty[String, String]
    val report = mutable.ArrayBuffer.empty[(String, String)]
    val oracle = mutable.ArrayBuffer.empty[Map[String, String]]
    var attempted = 0L
    /** Milliseconds spent in operations since the last reset; a pass's
      * time, which leaves out the checks made between operations.
      */
    var opMs = 0.0
    private var current = ""

    /** Run one operation as a request span; None when it threw. */
    def op[T](name: String, kind: String = "request")(f: => T): Option[(T, Double)] = {
      attempted += 1
      current = s"$name#$attempted"
      val t0 = tracer.now()
      try Some(tracer.span(name, kind)(f))
      catch { case e: Throwable => failures.getOrElseUpdate(current, e.toString); None }
      finally opMs += tracer.now() - t0
    }

    /** Id of the operation run last, for checks made after it. */
    def lastOp: String = current

    def expect(opId: String, ok: Boolean, detail: => String): Unit =
      if (!ok) failures.getOrElseUpdate(opId, detail)

    def dir(name: String): String = {
      val d = new File(a.work, name)
      d.mkdirs()
      d.getAbsolutePath
    }

    def finish(): Unit = {
      Seq("session.start_s", "session.input_gen_s").foreach { k =>
        report += k -> f"${layer.getOrElse(k, 0.0)}%.3f"
      }
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
      layer("session.heap_peak_mb") = heapPeak / 1048576.0
      if (a.trace) sparkLayer()
      val conf = spark.sparkContext.getConf
      val pins = mutable.LinkedHashMap[String, Any](
        "nproc" -> a.cpus,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java_io_tmpdir" -> System.getProperty("java.io.tmpdir"),
        "spark_local_dir" -> conf.get("spark.local.dir", ""),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "seed" -> a.seed)
      json.writeValue(new File(a.out), mutable.LinkedHashMap[String, Any](
        "e2e" -> e2e, "layer" -> layer, "attempted" -> attempted,
        "failures" -> failures, "oracle" -> oracle, "pins" -> pins,
        "report" -> report.map { case (k, v) => Seq(k, v) }))
      if (a.trace) {
        val spans = tracer.allSpans()
        val self = Tracer.selfMs(spans)
        Files.write(Paths.get(a.spansOut),
          spans.map(s => json.writeValueAsString(Tracer.record(s, self(s.id)))).asJava,
          StandardCharsets.UTF_8)
      }
    }

    /** spark.* metrics over the jobs of the measured phase. */
    private def sparkLayer(): Unit = {
      val measure = tracer.spans.find(_.name == "measure").map(_.id).getOrElse(-1L)
      val js = tracer.jobsUnder(measure)
      def sum(f: JobRec => Double) = js.map(f).sum
      layer("spark.jobs") = js.size
      layer("spark.stages") = sum(_.stages)
      layer("spark.tasks") = sum(_.tasks)
      layer("spark.executor_run_ms") = sum(_.runMs)
      layer("spark.executor_cpu_ms") = sum(_.cpuNs / 1e6)
      layer("spark.gc_ms") = sum(_.gcMs)
      layer("spark.task_overhead_ms") = sum(j => j.durMs - j.runMs)
      layer("spark.shuffle_write_bytes") = sum(_.shuffleW)
      layer("spark.shuffle_read_bytes") = sum(_.shuffleR)
      layer("spark.spill_bytes") = sum(_.spill)
      layer("spark.task_skew") = median(js.filter(_.taskMs.size >= 2).map { j =>
        val t = j.taskMs.map(_.toDouble).sorted
        t.last / math.max(1.0, median(t.toSeq))
      })
      val requests = tracer.spans.filter(_.kind == "request")
      layer("spark.driver_self_ms") = requests.map { r =>
        r.ms - Tracer.covered(r.start, r.end,
          tracer.jobsUnder(r.id).map(j => (j.start, if (j.end.isNaN) j.start else j.end)))
      }.sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Closed loop: run `pass(i)` until `seconds` have passed and at least
    * [[MinPasses]] passes ran; returns the seconds each pass spent in its
    * operations.
    */
  def passes(run: Run)(pass: Int => Unit): Seq[Double] = {
    val t0 = run.tracer.now()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < MinPasses ||
        run.tracer.now() - t0 < run.a.seconds * 1000) {
      val i = out.size
      run.opMs = 0.0
      run.tracer.span(s"pass $i", "pass")(pass(i))
      out += run.opMs / 1000
    }
    out.toSeq
  }

  // ---------------------------------------------------------------- routing

  def compileRegistry(dir: String): Router.Config = {
    val docs = new File(dir, "registry").listFiles()
      .filter(f => f.getName.startsWith("s")).sortBy(_.getName)
    val registry = docs.map { f =>
      val c = Draft4Schema.compile(Files.readString(f.toPath), Some("attrs"))
      c.id -> Router.Registration(c.registeredSchema, identity[DataFrame])
    }.toMap
    val env = Draft4Schema.compile(
      Files.readString(Paths.get(dir, "registry", "envelope.json")))
    Router.Config(env.id, env.registeredSchema, registry)
  }

  /** The Kinesis record struct the codec reads, from the flat wire columns. */
  def kinesis: org.apache.spark.sql.Column = struct(
    col("data"), col("partitionKey"), col("sequenceNumber"),
    col("approximateArrivalTimestamp"),
    lit("1.0").as("kinesisSchemaVersion")).as("kinesis")

  /** What the generator injected: records per (tag, reason), the reason
    * of each verdict name, and the records per (tag, reason) of the file
    * the streaming replay reads.
    */
  final case class Expected(byTag: Map[(String, String), Long],
                            verdictReasons: Seq[(String, String)],
                            replayFile: String,
                            replayByTag: Map[(String, String), Long])

  def expected(dir: String): Expected = {
    val root = json.readTree(new File(dir, "expected_counts.json"))
    def text(n: JsonNode) = if (n.isNull) null else n.asText
    def byTag(key: String) = root.get(key).elements().asScala.map { e =>
      (e.get("tag").asText, text(e.get("reason"))) -> e.get("n").asLong
    }.toMap
    Expected(byTag("by_tag"),
      root.get("verdict_reasons").properties().asScala.toSeq
        .map(e => e.getKey -> text(e.getValue)),
      new File(new File(dir, "wire"), root.get("replay_file").asText).getPath,
      byTag("replay_by_tag"))
  }

  def tagCounts(df: DataFrame): Map[(String, String), Long] =
    df.groupBy(Router.TagCol, Router.ReasonCol).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  def diff(want: Map[(String, String), Long], got: Map[(String, String), Long]): String =
    (want.keySet ++ got.keySet).toSeq.sortBy(_.toString)
      .filter(k => want.get(k) != got.get(k)).take(5)
      .map(k => s"$k want ${want.getOrElse(k, 0L)} got ${got.getOrElse(k, 0L)}")
      .mkString("; ")

  def setVerdictLayer(run: Run, exp: Expected, counts: Map[(String, String), Long]): Unit =
    exp.verdictReasons.foreach { case (v, reason) =>
      run.layer(s"routing.verdicts.$v") =
        counts.collect { case ((_, r), n) if r == reason => n }.sum.toDouble
    }

  /** route_batch: each pass routes all records in parallel mode (decode,
    * tag, partitioned parquet sink) and in ordered mode, then replays the
    * first wire file through the streaming skin (the routed parquet drain
    * and a watermarked windowed count). The batch is large enough that
    * per-record work, not the planning of the routing expression, takes
    * most of a routing request. There is no separate warm-up: the first
    * pass is what a fresh handler pays on its first batches.
    */
  def routeBatch(run: Run): Unit = {
    val spark = run.spark
    val dir = run.a.gen
    val compiles = (0 until SetupRepeats).map { _ =>
      run.tracer.span("compile registry", "phase")(compileRegistry(dir))
    }
    val config = compiles.head._1
    run.layer("routing.registry_compile_ms") = median(compiles.map(_._2))
    val exp = expected(dir)
    val n = exp.byTag.values.sum
    val replayFile = exp.replayFile
    val expReplay = exp.replayByTag
    val nReplay = expReplay.values.sum
    val wire = spark.read.parquet(s"$dir/wire").select(kinesis)
    val sink = run.dir("sink")
    val parallelS, orderedS, drainS = mutable.ArrayBuffer.empty[Double]
    val stages = mutable.ArrayBuffer.empty[StageTimes]
    val drainTriggers, windowTriggers = mutable.ArrayBuffer.empty[Trigger]
    var lastCounts = Map.empty[(String, String), Long]
    var streamSink = ""
    val passS = run.tracer.span("measure", "phase") {
      passes(run) { p =>
        val warm = p > 0
        run.op("route parallel") {
          Router.writeRouted(EventCodec.withDecodedEvent(wire, PayloadType), config, sink)
        }.foreach { case (_, ms) =>
          if (warm) parallelS += ms / 1000
          if (warm && run.a.trace) stages += routingStages(run, wire, config, ms / 1000)
          val got = tagCounts(spark.read.parquet(sink))
          lastCounts = got
          run.expect(run.lastOp, got == exp.byTag, s"sink verdicts: ${diff(exp.byTag, got)}")
        }
        run.op("route ordered")(orderedRoute(wire, config)).foreach {
          case ((got, backwards), ms) =>
            if (warm) orderedS += ms / 1000
            run.expect(run.lastOp, got == exp.byTag,
              s"ordered verdicts: ${diff(exp.byTag, got)}")
            run.expect(run.lastOp, backwards == 0,
              s"$backwards sequence numbers went backwards within a key")
        }
        val mark = run.tracer.triggers.size
        run.op("stream drain")(drain(run, replayFile, config, s"p$p")).foreach {
          case (out, ms) =>
            if (warm) drainS += ms / 1000
            streamSink = out
            val got = tagCounts(spark.read.parquet(out))
            run.expect(run.lastOp, got == expReplay, s"stream sink verdicts: ${diff(expReplay, got)}")
        }
        run.tracer.drain()
        if (warm) drainTriggers ++= run.tracer.triggersSince(mark)
        val mark2 = run.tracer.triggers.size
        run.op("stream windowed")(windowed(run, replayFile, s"p$p")).foreach { case (total, _) =>
          run.expect(run.lastOp, total == nReplay, s"windowed total $total, replayed $nReplay")
        }
        run.tracer.drain()
        if (warm) windowTriggers ++= run.tracer.triggersSince(mark2)
      }
    }._1
    def ms(ts: Seq[Trigger], k: String) = ts.map(_.durations.getOrElse(k, 0L).toDouble)
    val dataDrain = drainTriggers.toSeq.filter(_.rows > 0)
    val all = (drainTriggers ++ windowTriggers).toSeq
    val parallel = median(parallelS.toSeq)
    val ordered = median(orderedS.toSeq)
    run.e2e("setup_s") = run.layer("session.start_s") + run.layer("routing.registry_compile_ms") / 1000
    run.e2e("throughput_per_s") = n / parallel
    run.e2e("cold_s") = passS.head
    run.e2e("warm_s") = median(passS.tail)
    run.report += "records per batch pass" -> n.toString
    run.report += "records per stream replay" -> nReplay.toString
    if (run.a.trace)
      run.report += "drain triggers in warm passes (latency samples)" -> dataDrain.size.toString
    run.layer("route.records_per_s") = n / parallel
    run.layer("route.ordered_records_per_s") = n / ordered
    run.layer("stream.records_per_s") = nReplay / median(drainS.toSeq)
    run.layer("stream.trigger_ms_p50") = median(ms(dataDrain, "triggerExecution"))
    run.layer("stream.trigger_ms_p90") = quantile(ms(dataDrain, "triggerExecution"), 0.9)
    setVerdictLayer(run, exp, lastCounts)
    run.layer("routing.ordered_ns_per_rec") = ordered * 1e9 / n
    run.layer("routing.sink_bytes_per_rec") = dirBytes(sink).toDouble / n
    if (run.a.trace) {
      def perRec(f: StageTimes => Double) = median(stages.toSeq.map(f)) * 1e9 / n
      run.layer("routing.plan_ms") = median(stages.toSeq.map(_.planS)) * 1000
      run.layer("routing.decode_ns_per_rec") = perRec(t => t.decode - t.scan)
      run.layer("routing.tag_ns_per_rec") = perRec(t => t.tag - t.decode)
      run.layer("routing.sink_ns_per_rec") = perRec(t => t.sink - t.tag)
    }
    run.layer("streaming.triggers") = all.size
    run.layer("streaming.rows_per_trigger") = all.map(_.rows.toDouble).sum / math.max(1, all.size)
    run.layer("sources.latest_offset_ms") = median(ms(all, "latestOffset"))
    run.layer("sources.get_batch_ms") = median(ms(all, "getBatch"))
    run.layer("streaming.planning_ms") = median(ms(all, "queryPlanning"))
    run.layer("streaming.add_batch_ms") = median(ms(all, "addBatch"))
    run.layer("streaming.wal_commit_ms") = median(ms(all, "walCommit"))
    run.layer("streaming.commit_offsets_ms") = median(ms(all, "commitOffsets"))
    run.layer("streaming.useful_frac") =
      ms(all, "addBatch").sum / math.max(1.0, ms(all, "triggerExecution").sum)
    run.layer("streaming.state_rows") = windowTriggers.map(_.stateRows.toDouble).maxOption.getOrElse(0.0)
    run.layer("streaming.state_bytes") = windowTriggers.map(_.stateBytes.toDouble).maxOption.getOrElse(0.0)
    run.layer("streaming.state_commit_ms") = median(windowTriggers.toSeq.map(_.stateCommitMs.toDouble))
    run.layer("streaming.state_update_ms") = median(windowTriggers.toSeq.map(_.stateUpdateMs.toDouble))
    run.layer("streaming.sink_files") = dirFiles(streamSink).size
    run.layer("streaming.sink_bytes") = dirBytes(streamSink).toDouble
  }

  /** Ordered mode: route, then hand each partition-key's records to a
    * sequential handler in sequence-number order. Returns the records per
    * (tag, reason) and how many sequence numbers went backwards in a key.
    */
  def orderedRoute(wire: DataFrame, config: Router.Config): (Map[(String, String), Long], Long) = {
    val tagged = Router.tag(EventCodec.withDecodedEvent(wire, PayloadType), config)
      .select(col("kinesis.partitionKey").as("pk"), col("kinesis.sequenceNumber").as("seq"),
        col(Router.TagCol), col(Router.ReasonCol))
    val rows = OrderedRouter.processOrdered(tagged, "pk", "seq", OrderedCheck.Out)(
      OrderedCheck.handle).collect()
    val counts = rows.filter(_.getString(0) != null)
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    (counts, rows.map(_.getLong(3)).sum)
  }

  /** Cumulative seconds of the parallel-mode routing stages in one pass,
    * and the seconds spent planning the tagged frame.
    */
  final case class StageTimes(planS: Double, scan: Double, decode: Double, tag: Double,
                          sink: Double)

  /** Traced runs: right after a pass's parallel-mode request (which took
    * `sinkS`), run its stages again, each through Spark's no-op sink so
    * that every stage produces the same rows and columns and only the
    * parquet write is missing: scan, decode, tag. A stage's per-record cost
    * is its time minus the stage before it; the sink's is the request's time
    * minus the tag stage. Planning the tagged frame is timed on its own.
    */
  def routingStages(run: Run, wire: DataFrame, config: Router.Config, sinkS: Double): StageTimes = {
    def t(name: String)(df: => DataFrame): Double = run.tracer.span(name, "phase") {
      df.write.format("noop").mode("overwrite").save()
    }._2 / 1000
    val plan = run.tracer.span("stage plan", "phase") {
      Router.tag(EventCodec.withDecodedEvent(wire, PayloadType), config)
        .queryExecution.executedPlan
    }._2 / 1000
    StageTimes(plan,
      t("stage scan")(wire),
      t("stage decode")(EventCodec.withDecodedEvent(wire, PayloadType)),
      t("stage tag")(Router.tag(EventCodec.withDecodedEvent(wire, PayloadType), config)),
      sinkS)
  }

  def dirBytes(path: String): Long = dirFiles(path).map(_.length).sum

  def dirFiles(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory) f.listFiles().toSeq.flatMap(c => dirFiles(c.getPath))
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Nil
  }

  // -------------------------------------------------------------- streaming

  def replay(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format(classOf[graft.sources.ReplayStreamSource].getName)
      .option("path", path).option("batchSize", StreamBatchRows.toString).load()
      .withColumn("arrival", timestamp_seconds(col("approximateArrivalTimestamp")))

  /** Replay the wire records through the routed parquet drain; returns the
    * sink directory.
    */
  def drain(run: Run, wire: String, config: Router.Config, tag: String): String = {
    val out = run.dir(s"stream-$tag")
    val s = replay(run.spark, wire)
    val decoded = EventCodec.withDecodedEvent(s.select(kinesis, col("arrival")), PayloadType)
    run.tracer.span("stream drain", "stream") {
      StreamingRouter.drainRoutedToParquet(decoded, config, Seq("arrival"),
        s"$out/sink", s"$out/ckpt")
    }
    s"$out/sink"
  }

  /** Watermarked one-minute windows over the replay; returns the total count. */
  def windowed(run: Run, wire: String, tag: String): Long = {
    val counts = StreamingRouter.windowedCounts(replay(run.spark, wire), "arrival",
      "10 minutes", "1 minute", "1 minute")
    val name = s"bench_windows_$tag"
    run.tracer.span("stream windowed", "stream") {
      val q = counts.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", run.dir(s"stream-$tag-windows"))
        .trigger(SparkTrigger.AvailableNow()).start()
      StreamingRouter.drainMemoryToLocal(q, name).agg(sum("n")).first().getLong(0)
    }._1
  }

  // ---------------------------------------------------------------- queries

  def memoEntries(): Long = graft.MemoLedger.snapshot().map(_._2).sum

  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

  def queryMix(run: Run): Unit = {
    val spark = run.spark
    val queries = graft.SparkEntry.queries
    val sql = graft.SparkEntry.oracleSql
    val rnd = new scala.util.Random(run.a.seed)
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val warmMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val digests = mutable.Map.empty[String, Int]
    var addedCold, addedWarm, warmExec, warmNoGrowth = 0L
    val (passS, _) = run.tracer.span("measure", "phase") {
      passes(run) { p =>
        rnd.shuffle(QueryMix).foreach { q =>
          val before = memoEntries()
          run.op(q) {
            val df = queries(q)(spark, run.a.data)
            (df.collect(), df.schema)
          }.foreach { case ((rows, schema), ms) =>
            val grew = memoEntries() - before
            if (p == 0) {
              cold(q) = ms
              addedCold += grew
              digests(q) = digest(rows)
              val out = run.dir(s"query-out/$q")
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(out)
              run.oracle += Map("op" -> run.lastOp, "name" -> q, "dir" -> out,
                "sql" -> sql.getOrElse(q, null))
            } else {
              warmMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
              addedWarm += grew
              warmExec += 1
              if (grew == 0) warmNoGrowth += 1
              run.expect(run.lastOp, digests.get(q).contains(digest(rows)),
                s"warm result of $q differs from its cold result")
            }
          }
        }
      }
    }
    val warmAll = warmMs.values.flatten.toSeq
    run.e2e("setup_s") = run.layer("session.start_s")
    // the same measurement as warm_s: the mix's size over its mean warm pass
    run.e2e("throughput_per_s") = warmAll.size / (warmAll.sum / 1000)
    run.e2e("cold_s") = passS.head
    run.e2e("warm_s") = median(passS.tail)
    run.report += "queries in the mix" -> QueryMix.size.toString
    run.report += "warm executions (latency samples)" -> warmAll.size.toString
    run.layer("query.latency_ms_p50") = median(warmAll)
    run.layer("query.latency_ms_p90") = quantile(warmAll, 0.9)
    QueryMix.foreach { q =>
      run.layer(s"query.$q.cold_ms") = cold.getOrElse(q, 0.0)
      run.layer(s"query.$q.warm_ms") = median(warmMs.get(q).map(_.toSeq).getOrElse(Nil))
    }
    run.layer("memo.entries_added_cold") = addedCold
    run.layer("memo.entries_added_warm") = addedWarm
    run.layer("memo.est_bytes") = graft.MemoLedger.snapshot().map(_._3).sum
    run.layer("memo.warm_reuse_frac") = warmNoGrowth.toDouble / math.max(1L, warmExec)
  }
}

/** The ordered-mode handler: walks one partition in (key, sequence) order,
  * counts records per (tag, reason) and sequence numbers that go backwards
  * within a key. Emits one row per (tag, reason) and one order row with a
  * null tag.
  */
object OrderedCheck {
  val Out: StructType = StructType(Seq(
    StructField("tag", StringType), StructField("reason", StringType),
    StructField("n", LongType), StructField("backwards", LongType)))

  def handle(rows: Iterator[Row]): Iterator[Row] = {
    val counts = mutable.HashMap.empty[(String, String), Long]
    var key: String = null
    var seq: String = null
    var backwards = 0L
    rows.foreach { r =>
      val k = r.getString(0)
      val s = r.getString(1)
      if (k == key && s.compareTo(seq) < 0) backwards += 1
      key = k
      seq = s
      val c = (r.getString(2), r.getString(3))
      counts(c) = counts.getOrElse(c, 0L) + 1
    }
    counts.iterator.map { case ((t, re), n) => Row(t, re, n, 0L) } ++
      Iterator(Row(null, null, 0L, backwards))
  }
}
