package graft

import graft.sources.ReplayMicroBatchStream
import graft.streaming.StreamCapture
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, QueryExecution,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileTable, MicroBatchScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStreamBase
import org.apache.spark.sql.graftbridge.GraftBridge

/** Plan-shape audit (dev tool): prints physical-plan diagnostics per declared
  * query — exchange (shuffle) count, broadcast joins, parquet pushdown, scans
  * per base table — as node counts over the executed plan tree ([[nodes]]),
  * so plan regressions are visible without reading full explains.
  */
object PlanAudit {

  /** Count DecimalType columns anywhere in a schema (nested included).
    *
    * The r8 lesson: the only two queries whose OUTPUT schema carried a raw
    * DECIMAL were the only two driver-gate hash failures — decimal-typed
    * outputs canonicalize differently across oracle environments even when
    * every value agrees. DECIMAL stays legal INSIDE a plan (exact money
    * equality, exact min-joins); it must never reach a declared query's
    * output. PlanAudit prints the count per query and close_round.sh
    * refuses to close on any nonzero.
    */
  def decimalColumns(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType => 1
      case s: StructType => s.fields.map(f => decimalColumns(f.dataType)).sum
      case a: ArrayType => decimalColumns(a.elementType)
      case m: MapType => decimalColumns(m.keyType) + decimalColumns(m.valueType)
      case _ => 0
    }
  }

  /** Every node of an executed physical plan, parents before children.
    *
    * Descends where `children` stops: into AQE's current plan, each query
    * stage's plan, each subquery, and the cached plan behind an in-memory
    * scan. A cache read k times is built once, so its cached plan is walked
    * once per call, keyed by its `cacheBuilder`. A `ReusedExchangeExec` is a
    * leaf: the exchange it reuses ran once, where it sits in the tree.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec if caches.add(m.relation.cacheBuilder) =>
        Seq(m.relation.cacheBuilder.cachedPlan)
      case _ => Nil
    }) ++ p.children ++ p.subqueries).flatMap(walk)
    walk(plan)
  }

  /** Per-table parquet scan counts over a plan's [[nodes]].
    *
    * The r10 lesson: `segmented_trend_fit` aggregated the events table twice
    * in one query — correct answers, 2× the dominant cost at 100 TB — and no
    * close gate saw it. Each file scan is named by the file stem of its
    * first root path (`lineitem`, `events`); landed stage re-reads (the
    * [[graft.relational.Stages.materialize]] temp dirs) are EXCLUDED —
    * re-reading an answer-sized landed stage is the intended multi-consumer
    * pattern, not a recompute. close_round.sh refuses any query whose max
    * base-table scan count exceeds [[scanBound]].
    */
  def tableScans(nodes: Seq[SparkPlan]): Map[String, Int] =
    nodes.collect { case f: FileSourceScanExec => f.relation.location.rootPaths }
      .flatMap(_.headOption).filterNot(_.toString.contains("graft_stage_"))
      .map(_.getName.stripSuffix(".parquet"))
      .groupBy(identity).map { case (t, hits) => t -> hits.size }

  /** Scan leaves [[tableScans]] cannot name: a file scan without a root
    * path, or a v2 scan over a file table. Nonzero means scan counts are
    * untrustworthy; the close gate refuses `locbad>0`.
    */
  def unnamedScans(nodes: Seq[SparkPlan]): Int = nodes.count {
    case f: FileSourceScanExec => f.relation.location.rootPaths.isEmpty
    case b: BatchScanExec => b.table.isInstanceOf[FileTable]
    case _ => false
  }

  /** Max allowed scans of any single BASE table per query. Default 2: the
    * engine's own landing doctrine (`Stages.scala`) accepts a bare-scan
    * re-read as cheaper than a shuffle, so a second scan of the source is a
    * legitimate plan choice; a THIRD is the multiplicative fan-out the
    * landing rule exists to prevent and must be individually declared here
    * with its reason.
    */
  val defaultScanBound = 2
  /** Measured-and-frozen per-query exceptions (r11 audit, sf0.001). Every
    * entry is a plan whose re-scans are ARMS, not recomputes: each scan
    * carries its own pushed filter or its own derived stage, and landing
    * the unfiltered source would cost a full-table shuffle to save partial
    * scans. The bound is the measured value — a rise above it means a new
    * consumer started re-deriving an upstream and must either land a stage
    * (Stages.materialize) or raise its declared bound here WITH a reason.
    */
  val scanBounds: Map[String, Int] = Map(
    // NOTE: counts are plan-shape dependent across scale factors (AQE
    // broadcast choices change which subtrees ReuseExchange can dedup), so
    // each bound is the MAX measured across the gate scales (sf0.001 dev,
    // sf0.01 close) — the gate catches growth above that envelope.
    // set/diff/merge semantics: one scan per operand side or snapshot
    "set_ops_nations" -> 3, "snapshot_diff" -> 3,
    "incremental_agg_merge" -> 4, "components_incremental_merge" -> 7,
    "dq_constraint_report" -> 3, "fd_discovery_audit" -> 4,
    // funnel/attribution/interval arms: per-stage pushed event_type filters
    "funnel_view_click_purchase" -> 5, "funnel_windowed_2h" -> 5,
    "attribution_first_touch" -> 3, "interval_click_counts" -> 3,
    "sequential_twolook_guard" -> 4, "topk_churn_audit" -> 3,
    // TPC-H q21: the textbook lineitem self-join pair (l2/l3 exists clauses)
    "q21_sole_late_supplier" -> 3,
    // gap-fill: calendar bounds + per-key spine + values are three cheap
    // pushed-projection scans of a small dimension table
    "gapfill_daily_orders" -> 3, "gapfill_ffill_orders" -> 3,
    // sketch-vs-exact audits: the estimate arm and the truth arm each scan
    "countmin_user_est" -> 3, "robust_value_outliers" -> 3,
    // retrieval audits: query slice + corpus side + exact-truth arm(s);
    // the sweep rows scan once per probed configuration by design
    // (r12: the IVF assignment lands once as the index artifact — the
    // sweep's bound halved from 8, the audits dropped from 4; the
    // remaining scans are per-configuration pushed-filter QUERY slices)
    "ann_ndcg_audit" -> 3, "ivf_recall_audit" -> 3, "ivf_nprobe_sweep" -> 4,
    "mrl_prefix_recall" -> 4, "jl_projection_topk" -> 4,
    "bq_hamming_topk" -> 3, "knn_pagerank_centrality" -> 3,
    // (clip_alignment_filter dropped to the default in r13: the scored
    // pair frame lands once per session — its former bound was 4, now an
    // auxScanBounds entry on the landing job)
    // (bm25_topk and hybrid_rrf_topk dropped to the default in r12: the
    // BM25 scorer is now a row-local per-doc frame + one stats aggregate,
    // and both retrieval shortlists land once per session — their former
    // bounds were 6 and 10)
    // corpus statistics with query-slice + corpus + vocabulary arms
    // (decontaminate_ngram_overlap dropped to the default in r12: the gram
    // index and the report both land; its former bound was 6)
    "weak_label_agreement" -> 6,
    "tfidf_top_terms" -> 3,
    "leakage_safe_split" -> 3,
    "source_mix_quota" -> 3, "span_corruption_plan" -> 3)

  def scanBound(name: String): Int =
    scanBounds.getOrElse(name, defaultScanBound)

  /** Bound for AUXILIARY jobs — the eagerly-executed side jobs a query fires
    * while it is being BUILT or run: [[graft.relational.Stages.materialize]]
    * landing writes and bounded cardinality/limit probes. The r11 advisory:
    * the final-plan gate cannot see a double-scan INSIDE a landed frame
    * (the landing job ran before the final plan existed — 75/352 rows showed
    * `maxscan=0` because every base-table scan happened in the landing job).
    * PlanAudit now registers a QueryExecutionListener and gates EVERY job's
    * plan: each auxiliary job may scan a base table at most
    * [[defaultScanBound]] times unless the triggering query declares an
    * exception here (same contract as [[scanBounds]]: measured, with a
    * reason). NOTE: landings are memoized per session, so an aux job is
    * charged to the FIRST consumer in PlanAudit's sorted run order — adding
    * a query that sorts earlier shifts the charge to it (re-measure, move
    * the entry).
    */
  val auxScanBounds: Map[String, Int] = Map(
    // measured r12 (sf0.01). Each entry is a landing/probe job whose
    // re-scans are ARMS or bare-scan re-reads, not recomputes:
    // frontier-chain landing: one pushed event_type filter arm per funnel
    // stage — the same arm class as the funnel family's final bound 5
    "funnel_latency_quantiles" -> 4,
    // the `scored` landing re-reads the bare corpus scan for the row-local
    // segment projection (fingerprint pass + rebuild) plus a 2-column
    // source join — scan re-reads are cheaper than landing the
    // corpus-sized segment frame (Stages doctrine)
    "curation_pipeline_e2e" -> 3,
    // the bucket-frame landing has three aggregation arms over documents:
    // quantile cuts, per-doc token counts, first-occurrence term index
    "vocab_growth_curve" -> 3,
    // the ingest_merged landing carries incrementalComponents' five
    // label-sided node-id projections (contract x2, supernodes, relabel,
    // re-ingest anti-join) plus the batch node scan — all cheap filtered
    // id projections of documents, the same declared-arm class as
    // components_incremental_merge's final-plan bound 7 (bare scans are
    // cheaper than landing a node-id frame, the Stages doctrine). 7 = the
    // COLD-session charge (a targeted run pays every landing itself; in
    // the sorted close run earlier consumers absorb one) — the same
    // measured envelope as components_incremental_merge's final bound 7
    "incremental_ingest_e2e" -> 7,
    // the clip_scored landing carries the text arm + the image-stub's
    // three arms (dense-id count probe, id projection, embedding lookup) —
    // all bare-scan re-reads of the embeddings table; the stub stays a
    // self-contained swap unit (AlignmentFilter scaladoc). Formerly the
    // final-plan bound 4; the r13 landing moved it here (charged to the
    // filter, the first consumer in sorted order, before the sweep)
    "clip_alignment_filter" -> 4)

  def auxScanBound(name: String): Int =
    auxScanBounds.getOrElse(name, defaultScanBound)

  /** Bound for PER-TRIGGER scans inside a streaming micro-batch plan. The
    * r12 verdict's blind spot: Structured Streaming's per-trigger
    * `IncrementalExecution`s are NOT delivered through the
    * QueryExecutionListener, so a regression that re-scans the replay
    * source or a static join side inside every trigger was mechanically
    * invisible — the same class the aux gate closed for batch. PlanAudit
    * now captures every started streaming query (onQueryStarted is
    * delivered synchronously) and gates the final trigger's
    * `lastExecution` plan — triggers of one bounded drain share a plan
    * shape, so the last is representative of each. A static parquet side
    * legitimately scans once per trigger (the stream-static join
    * contract); twice is an arm; more means a consumer started re-deriving
    * inside the trigger and must land or declare here with a reason.
    */
  val streamScanBounds: Map[String, Int] = Map.empty

  def streamScanBound(name: String): Int =
    streamScanBounds.getOrElse(name, defaultScanBound)

  /** `t:n` per table over several plans' scan maps, most-scanned first. */
  private def scanDetail(scans: Seq[Map[String, Int]]): String =
    scans.flatMap(_.toSeq).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
      .toSeq.sortBy(-_._2).map { case (t, n) => s"$t:$n" }.mkString(",")

  /** Each plan's scan map, the largest count in any, and how many tables
    * of all the plans exceed `bound`: each plan is gated on its own. */
  private def gate(plans: Seq[Seq[SparkPlan]], bound: Int): (Seq[Map[String, Int]], Int, Int) = {
    val scans = plans.map(tableScans)
    (scans, (0 +: scans.flatMap(_.values)).max, scans.map(_.count(_._2 > bound)).sum)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val only = args.headOption
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")

    // Capture EVERY execution the query triggers (landing writes, cardinality
    // probes, the final collect) — the final plan alone cannot see scans that
    // happened inside eagerly-executed side jobs. Listener delivery is async;
    // draining the listener bus after each query makes it deterministic.
    val events = java.util.Collections.synchronizedList(
      new java.util.ArrayList[QueryExecution]())
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        events.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    // Streaming capture: per-trigger IncrementalExecutions never reach the
    // QueryExecutionListener, and the engine drains streams on newSession()
    // CLONES whose StreamingQueryManagers a root-session listener cannot
    // see — StreamCapture rides the clone factory (Dsl.streamSession) and
    // hands back each started query so its last trigger's plan is gated
    // after the declared query drains it.
    StreamCapture.enable()
    StreamCapture.attach(spark)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.contains) }
      .foreach { case (name, fn) =>
        try {
          events.clear()
          StreamCapture.reset()
          val df = fn(spark, dir)
          // Execute first: AQE only inserts WholeStageCodegen spans (and its
          // runtime join/partition re-plans) while stages materialize, so the
          // pre-execution plan under-reports codegen (r1 audit showed 0 spans
          // everywhere) and misses AQE's SMJ->BHJ conversions.
          // (collect, not count: count() wraps df in a NEW aggregate plan and
          // executes that, leaving df's own AQE plan unfinalized)
          df.collect()
          val plan = nodes(df.queryExecution.executedPlan)
          val exchanges = plan.count(_.isInstanceOf[ShuffleExchangeLike])
          val bhj = plan.count(_.isInstanceOf[BroadcastHashJoinExec])
          val smj = plan.count(_.isInstanceOf[SortMergeJoinExec])
          val bnl = plan.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
          val cart = plan.count(_.isInstanceOf[CartesianProductExec])
          // the translated data filters, printed "[]" when none was pushed
          val pushed = plan.count {
            case f: FileSourceScanExec => f.metadata.get("PushedFilters").exists(_ != "[]")
            case _ => false
          }
          val wsc = plan.collect { case w: WholeStageCodegenExec => w.codegenStageId }
            .distinct.size
          val dec = decimalColumns(df.schema)
          val (scans, maxScan, over) = gate(Seq(plan), scanBound(name))
          // Auxiliary jobs: everything the listener saw for this query except
          // the final collect itself. Each aux job's plan is gated
          // INDEPENDENTLY (a landing that scans a base table 3× is the same
          // recompute defect whether or not the final plan sees it). A drain
          // that times out throws, which surfaces as a FAILED row rather than
          // a gate passed on partial data.
          GraftBridge.drainListeners(spark)
          val auxPlans = events.synchronized {
            scala.jdk.CollectionConverters.ListHasAsScala(events).asScala.toList }
            .filter(qe => !(qe eq df.queryExecution))
            .map(qe => nodes(qe.executedPlan))
          val (auxScans, auxMax, auxOver) = gate(auxPlans, auxScanBound(name))
          // Streaming micro-batch plans: gate the last trigger's
          // IncrementalExecution per started query (none when the bounded
          // source was empty and no trigger ran). `sbad` is loud
          // bookkeeping — a started query the listener failed to capture
          // would silently exempt its triggers from the gate.
          val (sStarted, sq) = StreamCapture.snapshot
          val sPlans = sq.flatMap(GraftBridge.lastExecution).map(qe => nodes(qe.executedPlan))
          val sBad = sStarted - sq.size
          val (sScans, sMax, sOver) = gate(sPlans, streamScanBound(name))
          // Gate legibility (r13 verdict): an empty strigscans= is correct
          // when the trigger reads only the in-memory replay source — but
          // indistinguishable at a glance from "capture silently failed".
          // strigsrc names WHAT the captured trigger plans actually read:
          //   replay  — a micro-batch scan of the DSv2 replay table
          //   memory  — a micro-batch scan of a MemoryStream
          //   file    — a parquet base-table scan (counted in strigscans)
          //   flush   — the terminal no-input trigger AvailableNow runs to
          //             evict state: an empty local scan AND a state-store
          //             writer in one plan (the empty scan alone would let
          //             an unrecognized SOURCE pass as benign; r14 review)
          //   none    — a query started but no trigger ever ran (empty src)
          //   unknown — a trigger plan with NO recognizable source: capture
          //             drift; the close script refuses it
          def streams(p: Seq[SparkPlan]) = p.collect { case m: MicroBatchScanExec => m.stream }
          val sSrc =
            if (sq.isEmpty) "-"
            else if (sPlans.isEmpty) "none"
            else {
              val kinds = Seq(
                "replay" -> sPlans.exists(streams(_).exists(_.isInstanceOf[ReplayMicroBatchStream])),
                "memory" -> sPlans.exists(streams(_).exists(_.isInstanceOf[MemoryStreamBase[_]])),
                "file" -> sScans.exists(_.nonEmpty),
                "flush" -> sPlans.exists(p =>
                  p.exists { case l: LocalTableScanExec => l.rows.isEmpty; case _ => false } &&
                    p.exists(_.isInstanceOf[StateStoreWriter]))
              ).collect { case (k, true) => k }
              if (kinds.isEmpty) "unknown" else kinds.mkString("+")
            }
          val locBad = (plan +: (auxPlans ++ sPlans)).map(unnamedScans).sum
          println(f"[plan] $name%-32s shuf=$exchanges%-3d bhj=$bhj%-2d smj=$smj%-2d " +
            f"bnl=$bnl%-2d cart=$cart%-2d pushedFilters=$pushed%-2d codegenSpans=$wsc%-2d " +
            f"dec=$dec%-2d maxscan=$maxScan%-2d over=$over%-2d locbad=$locBad%-2d " +
            f"auxjobs=${auxPlans.size}%-2d auxmax=$auxMax%-2d auxover=$auxOver%-2d " +
            f"sq=${sq.size}%-2d strigmax=$sMax%-2d strigover=$sOver%-2d sbad=$sBad%-2d " +
            f"strigsrc=$sSrc%-8s " +
            f"scans=${scanDetail(scans)} auxscans=${scanDetail(auxScans)} " +
            f"strigscans=${scanDetail(sScans)}")
        } catch {
          case e: Throwable => println(s"[plan] $name FAILED: ${e.getMessage}")
        }
      }
    // aggregate driver-heap ledger over every memo family the suite touched
    // (r13 verdict "Next" #5); close_round greps these into the audit
    // artifact and refuses per-family entry counts above
    // tools/memo_bounds.json
    MemoLedger.printLedger()
    spark.stop()
  }
}
