package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Locks in the plan-shape wins the per-round plan audit found, as tests:
  * a regression that re-introduces a scale-killer (cartesian product, an
  * unbounded nested-loop join, the old IVF assignment shuffle) fails the
  * suite instead of waiting for the next audit read-through.
  *
  * Shapes are asserted on the FINAL AQE plan after execution at sf0.001 —
  * pre-execution plans under-report codegen and miss AQE's runtime re-plans
  * (the round-1 audit bug). Counts run over [[PlanAudit.nodes]], so AQE
  * stages, subqueries and cached plans are all in view.
  */
class PlanShapeSpec extends SparkSpec {

  /** An executed plan: its nodes for the asserts, its tree for messages. */
  private final case class Plan(root: SparkPlan) {
    lazy val nodes: Seq[SparkPlan] = PlanAudit.nodes(root)
    override def toString: String = root.toString
  }

  private def finalPlan(df: DataFrame): Plan = {
    df.collect()
    Plan(df.queryExecution.executedPlan)
  }

  private def run(name: String): Plan =
    finalPlan(SparkEntry.queries(name)(spark, sf0001))

  /** Nodes whose name contains `token`. */
  private def count(plan: Plan, token: String): Int =
    plan.nodes.count(_.nodeName.contains(token))

  private def shuffles(plan: Plan): Int =
    plan.nodes.count(_.isInstanceOf[ShuffleExchangeLike])

  private def singlePartition(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
    case _ => false
  }

  /** Children as the plan string prints them: codegen wrappers skipped, a
    * query stage's plan shown as its child. */
  private def shown(p: SparkPlan): Seq[SparkPlan] = (p match {
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }).flatMap {
    case w @ (_: WholeStageCodegenExec | _: InputAdapter) => shown(w)
    case c => Seq(c)
  }

  test("no declared query plans a cartesian product") {
    // spot-check the join-heavy and pair-generating queries
    Seq("q5_region_revenue", "q7_nation_volume", "minhash_fastpath_containment",
      "simhash_banding_equiv", "ngram_jaccard_pairs", "ngram_containment_pairs",
      "ivf_topk", "crossdoc_ngram_contamination", "route_keyword_gauntlet",
      "pii_redaction").foreach { q =>
      assert(count(run(q), "CartesianProduct") === 0, s"$q plans a cartesian product")
    }
  }

  test("ivf_topk assignment stays shuffle-free: no nested-loop join, bounded exchanges") {
    val plan = run("ivf_topk")
    assert(count(plan, "BroadcastNestedLoop") === 0, s"ivf regressed to join-assignment:\n$plan")
    assert(shuffles(plan) <= 3,
      s"ivf assignment shuffle regression (${shuffles(plan)} exchanges):\n$plan")
  }

  test("kNN-graph queries build edges through IVF — no full-side broadcast NL") {
    // the round-6 weak rows: bruteForceTopK edge builds broadcast the whole
    // embedding side under a nested loop; the IVF build must keep every
    // join equi-keyed (cell id / node id)
    Seq("knn_pagerank_centrality", "knn_triangle_count", "knn_kcore_peeling",
      "knn_lpa_communities").foreach { q =>
      val plan = run(q)
      assert(count(plan, "BroadcastNestedLoop") === 0,
        s"$q regressed to a brute-force edge build:\n$plan")
      assert(count(plan, "CartesianProduct") === 0, s"$q plans a cartesian:\n$plan")
    }
  }

  test("star joins broadcast their dimension sides") {
    val plan = run("q5_region_revenue")
    assert(count(plan, "BroadcastHashJoin") >= 4, s"q5 dims must broadcast:\n$plan")
    assert(count(plan, "SortMergeJoin") === 0, s"q5 must not sort-merge tiny dims:\n$plan")
  }

  test("order-by-limit lowers to TakeOrderedAndProject (no global sort)") {
    val plan = run("sort_limit_orders")
    assert(count(plan, "TakeOrderedAndProject") > 0, s"sort+limit regression:\n$plan")
  }

  test("bloom probe prunes with a literal predicate — no extra join for the filter") {
    val plan = run("bloom_prune_join")
    // exactly the one real join (lineitem x hi-orders); the bloom membership
    // test must be a Filter over the scan, not a join against the bit array
    assert(count(plan, "Join") <= 2, s"bloom filter regressed to a join:\n$plan")
    assert(count(plan, "CartesianProduct") === 0)
  }

  test("bq hamming topk: queries broadcast both stages, no cartesian blowup") {
    val plan = run("bq_hamming_topk")
    assert(count(plan, "CartesianProduct") === 0)
    // stage 1: codes x broadcast(q); stage 2: shortlist must broadcast into
    // the rerank equi-join (a sort-merge there means the shortlist shuffled
    // the full candidate table)
    assert(count(plan, "BroadcastNestedLoopJoin") === 1, s"hamming stage shape:\n$plan")
    assert(count(plan, "BroadcastHashJoin") >= 1, s"rerank must broadcast the shortlist:\n$plan")
  }

  test("dense cosine pairs: broadcast NL pair scan, postings-join signature absent") {
    // cosinePairs lands its result through Stages.materialize, so the
    // DECLARED query's final plan is just a scan of the landed pairs; the
    // shape under audit is the pair-computing plan itself — assert on the
    // un-landed dense path directly.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = finalPlan(
      dedup.Dedup.denseCosinePairs(docs, "doc_id", "text", threshold = 0.9))
    // the dense plan's signature: exactly one broadcast nested-loop doing
    // the id1<id2 pair scan. The degenerate postings plan has none (it
    // equi-joins on term and shuffles one row per nonzero product).
    assert(count(plan, "BroadcastNestedLoop") === 1, s"dense plan regressed:\n$plan")
    assert(count(plan, "CartesianProduct") === 0)
  }

  test("interval join stays an equi join — no nested-loop fallback") {
    val plan = run("interval_click_counts")
    assert(count(plan, "BroadcastNestedLoop") === 0,
      s"interval join regressed to a nested loop:\n$plan")
    assert(count(plan, "CartesianProduct") === 0)
  }

  test("chunking is shuffle-free except its output ordering") {
    val plan = run("chunk_overlap_stats")
    assert(shuffles(plan) <= 1, s"chunking grew a shuffle (${shuffles(plan)} exchanges):\n$plan")
  }

  test("heavy hitters: single verify pass — no nested loop, no separate total scan") {
    val plan = run("heavy_hitters_bigrams")
    // the corpus total folds into the candidate-count pass (null group +
    // answer-sized window), so no crossJoin(total) nested loop survives
    assert(count(plan, "BroadcastNestedLoop") === 0, s"heavy hitters shape:\n$plan")
    assert(count(plan, "CartesianProduct") === 0)
  }

  test("repetition signals are row-local: at most the output-ordering shuffle") {
    val plan = run("repetition_stats")
    assert(shuffles(plan) <= 1,
      s"repetition stats grew a shuffle (${shuffles(plan)} exchanges):\n$plan")
  }

  test("segment construction is shuffle-free (split+slice, not explode+groupBy)") {
    val segs = graft.text.LineDedup.segments(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text", 3)
    val plan = finalPlan(segs)
    assert(shuffles(plan) === 0, s"segments() must not exchange:\n$plan")
  }

  test("retrieval rankings carry no window at all — shortlist-then-rank only") {
    // the round-4 scale-killer: row_number().over(Window.orderBy(...)) with
    // no partitionBy plans a single-partition sort of the whole scored
    // corpus. The fix ranks only TakeOrdered shortlists via Ranks.boundedRank
    // (broadcast self-join), so the plan must contain zero Window nodes and
    // must keep the TakeOrderedAndProject shortlist shape.
    Seq("bm25_topk", "hybrid_rrf_topk", "dsir_importance_topk").foreach { q =>
      val plan = run(q)
      assert(count(plan, "Window") === 0, s"$q re-grew a window:\n$plan")
      assert(count(plan, "TakeOrderedAndProject") > 0, s"$q lost its shortlist shape:\n$plan")
      assert(count(plan, "CartesianProduct") === 0)
    }
  }

  test("curation pipeline lands its stage boundaries — no corpus recompute fan-out") {
    // Stage outputs are consumed 2× downstream and lazy composition
    // multiplies those reads through the chain (measured: 19 corpus scans
    // fully lazy, 5 with best-effort exchange anchors, ~4× wall-clock).
    // The clean+score boundary is a durable stage write (Stages
    // .materialize), so the FINAL plan must not touch the documents table
    // at all — it reads only the compact materialized stages.
    val plan = run("curation_pipeline_e2e")
    assert(!PlanAudit.tableScans(plan.nodes).contains("documents"),
      s"pipeline final plan re-derives the corpus instead of reading the " +
        s"landed stage:\n$plan")
    assert(count(plan, "Scan parquet") <= 3,
      s"pipeline stage recompute fan-out returned:\n$plan")
  }

  test("table maintenance: merge co-partitions, histories window per-key only") {
    // CDC merge: the feed dedup + full-outer join must stay hash/sort
    // based — a nested-loop full outer means the broadcast hint leaked back.
    val merge = run("merge_upsert_orders")
    assert(count(merge, "CartesianProduct") === 0)
    assert(count(merge, "BroadcastNestedLoop") === 0, s"merge must not BNL:\n$merge")
    // SCD2 + compaction windows are per-key/per-partition: any
    // single-partition exchange means an unpartitioned window crept in.
    Seq("scd2_order_history", "compaction_bins").foreach { q =>
      val plan = run(q)
      assert(count(plan, "Window") >= 1, s"$q lost its window:\n$plan")
      assert(!plan.nodes.exists(singlePartition),
        s"$q planned a single-partition window:\n$plan")
    }
  }

  test("tokenizer/LM family: no single-partition stage, no cartesian") {
    // ngram LM + CCNet bucketing window only per-doc (lead over doc_id
    // partitions); CCNet thresholds come from a bounded TakeOrdered sample
    // ranked via Ranks.boundedRank — never a global window. BPE training
    // runs vocabulary-sized argmax jobs outside the declared plan; the
    // declared stats query is a broadcast word→subwords equi-join.
    Seq("ngram_lm_surprisal", "ccnet_quality_buckets", "bpe_token_stats")
      .foreach { q =>
        val plan = run(q)
        assert(count(plan, "CartesianProduct") === 0, s"$q plans a cartesian:\n$plan")
        // single-partition exchanges may exist ONLY as the answer-sized tail
        // of a scalar aggregate (vocab size, corpus N) — never under a Sort
        // or Window (the global-ranking scale-killer)
        assert(plan.nodes.count(singlePartition) <= plan.nodes.count {
            case a: HashAggregateExec => a.groupingExpressions.isEmpty
            case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
            case _ => false
          }, s"$q has a non-aggregate single-partition stage:\n$plan")
        // no Sort or Window within two printed levels above such a stage
        plan.nodes.filter(n => n.nodeName == "Sort" || n.nodeName == "Window").foreach { n =>
          val near = shown(n) ++ shown(n).flatMap(shown)
          assert(!near.exists(singlePartition),
            s"$q sorts/windows over a single partition:\n$plan")
        }
      }
    // NOTE: Window-node counts in the printed plan are not asserted —
    // broadcast branches print their subtrees inline even when AQE stage
    // reuse shares them at runtime; the Sort/Window-over-SinglePartition
    // neighborhood check above is the actual scale-killer detector.
  }

  test("round-6 corpus/analytics ops keep their scale shapes") {
    // The Gopher gate's claim is structural: the OPERATOR (before the
    // declared query's oracle-determinism orderBy) is a map-only
    // projection — zero exchanges of any kind.
    val g = graft.text.GopherRules.repetitionSignals(
      spark.read.parquet(s"$sf0001/documents.parquet"), "text")
    val gPlan = finalPlan(g)
    assert(count(gPlan, "Exchange") === 0,
      s"gopher gate grew a shuffle — it must stay map-only:\n$gPlan")
    // No cartesian anywhere in the round-6 family (the crossJoins in
    // funnel/drift/calibration are 1-row broadcast frames → BNL, not
    // CartesianProduct)
    Seq("decontaminate_ngram_overlap", "funnel_view_click_purchase",
      "drift_event_mix", "event_transition_matrix", "embedding_outliers",
      "curriculum_interleave", "nb_calibration_bins").foreach { q =>
      assert(count(run(q), "CartesianProduct") === 0, s"$q plans a cartesian")
    }
    // Outlier model joins must broadcast (dim-bounded sums), never
    // sort-merge the exploded frame against them
    val o = run("embedding_outliers")
    assert(count(o, "SortMergeJoin") === 0,
      s"embedding_outliers sort-merges a dim-bounded model join:\n$o")
  }

  test("bucketed fact-fact join reads co-located buckets — no join-input exchange") {
    val plan = run("bucketed_join_revenue")
    val join = plan.nodes.collectFirst { case j: SortMergeJoinExec => j }
    assert(join.isDefined, "bucketed join must plan a sort-merge join")
    // the subtree below the join must contain NO hash exchange on the join
    // key: the bucket layout IS the partitioning; only the post-join
    // aggregation/order exchanges may appear (they sit above the join)
    val below = PlanAudit.nodes(join.get)
    assert(!below.exists {
      case e: ShuffleExchangeLike => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.headOption.exists(
          _.references.exists(a => a.name == "l_orderkey" || a.name == "o_orderkey"))
        case _ => false
      }
      case _ => false
    }, "bucketed join re-shuffled its inputs — bucket layout unused")
    assert(below.exists { case f: FileSourceScanExec => f.bucketedScan; case _ => false },
      "scan did not use the bucket layout")
  }

  test("round-9 rows: no cartesians, nested loops confined to 1-row bound frames") {
    // the experiment/statistics wave assembles metrics by cross-joining
    // broadcast 1-ROW frames (totals, thresholds, LUTs) — those plan as
    // BroadcastNestedLoop over single rows, which is the accepted bounded
    // shape; an actual cartesian or an UNBOUNDED BNL is a regression
    Seq("mannwhitney_ks_value_shift", "ewma_rate_monitor",
      "growth_accounting_daily", "ab_assignment_srm", "ab_quantile_effect",
      "ab_cuped_lift", "hash_uniformity_audit", "embedding_anisotropy",
      "conformal_density_floor", "vocab_unseen_mass",
      "hll_linear_counting").foreach { q =>
      val plan = run(q)
      assert(count(plan, "CartesianProduct") === 0, s"$q plans a cartesian")
      assert(count(plan, "BroadcastNestedLoop") <= 5,
        s"$q grew beyond its bounded 1-row-frame BNL budget:\n$plan")
    }
  }

  test("routing 32 registered schemas is ONE scan, no shuffle, one partitioned write") {
    // SCALE.md's routing-kernel centerpiece, pinned as a value: the route
    // tag is one projection whatever the registry size — source scanned
    // once, zero exchanges — and writeRouted fans out every branch plus
    // badmsg/skipped in a single tag-partitioned pass whose layout gives
    // readers partition pruning (the J1b bucketed-layout precedent).
    import graft.routing._
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types._
    val envelopeId = "com.acme/stream/1-0-0"
    val n = 32
    val registry = (0 until n).map { i =>
      s"com.acme/t$i/1-0-0" -> Router.Registration(
        RegisteredSchema(s"com.acme/t$i/1-0-0",
          Seq(Required("qty"), NumRange("qty", Some(0), Some(100)))),
        identity[DataFrame])
    }.toMap
    val cfg = Router.Config(envelopeId,
      RegisteredSchema(envelopeId, Nil), registry)
    val payloadSchema = StructType(Seq(
      StructField("schema", StringType),
      StructField("data", StructType(Seq(
        StructField("schema", StringType),
        StructField("qty", LongType))))))
    val tmp = java.nio.file.Files.createTempDirectory("route32").toString
    import spark.implicits._
    val rows = (0 until 320).map { k =>
      (k.toLong, s"""{"schema":"$envelopeId","data":{"schema":"com.acme/t${k % n}/1-0-0","qty":${k % 100}}}""")
    } ++ Seq(
      (320L, s"""{"schema":"$envelopeId","data":{"schema":"com.acme/unknown/1-0-0","qty":1}}"""),
      (321L, s"""{"schema":"$envelopeId","data":{"schema":"com.acme/t0/1-0-0","qty":999}}"""))
    rows.toDF("id", "json").write.mode("overwrite").parquet(s"$tmp/src")
    val decoded = spark.read.parquet(s"$tmp/src")
      .withColumn("event", from_json(col("json"), payloadSchema))
    val tagged = Router.tag(decoded, cfg)
    val plan = finalPlan(tagged)
    assert(count(plan, "Scan parquet") === 1,
      s"32-schema tag must stay ONE source scan:\n$plan")
    assert(count(plan, "Exchange") === 0,
      s"32-schema tag must stay shuffle-free:\n$plan")
    Router.writeRouted(decoded, cfg, s"$tmp/out")
    val partDirs = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith(s"${Router.TagCol}="))
    assert(partDirs.length === n + 2,
      s"expected $n branches + badmsg + skipped, got:\n${partDirs.mkString("\n")}")
    // downstream partition pruning: a one-branch read touches one partition
    val one = spark.read.parquet(s"$tmp/out")
      .filter(col(Router.TagCol) === "branch:com.acme/t7/1-0-0")
    assert(one.count() === 10L)
    val prunedPlan = finalPlan(one)
    assert(prunedPlan.nodes.forall {
      case f: FileSourceScanExec => f.partitionFilters.nonEmpty
      case _ => true
    },
      s"branch read must prune on the tag partition:\n$prunedPlan")
  }

  test("the verified minhash pair frame lands ONCE for its three consumers") {
    // The r11 landing-sweep headline, spec-locked (r11 verdict stretch
    // item): minhash_portable_pairs, minhash_jaccard_calibration, and
    // crossmodal_dup_consistency all materialize the IDENTICAL verified
    // pair frame (tag minhash_pairs_05) — the plan-keyed memo must write
    // it at most once per session ("one write, N readers"), never once
    // per consumer. ≤ 1 rather than == 1 because another suite sharing
    // this session may already have landed it (the memo is the point).
    val events = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        events.add((qe.analyzed.toString, qe.executedPlan.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq("minhash_portable_pairs", "minhash_jaccard_calibration",
        "crossmodal_dup_consistency").foreach { q =>
        assert(SparkEntry.queries(q)(spark, sf0001).count() > 0, s"$q empty")
      }
      // listener delivery is async — flush with a sentinel and poll
      val marker = "__landing_lock_sentinel"
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      val deadline = System.currentTimeMillis + 30000
      def snap() = events.synchronized {
        scala.jdk.CollectionConverters.ListHasAsScala(events).asScala.toList }
      while (System.currentTimeMillis < deadline &&
        !snap().exists(_._1.contains(marker))) Thread.sleep(10)
      val pairFrameWrites = snap().count { case (_, exec) =>
        exec.contains("InsertIntoHadoopFsRelationCommand") &&
          exec.contains("graft_stage_minhash_pairs_05") }
      assert(pairFrameWrites <= 1,
        s"the shared pair frame landed $pairFrameWrites times — " +
          "the materialize memo is not deduplicating its consumers")
    } finally spark.listenerManager.unregister(listener)
  }

  test("the r13 shared stages land ONCE each for their two consumers") {
    // Same lock as the minhash pair frame, for the round-13 landings:
    // clip_scored (clip_alignment_filter + clip_alignment_sweep) and
    // uni_vocab (unigram_lm_train + unigram_bpe_fertility) — one write,
    // N readers; ≤ 1 because an earlier suite may already have landed them.
    val events = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        events.add((qe.analyzed.toString, qe.executedPlan.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq("clip_alignment_filter", "clip_alignment_sweep",
        "unigram_lm_train", "unigram_bpe_fertility").foreach { q =>
        assert(SparkEntry.queries(q)(spark, sf0001).count() > 0, s"$q empty")
      }
      val marker = "__landing_lock_sentinel_r13"
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      val deadline = System.currentTimeMillis + 30000
      def snap() = events.synchronized {
        scala.jdk.CollectionConverters.ListHasAsScala(events).asScala.toList }
      while (System.currentTimeMillis < deadline &&
        !snap().exists(_._1.contains(marker))) Thread.sleep(10)
      Seq("graft_stage_clip_scored", "graft_stage_uni_vocab").foreach { tag =>
        val writes = snap().count { case (_, exec) =>
          exec.contains("InsertIntoHadoopFsRelationCommand") &&
            exec.contains(tag) }
        assert(writes <= 1,
          s"$tag landed $writes times — the materialize memo is not " +
            "deduplicating its consumers")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("every spot-checked query keeps non-zero whole-stage codegen") {
    // NOT the containment gate: that query is deterministically empty, so
    // AQE's empty-relation propagation collapses it to a LocalTableScan
    // with no codegen stage at all — nothing to assert on.
    Seq("q1_pricing_summary", "minhash_portable_pairs", "cosine_topk").foreach { q =>
      val spans = run(q).nodes.collect { case w: WholeStageCodegenExec => w.codegenStageId }
        .toSet.size
      assert(spans > 0, s"$q fell out of whole-stage codegen")
    }
  }
}
