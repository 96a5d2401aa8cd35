package graft.queries

import org.apache.spark.sql.functions._
import Dsl._
import OracleSql._

/** Round-7 operator families: the pre-flight / planning diagnostics a
  * 100 TB pipeline runs before committing compute — key-skew profiling
  * (O51), quality-ordered token-budget water-filling (O52), k-core peeling
  * over the kNN similarity graph (O53), and the unigram-entropy quality
  * signal (O55). All integer-exact, all DuckDB-oracle hash-checked.
  */
object ProfilingQueries {

  private val stops = Seq("the", "a")

  /** The three labeling functions of the weak-supervision committee: shared
    * by the vote and agreement queries (votes are {−1, 0, +1} longs).
    */
  private def lfVoteCols = {
    import graft.text.TextFunctions._
    val q = qualityScore(col("text"), stops)
    Seq(
      "lf_lang" -> when(col("lang") === "en", 1L).otherwise(-1L),
      "lf_quality" -> when(q >= 0.7, 1L).when(q < 0.4, -1L).otherwise(0L),
      "lf_entropy" -> when(col("millibits_per_token") >= 3000L, 1L)
        .when(col("millibits_per_token") < 1500L, -1L).otherwise(0L))
  }

  /** Documents joined with their entropy signal — the per-doc frame the LF
    * committee votes over (entropy is the one non-row-local voter).
    */
  private def lfInput(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = tbl(s, dir, "documents")
    docs.select(col("doc_id"), col("lang"), col("text"))
      .join(graft.text.Entropy.unigramEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), col("millibits_per_token")), Seq("doc_id"))
  }

  /** The assembled vote frame, landed once per session (r16, guide §2.4):
    * three declared consumers (weak_label_votes, weak_label_agreement,
    * fleiss_kappa) each rebuilt the entropy join + quality scoring from
    * documents; the landed projection (one answer-sized row per doc, text
    * dropped) is built by whichever runs first and read by the rest — the
    * cross-query `Stages.materialize` memo the dsir/minhash stages use.
    */
  private def lfVoted(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.relational.Stages.materialize(
      graft.text.WeakLabels.majorityVote(lfInput(s, dir), lfVoteCols)
        .select(col("doc_id"), col("lf_lang"), col("lf_quality"),
          col("lf_entropy"), col("votes_pos"), col("votes_neg"),
          col("n_abstain"), col("label")),
      "lf_votes")

  /** Shared oracle CTEs computing the three LF votes per doc. */
  private val lfVoteCtes =
    s"""WITH tf AS (SELECT doc_id, t, COUNT(*) AS c FROM (
          $tokenize)
        GROUP BY 1, 2),
      tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
      en AS (SELECT tf.doc_id,
               (1000 * CAST(SUM(c * (length(bin(n_tokens // c)) - 1)) AS BIGINT))
                 // tot.n_tokens AS mbt
             FROM tf JOIN tot USING (doc_id) GROUP BY tf.doc_id, tot.n_tokens),
      qs AS (SELECT doc_id,
               0.3::DOUBLE * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')))
             + 0.4::DOUBLE * least(1.0::DOUBLE,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0::DOUBLE)
             + 0.3::DOUBLE * (1.0::DOUBLE -
                 CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
                 / len(string_split(text, ' '))) AS q
             FROM documents),
      lf AS (SELECT d.doc_id,
               CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END AS lf_lang,
               CASE WHEN qs.q >= 0.7 THEN 1 WHEN qs.q < 0.4 THEN -1 ELSE 0 END AS lf_quality,
               CASE WHEN en.mbt >= 3000 THEN 1 WHEN en.mbt < 1500 THEN -1 ELSE 0 END AS lf_entropy
             FROM documents d JOIN qs USING (doc_id) JOIN en USING (doc_id))"""

  /** IVF kNN chain + symmetrized edges + the 4 deterministic LPA rounds
    * through `l4(id, lab)` — shared by the communities oracle and the
    * modularity oracle so both replay the IDENTICAL partition.
    */
  private def lpaChainCtes: String = {
    val roundCtes = (1 to 4).map { r =>
      val prev = s"l${r - 1}"
      s"""v$r AS (SELECT sym.v AS id, $prev.lab, COUNT(*) AS c
           FROM sym JOIN $prev ON $prev.id = sym.u GROUP BY 1, 2),
      b$r AS (SELECT id, lab FROM (
           SELECT id, lab, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
           FROM v$r) t WHERE rn = 1),
      l$r AS (SELECT $prev.id, COALESCE(b$r.lab, $prev.lab) AS lab
           FROM $prev LEFT JOIN b$r USING (id))"""
    }.mkString(",\n        ")
    s"""WITH $knnUndCte,
        sym AS MATERIALIZED (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        l0 AS (SELECT vec_id AS id, vec_id AS lab FROM e),
        $roundCtes"""
  }

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- O51: key-skew profiler -------------------------------------------
    // The shuffle-key pre-flight: hottest keys with share / uniform-multiple
    // in exact permille, exact percentile cuts over per-key frequencies, and
    // the salt factor that flattens the hottest key — the diagnosis feeding
    // Skew.saltedJoin and AQE skew config, oracle-checked.
    DeclaredQuery("key_skew_profile",
      (s, dir) => graft.relational.SkewProfile
        .hotKeys(events(s, dir), "user_id", topK = 5)
        .orderBy(desc("cnt"), col("key")),
      Some("""WITH pk AS (SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY 1),
        st AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(MAX(cnt) AS BIGINT) AS mx,
                 quantile_cont(cnt, 0.5) AS p50_cnt,
                 quantile_cont(cnt, 0.99) AS p99_cnt FROM pk),
        top AS (SELECT key, cnt FROM pk ORDER BY cnt DESC, key LIMIT 5)
        SELECT key, cnt,
          CAST((1000 * cnt) // total AS BIGINT) AS share_permille,
          CAST((1000 * cnt * n_keys) // total AS BIGINT) AS uniform_x_permille,
          n_keys, total, p50_cnt, p99_cnt,
          CAST((mx * n_keys + total - 1) // total AS BIGINT) AS salt_factor
        FROM top CROSS JOIN st ORDER BY cnt DESC, key""")),

    // ---- O51b: diagnosis→remedy composition — the profiler DRIVES the
    // salted join. key_skew_profile's salt_factor is the library's own
    // advertised prescription; this row closes the loop end to end: run the
    // diagnosis (one keyed agg + 1-row stats — the bounded-model-collect
    // class), take its salt_factor as the bucket count, and execute
    // Skew.saltedJoin with it. Salting never changes RESULTS (each big-side
    // row still matches its dim row exactly once, any bucket count), so the
    // oracle is the plain join PLUS the replayed salt-factor arithmetic —
    // proving both the remedy's correctness and the diagnosis value
    // actually used.
    DeclaredQuery("skew_salted_join_auto",
      (s, dir) => {
        val ev = events(s, dir)
          .withColumn("custkey", (col("user_id") + 1).cast("long"))
        val buckets = graft.relational.SkewProfile
          .hotKeys(ev, "custkey", topK = 1)
          .select(col("salt_factor")).head().getLong(0).toInt
        val dim = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.relational.Skew.saltedJoin(ev, "custkey", dim, "c_custkey",
          spreadCol = col("event_id"), saltBuckets = buckets)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("salt_buckets", lit(buckets.toLong))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH pk AS (SELECT user_id + 1 AS key, COUNT(*) AS cnt FROM events GROUP BY 1),
        st AS (SELECT CAST((MAX(cnt) * COUNT(*) + SUM(cnt) - 1) // SUM(cnt) AS BIGINT) AS sf
               FROM pk)
        SELECT c.c_mktsegment, COUNT(*) AS n_events, st.sf AS salt_buckets
        FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1 CROSS JOIN st
        GROUP BY 1, 3 ORDER BY 1""")),

    // ---- O52: quality-ordered token-budget water-fill ---------------------
    // "Which sources make the cut for a half-corpus run": per-source token
    // counts + en-share quality, filled highest-quality-first until the
    // budget (total div 2) runs out. The source table is dimension-sized —
    // the cumulative fill is the bounded-model-collect class (k-means
    // centroids, BPE argmax), NOT a data-path collect.
    DeclaredQuery("token_budget_waterfill",
      (s, dir) => {
        val perSource = tbl(s, dir, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
            expr("(1000L * sum(CASE WHEN lang = 'en' THEN 1L ELSE 0L END)) div count(1)")
              .as("q"))
        val budget = perSource.agg(sum(col("n_tokens"))).head().getLong(0) / 2
        graft.text.Budget.waterFill(perSource, "source", "n_tokens", "q", budget)
          .orderBy(col("fill_rank"))
      },
      Some("""WITH ps AS (SELECT source,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                 CAST((1000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS q
               FROM documents GROUP BY 1),
        b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS budget FROM ps),
        r AS (SELECT ps.*, ROW_NUMBER() OVER (ORDER BY q DESC, source) AS rk,
                CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY q DESC, source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
              FROM ps)
        SELECT source, n_tokens, q AS quality_permille, CAST(rk AS BIGINT) AS fill_rank,
          LEAST(n_tokens, GREATEST(0, budget - cum_before)) AS alloc_tokens,
          LEAST(n_tokens, GREATEST(0, budget - cum_before)) = n_tokens AS taken_whole
        FROM r CROSS JOIN b ORDER BY fill_rank""")),

    // ---- O53: k-core peeling over the IVF kNN graph -----------------------
    // Coreness on the similarity graph: 4 fixed peel rounds at k=2, emitting
    // each node's peel round (0 = core survivor) and survivor degree. Edge
    // build is the IVF path (no O(n²) stage); the edge frame lands once so
    // rounds don't re-derive it; every round is degree-agg + semi-joins,
    // equi-keyed on node id. Oracle replays all rounds as chained CTEs.
    DeclaredQuery("knn_kcore_peeling",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        // shared landed undirected-edge stage (Dsl.knnUndirected)
        val und = knnUndirected(s, dir)
        graft.dedup.KCore.peelingTrace(
          emb.select(col("vec_id")), "vec_id", und, "a", "b",
          k = 2, rounds = 4)
          .orderBy(col("id"))
      },
      Some {
        val roundCtes = (1 to 4).map { r =>
          val prev = if (r == 1) "a0" else s"a${r - 1}"
          s"""dg$r AS (SELECT u AS id, COUNT(*) AS d FROM sym
               JOIN $prev x ON x.id = sym.u JOIN $prev y ON y.id = sym.v GROUP BY 1),
          p$r AS (SELECT $prev.id FROM $prev LEFT JOIN dg$r USING (id) WHERE COALESCE(d, 0) < 2),
          a$r AS (SELECT $prev.id FROM $prev LEFT JOIN dg$r USING (id) WHERE COALESCE(d, 0) >= 2)"""
        }.mkString(",\n        ")
        s"""WITH $knnUndCte,
        sym AS MATERIALIZED (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        a0 AS (SELECT vec_id AS id FROM e),
        $roundCtes,
        fd AS (SELECT u AS id, COUNT(*) AS d FROM sym
               JOIN a4 x ON x.id = sym.u JOIN a4 y ON y.id = sym.v GROUP BY 1)
        SELECT a0.id,
          CAST(CASE WHEN a0.id IN (SELECT id FROM p1) THEN 1
               WHEN a0.id IN (SELECT id FROM p2) THEN 2
               WHEN a0.id IN (SELECT id FROM p3) THEN 3
               WHEN a0.id IN (SELECT id FROM p4) THEN 4
               ELSE 0 END AS BIGINT) AS peel_round,
          CAST(CASE WHEN a0.id IN (SELECT id FROM a4) THEN COALESCE(fd.d, 0)
               ELSE 0 END AS BIGINT) AS final_degree
        FROM a0 LEFT JOIN fd ON fd.id = a0.id
        ORDER BY a0.id"""
      }),

    // ---- O57: LPA communities over the IVF kNN graph ----------------------
    // Deterministic synchronous label propagation (4 rounds, count-desc /
    // label-asc tiebreak): the finer-than-CC community structure used for
    // topical sampling strata. Per-round: edge⋈label join + count + bounded-
    // heap top-1 per node — no corpus window; oracle replays the rounds.
    DeclaredQuery("knn_lpa_communities",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        // shared landed undirected-edge stage (Dsl.knnUndirected)
        val und = knnUndirected(s, dir)
        val lab = graft.dedup.LabelProp.communities(
          emb.select(col("vec_id")), "vec_id", und, "a", "b", rounds = 4)
        val sizes = lab.groupBy(col("community")).agg(count(lit(1)).as("comm_size"))
        lab.join(sizes, Seq("community"))
          .select(col("id"), col("community"), col("comm_size"))
          .orderBy(col("id"))
      },
      Some(s"""$lpaChainCtes,
        cs AS (SELECT lab, COUNT(*) AS n FROM l4 GROUP BY 1)
        SELECT l4.id, l4.lab AS community, cs.n AS comm_size
        FROM l4 JOIN cs USING (lab)
        ORDER BY l4.id""")),

    // ---- O77: modularity of the LPA partition ------------------------------
    // The acceptance check for the community structure itself: Newman
    // modularity Q = Σ_c[e_c/m − (d_c/2m)²] of the 4-round LPA labels over
    // the SAME landed kNN edges, as the exact micro-scaled rational
    // 10⁶·Σ(4m·e_c − d_c²) div 4m² — "is this partition better than
    // chance", per community and in total, negatives included. The oracle
    // replays the full IVF+LPA chain and the identical integer arithmetic.
    DeclaredQuery("lpa_modularity",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val und = knnUndirected(s, dir)
        val lab = graft.dedup.LabelProp.communities(
          emb.select(col("vec_id")), "vec_id", und, "a", "b", rounds = 4)
        graft.dedup.GraphMetrics.modularity(lab, "id", "community",
          und, "a", "b")
          .orderBy(col("community"))
      },
      Some(s"""$lpaChainCtes,
        deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY 1),
        dc AS (SELECT l4.lab AS community, COUNT(*) AS n_nodes,
                 CAST(SUM(COALESCE(deg.d, 0)) AS HUGEINT) AS d_c
               FROM l4 LEFT JOIN deg USING (id) GROUP BY 1),
        ec AS (SELECT la.lab AS community, CAST(COUNT(*) AS HUGEINT) AS e_c
               FROM und JOIN l4 la ON la.id = und.a JOIN l4 lb ON lb.id = und.b
               WHERE la.lab = lb.lab GROUP BY 1),
        mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM und),
        per AS (SELECT dc.community, dc.n_nodes, COALESCE(ec.e_c, 0) AS e_c,
                  dc.d_c, 4 * m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS term, m
                FROM dc LEFT JOIN ec USING (community) CROSS JOIN mm),
        tot AS (SELECT CAST(SUM(term) AS HUGEINT) AS num, MAX(m) AS m2 FROM per)
        SELECT community, n_nodes, CAST(e_c AS BIGINT) AS internal_edges,
          CAST(d_c AS BIGINT) AS degree_sum,
          CAST((1000000 * term) // (4 * m * m) AS BIGINT) AS q_contrib_micro,
          CAST((1000000 * num) // (4 * m2 * m2) AS BIGINT) AS modularity_micro
        FROM per CROSS JOIN tot
        ORDER BY community""")),

    // ---- O81: link prediction over the kNN graph ---------------------------
    // Which similar-doc edge is the dedup graph about to grow: for non-edge
    // pairs sharing neighbors on the SAME landed kNN edges, common-neighbor
    // count + the Adamic–Adar score with the integer-bits weight
    // 10⁶ div ⌊log₂ d_z⌋ — near-dup candidates the k-cut of the kNN build
    // itself missed, and the recommendation primitive over the doc graph.
    // One equi-keyed wedge self-join (the triangle census bound), an
    // anti-join against existing edges, a TakeOrdered shortlist.
    DeclaredQuery("knn_link_prediction",
      (s, dir) => graft.dedup.GraphMetrics
        .linkPrediction(knnUndirected(s, dir), "a", "b", topK = 20),
      Some(s"""WITH $knnUndCte,
        sym AS MATERIALIZED (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY 1),
        wedge AS (SELECT s1.u AS x, s2.v AS y, s1.v AS z
                  FROM sym s1 JOIN sym s2 ON s2.u = s1.v
                  WHERE s1.u < s2.v),
        non AS (SELECT w.x, w.y, w.z FROM wedge w
                LEFT JOIN und ON und.a = w.x AND und.b = w.y
                WHERE und.a IS NULL),
        sc AS (SELECT x AS a, y AS b, COUNT(*) AS common_neighbors,
                 CAST(SUM(1000000 // (length(bin(d)) - 1)) AS BIGINT) AS aa_micro
               FROM non JOIN deg ON deg.id = non.z GROUP BY 1, 2)
        SELECT a, b, common_neighbors, aa_micro FROM sc
        ORDER BY common_neighbors DESC, aa_micro DESC, a, b LIMIT 20""")),

    // ---- O58: weak-supervision majority vote ------------------------------
    // The Snorkel-shaped quality committee: three LFs (lang, quality score,
    // entropy band) vote {−1, 0, +1}; docs get the deterministic majority
    // label (tie → abstain). Vote assembly is row-local over the doc⋈entropy
    // frame — the library's lone-gatekeeper signals become voters.
    DeclaredQuery("weak_label_votes",
      (s, dir) => lfVoted(s, dir).orderBy(col("doc_id")),
      Some(s"""$lfVoteCtes,
        v AS (SELECT doc_id,
                CAST(lf_lang AS BIGINT) AS lf_lang,
                CAST(lf_quality AS BIGINT) AS lf_quality,
                CAST(lf_entropy AS BIGINT) AS lf_entropy,
                CAST((CASE WHEN lf_lang = 1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_quality = 1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_entropy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS votes_pos,
                CAST((CASE WHEN lf_lang = -1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_quality = -1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_entropy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS votes_neg
              FROM lf)
        SELECT doc_id, lf_lang, lf_quality, lf_entropy, votes_pos, votes_neg,
          3 - votes_pos - votes_neg AS n_abstain,
          CASE WHEN votes_pos > votes_neg THEN 'pos'
               WHEN votes_neg > votes_pos THEN 'neg'
               ELSE 'abstain' END AS label
        FROM v ORDER BY doc_id""")),

    // ---- O58b: LF agreement/conflict matrix -------------------------------
    // Which heuristics are redundant, which disagree: pairwise coverage /
    // agreement / conflict counts with permille agreement over co-votes —
    // k²/2 answer-sized conditional aggregations over the vote frame.
    DeclaredQuery("weak_label_agreement",
      (s, dir) => graft.text.WeakLabels
        .agreementMatrix(lfVoted(s, dir), lfVoteCols.map(_._1))
        .orderBy(col("lf_a"), col("lf_b")),
      Some {
        // pairs in the Spark side's declaration order; the shared final
        // ORDER BY (lf_a, lf_b) makes row order engine-independent
        val sels = Seq(("lf_lang", "lf_quality"), ("lf_lang", "lf_entropy"),
          ("lf_quality", "lf_entropy")).map { case (a, b) =>
          s"""SELECT '$a' AS lf_a, '$b' AS lf_b,
              CAST(SUM(CASE WHEN $a <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_a,
              CAST(SUM(CASE WHEN $b <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_b,
              CAST(SUM(CASE WHEN $a <> 0 AND $b <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
              CAST(SUM(CASE WHEN $a <> 0 AND $b <> 0 AND $a = $b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
              CAST(SUM(CASE WHEN $a <> 0 AND $b <> 0 AND $a <> $b THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
              CAST(CASE WHEN SUM(CASE WHEN $a <> 0 AND $b <> 0 THEN 1 ELSE 0 END) = 0 THEN 0
                   ELSE (1000 * SUM(CASE WHEN $a <> 0 AND $b <> 0 AND $a = $b THEN 1 ELSE 0 END))
                        // SUM(CASE WHEN $a <> 0 AND $b <> 0 THEN 1 ELSE 0 END) END AS BIGINT)
                AS agree_permille
              FROM lf"""
        }.mkString("\n        UNION ALL\n        ")
        s"""$lfVoteCtes
        SELECT * FROM (
        $sels
        ) ORDER BY lf_a, lf_b"""
      }),

    // ---- O58c: Fleiss' kappa of the full committee -------------------------
    // The committee-level chance-corrected agreement (Fleiss 1971) over the
    // same three labeling functions: pairwise matrices can look fine while
    // the committee as a whole is chance-level. Categories {+1,−1,abstain};
    // exact rational arithmetic in DECIMAL(38,0), truncating-division
    // permille (the classifier_kappa discipline; negative kappas included).
    DeclaredQuery("fleiss_kappa",
      (s, dir) => graft.text.WeakLabels.fleissKappa(lfVoted(s, dir), k = 3),
      Some(s"""$lfVoteCtes,
        v AS (SELECT doc_id,
                CAST((CASE WHEN lf_lang = 1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_quality = 1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_entropy = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS np,
                CAST((CASE WHEN lf_lang = -1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_quality = -1 THEN 1 ELSE 0 END +
                      CASE WHEN lf_entropy = -1 THEN 1 ELSE 0 END) AS HUGEINT) AS nn
              FROM lf),
        w AS (SELECT doc_id, np, nn, 3 - np - nn AS na FROM v),
        a AS (SELECT COUNT(*) AS n_docs,
                CAST(SUM(np * np + nn * nn + na * na) AS HUGEINT) - 3 * COUNT(*) AS aa,
                CAST(SUM(np) AS HUGEINT) AS sp, CAST(SUM(nn) AS HUGEINT) AS sn,
                CAST(SUM(na) AS HUGEINT) AS sa
              FROM w)
        SELECT n_docs, CAST(3 AS BIGINT) AS n_raters,
          CAST((1000 * aa) // (n_docs * 6) AS BIGINT) AS pbar_permille,
          CAST((1000 * (sp * sp + sn * sn + sa * sa)) // (n_docs * 3 * n_docs * 3) AS BIGINT)
            AS pe_permille,
          CAST(CASE WHEN n_docs * 3 * n_docs * 3 = sp * sp + sn * sn + sa * sa THEN 0
            ELSE (1000 * (aa * (n_docs * 3 * n_docs * 3) - (n_docs * 6) * (sp * sp + sn * sn + sa * sa)))
                 // ((n_docs * 6) * (n_docs * 3 * n_docs * 3 - (sp * sp + sn * sn + sa * sa))) END
            AS BIGINT) AS kappa_permille
        FROM a""")),

    // ---- O59: sessionized trajectory assembly -----------------------------
    // The behavioral-cloning / agent-training data shape: per (user,
    // session) the ORDERED event-type trajectory string, duration, and an
    // integer-exact value total. Sessionization is the events_sessions gap
    // rule (30 min on event_id order); the trajectory is assembled from a
    // sorted struct list — deterministic because event_id is unique — and
    // DuckDB replays it with ordered string_agg.
    DeclaredQuery("session_episodes",
      (s, dir) => {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("event_id"))
        val frame = byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        val flagged = events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
              .otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(frame))
        flagged.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(col("ts").cast("long")) - min(col("ts").cast("long")))
              .as("duration_sec"),
            array_join(transform(
              array_sort(collect_list(struct(col("event_id"), col("event_type")))),
              x => x.getField("event_type")), ">").as("trajectory"),
            sum(floor(col("value") * 100).cast("long")).as("value_cents"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some("""WITH l AS (
          SELECT user_id, event_id, event_type, ts, value,
            LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
          FROM events),
        g AS (SELECT *,
            CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
                 THEN 1 ELSE 0 END AS new_sess FROM l),
        sx AS (SELECT user_id, event_id, event_type, ts, value,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM g)
        SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
          CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec,
          string_agg(event_type, '>' ORDER BY event_id) AS trajectory,
          CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM sx GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- O60: span-corruption planning (T5/UL2 denoising prep) ------------
    // Deterministic md5-seeded mask-span starts (rate 1/10, span 3), island-
    // merged coverage, corruption permille — the denoising-objective layout
    // audit, portable-hash reproducible in both engines.
    DeclaredQuery("span_corruption_plan",
      (s, dir) => graft.text.SpanCorruption
        .plan(tbl(s, dir, "documents"), "doc_id", "text",
          spanLen = 3, rate = 10)
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (
          SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
          FROM documents),
        tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tk GROUP BY 1),
        st AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM tk
               WHERE ${md5Bits60("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 10 = 0),
        brk AS (SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 2
                      THEN 0 ELSE 1 END AS b
               FROM st),
        isl AS (SELECT doc_id, pos,
                 SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
               FROM brk),
        pi AS (SELECT doc_id, i, MIN(pos) AS p0, MAX(pos) AS p1, COUNT(*) AS ns
               FROM isl GROUP BY 1, 2),
        pd AS (SELECT pi.doc_id, CAST(SUM(ns) AS BIGINT) AS n_starts,
                 COUNT(*) AS n_spans,
                 CAST(SUM(LEAST(p1 + 3, n_tokens) - p0) AS BIGINT) AS masked_tokens
               FROM pi JOIN tot USING (doc_id) GROUP BY 1)
        SELECT tot.doc_id, CAST(tot.n_tokens AS BIGINT) AS n_tokens,
          COALESCE(pd.n_starts, 0) AS n_starts,
          COALESCE(pd.n_spans, 0) AS n_spans,
          COALESCE(pd.masked_tokens, 0) AS masked_tokens,
          (1000 * COALESCE(pd.masked_tokens, 0)) // tot.n_tokens AS corruption_permille
        FROM tot LEFT JOIN pd USING (doc_id) ORDER BY tot.doc_id""")),

    // ---- O61: median/MAD robust outlier gate ------------------------------
    // Heavy-tail-safe value sanity per event type: |x − med| > 3·MAD with
    // exact-midpoint percentiles (IEEE-identical to quantile_cont) and a
    // multiply-not-divide rule, so verdicts hash-match.
    DeclaredQuery("robust_value_outliers",
      (s, dir) => graft.relational.RobustStats
        .madOutliers(events(s, dir), "event_type", "value", k = 3.0)
        .orderBy(col("event_type")),
      Some("""WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v FROM events),
        med AS (SELECT grp, quantile_cont(v, 0.5) AS med FROM v GROUP BY 1),
        wa AS (SELECT v.grp, v.v, med.med, abs(v.v - med.med) AS ad
               FROM v JOIN med USING (grp)),
        mad AS (SELECT grp, quantile_cont(ad, 0.5) AS mad FROM wa GROUP BY 1)
        SELECT wa.grp AS event_type, COUNT(*) AS n,
          MAX(wa.med) AS med, MAX(mad.mad) AS mad,
          CAST(SUM(CASE WHEN wa.ad > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
            AS n_outliers,
          CAST((1000 * SUM(CASE WHEN wa.ad > 3.0 * mad.mad THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS outlier_permille
        FROM wa JOIN mad USING (grp)
        GROUP BY 1 ORDER BY 1""")),

    // ---- O62: pseudonymization audit --------------------------------------
    // GDPR-style re-keying that must preserve join structure: user_id →
    // salted md5-prefix pseudonym; per event type the pseudonym-keyed
    // distinct count must equal the original (collision ledger — the
    // released dataset joins exactly like the internal one, unlinkably).
    DeclaredQuery("pseudonymize_users",
      (s, dir) => {
        val ev = events(s, dir).withColumn("pseud",
          graft.text.Redact.pseudonymizeKey(col("user_id"), "rel2026"))
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(col("pseud")).as("n_pseudonyms"),
            min(col("pseud")).as("first_pseudonym"))
          .withColumn("collision_free", col("n_users") === col("n_pseudonyms"))
          .orderBy(col("event_type"))
      },
      Some("""WITH p AS (SELECT event_type, user_id,
                 substring(md5('rel2026:' || CAST(user_id AS VARCHAR)), 1, 16) AS pseud
               FROM events)
        SELECT event_type, COUNT(*) AS n_events,
          COUNT(DISTINCT user_id) AS n_users,
          COUNT(DISTINCT pseud) AS n_pseudonyms,
          MIN(pseud) AS first_pseudonym,
          COUNT(DISTINCT user_id) = COUNT(DISTINCT pseud) AS collision_free
        FROM p GROUP BY 1 ORDER BY 1""")),

    // ---- O63: Heaps'-law vocabulary growth --------------------------------
    // Distinct vocabulary vs corpus fraction in doc-id order: new terms
    // attributed to their first-occurrence doc's decile (order-free min),
    // cumulatives via the two-phase prefix sum — the "is more data still
    // adding vocabulary" corpus report.
    DeclaredQuery("vocab_growth_curve",
      (s, dir) => graft.text.CorpusStats
        .vocabGrowth(tbl(s, dir, "documents"), "doc_id", "text", nBuckets = 10)
        .orderBy(col("bucket")),
      Some {
        val qs = (1 to 9).map(i => s"0.$i").mkString(", ")
        val bucketSql = (1 to 9)
          .map(i => s"CASE WHEN {0} > cs[$i] THEN 1 ELSE 0 END")
          .mkString(" + ")
        def b(c: String) = bucketSql.replace("{0}", c) + " + 1"
        s"""WITH cuts AS (SELECT quantile_cont(doc_id, [$qs]) AS cs FROM documents),
        pd AS (SELECT CAST(${b("doc_id")} AS BIGINT) AS bucket,
                 COUNT(*) AS n_docs,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents CROSS JOIN cuts GROUP BY 1),
        fd AS (SELECT t, MIN(doc_id) AS fd FROM (
                 $tokenize)
               GROUP BY 1),
        nt AS (SELECT CAST(${b("fd")} AS BIGINT) AS bucket, COUNT(*) AS new_terms
               FROM fd CROSS JOIN cuts GROUP BY 1),
        m AS (SELECT pd.bucket, pd.n_docs, pd.n_tokens,
                COALESCE(nt.new_terms, 0) AS new_terms
              FROM pd LEFT JOIN nt USING (bucket))
        SELECT bucket, n_docs, n_tokens, new_terms,
          CAST(SUM(new_terms) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab,
          CAST(SUM(n_tokens) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM m ORDER BY bucket"""
      }),

    // ---- O64: Church–Gale term burstiness ---------------------------------
    // Terms concentrating in few docs (high tf/df) vs evenly-spread glue:
    // exact permille ratio + integer-bits idf, TakeOrdered top-20 at
    // support ≥ 20 occurrences.
    DeclaredQuery("term_burstiness",
      (s, dir) => graft.text.CorpusStats
        .burstiness(tbl(s, dir, "documents"), "doc_id", "text",
          minTf = 20L, topK = 20)
        .orderBy(desc("burst_permille"), col("term")),
      Some(s"""WITH toks AS ($tokenize),
        st AS (SELECT t, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
               FROM toks GROUP BY 1 HAVING COUNT(*) >= 20),
        n AS (SELECT COUNT(*) AS nd FROM documents)
        SELECT t AS term, tf, df,
          (1000 * tf) // df AS burst_permille,
          CAST(length(bin(nd // df)) - 1 AS BIGINT) AS idf_bits
        FROM st CROSS JOIN n
        ORDER BY burst_permille DESC, term LIMIT 20""")),

    // ---- O65: exact quantile-rank normalization ---------------------------
    // NB margins to permille ranks (strictly-below CDF): distinct-value
    // frame + two-phase prefix sum + broadcast CDF join back — the
    // scale-free calibration that makes heterogeneous signals mixable.
    DeclaredQuery("quantile_normalize_margins",
      (s, dir) => {
        val scored = graft.text.QualityClassifier
          .score(tbl(s, dir, "documents"), "doc_id", "text",
            isPositive = col("lang") === "en")
          .select(col("doc_id"), col("margin_bits"))
        graft.relational.QuantileRank
          .permilleRank(scored, "margin_bits", "rank_permille")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $nbWeights,
        $nbMargin,
        n AS (SELECT COUNT(*) AS total FROM sc),
        cdf AS (SELECT margin_bits,
                 CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY margin_bits
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS below
               FROM sc GROUP BY margin_bits)
        SELECT sc.doc_id, sc.margin_bits,
          (1000 * cdf.below) // n.total AS rank_permille
        FROM sc JOIN cdf USING (margin_bits) CROSS JOIN n
        ORDER BY sc.doc_id""")),

    // ---- O51 streaming twin: per-window hot-key watch ---------------------
    // SkewProfile's production pairing: per-hour hottest keys computed IN
    // the stream (watermarked tumbling windows, state bounded by the
    // watermark), top-3 + share/uniform-multiple post-processed on the
    // drained answer-sized (hours × keys) frame — the live skew monitor
    // that tells an operator a hot key emerged BEFORE the batch job falls
    // over on it.
    DeclaredQuery("stream_hot_keys",
      (s, dir) => {
        val evs = Dsl.normalizeTs(replay(s, dir, "events", 2))
        val counts = graft.streaming.StreamingRouter.windowedCounts(
          evs, "ts", watermark = "2 hours", size = "1 hour", slide = "1 hour",
          "user_id")
        val hourly = graft.streaming.StreamingRouter.drainComplete(counts, "stream_hotkeys")
          .select(col("window.start").cast("timestamp_ntz").as("hour"),
            col("user_id"), col("n"))
        // r16 (guide §2.4): rank, hour totals, and key counts all ride ONE
        // hour-partitioned window pass over the drained (hours × keys)
        // frame — the r15 shape ran a typed top-k aggregation + a totals
        // groupBy + a join back (three hour-keyed passes). row_number over
        // (n DESC, user_id ASC) is the same deterministic total order the
        // heap used; full-partition sum/count equal the joined totals.
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("hour")).orderBy(desc("n"), col("user_id"))
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("hour"))
        hourly
          .withColumn("__rk", row_number().over(wOrd))
          .withColumn("__t", sum(col("n")).over(wAll))
          .withColumn("__nk", count(lit(1)).over(wAll))
          .filter(col("__rk") <= 3)
          .select(col("hour"), col("user_id"), col("n"),
            expr("(1000L * n) div __t").as("share_permille"),
            expr("(1000L * n * __nk) div __t").as("uniform_x_permille"))
          .orderBy(col("hour"), desc("n"), col("user_id"))
      },
      Some("""WITH c AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                 user_id, COUNT(*) AS n
               FROM events GROUP BY 1, 2),
        t AS (SELECT hour, CAST(SUM(n) AS BIGINT) AS tt, COUNT(*) AS nk
              FROM c GROUP BY 1),
        r AS (SELECT c.*, ROW_NUMBER() OVER (PARTITION BY hour
                ORDER BY n DESC, user_id) AS rk FROM c)
        SELECT r.hour, r.user_id, r.n,
          (1000 * r.n) // t.tt AS share_permille,
          (1000 * r.n * t.nk) // t.tt AS uniform_x_permille
        FROM r JOIN t USING (hour) WHERE rk <= 3
        ORDER BY r.hour, r.n DESC, r.user_id""")),

    // ---- O66: sliding-window burst/rate audit -----------------------------
    // Bot/abuse gate: per-user peak event count in any trailing 60 s window
    // (exact per-key RANGE window over epoch seconds), verdict at > 5
    // events/minute — scripted traffic flagged before its events become
    // engagement labels.
    DeclaredQuery("rate_limit_audit",
      (s, dir) => graft.relational.RateAudit
        .peakRates(events(s, dir), "user_id", "ts",
          windowSec = 60L, maxPerWindow = 5L)
        .orderBy(col("user_id")),
      Some("""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        w AS (SELECT user_id,
                COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                  RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS inwin
              FROM e)
        SELECT user_id, COUNT(*) AS n_events,
          CAST(MAX(inwin) AS BIGINT) AS peak_in_window,
          MAX(inwin) > 5 AS limited
        FROM w GROUP BY 1 ORDER BY 1""")),

    // ---- O67: Cohen's kappa between classifiers ---------------------------
    // Chance-corrected agreement between the NB quality filter's 'pos'
    // verdict and the n-gram language-ID's 'en' verdict — the
    // inter-annotator statistic raw agreement flatters; exact integer
    // permille throughout.
    DeclaredQuery("classifier_kappa",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val scored = graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
          .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        graft.text.WeakLabels.cohenKappa(scored,
          col("predicted") === "pos",
          graft.text.TextFunctions.langId(col("text")) === "en")
      },
      Some(s"""WITH $nbWeights,
        $nbBits,
        lid AS (SELECT doc_id,
                 $langScores
               FROM documents),
        r AS (SELECT sc.doc_id,
                sc.bits_pos < sc.bits_neg AS ra,
                greatest(s_en, s_es, s_fr, s_de, s_zh) > 0
                  AND s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AS rb
              FROM sc JOIN lid USING (doc_id)),
        agg AS (SELECT COUNT(*) AS n,
                 CAST(SUM(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS a_yes,
                 CAST(SUM(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS b_yes,
                 CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
               FROM r),
        p AS (SELECT *, (1000 * n_agree) // n AS po_permille,
                (1000 * (a_yes * b_yes + (n - a_yes) * (n - b_yes))) // (n * n)
                  AS pe_permille
              FROM agg)
        SELECT n, a_yes, b_yes, n_agree, po_permille, pe_permille,
          CAST(CASE WHEN pe_permille = 1000 THEN 0
               ELSE (1000 * (po_permille - pe_permille)) // (1000 - pe_permille)
               END AS BIGINT) AS kappa_permille
        FROM p""")),

    // ---- O68: per-source embedding dispersion -----------------------------
    // Diversity monitor: total pairwise squared distance per label WITHOUT
    // a pair join (the Σ_d(n·Q − S²) identity); shrinking dispersion at
    // constant n = mode collapse. Exact HUGEINT-scale values ride as
    // decimal strings (the only lossless cross-engine rendering).
    DeclaredQuery("embedding_dispersion",
      (s, dir) => graft.vector.Dispersion
        .perGroup(tbl(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label")),
      Some("""WITH e AS (
          SELECT label, generate_subscripts(embedding, 1) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv
          FROM embeddings),
        s AS (SELECT label, dim, CAST(SUM(qv) AS HUGEINT) AS sm,
                CAST(SUM(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS q2,
                COUNT(*) AS n
              FROM e GROUP BY 1, 2)
        SELECT CAST(label AS BIGINT) AS label, MAX(n) AS n,
          CAST(CAST(SUM(n * q2 - sm * sm) AS HUGEINT) AS VARCHAR) AS dispersion
        FROM s GROUP BY 1 ORDER BY 1""")),

    // ---- O69: embedding batch drift ---------------------------------------
    // "Did the new crawl move the distribution": (n1·n2)²-scaled squared
    // distance between the two halves' mean vectors from per-dim sums only
    // — centroids never materialize as floats. Halves split at the id
    // median (old ids = old batch).
    DeclaredQuery("embedding_batch_drift",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val mid = emb.agg(expr("percentile(vec_id, 0.5)").as("__m"))
        graft.vector.Dispersion.halfDrift(
          emb.crossJoin(broadcast(mid)),
          "embedding", col("vec_id").cast("double") <= col("__m"))
      },
      Some("""WITH m AS (SELECT quantile_cont(vec_id, 0.5) AS mid FROM embeddings),
        e AS (SELECT CAST(vec_id AS DOUBLE) <= m.mid AS h1,
                generate_subscripts(embedding, 1) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv
              FROM embeddings CROSS JOIN m),
        s AS (SELECT dim,
                CAST(SUM(CASE WHEN h1 THEN qv ELSE 0 END) AS HUGEINT) AS s1,
                CAST(SUM(CASE WHEN h1 THEN 0 ELSE qv END) AS HUGEINT) AS s2,
                CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(SUM(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS n2
              FROM e GROUP BY 1)
        SELECT MAX(n1) AS n_first, MAX(n2) AS n_second,
          CAST(CAST(SUM((n2 * s1 - n1 * s2) * (n2 * s1 - n1 * s2)) AS HUGEINT)
            AS VARCHAR) AS shift2_scaled
        FROM s""")),

    // ---- O70: dedup savings ledger ----------------------------------------
    // The number every dedup report leads with: per source, docs/tokens
    // before vs after exact dedup (min-doc_id survivor per md5 fingerprint,
    // corpus-wide so cross-source duplicates count once) and the permille
    // savings. One fingerprint aggregation + one keyed join — no pair work.
    DeclaredQuery("dedup_token_ledger",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("nt"),
            md5(col("text")).as("fp"))
        val keep = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
        docs.join(keep, Seq("fp"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("docs_before"),
            sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
              .as("docs_after"),
            sum(col("nt")).as("tokens_before"),
            sum(when(col("doc_id") === col("keep_id"), col("nt")).otherwise(0L))
              .as("tokens_after"))
          .withColumn("savings_permille",
            expr("(1000L * (tokens_before - tokens_after)) div tokens_before"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
                 md5(text) AS fp
               FROM documents),
        k AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
        SELECT source, COUNT(*) AS docs_before,
          CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
          CAST(SUM(nt) AS BIGINT) AS tokens_before,
          CAST(SUM(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END) AS BIGINT) AS tokens_after,
          CAST((1000 * (SUM(nt) - SUM(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END)))
            // SUM(nt) AS BIGINT) AS savings_permille
        FROM d JOIN k USING (fp)
        GROUP BY 1 ORDER BY 1""")),

    // ---- O71: vocabulary-coverage planning --------------------------------
    // "How big must the vocab be": corpus-token coverage of the top-K
    // frequency-ranked word types at K ∈ {100, 500, 2000} — the
    // tokenizer-budget planning curve. Ranks live on the vocabulary-sized
    // frequency frame (bounded top-K via TakeOrdered per K, ties freq
    // desc / term asc); coverage in exact permille.
    DeclaredQuery("vocab_coverage",
      (s, dir) => {
        val freq = tbl(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
        val total = freq.agg(sum(col("c")).as("__tot"))
        Seq(100, 500, 2000).map { k =>
          freq.orderBy(desc("c"), col("t")).limit(k)
            .agg(count(lit(1)).as("vocab_size"), sum(col("c")).as("covered"))
            .select(lit(k.toLong).as("k"), col("vocab_size"), col("covered"))
        }.reduce(_.union(_))
          .crossJoin(broadcast(total))
          .withColumn("coverage_permille", expr("(1000L * covered) div __tot"))
          .drop("__tot")
          .orderBy(col("k"))
      },
      Some("""WITH f AS (SELECT t, COUNT(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents)
          GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM f),
        r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM f),
        ks AS (SELECT unnest([100, 500, 2000]) AS k)
        SELECT CAST(ks.k AS BIGINT) AS k,
          CAST(COUNT(*) AS BIGINT) AS vocab_size,
          CAST(SUM(r.c) AS BIGINT) AS covered,
          CAST((1000 * SUM(r.c)) // MAX(tot.tt) AS BIGINT) AS coverage_permille
        FROM ks JOIN r ON r.rk <= ks.k CROSS JOIN tot
        GROUP BY ks.k ORDER BY 1""")),

    // ---- O55: unigram-entropy quality signal ------------------------------
    // The compressibility axis of quality filtering in integer bits
    // (libm-free, hash-identical): low = repetition/boilerplate, high =
    // token soup. One explode + two keyed aggregations, no model.
    DeclaredQuery("doc_entropy",
      (s, dir) => graft.text.Entropy
        .unigramEntropy(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH tf AS (SELECT doc_id, t, COUNT(*) AS c FROM (
            $tokenize)
          GROUP BY 1, 2),
        tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_distinct FROM tf GROUP BY 1),
        en AS (SELECT tf.doc_id,
                 CAST(SUM(c * (length(bin(n_tokens // c)) - 1)) AS BIGINT) AS entropy_bits
               FROM tf JOIN tot USING (doc_id) GROUP BY 1)
        SELECT tot.doc_id, tot.n_tokens, tot.n_distinct, en.entropy_bits,
          (1000 * en.entropy_bits) // tot.n_tokens AS millibits_per_token
        FROM tot JOIN en USING (doc_id) ORDER BY tot.doc_id""")),

    // ---- O88: per-source unigram KL from the corpus mixture ---------------
    // Integer-bits KL(source ‖ pool) = floor-log₂ cross-entropy minus own
    // entropy (see DomainDivergence scaladoc — a ranking signal; the
    // separate floors can dip a hair below zero for a source that matches
    // the mixture).
    DeclaredQuery("source_unigram_kl",
      (s, dir) => graft.text.DomainDivergence
        .perSourceKl(tbl(s, dir, "documents"), "source", "text")
        .orderBy(col("source")),
      Some("""WITH tf AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT source, unnest(string_split(text, ' ')) AS t
                     FROM documents)
               GROUP BY 1, 2),
        ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s,
                 COUNT(*) AS n_terms FROM tf GROUP BY 1),
        tg AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cg FROM tf GROUP BY 1),
        nn AS (SELECT CAST(SUM(cg) AS BIGINT) AS n FROM tg),
        e AS (SELECT tf.source,
                CAST(SUM(c * (length(bin(nn.n // cg)) - 1)) AS BIGINT)
                  AS cross_entropy_bits,
                CAST(SUM(c * (length(bin(n_s // c)) - 1)) AS BIGINT)
                  AS entropy_bits
              FROM tf JOIN tg USING (t) JOIN ts USING (source)
                   CROSS JOIN nn
              GROUP BY 1)
        SELECT ts.source, ts.n_s AS n_tokens, ts.n_terms,
          e.cross_entropy_bits, e.entropy_bits,
          (1000 * (e.cross_entropy_bits - e.entropy_bits)) // ts.n_s
            AS kl_millibits_per_token
        FROM ts JOIN e USING (source) ORDER BY ts.source""")),

    // ---- O99: token-ownership Gini ------------------------------------------
    // Corpus-balance audit: Gini of per-doc token counts + top-decile
    // share, exact via tie-averaged doubled ranks over the bounded
    // weight-class table (see Concentration scaladoc).
    DeclaredQuery("token_gini_concentration",
      (s, dir) => graft.relational.Concentration.gini(
        tbl(s, dir, "documents"),
        size(split(col("text"), " ")).cast("long")),
      Some("""WITH wts AS (SELECT CAST(length(text) -
               length(replace(text, ' ', '')) + 1 AS BIGINT) AS w
             FROM documents),
        cls AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wts GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(w * c) AS BIGINT) AS t FROM cls),
        rk AS (SELECT w, c,
                 2 * (SUM(c) OVER (ORDER BY w) - c) + c + 1 AS r2 FROM cls),
        srw AS (SELECT CAST(SUM(CAST(r2 AS HUGEINT) * w * c) AS HUGEINT)
                 AS s FROM rk),
        cum AS (SELECT w, c,
                 CAST(SUM(c) OVER (ORDER BY w DESC) AS BIGINT) AS cc,
                 CAST(SUM(w * c) OVER (ORDER BY w DESC) AS BIGINT) AS ct
               FROM cls),
        kk AS (SELECT (n + 9) // 10 AS k, t FROM tot),
        dec AS (SELECT (1000 * (ct - (cc - k) * w)) // t AS share
                FROM cum CROSS JOIN kk WHERE cc >= k
                ORDER BY cc LIMIT 1)
        SELECT tot.n AS n_rows, tot.t AS total_weight,
          CAST((CAST(1000000 AS HUGEINT) * (srw.s -
            CAST(tot.n + 1 AS HUGEINT) * tot.t)) //
            (CAST(tot.n AS HUGEINT) * tot.t) AS BIGINT) AS gini_micro,
          CAST(dec.share AS BIGINT) AS top_decile_share_permille
        FROM tot CROSS JOIN srw CROSS JOIN dec""")),

    // ---- O96: join-cardinality pre-flight ----------------------------------
    // Price |events ⋈ events on user_id| exactly BEFORE running it — the
    // session-explosion check; Σ c_A·c_B in DECIMAL(38,0), unbounded
    // outputs as decimal strings, worst-key share by the overflow-safe
    // branch (see JoinPreflight scaladoc).
    DeclaredQuery("join_cardinality_preflight",
      (s, dir) => {
        val e = events(s, dir)
        graft.relational.JoinPreflight.cardinality(e, "user_id", e, "user_id")
      },
      Some("""WITH ca AS (SELECT user_id AS k, CAST(COUNT(*) AS HUGEINT) AS c
               FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        j AS (SELECT a.c * b.c AS p FROM ca a JOIN ca b USING (k)),
        s AS (SELECT CAST(SUM(p) AS HUGEINT) AS est,
                CAST(COUNT(*) AS BIGINT) AS n_matched_keys,
                CAST(MAX(p) AS HUGEINT) AS mx FROM j)
        SELECT CAST(est AS VARCHAR) AS est_rows_str, n_matched_keys,
          CAST(mx AS VARCHAR) AS max_key_product_str,
          CAST(CASE WHEN est >= 1000 THEN mx // (est // 1000)
               ELSE (1000 * mx) // est END AS BIGINT)
            AS top_key_share_permille
        FROM s""")),

    // ---- O89: Wilson lower-bound quality ranking --------------------------
    // Per-source pass rate of a length gate, ranked by the z=2 Wilson
    // lower bound so thin evidence sinks (see Wilson scaladoc — one IEEE
    // expression over exact longs, exact floor to micro).
    DeclaredQuery("source_quality_wilson",
      (s, dir) => graft.relational.Wilson.lowerBound(
        tbl(s, dir, "documents"), "source", col("n_chars") >= 250)
        .orderBy(desc("wilson_lower_micro"), col("source")),
      Some("""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END)
                 AS BIGINT) AS k
             FROM documents GROUP BY 1),
        d AS (SELECT source, n, k, CAST(n AS DOUBLE) AS nd,
                CAST(k AS DOUBLE) AS kd FROM g)
        SELECT source, n, k, (1000 * k) // n AS pass_permille,
          CAST(FLOOR(1e6 * ((kd + 2.0 - 2.0 *
            sqrt(kd * (nd - kd) / nd + 1.0)) / (nd + 4.0))) AS BIGINT)
            AS wilson_lower_micro
        FROM d ORDER BY wilson_lower_micro DESC, source""")),

    // ---- O90: Zipf rank-octave curve + slope ------------------------------
    // The log-log Zipf plot at octave resolution with an exact-power-sums
    // OLS slope — all integer-bits, no libm log (see CorpusStats
    // .zipfOctaves scaladoc); ranks never materialize per term.
    DeclaredQuery("zipf_octave_curve",
      (s, dir) => graft.text.CorpusStats
        .zipfOctaves(tbl(s, dir, "documents"), "text")
        .orderBy(col("octave")),
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
               FROM documents),
        tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY 1),
        cls AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS m FROM tf GROUP BY 1),
        rk AS (SELECT f, m,
                 CAST(SUM(m) OVER (ORDER BY f DESC) AS BIGINT) - m AS r0
               FROM cls),
        sp AS (SELECT f, m, r0,
                 unnest(generate_series(length(bin(r0 + 1)) - 1,
                   length(bin(r0 + m)) - 1)) AS o
               FROM rk),
        ov AS (SELECT o, f,
                 least(r0 + m, (CAST(1 AS BIGINT) << (o + 1)) - 1)
                   - greatest(r0 + 1, CAST(1 AS BIGINT) << o) + 1 AS cnt
               FROM sp),
        oc AS (SELECT o AS octave, CAST(SUM(cnt) AS BIGINT) AS n_terms,
                 CAST(SUM(cnt * f) AS BIGINT) AS total_count,
                 CAST(SUM(cnt * (length(bin(f)) - 1)) AS BIGINT) AS sb
               FROM ov GROUP BY 1),
        oc2 AS (SELECT octave, n_terms, total_count,
                 (1000 * sb) // n_terms AS mean_freq_millibits FROM oc),
        s AS (SELECT COUNT(*) AS n, CAST(SUM(octave) AS BIGINT) AS sx,
                CAST(SUM(mean_freq_millibits) AS BIGINT) AS sy,
                CAST(SUM(octave * octave) AS BIGINT) AS sxx,
                CAST(SUM(mean_freq_millibits * mean_freq_millibits)
                  AS BIGINT) AS syy,
                CAST(SUM(octave * mean_freq_millibits) AS BIGINT) AS sxy
              FROM oc2),
        d AS (SELECT CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx,
                CAST(sy AS DOUBLE) AS sy, CAST(sxx AS DOUBLE) AS sxx,
                CAST(syy AS DOUBLE) AS syy, CAST(sxy AS DOUBLE) AS sxy
              FROM s)
        SELECT oc2.octave, oc2.n_terms, oc2.total_count,
          oc2.mean_freq_millibits,
          CASE WHEN (nd * sxx - sx * sx) = 0 OR (nd * syy - sy * sy) = 0
            THEN NULL ELSE
            (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
          CASE WHEN (nd * sxx - sx * sx) = 0 OR (nd * syy - sy * sy) = 0
            THEN NULL ELSE
            (nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) *
              sqrt(nd * syy - sy * sy)) END AS corr
        FROM oc2 CROSS JOIN d ORDER BY oc2.octave""")),

    // ---- O160: vocabulary projection (Chao1 + Good–Turing) ------------------
    // How much vocabulary is the corpus still missing — capture-recapture
    // from the frequency-of-frequencies, where Heaps' curve (O63) only
    // extrapolates visually. On TRIGRAMS: the unit must be open-class for
    // the estimate to mean anything (the fixture's 31-word unigram
    // vocabulary is closed — F₁ = 0, degenerate; measured trigram F₁ ≈
    // 9.4k of V ≈ 16k). Bias-corrected Chao1 so F₂ = 0 never divides by
    // zero; Good–Turing unseen mass in permille. See CorpusStats scaladoc.
    DeclaredQuery("vocab_unseen_mass",
      (s, dir) => graft.text.CorpusStats
        .vocabProjection(tbl(s, dir, "documents"), "text", gramN = 3),
      Some("""WITH tk AS (SELECT string_split(text, ' ') AS ts FROM documents),
        sh AS (SELECT unnest(list_transform(range(1, len(ts) - 1),
                 i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS g
               FROM tk WHERE len(ts) >= 3),
        tf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS f FROM sh GROUP BY 1),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
                CAST(SUM(f) AS BIGINT) AS n_grams,
                CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
              FROM tf)
        SELECT vocab, n_grams, f1, f2,
          vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS chao1_vocab_est,
          (1000 * f1) // n_grams AS unseen_mass_permille
        FROM t""")),

    // ---- O161: split-conformal quality floor + coverage audit ---------------
    // Turn a score into a gate with a distribution-free guarantee: τ is
    // the ⌊α(n+1)⌋-th smallest calibration score (exact GlobalRank — no
    // single-partition window, no α·n-row TakeOrdered to the driver), the
    // held-out half audits the promised coverage empirically. Split is the
    // house md5 arm; score here is integer lexical density (distinct
    // terms per 1000 tokens). See Conformal scaladoc.
    DeclaredQuery("conformal_density_floor",
      (s, dir) => graft.relational.Conformal.splitCoverage(
        tbl(s, dir, "documents"), "doc_id",
        expr("(1000L * size(array_distinct(split(text, ' ')))) div " +
          "size(split(text, ' '))"),
        alphaPermille = 100L, salt = "conf"),
      Some(s"""WITH sc AS (SELECT doc_id AS id,
                 (1000 * len(list_distinct(string_split(text, ' ')))) //
                   len(string_split(text, ' ')) AS s,
                 ${md5Bits60("'conf:' || CAST(doc_id AS VARCHAR)")} % 2 AS arm
               FROM documents),
        cal AS (SELECT * FROM sc WHERE arm = 0),
        tst AS (SELECT * FROM sc WHERE arm = 1),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal),
        rk AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s, id) AS rn FROM cal),
        tau AS (SELECT s AS tau FROM rk, nc
                WHERE rn = (100 * (nc.n + 1)) // 1000)
        SELECT nc.n AS n_cal,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM tst) AS n_test,
          CAST(100 AS BIGINT) AS alpha_permille, tau,
          (1000 * (SELECT CAST(COUNT(*) AS BIGINT) FROM tst WHERE s >= tau))
            // (SELECT COUNT(*) FROM tst) AS coverage_permille
        FROM nc, tau""")),

    // ---- O178: all-pairs Pearson matrix in one scan --------------------------
    // The profiling read per-pair APIs force into 6 scans: every pairwise
    // r over lineitem's 4 numeric columns from the 15 conditional sums of
    // ONE pass (at 100 TB the scan is the cost); r² permille by the CUPED
    // fixed-order truncation (never A², which passes 38 digits here),
    // sign separate. Fixture honesty: this generator draws the numeric
    // columns INDEPENDENTLY (measured corr(qty, price) = 0.003), so the
    // all-zero matrix is the correct null — real TPC-H would light up
    // qty↔extendedprice; the correlated path (y = 2x → r² = 1000) and
    // the constant-column flagging are spec-locked.
    DeclaredQuery("numeric_corr_matrix",
      (s, dir) => graft.relational.Correlation.pearsonMatrix(
        tbl(s, dir, "lineitem"), Seq(
          "qty" -> col("l_quantity"),
          "price_cents" ->
            expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"),
          "disc_pct" ->
            expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"),
          "tax_pct" ->
            expr("CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT)")))
        .orderBy(col("col_x"), col("col_y")),
      Some("""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
                 CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS price_cents,
                 CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
                   AS disc_pct,
                 CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) AS tax_pct
               FROM lineitem),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(qty) AS BIGINT) AS s_q, CAST(SUM(price_cents) AS BIGINT) AS s_p,
                CAST(SUM(disc_pct) AS BIGINT) AS s_d, CAST(SUM(tax_pct) AS BIGINT) AS s_t,
                SUM(CAST(qty AS HUGEINT) * qty) AS q_q,
                SUM(CAST(price_cents AS HUGEINT) * price_cents) AS q_p,
                SUM(CAST(disc_pct AS HUGEINT) * disc_pct) AS q_d,
                SUM(CAST(tax_pct AS HUGEINT) * tax_pct) AS q_t,
                SUM(CAST(qty AS HUGEINT) * price_cents) AS p_qp,
                SUM(CAST(qty AS HUGEINT) * disc_pct) AS p_qd,
                SUM(CAST(qty AS HUGEINT) * tax_pct) AS p_qt,
                SUM(CAST(price_cents AS HUGEINT) * disc_pct) AS p_pd,
                SUM(CAST(price_cents AS HUGEINT) * tax_pct) AS p_pt,
                SUM(CAST(disc_pct AS HUGEINT) * tax_pct) AS p_dt
              FROM b),
        r AS (
          SELECT 'qty' AS col_x, 'price_cents' AS col_y, n,
            n * p_qp - CAST(s_q AS HUGEINT) * s_p AS A,
            n * q_q - CAST(s_q AS HUGEINT) * s_q AS B,
            n * q_p - CAST(s_p AS HUGEINT) * s_p AS C FROM g
          UNION ALL SELECT 'qty', 'disc_pct', n,
            n * p_qd - CAST(s_q AS HUGEINT) * s_d,
            n * q_q - CAST(s_q AS HUGEINT) * s_q,
            n * q_d - CAST(s_d AS HUGEINT) * s_d FROM g
          UNION ALL SELECT 'qty', 'tax_pct', n,
            n * p_qt - CAST(s_q AS HUGEINT) * s_t,
            n * q_q - CAST(s_q AS HUGEINT) * s_q,
            n * q_t - CAST(s_t AS HUGEINT) * s_t FROM g
          UNION ALL SELECT 'price_cents', 'disc_pct', n,
            n * p_pd - CAST(s_p AS HUGEINT) * s_d,
            n * q_p - CAST(s_p AS HUGEINT) * s_p,
            n * q_d - CAST(s_d AS HUGEINT) * s_d FROM g
          UNION ALL SELECT 'price_cents', 'tax_pct', n,
            n * p_pt - CAST(s_p AS HUGEINT) * s_t,
            n * q_p - CAST(s_p AS HUGEINT) * s_p,
            n * q_t - CAST(s_t AS HUGEINT) * s_t FROM g
          UNION ALL SELECT 'disc_pct', 'tax_pct', n,
            n * p_dt - CAST(s_d AS HUGEINT) * s_t,
            n * q_d - CAST(s_d AS HUGEINT) * s_d,
            n * q_t - CAST(s_t AS HUGEINT) * s_t FROM g)
        SELECT col_x, col_y, n,
          CASE WHEN B = 0 OR C = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((((1000 * A) // B) * A) // C AS BIGINT) END
            AS r2_permille,
          CASE WHEN B = 0 OR C = 0 THEN CAST(0 AS BIGINT)
            WHEN A > 0 THEN CAST(1 AS BIGINT)
            WHEN A < 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS r_sign
        FROM r ORDER BY col_x, col_y"""))
  )
}
