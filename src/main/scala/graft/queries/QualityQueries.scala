package graft.queries

import org.apache.spark.sql.functions._
import Dsl._
import OracleSql._

/** Final round-5 additions to the training-data-pipeline surface: exact
  * duplicated-substring spans (the ExactSubstr dedup signal of Lee et al.
  * 2022 — see [[graft.dedup.ExactSubstr]]) and a trained Naive-Bayes
  * document quality classifier (the fastText-style filter of the GPT-3 /
  * LLaMA corpora — see [[graft.text.QualityClassifier]]). Both oracles are
  * pure integer pipelines (md5 fingerprints, integer-bits surprisals), so
  * every row hash-matches DuckDB exactly.
  */
object QualityQueries {

  /** Anchor width in tokens — the paper uses 50 BPE tokens at web scale;
    * 8 words fits the synthetic corpus' 20–80-word documents.
    */
  private val substrK = 8

  private val substrLeads: String =
    (1 until substrK).map(i => s"LEAD(t, $i) OVER w AS t$i").mkString(", ")
  private val substrGram: String =
    "t || ' ' || " + (1 until substrK).map(i => s"t$i").mkString(" || ' ' || ")

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- exact duplicated-substring coverage ------------------------------
    // Per doc: how much of its text lies inside a ≥k-token span that occurs
    // elsewhere in the corpus (the ExactSubstr removal signal). Island
    // assembly over duplicated k-gram anchors; positions are 0-based in
    // Spark and 1-based in DuckDB, but every output column is a count or a
    // position DIFFERENCE, so the offset never reaches the compare.
    DeclaredQuery("exact_substring_spans",
      (s, dir) => graft.dedup.ExactSubstr
        .docCoverage(tbl(s, dir, "documents"), "doc_id", "text", substrK)
        .select(col("doc_id"), col("total_tokens"), col("n_spans"),
          col("n_anchors"), col("covered_tokens"), col("dup_permille"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tok AS (${tokenPositions("t")}),
        g0 AS (SELECT doc_id, pos, t, $substrLeads
               FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        g AS (SELECT doc_id, pos, substring(md5($substrGram), 1, 16) AS fp
              FROM g0 WHERE t${substrK - 1} IS NOT NULL),
        dup AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY fp) AS n FROM g) u
                WHERE n >= 2),
        isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                FROM (SELECT doc_id, pos,
                        CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                                 -1000000) >= $substrK
                             THEN 1 ELSE 0 END AS brk
                      FROM dup) b),
        sp AS (SELECT doc_id, isl, MIN(pos) AS p0, MAX(pos) + ${substrK - 1} AS p1,
                 COUNT(*) AS na
               FROM isl GROUP BY 1, 2),
        pd AS (SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(na) AS BIGINT) AS n_anchors,
                 CAST(SUM(p1 - p0 + 1) AS BIGINT) AS covered_tokens
               FROM sp GROUP BY 1)
        SELECT d.doc_id,
          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS total_tokens,
          COALESCE(pd.n_spans, 0) AS n_spans,
          COALESCE(pd.n_anchors, 0) AS n_anchors,
          COALESCE(pd.covered_tokens, 0) AS covered_tokens,
          COALESCE(pd.covered_tokens, 0) * 1000
            // CAST(len(string_split(d.text, ' ')) AS BIGINT) AS dup_permille
        FROM documents d LEFT JOIN pd USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- Naive-Bayes quality classifier -----------------------------------
    // Train on the corpus with lang='en' as the positive (in-domain) class
    // — the LLaMA/CCNet shape where a curated monolingual slice defines
    // "quality" — then score every doc under both class models in integer
    // bits and classify by cheaper fit. (DSIR, dsir_importance_topk, is the
    // UNSUPERVISED cousin: hashed-feature ratio weights, no argmax; this is
    // the supervised classifier stage.)
    DeclaredQuery("nb_quality_classifier",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
          .join(docs.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
            col("bits_pos"), col("bits_neg"), col("margin_bits"), col("predicted"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $nbWeights,
        sc AS (SELECT tf.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                 CAST(SUM(cnt * bp) AS BIGINT) AS bits_pos,
                 CAST(SUM(cnt * bn) AS BIGINT) AS bits_neg
               FROM tf JOIN wt USING (t) GROUP BY 1)
        SELECT d.doc_id, d.source, d.lang, sc.n_tokens, sc.bits_pos, sc.bits_neg,
          sc.bits_neg - sc.bits_pos AS margin_bits,
          CASE WHEN sc.bits_pos < sc.bits_neg THEN 'pos' ELSE 'neg' END AS predicted
        FROM sc JOIN documents d USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- O45: classifier calibration audit --------------------------------
    // Exact-decile reliability table over the NB margins: is the filter's
    // score monotone in the actual positive rate? The oracle replays the
    // full NB pipeline, then bins on quantile_cont cutoffs (exact midpoints
    // over integer margins — both engines agree bit-for-bit).
    DeclaredQuery("nb_calibration_bins",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val scored = graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        graft.text.QualityClassifier
          .calibrationBins(scored, col("lang") === "en")
          .select(col("bin"), col("n_docs"), col("n_pos"), col("pos_permille"),
            col("margin_min"), col("margin_max"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH $nbWeights,
        $nbMargin,
        m AS (SELECT sc.doc_id, sc.margin_bits, l.pos
              FROM sc JOIN lab l USING (doc_id)),
        cuts AS (SELECT quantile_cont(margin_bits,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs FROM m),
        b AS (SELECT m.*,
                (CASE WHEN margin_bits > cs[1] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[2] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[3] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[4] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[5] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[6] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[7] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[8] THEN 1 ELSE 0 END +
                 CASE WHEN margin_bits > cs[9] THEN 1 ELSE 0 END) AS bin
              FROM m, cuts)
        SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          CAST((1000 * SUM(CASE WHEN pos THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
            AS pos_permille,
          MIN(margin_bits) AS margin_min, MAX(margin_bits) AS margin_max
        FROM b GROUP BY 1 ORDER BY 1""")),

    // ---- PR threshold sweep -----------------------------------------------
    // The operating-point picker for the NB filter: per observed margin θ,
    // precision/recall/F1 of "keep iff margin ≥ θ" in exact permille. The
    // oracle replays the NB pipeline, aggregates per margin, and takes the
    // same ≥-tail cumulative sums (its window runs over the answer-sized
    // margin frame; the Spark side uses the two-phase prefix sum — no
    // global window).
    DeclaredQuery("nb_pr_sweep",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val scored = graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        graft.text.QualityClassifier
          .prSweep(scored, col("lang") === "en")
          .orderBy(desc("threshold"))
      },
      Some(s"""WITH $nbWeights,
        $nbMargin,
        m AS (SELECT sc.doc_id, sc.margin_bits, l.pos
              FROM sc JOIN lab l USING (doc_id)),
        pm AS (SELECT margin_bits, COUNT(*) AS n,
                 SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np
               FROM m GROUP BY 1),
        cum AS (SELECT margin_bits,
                 CAST(SUM(n) OVER (ORDER BY margin_bits DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pred_pos,
                 CAST(SUM(np) OVER (ORDER BY margin_bits DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp
               FROM pm),
        p AS (SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS ap FROM m),
        r AS (SELECT margin_bits AS threshold, pred_pos, tp,
                CAST((1000 * tp) // pred_pos AS BIGINT) AS precision_permille,
                CAST(CASE WHEN p.ap = 0 THEN 0 ELSE (1000 * tp) // p.ap END AS BIGINT)
                  AS recall_permille
              FROM cum CROSS JOIN p)
        SELECT threshold, pred_pos, tp, precision_permille, recall_permille,
          CAST(CASE WHEN precision_permille + recall_permille = 0 THEN 0
               ELSE (2 * precision_permille * recall_permille)
                    // (precision_permille + recall_permille) END AS BIGINT) AS f1_permille
        FROM r ORDER BY threshold DESC""")),

    // ---- O137: confident-learning label-noise estimate ----------------------
    // How dirty are the labels the quality filter trains on? The confident
    // joint of Northcutt et al. 2021, binary and self-confidence flavored
    // (thresholds from the SAME fit — the cross-val refinement is noted in
    // the scaladoc): t_class = truncating mean margin per labeled class;
    // a doc is confidently pos if margin ≥ t_pos, confidently neg if
    // ≤ t_neg (pos wins an overlap, deterministically); off-diagonal
    // share per labeled class is the estimated noise rate. Everything
    // after scoring is two keyed aggs + 1-row threshold broadcasts.
    DeclaredQuery("label_noise_estimate",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val scored = graft.relational.Stages.materialize(
          graft.text.QualityClassifier
            .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
            .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .select(col("doc_id"), col("margin_bits"),
              (col("lang") === "en").as("noisy_pos")), "cl_scored")
        val th = scored.groupBy(col("noisy_pos"))
          .agg(expr("sum(margin_bits) div count(1)").as("t"))
        val tPos = th.filter(col("noisy_pos")).select(col("t").as("t_pos"))
        val tNeg = th.filter(!col("noisy_pos")).select(col("t").as("t_neg"))
        val confident = scored
          .crossJoin(broadcast(tPos)).crossJoin(broadcast(tNeg))
          .withColumn("confident_pred",
            when(col("margin_bits") >= col("t_pos"), lit("pos"))
              .when(col("margin_bits") <= col("t_neg"), lit("neg")))
          .filter(col("confident_pred").isNotNull)
        val cells = confident
          .groupBy(when(col("noisy_pos"), lit("pos")).otherwise(lit("neg"))
            .as("noisy_label"), col("confident_pred"))
          .agg(count(lit(1)).as("n_docs"))
        val classTotals = cells.groupBy(col("noisy_label"))
          .agg(sum(col("n_docs")).as("class_total"))
        cells.join(classTotals, Seq("noisy_label"))
          .select(col("noisy_label"), col("confident_pred"), col("n_docs"),
            col("class_total"),
            expr("(1000L * n_docs) div class_total").as("share_permille"))
          .orderBy(col("noisy_label"), col("confident_pred"))
      },
      Some(s"""WITH $nbWeights,
        sc AS (SELECT tf.doc_id,
                 CAST(SUM(cnt * bn) AS BIGINT) - CAST(SUM(cnt * bp) AS BIGINT)
                   AS margin
               FROM tf JOIN wt USING (t) GROUP BY 1),
        m AS (SELECT sc.doc_id, sc.margin, l.pos
              FROM sc JOIN lab l USING (doc_id)),
        th AS (SELECT
                 SUM(CASE WHEN pos THEN margin END)
                   // COUNT(CASE WHEN pos THEN 1 END) AS t_pos,
                 SUM(CASE WHEN NOT pos THEN margin END)
                   // COUNT(CASE WHEN NOT pos THEN 1 END) AS t_neg
               FROM m),
        cj AS (SELECT CASE WHEN pos THEN 'pos' ELSE 'neg' END AS noisy_label,
                 CASE WHEN margin >= t_pos THEN 'pos'
                      WHEN margin <= t_neg THEN 'neg' END AS confident_pred
               FROM m CROSS JOIN th),
        g AS (SELECT noisy_label, confident_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM cj WHERE confident_pred IS NOT NULL GROUP BY 1, 2),
        ct AS (SELECT noisy_label, CAST(SUM(n_docs) AS BIGINT) AS class_total
               FROM g GROUP BY 1)
        SELECT g.noisy_label, g.confident_pred, g.n_docs, ct.class_total,
          CAST((1000 * g.n_docs) // ct.class_total AS BIGINT) AS share_permille
        FROM g JOIN ct USING (noisy_label)
        ORDER BY noisy_label, confident_pred""")),

    // ---- O143: isotonic calibration (PAV, distributive) ----------------------
    // nb_calibration_bins ASKS whether the margin is monotone in the
    // positive rate; this REPAIRS it: pool-adjacent-violators via the
    // minimax closed form iso(i) = max_{j≤i} min_{k≥i} rate(j..k) — two
    // prefix sums, a per-j suffix-min window, one grouped max, all on the
    // bounded margin-bin frame (28 bins here), never a sequential stack.
    // Floor is monotone, so truncating-permille segment rates carry the
    // closed form exactly (see Isotonic scaladoc).
    DeclaredQuery("isotonic_calibration",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val scored = graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        graft.relational.Isotonic.pavCalibration(
          scored, "margin_bits", col("lang") === "en")
      },
      Some(s"""WITH $nbWeights,
        sc AS (SELECT tf.doc_id,
                 CAST(SUM(cnt * bn) AS BIGINT) - CAST(SUM(cnt * bp) AS BIGINT)
                   AS margin
               FROM tf JOIN wt USING (t) GROUP BY 1),
        m AS (SELECT sc.margin, l.pos FROM sc JOIN lab l USING (doc_id)),
        bins AS (SELECT margin AS srow, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
                 FROM m GROUP BY 1),
        pre AS (SELECT srow, n, np,
                  SUM(n) OVER (ORDER BY srow) AS cn,
                  SUM(np) OVER (ORDER BY srow) AS cp
                FROM bins),
        segs AS (SELECT a.srow AS j, b.srow AS k,
                   (1000 * (b.cp - (a.cp - a.np))) //
                     (b.cn - (a.cn - a.n)) AS perm
                 FROM pre a JOIN pre b ON a.srow <= b.srow),
        suf AS (SELECT j, k,
                  MIN(perm) OVER (PARTITION BY j ORDER BY k DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS msuf
                FROM segs),
        iso AS (SELECT k AS srow, CAST(MAX(msuf) AS BIGINT) AS iso_permille
                FROM suf GROUP BY 1)
        SELECT bins.srow AS margin_bits, bins.n, bins.np AS n_pos,
          (1000 * bins.np) // bins.n AS raw_permille, iso.iso_permille
        FROM bins JOIN iso USING (srow)
        ORDER BY margin_bits"""))
  )
}
