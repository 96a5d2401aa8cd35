package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.Bpe
import Dsl._
import OracleSql._

/** Tokenizer-and-language-model surface of the training-data pipeline:
  * distributed BPE vocabulary induction (Sennrich et al. 2016) and
  * CCNet-style bigram-LM quality scoring + head/middle/tail bucketing
  * (Wenzek et al. 2019, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data").
  *
  * Oracle portability: all model quantities are exact integer counts; the
  * per-bigram "surprisal" is an integer log₂ — length(bin(ratio)) - 1 —
  * computed from an integer Laplace ratio, so every per-doc sum is
  * order-free and hash-exact cross-engine (no libm log anywhere). BPE merge
  * application is literal leftmost-non-overlap replace — the identical
  * primitive in both engines (see [[graft.text.Bpe]]).
  */
object TokenizerQueries {

  private val bpeRounds = 8

  /** DuckDB replay of [[Bpe.replaceFold]]: Passes nested literal replaces
    * of " a b " by " mergedExpr " on the padded symbol string — the ONE
    * SQL home of the fixpoint mechanics, shared by the BPE and WordPiece
    * round builders (mergedExpr is the only difference).
    */
  private def sqlReplaceFold(bref: String, mergedExpr: String): String = {
    val padded = "' ' || sym || ' '"
    val out = (1 to Bpe.Passes).foldLeft(padded) { (acc, _) =>
      s"replace($acc, ' ' || $bref.a || ' ' || $bref.b || ' ', ' ' || $mergedExpr || ' ')"
    }
    s"trim($out)"
  }

  /** DuckDB replay of [[Bpe.applyRule]]. */
  private def sqlApplyRule(bref: String): String =
    sqlReplaceFold(bref, s"$bref.a || $bref.b")

  /** One BPE training round as CTEs: pair counts from the previous
    * segmentation, deterministic argmax, merged segmentation. Pair
    * extraction zips the symbol list against its own tail (NULL-padded last
    * pair filtered) — the same shape the Spark side builds with transform().
    */
  private def sqlBpeRound(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (SELECT pr[1] AS a, pr[2] AS b, SUM(ct) AS wt FROM (
            SELECT unnest(list_zip(l, l[2:])) AS pr, ct FROM (
              SELECT string_split(sym, ' ') AS l, ct FROM $prev) t) u
          WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        b$r AS (SELECT a, b, wt FROM p$r ORDER BY wt DESC, a, b LIMIT 1),
        w$r AS (SELECT w, ct, ${sqlApplyRule(s"b$r")} AS sym
                FROM $prev CROSS JOIN b$r)"""
  }

  /** Word-type histogram + char-level init + all training rounds. */
  private def sqlBpeCtes: String = {
    val rounds = (1 to bpeRounds).map(sqlBpeRound).mkString(",\n        ")
    s"""WITH wh AS (SELECT t AS w, COUNT(*) AS ct FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
          GROUP BY 1),
        w0 AS (SELECT w, ct, array_to_string(string_split(w, ''), ' ') AS sym FROM wh),
        $rounds"""
  }

  private val wpRounds = 8

  /** DuckDB replay of [[graft.text.WordPiece.applyRule]]: the shared
    * replace-fold with the merged symbol shedding the rhs's `##`
    * continuation marker (BERT merge naming).
    */
  private def sqlWpApplyRule(bref: String): String =
    sqlReplaceFold(bref,
      s"$bref.a || (CASE WHEN $bref.b LIKE '##%' THEN substring($bref.b, 3) ELSE $bref.b END)")

  /** One WordPiece training round as CTEs: adjacent-pair counts AND symbol
    * counts from the previous segmentation, the likelihood-gain argmax on
    * the truncating fixed-point score (wt·10^18) // (ca·cb) — products in
    * HUGEINT, the Spark side's DECIMAL(38,0) twin — then the merged
    * segmentation. Ties break (a, b) ascending in both engines.
    */
  private def sqlWpRound(r: Int): String = {
    val prev = s"wp${r - 1}"
    s"""wpp$r AS (SELECT pr[1] AS a, pr[2] AS b, SUM(ct) AS wt FROM (
            SELECT unnest(list_zip(l, l[2:])) AS pr, ct FROM (
              SELECT string_split(sym, ' ') AS l, ct FROM $prev) t) u
          WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        wps$r AS (SELECT s, SUM(ct) AS cnt FROM (
            SELECT unnest(string_split(sym, ' ')) AS s, ct FROM $prev) t
          GROUP BY 1),
        wpb$r AS MATERIALIZED (SELECT a, b, wt,
              CAST((CAST(wt AS HUGEINT) * 1000000000000000000)
                // (CAST(sa.cnt AS HUGEINT) * CAST(sb.cnt AS HUGEINT))
                AS BIGINT) AS score_fp
            FROM wpp$r JOIN wps$r sa ON wpp$r.a = sa.s
                       JOIN wps$r sb ON wpp$r.b = sb.s
            ORDER BY score_fp DESC, a, b LIMIT 1),
        wp$r AS MATERIALIZED (SELECT w, ct, ${sqlWpApplyRule(s"wpb$r")} AS sym
                 FROM $prev CROSS JOIN wpb$r)"""
  }

  /** WordPiece word histogram + BERT `##`-marked char init + all training
    * rounds (no leading WITH — composes after other CTE families).
    */
  private def sqlWpCtes: String = {
    val rounds = (1 to wpRounds).map(sqlWpRound).mkString(",\n        ")
    s"""wph AS MATERIALIZED (SELECT t AS w, COUNT(*) AS ct FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
          GROUP BY 1),
        wp0 AS MATERIALIZED (SELECT w, ct, CASE WHEN length(w) = 1 THEN w
                ELSE substring(w, 1, 1) || ' ##' ||
                  array_to_string(string_split(substring(w, 2), ''), ' ##') END
                AS sym
              FROM wph),
        $rounds"""
  }

  /** (w, ct) word-type histogram — the one corpus-scale aggregation of BPE
    * training (map-side combined; result is vocabulary-sized).
    */
  private def wordHist(docs: DataFrame): DataFrame =
    docs.select(explode(graft.text.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))

  /** Shared CCNet scoring CTEs → per-doc integer surprisal stats.
    * Bigram model: cab = bigram counts, ca = prefix counts, v = vocabulary
    * size; per-bigram bits = ⌊log₂((ca + v) / (cab + 1))⌋ via bin-length
    * (Laplace ratio ≥ 1 always, since ca ≥ cab and v ≥ 1).
    */
  private val sqlLmScoreCtes: String =
    s"""WITH tok AS (${tokenPositions("t")}),
      bg AS (SELECT doc_id, t AS a,
               LEAD(t) OVER (PARTITION BY doc_id ORDER BY pos) AS b FROM tok),
      b2 AS (SELECT doc_id, a, b FROM bg WHERE b IS NOT NULL),
      cab AS (SELECT a, b, COUNT(*) AS cab FROM b2 GROUP BY 1, 2),
      ca AS (SELECT a, COUNT(*) AS ca FROM b2 GROUP BY 1),
      vv AS (SELECT COUNT(DISTINCT t) AS v FROM tok),
      bits AS (SELECT doc_id, length(bin((ca + v) // (cab + 1))) - 1 AS bits
               FROM b2 JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN vv),
      sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(bits) AS BIGINT) AS surp_bits,
               (CAST(SUM(bits) AS BIGINT) * 1000) // COUNT(*) AS mean_millibits
             FROM bits GROUP BY 1)"""

  /** Spark twin of [[sqlLmScoreCtes]]: per-doc (doc_id, n_bigrams,
    * surp_bits, mean_millibits). Model tables are vocabulary²-bounded —
    * far below corpus scale — joined back by plain equi-joins; the only
    * window is the per-doc bigram lead (partitioned by doc_id).
    */
  private def lmDocScores(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(graft.text.TextFunctions.tokens(col("text"))).as(Seq("pos", "t")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = toks.withColumn("b", lead(col("t"), 1).over(w))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("t").as("a"), col("b"))
    // collapse the exploded corpus to per-doc distinct-bigram counts in ONE
    // pass and LAND it; the model tables then derive from the compact landed
    // frame instead of rescanning the corpus — cab by re-aggregation, ca as
    // the row-sum of cab over its continuations (Σ_b cab(a,b) == prefix
    // occurrences of a). Landing is load-bearing, not cosmetic: as separate
    // plan branches, cab and ca each re-derived the whole explode+window
    // subtree (column pruning defeats exchange reuse), so one lm score pass
    // scanned the corpus 4× — the r12 aux-job scan gate caught it. The
    // landed model is also shared across ngram_lm_surprisal and
    // ccnet_quality_buckets (same plan key → one landing per session).
    val db = graft.relational.Stages.materialize(
      big.groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("cnt")),
      "lm_doc_bigrams")
    val cab = db.groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    // vocabulary still needs the token stream (a doc-final token may never
    // open a bigram), but it's a plain distinct-count — no window
    val v = toks.select(col("t")).distinct().agg(count(lit(1)).as("v"))
    db.join(cab, Seq("a", "b")).join(ca, Seq("a")).crossJoin(broadcast(v))
      .withColumn("bits", (length(bin(expr("(ca + v) div (cab + 1)"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(col("bits") * col("cnt")).as("surp_bits"))
      .withColumn("mean_millibits", expr("surp_bits * 1000 div n_bigrams"))
  }

  private val uniK = graft.text.UnigramLm.SeedMultiK
  private val uniRounds = graft.text.UnigramLm.EmRounds

  /** The trained unigram vocabulary, LANDED once per session: the training
    * chain is ~34 vocabulary-sized shuffle stages (EmRounds lattice +
    * rescore rounds) whose scheduling constant dwarfs its data; both the
    * train row and the fertility row read the one landed (piece, usage,
    * bits) table instead of re-deriving the chain (same memo key → one
    * landing). The word histogram lands beneath it for the same reason.
    */
  private def uniVocabLanded(s: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    val wh = graft.relational.Stages.materialize(
      wordHist(tbl(s, dir, "documents")), "uni_wh")
    graft.relational.Stages.materialize(
      graft.text.UnigramLm.trainVocab(wh), "uni_vocab")
  }

  /** DuckDB replay of unigram-LM training (graft.text.UnigramLm): word
    * histogram → seed vocabulary (all chars + top-K multi-char substrings)
    * → [[uniRounds]] hard-EM rounds, each a recursive-CTE Viterbi lattice
    * (the int64 `bits<<10 | n_pieces<<5 | back_pointer` encoding, plain
    * integer min), a recursive back-pointer walk, usage recount, integer-
    * bits rescore, and zero-usage pruning. Ends with CTE `uv{uniRounds}`
    * (piece, usage, bits) and keeps `{pfx}wh`/`{pfx}dp{r}` visible for fertility
    * consumers.
    */
  private def sqlUnigramCtes: String = sqlUnigramCtes("u", uniK)

  /** [[sqlUnigramCtes]] parametrized for the vocab-size sweep: CTE names
    * prefixed with `pfx`, `k` multi-char seeds. The default instance
    * (pfx "u", k = SeedMultiK) is what the train/fertility oracles read.
    */
  private def sqlUnigramCtes(pfx: String, k: Int): String = {
    // one Viterbi-lattice recursive CTE: DP over ${pfx}wh under cost map `mref`
    def dpCte(name: String, mref: String): String =
      s"""$name AS (WITH RECURSIVE d(w, ct, i, acc) AS (
            SELECT w, ct, 0, [CAST(0 AS BIGINT)] FROM ${pfx}wh
            UNION ALL
            SELECT d.w, d.ct, d.i + 1,
              list_append(d.acc, list_aggregate(
                list_transform(range(greatest(0, d.i + 1 - 4), d.i + 1),
                  j -> ((((d.acc[j+1] >> 10) + coalesce(
                           $mref.mm[substring(d.w, j+1, d.i+1-j)][1],
                           CAST(1048576 AS BIGINT))) << 10)
                        + ((((d.acc[j+1] >> 5) & 31) + 1) << 5) + j)), 'min'))
            FROM d CROSS JOIN $mref WHERE d.i < length(d.w))
          SELECT w, ct, acc FROM d WHERE i = length(w))"""
    // the map CTEs are MATERIALIZED: DuckDB misevaluates a map-building
    // CTE referenced inside a LATER recursive CTE once the map's own
    // lineage contains recursive CTEs (every lookup came back missing —
    // observed on round 2; round 1, whose map descends only from plain
    // CTEs, was fine). Materializing pins the one-row map before the
    // lattice recursion reads it.
    def round(r: Int): String =
      s"""${pfx}m$r AS MATERIALIZED (SELECT map(list(piece), list(bits)) AS mm FROM ${pfx}v${r - 1}),
        ${dpCte(s"${pfx}dp$r", s"${pfx}m$r")},
        ${pfx}bt$r AS (WITH RECURSIVE b(w, ct, pos, ps) AS (
            SELECT w, ct, length(w), CAST([] AS VARCHAR[]) FROM ${pfx}dp$r
            UNION ALL
            SELECT b.w, b.ct, CAST(d.acc[b.pos + 1] & 31 AS INTEGER),
              list_append(b.ps, substring(b.w,
                CAST((d.acc[b.pos+1] & 31) + 1 AS INTEGER),
                CAST(b.pos - (d.acc[b.pos+1] & 31) AS INTEGER)))
            FROM b JOIN ${pfx}dp$r d ON d.w = b.w WHERE b.pos > 0)
          SELECT w, ct, ps FROM b WHERE pos = 0),
        ${pfx}u$r AS (SELECT piece, CAST(SUM(ct) AS BIGINT) AS u FROM (
                  SELECT ct, unnest(ps) AS piece FROM ${pfx}bt$r) GROUP BY 1),
        ${pfx}t$r AS (SELECT CAST(SUM(u) AS BIGINT) AS U FROM ${pfx}u$r),
        ${pfx}v$r AS (SELECT v.piece, coalesce(u.u, CAST(0 AS BIGINT)) AS usage,
                   length(bin(t.U // (coalesce(u.u, CAST(0 AS BIGINT)) + 1))) - 1 AS bits
                 FROM ${pfx}v${r - 1} v LEFT JOIN ${pfx}u$r u USING (piece)
                 CROSS JOIN ${pfx}t$r t
                 WHERE length(v.piece) = 1 OR coalesce(u.u, 0) > 0)"""
    // the CASE/error() guard mirrors UnigramLm's Spark-side raise_error
    // (token length outside [1, MaxWordLen=30]) so BOTH engines refuse an
    // out-of-contract fixture identically — without it the oracle would
    // silently compute an overflowed 5-bit lattice while Spark refused
    s"""${pfx}wh AS (SELECT t AS w, COUNT(*) AS ct FROM (
            SELECT CASE WHEN length(t0) = 0 OR length(t0) > 30
                   THEN error('unigram oracle: token length outside [1, 30]')
                   ELSE t0 END AS t FROM (
              SELECT unnest(string_split(text, ' ')) AS t0 FROM documents) u0
            ) u
          GROUP BY 1),
        ${pfx}sp AS (SELECT piece, CAST(SUM(ct) AS BIGINT) AS cnt FROM (
            SELECT ct, unnest(flatten(list_transform(range(1, length(w) + 1),
              i -> list_transform(range(1, least(4, length(w) - i + 1) + 1),
                k -> substring(w, i, k))))) AS piece FROM ${pfx}wh) GROUP BY 1),
        ${pfx}ch AS (SELECT piece, cnt FROM ${pfx}sp WHERE length(piece) = 1),
        ${pfx}mu AS (SELECT piece, cnt FROM ${pfx}sp WHERE length(piece) > 1
                ORDER BY cnt DESC, piece LIMIT $k),
        ${pfx}v0p AS (SELECT * FROM ${pfx}ch UNION ALL SELECT * FROM ${pfx}mu),
        ${pfx}t0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS T FROM ${pfx}v0p),
        ${pfx}v0 AS (SELECT piece, cnt AS usage, length(bin(t.T // cnt)) - 1 AS bits
                FROM ${pfx}v0p CROSS JOIN ${pfx}t0 t),
        ${(1 to uniRounds).map(round).mkString(",\n        ")},
        ${pfx}mF AS MATERIALIZED (SELECT map(list(piece), list(bits)) AS mm FROM ${pfx}v$uniRounds),
        ${dpCte(s"${pfx}dpF", s"${pfx}mF")}"""
  }

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- bigram-LM surprisal per document ---------------------------------
    // The CCNet quality signal: train a Laplace-smoothed bigram model on the
    // corpus, score each doc by total/mean surprisal in integer bits. Rare
    // continuations cost more bits; boilerplate scores near the model floor.
    DeclaredQuery("ngram_lm_surprisal",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        lmDocScores(docs)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_bigrams"),
            col("surp_bits"), col("mean_millibits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$sqlLmScoreCtes
        SELECT sc.doc_id, d.source, sc.n_bigrams, sc.surp_bits, sc.mean_millibits
        FROM sc JOIN documents d USING (doc_id) ORDER BY sc.doc_id""")),

    // ---- CCNet head/middle/tail quality buckets ---------------------------
    // CCNet buckets docs by LM perplexity percentile, with thresholds fitted
    // once on a sample and then treated as constants. Same shape here: a
    // FIXED-SIZE deterministic hash sample (orderBy md5 + limit K — a
    // TakeOrdered, bounded at any corpus scale), exact tertile thresholds
    // from the K sampled scores via Ranks.boundedRank (no global window),
    // thresholds broadcast to bucket the full corpus. head = least
    // surprising (closest to the corpus LM), tail = most.
    DeclaredQuery("ccnet_quality_buckets",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // the score stage is consumed twice (threshold sample + bucketing)
        // and its consumers prune different columns — which defeats
        // exchange-reuse subtree identity (measured on the curation
        // pipeline) — so land it durably: both consumers scan the compact
        // 3-column stage instead of re-deriving explode+window+model joins
        val sc = graft.relational.Stages.materialize(
          lmDocScores(docs)
            .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
            .select(col("doc_id"), col("source"), col("mean_millibits")),
          "ccnet_scores")
        val smp = sc
          .withColumn("skey", md5(concat(lit("ccnet:"), col("doc_id").cast("string"))))
          .orderBy(col("skey"), col("doc_id")).limit(90)
          .select(col("mean_millibits"), col("doc_id"))
        val rnk = graft.relational.Ranks.boundedRank(smp, "rs",
          Seq("mean_millibits" -> true, "doc_id" -> true))
        // both tertile thresholds from ONE scalar aggregate over the ranked
        // sample — a second branch would re-derive the whole score subtree
        val th = rnk.agg(
          max(when(col("rs") === 30, col("mean_millibits"))).as("t1"),
          max(when(col("rs") === 60, col("mean_millibits"))).as("t2"))
        sc.crossJoin(broadcast(th))
          .withColumn("bucket",
            when(col("mean_millibits") <= col("t1"), "head")
              .when(col("mean_millibits") <= col("t2"), "middle")
              .otherwise("tail"))
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("mean_millibits")).as("ssum"))
          .withColumn("avg_millibits", expr("ssum div n_docs"))
          .select(col("source"), col("bucket"), col("n_docs"), col("avg_millibits"))
          .orderBy(col("source"), col("bucket"))
      },
      Some(s"""$sqlLmScoreCtes,
        smp AS (SELECT doc_id, mean_millibits FROM sc
                ORDER BY md5('ccnet:' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 90),
        rnk AS (SELECT mean_millibits,
                  ROW_NUMBER() OVER (ORDER BY mean_millibits, doc_id) AS rs FROM smp),
        t1 AS (SELECT mean_millibits AS t1 FROM rnk WHERE rs = 30),
        t2 AS (SELECT mean_millibits AS t2 FROM rnk WHERE rs = 60),
        lab AS (SELECT d.source,
                  CASE WHEN sc.mean_millibits <= t1.t1 THEN 'head'
                       WHEN sc.mean_millibits <= t2.t2 THEN 'middle'
                       ELSE 'tail' END AS bucket,
                  sc.mean_millibits
                FROM sc JOIN documents d USING (doc_id) CROSS JOIN t1 CROSS JOIN t2)
        SELECT source, bucket, COUNT(*) AS n_docs,
          CAST(SUM(mean_millibits) AS BIGINT) // COUNT(*) AS avg_millibits
        FROM lab GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- BPE vocabulary induction -----------------------------------------
    // 8 distributed merge rounds over the word-type histogram; output is the
    // learned merge table (the tokenizer). Deterministic argmax (weight
    // desc, pair asc) makes training itself oracle-replayable — the DuckDB
    // twin runs the identical 8 rounds in chained CTEs.
    DeclaredQuery("bpe_train_merges",
      (s, dir) => {
        val (rules, _) = Bpe.trainMerges(wordHist(tbl(s, dir, "documents")), bpeRounds)
        import s.implicits._
        rules.map(m => (m.rank.toLong, m.lhs, m.rhs, m.merged, m.weight))
          .toDF("merge_rank", "lhs", "rhs", "merged", "weight")
          .orderBy(col("merge_rank"))
      },
      Some {
        val unions = (1 to bpeRounds).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
              a || b AS merged, CAST(wt AS BIGINT) AS weight FROM b$r"""
        }.mkString("\n        UNION ALL ")
        s"""$sqlBpeCtes
        $unions
        ORDER BY merge_rank"""
      }),

    // ---- BPE tokenization stats -------------------------------------------
    // Apply the trained tokenizer to the corpus: per-doc whitespace-token
    // count vs BPE-subword count. The segmentation table is vocabulary-sized
    // → broadcast equi-join; the corpus side never shuffles for the apply.
    DeclaredQuery("bpe_token_stats",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val (_, segmented) = Bpe.trainMerges(wordHist(docs), bpeRounds)
        val nsub = segmented.select(col("w"),
          size(split(col("sym"), " ")).cast("long").as("n_sub"))
        docs.select(col("doc_id"), explode(graft.text.TextFunctions.tokens(col("text"))).as("t"))
          .join(broadcast(nsub), col("t") === col("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("ws_tokens"), sum(col("n_sub")).as("bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$sqlBpeCtes
        SELECT d.doc_id, COUNT(*) AS ws_tokens, CAST(SUM(s.n_sub) AS BIGINT) AS bpe_tokens
        FROM ($tokenize) d
        JOIN (SELECT w, len(string_split(sym, ' ')) AS n_sub FROM w$bpeRounds) s
          ON d.t = s.w
        GROUP BY 1 ORDER BY 1""")),

    // ---- O203: unigram-LM tokenizer induction (SentencePiece family) ------
    // The production tokenizer family beside BPE (Kudo 2018): seed chars +
    // top-K substrings, hard-EM Viterbi rounds with integer-bits costs,
    // zero-usage pruning. All training stages are vocabulary-sized; the
    // corpus is touched once (the landed word histogram). The Viterbi
    // lattice is row-local array arithmetic under a one-row broadcast cost
    // map — no driver collect anywhere in training.
    DeclaredQuery("unigram_lm_train",
      (s, dir) => {
        uniVocabLanded(s, dir)
          .select(col("piece"),
            length(col("piece")).cast("long").as("piece_len"),
            col("usage"), col("bits"))
          .orderBy(col("piece"))
      },
      Some(s"""WITH $sqlUnigramCtes
        SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
          CAST(usage AS BIGINT) AS usage, CAST(bits AS BIGINT) AS bits
        FROM uv$uniRounds ORDER BY piece""")),

    // ---- O204: three-family tokenizer fertility by language ----------------
    // The tokenizer-selection reading: subwords-per-word of ALL THREE trained
    // production families (BPE, unigram-LM, WordPiece) per language, side by
    // side. Every apply table is vocabulary-sized and broadcast; the corpus
    // token stream is scanned once and never shuffles for the apply.
    DeclaredQuery("unigram_bpe_fertility",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val wh = graft.relational.Stages.materialize(wordHist(docs), "uni_wh")
        val uni = graft.text.UnigramLm.pieceCounts(wh, uniVocabLanded(s, dir))
        val (_, segmented) = Bpe.trainMerges(wordHist(docs), bpeRounds)
        val nsub = segmented.select(col("w").as("__bw"),
          size(split(col("sym"), " ")).cast("long").as("n_sub"))
        val (_, segWp) = graft.text.WordPiece.trainMerges(wordHist(docs), wpRounds)
        val nwp = segWp.select(col("w").as("__ww"),
          size(split(col("sym"), " ")).cast("long").as("n_wp"))
        docs.select(col("lang"),
            explode(graft.text.TextFunctions.tokens(col("text"))).as("t"))
          .join(broadcast(nsub), col("t") === col("__bw"))
          .join(broadcast(uni), col("t") === uni("w"))
          .join(broadcast(nwp), col("t") === col("__ww"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("ws_tokens"),
            sum(col("n_sub")).as("bpe_tokens"),
            sum(col("n_uni")).as("uni_tokens"),
            sum(col("n_wp")).as("wp_tokens"))
          .withColumn("bpe_fertility_permille",
            expr("(1000L * bpe_tokens) div ws_tokens"))
          .withColumn("uni_fertility_permille",
            expr("(1000L * uni_tokens) div ws_tokens"))
          .withColumn("wp_fertility_permille",
            expr("(1000L * wp_tokens) div ws_tokens"))
          .orderBy(col("lang"))
      },
      Some {
        s"""$sqlBpeCtes,
        $sqlWpCtes,
        $sqlUnigramCtes,
        uns AS (SELECT w, ((acc[length(w) + 1] >> 5) & 31) AS n_uni
                FROM udpF)
        SELECT d.lang, COUNT(*) AS ws_tokens,
          CAST(SUM(s.n_sub) AS BIGINT) AS bpe_tokens,
          CAST(SUM(uns.n_uni) AS BIGINT) AS uni_tokens,
          CAST(SUM(wps.n_wp) AS BIGINT) AS wp_tokens,
          (1000 * CAST(SUM(s.n_sub) AS BIGINT)) // COUNT(*) AS bpe_fertility_permille,
          (1000 * CAST(SUM(uns.n_uni) AS BIGINT)) // COUNT(*) AS uni_fertility_permille,
          (1000 * CAST(SUM(wps.n_wp) AS BIGINT)) // COUNT(*) AS wp_fertility_permille
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents) d
        JOIN (SELECT w, len(string_split(sym, ' ')) AS n_sub FROM w$bpeRounds) s
          ON d.t = s.w
        JOIN uns ON d.t = uns.w
        JOIN (SELECT w, len(string_split(sym, ' ')) AS n_wp FROM wp$wpRounds) wps
          ON d.t = wps.w
        GROUP BY 1 ORDER BY 1"""
      }),

    // ---- O208: unigram vocab-size sweep -------------------------------------
    // The SentencePiece decision the train row fixes at one point: the
    // kept-pieces / fertility curve over the multi-char seed budget (a
    // smaller vocabulary must segment finer — fertility rises as K falls;
    // vocab size vs sequence length is THE tokenizer trade). Two frozen
    // budgets train end-to-end (each chain is vocabulary-sized; the word
    // histogram lands once and feeds both); token totals come from the
    // histogram identity Σ ct·n_pieces — no second corpus scan.
    DeclaredQuery("unigram_vocab_sweep",
      (s, dir) => {
        val wh = graft.relational.Stages.materialize(
          wordHist(tbl(s, dir, "documents")), "uni_wh")
        val rows = Seq(16, 48).map { k =>
          val vocab = graft.relational.Stages.materialize(
            graft.text.UnigramLm.trainVocab(wh, k), "uni_vocab")
          val tok = graft.text.UnigramLm.pieceCounts(wh, vocab)
            .join(wh, Seq("w"))
            .agg(sum(col("ct")).as("ws_tokens"),
              sum(col("ct") * col("n_uni")).as("uni_tokens"))
          val vc = vocab.agg(count(lit(1)).as("n_pieces"),
            sum(when(length(col("piece")) > 1, 1L).otherwise(0L))
              .as("n_multi_pieces"))
          vc.crossJoin(broadcast(tok))
            .select(lit(k.toLong).as("seed_multi_k"), col("n_pieces"),
              col("n_multi_pieces"), col("ws_tokens"), col("uni_tokens"),
              expr("(1000L * uni_tokens) div ws_tokens")
                .as("fertility_permille"))
        }
        rows.reduce(_ unionByName _).orderBy(col("seed_multi_k"))
      },
      Some {
        def arm(k: Int, pfx: String) =
          s"""SELECT CAST($k AS BIGINT) AS seed_multi_k,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ${pfx}v$uniRounds)
              AS n_pieces,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ${pfx}v$uniRounds
             WHERE length(piece) > 1) AS n_multi_pieces,
            (SELECT CAST(SUM(ct) AS BIGINT) FROM ${pfx}wh) AS ws_tokens,
            (SELECT CAST(SUM(ct * ((acc[length(w) + 1] >> 5) & 31))
               AS BIGINT) FROM ${pfx}dpF) AS uni_tokens"""
        s"""WITH ${sqlUnigramCtes("ua", 16)},
          ${sqlUnigramCtes("ub", 48)},
          ms AS (${arm(16, "ua")} UNION ALL ${arm(48, "ub")})
        SELECT seed_multi_k, n_pieces, n_multi_pieces, ws_tokens, uni_tokens,
          (1000 * uni_tokens) // ws_tokens AS fertility_permille
        FROM ms ORDER BY seed_multi_k"""
      }),

    // ---- O54: tokenizer fertility by language -----------------------------
    // The tokenizer-evaluation staple: subwords-per-word (fertility) of the
    // trained BPE per language — a vocabulary trained on a mixed corpus
    // over-segments the languages it under-represents, and this view is how
    // that bias is measured (the per-language cousin of bpe_token_stats).
    // Same broadcast apply join; the rollup is language-sized.
    DeclaredQuery("bpe_fertility_by_lang",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val (_, segmented) = Bpe.trainMerges(wordHist(docs), bpeRounds)
        val nsub = segmented.select(col("w"),
          size(split(col("sym"), " ")).cast("long").as("n_sub"))
        docs.select(col("lang"), explode(graft.text.TextFunctions.tokens(col("text"))).as("t"))
          .join(broadcast(nsub), col("t") === col("w"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("ws_tokens"), sum(col("n_sub")).as("bpe_tokens"))
          .withColumn("fertility_permille",
            expr("(1000L * bpe_tokens) div ws_tokens"))
          .orderBy(col("lang"))
      },
      Some(s"""$sqlBpeCtes
        SELECT d.lang, COUNT(*) AS ws_tokens, CAST(SUM(s.n_sub) AS BIGINT) AS bpe_tokens,
          (1000 * CAST(SUM(s.n_sub) AS BIGINT)) // COUNT(*) AS fertility_permille
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents) d
        JOIN (SELECT w, len(string_split(sym, ' ')) AS n_sub FROM w$bpeRounds) s
          ON d.t = s.w
        GROUP BY 1 ORDER BY 1""")),

    // ---- O209: WordPiece vocabulary induction (the BERT trainer) -----------
    // The third production tokenizer family (Schuster & Nakajima 2012):
    // BPE's loop with the likelihood-gain selection — merge the pair
    // maximizing count(ab)/(count(a)·count(b)), compared as the truncating
    // fixed-point (wt·10^18) div (ca·cb) carried in DECIMAL(38,0)/HUGEINT
    // so no float division executes in either engine (graft.text.WordPiece
    // scaladoc). Deterministic argmax (score desc, pair asc) makes training
    // oracle-replayable as chained CTEs, exactly like bpe_train_merges.
    DeclaredQuery("wordpiece_train",
      (s, dir) => {
        val (rules, _) = graft.text.WordPiece.trainMerges(
          wordHist(tbl(s, dir, "documents")), wpRounds)
        import s.implicits._
        rules.map(m => (m.rank.toLong, m.lhs, m.rhs, m.merged, m.weight, m.scoreFp))
          .toDF("merge_rank", "lhs", "rhs", "merged", "weight", "score_fp")
          .orderBy(col("merge_rank"))
      },
      Some {
        val unions = (1 to wpRounds).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
              a || (CASE WHEN b LIKE '##%' THEN substring(b, 3) ELSE b END) AS merged,
              CAST(wt AS BIGINT) AS weight, score_fp FROM wpb$r"""
        }.mkString("\n        UNION ALL ")
        s"""WITH $sqlWpCtes
        $unions
        ORDER BY merge_rank"""
      }),

    // ---- O211: greedy WordPiece inference vs training segmentation ---------
    // Training segments by merge replay; the SHIPPED tokenizer segments by
    // greedy longest-match-first over the vocabulary (BERT's
    // WordPieceTokenizer, with the any-miss [UNK] rule) — two different
    // algorithms that agree only when the trained vocabulary is
    // "greedy-consistent". This row measures that deployment gap exactly:
    // per-word-type exact-segmentation agreement, UNK count, and both
    // token totals, all oracle-pinned. The greedy walk is a row-local fold
    // over the landed histogram under a one-row broadcast vocabulary map
    // (alphabet is corpus-derived — built in-plan, never on the driver);
    // the oracle replays the identical walk as a recursive CTE.
    DeclaredQuery("wordpiece_greedy_agreement",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val (rules, segmented) = graft.text.WordPiece.trainMerges(
          wordHist(docs), wpRounds)
        val wh = graft.relational.Stages.materialize(wordHist(docs), "uni_wh")
        val vm = graft.text.WordPiece.vocabMapOf(
          graft.text.WordPiece.vocab(wh, rules))
        val g = wh.crossJoin(broadcast(vm))
          .withColumn("__g",
            graft.text.WordPiece.greedySegment(col("w"), col("__vm")))
        val ms = segmented.select(col("w"), col("sym"))
        g.join(ms, Seq("w"))
          .agg(
            count(lit(1)).as("n_word_types"),
            sum(when(col("__g.unk"), 1L).otherwise(0L)).as("n_unk_types"),
            sum(when(col("__g.pieces") === col("sym"), 1L).otherwise(0L))
              .as("agree_types"),
            sum(col("ct") * size(split(col("sym"), " "))).as("wp_tokens"),
            sum(col("ct") * col("__g.n_pieces")).as("greedy_tokens"))
          .withColumn("agree_permille",
            expr("(1000L * agree_types) div n_word_types"))
          .select(col("n_word_types"), col("n_unk_types"), col("agree_types"),
            col("agree_permille"), col("wp_tokens"), col("greedy_tokens"))
      },
      Some {
        val mergedSel = (1 to wpRounds).map { r =>
          s"""SELECT a || (CASE WHEN b LIKE '##%' THEN substring(b, 3)
              ELSE b END) AS piece FROM wpb$r"""
        }.mkString("\n          UNION ")
        s"""WITH $sqlWpCtes,
        wpv AS MATERIALIZED (SELECT DISTINCT piece FROM (
            SELECT unnest(string_split(sym, ' ')) AS piece FROM wp0
            UNION
            $mergedSel)),
        wvm AS MATERIALIZED (SELECT map(
            list(CASE WHEN length(piece)
                   - (CASE WHEN piece LIKE '##%' THEN 2 ELSE 0 END) > 16
                 THEN error('wordpiece oracle: vocab piece longer than 16')
                 ELSE piece END), list(1)) AS vm FROM wpv),
        wg AS (WITH RECURSIVE r(w, pos, cnt, acc, unk) AS (
            SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', false
            FROM wph
            UNION ALL
            SELECT w, CASE WHEN ml IS NULL THEN CAST(length(w) AS BIGINT)
                     ELSE pos + ml END,
              CASE WHEN ml IS NULL THEN CAST(0 AS BIGINT) ELSE cnt + 1 END,
              CASE WHEN ml IS NULL THEN ''
                   WHEN cnt = 0 THEN pc ELSE acc || ' ' || pc END,
              ml IS NULL
            FROM (
              SELECT w, pos, cnt, acc, unk, ml,
                CASE WHEN pos = 0 THEN substring(w, 1, CAST(ml AS INTEGER))
                     ELSE '##' || substring(w, CAST(pos AS INTEGER) + 1,
                       CAST(ml AS INTEGER)) END AS pc
              FROM (
                SELECT r.w, r.pos, r.cnt, r.acc, r.unk,
                  list_max(list_filter(
                    range(1, least(16, length(r.w) - CAST(r.pos AS INTEGER)) + 1),
                    k -> len(vm.vm[CASE WHEN r.pos = 0
                        THEN substring(r.w, 1, CAST(k AS INTEGER))
                        ELSE '##' || substring(r.w, CAST(r.pos AS INTEGER) + 1,
                          CAST(k AS INTEGER)) END]) > 0)) AS ml
                FROM r CROSS JOIN wvm vm
                WHERE r.pos < length(r.w) AND NOT r.unk) t0) t1)
          SELECT w, cnt, acc, unk FROM r
          WHERE pos >= length(w) OR unk)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_word_types,
          CAST(SUM(CASE WHEN g.unk THEN 1 ELSE 0 END) AS BIGINT)
            AS n_unk_types,
          CAST(SUM(CASE WHEN g.acc = s.sym THEN 1 ELSE 0 END) AS BIGINT)
            AS agree_types,
          (1000 * CAST(SUM(CASE WHEN g.acc = s.sym THEN 1 ELSE 0 END)
            AS BIGINT)) // COUNT(*) AS agree_permille,
          CAST(SUM(s.ct * len(string_split(s.sym, ' '))) AS BIGINT)
            AS wp_tokens,
          CAST(SUM(s.ct * g.cnt) AS BIGINT) AS greedy_tokens
        FROM wg g JOIN wp$wpRounds s USING (w)"""
      }),

    // ---- O210: tokenizer losslessness audit ---------------------------------
    // Gate AS A VALUE that every family's segmentation concatenates back to
    // the original word over the FULL histogram (the verdict-inside-the-row
    // pattern): a tokenizer that drops or duplicates characters corrupts
    // every downstream token count silently — n_mismatch is oracle-pinned
    // at 0 for all three families. BPE/WordPiece reconstruct by stripping
    // separators (and `##` markers); unigram reconstructs by the Viterbi
    // back-pointer walk (pieces emitted right-to-left, so the concat
    // REVERSES them — the walk itself is under audit here, not just the
    // piece counts the fertility rows read). Everything rides the landed
    // histogram + memoized models; all three frames are vocabulary-sized.
    DeclaredQuery("tokenizer_roundtrip_audit",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val (_, segB) = Bpe.trainMerges(wordHist(docs), bpeRounds)
        val (_, segW) = graft.text.WordPiece.trainMerges(wordHist(docs), wpRounds)
        val wh = graft.relational.Stages.materialize(wordHist(docs), "uni_wh")
        val uniRec = wh
          .crossJoin(broadcast(graft.text.UnigramLm.costMapOf(uniVocabLanded(s, dir))))
          .withColumn("__acc", graft.text.UnigramLm.dpAcc(col("w"), col("__m")))
          .withColumn("__rec", concat_ws("",
            reverse(graft.text.UnigramLm.btPieces(col("w"), col("__acc")))))
        def famRow(seg: DataFrame, fam: String, rec: org.apache.spark.sql.Column) =
          seg.agg(count(lit(1)).as("n_word_types"),
            sum(when(rec =!= col("w"), 1L).otherwise(0L)).as("n_mismatch"))
            .select(lit(fam).as("family"), col("n_word_types"), col("n_mismatch"))
        famRow(segB, "bpe", replace(col("sym"), lit(" "), lit("")))
          .unionByName(famRow(uniRec, "unigram", col("__rec")))
          .unionByName(famRow(segW, "wordpiece",
            replace(replace(col("sym"), lit("##"), lit("")), lit(" "), lit(""))))
          .orderBy(col("family"))
      },
      Some {
        // the unigram walk joins a frame with RECURSIVE lineage inside a
        // later recursive CTE — pin it with AS MATERIALIZED (the r13
        // map-CTE misevaluation gotcha, applied to the join case as
        // insurance)
        s"""$sqlBpeCtes,
        $sqlWpCtes,
        $sqlUnigramCtes,
        uwm AS MATERIALIZED (SELECT w, acc FROM udpF),
        urt AS (WITH RECURSIVE r(w, pos, rec) AS (
            SELECT w, CAST(length(w) AS BIGINT), '' FROM uwm
            UNION ALL
            SELECT r.w, u.acc[CAST(r.pos AS INTEGER) + 1] & 31,
              substring(r.w, CAST((u.acc[CAST(r.pos AS INTEGER) + 1] & 31)
                  AS INTEGER) + 1,
                CAST(r.pos AS INTEGER)
                  - CAST((u.acc[CAST(r.pos AS INTEGER) + 1] & 31) AS INTEGER))
                || r.rec
            FROM r JOIN uwm u ON r.w = u.w WHERE r.pos > 0)
          SELECT w, rec FROM r WHERE pos = 0)
        SELECT family, n_word_types, n_mismatch FROM (
          SELECT 'bpe' AS family, CAST(COUNT(*) AS BIGINT) AS n_word_types,
            CAST(SUM(CASE WHEN replace(sym, ' ', '') <> w THEN 1 ELSE 0 END)
              AS BIGINT) AS n_mismatch FROM w$bpeRounds
          UNION ALL
          SELECT 'unigram', CAST(COUNT(*) AS BIGINT),
            CAST(SUM(CASE WHEN rec <> w THEN 1 ELSE 0 END) AS BIGINT) FROM urt
          UNION ALL
          SELECT 'wordpiece', CAST(COUNT(*) AS BIGINT),
            CAST(SUM(CASE WHEN replace(replace(sym, '##', ''), ' ', '') <> w
              THEN 1 ELSE 0 END) AS BIGINT) FROM wp$wpRounds
        ) ORDER BY family"""
      })
  )
}
