package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Exact and n-gram-Jaccard deduplication operators.
  *
  * All shapes are chosen for the 100 TB case: exact dedup is a hash
  * aggregate on a fingerprint (one shuffle, map-side combined); Jaccard
  * pairs use an inverted shingle index — explode + equi-join on
  * (block, shingle-hash) + pair-count aggregation — instead of comparing
  * shingle arrays per candidate pair. Array intersection is O(|a|+|b|)
  * interpreted work per pair and needs both arrays co-resident; the inverted
  * index is pure codegen'd join/agg traffic proportional to the number of
  * actually-shared shingles, and AQE handles skewed (hot-shingle) keys.
  */
object Dedup {

  /** One-row-per-duplicate-set dedup: keeps the min-id row per distinct
    * content fingerprint. The distributed form of `DISTINCT ON`.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact sparse-cosine document similarity over term-frequency vectors,
    * via an inverted postings index — the bag-of-words sibling of
    * [[ngramJaccardPairs]].
    *
    * dot(d1,d2) = Σ_term tf₁·tf₂ accumulates through an equi-join on term +
    * one aggregation: traffic is proportional to actually-shared terms, no
    * dense vectors or per-pair array work ever materialize. All sums are
    * exact integers; the only floating-point ops are the final sqrt/divide,
    * written identically in the oracle, so scores hash-match.
    *
    * Scale shape: the join fan-out per term is df² — Zipf-headed corpora
    * need `maxDf` to cap hot-term postings (a recall knob, like LSH bucket
    * width). A pruned term is excluded from pair generation and from the
    * dot, but kept in the norms, so a pruned run loses pairs sharing ONLY
    * ultra-common terms and reports a lower bound of true cosine for the
    * rest — conservative in the near-dup-gate direction. With
    * `maxDf = None` results are exact cosine.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxDf: Option[Long] = None): DataFrame =
    sparseFromTf(
      graft.relational.Stages.materialize(
        termFrequencies(docs, idCol, textCol), "tf"),
      threshold, maxDf)

  /** Postings plan over an already-MATERIALIZED term-frequency frame —
    * shared by [[sparseCosinePairs]] and the [[cosinePairs]] dispatcher, so
    * the fallback path reuses the tf the probe was computed from instead of
    * re-tokenizing and re-aggregating the corpus.
    *
    * The tf input must be a durable stage boundary ([[graft.relational.
    * Stages.materialize]]): three consumers (both postings sides + norms)
    * read it, and best-effort ReuseExchange sharing is defeated by
    * per-consumer column pruning (each consumer gets its own narrowed copy
    * of the tf aggregate subtree — measured 6.7× regression at sf0.1 when
    * round 5 dropped the explicit boundary). A landed tf is exactly what a
    * production pipeline does between the tokenize job and the similarity
    * job; consumers scan the compact (id, term, tf) columns, never
    * re-tokenize the corpus.
    */
  private def sparseFromTf(tf: DataFrame, threshold: Double,
                           maxDf: Option[Long]): DataFrame = {
    // The self-join key is a 60-bit md5-prefix of the term, not the term
    // string: the shuffle carries 8-byte longs, AND the derivation is
    // portable — the DuckDB oracle replays the identical key, so even a
    // cross-term collision (≈vocab²/2⁶⁰) produces the same result in both
    // engines instead of a silent one-sided perturbation (the accepted-risk
    // class the earlier xxhash64 key carried).
    // native fused slice (functions.Md5Bits60): same value as
    // conv(substring(md5(t),1,15),16,10) with no hex-string intermediate
    val postings0 = tf.select(col("id"),
      graft.functions.HashFunctions.md5Bits60(col("t")).as("tk"),
      col("tf"))
    val postings = maxDf match {
      case Some(cap) =>
        val df_ = postings0.groupBy(col("tk")).agg(count(lit(1)).as("df"))
        postings0.join(broadcast(df_.filter(col("df") <= cap)), "tk").drop("df")
      case None => postings0
    }
    val dots = postings.select(col("id").as("id1"), col("tk"), col("tf").as("tf1"))
      .join(postings.select(col("id").as("id2"), col("tk"), col("tf").as("tf2")), Seq("tk"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("tf1") * col("tf2")).as("dot"))
    val norms = tf.groupBy(col("id")).agg(sum(col("tf") * col("tf")).as("s2"))
    dots
      .join(norms.select(col("id").as("id1"), col("s2").as("s1")), "id1")
      .join(norms.select(col("id").as("id2"), col("s2").as("n2")), "id2")
      .withColumn("score", col("dot").cast("double") /
        (sqrt(col("s1").cast("double")) * sqrt(col("n2").cast("double"))))
      .filter(col("score") >= threshold)
      .select("id1", "id2", "score")
  }

  private def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))

  /** Dense physical plan for the same exact-cosine-pairs result: per-doc
    * dense TF arrays over the global dictionary, all-pairs scored with the
    * codegen'd `vec_dot` under a broadcast nested-loop join.
    *
    * The postings self-join shuffles one row per NONZERO PRODUCT — Σ_t df²
    * rows. On a small-vocabulary corpus every pair shares terms, so that is
    * ~|pairs|·|vocab| exchanged rows for |pairs|·|vocab| multiplies: all
    * shuffle, no savings. The dense plan does the identical multiplies
    * inside one fused codegen loop per pair and exchanges nothing (one side
    * broadcasts). Integer-valued doubles keep every dot exact, so scores
    * are bit-identical to the sparse path and to the oracle.
    *
    * Requires vocabulary ≤ `dim` cap (arrays are materialized); use the
    * postings plan for open vocabularies.
    */
  def denseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, vocabCap: Int = 4096): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val terms = probeDictionary(tf, vocabCap)
      .getOrElse(throw new IllegalArgumentException(
        s"vocabulary exceeds dense cap $vocabCap — use the postings plan"))
    denseFromTf(tf, terms, threshold)
  }

  /** One bounded job: the distinct dictionary if it fits `cap`, else None.
    * `limit(cap + 1)` keeps the driver read bounded no matter how large the
    * real vocabulary is — this doubles as the dispatch statistic AND the
    * dictionary, so the dense path costs no further scans before real work.
    */
  private def probeDictionary(tf: DataFrame, cap: Int): Option[Seq[String]] = {
    val probe = tf.select(col("t")).distinct().limit(cap + 1)
      .collect().map(_.getString(0))
    if (probe.length > cap) None else Some(probe.toSeq.sorted)
  }

  private def denseFromTf(tf: DataFrame, terms: Seq[String], threshold: Double): DataFrame = {
    val v = terms.size
    // term -> 1-based dense index as ONE map literal: no dictionary join, no
    // global-order window — the dictionary came back with the probe job
    val idxMap = typedLit(terms.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap)
    val vecs = tf
      .withColumn("idx", element_at(idxMap, col("t")))
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("idx"), col("tf")))).as("m"),
        sum(col("tf") * col("tf")).as("s2"))
      .select(col("id"),
        transform(sequence(lit(1), lit(v)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("double")).as("vec"),
        col("s2"))
    val right = vecs.select(col("id").as("id2"), col("vec").as("v2"), col("s2").as("n2"))
    vecs.select(col("id").as("id1"), col("vec").as("v1"), col("s2").as("s1"))
      .join(broadcast(right), col("id1") < col("id2"))
      .withColumn("score", graft.vector.VectorFunctions.dot(col("v1"), col("v2")) /
        (sqrt(col("s1").cast("double")) * sqrt(col("n2").cast("double"))))
      .filter(col("score") >= threshold)
      .select("id1", "id2", "score")
  }

  /** Cost-based dispatch between the two exact-cosine-pairs plans: dense
    * all-pairs when the dictionary fits the cap (tiny vocabulary ⇒ the
    * postings join degenerates to all-pairs-×-vocab shuffle), inverted
    * postings otherwise. One bounded probe job decides AND delivers the
    * dictionary — the same statistics-driven physical choice AQE makes for
    * join strategies. Results (and the oracle) are identical either way.
    */
  def cosinePairs(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double, denseVocabCap: Int = 4096): DataFrame = {
    // The tf stage lands durably ONCE, then serves the probe job AND every
    // consumer of the chosen path (postings sides + norms, or the dense
    // vectorizer). A landed stage — not cache (no unpersist point for a
    // lazy result) and not bare ReuseExchange (defeated by per-consumer
    // column pruning; the round-5 regression) — keeps composed cost
    // additive: one tokenize pass, then answer-proportional work.
    val tf = graft.relational.Stages.materialize(
      termFrequencies(docs, idCol, textCol), "tf")
    // The RESULT also lands (it is answer-sized — thresholded near-dup
    // pairs): every consumer of the same pair set in a session (components,
    // canonical-doc selection, the pair listing itself) reads the one landed
    // copy instead of re-running the quadratic scoring — the exact sharing
    // the r4 operator-internal cache() provided, now with files instead of
    // pinned executor storage.
    graft.relational.Stages.materialize(
      probeDictionary(tf, denseVocabCap) match {
        case Some(terms) => denseFromTf(tf, terms, threshold)
        case None => sparseFromTf(tf, threshold, maxDf = None)
      }, "cosine_pairs")
  }

  /** Inverted shingle-index rows (id, key): key fuses block columns + the
    * word n-gram into one 60-bit join key, so self-joins shuffle a single
    * long column instead of strings — and block equality rides along free.
    * The key is the md5-prefix (`conv(substring(md5(...), 1, 15), 16, 10)`,
    * the house portable-key discipline): the DuckDB oracle derives the
    * IDENTICAL key, so even a cross-shingle collision (≈|union|²/2⁶⁰,
    * negligible) perturbs both engines the same way instead of silently
    * shifting only the Spark-side jaccard — closing the last
    * oracle-value-bearing xxhash64 compare (xxhash64 remains only where
    * hashed contents never reach a result: Bloom/Count-Min sketches and
    * the seeded fast paths whose gates are subset-style).
    * Shingles are built ROW-LOCALLY (split once, slice per ordinal): forming
    * n-grams is pure per-document math and costs no exchange. Deduplicated
    * at the KEY level (hash inside the transform, distinct before explode)
    * since Jaccard counts distinct shingles — the same dedup level the
    * oracle's list_distinct-over-keys applies, so the two engines agree
    * even on a within-document collision.
    *
    * LANDED ([[graft.relational.Stages.materialize]]): three consumers read
    * the index (both self-join sides + the per-doc sizes), and best-effort
    * ReuseExchange is defeated by per-consumer column pruning (the
    * sparseFromTf lesson, measured 6.7×) — so the corpus tokenize + md5
    * would otherwise run three times per query. Same (shingleN, blockCols)
    * across queries additionally share ONE landing per session (memo key =
    * canonical plan): the jaccard and containment queries over the same
    * blocks read the same files.
    */
  /** The landed blockless (id, key) distinct-shingle index — the frame the
    * jaccard/containment family rides, exposed for set-cover consumers
    * ([[CoverageSelect]]) that need the same portable md5-60 shingle keys.
    */
  def shingleKeys(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    shingleIndex(docs, idCol, textCol, shingleN, Nil)

  /** Drop keys hotter than `cap` from an (id, key) index by broadcasting
    * the HOT key set and anti-joining — the hot set is bounded by the
    * number of pruned keys (|corpus|/cap at most), where the complementary
    * "broadcast the keys under the cap" idiom broadcasts the near-full
    * vocabulary and blows the driver exactly at the corpus scales where a
    * df cap matters. Recall-conservative by construction: a dropped key
    * only removes pair evidence, never invents it.
    */
  private def dropHotKeys(index: DataFrame, cap: Long): DataFrame = {
    require(cap >= 2, s"maxDf cap must be >= 2 (got $cap): a key needs df 2 to form a pair")
    val hot = index.groupBy(col("key")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cap).select("key")
    index.join(broadcast(hot), Seq("key"), "left_anti")
  }

  private def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, blockCols: Seq[String]): DataFrame = {
    graft.relational.Stages.materialize(shingleIndexPlan(
      docs, idCol, textCol, shingleN, blockCols), "shingle_index")
  }

  private def shingleIndexPlan(docs: DataFrame, idCol: String, textCol: String,
                               shingleN: Int, blockCols: Seq[String]): DataFrame =
    docs
      .select(col(idCol).as("id") +: blockCols.map(col) :+
        split(col(textCol), " ").as("__ws"): _*)
      .filter(size(col("__ws")) >= shingleN)
      .select(col("id"),
        explode(array_distinct(transform(
          sequence(lit(1L), (size(col("__ws")) - lit(shingleN - 1)).cast("long"), lit(1L)),
          i => graft.functions.HashFunctions.md5Bits60(concat_ws("\u001f",
            blockCols.map(col) :+
              array_join(slice(col("__ws"), i.cast("int"), lit(shingleN)), " "): _*)))))
          .as("key"))

  /** Raw shared-shingle counts for all (id1 < id2) pairs sharing at least
    * `minShared` distinct n-grams — the un-normalized primitive under the
    * Jaccard/containment family, exposed for consumers that threshold on
    * ABSOLUTE overlap (cross-lingual contamination mining, quote detection)
    * rather than a ratio: a 10-shingle overlap is the same evidence whether
    * the documents are 50 or 50 000 shingles long, which every
    * size-normalized score washes out. Same landed blockless index and
    * answer-sized aggregation as [[ngramJaccardPairs]]; the count threshold
    * prunes in the aggregate, so only qualifying pairs survive the shuffle.
    *
    * Scale knob: the self-join fan-out per shingle is df² (the
    * [[sparseCosinePairs]] Zipf-head hazard) — `maxDf` drops shingles
    * hotter than the cap from pair GENERATION before the join, the same
    * recall-conservative pruning as the postings plan: a capped run loses
    * only pairs whose entire overlap is ultra-common boilerplate shingles,
    * which are the pairs an absolute-overlap miner wants least. `None` is
    * exact (fixture scale); set a cap at corpus scale.
    */
  def sharedShingleCounts(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, minShared: Long,
                          maxDf: Option[Long] = None): DataFrame = {
    val index0 = shingleIndex(docs, idCol, textCol, shingleN, Nil)
    val index = maxDf.fold(index0)(cap => dropHotKeys(index0, cap))
    index.select(col("id").as("id1"), col("key"))
      .join(index.select(col("id").as("id2"), col("key")), Seq("key"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact word-n-gram Jaccard similarity for all pairs within blocks, via
    * the inverted shingle index (no array ops, no cross products). Shingles
    * are compared by the PORTABLE 60-bit md5-prefix key (see
    * [[shingleIndex]]): a collision (~|union|²/2⁶⁰, negligible) perturbs
    * Spark and the DuckDB oracle identically, never one-sidedly.
    *
    * @param blockCols blocking columns (pairs only form within equal blocks)
    * @param minJaccard result threshold (also prunes the pair-count output)
    * @param maxDf optional document-frequency cap on PAIR GENERATION: the
    *   self-join fan-out per shingle is df² (a single hot boilerplate
    *   shingle at corpus scale makes that one join the job — the r8 O140
    *   scale audit), so shingles hotter than the cap are dropped from the
    *   join sides ([[dropHotKeys]]: broadcast-anti on the bounded HOT set)
    *   while per-doc sizes stay exact. The reported jaccard is then a
    *   recall-conservative UNDERESTIMATE (lost hot-shingle intersections
    *   count against the pair); `None` is exact and only safe at scales
    *   where the max df is known bounded.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, blockCols: Seq[String],
                        minJaccard: Double,
                        maxDf: Option[Long] = None): DataFrame = {
    val index0 = shingleIndex(docs, idCol, textCol, shingleN, blockCols)
    val index = maxDf.fold(index0)(cap => dropHotKeys(index0, cap))

    val sizes = index0.groupBy(col("id")).agg(count(lit(1)).as("nsh"))

    val inter = index.select(col("id").as("id1"), col("key"))
      .join(index.select(col("id").as("id2"), col("key")), Seq("key"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).cast("double").as("inter"))

    inter
      .join(sizes.select(col("id").as("id1"), col("nsh").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("nsh").as("n2")), "id2")
      .withColumn("jaccard",
        col("inter") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id1", "id2", "jaccard")
  }

  /** Exact word-n-gram CONTAINMENT for all pairs within blocks:
    * c(A in B) = |A∩B| / |A| — the asymmetric near-dup signal symmetric
    * Jaccard washes out. A short document quoted whole inside a long one
    * scores jaccard ≈ |A|/|B| (→ 0 as B grows) but containment = 1; this
    * is the signal quote/subset detection and contamination audits need
    * (cf. the containment-style dedup in Lee et al. 2022). Same inverted
    * shingle index and answer-sized aggregation as [[ngramJaccardPairs]] —
    * no array ops, no cross products; emits both directions per unordered
    * pair, thresholded on the larger one.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, blockCols: Seq[String],
                            minContainment: Double,
                            maxDf: Option[Long] = None): DataFrame = {
    val index0 = shingleIndex(docs, idCol, textCol, shingleN, blockCols)
    // same maxDf semantics as [[ngramJaccardPairs]]: cap applies to pair
    // generation only; sizes stay exact; containment underestimates
    val index = maxDf.fold(index0)(cap => dropHotKeys(index0, cap))
    val sizes = index0.groupBy(col("id")).agg(count(lit(1)).as("nsh"))
    val inter = index.select(col("id").as("id1"), col("key"))
      .join(index.select(col("id").as("id2"), col("key")), Seq("key"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).cast("double").as("inter"))
    inter
      .join(sizes.select(col("id").as("id1"), col("nsh").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("nsh").as("n2")), "id2")
      .withColumn("c12", col("inter") / col("n1").cast("double"))
      .withColumn("c21", col("inter") / col("n2").cast("double"))
      .filter(greatest(col("c12"), col("c21")) >= minContainment)
      .select("id1", "id2", "c12", "c21")
  }

  /** Prefix-filtered exact Jaccard pairs (the PPJoin/SSJoin candidate
    * pruning): identical results to [[ngramJaccardPairs]] at the same
    * threshold, with candidate generation restricted to each document's
    * RAREST shingles.
    *
    * Why it's lossless: J ≥ t forces |∩| ≥ ⌈t·nᵢ⌉ for both docs, and if two
    * sets sorted by one global canonical order (df asc, key asc) overlap in
    * ≥ αᵢ elements, their (nᵢ−αᵢ+1)-prefixes must share an element
    * (pigeonhole on the first common element). So only prefix tokens are
    * indexed, and the self-join fan-out drops from Σ_allkeys df² to
    * Σ_prefixkeys df² — and prefix tokens are by construction the rarest,
    * so the quadratic term collapses on Zipf-headed corpora. Candidates are
    * then verified exactly with one bounded array_intersect per candidate
    * pair (|candidates| ≪ |pairs|), not per potential pair.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, minJaccard: Double): DataFrame = {
    val index = shingleIndex(docs, idCol, textCol, shingleN, Nil)
    // ONE grouped pass builds everything per-doc: the key-sorted array for
    // exact verification, the size, and the (df, key)-canonical-order
    // positions the prefix filter needs. Deliberately NOT materialized:
    // measured at sf0.1, recomputing this (cheap, shuffle-light) subtree per
    // consumer beat both localCheckpoint (stats loss → join regressions)
    // and cache (eviction churn) — see SCALE.md round-4 notes.
    val dfreq = index.groupBy(col("key")).agg(count(lit(1)).as("df"))
    val arrs = index.join(dfreq, "key")
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(col("key"))).as("ks"),
        sort_array(collect_list(struct(col("df"), col("key")))).as("dk"),
        count(lit(1)).as("n"))
    // Prefix tokens WITH their canonical position and doc size: candidates
    // must share a prefix token (pigeonhole), and PPJoin's two extra sound
    // prunes apply before the pair ever materializes — the length filter
    // (J ≥ t forces t·n1 ≤ n2 ≤ n1/t) and the positional filter (a shared
    // token at positions p1, p2 caps the overlap at 1 + min(n1−p1, n2−p2),
    // which must reach α = t/(1+t)·(n1+n2), the overlap J ≥ t requires).
    val pref = arrs.select(col("id"), col("n"),
        posexplode(slice(col("dk"), lit(1),
          (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("int"))))
      .select(col("id"), col("n"), (col("pos") + 1).as("p"), col("col.key").as("key"))
    val eps = 1e-9
    val cands = pref.select(col("id").as("id1"), col("n").as("n1"), col("p").as("p1"), col("key"))
      .join(pref.select(col("id").as("id2"), col("n").as("n2"), col("p").as("p2"), col("key")), Seq("key"))
      .filter(col("id1") < col("id2"))
      .filter(col("n2") >= lit(minJaccard) * col("n1") - eps &&
        col("n1") >= lit(minJaccard) * col("n2") - eps)
      .filter((lit(1) + least(col("n1") - col("p1"), col("n2") - col("p2"))) * (1 + minJaccard)
        >= lit(minJaccard) * (col("n1") + col("n2")) - eps)
      .select("id1", "id2").distinct()
    cands
      .join(arrs.select(col("id").as("id1"), col("ks").as("k1"), col("n").as("n1")), "id1")
      .join(arrs.select(col("id").as("id2"), col("ks").as("k2"), col("n").as("n2")), "id2")
      .withColumn("inter", size(array_intersect(col("k1"), col("k2"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id1", "id2", "jaccard")
  }
}
