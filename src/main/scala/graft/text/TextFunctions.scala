package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines:
  * tokenization, stats, quality scoring, language ID, fingerprinting.
  *
  * Everything is built-in Column expressions (codegen'd, shuffle-free,
  * pushdown-friendly); ratios are computed as exact-integer counts divided
  * in double precision, so results are bitwise-reproducible across engines.
  */
object TextFunctions {

  /** Whitespace tokenization (the corpus is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword-boundary tokenization for general text: splits on
    * transitions between letters, digits, and punctuation as a cheap proxy
    * for a byte-pair vocabulary. Deterministic and purely regex-based.
    */
  def bpeishTokens(text: Column): Column =
    filter(split(text,
      """(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])|(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])"""),
      t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Type-token ratio — vocabulary richness, a standard quality signal. */
  def distinctRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") / tokenCount(text).cast("double")

  /** Mean token length: exact integer sum of lengths / count. */
  def meanTokenLen(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t).cast("long")), lit(0L), _ + _)
      .cast("double") / tokenCount(text).cast("double")

  def stopwordCount(text: Column, stops: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stops.map(_.asInstanceOf[Any]): _*)))

  def stopwordRatio(text: Column, stops: Seq[String]): Column =
    stopwordCount(text, stops).cast("double") / tokenCount(text).cast("double")

  /** Composite quality score in [0,1]: rewards vocabulary richness, adequate
    * length, and low stopword fraction. All inputs are exact-integer-derived
    * doubles ⇒ deterministic.
    */
  def qualityScore(text: Column, stops: Seq[String]): Column =
    lit(0.3) * distinctRatio(text) +
      lit(0.4) * least(lit(1.0), tokenCount(text).cast("double") / lit(100.0)) +
      lit(0.3) * (lit(1.0) - stopwordRatio(text, stops))

  /** Exact-content fingerprint. */
  def fingerprint(text: Column): Column = md5(text)

  /** Order-insensitive bag-of-words fingerprint: catches documents that are
    * token permutations of each other (a cheap near-dup signal that is still
    * exact-hash groupable — O(n) dedup, no pair joins).
    */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Canonical normalized form for fuzzy-exact dedup (the C4/CCNet
    * preprocessing shape): casefold, strip everything outside [a-z0-9 ],
    * collapse whitespace runs, trim. Catches re-renderings that differ only
    * in punctuation/casing/spacing — still O(n) hash-groupable dedup, no
    * pair joins. Pattern is deliberately ASCII-only so Java and RE2 regex
    * engines (Spark / DuckDB) agree byte-for-byte.
    */
  def normalizedForm(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]+", " "), " +", " "))

  /** Fingerprint of [[normalizedForm]] — the fuzzy-exact dedup key. */
  def normalizedFingerprint(text: Column): Column = md5(normalizedForm(text))

  /** Word n-gram shingles as strings (for Jaccard / MinHash). */
  def shingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
  }

  /** Per-language stopword marker lists for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: language ID at corpus scale is a pruning
    * filter, not a classifier.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Heuristic language ID: argmax of marker-token hits, ties broken by the
    * fixed language order above, `und` when no marker hits at all.
    */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, stops) => lang -> stopwordCount(text, stops) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Hashing-trick feature index for a token: 32 uniform bits from the md5
    * hex prefix, folded into [0, dim). Engine-portable (md5 everywhere), so
    * hashed-TF featurization is oracle-exact — unlike xxhash-based indices.
    */
  /** Corpus-frequency token rarity ranking: every distinct token gets a
    * unique rank (1 = most frequent; ties broken by token text), and each
    * document is scored by the exact integer sum of its tokens' ranks — the
    * deterministic stand-in for LM-perplexity quality scoring (rare-token
    * share correlates with low-quality/noisy text). Returns (doc id, rank)
    * rows to aggregate.
    *
    * The rank window is a global order over the VOCABULARY (thousands to a
    * few million rows), not the corpus — small enough for one sort task at
    * any realistic vocabulary; for open-ended vocabularies swap the exact
    * rank for a log-frequency bucket (`floor(log2(count))`), which needs no
    * global order at all.
    */
  def tokenRarityRanks(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val words = docs.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
    val ranked = words.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__c").desc, col("__w"))))
      .select(col("__w"), col("rank"))
    words.join(broadcast(ranked), "__w").select(col(idCol), col("rank"))
  }

  def hashedTfIndex(token: Column, dim: Int): Column =
    pmod(conv(substring(md5(token), 1, 8), 16, 10).cast("long"), lit(dim.toLong))
}
