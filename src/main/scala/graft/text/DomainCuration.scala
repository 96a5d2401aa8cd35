package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL/domain curation — the C4-family discipline every web-scale corpus
  * run applies BEFORE any text-quality filter: extract the host, roll up to
  * a registrable domain, drop blocklisted domains outright, cap how many
  * documents any single domain may contribute (one boilerplate-heavy host
  * must not dominate the training mix), and emit the per-domain ledger that
  * says what the caps did.
  *
  * Portability: host extraction is a single anchored regex capture —
  * deliberately NOT `parse_url` (engine-specific) — identical in Java
  * (Spark) and RE2 (DuckDB) semantics: scheme, then everything up to the
  * first `/ : ? #`. The registrable-domain roll-up is the last-two-labels
  * heuristic; a production deployment swaps in a public-suffix table as a
  * broadcast join without touching anything downstream.
  *
  * Scale shape: one projection for host/domain (row-local regex), one
  * per-domain `row_number` window for the cap (the C4 per-host pass; hosts
  * partition the corpus, so the window is per-key, never global), one keyed
  * aggregation to the answer-sized per-domain ledger. A pathologically hot
  * domain concentrates its rank sort in one task — at that point the cap
  * verdict for the hot domain is already known (everything past `cap` in
  * ANY order is dropped), so pre-filter its tail with a count join before
  * ranking if one host is a material fraction of the corpus.
  */
object DomainCuration {

  /** Host (authority) of a URL, '' when the string is not a URL. Anchored;
    * ports, paths, queries, and fragments excluded by the character class.
    */
  def host(url: Column): Column =
    regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)

  /** Last-two-labels registrable-domain heuristic ('www.a.com' → 'a.com';
    * hosts with ≤ 2 labels pass through).
    */
  def registrableDomain(h: Column): Column = {
    val labels = split(h, "\\.")
    when(size(labels) <= 2, h)
      .otherwise(concat(element_at(labels, -2), lit("."),
        element_at(labels, -1)))
  }

  /** Domain-grouped split assignment: adds a `split` column ∈ {train, val,
    * test} as a pure function of the domain column (md5 mod 10 → 8/1/1), so
    * every document of a host lands in ONE split — the leakage granularity
    * web data actually has (near-dups concentrate within hosts; a doc-level
    * split trains on one copy and tests on its sibling).
    */
  def groupedSplit(df: DataFrame, domainCol: String): DataFrame = {
    val bucket = pmod(
      graft.functions.HashFunctions.md5Bits60(col(domainCol)), lit(10L))
    df.withColumn("split",
      when(bucket < 8L, lit("train")).when(bucket === 8L, lit("val"))
        .otherwise(lit("test")))
  }

  /** Per-domain curation ledger: docs seen / blocked / kept / capped, token
    * totals, exact-dup share, and the kept permille — one row per domain.
    *
    * Keep rule: blocklisted domains contribute nothing; otherwise the
    * `maxDocsPerDomain` LOWEST-id documents are kept (deterministic, the
    * keep-lowest-id convention the dedup family uses). The blocklist is a
    * domain-level predicate (whole domains, the C4 shape), so cap ranks
    * are unaffected by it.
    *
    * Cardinality contract (the Curriculum.strideInterleave discipline): the
    * domain column is a HOST dimension by contract — bounded-probe it with
    * `limit(maxDomains + 1)` and refuse loudly when exceeded, because the
    * likely cause is a free-text column passed as the URL (every doc its
    * own "domain"), which silently turns every cap into a no-op and blows
    * the "answer-sized ledger" promise.
    */
  def ledger(docs: DataFrame, idCol: String, urlCol: String, textCol: String,
             tokens: Column, maxDocsPerDomain: Long, blocklist: Seq[String],
             maxDomains: Int = 5000000): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      registrableDomain(host(col(urlCol))).as("domain"),
      tokens.cast("long").as("tok"),
      graft.functions.HashFunctions.md5Bits60(col(textCol)).as("fp"))
    val probed = base.select(col("domain")).distinct()
      .limit(maxDomains + 1).count()
    require(probed <= maxDomains,
      s"DomainCuration.ledger: more than $maxDomains distinct domains in " +
        s"'$urlCol' — not a host dimension (free-text column passed as " +
        "URL?); raise maxDomains only if the ledger should really be " +
        "that large")
    val w = Window.partitionBy(col("domain")).orderBy(col("id"))
    val ranked = base
      .withColumn("blocked", col("domain").isin(blocklist: _*))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("status",
        when(col("blocked"), lit("blocked"))
          .when(col("rn") <= maxDocsPerDomain, lit("kept"))
          .otherwise(lit("capped")))
    ranked.groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(when(col("blocked"), 1L).otherwise(0L)).as("is_blocked"),
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("status") === "capped", 1L).otherwise(0L)).as("n_capped"),
        sum(col("tok")).as("tokens_total"),
        sum(when(col("status") === "kept", col("tok")).otherwise(0L))
          .as("tokens_kept"),
        countDistinct(col("fp")).as("n_unique_texts"))
      .select(col("domain"), col("n_docs"), col("is_blocked"),
        col("n_kept"), col("n_capped"), col("tokens_total"),
        col("tokens_kept"),
        expr("(1000L * n_kept) div n_docs").as("kept_permille"),
        expr("(1000L * (n_docs - n_unique_texts)) div n_docs")
          .as("dup_permille"))
  }
}
