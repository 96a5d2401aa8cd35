package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Dsl._
import OracleSql._
import graft.dedup.{Components, Dedup}
import graft.relational.{HeavyHitters, IntervalJoin, Skew}
import graft.text.{LineDedup, Packing, Sampling, TextFunctions}

/** Round-4 curation / assembly surface: segment-level corpus dedup,
  * sequence packing + chunking, exact heavy hitters via sketch-then-verify,
  * canonical-doc selection over duplicate clusters, skew-salted joins, and
  * bucketized interval joins. Every query is DuckDB-oracle hash-checked.
  */
object CurationQueries {

  /** Deterministic URL synthesis shared by the O181/O187/O188 domain rows
    * (the fixture has no URL column): subdomain/port/path variation from
    * (doc_id, source, lang), identical string in both engines.
    */
  private def synthUrl = concat(lit("https://"),
    when(pmod(col("doc_id"), lit(3L)) === 0L, lit("www."))
      .when(pmod(col("doc_id"), lit(3L)) === 1L, lit("cdn."))
      .otherwise(lit("")),
    col("source"), lit(".com"),
    when(pmod(col("doc_id"), lit(5L)) === 0L, lit(":8080"))
      .otherwise(lit("")),
    lit("/"), col("lang"), lit("/"), col("doc_id").cast("string"))

  /** The O201 rotating-spelling URL fixture: one page per
    * (source, doc_id div 80) under four rotating spellings, so every
    * normalization step fires. Shared by `url_canonicalization` and the
    * incremental-ingest composition.
    */
  private def variantUrl = concat(
    when(pmod(col("doc_id"), lit(2L)) === 0L, lit("https"))
      .otherwise(lit("HTTPS")),
    lit("://"),
    when(pmod(col("doc_id"), lit(3L)) === 0L, lit("WWW."))
      .otherwise(lit("www.")),
    col("source"), lit(".com"),
    when(pmod(col("doc_id"), lit(4L)) === 0L, lit(":443"))
      .otherwise(lit("")),
    lit("/p"), expr("doc_id div 80").cast("string"),
    when(pmod(col("doc_id"), lit(5L)) === 0L, lit("/"))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(2L)) === 1L,
      lit("?utm_source=feed&ref=1"))
      .otherwise(lit("?ref=1&utm_campaign=x")),
    when(pmod(col("doc_id"), lit(7L)) === 0L, lit("#sec2"))
      .otherwise(lit("")))

  /** DuckDB replay of [[variantUrl]] + UrlCanonical.canonicalUrl over all
    * documents → CTE `ucanon(doc_id, source, url, c)`. Shared by the O201
    * ledger and the incremental-ingest composition (identical expressions;
    * change in lockstep with UrlCanonical only).
    */
  private val urlVariantCanonCtes =
    """uu AS (SELECT doc_id, source,
           (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) ||
           '://' ||
           (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) ||
           source || '.com' ||
           (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
           '/p' || CAST(doc_id // 80 AS VARCHAR) ||
           (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
           (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed&ref=1'
                 ELSE '?ref=1&utm_campaign=x' END) ||
           (CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END) AS url
         FROM documents),
      uparts AS (SELECT doc_id, source, url,
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            AS scheme,
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
            AS auth,
          regexp_replace(
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
            '#.*$', '') AS nofrag
        FROM uu),
      unorm AS (SELECT doc_id, source, url, scheme,
          CASE WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
               WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
               ELSE auth END AS auth2,
          regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '/+$', '')
            AS path,
          array_to_string(list_sort(list_filter(
            string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
            p -> NOT regexp_matches(p,
                   '(?i)^(utm_[A-Za-z0-9_]*|gclid|fbclid)(=|$)')
                 AND len(p) > 0)), '&') AS q2
        FROM uparts),
      ucanon AS (SELECT doc_id, source, url,
          scheme || '://' || auth2 || path ||
            (CASE WHEN len(q2) > 0 THEN '?' || q2 ELSE '' END) AS c
        FROM unorm)"""

  private val synthUrlSql =
    """'https://' ||
       CASE WHEN doc_id % 3 = 0 THEN 'www.'
            WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END ||
       source || '.com' ||
       CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
       '/' || lang || '/' || CAST(doc_id AS VARCHAR)"""

  /** Oracle CTE pair url→host→registrable domain (O181's extraction SQL). */
  private val domainCtes =
    s"""u AS (SELECT doc_id, text, $synthUrlSql AS url FROM documents),
       hx AS (SELECT doc_id, text,
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)
                 AS host
             FROM u),
       dom AS (SELECT doc_id, text,
               CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                    ELSE string_split(host, '.')[-2] || '.' ||
                         string_split(host, '.')[-1] END AS domain
             FROM hx)"""

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- O181: URL/domain curation ledger (C4 discipline) -----------------
    // Host extraction (portable anchored regex, NOT parse_url), last-two-
    // labels registrable-domain roll-up, domain blocklist, per-domain doc
    // cap (keep-lowest-id), exact-dup share per domain — the pass every
    // web-scale corpus runs before any text filter. The fixture has no URL
    // column, so the query synthesizes a deterministic URL per doc from
    // (source, lang, doc_id) — subdomain/port/path variation exercises the
    // extraction; both engines build the identical string (the attachBinary
    // stub discipline). Caps refuse loudly on the domain-cardinality
    // contract (DomainCuration.ledger scaladoc).
    DeclaredQuery("domain_cap_curation",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").withColumn("url", synthUrl)
        graft.text.DomainCuration.ledger(docs, "doc_id", "url", "text",
          tokens = size(split(col("text"), " ")),
          maxDocsPerDomain = 20L,
          blocklist = Seq("src3.com", "src7.com"))
          .orderBy(col("domain"))
      },
      Some(s"""WITH u AS (SELECT doc_id, text, source, lang,
               'https://' ||
               CASE WHEN doc_id % 3 = 0 THEN 'www.'
                    WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END ||
               source || '.com' ||
               CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
               '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS url
             FROM documents),
        h AS (SELECT doc_id, text,
                regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)
                  AS host,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
              FROM u),
        d AS (SELECT doc_id, tok,
                CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                     ELSE string_split(host, '.')[-2] || '.' ||
                          string_split(host, '.')[-1] END AS domain,
                ${md5Bits60("text")} AS fp
              FROM h),
        r AS (SELECT *, domain IN ('src3.com', 'src7.com') AS blocked,
                ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
              FROM d),
        st AS (SELECT domain, tok, fp,
                 CASE WHEN blocked THEN 'blocked'
                      WHEN rn <= 20 THEN 'kept' ELSE 'capped' END AS status,
                 blocked
               FROM r),
        g AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(MAX(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
                  AS is_blocked,
                CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN status = 'capped' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_capped,
                CAST(SUM(tok) AS BIGINT) AS tokens_total,
                CAST(SUM(CASE WHEN status = 'kept' THEN tok ELSE 0 END)
                  AS BIGINT) AS tokens_kept,
                CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_texts
              FROM st GROUP BY 1)
        SELECT domain, n_docs, is_blocked, n_kept, n_capped, tokens_total,
          tokens_kept,
          CAST((1000 * n_kept) // n_docs AS BIGINT) AS kept_permille,
          CAST((1000 * (n_docs - n_unique_texts)) // n_docs AS BIGINT)
            AS dup_permille
        FROM g ORDER BY domain""")),

    // ---- O187: per-domain quality profile ----------------------------------
    // The "which hosts ship garbage" dashboard: the NB quality filter's
    // verdict rate and mean margin rolled up per registrable domain — the
    // number that decides a HOST-level cap or block before any per-doc
    // filter runs (host-level actions are how web curation actually
    // operates; per-doc scores alone can't see a domain-shaped problem).
    // Pure composition: rides the LANDED nb_scores stage the classifier
    // family already ships + the O181 domain projection; one keyed agg.
    DeclaredQuery("domain_quality_profile",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val dom = docs.withColumn("url", synthUrl)
          .select(col("doc_id"),
            graft.text.DomainCuration.registrableDomain(
              graft.text.DomainCuration.host(col("url"))).as("domain"))
        val scored = graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
        scored.join(dom, Seq("doc_id"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("predicted") === "pos", 1L).otherwise(0L))
              .as("n_pos"),
            sum(col("margin_bits")).as("__sm"))
          .select(col("domain"), col("n_docs"), col("n_pos"),
            expr("(1000L * n_pos) div n_docs").as("pos_permille"),
            expr("(1000L * __sm) div n_docs").as("mean_margin_milli"))
          .orderBy(col("domain"))
      },
      Some(s"""WITH $nbWeights,
        $nbBits,
        $domainCtes,
        j AS (SELECT dom.domain,
                sc.bits_neg - sc.bits_pos AS margin,
                CASE WHEN sc.bits_pos < sc.bits_neg THEN 1 ELSE 0 END AS pos
              FROM sc JOIN dom USING (doc_id))
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(pos) AS BIGINT) AS n_pos,
          CAST((1000 * SUM(pos)) // COUNT(*) AS BIGINT) AS pos_permille,
          CAST((1000 * SUM(margin)) // COUNT(*) AS BIGINT)
            AS mean_margin_milli
        FROM j GROUP BY 1 ORDER BY domain""")),

    // ---- O188: domain-grouped train/val/test split --------------------------
    // Leakage-safe splitting at the granularity web data actually leaks at:
    // ALL documents of a registrable domain land in ONE split (near-dups
    // concentrate within hosts — a doc-level split puts one copy in train
    // and its sibling in test). Split = md5(domain) mod 10 → 8/1/1; the
    // zero-cross-split-leakage property holds BY CONSTRUCTION (split is a
    // function of domain) and the spec asserts it as a value rather than
    // trusting the argument.
    DeclaredQuery("domain_grouped_split",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").withColumn("url", synthUrl)
          .withColumn("domain",
            graft.text.DomainCuration.registrableDomain(
              graft.text.DomainCuration.host(col("url"))))
        graft.text.DomainCuration.groupedSplit(docs, "domain")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("domain")).as("n_domains"),
            sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
          .orderBy(col("split"))
      },
      Some(s"""WITH $domainCtes,
        b AS (SELECT doc_id, text, domain,
                ${md5Bits60("domain")} % 10
                  AS bucket
              FROM dom),
        sp AS (SELECT CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
                 domain,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
               FROM b)
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
          CAST(SUM(tok) AS BIGINT) AS n_tokens
        FROM sp GROUP BY 1 ORDER BY split""")),

    // ---- O190: boilerplate-phrase occurrence audit ---------------------------
    // The canned-phrase counter every web corpus runs (the "all rights
    // reserved" / "click here" class): exact substring OCCURRENCE counts
    // per phrase via the portable (len − len(replace))/len(phrase) identity
    // — integer-exact, no regex engine differences — rolled up per source:
    // docs flagged, flag permille, total occurrences. The phrase list here
    // is drawn from the fixture vocabulary (documented stand-ins for the
    // production blocklist, the synthUrl discipline); the operator is the
    // counter, not the list.
    DeclaredQuery("boilerplate_phrase_audit",
      (s, dir) => {
        val phrases = Seq("big table", "fast scan", "slow filter")
        val occ = phrases.map { p =>
          expr(s"CAST(length(text) - length(replace(text, '$p', '')) AS BIGINT)" +
            s" div ${p.length}")
        }.reduce(_ + _)
        tbl(s, dir, "documents")
          .withColumn("occ", occ)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("occ") > 0L, 1L).otherwise(0L)).as("n_flagged"),
            sum(col("occ")).as("total_occurrences"))
          .select(col("source"), col("n_docs"), col("n_flagged"),
            expr("(1000L * n_flagged) div n_docs").as("flag_permille"),
            col("total_occurrences"))
          .orderBy(col("source"))
      },
      Some("""WITH o AS (SELECT source,
               (length(text) - length(replace(text, 'big table', ''))) // 9
             + (length(text) - length(replace(text, 'fast scan', ''))) // 9
             + (length(text) - length(replace(text, 'slow filter', ''))) // 11
               AS occ
             FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_flagged,
          CAST((1000 * SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS flag_permille,
          CAST(SUM(occ) AS BIGINT) AS total_occurrences
        FROM o GROUP BY 1 ORDER BY source""")),

    // ---- O205: C4 blocklist filter verdict ------------------------------------
    // O190 counts phrase occurrences; this row makes the DECISION C4 makes
    // with its word blocklist (Raffel et al. 2020 §2.2: drop any page
    // containing a listed phrase): per-doc ANY-HIT drop verdict, per-source
    // dropped-doc and dropped-token permille, and per-phrase attribution
    // (docs each phrase would drop — overlapping by design; the sum can
    // exceed n_dropped). Same portable substring-count identity as O190,
    // entirely row-local — the verdict rides the corpus scan and the only
    // shuffle is the source-sized ledger. Composition contract: the
    // per-doc `drop` column is the filter a curation pipeline applies
    // BEFORE dedup/quality stages (the curation_pipeline_e2e slot between
    // URL canonicalization and near-dup scoring); the phrase list is the
    // fixture stand-in for the production blocklist (the O190/synthUrl
    // discipline — the operator is the verdict, not the list).
    DeclaredQuery("blocklist_filter_ledger",
      (s, dir) => {
        val phrases = Seq("big table", "fast scan", "slow filter")
        def occ(p: String) = expr(
          s"CAST(length(text) - length(replace(text, '$p', '')) AS BIGINT)" +
            s" div ${p.length}")
        def slug(p: String) = p.replace(' ', '_')
        val flagged = phrases.foldLeft(
          tbl(s, dir, "documents")
            .withColumn("toks", size(split(col("text"), " ")).cast("long"))) {
          (d, p) => d.withColumn(s"hit_${slug(p)}",
            when(occ(p) > 0L, 1L).otherwise(0L))
        }.withColumn("dropped",
          phrases.map(p => col(s"hit_${slug(p)}") === 1L).reduce(_ || _))
        val aggs = Seq(
          count(lit(1)).as("n_docs"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(col("toks")).as("tokens_total"),
          sum(when(col("dropped"), col("toks")).otherwise(0L))
            .as("tokens_dropped")) ++
          phrases.map(p => sum(col(s"hit_${slug(p)}"))
            .as(s"docs_${slug(p)}"))
        flagged.groupBy(col("source"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("source"), col("n_docs"), col("n_dropped"),
            expr("(1000L * n_dropped) div n_docs").as("dropped_permille"),
            col("tokens_total"), col("tokens_dropped"),
            expr("(1000L * tokens_dropped) div tokens_total")
              .as("tokens_dropped_permille"),
            col("docs_big_table"), col("docs_fast_scan"),
            col("docs_slow_filter"))
          .orderBy(col("source"))
      },
      Some("""WITH f AS (SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
               CASE WHEN (length(text) - length(replace(text, 'big table', ''))) // 9 > 0
                    THEN 1 ELSE 0 END AS h1,
               CASE WHEN (length(text) - length(replace(text, 'fast scan', ''))) // 9 > 0
                    THEN 1 ELSE 0 END AS h2,
               CASE WHEN (length(text) - length(replace(text, 'slow filter', ''))) // 11 > 0
                    THEN 1 ELSE 0 END AS h3
             FROM documents),
        v AS (SELECT source, toks, h1, h2, h3,
                CASE WHEN h1 + h2 + h3 > 0 THEN 1 ELSE 0 END AS dropped
              FROM f)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dropped) AS BIGINT) AS n_dropped,
          CAST((1000 * SUM(dropped)) // COUNT(*) AS BIGINT) AS dropped_permille,
          CAST(SUM(toks) AS BIGINT) AS tokens_total,
          CAST(SUM(dropped * toks) AS BIGINT) AS tokens_dropped,
          CAST((1000 * SUM(dropped * toks)) // SUM(toks) AS BIGINT)
            AS tokens_dropped_permille,
          CAST(SUM(h1) AS BIGINT) AS docs_big_table,
          CAST(SUM(h2) AS BIGINT) AS docs_fast_scan,
          CAST(SUM(h3) AS BIGINT) AS docs_slow_filter
        FROM v GROUP BY 1 ORDER BY source""")),

    // ---- O206: incremental-ingest end-to-end composition ----------------------
    // The nightly-batch production shape no single row proved before: a new
    // batch (doc_id >= 250) flows URL-canonicalize → exact dedup against the
    // EXISTING corpus → near-dup clustering against the existing index via
    // INCREMENTAL component maintenance — and the row carries the equality
    // verdict that the incremental labels match the full recompute
    // (label_mismatches, 0 by the O80 contract; the oracle pins the 0, so a
    // divergent incremental path fails the driver gate). Pure composition of
    // landed/memoized stages: the cosine pair frame, the existing-only and
    // full label sets, and the incremental merge are the SAME plans
    // dedup_components / components_incremental_merge consume (one landing /
    // one bounded model each per session). Near-dup semantics are
    // conservative by construction: membership uses the full pair graph, so
    // a batch doc dropped at the URL/exact stage still glues its variants
    // (they are the same page). kept_new_docs counts one canonical (min id)
    // per purely-new component.
    DeclaredQuery("incremental_ingest_e2e",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val batch = docs.filter(col("doc_id") >= 250L)
        // stage 1: URL-collapse the batch (min doc_id per canonical URL)
        val uk = graft.relational.Stages.materialize(
          batch.withColumn("__c",
              graft.text.UrlCanonical.canonicalUrl(variantUrl))
            .groupBy(col("__c")).agg(min(col("doc_id")).as("doc_id")),
          "ingest_urlkept")
        // stage 2: exact-fingerprint anti-join against the existing corpus
        val ek = graft.relational.Stages.materialize(
          uk.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
            .join(docs.filter(col("doc_id") < 250L)
                .select(md5(col("text")).as("__fp")),
              md5(col("text")) === col("__fp"), "left_anti")
            .select(col("doc_id")),
          "ingest_exactkept")
        // stage 3: incremental near-dup labels + the full-recompute arm
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val oldLabels = Components.connectedComponents(
          docs.filter(col("doc_id") < 250).select(col("doc_id")), "doc_id",
          pairs.filter(col("id1") < 250 && col("id2") < 250), "id1", "id2")
        // landed: consumed TWICE (the equality arm and the survivor join),
        // and as separate plan branches its node-scan subtree would
        // re-derive per consumer — measured documents:10 in the final plan
        // before landing, documents:2 after
        val merged = graft.relational.Stages.materialize(
          Components.incrementalComponents(
            oldLabels,
            docs.filter(col("doc_id") >= 250).select(col("doc_id")), "doc_id",
            pairs.filter(col("id1") >= 250 || col("id2") >= 250), "id1", "id2"),
          "ingest_merged")
        val full = Components.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs, "id1", "id2")
        val mism = broadcast(
          merged.join(full.select(col("id"), col("comp").as("__fc")), Seq("id"))
            .agg(sum(when(col("comp") =!= col("__fc"), 1L).otherwise(0L))
              .as("label_mismatches")))
        val sv = ek.select(col("doc_id").as("id")).join(merged, Seq("id"))
        val a1 = batch.agg(count(lit(1)).as("batch_in"))
        val a2 = uk.agg(count(lit(1)).as("after_url"))
        val a3 = ek.agg(count(lit(1)).as("after_exact"))
        // count(when(...)), not sum(when(...)): on an EMPTY survivor frame
        // (every batch doc collapsed upstream) sum returns NULL while the
        // oracle's COUNT(*) returns 0 — count over the conditional is the
        // exact twin (count and countDistinct both yield 0 on empty)
        val a4 = sv.agg(
          count(when(col("comp") < 250L, lit(1))).as("joined_existing"),
          countDistinct(when(col("comp") >= 250L, col("comp")))
            .as("kept_new_docs"))
        a1.crossJoin(broadcast(a2)).crossJoin(broadcast(a3))
          .crossJoin(broadcast(a4)).crossJoin(mism)
          .select(col("batch_in"),
            (col("batch_in") - col("after_url")).as("url_collapsed"),
            (col("after_url") - col("after_exact")).as("exact_dropped"),
            col("joined_existing").as("neardup_existing_dropped"),
            (col("after_exact") - col("joined_existing") -
              col("kept_new_docs")).as("neardup_batch_dropped"),
            col("kept_new_docs"),
            col("label_mismatches"))
      },
      Some(s"""WITH $dedupComponents,
        $urlVariantCanonCtes,
        iuk AS (SELECT MIN(doc_id) AS doc_id FROM ucanon
                WHERE doc_id >= 250 GROUP BY c),
        iek AS (SELECT iuk.doc_id FROM iuk JOIN documents d USING (doc_id)
                WHERE NOT EXISTS (SELECT 1 FROM documents e
                  WHERE e.doc_id < 250 AND md5(e.text) = md5(d.text))),
        isv AS (SELECT iek.doc_id, r.comp FROM iek JOIN r ON r.id = iek.doc_id),
        im AS (SELECT
            (SELECT COUNT(*) FROM documents WHERE doc_id >= 250) AS batch_in,
            (SELECT COUNT(*) FROM iuk) AS after_url,
            (SELECT COUNT(*) FROM iek) AS after_exact,
            (SELECT COUNT(*) FROM isv WHERE comp < 250) AS joined_existing,
            (SELECT COUNT(DISTINCT comp) FROM isv WHERE comp >= 250)
              AS kept_new_docs)
        SELECT CAST(batch_in AS BIGINT) AS batch_in,
          CAST(batch_in - after_url AS BIGINT) AS url_collapsed,
          CAST(after_url - after_exact AS BIGINT) AS exact_dropped,
          CAST(joined_existing AS BIGINT) AS neardup_existing_dropped,
          CAST(after_exact - joined_existing - kept_new_docs AS BIGINT)
            AS neardup_batch_dropped,
          CAST(kept_new_docs AS BIGINT) AS kept_new_docs,
          CAST(0 AS BIGINT) AS label_mismatches
        FROM im""")),

    // ---- O206s: streaming twin of the ingest composition --------------------
    // Production ingest is a stream; each micro-batch needs the nightly
    // pipeline's verdict AT TRIGGER TIME. Documents replay in 4 deterministic
    // batches; per doc the row-local keys (canonical URL, md5 text
    // fingerprint, min-shingle-hash near-dup screen) feed the foreachBatch
    // index pipeline of graft.streaming.StreamingIngest — O(1) persistent
    // keys per survivor, columnar-index equi-joins, no driver or state-store
    // heap. The oracle replays the ledger as plain window minima over the
    // deterministic batch slicing (id-monotone replay order makes "index hit
    // OR smaller id in batch" = "smaller-id qualifying doc exists").
    DeclaredQuery("stream_ingest_dedup",
      (s, dir) => {
        val stream = replay(s, dir, "documents", 4)
        val toks = split(col("text"), " ")
        val enriched = stream.select(
          col("doc_id").cast("long").as("id"),
          graft.text.UrlCanonical.canonicalUrl(variantUrl).as("url_c"),
          md5(col("text")).as("fp"),
          array_min(transform(
            sequence(lit(1), greatest(size(toks) - 2, lit(1))),
            i => graft.functions.HashFunctions.md5Bits60(
              array_join(slice(toks, i, lit(3)), " ")))).as("bk"))
        graft.streaming.StreamingIngest.ingestLedger(
          enriched, "id", "url_c", "fp", "bk")
          .orderBy(col("batch_id"))
      },
      Some(s"""WITH $urlVariantCanonCtes,
        inn AS (SELECT COUNT(*) AS cnt FROM documents),
        ibase AS (SELECT d.doc_id,
            (ROW_NUMBER() OVER (ORDER BY d.doc_id) - 1)
              // ((inn.cnt + 3) // 4) AS batch_id,
            uc.c AS url_c, md5(d.text) AS fp,
            list_min(list_transform(
              range(1, greatest(len(string_split(d.text, ' ')) - 2, 1) + 1),
              i -> ${md5Bits60("array_to_string(list_slice(string_split(d.text, ' '), i, i + 2), ' ')")})) AS bk
          FROM documents d JOIN ucanon uc USING (doc_id) CROSS JOIN inn),
        iu AS (SELECT *, doc_id > MIN(doc_id) OVER (PARTITION BY url_c)
                 AS url_dup FROM ibase),
        ie AS (SELECT *, CASE WHEN url_dup THEN FALSE ELSE
                 doc_id > MIN(CASE WHEN NOT url_dup THEN doc_id END)
                   OVER (PARTITION BY fp) END AS exact_dup FROM iu),
        isf AS (SELECT *, (NOT url_dup) AND (NOT exact_dup) AND
                 doc_id > MIN(CASE WHEN (NOT url_dup) AND (NOT exact_dup)
                     THEN doc_id END) OVER (PARTITION BY bk) AS suspect
               FROM ie)
        SELECT batch_id, COUNT(*) AS batch_in,
          CAST(SUM(CASE WHEN url_dup THEN 1 ELSE 0 END) AS BIGINT) AS url_dups,
          CAST(SUM(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
            AS exact_dups,
          CAST(SUM(CASE WHEN suspect THEN 1 ELSE 0 END) AS BIGINT)
            AS neardup_suspects,
          CAST(SUM(CASE WHEN NOT url_dup AND NOT exact_dup AND NOT suspect
            THEN 1 ELSE 0 END) AS BIGINT) AS new_docs
        FROM isf GROUP BY 1 ORDER BY 1""")),

    // ---- O193: within-document segment dedup ledger --------------------------
    // The Gopher-family cleanup line_dedup_stats does NOT do: a page whose
    // own nav/menu repeats INSIDE it keeps the first copy and drops the
    // rest, however rare the segment is corpus-wide. Entirely row-local
    // array expressions — zero pre-output shuffles, rides the scan at any
    // scale. The fixture's honest reading is sparse (3 docs carry a
    // within-doc repeat at sf0.01 — random text rarely self-repeats); the
    // planted-repeat path is spec-exercised.
    DeclaredQuery("withindoc_segment_dedup",
      (s, dir) => LineDedup.withinDocDedupStats(
        tbl(s, dir, "documents"), "doc_id", "text", segWords = 3)
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts
               FROM documents),
        sg AS (SELECT doc_id, list_transform(range(0, (len(ts) + 2) // 3),
                i -> array_to_string(list_slice(ts, 3*i + 1, 3*i + 3), ' '))
                  AS segs
              FROM tk),
        d AS (SELECT doc_id, segs, len(segs) AS n_seg,
                len(list_distinct(segs)) AS n_unique_seg FROM sg)
        SELECT doc_id, CAST(n_seg AS BIGINT) AS n_seg,
          CAST(n_unique_seg AS BIGINT) AS n_unique_seg,
          CAST(n_seg - n_unique_seg AS BIGINT) AS dup_seg,
          CAST(list_sum(list_transform(segs,
            s -> len(string_split(s, ' ')))) AS BIGINT) AS words_total,
          CAST(COALESCE(list_sum(list_transform(range(1, len(segs) + 1),
            i -> CASE WHEN list_position(segs[1:i-1], segs[i]) > 0
                 THEN len(string_split(segs[i], ' ')) ELSE 0 END)), 0)
            AS BIGINT) AS words_saved
        FROM d ORDER BY doc_id""")),

    // C4-style boilerplate removal: 3-word segments occurring in more than 2
    // distinct documents are dropped corpus-wide; per-doc keep/drop ledger.
    DeclaredQuery("line_dedup_stats",
      (s, dir) => LineDedup.dedupStats(tbl(s, dir, "documents"),
        "doc_id", "text", segWords = 3, maxDocs = 2)
        .orderBy(col("doc_id")),
      Some(s"""WITH w AS (
          ${tokenPositions("word")}),
        seg AS (
          SELECT doc_id, (pos - 1) // 3 AS seg,
                 string_agg(word, ' ' ORDER BY pos) AS seg_text,
                 COUNT(*) AS n_words
          FROM w GROUP BY 1, 2),
        freq AS (
          SELECT md5(seg_text) AS fp, COUNT(DISTINCT doc_id) AS df
          FROM seg GROUP BY 1)
        SELECT s.doc_id,
          COUNT(*) AS n_seg,
          CAST(SUM(CASE WHEN f.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS kept_seg,
          CAST(SUM(CASE WHEN f.df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_seg,
          CAST(SUM(CASE WHEN f.df <= 2 THEN s.n_words ELSE 0 END) AS BIGINT) AS kept_words
        FROM seg s JOIN freq f ON f.fp = md5(s.seg_text)
        GROUP BY 1 ORDER BY 1""")),

    // Sequence packing: documents concatenated in doc_id order, the token
    // stream cut every 256 tokens; each doc belongs to the chunk holding its
    // first token. Distributed two-phase prefix sum — no global-order window.
    DeclaredQuery("seq_pack_chunks",
      (s, dir) => Packing.packSequences(tbl(s, dir, "documents"),
        "doc_id", size(split(col("text"), " ")), budget = 256)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("chunk_id")),
      Some("""WITH t AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        c AS (
          SELECT doc_id, n,
                 SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cw
          FROM t)
        SELECT CAST((cw - n) // 256 AS BIGINT) AS chunk_id,
          COUNT(*) AS n_docs,
          CAST(SUM(n) AS BIGINT) AS total_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1 ORDER BY 1""")),

    // Dataset card / manifest: the per-source datasheet a released corpus
    // ships with — doc and token counts, language spread, exact-duplicate
    // exposure (via corpus-wide md5 fingerprint frequencies, an
    // answer-per-distinct-text join), and token-length envelope. Every
    // aggregate is an order-free count/sum/min/max; the one double (mean
    // tokens) is a single IEEE division of exact integers.
    DeclaredQuery("dataset_manifest",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("fp", md5(col("text")))
        val fps = docs.groupBy(col("fp")).agg(count(lit(1)).as("fp_n"))
        docs.join(fps, "fp")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            sum(when(col("fp_n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .withColumn("mean_tokens",
            col("total_tokens").cast("double") / col("n_docs").cast("double"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, lang, md5(text) AS fp,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        f AS (SELECT fp, COUNT(*) AS fp_n FROM d GROUP BY 1)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          COUNT(DISTINCT lang) AS n_langs,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          CAST(SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
          MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
          CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens
        FROM d JOIN f USING (fp)
        GROUP BY 1 ORDER BY 1""")),

    // Bucketed batching: pow-2 length buckets, 8-doc batches cut within each
    // bucket in stable doc_id order; per-batch padding waste (pad to the
    // batch max vs pad to the bucket width) quantifies the layout's win.
    // In-bucket ranks come from the grouped two-phase prefix sum — a
    // per-bucket window would serialize each rung into one task.
    DeclaredQuery("length_bucket_batches",
      (s, dir) => Packing.lengthBucketBatches(tbl(s, dir, "documents"),
        "doc_id", size(split(col("text"), " ")), batchSize = 8)
        .groupBy(col("bucket"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_sum"),
          max(col("n_tokens")).as("tokens_max"))
        .withColumn("pad_waste",
          col("n_docs") * col("tokens_max") - col("tokens_sum"))
        .withColumn("bucket_pad",
          col("n_docs") * col("bucket") - col("tokens_sum"))
        .orderBy(col("bucket"), col("batch_id")),
      Some("""WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        b AS (
          SELECT doc_id, n,
            CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                 WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                 ELSE 1024 END AS bucket
          FROM t),
        r AS (
          SELECT doc_id, n, bucket,
            ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk
          FROM b),
        a AS (
          SELECT CAST(bucket AS BIGINT) AS bucket,
            CAST((rk - 1) // 8 AS BIGINT) AS batch_id,
            COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS tokens_sum,
            MAX(n) AS tokens_max
          FROM r GROUP BY 1, 2)
        SELECT bucket, batch_id, n_docs, tokens_sum, tokens_max,
          n_docs * tokens_max - tokens_sum AS pad_waste,
          n_docs * bucket - tokens_sum AS bucket_pad
        FROM a ORDER BY bucket, batch_id""")),

    // RAG/long-context chunking: 40-token windows every 20 tokens, last
    // chunk short, all per-row integer math (shuffle-free).
    DeclaredQuery("chunk_overlap_stats",
      (s, dir) => Packing.chunkWithOverlap(tbl(s, dir, "documents"),
        size(split(col("text"), " ")), size = 40, stride = 20)
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("end_tok"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH t AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        c AS (
          SELECT doc_id, n,
                 CASE WHEN n <= 40 THEN 1 ELSE 1 + (n - 40 + 19) // 20 END AS nc
          FROM t),
        x AS (SELECT doc_id, n, unnest(range(nc)) AS chunk_idx FROM c)
        SELECT doc_id, chunk_idx, chunk_idx * 20 AS start_tok,
          least(chunk_idx * 20 + 40, n) AS end_tok
        FROM x ORDER BY doc_id, chunk_idx""")),

    // Exact heavy hitters over word bigrams: Misra-Gries candidate sketches
    // per partition (k=900 counters), exact verify over candidates only;
    // result = every bigram with frequency > n/900, identical to the full
    // groupBy plan but shuffling only the answer-sized candidate set.
    DeclaredQuery("heavy_hitters_bigrams",
      (s, dir) => {
        // split ONCE per row, then pair adjacent words with zip_with over two
        // slices — a transform whose lambda re-splits the text is O(words²)
        // per document and dominated this query's runtime
        val bigrams = tbl(s, dir, "documents")
          .select(split(col("text"), " ").as("ws"))
          .select(explode(zip_with(
            slice(col("ws"), lit(1), size(col("ws")) - 1),
            slice(col("ws"), lit(2), size(col("ws")) - 1),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
        HeavyHitters.exactHeavyHitters(bigrams, "bigram", k = 900)
          .orderBy(col("bigram"))
      },
      Some(s"""WITH w AS (
          ${tokenPositions("word")}),
        bg AS (
          SELECT a.word || ' ' || b.word AS bigram
          FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        tot AS (SELECT COUNT(*) AS n FROM bg)
        SELECT bigram, COUNT(*) AS cnt, (SELECT n FROM tot) AS n_total
        FROM bg GROUP BY 1
        HAVING COUNT(*) * 900 > (SELECT n FROM tot)
        ORDER BY 1""")),

    // The dedup pipeline's last mile: near-dup edges -> connected components
    // -> ONE canonical doc per cluster (longest text, ties to smallest id)
    // via a single max-of-struct aggregation, not a window sort.
    DeclaredQuery("dedup_canonical_docs",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val labels = Components.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs, "id1", "id2")
        Components.canonicalPerComponent(labels,
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
          .withColumnRenamed("canonical_score", "canonical_chars")
          .orderBy(col("comp"))
      },
      Some(s"""WITH $dedupComponents,
        j AS (SELECT r.comp, r.id, d.n_chars
              FROM r JOIN documents d ON d.doc_id = r.id),
        rk AS (SELECT comp, id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY comp
                   ORDER BY n_chars DESC, id) AS rn,
                 COUNT(*) OVER (PARTITION BY comp) AS n_members
               FROM j)
        SELECT comp, CAST(n_members AS BIGINT) AS n_members,
          id AS canonical_id, n_chars AS canonical_chars
        FROM rk WHERE rn = 1 AND n_members > 1 ORDER BY comp""")),

    // ---- O201: URL canonicalization ledger ----------------------------------
    // The duplicate-URL collapse before content dedup: scheme/host case,
    // default ports, fragments, trailing slashes, tracking params
    // (utm_*/gclid/fbclid), and query-param ORDER are transport noise —
    // the same page arrives under many spellings, double-counting it in
    // every cap and dedup pass downstream. Row-local regex/array
    // normalization (UrlCanonical scaladoc lists the steps and the
    // deliberate keep-www choice); the fixture synthesizes one page per
    // (source, doc_id div 80) under FOUR rotating spellings, so every
    // normalization step fires and the per-source collapse permille is the
    // gated reading.
    DeclaredQuery("url_canonicalization",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.text.UrlCanonical.ledger(
          docs.withColumn("url", variantUrl), "url", "source")
          .orderBy(col("source"))
      },
      Some(s"""WITH $urlVariantCanonCtes
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_urls,
          CAST(SUM(CASE WHEN url <> c THEN 1 ELSE 0 END) AS BIGINT)
            AS n_changed,
          CAST(COUNT(DISTINCT c) AS BIGINT) AS n_canonical,
          CAST(COUNT(*) - COUNT(DISTINCT c) AS BIGINT) AS n_collapsed,
          CAST((1000 * (COUNT(*) - COUNT(DISTINCT c))) // COUNT(*) AS BIGINT)
            AS collapse_permille
        FROM ucanon GROUP BY 1 ORDER BY 1""")),

    // ---- O200: quality-ranked canonical pick --------------------------------
    // The canonical-doc decision production dedup actually makes: keep the
    // BEST-WRITTEN member of each near-dup cluster (highest NB quality
    // margin), not the longest — boilerplate-padded variants are often the
    // longest copy. Pure composition of three landed/memoized stages: the
    // cosine pair frame (landed), the union-find labels (memoized per edge
    // plan), and the NB score stage (landed nb_scores); both picks come
    // from max-of-struct aggregates (no per-cluster sort), and the row
    // carries the length pick BESIDE the quality pick with a picks_differ
    // verdict — fixture: 28 of 35 clusters choose a DIFFERENT canonical,
    // the measured reason this operator exists.
    DeclaredQuery("canonical_by_quality",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val labels = Components.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs, "id1", "id2")
        val scores = graft.text.QualityClassifier
          .score(docs, "doc_id", "text", isPositive = col("lang") === "en")
          .select(col("doc_id"), col("margin_bits"))
        labels.join(scores, col("id") === scores("doc_id"))
          .join(docs.select(col("doc_id").as("__d2"), col("n_chars")),
            col("id") === col("__d2"))
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("margin_bits"), (-col("id")).as("nid"))).as("__q"),
            max(struct(col("n_chars"), (-col("id")).as("nid"))).as("__l"))
          .filter(col("n_members") > 1L)
          .select(col("comp"), col("n_members"),
            (-col("__q.nid")).as("quality_canonical_id"),
            col("__q.margin_bits").as("canonical_margin_bits"),
            (-col("__l.nid")).as("length_canonical_id"),
            ((-col("__q.nid")) =!= (-col("__l.nid"))).as("picks_differ"))
          .orderBy(col("comp"))
      },
      Some(s"""WITH $dedupComponents,
        lab AS (SELECT doc_id, lang = 'en' AS pos FROM documents),
        cc2 AS (SELECT t,
                  CAST(SUM(CASE WHEN l.pos THEN tf ELSE 0 END) AS BIGINT) AS cpos,
                  CAST(SUM(CASE WHEN l.pos THEN 0 ELSE tf END) AS BIGINT) AS cneg
                FROM tf JOIN lab l USING (doc_id) GROUP BY t),
        tot2 AS (SELECT CAST(SUM(cpos) AS BIGINT) AS tp,
                   CAST(SUM(cneg) AS BIGINT) AS tn, COUNT(*) AS v FROM cc2),
        wt AS (SELECT t, length(bin((tp + v) // (cpos + 1))) - 1 AS bp,
                 length(bin((tn + v) // (cneg + 1))) - 1 AS bn
               FROM cc2 CROSS JOIN tot2),
        sc AS (SELECT tt.doc_id,
                 CAST(SUM(tt.tf * bn) AS BIGINT) -
                   CAST(SUM(tt.tf * bp) AS BIGINT) AS margin_bits
               FROM tf tt JOIN wt USING (t) GROUP BY 1),
        m AS (SELECT r.comp, r.id, s.margin_bits, d.n_chars
              FROM r JOIN sc s ON s.doc_id = r.id
              JOIN documents d ON d.doc_id = r.id),
        rk AS (SELECT comp, id, margin_bits, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY comp
                   ORDER BY margin_bits DESC, id) AS rq,
                 ROW_NUMBER() OVER (PARTITION BY comp
                   ORDER BY n_chars DESC, id) AS rl,
                 COUNT(*) OVER (PARTITION BY comp) AS n_members
               FROM m),
        qp AS (SELECT comp, CAST(n_members AS BIGINT) AS n_members,
                 id AS quality_canonical_id,
                 margin_bits AS canonical_margin_bits
               FROM rk WHERE rq = 1 AND n_members > 1),
        lp AS (SELECT comp, id AS length_canonical_id FROM rk WHERE rl = 1)
        SELECT qp.comp, qp.n_members, qp.quality_canonical_id,
          qp.canonical_margin_bits, lp.length_canonical_id,
          qp.quality_canonical_id <> lp.length_canonical_id AS picks_differ
        FROM qp JOIN lp USING (comp) ORDER BY qp.comp""")),

    // Skew-salted equi join: events (150 hot user keys) against the customer
    // dim on a derived key, salted 8 ways so each hot key spreads over 8
    // shuffle partitions; the result is identical to the plain join.
    DeclaredQuery("salted_join_events",
      (s, dir) => {
        val ev = events(s, dir)
          .withColumn("custkey", (col("user_id") + 1).cast("long"))
        val dim = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        Skew.saltedJoin(ev, "custkey", dim, "c_custkey",
          spreadCol = col("event_id"), saltBuckets = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            dsum(dec2(col("value"))).as("total_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c.c_mktsegment, COUNT(*) AS n_events,
          CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
        GROUP BY 1 ORDER BY 1""")),

    // Trailing-window interval join, bucketized to an equi join: for each
    // purchase, clicks by the same user in the preceding 10 minutes.
    DeclaredQuery("interval_click_counts",
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
        IntervalJoin.recentCount(purchases, "event_id", "user_id", "ts",
          clicks, "ts", windowMicros = 600000000L, outName = "n_clicks")
          .select(col("event_id"), col("user_id"), col("n_clicks"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, COUNT(c.event_id) AS n_clicks
        FROM events p LEFT JOIN events c
          ON c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1""")),

    // First-touch attribution over the same bucketized interval join: for
    // each purchase, the EARLIEST click by the same user in the trailing
    // 2 h — the argmin is a min(struct(ts, id)) aggregate (deterministic
    // id tiebreak), never a per-group sort or window. Only attributed
    // purchases emit; minutes_before is exact integer arithmetic on µs.
    DeclaredQuery("attribution_first_touch",
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
        IntervalJoin.firstInWindow(purchases, "event_id", "user_id", "ts",
          clicks, "event_id", "ts", windowMicros = 7200000000L,
          outTs = "first_click_ts", outId = "first_click_id")
          .filter(col("first_click_id").isNotNull)
          .select(col("event_id"), col("first_click_id"),
            col("first_click_ts").cast("timestamp_ntz").as("first_click_ts"),
            expr("(unix_micros(ts) - unix_micros(first_click_ts)) div 60000000")
              .as("minutes_before"))
          .orderBy(col("event_id"))
      },
      Some("""WITH m AS (
          SELECT p.event_id, c.event_id AS first_click_id, c.ts AS first_click_ts,
            (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 AS minutes_before,
            ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY c.ts, c.event_id) AS rn
          FROM events p JOIN events c
            ON c.user_id = p.user_id AND c.event_type = 'click'
           AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts < p.ts
          WHERE p.event_type = 'purchase')
        SELECT event_id, first_click_id, first_click_ts, minutes_before
        FROM m WHERE rn = 1 ORDER BY event_id""")),

    // Token-rarity quality scoring: the deterministic stand-in for
    // LM-perplexity filtering — rank the vocabulary by corpus frequency
    // (unique ranks, ties by token), score each doc by the exact integer
    // sum of its tokens' ranks; the mean is one IEEE division, written
    // identically in the oracle.
    DeclaredQuery("doc_rarity_score",
      (s, dir) => {
        val ranks = TextFunctions.tokenRarityRanks(
          tbl(s, dir, "documents"), "doc_id", "text")
        ranks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("rank")).as("sum_rank"),
            sum(when(col("rank") > 20, 1L).otherwise(0L)).as("rare_tokens"))
          .withColumn("mean_rank",
            col("sum_rank").cast("double") / col("n_tokens").cast("double"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
          $tokenize),
        r AS (
          SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rank
          FROM w GROUP BY t)
        SELECT w.doc_id, COUNT(*) AS n_tokens,
          CAST(SUM(r.rank) AS BIGINT) AS sum_rank,
          CAST(SUM(CASE WHEN r.rank > 20 THEN 1 ELSE 0 END) AS BIGINT) AS rare_tokens,
          CAST(CAST(SUM(r.rank) AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS mean_rank
        FROM w JOIN r USING (t)
        GROUP BY w.doc_id ORDER BY w.doc_id""")),

    // Exact-quota source-mix rebalancing: target proportions from cyclic
    // weights (10/20/30/40 by source number), quotas in pure integer math
    // anchored at the binding (first-exhausted) source, membership = the
    // quota smallest md5 ranks per source — count-exact and deterministic.
    DeclaredQuery("source_mix_quota",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val wcol = lit(10L) * (lit(1L) +
          substring(col("source"), 4, 10).cast("long") % 4)
        val kept = Sampling.quotaMixSample(docs, "source", col("doc_id"), wcol)
        val stats = kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_checksum"))
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          // per-source aggregates are group-bounded — broadcast at any SF
          .join(broadcast(stats), Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"))
          .orderBy(col("source"))
      },
      Some("""WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        wn AS (SELECT source, n_docs,
                 10 * (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS w
               FROM n),
        u AS (SELECT source, n_docs, w, (n_docs * 1000000) // w AS units FROM wn),
        t AS (SELECT MIN(units) AS tmin FROM u),
        q AS (SELECT source, n_docs,
                ((SELECT tmin FROM t) * w) // 1000000 AS quota
              FROM u),
        r AS (SELECT doc_id, source,
                ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS rn
              FROM documents),
        k AS (SELECT r.source, COUNT(*) AS n_kept, SUM(doc_id) AS kept_checksum
              FROM r JOIN q ON q.source = r.source
              WHERE r.rn <= q.quota GROUP BY 1)
        SELECT q.source, q.n_docs, COALESCE(k.n_kept, 0) AS n_kept,
          CAST(COALESCE(k.kept_checksum, 0) AS BIGINT) AS kept_checksum
        FROM q LEFT JOIN k ON k.source = q.source ORDER BY q.source""")),

    // The operators composing end to end — the whole curation pass a
    // training-data build runs, one declared query: segment-level
    // boilerplate removal -> token recount + quality floor -> exact-quota
    // source mixing -> 256-token sequence packing -> per-chunk manifest.
    // Every stage is individually oracled above; this proves they compose
    // (the oracle replays the full pipeline as one CTE chain).
    DeclaredQuery("curation_pipeline_e2e",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // Stage outputs are read 2× downstream (quota sampling: counts +
        // rank; prefix-sum packing: bucket totals + final), and lazy
        // composition MULTIPLIES those reads through the chain. In-plan
        // exchange-reuse anchors only partially close that (per-branch
        // column pruning breaks subtree identity — Stages scaladoc), so the
        // expensive boundary (`scored`: the full clean+score derivation) is
        // a durable stage write, exactly the inter-job table a production
        // pipeline lands; downstream stages scan its compact (id, n,
        // source) projection instead of re-deriving the corpus clean.
        val cleaned = LineDedup.cleanDocs(docs, "doc_id", "text",
          segWords = 3, maxDocs = 2)
        val scored = graft.relational.Stages.materialize(
          cleaned
            .withColumn("n", size(split(col("text"), " ")).cast("long"))
            .filter(col("n") >= 5)
            .join(docs.select(col("doc_id"), col("source")), "doc_id")
            .select(col("doc_id"), col("n"), col("source")),
          "scored")
        val wcol = lit(10L) * (lit(1L) +
          substring(col("source"), 4, 10).cast("long") % 4)
        val mixed = graft.relational.Stages.materialize(
          Sampling.quotaMixSample(scored, "source", col("doc_id"), wcol),
          "mixed")
        Packing.packSequences(mixed, "doc_id", col("n"), budget = 256)
          .groupBy(col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("chunk_id"))
      },
      Some(s"""WITH w AS (
          ${tokenPositions("word")}),
        seg AS (
          SELECT doc_id, (pos - 1) // 3 AS seg,
                 string_agg(word, ' ' ORDER BY pos) AS seg_text,
                 COUNT(*) AS n_words
          FROM w GROUP BY 1, 2),
        freq AS (
          SELECT md5(seg_text) AS fp, COUNT(DISTINCT doc_id) AS df
          FROM seg GROUP BY 1),
        clean AS (
          SELECT s.doc_id, CAST(SUM(s.n_words) AS BIGINT) AS n
          FROM seg s JOIN freq f ON f.fp = md5(s.seg_text)
          WHERE f.df <= 2 GROUP BY 1),
        scored AS (
          SELECT c.doc_id, c.n, d.source
          FROM clean c JOIN documents d USING (doc_id)
          WHERE c.n >= 5),
        cnt AS (SELECT source, COUNT(*) AS nd FROM scored GROUP BY 1),
        wn AS (SELECT source, nd,
                 10 * (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS wt
               FROM cnt),
        u AS (SELECT source, nd, wt, (nd * 1000000) // wt AS units FROM wn),
        t AS (SELECT MIN(units) AS tmin FROM u),
        q AS (SELECT source,
                ((SELECT tmin FROM t) * wt) // 1000000 AS quota
              FROM u),
        r AS (SELECT sc.doc_id, sc.n, sc.source,
                ROW_NUMBER() OVER (PARTITION BY sc.source
                  ORDER BY md5(CAST(sc.doc_id AS VARCHAR)), CAST(sc.doc_id AS VARCHAR)) AS rn
              FROM scored sc),
        kept AS (SELECT r.doc_id, r.n FROM r
                 JOIN q ON q.source = r.source WHERE r.rn <= q.quota),
        packed AS (
          SELECT doc_id, n,
                 SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cw
          FROM kept)
        SELECT CAST((cw - n) // 256 AS BIGINT) AS chunk_id, COUNT(*) AS n_docs,
          CAST(SUM(n) AS BIGINT) AS total_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM packed GROUP BY 1 ORDER BY 1""")),

    // Per-source token-budget quota (corpus mixing caps): walk each source's
    // docs in id order, keep while the running token sum stays within 500.
    DeclaredQuery("source_token_budget",
      (s, dir) => Packing.groupTokenBudget(tbl(s, dir, "documents"),
        "source", "doc_id", size(split(col("text"), " ")), budget = 500)
        .orderBy(col("source")),
      Some("""WITH t AS (
          SELECT source, doc_id, len(string_split(text, ' ')) AS n
          FROM documents),
        c AS (
          SELECT source, n,
                 SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cw
          FROM t)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN cw <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN cw <= 500 THEN n ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM c GROUP BY 1 ORDER BY 1""")),

    // ---- O100: block-and-verify edit similarity ----------------------------
    // Prefix-blocked candidate pairs scored with exact Levenshtein
    // similarity permille — the verify stage appended to any blocker
    // (see EditVerify scaladoc; hot-block quadratic guarded loudly).
    DeclaredQuery("blocked_edit_similarity",
      (s, dir) => graft.dedup.EditVerify.blockedEditSimilarity(
        tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id1"), col("id2")),
      Some("""WITH b AS (SELECT doc_id, substring(text, 1, 40) AS blk,
               substring(text, 1, 2000) AS t
             FROM documents WHERE doc_id IS NOT NULL),
        p AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
                CAST(levenshtein(a.t, c.t) AS BIGINT) AS dist,
                CAST(greatest(length(a.t), length(c.t)) AS BIGINT) AS max_len
              FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id)
        SELECT id1, id2, dist, max_len,
          CAST(CASE WHEN max_len = 0 THEN 1000
            ELSE (1000 * (max_len - dist)) // max_len END AS BIGINT)
            AS sim_permille
        FROM p ORDER BY id1, id2""")),

    // ---- O144: coverage-maximizing subset selection ---------------------------
    // Greedy facility location over the doc/shingle bipartite (Lin & Bilmes
    // 2011's set-cover slice): k documents spanning the most distinct
    // n-gram space — dedup's complement (seed DIVERSITY rather than remove
    // redundancy). One anti-join + keyed count + TakeOrdered(1) per pinned
    // round; gains are exact distinct-key counts on the same landed md5-60
    // shingle index the jaccard family rides; oracle replays every round.
    DeclaredQuery("coverage_select_greedy",
      (s, dir) => graft.dedup.CoverageSelect.greedyCoverage(
        tbl(s, dir, "documents"), "doc_id", "text", k = 6),
      Some(coverageOracle(6))),

    // ---- O194: main-content extraction (boilerplate DOM removal) ----------
    // The trafilatura/jusText pass between raw HTML and every text filter:
    // block the page, classify blocks by link density + length
    // (cross-multiplied integers, no division), rescue short blocks beside
    // good ones (one-step jusText smoothing), report the per-source
    // kept-block/kept-token ledger. Parse is stubbed (md5-mod-5 word link
    // flag — the MediaAnalysis swap contract); the whole classifier is
    // row-local array expressions — the pass rides the corpus scan, zero
    // pre-ledger shuffles. Fixture mix at the gate: 2000 good / 164 bad /
    // 1445 short blocks, so classification AND smoothing both fire.
    DeclaredQuery("main_content_extract",
      (s, dir) => graft.text.MainContent.ledger(
        tbl(s, dir, "documents"), "doc_id", "text", "source",
        blockWords = 8, minGoodWords = 6)
        .orderBy(col("source")),
      Some(s"""WITH w AS (SELECT doc_id, source,
                 unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
               FROM documents),
        blk AS (SELECT doc_id, source, (pos - 1) // 8 AS b,
                  CAST(COUNT(*) AS BIGINT) AS nw,
                  CAST(SUM(CASE WHEN ${md5Bits60("word")} % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nl
                FROM w GROUP BY 1, 2, 3),
        cls AS (SELECT doc_id, source, b, nw,
                  CASE WHEN 2 * nl >= nw THEN 0
                       WHEN nw >= 6 AND 5 * nl <= nw THEN 2
                       ELSE 1 END AS c
                FROM blk),
        sm AS (SELECT doc_id, source, b, nw, c,
                 LAG(c) OVER (PARTITION BY doc_id ORDER BY b) AS pc,
                 LEAD(c) OVER (PARTITION BY doc_id ORDER BY b) AS nc
               FROM cls),
        k AS (SELECT doc_id, source, nw,
                (c = 2 OR (c = 1 AND (COALESCE(pc, 0) = 2
                                      OR COALESCE(nc, 0) = 2))) AS keep
              FROM sm)
        SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_blocks,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS blocks_kept,
          CAST(SUM(nw) AS BIGINT) AS tokens_total,
          CAST(SUM(CASE WHEN keep THEN nw ELSE 0 END) AS BIGINT) AS tokens_kept,
          CAST((1000 * SUM(CASE WHEN keep THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS kept_block_permille,
          CAST((1000 * SUM(CASE WHEN keep THEN nw ELSE 0 END)) // SUM(nw)
            AS BIGINT) AS kept_token_permille
        FROM k GROUP BY 1 ORDER BY 1"""))
  )

  /** DuckDB replay of [[graft.dedup.CoverageSelect.greedyCoverage]]: the
    * identical blockless md5-60 shingle index, then k chained rounds —
    * each round's pick is ORDER BY gain DESC, id LIMIT 1 over the
    * not-yet-covered keys, and the covered set grows by the pick's keys.
    */
  private def coverageOracle(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val notCovered =
        if (r == 1) "" else s"WHERE NOT EXISTS (SELECT 1 FROM cov${r - 1} c WHERE c.key = hs.key)"
      val cov =
        if (r == 1) s"SELECT DISTINCT hs.key FROM hs JOIN g1 USING (id)"
        else s"SELECT key FROM cov${r - 1} UNION " +
          s"SELECT hs.key FROM hs JOIN g$r USING (id)"
      s"""g$r AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS gain FROM hs
           $notCovered GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
        sel$r AS (SELECT CAST($r AS BIGINT) AS round, id, gain FROM g$r),
        cov$r AS MATERIALIZED ($cov)"""
    }.mkString(",\n        ")
    val union = (1 to k).map(r => s"SELECT * FROM sel$r").mkString(" UNION ALL ")
    s"""WITH tk AS (SELECT doc_id AS id, string_split(text, ' ') AS ts
          FROM documents),
        hs AS MATERIALIZED (SELECT DISTINCT id,
            unnest(list_distinct(list_transform(range(1, len(ts) - 1),
              i -> ${md5Bits60("array_to_string( list_slice(ts, i, i + 2), ' ')")}))) AS key
          FROM tk WHERE len(ts) >= 3),
        $rounds,
        u AS ($union)
        SELECT round, CAST(id AS BIGINT) AS doc_id, gain AS marginal_gain,
          CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
        FROM u ORDER BY round"""
  }
}
