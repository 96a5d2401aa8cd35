package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over text, DataFrame-only.
  *
  * Pipeline (all distributed, no driver-side loops):
  *   1. shingle: word n-grams per doc, exploded to (doc, shingle) rows
  *   2. base hash: ONE string hash per shingle (`xxhash64`, codegen'd)
  *   3. signature: k minhashes as k `min(xxhash64(seed_i, base))` aggregate
  *      columns — a plain groupBy, so Catalyst partial-aggregates map-side
  *      and the whole stage is codegen'd
  *   4. banding: split the k mins into b bands of r; band key = hash of the
  *      band's mins; docs sharing any band key become candidates (standard
  *      LSH S-curve: P[candidate] = 1-(1-J^r)^b)
  *   5. candidate pairs: self-join on (band, key) with id < id — the only
  *      shuffle-join, on the tiny banded projection, never on the texts
  *   6. exact verify: inverted-index join on distinct shingle hashes —
  *      true Jaccard from |A∩B| counts, all equi-joins on longs
  *
  * Design note for scale: an earlier formulation computed the signature with
  * nested higher-order-function lambdas (`transform`/`aggregate`). Spark
  * evaluates HOF lambdas interpreted — outside whole-stage codegen — and
  * re-evaluates multiply-referenced sub-expressions, which made signatures
  * ~60× slower than this explode+groupBy shape. Everything here stays inside
  * WholeStageCodegen with map-side combine; cost is O(shingles · k) long ops.
  *
  * Skew: a hot band bucket (shared boilerplate) is capped by `maxBucket`
  * before the self-join; AQE skew-join splitting covers the rest.
  */
object MinHash {

  /** (id, shingle-base-hash) rows: one codegen'd string hash per shingle.
    *
    * Shingles are assembled with window `lead`s over exploded tokens rather
    * than array lambdas (HOF shingle construction is interpreted and was the
    * dominant cost). Duplicate shingles are NOT removed — `min` is
    * duplicate-insensitive, so signatures are unchanged and we skip a
    * per-doc distinct. The window's hash-partitioning by id is reused by the
    * downstream groupBy: one exchange total.
    */
  private def baseHashes(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    // Hash each token ONCE, then fuse the n consecutive token hashes into the
    // shingle base with one fixed-width xxhash64 — no per-shingle string
    // allocation/concat (each input byte is hashed once instead of n times).
    val leads = (0 until shingleN).map {
      case 0 => col("th")
      case i => lead(col("th"), i).over(w)
    }
    docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), xxhash64(col("t")).as("th"))
      .select(col("id"), xxhash64(leads: _*).as("h"), leads.last.isNotNull.as("full"))
      .filter(col("full"))
      .select(col("id"), col("h"))
  }

  /** Distinct (id, shingle-hash) rows — the one frame both the signature and
    * the exact-verify paths consume. The dedup aggregate and the downstream
    * per-id groupBys all ride the window's hash-partitioning by id (id is a
    * subset of every grouping), so none of them re-shuffle, and the shared
    * exchange is computed once (ReuseExchange) when a query derives both
    * signatures and verification from the same call.
    */
  def distinctHashes(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int): DataFrame =
    baseHashes(docs, idCol, textCol, shingleN).distinct()

  /** k minhash columns m0..m(k-1) per doc id from distinct shingle hashes. */
  def signatureColsFromHashes(hs: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    hs.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** k minhash columns m0..m(k-1) per doc id. Docs with no shingles (fewer
    * than n tokens) drop out — they cannot near-dup match by definition.
    *
    * Seed mixing uses `xxhash64(seed_i, base)` — one string hash per shingle
    * plus k fixed-width hashes, and the k mixes run over DISTINCT shingles
    * only (min is duplicate-insensitive, so signatures are unchanged and
    * repeated shingles aren't re-mixed k times). (An affine a·x+b family
    * would be cheaper but needs wrapping long arithmetic, which ANSI mode
    * forbids.)
    */
  def signatureCols(docs: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, k: Int): DataFrame =
    signatureColsFromHashes(distinctHashes(docs, idCol, textCol, shingleN), k)

  /** k-minhash signature as a single array<long> column (id, sig). */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, k: Int = 64): DataFrame =
    signatureCols(docs, idCol, textCol, shingleN, k)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))

  /** (id, band, band_key) LSH banding rows for each doc: the unit of
    * near-dup candidacy (two docs sharing any (band, band_key) are
    * candidates). Public building block — the batch pair-finder and the
    * streaming ingest filter both consume it.
    */
  def bandKeys(mins: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must be divisible by numBands")
    val r = numHashes / numBands
    mins.select(col("id"),
      explode(array((0 until numBands).map { j =>
        struct(lit(j).as("band"),
          xxhash64((j * r until (j + 1) * r).map(i => col(s"m$i")): _*).as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.band_key"))
  }

  /** Candidate pairs from banded rows: skew-cap pathological buckets, then
    * the one shuffle-join on the banded projection. Shared by the xxhash64
    * fast path and the md5-portable variant (one place for the bucket cap
    * and the id1<id2 convention).
    */
  private def candidatePairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val bucketed = banded
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("__n") <= maxBucket).drop("__n")
    bucketed.select(col("band"), col("band_key"), col("id").as("id1"))
      .join(bucketed.select(col("band"), col("band_key"), col("id").as("id2")),
        Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact Jaccard for candidate pairs via the inverted index on distinct
    * (id, h) rows: |A∩B| as equi-joined row counts — hash joins over longs,
    * no per-pair array work. Shared by both hash families.
    */
  private def verifyJaccard(hs: DataFrame, candidates: DataFrame): DataFrame = {
    val sizes = hs.groupBy(col("id")).agg(count(lit(1)).as("n"))
    candidates
      .join(hs.select(col("id").as("id1"), col("h")), "id1")
      .join(hs.select(col("id").as("id2"), col("h")), Seq("id2", "h"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
  }

  /** Engine-portable MinHash: the identical pipeline with every hash
    * md5-derived (60-bit hex-prefix longs), so signatures, band keys,
    * candidates, and verified Jaccards are all reproducible in any engine —
    * this variant is DuckDB-oracle hash-checked end to end, closing the
    * "seeded hashes aren't portable" gap the xxhash64 fast path carries.
    *
    * Cost: one md5 per distinct shingle + k short-input md5 mixes per
    * distinct shingle hash (vs xxhash64's fused fixed-width hashing) —
    * the fast path stays the default; this is the verifiable one. Same
    * scale shape: explode → groupBy min aggregates → banded equi-join →
    * inverted-index verify; no HOF lambdas, no array row work.
    */
  def nearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, numHashes: Int = 16,
                           numBands: Int = 8, minJaccard: Double = 0.5,
                           maxBucket: Int = 1000): DataFrame = {
    val (hs, banded) = portableIndex(docs, idCol, textCol, shingleN,
      numHashes, numBands)
    verifyJaccard(hs, candidatePairs(banded, maxBucket))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The portable pipeline's banded rows (id, band, band_key) — exposed for
    * index DIAGNOSTICS (bucket-size distributions, collision budgets) that
    * read the banding itself rather than the pairs it produces.
    */
  def portableBandKeys(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, numHashes: Int = 16,
                       numBands: Int = 8): DataFrame =
    portableIndex(docs, idCol, textCol, shingleN, numHashes, numBands)._2

  /** The portable pipeline's PRE-VERIFY candidate pairs (id1 < id2) —
    * exposed for blocking-quality audits (pair completeness vs an exact
    * truth set, comparison-space reduction): the blocker's raw output IS
    * the quantity those metrics are defined on, before verification
    * shrinks it.
    */
  def portableCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int = 3, numHashes: Int = 16,
                             numBands: Int = 8,
                             maxBucket: Int = 1000): DataFrame =
    candidatePairs(portableIndex(docs, idCol, textCol, shingleN,
      numHashes, numBands)._2, maxBucket)

  /** Shared build of the portable (distinct-hash, banded) frames. */
  /** Portable md5-derived minhash mins m0..m(k-1) per id from the distinct
    * 60-bit shingle-hash frame. One md5 digest is 128 bits = TWO
    * independent 60-bit mixes (hex chars 1-15 and 16-30), so k mins cost
    * k/2 digests per distinct shingle hash. Digests are projected per row
    * ONCE; the min aggregates then slice them (no reliance on CSE inside
    * aggregate update expressions).
    */
  private def portableMins(hs: DataFrame, numHashes: Int): DataFrame = {
    val withDigests = hs.select(col("id") +: (0 until numHashes / 2).map(g =>
      md5(concat(lit(s"$g:"), col("h").cast("string"))).as(s"d$g")): _*)
    val aggs = (0 until numHashes).map { i =>
      val (g, off) = (i / 2, 1 + 15 * (i % 2))
      min(conv(substring(col(s"d$g"), off, 15), 16, 10).cast("long")).as(s"m$i")
    }
    withDigests.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The portable pipeline's signature frame (id, m0..m(k-1)) — exposed for
    * sketch CALIBRATION audits that compare the signature's Jaccard
    * ESTIMATE (matching components / k) against the exact verify on the
    * same pairs. Rides the same landed distinct-hash stage as
    * [[nearDupPairsPortable]] (identical memo key), so a query using both
    * tokenizes the corpus once.
    */
  def portableSignatures(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, numHashes: Int = 16): DataFrame =
    // LANDED (r15, guide §2.4): the signature frame is answer-sized (one
    // row per doc) and every calibration consumer reads it TWICE (the id1
    // and id2 sides of the pair join) — unlanded, the k/2-digests-per-
    // distinct-shingle aggregation ran once per side
    graft.relational.Stages.materialize(
      portableMins(portableHashes(docs, idCol, textCol, shingleN), numHashes),
      "minhash_sig")

  /** Landed distinct (id, 60-bit md5 shingle hash) frame of the portable
    * pipeline (see the landing rationale below — four consumers with
    * different column pruning defeat ReuseExchange).
    */
  private def portableHashes(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int): DataFrame = {
    // single-slice keys use the NATIVE fused digest slice (same value as
    // conv(substring(md5,1,15),16,10), no hex-string intermediate)
    def fp60(c: Column): Column = graft.functions.HashFunctions.md5Bits60(c)
    // Window-lead shingle assembly (codegen'd), measured faster here than
    // row-local HOF slicing: this path md5-hashes every shingle STRING for
    // oracle portability, and the interpreted transform/array_join lambdas
    // stacked on top of that cost more than the one word shuffle the window
    // pays.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val leads = (0 until shingleN).map {
      case 0 => col("t")
      case i => lead(col("t"), i).over(w)
    }
    graft.relational.Stages.materialize(
      docs
        .select(col(idCol).as("id"), posexplode(split(col(textCol), " ")).as(Seq("pos", "t")))
        .select(col("id"), concat_ws(" ", leads: _*).as("s"), leads.last.isNotNull.as("full"))
        .filter(col("full"))
        .select(col("id"), fp60(col("s")).as("h"))
        .distinct(),
      "minhash_portable_hs")
  }

  private def portableIndex(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, numHashes: Int,
                            numBands: Int): (DataFrame, DataFrame) = {
    require(numHashes % numBands == 0, "numHashes must be divisible by numBands")
    require(numHashes % 2 == 0, "numHashes must be even (two 60-bit mins per md5 digest)")
    val r = numHashes / numBands
    def fp60(c: Column): Column = graft.functions.HashFunctions.md5Bits60(c)
    val hs = portableHashes(docs, idCol, textCol, shingleN)
    // FOUR consumers (digest mins, both verify sides, sizes) read this
    // frame, so it is LANDED durably ([[graft.relational.Stages
    // .materialize]]) rather than left to best-effort ReuseExchange: the
    // consumers prune columns differently (verify reads (id, h), sizes only
    // id), which rewrites each consumer's copy of the distinct subtree and
    // breaks the exchange-subtree identity reuse matches on — the corpus
    // scan + per-shingle md5 then re-derives per consumer (measured: the
    // slowest batch row at sf0.1, shuf=12). Landing the compact (id, h)
    // output once is exactly the tokenize-job → similarity-job boundary a
    // production pipeline has.
    // LANDED with the SAME memo key as [[portableSignatures]] (identical
    // plan over the landed hs read): every banding consumer — the portable
    // pair rows, the calibration rows, the band-stats row, and the
    // blocking audits' candidate side — reads ONE landed signature frame
    // instead of re-running the k/2-digests-per-distinct-shingle
    // aggregation per query (r15, guide §2.4)
    val mins = graft.relational.Stages.materialize(
      portableMins(hs, numHashes), "minhash_sig")
    val banded = mins.select(col("id"), explode(array((0 until numBands).map { j =>
        struct(lit(j).as("band"),
          fp60(concat_ws(":",
            (j * r until (j + 1) * r).map(i => col(s"m$i").cast("string")): _*)).as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.band_key"))
    (hs, banded)
  }

  /** Candidate near-dup pairs (id1 < id2) with exact Jaccard attached. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64, numBands: Int = 16,
                   maxBucket: Int = 1000): DataFrame = {
    // LANDED like the portable twin: four consumers (signature mins, both
    // verify sides, sizes) prune columns differently, which breaks the
    // exchange-subtree identity ReuseExchange matches on — the corpus
    // tokenize + shingle hash re-derived per consumer (measured on the
    // containment gate row: 3.7 → 2.1 s warm at sf0.1 once landed).
    val hs = graft.relational.Stages.materialize(
      distinctHashes(docs, idCol, textCol, shingleN), "minhash_hs")
    val mins = signatureColsFromHashes(hs, numHashes)
    val banded = bandKeys(mins, numHashes, numBands)
    // Exact verify runs on distinct shingle-HASH sets via the inverted
    // index (xxhash64 collisions are the only divergence from string-set
    // jaccard — negligible at 2^-64); `hs` is the landed frame the
    // signatures consumed.
    verifyJaccard(hs, candidatePairs(banded, maxBucket))
  }
}
