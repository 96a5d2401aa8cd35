package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** SimHash (Charikar) 64-bit near-dup fingerprints, DataFrame-only.
  *
  * simhash(doc) = one 64-bit word whose bit i is the sign of
  * Σ_tokens (±1 depending on bit i of xxhash64(token)). Documents are
  * near-duplicates when the Hamming distance of their simhashes is small.
  *
  * Shape chosen for scale (same reasoning as [[MinHash]]): explode to
  * (doc, token) rows, one codegen'd hash per token, then SWAR-packed bit
  * counts — 16 `sum` aggregate columns, each packing four 16-bit lanes, so
  * the aggregation buffer is 16 longs (not 64) and per-row update work is
  * 16 shift-and-mask adds — fully inside WholeStageCodegen with map-side
  * partial aggregation. No interpreted HOF lambdas.
  *
  * Lane capacity: each 16-bit lane counts one bit position, and keeping the
  * packed long's top lane carry-free bounds a doc at 32 767 *distinct*
  * tokens — far above real documents; beyond that, shard tokens by
  * `pmod(h, s)` into a pre-aggregation level (lane sums add across shards).
  */
object SimHash {

  /** (id, fp) fingerprints. Docs with no tokens drop out. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"),
      explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    // w_j packs the counts of bit positions {j, 16+j, 32+j, 48+j}: masking
    // (h >> j) with 0x0001000100010001 leaves those four bits at lane bases
    // {0,16,32,48}, and summing accumulates each lane independently (no
    // inter-lane carry while every lane stays < 2^16).
    val lane = lit(0x0001000100010001L)
    val laneSums = (0 until 16).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lane)).as(s"w$j")
    }
    val fpExpr =
      // bit i of fp = sign of Σ±1 = [2*ones_i > n], ones_i unpacked from
      // lane i/16 of word w_(i%16)
      (0 until 64).map { i =>
        val ones = shiftright(col(s"w${i % 16}"), 16 * (i / 16)).bitwiseAND(0xFFFFL)
        when(ones * 2 > col("n"), lit(1L << i)).otherwise(0L)
      }.reduce(_ bitwiseOR _)
    hashed.groupBy(col("id")).agg(laneSums.head, laneSums.tail :+ count(lit(1)).as("n"): _*)
      .select(col("id"),
        // lane-capacity contract enforced IN the selected expression (a
        // side column would be pruned): an oversized doc raises an
        // actionable error instead of an ANSI overflow mid-sum (or, with
        // ANSI off, a silently corrupted fingerprint)
        when(col("n") > 32767L,
          raise_error(concat(lit("SimHash: doc "), col("id").cast("string"),
            lit(" has > 32767 distinct tokens; shard tokens by pmod(h, s) first")))
            .cast("long"))
          .otherwise(fpExpr).as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Engine-portable SimHash: 60-bit fingerprints over md5 hex-prefix token
    * hashes with the same majority rule (bit b set iff 2·ones_b > n over
    * DISTINCT tokens), so fingerprints — and the hamming pairs built from
    * them — are reproducible in any engine and DuckDB-oracle-checkable.
    *
    * This is the verifiable variant: 60 plain sum columns, intended for
    * bounded slices (the declared query caps the doc set). The SWAR-packed
    * xxhash64 [[fingerprints]] stays the at-scale fast path; the two share
    * the majority-rule semantics, proven equal in formulation by
    * SimHashSpec's SWAR-vs-64-column test.
    */
  def fingerprintsPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def fp60(c: Column): Column = graft.functions.HashFunctions.md5Bits60(c)
    val hashed = docs.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("t"))
      .select(col("id"), fp60(col("t")).as("h"))
    val sums = (0 until 60).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b"))
    val fpExpr = (0 until 60).map { b =>
      when(col(s"s$b") * 2 > col("n"), lit(1L << b)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    hashed.groupBy(col("id")).agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
      .select(col("id"), fpExpr.as("fp"))
  }

  /** Near-dup pairs from portable fingerprints: bounded all-pairs hamming
    * (the declared query caps the doc slice; at scale, band the 60 bits
    * into blocks exactly as [[nearDupPairs]] does).
    */
  def nearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val fp = fingerprintsPortable(docs, idCol, textCol)
    val l = fp.select(col("id").as("id1"), col("fp").as("f1"))
    val r = fp.select(col("id").as("id2"), col("fp").as("f2"))
    l.join(broadcast(r), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hamming(col("f1"), col("f2")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup candidate pairs by banding the 64-bit fingerprint into 4
    * 16-bit blocks (Hamming ≤ 3 ⇒ at least one block equal — pigeonhole).
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    nearDupPairsFromFingerprints(fingerprints(docs, idCol, textCol), maxHamming)

  /** The banding join over an already-computed (id, fp) frame — exposed so
    * a query that needs BOTH the banded pairs and another consumer of the
    * same fingerprints (e.g. the brute-force equivalence audit) can land
    * the fingerprint frame once instead of re-running the token explode +
    * SWAR aggregation per consumer (r15, guide §2.4).
    */
  def nearDupPairsFromFingerprints(fp: DataFrame,
                                   maxHamming: Int = 3): DataFrame = {
    val blocks = fp.select(col("id"), col("fp"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("block"),
          shiftright(col("fp"), i * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("b"))
      .select(col("id"), col("fp"), col("b.block"), col("b.key"))
    val a = blocks.select(col("block"), col("key"), col("id").as("id1"), col("fp").as("fp1"))
    val b = blocks.select(col("block"), col("key"), col("id").as("id2"), col("fp").as("fp2"))
    a.join(b, Seq("block", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hamming(col("fp1"), col("fp2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
