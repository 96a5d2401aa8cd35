package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Perceptual-hash near-duplicate detection over the multimodal binary
  * column — the image-side dedup a multimodal corpus needs beside the text
  * dedup family (near-identical crops/re-encodes of one image share a
  * perceptual hash even when their bytes differ entirely).
  *
  * Two classic 64-bit-family hashes, here over 60 bits (the repo's
  * engine-portable hash width — bit 59 is the top bit in both Spark and
  * DuckDB without signed-shift games):
  *   - aHash (average hash): bit g = [cell_g > mean of all cells], done in
  *     exact integer cross-multiply form `60·cell_g > Σcells`.
  *   - dHash (difference/gradient hash): bit g = [cell_g > cell_{g+1 mod 60}]
  *     — the neighbor-gradient variant, more robust than aHash to global
  *     brightness shifts because only ADJACENT-cell order matters.
  *
  * The decode step is STUBBED like the rest of [[Multimodal]] (no codecs in
  * this environment): [[pixelGridStub]] derives a deterministic 60-cell
  * "grayscale grid" from the payload bytes — cell g = number of payload
  * tokens whose portable 60-bit md5 hash lands in bucket g. That stand-in
  * keeps the property a perceptual hash needs (similar payloads → similar
  * grids → small Hamming distance) while being exactly reproducible in any
  * engine, so the whole chain is DuckDB-oracle-gated. A codec-backed
  * implementation replaces ONLY pixelGridStub with an 8×8 luminance
  * downsample of the decoded image; hashes, banding, and the pair join are
  * unchanged.
  *
  * Scale shape (the [[graft.dedup.SimHash]] discipline): one explode + one
  * codegen'd hash per token, a 60-column map-side-partial aggregation keyed
  * by id, then the Hamming-ball candidate join via pigeonhole banding — the
  * 60-bit dHash splits into 4 15-bit blocks, and any pair within Hamming ≤ 3
  * shares at least one exact block, so candidates come from 4 equi-joins on
  * (block, key), never an all-pairs comparison. Hot blocks (a constant-color
  * block key at corpus scale) are the same skew class as hot LSH bands —
  * cap or salt by block key if a block's bucket exceeds the skew budget.
  */
object PerceptualHash {

  val cells = 60

  /** STUB pixel grid: (id, c0..c59) — cell g counts the payload tokens whose
    * md5Bits60 ≡ g (mod 60). Deterministic, content-sensitive, portable.
    */
  def pixelGridStub(df: DataFrame, idCol: String,
                    mediaCol: String = "media"): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(split(col(mediaCol).cast("string"), " ")).as("t"))
      .select(col("id"),
        pmod(graft.functions.HashFunctions.md5Bits60(col("t")), lit(cells.toLong))
          .as("cell"))
    val sums = (0 until cells).map(g =>
      sum(when(col("cell") === g.toLong, 1L).otherwise(0L)).as(s"c$g"))
    toks.groupBy(col("id")).agg(sums.head, sums.tail: _*)
  }

  /** (id, ahash, dhash): both 60-bit perceptual hashes packed as longs, from
    * a [[pixelGridStub]]-shaped frame (id, c0..c59). Row-local bit ops only.
    */
  def hashes(grid: DataFrame): DataFrame = {
    val total = (0 until cells).map(g => col(s"c$g")).reduce(_ + _)
    val ahash = (0 until cells).map { g =>
      when(col(s"c$g") * cells.toLong > col("__tot"), lit(1L << g)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    val dhash = (0 until cells).map { g =>
      when(col(s"c$g") > col(s"c${(g + 1) % cells}"), lit(1L << g)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    grid.withColumn("__tot", total)
      .select(col("id"), ahash.as("ahash"), dhash.as("dhash"))
  }

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by dHash Hamming ball: pigeonhole banding (4 blocks of
    * 15 bits — lossless for maxHamming ≤ 3), exact Hamming verify on the
    * candidates, both distances reported. maxHamming > 3 would need more
    * blocks; refuse loudly rather than silently lose pairs.
    */
  def nearDupPairs(df: DataFrame, idCol: String, mediaCol: String = "media",
                   maxHamming: Int = 3, maxBucket: Long = 10000L): DataFrame = {
    require(maxHamming <= 3,
      s"nearDupPairs: 4x15-bit banding is only lossless for Hamming <= 3; " +
        s"got $maxHamming — raise the block count for a wider ball")
    val h = hashes(pixelGridStub(df, idCol, mediaCol))
    val raw = h.select(col("id"), col("ahash"), col("dhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("block"),
          shiftrightunsigned(col("dhash"), i * 15).bitwiseAND(lit(0x7FFFL))
            .as("key"))): _*)).as("b"))
      .select(col("id"), col("ahash"), col("dhash"),
        col("b.block"), col("b.key"))
    // Hot-block guard, the loud flavor: a block bucket of size m contributes
    // m² candidate pairs, and unlike a hot LSH band these are mostly REAL
    // near-dups (the Hamming verify keeps them) — silently skipping the
    // bucket (the MinHash maxBucket cap) would break the banding
    // losslessness the oracle's direct pair definition relies on. So a
    // pathological bucket (near-constant imagery at corpus scale) raises
    // with the remediation spelled out instead of either running the m²
    // join or quietly under-reporting. Rides the join's own (block, key)
    // partitioning; the raise lives INSIDE the key column the join
    // consumes, so pruning can't drop it (the Ewma dev_permille lesson).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block"), col("key"))
    val blocks = raw
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("key",
        when(col("__n") > maxBucket, raise_error(concat(
          lit(s"PerceptualHash.nearDupPairs: a dHash block bucket exceeds " +
            s"$maxBucket images (block "), col("block").cast("string"),
          lit(", key "), col("key").cast("string"),
          lit(") — near-constant imagery; exact-dedup that slice first or " +
            "raise maxBucket knowingly"))).cast("long"))
          .otherwise(col("key")))
      .drop("__n")
    val a = blocks.select(col("block"), col("key"), col("id").as("id1"),
      col("ahash").as("a1"), col("dhash").as("d1"))
    val b = blocks.select(col("block"), col("key"), col("id").as("id2"),
      col("ahash").as("a2"), col("dhash").as("d2"))
    a.join(b, Seq("block", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hamming(col("d1"), col("d2")).cast("long").as("hamming_d"),
        hamming(col("a1"), col("a2")).cast("long").as("hamming_a"))
      .distinct()
      .filter(col("hamming_d") <= maxHamming)
  }
}
