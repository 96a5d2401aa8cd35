package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CLIP-style text–image alignment filtering — the LAION/DataComp curation
  * step for paired multimodal data: score every (caption, image) pair by
  * the cosine of their embeddings and keep pairs above a threshold, because
  * web-paired images and captions frequently do not describe each other and
  * misaligned pairs poison contrastive training.
  *
  * The IMAGE ENCODER is STUBBED with the package's swap contract
  * ([[MediaAnalysis]]): the stub "image embedding" for document d is the
  * TEXT embedding of a source document s(d) — s(d) = d normally, and a
  * PLANTED mismatch (s(d) = (d+7) mod N) for every d ≡ 3 (mod 10). The
  * downstream filter sees only the two vectors, so the gate is a DETECTION
  * test: matched pairs score cosine 1.0, planted mismatches score whatever
  * two unrelated corpus embeddings score (≈0.1–0.5 on the fixture), and
  * the filter must RECOVER exactly the planted set. A real CLIP encoder
  * swap replaces only [[imageEmbeddingStub]]; the scoring, threshold, and
  * ledger are unchanged.
  *
  * Scale shape: the mismatch indirection is one equi-join of the embedding
  * table against itself on the derived source id (hash join, co-partition
  * friendly), the score is a row-local cosine, and the ledger is one keyed
  * aggregation — no broadcast of the corpus, no window.
  */
object AlignmentFilter {

  /** Stub image embeddings: (id, img_v) with img_v = the text embedding of
    * `(id + 7) mod n` when id ≡ 3 (mod 10) — the planted mismatch — and of
    * `id` itself otherwise. `n` is folded in as a broadcast one-row count
    * frame (ids must be dense 0..n−1, the embeddings-table contract).
    */
  def imageEmbeddingStub(emb: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val n = emb.agg(count(lit(1)).as("__n"))
    // Degenerate-fixture refusal, INSIDE the derived column so pruning
    // can't drop it: when n divides the +7 offset (n ∈ {1, 7}) the planted
    // mismatch s(d) = (d+7) mod n collapses to s(d) = d — "planted" rows
    // would carry their own embedding (cosine 1.0) and the detection gate
    // becomes vacuous, failing the recovery assertion confusingly far
    // downstream. n ≤ 7 refuses loudly instead (covers both divisors and
    // leaves every non-degenerate small fixture n ≥ 8 with a real shift).
    val src = emb.select(col(idCol).as("id")).crossJoin(broadcast(n))
      .select(col("id"), when(col("__n") <= 7L, raise_error(concat(
          lit("imageEmbeddingStub: corpus of "), col("__n"),
          lit(" rows degenerates the planted (+7 mod n) mismatch — need n > 7")))
          .cast("long"))
        .when(pmod(col("id"), lit(10L)) === 3L,
          pmod(col("id") + 7L, col("__n"))).otherwise(col("id")).as("__src"))
    src.join(emb.select(col(idCol).as("__sid"), col(vecCol).as("img_v")),
        col("__src") === col("__sid"))
      .select(col("id"), col("img_v"))
  }

  /** Per-`groupCol` alignment ledger at `minAlignMilli` (floor(cos·1000)):
    * pairs seen, pairs kept, pairs flagged (below threshold), the flagged
    * ids' checksum (the recovery assertion — on the stub this must equal
    * the planted set's), and the minimum alignment seen.
    */
  def ledger(pairs: DataFrame, idCol: String, groupCol: String,
             textVec: Column, imageVec: Column,
             minAlignMilli: Long): DataFrame = {
    ledgerScored(
      pairs.withColumn("__align",
        floor(graft.vector.VectorFunctions.cosine(textVec, imageVec)
          * lit(1000.0)).cast("long")),
      idCol, groupCol, "__align", minAlignMilli)
  }

  /** [[ledger]] over a PRE-SCORED frame (`alignCol` = floor(cos·1000)) —
    * the single aggregation both the vector entry point above and the
    * landed-scored-frame consumers (`clip_alignment_filter` reads the
    * session-landed clip_scored stage) share, so threshold semantics live
    * in exactly one place.
    */
  def ledgerScored(scored: DataFrame, idCol: String, groupCol: String,
                   alignCol: String, minAlignMilli: Long): DataFrame =
    scored.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col(alignCol) >= minAlignMilli, 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col(alignCol) < minAlignMilli, 1L).otherwise(0L))
          .as("n_flagged"),
        sum(when(col(alignCol) < minAlignMilli, col(idCol)).otherwise(0L))
          .as("flagged_checksum"),
        min(col(alignCol)).as("min_align_milli"))
}
