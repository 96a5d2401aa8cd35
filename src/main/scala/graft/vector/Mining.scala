package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contrastive-training data mining over the embedding table — the step
  * that turns a corpus into (anchor, hard negative) pairs for embedding /
  * reranker training (DPR, Karpukhin et al. 2020; ANCE): the informative
  * negatives are the HIGH-similarity non-duplicates, not random draws.
  *
  * Band semantics (both bounds frozen literals at the call site):
  *   - score ≥ hiBand  — potential DUPLICATE of the anchor: excluded,
  *     because mining a positive as a negative poisons the loss with
  *     false negatives (the known failure mode of naive hard mining);
  *   - loBand ≤ score < hiBand — the HARD band this operator returns;
  *   - score < loBand  — easy negatives the in-batch sampler already
  *     provides for free; excluded to keep the output answer-sized.
  *
  * Scale shape: the anchor side broadcasts (mining batches are bounded by
  * construction), the corpus stays distributed, the band filter prunes
  * BEFORE the per-anchor top-k window — so the window input is the hard
  * band only, never the full score matrix. At 100 TB the brute-force scan
  * becomes the IVF-bucketed candidate join (`Similarity.lshTopK` /
  * `Ivf`), with the identical band filter and window on top.
  */
object Mining {

  /** Top-`k` hard negatives per anchor: (qid, rank, cid, score), rank
    * 1-based by (score desc, cid) inside [loBand, hiBand).
    */
  def hardNegatives(anchors: DataFrame, qidCol: String,
                    corpus: DataFrame, cidCol: String, vecCol: String,
                    k: Int, loBand: Double, hiBand: Double): DataFrame = {
    require(k > 0 && loBand < hiBand,
      s"hardNegatives: need k>0 and loBand<hiBand, got k=$k [$loBand,$hiBand)")
    val q = anchors.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(cidCol).as("cid"), col(vecCol).as("cvec"))
    val banded = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", VectorFunctions.cosine(col("qvec"), col("cvec")))
      .filter(col("score") >= loBand && col("score") < hiBand)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    banded.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("score"))
  }
}
