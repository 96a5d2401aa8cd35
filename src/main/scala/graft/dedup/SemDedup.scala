package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.vector.VectorFunctions

/** SemDeDup — semantic deduplication in embedding space (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", arXiv:2303.09540): cluster the embeddings, compare pairs
  * only WITHIN a cluster, and from every group of semantic duplicates keep
  * the single example LEAST similar to its cluster centroid (the paper's
  * diversity-preserving keep rule — dropping the redundant core of the
  * cluster while retaining its outlier).
  *
  * This is the embedding-space sibling of the text-side near-dup family
  * ([[MinHash]] / [[SimHash]] / [[Dedup.cosinePairs]]): those catch lexical
  * duplicates; SemDeDup catches paraphrases and re-renderings whose token
  * overlap is low but whose embeddings nearly coincide.
  *
  * Scale shape (the reason the paper's method works at web scale): the
  * quadratic pairwise step is confined to single cells, so total candidate
  * work is Σ n_c² ≈ N²/nlist — at a 10⁹-doc corpus with nlist grown to
  * ~50k cells (the paper's LAION setting) that is ~10⁵× below all-pairs.
  * Per stage:
  *   - cell assignment is a shuffle-free row-wise argmax against
  *     driver-literal seed vectors (an nlist-row centroid table is tiny at
  *     any corpus size — same index-build shape as `Similarity.ivfTopK`);
  *   - the within-cell self-join shuffles each side once, hash-partitioned
  *     by cell id;
  *   - duplicate-group closure is [[Components.connectedComponents]]
  *     (O(log diameter) join rounds, no per-group state on one executor);
  *   - the keep rule is one bounded window over components.
  *
  * Every step is deterministic (seed cells = lowest-id vectors by default,
  * cosine = the portable double fold), so the full pipeline is
  * DuckDB-oracle hash-checkable.
  */
object SemDedup {

  /** Per-document semantic-dedup verdict.
    *
    * @param emb          one row per document with an embedding column
    * @param idCol        unique numeric document id
    * @param vecCol       `array<float>`/`array<double>` embedding
    * @param nlist        number of coarse cells (grow with corpus size so
    *                     cell populations stay bounded)
    * @param threshold    within-cell cosine at/above which two documents are
    *                     semantic duplicates
    * @param trainedSeeds optional (cellId, centroid) pairs from
    *                     `Clustering.kmeans`; defaults to the `nlist`
    *                     lowest-id embeddings (deterministic, untrained)
    * @return (id, cell, comp, csim, keep): assigned cell, duplicate-group id
    *         (min member id), cosine to the own cell's centroid, and keep =
    *         1 for the single retained member per group (the one with
    *         MINIMUM centroid similarity, ties to the lowest id), else 0
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, threshold: Double,
                    trainedSeeds: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val data = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))

    val seeds: Seq[(Long, Seq[Double])] = trainedSeeds.getOrElse {
      data.orderBy(col("id")).limit(nlist).collect()
        .toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    }

    // Shuffle-free assignment: struct-min over (−cosine, sid) literals ==
    // argmax cosine with lowest-sid tie-break (the ivfTopK ordering). The
    // double negation restores the cosine bit-for-bit, so csim is the same
    // IEEE value the oracle computes directly.
    val perSeed: Seq[Column] = seeds.map { case (sid, sv) =>
      struct((-VectorFunctions.cosine(col("v"), array(sv.map(lit): _*))).as("nscore"),
        lit(sid).as("sid"))
    }
    // Four consumers (both pair sides, the node set, the final verdict
    // join) read the assignment, and the map is NOT cheap to replay: nlist
    // cosines per row per consumer (measured ~1.9× query slowdown at sf0.1
    // when round 5 left it to recompute). Land it durably — the stage output
    // (id, v, cell, csim) is the corpus plus two scalars, written once and
    // scanned by each consumer; this is the assignment table an IVF-style
    // production pipeline persists between the index job and the search job.
    val assigned = graft.relational.Stages.materialize(
      data
        .withColumn("__b", array_min(array(perSeed: _*)))
        .select(col("id"), col("v"),
          col("__b").getField("sid").as("cell"),
          (-col("__b").getField("nscore")).as("csim")),
      "semdedup_assign")

    // Quadratic step, bounded to cells: one hash shuffle by cell per side.
    val l = assigned.select(col("cell"), col("id").as("id1"), col("v").as("v1"))
    val r = assigned.select(col("cell"), col("id").as("id2"), col("v").as("v2"))
    val pairs = l.join(r, "cell")
      .filter(col("id1") < col("id2"))
      .filter(VectorFunctions.cosine(col("v1"), col("v2")) >= threshold)
      .select("id1", "id2")

    val labels = Components.connectedComponents(
      assigned.select(col("id")), "id", pairs, "id1", "id2")

    // Paper's keep rule: per duplicate group, retain the member FARTHEST
    // from the centroid (minimum csim; ties to the lowest id). Window
    // partitions are duplicate groups — bounded by construction (a group
    // lives inside one cell).
    val w = Window.partitionBy(col("comp")).orderBy(col("csim").asc, col("id").asc)
    assigned.drop("v")
      .join(labels, "id")
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col("id"), col("cell"), col("comp"), col("csim"), col("keep"))
  }
}
