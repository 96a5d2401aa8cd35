package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over vector columns, DataFrame-only and DETERMINISTIC —
  * the training step behind IVF cells and PQ codebooks (which currently use
  * untrained lowest-id seeds).
  *
  * Per iteration:
  *   - ASSIGN: shuffle-free row-wise argmin against the current centroid
  *     literals (the IVF/PQ machinery) — ranking key is the reduced
  *     |c|² − 2⟨x,c⟩ (the ⟨x,x⟩ term is constant per row), ties broken by
  *     cell id.
  *   - UPDATE: per-cell element-wise mean via one groupBy of exact sums;
  *     the k×dim result (tiny at any data scale) comes to the driver and
  *     becomes the next iteration's literals — the index-build pattern, not
  *     a data path.
  *
  * Determinism contract: feed INTEGER-VALUED vectors (e.g. quantized by
  * floor(x·10⁶)) and the per-cell sums are exact integers — partition-order
  * independent — so centroids, assignments, and inertia are reproducible
  * bit-for-bit on any cluster layout, and an external engine (the DuckDB
  * oracle) replays the exact training. Cells that lose all members are
  * dropped from the candidate set (not re-seeded) — the same rule an oracle
  * can express as an inner join.
  */
object Clustering {

  /** @param centroids surviving (cellId, centroid) pairs after training
    * @param assignments (id, cell) for every input row under the final centroids
    */
  final case class KMeansResult(centroids: Seq[(Int, Seq[Double])], assignments: DataFrame)

  private def reducedDist(vec: Column, centroid: Seq[Double]): Column = {
    val cc2 = centroid.foldLeft(0.0)((a, x) => a + x * x)
    lit(cc2) - lit(2.0) * VectorFunctions.dot(vec, array(centroid.map(lit): _*))
  }

  /** Nearest-centroid cell id per row (shuffle-free). */
  def assign(df: DataFrame, vecCol: String,
             centroids: Seq[(Int, Seq[Double])], outCol: String = "cell"): DataFrame = {
    val scored = centroids.map { case (cid, cv) =>
      struct(reducedDist(col(vecCol), cv).as("d"), lit(cid).as("c"))
    }
    df.withColumn(outCol,
      element_at(array_sort(array(scored: _*)), 1).getField("c"))
  }

  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, dim: Int, iters: Int): KMeansResult = {
    val data = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))

    // deterministic init: the k lowest-id vectors
    var centroids: Seq[(Int, Seq[Double])] = data.orderBy(col("id")).limit(k)
      .collect().zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }

    for (_ <- 0 until iters) {
      val sums = assign(data, "v", centroids)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i => sum(element_at(col("v"), i + 1))): _*).as("s"))
        .collect()
      centroids = sums.map { r =>
        val n = r.getLong(1).toDouble
        (r.getInt(0), r.getSeq[Double](2).map(_ / n))
      }.sortBy(_._1).toSeq
    }

    KMeansResult(centroids, assign(data, "v", centroids).select(col("id"), col("cell")))
  }

  /** Per-subspace PQ codebooks trained by k-means: subspace j's codebook is
    * the centroids of a k-means over the j-th `dim/m`-dim vector slice.
    * Returns `codebook(j)(c)` for [[Similarity.pqTopK]]'s `trainedCodebooks`
    * (codeword index = position; cells that emptied are dropped, which PQ
    * handles — codes index the surviving list).
    */
  def trainPqCodebooks(df: DataFrame, vecCol: String, m: Int, ncode: Int,
                       dim: Int, iters: Int,
                       idCol: String): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    require(dim % m == 0, "dim must be divisible by m")
    val ds = dim / m
    (0 until m).map { j =>
      val sub = df.select(col(idCol).as("__pq_id"),
        slice(col(vecCol).cast("array<double>"), j * ds + 1, ds).as("__pq_sub"))
      kmeans(sub, "__pq_id", "__pq_sub", ncode, ds, iters)
        .centroids.map(_._2).toIndexedSeq
    }
  }

  /** Total within-cluster reduced-form inertia Σ(|x−c|²) for diagnostics. */
  def inertia(df: DataFrame, idCol: String, vecCol: String,
              centroids: Seq[(Int, Seq[Double])]): Double = {
    val data = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val withCell = assign(data, "v", centroids)
    val cmap = centroids.toMap
    val dists = centroids.map { case (cid, _) =>
      when(col("cell") === cid,
        VectorFunctions.dot(col("v"), col("v")) + reducedDist(col("v"), cmap(cid)))
    }.reduceRight(_ otherwise _) // right-assoc: each when() gets one otherwise
    withCell.agg(sum(dists)).head().getDouble(0)
  }
}
