package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley–Terry preference-strength fitting (Bradley & Terry 1952;
  * Zermelo's fixed-point iteration, cf. Hunter 2004 "MM algorithms for
  * generalized Bradley-Terry models") — the model behind pairwise-preference
  * reward data: given win counts n_ij ("i beat j"), the strengths p solve
  * p_i = W_i / Σ_j n̄_ij/(p_i+p_j) with n̄ the total comparisons per pair.
  *
  * Exactness: strengths iterate in exact BigInt micro units — each round
  * computes denom_i = Σ_j (10⁶·n̄_ij) div (p_i+p_j), raw_i =
  * (10⁶·W_i) div denom_i, then rescales raw by its max back to ≤10⁶ (the
  * `Gram.powerIteration` rescale discipline) — truncating division
  * throughout, so DuckDB replays every round digit for digit as chained
  * CTEs, and the result is engine-portable where a float fixed point would
  * drift with summation order.
  *
  * Scale: the heavy stage is the distributed pair count (caller-side keyed
  * window + one map-side-combined agg); what reaches the driver is the
  * k²-cell wins matrix of a BOUNDED item universe (models, sources, event
  * types — the bounded-model-collect class), enforced by a capped probe +
  * loud require, never a per-row frame.
  */
object BradleyTerry {

  /** Fit strengths over a directed wins frame (one row per decided
    * comparison). Emits (item, wins, comparisons, strength_micro) with the
    * strongest item at 10⁶, ordered strength-desc. Every item must win at
    * least once (a never-winning item drives its strength to exactly 0 and
    * a later round would divide by a zero pair-sum — degenerate input the
    * caller should bucket away first; this fails loudly instead).
    */
  def strengths(pairs: DataFrame, winnerCol: String, loserCol: String,
                rounds: Int, maxItems: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    val w = pairs.groupBy(col(winnerCol).as("i"), col(loserCol).as("j"))
      .agg(count(lit(1)).as("w"))
    val cells = w.limit(maxItems * maxItems + 1).collect()
    require(cells.length <= maxItems * maxItems,
      s"BradleyTerry: > ${maxItems * maxItems} directed win cells — the " +
        "item universe is not bounded; aggregate to a bounded key first")
    val won = cells.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val items = cells.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted
    require(items.nonEmpty, "BradleyTerry: no decided comparisons")
    require(items.length <= maxItems,
      s"BradleyTerry: ${items.length} items > maxItems=$maxItems")

    def nbar(i: String, j: String): Long =
      won.getOrElse((i, j), 0L) + won.getOrElse((j, i), 0L)
    val wins = items.map(i => i -> items.map(j => won.getOrElse((i, j), 0L)).sum).toMap
    val comps = items.map(i => i -> items.map(j => if (j == i) 0L else nbar(i, j)).sum).toMap
    require(items.forall(wins(_) > 0L),
      "BradleyTerry: an item never wins — strength is exactly 0 and the " +
        "fixed point degenerates; drop or pool such items first")

    val M = BigInt(1000000)
    var p: Map[String, BigInt] = items.map(_ -> M).toMap
    for (_ <- 1 to rounds) {
      val raw = items.map { i =>
        val den = items.filter(j => j != i && nbar(i, j) > 0L)
          .map(j => (M * nbar(i, j)) / (p(i) + p(j))).sum
        i -> (if (den > 0) (M * wins(i)) / den else BigInt(0))
      }.toMap
      val mx = raw.values.max
      require(mx > 0,
        "BradleyTerry: all strengths truncated to 0 in one round — too few " +
          "comparisons per pair for the micro fixed point")
      p = items.map(i => i -> (M * raw(i)) / mx).toMap
    }
    val out = items.map(i => (i, wins(i), comps(i), p(i).toLong)).toIndexedSeq
    spark.createDataFrame(out)
      .toDF("item", "wins", "comparisons", "strength_micro")
      .orderBy(desc("strength_micro"), col("item"))
  }
}
