package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed 2-D skyline (Pareto front, maximize both criteria) — the
  * multi-criteria curation filter ("keep documents no other document beats
  * on BOTH length and diversity") from Börzsönyi et al. 2001, computed with
  * NO global sort and NO global window.
  *
  * Textbook 2-D skyline sorts by x desc and keeps rows whose y exceeds the
  * running max — a single-partition scan at corpus scale. Here the running
  * max rides the [[PrefixSum]] discipline instead: the per-x frame (one row
  * per distinct x after a max-y aggregation) is bucketed into deterministic
  * uniform x-range cells, per-cell maxima come back to the driver
  * (numParts scalars), exclusive HIGHER-cell maxima go out as a literal
  * case-when, and the strictly-before-in-x window runs WITHIN cells only.
  * Dominance then evaluates row-locally on the joined thresholds.
  *
  * Dominance rule: r is dominated iff some r' has x' ≥ x ∧ y' ≥ y with one
  * strict. Equal (x, y) duplicates are mutually non-dominating — both kept.
  */
object Skyline {

  /** For each row of `df` (UNIQUE numeric `keyCol` — e.g. a distinct-key
    * aggregate), adds `outCol` = max of `valCol` over all rows with a
    * STRICTLY GREATER key; null when no such row exists. Two-phase: cell
    * maxima to the driver, suffix maxima broadcast back, exclusive window
    * max within each cell.
    */
  def exclusivePrefixMaxDesc(df: DataFrame, keyCol: String, valCol: String,
                             outCol: String, numParts: Int = 32): DataFrame = {
    require(numParts > 0)
    val bounds = df.agg(
      min(col(keyCol).cast("double")).as("lo"),
      max(col(keyCol).cast("double")).as("hi"),
      count(lit(1)).as("n"),
      count(col(keyCol).cast("double")).as("nn"),
      countDistinct(col(keyCol)).as("nd")).head()
    if (bounds.getLong(2) == 0L) return df.withColumn(outCol, lit(null).cast("long"))
    require(bounds.getLong(3) == bounds.getLong(2),
      s"$keyCol must be numeric and non-null for skyline bucketing")
    // The strictly-before window below is rowsBetween over keyCol DESC — a
    // DUPLICATE key value would leak its equal-key neighbor into the
    // "strictly greater" max and silently break the contract. front2D
    // guarantees uniqueness via its per-x pre-aggregation; direct callers
    // must too, so enforce it in the same answer-sized bounds pass.
    require(bounds.getLong(4) == bounds.getLong(2),
      s"$keyCol must be UNIQUE for the exclusive prefix max (got " +
        s"${bounds.getLong(2)} rows, ${bounds.getLong(4)} distinct keys); " +
        "pre-aggregate max(valCol) per key first — cf. Skyline.front2D")
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val span = hi - lo + 1.0
    val bucket = least(lit(numParts - 1),
      floor((col(keyCol).cast("double") - lit(lo)) / lit(span) * numParts))
      .cast("int")
    val withB = df.withColumn("__b", bucket)
    val cellMax = withB.groupBy(col("__b")).agg(max(col(valCol)).as("m"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // exclusive suffix max: for cell b, the max over all cells ABOVE b
    val bs = cellMax.keys.toSeq.sorted
    val above: Map[Int, Option[Long]] = bs.zip(
      bs.scanRight(Option.empty[Long]) { (b, acc) =>
        (cellMax(b) ++ acc).reduceOption((x: Long, y: Long) => math.max(x, y))
      }.drop(1)).toMap
    val aboveOf = bs.foldRight(lit(null).cast("long")) { (b, acc) =>
      when(col("__b") === b,
        above(b).map(v => lit(v).cast("long")).getOrElse(lit(null).cast("long")))
        .otherwise(acc)
    }
    // strictly-before within the cell: key DESC, exclusive upper row
    val w = Window.partitionBy(col("__b")).orderBy(col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    withB
      .withColumn(outCol, greatest(max(col(valCol)).over(w), aboveOf))
      .drop("__b")
  }

  /** The Pareto front of `df` maximizing (`xCol`, `yCol`) — both numeric,
    * `yCol` long-valued. Returns the input rows (all columns) that no other
    * row strictly dominates. One x-keyed aggregation + join (co-partitioned)
    * and the two-phase prefix max above; everything else row-local.
    */
  def front2D(df: DataFrame, xCol: String, yCol: String,
              numParts: Int = 32): DataFrame = {
    val perX = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
    val withM = exclusivePrefixMaxDesc(perX, xCol, "__ymax", "__m1", numParts)
    df.join(withM, Seq(xCol))
      .filter(col(yCol) === col("__ymax") &&
        (col("__m1").isNull || col(yCol) > col("__m1")))
      .drop("__ymax", "__m1")
  }
}
