package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of join (nearest earlier right-row per key) — an operator Spark lacks
  * natively, composed from built-ins per the preference order (compose >
  * custom plan).
  *
  * Implementation: union-then-window, NOT a range join. Both sides are
  * aligned to a common schema, unioned with a side marker, and a window
  * `last(right_col, ignoreNulls) over (partition by key order by time, side
  * rows unbounded preceding..current)` carries the latest right values
  * forward onto each left row.
  *
  * Scale rationale: a range/theta join of L against R explodes to O(|L|·|R|)
  * pairs per key before the "latest" filter; the union-window form is one
  * hash-partition shuffle + one sort — O((|L|+|R|) log) per key, no
  * intermediate blowup, AQE/skew-handling applies. This is the plan you want
  * at 100 TB.
  *
  * Tie rule: a right row with time == left time IS visible (backward-
  * inclusive), matching DuckDB/pandas `ASOF JOIN ... ON l.t >= r.t` — the
  * right marker sorts before the left marker on equal timestamps. NULL
  * times follow DuckDB too: a null-time right row never matches, and a
  * null-time left row is kept unmatched (as [[graft.plans.NativeAsOf]]).
  */
object AsOfJoin {

  /** @param left       probe side (each row gets enriched)
    * @param right      reference side (values carried forward)
    * @param keyCols    equi-key column names present on both sides
    * @param leftTime   time column name on `left`
    * @param rightTime  time column name on `right`
    * @param rightVals  right columns to carry onto left rows (renamed as-is)
    */
  def backward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTime: String, rightTime: String,
               rightVals: Seq[String]): DataFrame =
    joinDir(left, right, keyCols, leftTime, rightTime, rightVals, forward = false)

  /** Forward as-of: nearest right row at-or-AFTER each left row's time (the
    * "next event" enrichment — next click after a purchase, next restock
    * after a stockout). Same union+window shape mirrored: the carried struct
    * comes from a `first(ignoreNulls)` over the FOLLOWING frame, with the
    * right marker sorting after the left marker on ties so an equal-time
    * right row is visible (matching DuckDB `ASOF ... ON l.t <= r.t`).
    */
  def forward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
              leftTime: String, rightTime: String,
              rightVals: Seq[String]): DataFrame =
    joinDir(left, right, keyCols, leftTime, rightTime, rightVals, forward = true)

  /** Backward as-of with a staleness bound: the nearest earlier right row
    * counts only if it is within `toleranceSeconds` of the left row's time;
    * staler matches yield NULLs (the left row survives — left-join shape).
    * Semantics are nearest-earlier-THEN-check, matching pandas
    * `merge_asof(tolerance=...)`: a row just outside the window is not
    * replaced by an older row inside it (there is none — it was the
    * nearest).
    */
  def backwardWithin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                     leftTime: String, rightTime: String,
                     rightVals: Seq[String], toleranceSeconds: Long): DataFrame = {
    val j = joinDir(left, right.withColumn("__asof_rt", col(rightTime)),
      keyCols, leftTime, rightTime, rightVals :+ "__asof_rt", forward = false)
    val fresh = col("asof___asof_rt").isNotNull &&
      unix_micros(col(leftTime)) - unix_micros(col("asof___asof_rt")) <=
        toleranceSeconds * 1000000L
    j.select(left.columns.map(col) ++
      rightVals.map(c => when(fresh, col(s"asof_$c")).as(s"asof_$c")): _*)
  }

  private def joinDir(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                      leftTime: String, rightTime: String,
                      rightVals: Seq[String], forward: Boolean): DataFrame = {
    val t = "__asof_t"
    // marker puts the right side on the VISIBLE end of a timestamp tie:
    // backward scans the past (right first), forward scans the future
    // (right last → still inside the currentRow..following frame)
    val side = "__asof_side"
    val (rightMark, leftMark) = if (forward) (1, 0) else (0, 1)
    val rs = "__asof_r"      // all carried right values as ONE struct
    val leftCols = left.columns.toSeq

    // Carry the right values as a single struct with a single
    // last(ignoreNulls) — per-column last() would skip a NULL *inside* the
    // matched right row and leak an older row's value for that column; the
    // struct is non-null iff the row is a right row, so every carried value
    // comes from the same (latest) matched right row, NULLs included.
    val rStructType = org.apache.spark.sql.types.StructType(
      rightVals.map(c => right.schema(c)))

    val l = left
      .withColumn(t, col(leftTime))
      .withColumn(side, lit(leftMark))
      .select((keyCols ++ Seq(t, side)).map(col) ++
        leftCols.filterNot(keyCols.contains).map(col) :+
        lit(null).cast(rStructType).as(rs): _*)

    val r = right.filter(col(rightTime).isNotNull)
      .withColumn(t, col(rightTime))
      .withColumn(side, lit(rightMark))
      .select((keyCols ++ Seq(t, side)).map(col) ++
        leftCols.filterNot(keyCols.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightVals.map(col): _*).as(rs): _*)

    val base = Window.partitionBy(keyCols.map(col): _*).orderBy(col(t), col(side))
    val carried =
      if (forward)
        first(col(rs), ignoreNulls = true)
          .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else
        last(col(rs), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))

    // a null-time left row stays unmatched even though forward's FOLLOWING
    // frame would reach the key's later right rows
    l.unionByName(r)
      .withColumn(rs, when(col(t).isNotNull, carried))
      .filter(col(side) === lit(leftMark))
      .select(leftCols.map(col) ++
        rightVals.map(c => col(rs).getField(c).as(s"asof_$c")): _*)
  }
}
