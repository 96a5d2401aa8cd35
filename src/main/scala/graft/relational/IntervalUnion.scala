package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key union of fixed-length time intervals — the classic sweep-line
  * "merge overlapping intervals" made window-expressible: an interval opens
  * a NEW segment exactly when its start lies past the maximum end seen so
  * far in that key (strictly-preceding running max), and the segment id is
  * the running count of such openings. Within one merged segment the union
  * length is just max(end) − min(start) because the segment is connected
  * by construction. The operational read: "how many minutes was this user
  * actually active?" — the session-coverage question answered without a
  * gap parameter (the interval length IS the activity halo).
  *
  * Exactness: all arithmetic on truncated epoch seconds (floor(epoch) on
  * both engines — the house rule from rate_limit_audit); segment ids,
  * durations and permille shares are integers end-to-end.
  *
  * Scale: both windows partition by the key (no global ordering anywhere);
  * the per-segment and per-key rollups are keyed aggregations with
  * map-side combine. Ties on equal starts are order-insensitive: an
  * equal-start row can never open a segment after its twin closed one
  * (both compare against the same preceding maximum, and a twin's end
  * only RAISES the running max).
  */
object IntervalUnion {

  /** (key, n_events, n_segments, covered_sec, span_sec, covered_permille)
    * from per-row instants of `df`: each row contributes the interval
    * [sec, sec + lenSec). covered_permille = 1000·covered div span —
    * how much of the key's first-to-last footprint is actually covered.
    */
  /** Top-k busiest time units by concurrent distinct keys — the
    * peak-concurrency question answered as a boundary sweep instead of a
    * halo explode (r16, guide §2.3 "shuffle fewer bytes"): each row
    * contributes the inclusive unit interval [m, m + halo]; per key the
    * intervals are merged into disjoint segments (same running-max window
    * as [[coverage]], so each key adds +1 to every covered unit exactly
    * once = the distinct-key count); each segment emits two boundary rows
    * (start, +1) / (end + 1, −1); a prefix sum over the grouped boundary
    * deltas yields the concurrency level of each constant-level RUN; and
    * only the first k units of each run are expanded, because a later unit
    * of the same run can never out-rank an earlier one under the
    * (count DESC, unit ASC) order. O(2 rows) per merged segment crosses
    * the sweep instead of O(halo) rows per event.
    *
    * Scale: the per-key merge windows partition by key; boundary deltas
    * are a keyed aggregation; only the sweep's prefix sum is a global
    * window, over DISTINCT boundary units — bounded by the timeline span
    * in units, not by rows (the old halo explode shuffled halo×|rows|).
    *
    * Null keys group as one key (matching a distinct-pair count over a
    * null-keyed frame); null units drop (an empty halo, matching
    * explode(sequence(null))).
    *
    * Output: (unit AS `minute`, count AS `countCol`), ordered count DESC,
    * unit ASC, limited to k.
    */
  def peakConcurrency(df: DataFrame, keyCol: String, unitCol: String,
                      halo: Long, k: Int, countCol: String): DataFrame = {
    require(halo >= 0, s"halo must be non-negative, got $halo")
    require(k > 0, s"k must be positive, got $k")
    val key = col(keyCol)
    val base = df.select(key, col(unitCol).as("__m"))
      .filter(col("__m").isNotNull)
    val order = Window.partitionBy(key).orderBy(col("__m"))
    val segmented = base
      .withColumn("__pm", max(col("__m") + halo).over(
        order.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pm").isNull || col("__m") > col("__pm") + 1L, 1L)
          .otherwise(0L))
      .withColumn("__seg", sum(col("__new")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // groupBy(key, seg) reuses the window's hash(key) partitioning — no
    // second exchange of the event rows
    val segments = segmented
      .groupBy(key, col("__seg"))
      .agg(min(col("__m")).as("__a"), (max(col("__m")) + halo).as("__b"))
    val deltas = segments
      .select(explode(array(
        struct(col("__a").as("u"), lit(1L).as("d")),
        struct((col("__b") + 1L).as("u"), lit(-1L).as("d")))).as("__x"))
      .groupBy(col("__x.u").as("__u"))
      .agg(sum(col("__x.d")).as("__dd"))
    val sweep = Window.orderBy(col("__u"))
    val runs = deltas
      .withColumn("__active", sum(col("__dd")).over(
        sweep.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__nxt", lead(col("__u"), 1).over(sweep))
      // zero-level runs carry no covered units (the old shape never emitted
      // them either — an uncovered unit has no distinct pair)
      .filter(col("__active") > 0L)
    runs
      .select(col("__active"),
        explode(sequence(col("__u"),
          least(coalesce(col("__nxt") - 1L, col("__u")),
            col("__u") + (k - 1).toLong))).as("minute"))
      .select(col("minute"), col("__active").as(countCol))
      .orderBy(desc(countCol), col("minute"))
      .limit(k)
  }

  def coverage(df: DataFrame, keyCol: String, tsCol: String,
               lenSec: Long): DataFrame = {
    require(lenSec > 0, s"interval length must be positive, got $lenSec")
    val key = col(keyCol)
    val base = df.select(key,
      expr(s"unix_micros($tsCol) div 1000000").as("__s"))
      .withColumn("__e", col("__s") + lenSec)
    val order = Window.partitionBy(key).orderBy(col("__s"), col("__e"))
    val segmented = base
      .withColumn("__pm", max(col("__e")).over(
        order.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pm").isNull || col("__s") > col("__pm"), 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__new")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    segmented
      .groupBy(key, col("__seg"))
      .agg(count(lit(1)).as("__n"),
        min(col("__s")).as("__a"), max(col("__e")).as("__b"))
      .groupBy(key)
      .agg(sum(col("__n")).as("n_events"),
        count(lit(1)).as("n_segments"),
        sum(col("__b") - col("__a")).as("covered_sec"),
        (max(col("__b")) - min(col("__a"))).as("span_sec"))
      .withColumn("covered_permille",
        expr("(1000L * covered_sec) div span_sec"))
  }
}
