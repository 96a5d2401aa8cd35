package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed exact prefix sums in a stable global order, with NO global
  * window, NO RangePartitioner, and NO materialization.
  *
  * The classic two-phase shape: bucket rows order-compatibly, sum per bucket
  * (bucket-count scalars to the driver), broadcast exclusive bucket offsets
  * back, window only WITHIN buckets. The subtlety is the bucketing:
  * `repartitionByRange` draws SAMPLED cut points with a per-action seed, so
  * the offsets job and the final query could see different boundaries — the
  * previous implementation pinned one sampled outcome with
  * `localCheckpoint()`, which materializes the whole repartitioned frame to
  * executor storage and is lineage-unsafe under executor loss. Here buckets
  * are uniform id-range cells computed from one exact (min, max) aggregate:
  * reproducible on EVERY recompute (plan-deterministic, so lineage recovery
  * is safe), order-preserving by construction, and free of any pinned state.
  * Bucket boundaries steer parallelism only — the running sum is the exact
  * `idCol`-order prefix whatever `numParts` is; id skew can unbalance bucket
  * sizes but never changes a value.
  */
object PrefixSum {

  /** Adds `outCol` = INCLUSIVE running sum of `valueCol` (long) in exact
    * `idCol` order. CONTRACT: ids must be numeric (castable to double
    * without nulls — enforced, misuse fails loudly) and UNIQUE — with
    * duplicate ids the within-bucket order among equal ids is
    * partition-internal and the prefix at those rows is not well-defined
    * (the explicit ROWS frame makes each row get SOME prefix instead of the
    * old RANGE frame's peer-inclusive sum, but which one is arbitrary).
    * Returns the augmented frame and the grand total (the driver already
    * holds the bucket sums).
    */
  def runningSum(df: DataFrame, idCol: String, valueCol: String,
                 outCol: String, numParts: Int = 32): (DataFrame, Long) = {
    val (out, totals) = runningSums(df, idCol, Seq(valueCol -> outCol), numParts)
    (out, totals.head)
  }

  /** Multi-column [[runningSum]]: INCLUSIVE running sums of EVERY
    * `(valueCol, outCol)` pair in one shared model — ONE bounds aggregate +
    * ONE per-bucket totals job regardless of k, where k chained
    * single-column calls would pay 2k sequential driver round-trips (the
    * r13 `nb_pr_sweep` driver-bench signature: auxjobs=4 from two chained
    * calls, both driver passes >2× the close reading; the `byValues` fold
    * pattern). Same id contract as the single-column form. Returns the
    * augmented frame and the grand total per value column, in input order.
    */
  def runningSums(df: DataFrame, idCol: String,
                  valueOutCols: Seq[(String, String)],
                  numParts: Int = 32): (DataFrame, Seq[Long]) = {
    require(numParts > 0)
    require(valueOutCols.nonEmpty &&
      valueOutCols.map(_._1).distinct == valueOutCols.map(_._1) &&
      valueOutCols.map(_._2).distinct == valueOutCols.map(_._2),
      s"value/out columns must be nonempty and distinct, got $valueOutCols")
    // cross-collisions corrupt SILENTLY, not loudly: the output columns are
    // folded in sequentially, so an out column shadowing a LATER pair's
    // value column (or the id/bucket column) would window over the
    // already-replaced values while the offsets came from the originals
    require(valueOutCols.map(_._2)
      .forall(o => !valueOutCols.exists(_._1 == o) && o != idCol && o != "__b"),
      s"out columns must not collide with value columns, '$idCol', or " +
        s"'__b' — a shadowed input makes later running sums silently wrong; " +
        s"got $valueOutCols")
    // the INPUT side of the same silent-shadowing class: withColumn("__b")
    // in the totals and apply jobs would REPLACE a value or id column named
    // '__b' with the bucket before it is summed (r14 advice)
    require(!valueOutCols.exists(_._1 == "__b") && idCol != "__b",
      s"'__b' is reserved for the internal bucket column — a value or id " +
        s"column named '__b' would be silently replaced by the bucket; " +
        s"got idCol='$idCol', $valueOutCols")
    val valueCols = valueOutCols.map(_._1)
    val k = valueCols.size
    // The prefix model — (n, lo, hi, per-bucket per-column totals) — is
    // memoized per (input plan, idCol, valueCols, numParts), the same
    // bounded-model-collect discipline as GlobalRank.byValues: the two
    // driver-synchronous model jobs run once per session per distinct
    // input (a contended driver pays each job launch once, not per run);
    // the loud non-null contract re-checks from the memoized scalars.
    val (nRows, lo, hi, totals) = modelMemo(df, (idCol, valueCols, numParts)) {
      val bounds = df.agg(
        min(col(idCol).cast("double")).as("lo"),
        max(col(idCol).cast("double")).as("hi"),
        count(lit(1)).as("n"),
        count(col(idCol).cast("double")).as("nn")).head()
      if (bounds.getLong(2) == 0L)
        (0L, 0.0, 0.0, Map.empty[Int, Seq[Long]])
      else {
        // a non-empty frame whose ids cast to null would otherwise ride
        // the empty-input path and silently return outCol = 0 everywhere
        require(bounds.getLong(3) == bounds.getLong(2),
          s"$idCol must be numeric and non-null: " +
            s"${bounds.getLong(2) - bounds.getLong(3)} of " +
            s"${bounds.getLong(2)} rows have ids that cast to null")
        val lo0 = bounds.getDouble(0)
        val span0 = bounds.getDouble(1) - lo0 + 1.0
        val bucket0 = least(lit(numParts - 1),
          floor((col(idCol).cast("double") - lit(lo0)) / lit(span0) * numParts))
          .cast("int")
        val t = df.withColumn("__b", bucket0)
          .groupBy(col("__b"))
          .agg(valueCols.map(c => sum(col(c)).as(s"__t_$c")).head,
            valueCols.map(c => sum(col(c)).as(s"__t_$c")).tail: _*)
          .collect()
          .map(r => r.getInt(0) ->
            valueCols.indices.map(i =>
              if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)))
          .toMap
        (bounds.getLong(2), lo0, bounds.getDouble(1), t)
      }
    }
    if (nRows == 0L) {
      // empty input: zero rows — just type the output columns
      return (valueOutCols.foldLeft(df)((d, vo) => d.withColumn(vo._2, lit(0L))),
        Seq.fill(k)(0L))
    }
    val span = hi - lo + 1.0
    // monotone in id: (id−lo)/span ∈ [0,1), ×P then floor ∈ [0,P−1]; the
    // least() guards the hi endpoint against rounding up to P
    val bucket = least(lit(numParts - 1),
      floor((col(idCol).cast("double") - lit(lo)) / lit(span) * numParts))
      .cast("int")
    val withB = df.withColumn("__b", bucket)
    val bs = totals.keys.toSeq.sorted
    // explicit ROWS frame: the default RANGE frame would hand duplicate ids
    // peer-INCLUSIVE equal sums — under the unique-id contract the frames
    // agree, but the ROWS form never silently folds a contract violation
    // into plausible-looking output. One window spec shared by every
    // column: CollapseWindow keeps all k sums in ONE WindowExec.
    val w = Window.partitionBy(col("__b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = valueOutCols.zipWithIndex.foldLeft(withB) {
      case (d, ((vc, oc), i)) =>
        val offs = bs.zip(bs.scanLeft(0L)((a, b) => a + totals(b)(i))
          .dropRight(1)).toMap
        val offsetOf = bs.foldRight(lit(0L): org.apache.spark.sql.Column) {
          (b, acc) => when(col("__b") === b, lit(offs(b))).otherwise(acc)
        }
        d.withColumn(oc, offsetOf + sum(col(vc)).over(w))
    }.drop("__b")
    (out, valueCols.indices.map(i => bs.map(b => totals(b)(i)).sum))
  }

  /** Per-GROUP exact running sums in `idCol` order: the grouped twin of
    * [[runningSum]]. A naive `Window.partitionBy(groupCol)` serializes each
    * group into ONE task — fatal when groups are few and huge (length
    * buckets, source corpora). Here each group is crossed with the same
    * deterministic id-range cells, the per-(group, cell) totals (a
    * #groups × `numParts` scalar table — caller guarantees #groups is
    * bounded, e.g. a fixed bucket ladder) come back to the driver, exclusive
    * offsets go out as a broadcast join, and the window partitions by
    * (group, cell) — parallelism `numParts` PER group regardless of skew.
    *
    * Same id contract as [[runningSum]]: numeric, non-null (enforced) and
    * UNIQUE across the whole frame — via `lengthBucketBatches`, duplicate
    * doc ids would collide ranks and overfill batches.
    */
  def groupedRunningSum(df: DataFrame, groupCol: String, idCol: String,
                        valueCol: String, outCol: String,
                        numParts: Int = 32): DataFrame = {
    require(numParts > 0)
    val spark = df.sparkSession
    val bounds = df.agg(
      min(col(idCol).cast("double")).as("lo"),
      max(col(idCol).cast("double")).as("hi"),
      count(lit(1)).as("n"),
      count(col(idCol).cast("double")).as("nn")).head()
    if (bounds.getLong(2) == 0L) return df.withColumn(outCol, lit(0L))
    require(bounds.getLong(3) == bounds.getLong(2),
      s"$idCol must be numeric and non-null (see runningSum's contract): " +
        s"${bounds.getLong(2) - bounds.getLong(3)} of ${bounds.getLong(2)} " +
        "rows have ids that cast to null")
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val span = hi - lo + 1.0
    val bucket = least(lit(numParts - 1),
      floor((col(idCol).cast("double") - lit(lo)) / lit(span) * numParts))
      .cast("int")
    val withB = df.withColumn("__b", bucket)
    val totals = withB.groupBy(col(groupCol), col("__b"))
      .agg(sum(col(valueCol)).as("t"))
      .collect()
      // an all-null valueCol cell sums to null — its contribution is 0,
      // matching the window sum's null-skipping
      .map(r => (r.get(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    // exclusive prefix over cells WITHIN each group
    val offsets = totals.keys.toSeq.groupBy(_._1).toSeq.flatMap {
      case (g, ks) =>
        val cells = ks.map(_._2).sorted
        cells.zip(cells.scanLeft(0L)((a, c) => a + totals((g, c))).dropRight(1))
          .map { case (c, off) => org.apache.spark.sql.Row(g, c, off) }
    }
    // The offset frame carries the group key in its NATIVE type, joined with
    // null-safe equality: the previous string-typed join (cast(groupCol as
    // string) == JVM toString) silently missed groups whose two renderings
    // disagree — java.sql.Timestamp's trailing ".0" vs Spark's cast, Decimal
    // scale formatting — and NPE'd on null groups, zeroing offsets with no
    // error. Native equality has no rendering to disagree on.
    val groupType = df.schema(groupCol).dataType
    val offDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(offsets: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__g", groupType),
        org.apache.spark.sql.types.StructField("__ob", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off", org.apache.spark.sql.types.LongType)))))
    // ROWS frame + unique-id contract: see runningSum
    val w = Window.partitionBy(col(groupCol), col("__b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB
      .join(offDf, col(groupCol) <=> col("__g") &&
        col("__b") === col("__ob"), "left")
      .withColumn(outCol,
        coalesce(col("__off"), lit(0L)) + sum(col(valueCol)).over(w))
      .drop("__b", "__g", "__ob", "__off")
  }

  /** (idCol, valueCols, numParts) -> (n, lo, hi, per-bucket per-column
    * totals): ≤ numParts × k scalars per distinct summed input.
    */
  private val modelMemo = new graft.PlanMemo[(String, Seq[String], Int),
    (Long, Double, Double, Map[Int, Seq[Long]])](
    "prefixsum.model", m => 32L + m._4.valuesIterator.map(v => 24L + 8L * v.size).sum)
}
