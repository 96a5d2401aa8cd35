package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact global rank by an arbitrary value column WITHOUT a global window —
  * [[PrefixSum]]'s two-phase discipline pointed at ORDER STATISTICS: bucket
  * rows into uniform value-range cells computed from one exact (min, max)
  * aggregate (plan-deterministic, lineage-safe — no sampled
  * RangePartitioner cut points, no checkpoint), count per cell
  * (`numBuckets` scalars to the driver), broadcast exclusive offsets back,
  * and rank only WITHIN cells — so `rank = offset(cell) + row_number` is
  * the exact (value, tie)-order global rank while no task ever sees more
  * than its cell. The single-partition `Window.orderBy(x)` that Spark
  * would otherwise run — the classic quantile/ntile scale killer — never
  * appears in the plan.
  *
  * Contract: `valueCol` numeric non-null (enforced loudly); `tieCol` a
  * unique non-null key (the usual primary key — uniqueness makes the order
  * total, so ranks are reproducible on every recompute). Value skew can
  * unbalance CELL SIZES (all mass in one cell degrades to the global
  * window); `maxCellShare` fails loudly past the documented bound instead
  * of discovering the straggler at hour three.
  */
object GlobalRank {

  /** Adds `outCol` = 1-based exact global rank by (valueCol asc, tieCol
    * asc). Returns the augmented frame and the total row count (the
    * driver already holds the cell counts). */
  def byValue(df: DataFrame, valueCol: String, tieCol: String,
              outCol: String, numBuckets: Int = 64,
              maxCellShare: Int = 4): (DataFrame, Long) = {
    require(numBuckets > 0)
    // The rank model — (n, lo, hi, per-cell counts) — is MEMOIZED per
    // (input plan, valueCol, numBuckets): the two driver-synchronous model
    // jobs (bounds head + cell-count collect) run once per session per
    // distinct input. A same-session re-rank of the same frame (the bench's
    // second interleaved pass; multi-query histogram consumers) issues only
    // its final job — on a contended driver each synchronous job launch
    // costs a scheduling/GC pause, and this was most of the r11
    // equidepth_histogram driver-bench outlier.
    // Loud-refusal checks (non-null cast, maxCellShare) re-run from the
    // memoized scalars on every call, so the contract holds per call site.
    val (n, lo, hi, cellCounts) = modelMemo(df, (valueCol, numBuckets)) {
      val bounds = df.agg(
        min(col(valueCol).cast("double")).as("lo"),
        max(col(valueCol).cast("double")).as("hi"),
        count(lit(1)).as("n"),
        count(col(valueCol).cast("double")).as("nn")).head()
      if (bounds.getLong(2) == 0L)
        (0L, 0.0, 0.0, Array.empty[(Long, Long)])
      else {
        require(bounds.getLong(3) == bounds.getLong(2),
          s"globalRank: $valueCol must be numeric and non-null — " +
            s"${bounds.getLong(2) - bounds.getLong(3)} of " +
            s"${bounds.getLong(2)} rows cast to null")
        val lo0 = bounds.getDouble(0)
        val span0 = bounds.getDouble(1) - lo0 + 1.0
        val cell0 = least(lit(numBuckets - 1),
          floor((col(valueCol).cast("double") - lit(lo0)) / lit(span0) * numBuckets))
        // numBuckets scalars — the bounded-model-collect class
        val cc = df.withColumn("__cell", cell0)
          .groupBy(col("__cell")).agg(count(lit(1)).as("__c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
        (bounds.getLong(2), lo0, bounds.getDouble(1), cc)
      }
    }
    if (n == 0L) return (df.withColumn(outCol, lit(0L)), 0L)
    val span = hi - lo + 1.0
    val cell = least(lit(numBuckets - 1),
      floor((col(valueCol).cast("double") - lit(lo)) / lit(span) * numBuckets))
    val withCell = df.withColumn("__cell", cell)
    val biggest = cellCounts.map(_._2).max
    require(biggest * maxCellShare <= math.max(n, numBuckets.toLong) ||
      biggest <= 1000000L,
      s"globalRank: one value cell holds $biggest of $n rows — the value " +
        "distribution is too concentrated for uniform cells; pre-transform " +
        s"the column (rank a log/bucketized view) or raise maxCellShare")
    var acc = 0L
    val offsets = cellCounts.map { case (c, cnt) =>
      val off = (c, acc); acc += cnt; off
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__cell", "__off"))
    val w = Window.partitionBy(col("__cell"))
      .orderBy(col(valueCol), col(tieCol))
    (withCell.join(offDf, Seq("__cell"))
      .withColumn(outCol, col("__off") + row_number().over(w))
      .drop("__cell", "__off"), n)
  }

  /** Rank by SEVERAL value columns off one input in ONE model round-trip:
    * `outCols(i)` = exact global rank by (`valueCols(i)` asc, tieCol asc),
    * all added to the same frame. Semantically identical to chaining
    * [[byValue]] once per column, but the whole model — every column's
    * (lo, hi, non-null count) and every column's per-cell counts — costs
    * exactly TWO driver-synchronous jobs regardless of column count: one
    * bounds aggregate, then one GROUPING SETS ((cell_0), …, (cell_{k−1}))
    * count (k·numBuckets scalars, map-side combined). The chained form
    * pays 2 jobs PER column plus a landing between columns (each rank
    * column must be materialized before the next model can run against a
    * stable plan) — ~3× the driver-synchronous job launches, which is the
    * r12 `rfm_segments` driver-bench sensitivity (each synchronous launch
    * eats a scheduling/GC pause on a contended driver). The final frame is
    * one composed plan: k broadcast offset joins + k per-cell windows, no
    * intermediate landings.
    *
    * Same contract as [[byValue]] per column (numeric non-null values,
    * unique non-null tie key, `maxCellShare` refusal), same memoization
    * (one model entry per (canonicalized input, valueCols, numBuckets)).
    */
  def byValues(df: DataFrame, valueCols: Seq[String], tieCol: String,
               outCols: Seq[String], numBuckets: Int = 64,
               maxCellShare: Int = 4): (DataFrame, Long) = {
    require(valueCols.nonEmpty && valueCols.distinct == valueCols,
      s"valueCols must be nonempty and distinct, got ${valueCols.mkString(", ")}")
    require(outCols.size == valueCols.size,
      s"outCols (${outCols.size}) must match valueCols (${valueCols.size})")
    require(numBuckets > 0)
    val k = valueCols.size
    // grouping_id arithmetic below is (1L << k) − 1: at k ≥ 63 the shift
    // wraps and cell lookups would misattribute counts SILENTLY, and the
    // GROUPING SETS Expand duplicates the input k-fold well before that.
    // Refuse loudly far under the wrap point (the Linkage F ≤ 6 style) —
    // no caller legitimately ranks 16+ signals in one model.
    require(k <= 16,
      s"globalRank.byValues: ${k} value columns exceeds the supported bound " +
        "of 16 — grouping_id bit arithmetic wraps at 64 and the Expand cost " +
        "grows k-fold; split the signals across two calls instead")
    // n, per-column (lo, hi), per-column sorted (cell -> count)
    val (n, bounds, cellsByCol) = multiMemo(df, (valueCols, numBuckets)) {
      val aggs = valueCols.flatMap { c => Seq(
        min(col(c).cast("double")), max(col(c).cast("double")),
        count(col(c).cast("double"))) } :+ count(lit(1))
      val b = df.agg(aggs.head, aggs.tail: _*).head()
      val n0 = b.getLong(3 * k)
      if (n0 == 0L)
        (0L, Array.empty[(Double, Double)],
          Array.empty[Array[(Long, Long)]])
      else {
        valueCols.zipWithIndex.foreach { case (c, i) =>
          require(b.getLong(3 * i + 2) == n0,
            s"globalRank: $c must be numeric and non-null — " +
              s"${n0 - b.getLong(3 * i + 2)} of $n0 rows cast to null")
        }
        val bounds = valueCols.indices.map(i =>
          (b.getDouble(3 * i), b.getDouble(3 * i + 1))).toArray
        val withCells = valueCols.zipWithIndex.foldLeft(df) {
          case (d, (c, i)) =>
            val (lo0, hi0) = bounds(i)
            d.withColumn(s"__cell_$i", least(lit(numBuckets - 1),
              floor((col(c).cast("double") - lit(lo0)) /
                lit(hi0 - lo0 + 1.0) * numBuckets)))
        }
        val cellCols = valueCols.indices.map(i => col(s"__cell_$i"))
        // grouping_id bit i is SET when __cell_i is aggregated; the
        // single-column set {__cell_i} therefore has gid =
        // (2^k − 1) − 2^(k−1−i). Sets are distinct by construction
        // (one per column), so no Expand duplication is possible.
        val rows = withCells
          .groupingSets(cellCols.map(Seq(_)), cellCols: _*)
          .agg(grouping_id().as("__gid"), count(lit(1)).as("__c"))
          .collect()
        val all = (1L << k) - 1L
        val byCol = valueCols.indices.map { i =>
          val gid = all - (1L << (k - 1 - i))
          rows.filter(_.getAs[Long]("__gid") == gid)
            .map(r => r.getAs[Long](s"__cell_$i") -> r.getAs[Long]("__c"))
            .sortBy(_._1)
        }.toArray
        (n0, bounds, byCol)
      }
    }
    if (n == 0L)
      return (outCols.foldLeft(df)((d, o) => d.withColumn(o, lit(0L))), 0L)
    val spark = df.sparkSession
    import spark.implicits._
    var out = valueCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val (lo0, hi0) = bounds(i)
      d.withColumn(s"__cell_$i", least(lit(numBuckets - 1),
        floor((col(c).cast("double") - lit(lo0)) /
          lit(hi0 - lo0 + 1.0) * numBuckets)))
    }
    valueCols.zipWithIndex.foreach { case (c, i) =>
      val cc = cellsByCol(i)
      val biggest = cc.map(_._2).max
      require(biggest * maxCellShare <= math.max(n, numBuckets.toLong) ||
        biggest <= 1000000L,
        s"globalRank: one $c cell holds $biggest of $n rows — the value " +
          "distribution is too concentrated for uniform cells; pre-transform " +
          s"the column (rank a log/bucketized view) or raise maxCellShare")
      var acc = 0L
      val offsets = cc.map { case (cell, cnt) =>
        val off = (cell, acc); acc += cnt; off }.toSeq
      val offDf = broadcast(offsets.toDF(s"__cell_$i", s"__off_$i"))
      val w = Window.partitionBy(col(s"__cell_$i"))
        .orderBy(col(c), col(tieCol))
      out = out.join(offDf, Seq(s"__cell_$i"))
        .withColumn(outCols(i), col(s"__off_$i") + row_number().over(w))
        .drop(s"__off_$i")
    }
    (valueCols.indices.foldLeft(out)((d, i) => d.drop(s"__cell_$i")), n)
  }

  /** (valueCols, numBuckets) -> the [[byValues]] model: ≤ k·numBuckets
    * scalars per distinct ranked input.
    */
  private val multiMemo = new graft.PlanMemo[(Seq[String], Int),
    (Long, Array[(Double, Double)], Array[Array[(Long, Long)]])](
    "globalrank.byValues", m =>
      8L + 16L * m._2.length + m._3.iterator.map(a => 16L + 32L * a.length).sum)

  /** (valueCol, numBuckets) -> (n, lo, hi, per-cell counts): ≤ numBuckets
    * scalars per distinct ranked input.
    */
  private val modelMemo = new graft.PlanMemo[(String, Int),
    (Long, Double, Double, Array[(Long, Long)])](
    "globalrank.byValue", m => 24L + 32L * m._4.length)

  /** DuckDB-convention ntile from an exact 1-based rank: with q = n div k
    * and r = n mod k, the FIRST r tiles hold q+1 rows (verified identical
    * in Spark and DuckDB: ntile(5) over 7 rows tiles as 2,2,1,1,1) —
    * closed-form from the rank, so it composes with [[byValue]] without
    * any window at all. */
  def ntileFromRank(rankCol: String, n: Long, k: Int): Column = {
    require(k >= 1 && n >= 0)
    val q = n / k
    val r = n % k
    // integral `div`, never Column./ — an IEEE double quotient's floor can
    // misbucket once the divisor passes ~5e6 (0.5 ulp at rank ~1e9 beats
    // 1/divisor), which is exactly the n this helper exists for
    expr(s"CASE WHEN $rankCol <= ${r * (q + 1)}L THEN " +
      s"($rankCol - 1L) div ${q + 1}L + 1L " +
      s"ELSE ${r}L + ($rankCol - ${r * (q + 1)}L - 1L) div " +
      s"${math.max(q, 1L)}L + 1L END")
  }
}
