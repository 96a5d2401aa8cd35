package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Spearman rank correlation between two discrete signals (Spearman 1904) —
  * the signal-agreement audit for data curation: do two quality signals
  * (length, entropy, NB margin, perplexity) ORDER the corpus the same way?
  * Rank correlation is the right tool where Pearson is scale-bound; ranks
  * are exact integers, so the whole statistic is engine-portable.
  *
  * Exactness: ties take the average rank, kept integer by DOUBLING —
  * r2(v) = 2·below(v) + ties(v) + 1 (the constant factor cancels from ρ).
  * The five S-sums over r2 accumulate in DECIMAL(38,0) (Σr·r ≤ 4n³ and the
  * ρ numerator n·Σxy ≤ 4n⁴ cross 2⁶³ near n ≈ 10⁵ — and stay inside 38
  * digits to n ≈ 4·10⁹ rows, the documented bound); ρ itself is then ONE
  * IEEE expression over exact integers — num/(sqrt(dx)·sqrt(dy)) with
  * identical parenthesization in the DuckDB oracle, so it hash-matches.
  *
  * Scale: per signal, ONE map-side-combined value-count aggregation whose
  * output is contractually ≤ `maxDistinct` rows (integral discrete score
  * domains — the [[QuantileRank]] bounded-domain contract, enforced by a
  * `limit(cap+1)` bounded collect with a loud require). The doubled ranks
  * are a driver-side prefix over that bounded table (the bounded-model
  * class, like the BPE argmax), broadcast back as literal frames; one
  * aggregate emits the single row. Three jobs total — an earlier
  * PrefixSum-based variant spent 4× the wall-clock on fixed per-job
  * overhead for identical output.
  */
object Correlation {

  /** One-row frame: (n, spearman_rho). Both columns must be integral
    * (discrete scores — bucketize first otherwise), non-null,
    * ≤ `maxDistinct` distinct values, and non-constant (a constant signal
    * has zero rank variance — ρ is undefined; fails loudly rather than
    * emitting NaN).
    */
  def spearman(df0: DataFrame, xCol: String, yCol: String,
               maxDistinct: Int = 200000): DataFrame = {
    val spark = df0.sparkSession
    import spark.implicits._
    Seq(xCol, yCol).foreach { c =>
      val dt = df0.schema(c).dataType
      val integral = dt == ByteType || dt == ShortType ||
        dt == IntegerType || dt == LongType
      require(integral,
        s"spearman: '$c' must be an integral discrete score column " +
          s"(got $dt) — ranks over a continuous domain are data-sized; " +
          "bucketize first")
    }
    // the signal frame feeds three consumers; land the two-column
    // projection so an expensive derivation (tokenizing text) runs once
    val df = Stages.materialize(
      df0.select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y")), "spearman_signals")
    def rank2(c: String): DataFrame = {
      val rows = df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        .limit(maxDistinct + 1).collect()
      require(!rows.exists(_.isNullAt(0)),
        s"spearman: '$c' contains NULLs — a NULL has no rank; filter or " +
          "impute first")
      require(rows.length <= maxDistinct,
        s"spearman: '$c' has > $maxDistinct distinct values — ranks are " +
          "bounded only for discrete score domains; bucketize first")
      require(rows.length >= 2,
        s"spearman: '$c' is constant — zero rank variance, ρ undefined")
      val sorted = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var below = 0L
      val ranked = sorted.map { case (v, cnt) =>
        val r2 = 2L * below + cnt + 1L
        below += cnt
        (v, r2)
      }
      broadcast(ranked.toSeq.toDF("__v", "__r2"))
    }
    val rx = rank2("__x").select(col("__v").as("__vx"), col("__r2").as("__rx"))
    val ry = rank2("__y").select(col("__v").as("__vy"), col("__r2").as("__ry"))
    val d38 = DecimalType(38, 0)
    df.join(rx, col("__x") === col("__vx"))
      .join(ry, col("__y") === col("__vy"))
      .agg(
        count(lit(1)).cast(d38).as("__n"),
        sum(col("__rx").cast(d38)).as("__sx"),
        sum(col("__ry").cast(d38)).as("__sy"),
        sum((col("__rx") * col("__rx")).cast(d38)).as("__sxx"),
        sum((col("__ry") * col("__ry")).cast(d38)).as("__syy"),
        sum((col("__rx") * col("__ry")).cast(d38)).as("__sxy"))
      .select(col("__n").cast("long").as("n"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
          (sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")) *
            sqrt((col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double"))))
          .as("spearman_rho"))
  }

  /** Kendall τ-b between two discrete signals (Kendall 1938; τ-b ties
    * correction) — the third member of the correlation family: Pearson
    * asks "linear", Spearman asks "same order overall", Kendall asks
    * "what FRACTION of pairs agree" — a probability, directly readable
    * and more robust to a few wild ranks than ρ.
    *
    * Exactness: concordant/discordant/tie counts are exact BigInt sums
    * over the joint value-frequency table; τ-b is ONE IEEE expression
    * (C−D)/(√(n₀−n₁)·√(n₀−n₂)) over the exact integers, identical
    * parenthesization in the oracle.
    *
    * Scale: the corpus pays ONE (x, y) cell count (map-side combined);
    * the driver walks the ≤ `maxCells`² cell pairs (bounded-model class,
    * capped probe + loud require — 4096² ≈ 1.7·10⁷ driver comparisons).
    * One row comes back. The cell table, not the row count, bounds the
    * work — the same contract as [[spearman]], squared, which is why the
    * cap is tighter.
    */
  def kendallTau(df0: DataFrame, xCol: String, yCol: String,
                 maxCells: Int = 4096): DataFrame = {
    val spark = df0.sparkSession
    Seq(xCol, yCol).foreach { c =>
      val dt = df0.schema(c).dataType
      val integral = dt == ByteType || dt == ShortType ||
        dt == IntegerType || dt == LongType
      require(integral,
        s"kendallTau: '$c' must be an integral discrete score column " +
          s"(got $dt) — bucketize first")
    }
    val cells = df0
      .select(col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__c"))
      .limit(maxCells + 1).collect()
    require(!cells.exists(r => r.isNullAt(0) || r.isNullAt(1)),
      "kendallTau: signals contain NULLs — filter or impute first")
    require(cells.length <= maxCells,
      s"kendallTau: > $maxCells joint (x, y) cells — the pair walk is " +
        "bounded only for discrete score domains; bucketize first")
    val cs = cells.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = BigInt(cs.map(_._3).sum)
    require(n >= 2, "kendallTau: fewer than two rows")
    var conc = BigInt(0); var disc = BigInt(0)
    var i = 0
    while (i < cs.length) {
      var j = i + 1
      while (j < cs.length) {
        val (xi, yi, ci) = cs(i); val (xj, yj, cj) = cs(j)
        val prod = BigInt(ci) * BigInt(cj)
        if ((xi < xj && yi < yj) || (xi > xj && yi > yj)) conc += prod
        else if ((xi < xj && yi > yj) || (xi > xj && yi < yj)) disc += prod
        j += 1
      }
      i += 1
    }
    def tiePairs(marginal: Map[Long, Long]): BigInt =
      marginal.values.map(c => BigInt(c) * BigInt(c - 1) / 2).sum
    val n1 = tiePairs(cs.groupBy(_._1).map { case (v, g) => v -> g.map(_._3).sum })
    val n2 = tiePairs(cs.groupBy(_._2).map { case (v, g) => v -> g.map(_._3).sum })
    val n0 = n * (n - 1) / 2
    require(n0 > n1 && n0 > n2,
      "kendallTau: a constant signal — every pair is tied, τ undefined")
    spark.createDataFrame(Seq((n.toLong, conc.toString, disc.toString,
      (n0 - n1).toString, (n0 - n2).toString)))
      .toDF("n", "__c", "__d", "__dx", "__dy")
      .select(col("n"),
        col("__c").cast(DecimalType(38, 0)).cast("long").as("concordant"),
        col("__d").cast(DecimalType(38, 0)).cast("long").as("discordant"),
        ((col("__c").cast(DecimalType(38, 0)) -
          col("__d").cast(DecimalType(38, 0))).cast("double") /
          (sqrt(col("__dx").cast(DecimalType(38, 0)).cast("double")) *
            sqrt(col("__dy").cast(DecimalType(38, 0)).cast("double"))))
          .as("kendall_tau_b"))
  }

  /** All-pairs Pearson matrix in ONE table scan — the profiling read a
    * per-pair API forces into k(k−1)/2 separate scans: every pairwise
    * correlation over k numeric columns needs only the k sums, k sums of
    * squares, and k(k−1)/2 cross sums, all conditional aggregates of a
    * single pass (map-side combined; at 100 TB the scan IS the cost, so
    * one pass vs 6 is the whole game).
    *
    * Exact integer read-out: per pair, A = nΣxy − ΣxΣy, B = nΣxx − Σx²,
    * C = nΣyy − Σy², and r² is carried permille via the CUPED
    * fixed-order double truncation ((1000·A) div B)·A div C — never A²,
    * which passes 38 digits at ~1e23 (reachable: n·Σxy at 6e5 rows of
    * 1e7-cent values). Sign reported separately (r² forgets it). A
    * CONSTANT column (B or C = 0) yields NULL r² with sign 0 — in a
    * profiling matrix that degenerate pair is a finding to report, not
    * a reason to kill the other pairs.
    */
  def pearsonMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      "pearsonMatrix: 2..8 columns (aggregate count is quadratic in k)")
    require(cols.map(_._1).distinct.size == cols.size,
      "pearsonMatrix: column names must be unique")
    val names = cols.map(_._1)
    val base = df.select(cols.map { case (n, c) =>
      c.cast("long").as(s"__$n") }: _*)
    val pairs = for {
      i <- names.indices; j <- names.indices if i < j
    } yield (names(i), names(j))
    val aggs: Seq[Column] =
      (count(lit(1)).as("__n") +:
        names.map(n => sum(col(s"__$n")).as(s"__s_$n"))) ++
        names.map(n => sum(expr(s"CAST(__$n AS DECIMAL(38,0)) * __$n"))
          .as(s"__q_$n")) ++
        pairs.map { case (a, b) =>
          sum(expr(s"CAST(__$a AS DECIMAL(38,0)) * __$b")).as(s"__p_${a}_$b") }
    val g = base.agg(aggs.head, aggs.tail: _*)
    // ONE stack projection over the single agg row — a per-pair select
    // union would prune the agg differently per branch, defeat
    // ReuseExchange, and re-run the scan k(k−1)/2 times (the measured
    // stage-landing lesson)
    val stackArgs = pairs.map { case (a, b) =>
      val A = s"(__n * __p_${a}_$b - CAST(__s_$a AS DECIMAL(38,0)) * __s_$b)"
      val B = s"(__n * __q_$a - CAST(__s_$a AS DECIMAL(38,0)) * __s_$a)"
      val C = s"(__n * __q_$b - CAST(__s_$b AS DECIMAL(38,0)) * __s_$b)"
      s"'$a', '$b', " +
        s"CASE WHEN $B = 0 OR $C = 0 THEN CAST(NULL AS BIGINT) " +
        s"ELSE CAST((((1000 * $A) div $B) * $A) div $C AS BIGINT) END, " +
        s"CASE WHEN $B = 0 OR $C = 0 THEN CAST(0 AS BIGINT) " +
        s"WHEN $A > 0 THEN CAST(1 AS BIGINT) " +
        s"WHEN $A < 0 THEN CAST(-1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(", ")
    g.selectExpr(
      s"stack(${pairs.size}, $stackArgs) AS (col_x, col_y, r2_permille, r_sign)",
      "__n")
      .select(col("col_x"), col("col_y"), col("__n").as("n"),
        col("r2_permille"), col("r_sign"))
  }
}
