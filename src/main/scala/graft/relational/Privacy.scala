package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-anonymity audit (Sweeney 2002) — before a dataset with
  * quasi-identifiers ships, measure re-identification exposure: a row
  * whose quasi-identifier combination is shared by fewer than k rows is
  * linkable. This is the release gate that pairs with
  * [[graft.text.Redact]]'s pseudonymization (pseudonyms preserve JOIN
  * structure, so they do NOT fix small QI groups — only generalization
  * or suppression does; this audit says where).
  *
  * Scale: ONE aggregation builds the QI group-size frame (map-side
  * combined; output is QI-cardinality-sized and stays distributed), then
  * each requested k is a 1-row conditional aggregate over it — the
  * size frame lands once however many thresholds are asked for. Exact
  * truncating-division permille.
  */
object Privacy {

  /** One row per k in `ks`: (k, n_groups, groups_at_risk, rows_at_risk,
    * rows_at_risk_permille) where "at risk" = QI group size < k. NULL QI
    * values form groups like any other value (null-safe grouping), since
    * a shared "unknown" is still a linkable signature.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], ks: Seq[Int]): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity needs at least one quasi-identifier")
    require(ks.nonEmpty && ks.forall(_ >= 2), "each k must be >= 2")
    val sizes = Stages.materialize(
      df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("__sz"))
        .select(col("__sz")), "kanon_sizes")
    ks.map { k =>
      sizes.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("__sz") < k, 1L).otherwise(0L)).as("groups_at_risk"),
        sum(when(col("__sz") < k, col("__sz")).otherwise(lit(0L)))
          .as("rows_at_risk"),
        sum(col("__sz")).as("__total"))
        .select(lit(k.toLong).as("k"), col("n_groups"),
          col("groups_at_risk"), col("rows_at_risk"),
          expr("(1000L * rows_at_risk) div __total")
            .as("rows_at_risk_permille"))
    }.reduce(_ unionByName _)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's
    * blind spot: a QI group can be large yet carry ONE sensitive value,
    * so membership alone discloses it (the homogeneity attack). A group
    * is at risk when its sensitive attribute takes fewer than l distinct
    * values. Same scale shape as [[kAnonymity]]: ONE aggregation builds
    * the per-QI-group (size, distinct-sensitive) frame — the distinct is
    * per group, partial-aggregated map-side — landed once, then each l
    * is a 1-row conditional aggregate.
    *
    * One row per l: (l, n_groups, groups_at_risk, rows_at_risk,
    * rows_at_risk_permille), at-risk = distinct sensitive values < l.
    */
  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — l-diversity's
    * blind spot, closing the release-gate triad: a QI group can carry l
    * distinct sensitive values yet still LEAK when its value DISTRIBUTION
    * differs sharply from the table's (the skewness attack — "diverse but
    * 90% one disease" discloses plenty). A group is at risk when the
    * distance between its sensitive distribution and the global one
    * exceeds t. For a categorical attribute the ground distance is flat,
    * so the distance is total variation: TVD = ½·Σ_v |p_v − q_v|.
    *
    * Exact integer form: with group counts c_v (size n_g) and global
    * counts C_v (total N), the absent-value terms fold into the present
    * ones — Σ_v |c_v·N − C_v·n_g| over ALL v equals
    * Σ_{present} |c_v·N − C_v·n_g| + (N − Σ_{present} C_v)·n_g — so the
    * per-(group, value) frame alone suffices (no domain explode), and
    *   tvd_permille = (1000·Σ) div (2·n_g·N)
    * in one truncating division. Products are 38-digit decimals (counts
    * reach 1e12 at 100 TB; the cross products need 24+ digits).
    *
    * Scale: one (QI, value) aggregation (map-side combined), one
    * partitioned window for n_g, one broadcast of the GLOBAL value-count
    * frame — bounded by the sensitive domain, enforced by a limit(cap+1)
    * probe that refuses loudly rather than broadcasting a huge domain.
    * The per-group (size, tvd) frame lands once; each t is a 1-row
    * conditional aggregate over it.
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 tsPermille: Seq[Int], maxDomain: Int = 10000): DataFrame = {
    require(qiCols.nonEmpty, "tCloseness needs at least one quasi-identifier")
    require(tsPermille.nonEmpty && tsPermille.forall(t => t >= 1 && t < 1000),
      "each t must be a permille in [1, 1000)")
    // ONE corpus aggregation lands; the global distribution and the total
    // are RE-AGGREGATIONS of the landed (qi, sensitive) counts (Σ__c per
    // sensitive value == its global count), not separate corpus scans — as
    // plan branches, glob/total/gv each re-scanned the source (the r12
    // aux-job scan gate measured 3 scans inside the sizes landing).
    val gv = Stages.materialize(
      df.groupBy((qiCols :+ sensitiveCol).map(col): _*)
        .agg(count(lit(1)).as("__c")), "tclose_gv")
    val glob = gv.groupBy(col(sensitiveCol)).agg(sum(col("__c")).as("__cv"))
    // bounded domain probe, memoized per plan (the GlobalRank/PrefixSum
    // driver-model discipline — one probe job per session per distinct
    // input, not one per run)
    val domSize = domProbeMemo(glob, maxDomain) {
      glob.select(col(sensitiveCol)).limit(maxDomain + 1).collect().length
    }
    require(domSize <= maxDomain,
      s"tCloseness: sensitive domain exceeds $maxDomain distinct values — " +
        "the global distribution must stay broadcastable; bucket the " +
        "attribute or raise maxDomain deliberately")
    val total = gv.agg(coalesce(sum(col("__c")), lit(0L)).as("__N"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(qiCols.map(col): _*)
    val terms = gv
      .join(broadcast(glob), Seq(sensitiveCol))
      .crossJoin(broadcast(total))
      .withColumn("__ng", sum(col("__c")).over(wg))
      .withColumn("__term", abs(expr(
        "CAST(__c AS DECIMAL(38,0)) * __N - CAST(__cv AS DECIMAL(38,0)) * __ng")))
    val sizes = Stages.materialize(
      terms.groupBy(qiCols.map(col): _*)
        .agg(max(col("__ng")).as("__ng2"), max(col("__N")).as("__N2"),
          sum(col("__term")).as("__sabs"), sum(col("__cv")).as("__scv"))
        .select(col("__ng2").as("__sz"), expr(
          "CAST((1000 * (__sabs + (CAST(__N2 AS DECIMAL(38,0)) - __scv) * __ng2)) " +
            "div (2 * CAST(__ng2 AS DECIMAL(38,0)) * __N2) AS BIGINT)").as("__tvd")),
      "tclose_sizes")
    tsPermille.map { t =>
      sizes.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("__tvd") > t, 1L).otherwise(0L)).as("groups_at_risk"),
        sum(when(col("__tvd") > t, col("__sz")).otherwise(lit(0L)))
          .as("rows_at_risk"),
        sum(col("__sz")).as("__total"))
        .select(lit(t.toLong).as("t_permille"), col("n_groups"),
          col("groups_at_risk"), col("rows_at_risk"),
          expr("(1000L * rows_at_risk) div __total")
            .as("rows_at_risk_permille"))
    }.reduce(_ unionByName _)
  }

  /** Differential-privacy contribution bounding audit — the preprocessing
    * every DP histogram release stands on (the Abadi/Google-DP clamp
    * step): noise calibrated to sensitivity is MEANINGLESS until each
    * user's contribution is bounded, because one power user's thousand
    * rows otherwise carry a thousand-row sensitivity. Before clamping
    * per-(user, cell) counts at C, the release owner needs the tradeoff
    * this audit measures per candidate cap:
    * how many units get clamped, how much signal (rows) the clamp
    * discards, and the post-clamp USER-LEVEL L1 sensitivity
    * max_u Σ_cells min(c_{u,cell}, C) — the number the noise scale is
    * actually calibrated to.
    *
    * Scale: ONE (unit, cell) aggregation (map-side combined) lands once;
    * each cap is a per-unit agg + 1-row summary over it — the
    * kAnonymity shape. All integer; truncating-division permille.
    */
  def contributionBound(df: DataFrame, unitCol: String, cellCols: Seq[String],
                        caps: Seq[Int]): DataFrame = {
    require(cellCols.nonEmpty, "contributionBound needs at least one cell column")
    require(caps.nonEmpty && caps.forall(_ >= 1), "each cap must be >= 1")
    val uc = Stages.materialize(
      df.groupBy((unitCol +: cellCols).map(col): _*)
        .agg(count(lit(1)).as("__c"))
        .select(col(unitCol).as("__u"), col("__c")), "dp_contrib")
    caps.map { c =>
      val perUnit = uc.groupBy(col("__u")).agg(
        sum(col("__c")).as("__rows"),
        sum(when(col("__c") > c, col("__c") - c).otherwise(lit(0L)))
          .as("__lost"),
        sum(least(col("__c"), lit(c.toLong))).as("__kept"),
        max(col("__c")).as("__mx"))
      perUnit.agg(
        count(lit(1)).as("n_units"),
        sum(when(col("__mx") > c, 1L).otherwise(0L)).as("units_clamped"),
        sum(col("__lost")).as("rows_lost"),
        sum(col("__rows")).as("__total"),
        max(col("__kept")).as("l1_sensitivity_after"))
        .select(lit(c.toLong).as("cap"), col("n_units"),
          col("units_clamped"), col("rows_lost"),
          expr("(1000L * rows_lost) div __total").as("rows_lost_permille"),
          col("l1_sensitivity_after"))
    }.reduce(_ unionByName _)
  }

  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 ls: Seq[Int]): DataFrame = {
    require(qiCols.nonEmpty, "lDiversity needs at least one quasi-identifier")
    require(ls.nonEmpty && ls.forall(_ >= 2), "each l must be >= 2")
    val sizes = Stages.materialize(
      df.groupBy(qiCols.map(col): _*)
        .agg(count(lit(1)).as("__sz"),
          countDistinct(col(sensitiveCol)).as("__ld"))
        .select(col("__sz"), col("__ld")), "ldiv_sizes")
    ls.map { l =>
      sizes.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("__ld") < l, 1L).otherwise(0L)).as("groups_at_risk"),
        sum(when(col("__ld") < l, col("__sz")).otherwise(lit(0L)))
          .as("rows_at_risk"),
        sum(col("__sz")).as("__total"))
        .select(lit(l.toLong).as("l"), col("n_groups"),
          col("groups_at_risk"), col("rows_at_risk"),
          expr("(1000L * rows_at_risk) div __total")
            .as("rows_at_risk_permille"))
    }.reduce(_ unionByName _)
  }

  /** (global-distribution plan, maxDomain) -> probed domain size. */
  private val domProbeMemo =
    new graft.PlanMemo[Int, Int]("privacy.domainProbe", _ => 16L)
}
