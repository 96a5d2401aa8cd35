package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-funnel conversion — the event-analytics staple: how many users
  * reach stage i having passed stages 1..i−1 IN ORDER (a later "view" after
  * an early "purchase" does not count as progress). The reference routes
  * these events one-by-one (lib/kinesisHandler.js:139-170); the funnel is
  * the batch analytic a handler consumer builds on top.
  *
  * Scale design: the frontier chain is k−1 self-joins, every one keyed on
  * the USER — after the first per-user aggregation the frames share hash
  * partitioning on user_id, so Catalyst satisfies each subsequent
  * join/groupBy from the existing exchange (one shuffle per stage of the
  * EVENTS side only; the frontier side is already partitioned). No windows,
  * no global sorts; per-stage counts union into one answer-sized frame.
  */
object Funnel {

  /** Per-stage reach: (stage_idx, stage, n_users, conv_permille) with
    * conv_permille = 1000·n_users/n_users(stage 1) as exact integer
    * division. Stage i's timestamp is the EARLIEST occurrence of stage i
    * at-or-after the user's stage-(i−1) frontier (min-ts semantics).
    * With `maxGapSeconds`, each transition must also land WITHIN the gap
    * of the previous frontier (the conversion-window form — "a click
    * within an hour of the view"); the earliest-in-window occurrence
    * becomes the next frontier, so the window is anchored per transition,
    * not to the funnel start.
    */
  def conversion(events: DataFrame, userCol: String, typeCol: String,
                 tsCol: String, stages: Seq[String],
                 maxGapSeconds: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    require(maxGapSeconds.forall(_ > 0), "conversion window must be positive")
    maxGapSeconds.foreach { _ =>
      require(events.schema(tsCol).dataType ==
        org.apache.spark.sql.types.TimestampType,
        "conversion windows need a TIMESTAMP time column (unix_micros math)")
    }
    val ev = events.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      col(tsCol).as("__ts"))

    // frontier_i: (user, earliest completion ts of prefix 1..i)
    var frontier = ev.filter(col("__t") === stages.head)
      .groupBy("__u").agg(min(col("__ts")).as("__ft"))
    var perStage = Vector(frontier)
    stages.drop(1).foreach { st =>
      val inWindow = maxGapSeconds match {
        case Some(gap) =>
          col("__ts") >= col("__ft") &&
            unix_micros(col("__ts")) - unix_micros(col("__ft")) <= gap * 1000000L
        case None => col("__ts") >= col("__ft")
      }
      frontier = ev.filter(col("__t") === st)
        .join(frontier, "__u")
        .filter(inWindow)
        .groupBy("__u").agg(min(col("__ts")).as("__ft"))
      perStage :+= frontier
    }
    val counts = perStage.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage_idx"), lit(stages(i)).as("stage"),
          col("n_users"))
    }.reduce(_.union(_))
    val base = counts.filter(col("stage_idx") === 1)
      .select(col("n_users").as("__base"))
    // Zero-base guard: if no event matches stages.head every stage count is
    // 0 and the integer division would raise DIVIDE_BY_ZERO under ANSI mode
    // (the repo default) — report conv_permille = 0 instead, matching the
    // Outliers degenerate-class convention.
    counts.crossJoin(broadcast(base))
      .withColumn("conv_permille",
        when(col("__base") === 0, lit(0L))
          .otherwise(expr("(1000L * n_users) div __base")))
      .drop("__base")
  }

  /** The per-user frontier timestamps behind [[conversion]] — (user,
    * stage_idx, stage, frontier_ts), one row per user per REACHED stage
    * (same min-ts in-order semantics, same per-user join chain). This is
    * the frame latency analytics start from: stage i's row joined to
    * stage i+1's on the user is the user's transition time.
    */
  def frontierTimes(events: DataFrame, userCol: String, typeCol: String,
                    tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val ev = events.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      col(tsCol).as("__ts"))
    var frontier = ev.filter(col("__t") === stages.head)
      .groupBy("__u").agg(min(col("__ts")).as("__ft"))
    var perStage = Vector(frontier)
    stages.drop(1).foreach { st =>
      frontier = ev.filter(col("__t") === st)
        .join(frontier, "__u")
        .filter(col("__ts") >= col("__ft"))
        .groupBy("__u").agg(min(col("__ts")).as("__ft"))
      perStage :+= frontier
    }
    perStage.zipWithIndex.map { case (f, i) =>
      f.select(col("__u").as("user"), lit(i + 1L).as("stage_idx"),
        lit(stages(i)).as("stage"), col("__ft").as("frontier_ts"))
    }.reduce(_.union(_))
  }
}
