package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dsl._
import OracleSql._

/** Round-6 event-analytics + training-order additions: ordered funnel
  * conversion (O41), event transition matrix (O42), distribution-drift
  * audit (O43), and curriculum stride-interleaving (O44). Integer-exact
  * permille arithmetic throughout.
  */
object AnalyticsQueries {

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- O41: ordered funnel ----------------------------------------------
    // view → click → purchase with in-order min-ts frontier semantics;
    // every join keyed on user_id (co-partitioned chain).
    DeclaredQuery("funnel_view_click_purchase",
      (s, dir) => graft.relational.Funnel
        .conversion(events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx")),
      Some(s"""WITH f1 AS (SELECT user_id, MIN(ts) AS t FROM events
                 WHERE event_type = 'view' GROUP BY 1),
        f2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
               JOIN f1 ON e.user_id = f1.user_id
               WHERE e.event_type = 'click' AND e.ts >= f1.t GROUP BY 1),
        f3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
               JOIN f2 ON e.user_id = f2.user_id
               WHERE e.event_type = 'purchase' AND e.ts >= f2.t GROUP BY 1),
        $funnelReport""")),

    // O41 with conversion windows: each transition must land within 2 h of
    // the previous frontier (earliest-in-window becomes the next anchor).
    DeclaredQuery("funnel_windowed_2h",
      (s, dir) => graft.relational.Funnel
        .conversion(events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), maxGapSeconds = Some(7200L))
        .orderBy(col("stage_idx")),
      Some(s"""WITH f1 AS (SELECT user_id, MIN(ts) AS t FROM events
                 WHERE event_type = 'view' GROUP BY 1),
        f2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
               JOIN f1 ON e.user_id = f1.user_id
               WHERE e.event_type = 'click' AND e.ts >= f1.t
                 AND e.ts <= f1.t + INTERVAL 2 HOUR GROUP BY 1),
        f3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
               JOIN f2 ON e.user_id = f2.user_id
               WHERE e.event_type = 'purchase' AND e.ts >= f2.t
                 AND e.ts <= f2.t + INTERVAL 2 HOUR GROUP BY 1),
        $funnelReport""")),

    // ---- O42: event transition matrix -------------------------------------
    // Per-user next-event pairs (deterministic (ts, event_id) order), row
    // shares in exact permille; totals broadcast (no per-row window).
    DeclaredQuery("event_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val pairs = events(s, dir)
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy("from_type").agg(sum("n").as("__rt"))
        pairs.join(broadcast(totals), "from_type")
          .withColumn("row_permille", expr("(1000L * n) div __rt"))
          .select(col("from_type"), col("to_type"), col("n"), col("row_permille"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH p AS (
          SELECT event_type AS from_type,
                 LEAD(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        g AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
              WHERE to_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT from_type, SUM(n) AS rt FROM g GROUP BY 1)
        SELECT g.from_type, g.to_type, g.n,
          CAST((1000 * g.n) // t.rt AS BIGINT) AS row_permille
        FROM g JOIN t USING (from_type)
        ORDER BY g.from_type, g.to_type""")),

    // ---- O84: Bradley–Terry preference strengths ---------------------------
    // The pairwise-preference fit behind reward-model data: the SAME
    // per-user transition pairs as O42 read as revealed preference (the
    // later event's type beats the earlier — progression as choice), fitted
    // with 4 Zermelo fixed-point rounds in exact BigInt micro units over
    // the 5×5 wins matrix (bounded-model collect; the heavy pair count is
    // distributed). The oracle replays all 4 rounds as chained CTEs —
    // truncating division makes every round engine-identical.
    DeclaredQuery("bt_preference_strength",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val pairs = events(s, dir)
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull && col("nxt") =!= col("event_type"))
          .select(col("nxt").as("winner"), col("event_type").as("loser"))
        graft.relational.BradleyTerry.strengths(pairs, "winner", "loser",
          rounds = 4, maxItems = 64)
      },
      Some {
        val roundCtes = (1 to 4).map { r =>
          val prev = s"p${r - 1}"
          s"""den$r AS (SELECT n.i,
                 CAST(SUM((1000000 * n.n) // (pi.p + pj.p)) AS HUGEINT) AS den
               FROM n JOIN $prev pi ON pi.i = n.i JOIN $prev pj ON pj.i = n.j
               GROUP BY 1),
          raw$r AS (SELECT ww.i,
                 CASE WHEN d.den > 0 THEN (1000000 * ww.wins) // d.den
                      ELSE CAST(0 AS HUGEINT) END AS rw
               FROM ww JOIN den$r d ON d.i = ww.i),
          mx$r AS (SELECT MAX(rw) AS m FROM raw$r),
          p$r AS (SELECT i, (1000000 * rw) // m AS p FROM raw$r CROSS JOIN mx$r)"""
        }.mkString(",\n        ")
        s"""WITH s AS (SELECT user_id, event_type AS t,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS nxt
             FROM events),
        w AS (SELECT nxt AS i, t AS j, CAST(COUNT(*) AS HUGEINT) AS w
              FROM s WHERE nxt IS NOT NULL AND nxt <> t GROUP BY 1, 2),
        dd AS (SELECT i, j, CAST(SUM(w) AS HUGEINT) AS w FROM (
                 SELECT i, j, w FROM w
                 UNION ALL SELECT j AS i, i AS j, CAST(0 AS HUGEINT) AS w FROM w)
               GROUP BY 1, 2),
        n AS (SELECT a.i, a.j, a.w + b.w AS n
              FROM dd a JOIN dd b ON b.i = a.j AND b.j = a.i),
        ww AS (SELECT i, CAST(SUM(w) AS HUGEINT) AS wins FROM dd GROUP BY 1),
        cm AS (SELECT i, CAST(SUM(n) AS HUGEINT) AS cmp FROM n GROUP BY 1),
        p0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS p FROM ww),
        $roundCtes
        SELECT ww.i AS item, CAST(ww.wins AS BIGINT) AS wins,
          CAST(cm.cmp AS BIGINT) AS comparisons,
          CAST(p4.p AS BIGINT) AS strength_micro
        FROM ww JOIN cm ON cm.i = ww.i JOIN p4 ON p4.i = ww.i
        ORDER BY strength_micro DESC, item"""
      }),

    // ---- O85: Spearman signal-agreement audit ------------------------------
    // Do two curation signals ORDER the corpus the same way? Rank correlation
    // between char length and whitespace token count per document — the
    // doubled tie-averaged ranks and all five S-sums are exact integers
    // (DECIMAL(38,0)); ρ is ONE double expression with identical
    // parenthesization in the oracle. Token count = #spaces + 1 on both
    // sides (Spark split(' ') keeps empty fields), so the signal itself is
    // engine-identical.
    DeclaredQuery("signal_rank_correlation",
      (s, dir) => {
        val d = tbl(s, dir, "documents").select(
          col("n_chars").cast("long").as("x"),
          size(split(col("text"), " ")).cast("long").as("y"))
        graft.relational.Correlation.spearman(d, "x", "y")
      },
      Some(s"""WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                 AS BIGINT) AS y
             FROM documents),
        $spearmanRho""")),

    // ---- O87: A-Priori frequent pairs --------------------------------------
    // Co-purchase mining on lineitem baskets: the frequent-item cut runs
    // before the basket self-join, lift in exact permille via
    // DECIMAL(38,0) integral division (the 2⁶³ overflow class).
    DeclaredQuery("copurchase_frequent_pairs",
      (s, dir) => graft.relational.FrequentPairs.mine(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minItemSupport = 5L, minPairSupport = 3L)
        .orderBy(desc("support"), col("item_a"), col("item_b")),
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
        ic AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS c FROM b
               GROUP BY 1 HAVING COUNT(*) >= 5),
        f AS (SELECT b.bk, b.it FROM b JOIN ic ON ic.it = b.it),
        p AS (SELECT l.it AS item_a, r.it AS item_b,
                CAST(COUNT(*) AS BIGINT) AS support
              FROM f l JOIN f r ON l.bk = r.bk AND l.it < r.it
              GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n FROM b)
        SELECT p.item_a, p.item_b, p.support,
          CAST((CAST(1000 AS HUGEINT) * p.support * nb.n) //
            (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_permille
        FROM p JOIN ic ca ON ca.it = p.item_a
               JOIN ic cb ON cb.it = p.item_b
               CROSS JOIN nb
        ORDER BY p.support DESC, p.item_a, p.item_b""")),

    // ---- O91: CUSUM changepoint alarm -------------------------------------
    // Page's one-sided CUSUM over per-type daily counts via the closed
    // form S = P − min(0, running-min P) — two per-key windows, no
    // recurrence (see Changepoint scaladoc). Integer allowance/threshold.
    DeclaredQuery("cusum_event_drift",
      (s, dir) => graft.relational.Changepoint
        .cusumDaily(events(s, dir), "event_type", "ts")
        .orderBy(col("event_type"), col("day")),
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1, 2),
        st AS (SELECT event_type,
                 CAST(SUM(n_events) AS BIGINT) // COUNT(*) AS k
               FROM daily GROUP BY 1),
        p AS (SELECT d.event_type, d.day, d.n_events, st.k,
                CAST(SUM(d.n_events - st.k) OVER (PARTITION BY d.event_type
                  ORDER BY d.day) AS BIGINT) AS pp
              FROM daily d JOIN st USING (event_type)),
        c AS (SELECT event_type, day, n_events, k,
                pp - least(CAST(MIN(pp) OVER (PARTITION BY event_type
                  ORDER BY day) AS BIGINT), 0) AS cusum
              FROM p)
        SELECT event_type, day, n_events, k, cusum,
          cusum > 4 * k AS alarm
        FROM c ORDER BY event_type, day""")),

    // ---- O92: half-life decayed engagement --------------------------------
    // Power-of-two decay: one bit per elapsed half-life (7 days), exact
    // cents, shift clamped at 62 (see Decay scaladoc).
    DeclaredQuery("halflife_engagement",
      (s, dir) => graft.relational.Decay
        .halfLifeScores(events(s, dir), "user_id", "ts", "value", 7)
        .orderBy(desc("decayed_cents"), col("user_id")),
      Some("""WITH b AS (SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
             FROM events),
        mx AS (SELECT MAX(d) AS mxd FROM b),
        k AS (SELECT user_id, cents,
                least(date_diff('day', d, mxd) // 7, 62) AS kk
              FROM b CROSS JOIN mx)
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(cents) AS BIGINT) AS raw_cents,
          CAST(SUM(cents // (CAST(1 AS BIGINT) << kk)) AS BIGINT)
            AS decayed_cents
        FROM k GROUP BY 1
        ORDER BY decayed_cents DESC, user_id""")),

    // ---- O97: temporal split leakage audit ---------------------------------
    // Split events at a time cutoff for train/val: users with activity on
    // BOTH sides are the leakage surface (their future conditions their
    // past in training). One grouped conditional agg, cohort rollup,
    // 1-row total broadcast.
    DeclaredQuery("temporal_split_audit",
      (s, dir) => {
        val cut = lit("2024-01-16").cast("timestamp")
        // high-value interactions only: the split whose leakage matters,
        // and the one sparse enough that all three cohorts exist
        val per = events(s, dir).filter(col("value") > 200)
          .groupBy(col("user_id"))
          .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("nb"),
            sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("na"))
        val g = per
          .withColumn("cohort",
            when(col("na") === 0, "train_only")
              .when(col("nb") === 0, "val_only")
              .otherwise("straddle"))
          .groupBy(col("cohort"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("nb") + col("na")).as("n_events"))
        val t = g.agg(sum(col("n_users")).as("__tu"))
        g.crossJoin(broadcast(t))
          .select(col("cohort"), col("n_users"), col("n_events"),
            expr("(1000L * n_users) div __tu").as("users_permille"))
          .orderBy(col("cohort"))
      },
      Some("""WITH p AS (SELECT user_id,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                 AS nb,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                 AS na
             FROM events WHERE value > 200 GROUP BY 1),
        c AS (SELECT CASE WHEN na = 0 THEN 'train_only'
                WHEN nb = 0 THEN 'val_only'
                ELSE 'straddle' END AS cohort, nb + na AS ne FROM p),
        g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
                CAST(SUM(ne) AS BIGINT) AS n_events FROM c GROUP BY 1),
        t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS tu FROM g)
        SELECT cohort, n_users, n_events, (1000 * n_users) // tu
          AS users_permille
        FROM g CROSS JOIN t ORDER BY cohort""")),

    // ---- O98: double-fire idempotency audit --------------------------------
    // Same (user, type) emitting an equal value within 5 s = a suspected
    // duplicate delivery (retry without idempotency key). Per-key lag
    // window, exact epoch-µs arithmetic.
    DeclaredQuery("double_fire_audit",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("__pus", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("__pv", lag(col("value"), 1).over(w))
          .withColumn("__dbl",
            col("__pus").isNotNull &&
              unix_micros(col("ts")) - col("__pus") <= 5000000L &&
              col("value") === col("__pv"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("__dbl"), 1L).otherwise(0L)).as("n_double"))
          .withColumn("double_permille",
            expr("(1000L * n_double) div n_events"))
          .orderBy(col("event_type"))
      },
      Some("""WITH x AS (SELECT event_type, value, epoch_us(ts) AS us,
               LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS pus,
               LAG(value, 1) OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS pv
             FROM events)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(CASE WHEN pus IS NOT NULL AND us - pus <= 5000000
            AND value = pv THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
          CAST((1000 * SUM(CASE WHEN pus IS NOT NULL AND us - pus <= 5000000
            AND value = pv THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
            AS double_permille
        FROM x GROUP BY 1 ORDER BY 1""")),

    // ---- O101: Theil–Sen robust daily trend --------------------------------
    // Median of pairwise slopes per event type — the outlier-immune trend
    // beside OLS (stats_regression) and the CUSUM alarm (see TheilSen
    // scaladoc; lower median at a defined rank, day-span-bounded pairs).
    DeclaredQuery("theilsen_daily_trend",
      (s, dir) => graft.relational.TheilSen
        .dailyTrend(events(s, dir), "event_type", "ts")
        .orderBy(col("event_type")),
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        dx AS (SELECT event_type, y,
                CAST(day - MIN(day) OVER (PARTITION BY event_type)
                  AS BIGINT) AS x
              FROM daily),
        sl AS (SELECT a.event_type,
                (1000000 * (b.y - a.y)) // (b.x - a.x) AS s,
                a.x AS x1, b.x AS x2
              FROM dx a JOIN dx b ON a.event_type = b.event_type
                AND a.x < b.x),
        r AS (SELECT event_type, s,
                ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY s, x1, x2) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS m
              FROM sl),
        nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1)
        SELECT r.event_type, nd.n_days, CAST(r.m AS BIGINT) AS n_pairs,
          CAST(r.s AS BIGINT) AS median_slope_micro_per_day
        FROM r JOIN nd USING (event_type) WHERE rn = (m + 1) // 2
        ORDER BY r.event_type""")),

    // ---- O170: Mann–Kendall trend test --------------------------------------
    // Theil–Sen's significance companion on the SAME landed daily stage
    // (materialize memo — one write, two readers): S = Σ sign pairs,
    // tie-corrected 18·Var(S), verdict sqrt-free by squaring against the
    // frozen z² literal (see MannKendall scaladoc). The fixture's flat
    // generator must read not-significant on every type — the honest
    // null; the firing path is spec-exercised on a monotone series.
    DeclaredQuery("mann_kendall_trend",
      (s, dir) => graft.relational.MannKendall
        .dailyTrend(events(s, dir), "event_type", "ts")
        .orderBy(col("event_type")),
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        dx AS (SELECT event_type, y,
                CAST(day - MIN(day) OVER (PARTITION BY event_type)
                  AS BIGINT) AS x
              FROM daily),
        s AS (SELECT a.event_type,
                CAST(SUM(CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
              FROM dx a JOIN dx b ON a.event_type = b.event_type
                AND a.x < b.x
              GROUP BY 1),
        tc AS (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
               FROM daily GROUP BY 1, 2),
        ti AS (SELECT event_type,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
               FROM tc GROUP BY 1),
        nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1),
        j AS (SELECT s.event_type, nd.n_days, s.s_stat,
                nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ti.tie
                  AS var_num_18
              FROM s JOIN ti USING (event_type) JOIN nd USING (event_type))
        SELECT event_type, n_days, s_stat, var_num_18,
          CASE WHEN s_stat > 0 THEN 'up' WHEN s_stat < 0 THEN 'down'
            ELSE 'flat' END AS trend,
          var_num_18 > 0 AND
            CAST(18 AS HUGEINT) * 1000000 * s_stat * s_stat >=
            3841459 * CAST(var_num_18 AS HUGEINT) AS significant
        FROM j ORDER BY event_type""")),

    // ---- O175: top-k head-churn audit ---------------------------------------
    // Did the IDENTITY of the top-k change between halves — the head
    // monitor mass-share drift (O43) can't see. Top-20 users by events,
    // sort-limit per half (TakeOrdered — never a window over the key
    // universe), Jaccard + rank displacement. Fixture honesty: the flat
    // generator gives every user ≈ the same rate, so the top-20 is
    // noise-dominated and Jaccard reads LOW (52‰, 2 common) — the
    // correct null for a skewless distribution; a production power-law
    // head shows the opposite, and the spec locks the stable-head path
    // on constructed skew.
    DeclaredQuery("topk_churn_audit",
      (s, dir) => graft.relational.Drift.topkChurn(
        events(s, dir), "user_id", "ts", k = 20),
      Some("""WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
                FROM events),
        c AS (SELECT epoch_us(ts) < (SELECT mid FROM b) AS h1, user_id AS k,
                CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
        t1 AS (SELECT k, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, k) AS BIGINT)
                 AS r1
               FROM c WHERE h1 QUALIFY r1 <= 20),
        t2 AS (SELECT k, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, k) AS BIGINT)
                 AS r2
               FROM c WHERE NOT h1 QUALIFY r2 <= 20),
        j AS (SELECT r1, r2 FROM t1 FULL OUTER JOIN t2 ON t1.k = t2.k)
        SELECT CAST(20 AS BIGINT) AS k,
          CAST(SUM(CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_h1,
          CAST(SUM(CASE WHEN r2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_h2,
          CAST(SUM(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL THEN 1 ELSE 0
            END) AS BIGINT) AS n_common,
          CAST((1000 * SUM(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL THEN 1
            ELSE 0 END)) // COUNT(*) AS BIGINT) AS jaccard_permille,
          CAST(SUM(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
            THEN ABS(r1 - r2) ELSE 0 END) AS BIGINT) AS rank_shift_sum
        FROM j""")),

    // ---- O43: distribution-drift audit ------------------------------------
    // Event-mix shares in the two time halves; integer permille deltas, no
    // logarithms (see Drift scaladoc).
    DeclaredQuery("drift_event_mix",
      (s, dir) => graft.relational.Drift
        .tvByCategory(events(s, dir), "event_type", "ts")
        .orderBy(col("category")),
      Some("""WITH b AS (SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
                FROM events),
        h AS (SELECT event_type, epoch_us(ts) < (SELECT mid FROM b) AS h1
              FROM events),
        pc AS (SELECT event_type AS category,
                 CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
                 CAST(SUM(CASE WHEN NOT h1 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
               FROM h GROUP BY 1),
        t AS (SELECT SUM(n_first) AS t1, SUM(n_second) AS t2 FROM pc)
        SELECT category, n_first, n_second,
          CAST((1000 * n_first) // t1 AS BIGINT) AS p1_permille,
          CAST((1000 * n_second) // t2 AS BIGINT) AS p2_permille,
          CAST(abs((1000 * n_first) // t1 - (1000 * n_second) // t2) AS BIGINT)
            AS delta_permille
        FROM pc, t ORDER BY category""")),

    // ---- O47: incremental aggregate maintenance ---------------------------
    // The production "don't rescan history" shape: a landed base aggregate
    // (events before the cutoff) merged with a DELTA-ONLY aggregation via
    // one answer-sized full-outer merge — at 100 TB only the delta
    // shuffles. The matches_full column re-derives the same totals from a
    // full recompute and asserts equality inside the result, so the gate
    // hashes the maintenance invariant itself.
    DeclaredQuery("incremental_agg_merge",
      (s, dir) => {
        val evs = events(s, dir)
        val bounds = evs.agg(
          min(unix_micros(col("ts"))).as("__mn"),
          max(unix_micros(col("ts"))).as("__mx"))
          .select(expr("(__mn + __mx) div 2").as("__mid"))
        val halved = evs.crossJoin(broadcast(bounds))
          .withColumn("__is_base", unix_micros(col("ts")) < col("__mid"))
        def aggOf(df: org.apache.spark.sql.DataFrame, n: String, c: String) = df
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as(n), sum(dec2(col("value"))).as(c))
        val base = aggOf(halved.filter(col("__is_base")), "n_base", "v_base")
        val delta = aggOf(halved.filter(!col("__is_base")), "n_delta", "v_delta")
        val merged = base.join(delta, Seq("event_type"), "full_outer")
          .select(col("event_type"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
              .as("n_merged"),
            (coalesce(col("v_base"), lit(0).cast("decimal(22,2)")) +
              coalesce(col("v_delta"), lit(0).cast("decimal(22,2)")))
              .cast("double").as("value_merged"))
        val full = evs.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_full"),
            sum(dec2(col("value"))).cast("double").as("v_full"))
        merged.join(full, Seq("event_type"))
          .withColumn("matches_full",
            col("n_merged") === col("n_full") &&
              col("value_merged") === col("v_full"))
          .select(col("event_type"), col("n_base"), col("n_delta"),
            col("n_merged"), col("value_merged"), col("matches_full"))
          .orderBy(col("event_type"))
      },
      Some("""WITH b AS (SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
                FROM events),
        base AS (SELECT event_type, COUNT(*) AS n_base,
                   SUM(CAST(value AS DECIMAL(12,2))) AS v_base
                 FROM events WHERE epoch_us(ts) < (SELECT mid FROM b) GROUP BY 1),
        delta AS (SELECT event_type, COUNT(*) AS n_delta,
                    SUM(CAST(value AS DECIMAL(12,2))) AS v_delta
                  FROM events WHERE epoch_us(ts) >= (SELECT mid FROM b) GROUP BY 1),
        merged AS (SELECT event_type,
                     COALESCE(n_base, 0) AS n_base, COALESCE(n_delta, 0) AS n_delta,
                     COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_merged,
                     CAST(COALESCE(v_base, 0) + COALESCE(v_delta, 0) AS DOUBLE)
                       AS value_merged
                   FROM base FULL OUTER JOIN delta USING (event_type)),
        f AS (SELECT event_type, COUNT(*) AS n_full,
                CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v_full
              FROM events GROUP BY 1)
        SELECT m.event_type, m.n_base, m.n_delta, m.n_merged, m.value_merged,
          m.n_merged = f.n_full AND m.value_merged = f.v_full AS matches_full
        FROM merged m JOIN f USING (event_type)
        ORDER BY m.event_type""")),

    // ---- O44: curriculum stride interleave --------------------------------
    // Quality-first within source, source-balanced globally; first 100
    // positions of the deterministic training order.
    DeclaredQuery("curriculum_interleave",
      (s, dir) => graft.text.Curriculum
        .strideInterleave(tbl(s, dir, "documents"), "doc_id", "source",
          col("n_chars"))
        .select(col("doc_id"), col("source"), col("rank_in_source"),
          col("global_pos"))
        .filter(col("global_pos") < 100)
        .orderBy(col("global_pos")),
      Some("""WITH s AS (SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1
                 AS src_idx
               FROM (SELECT DISTINCT source FROM documents)),
        ns AS (SELECT COUNT(*) AS n FROM s),
        r AS (SELECT doc_id, source,
                ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS rk
              FROM documents)
        SELECT r.doc_id, r.source, CAST(rk AS BIGINT) AS rank_in_source,
          CAST((rk - 1) * (SELECT n FROM ns) + s.src_idx AS BIGINT) AS global_pos
        FROM r JOIN s USING (source)
        WHERE (rk - 1) * (SELECT n FROM ns) + s.src_idx < 100
        ORDER BY global_pos""")),

    // ---- O103: interval-union activity coverage ----------------------------
    // Sweep-line union of 30-minute activity halos per user (see
    // IntervalUnion scaladoc — window-expressible merge, per-key only).
    DeclaredQuery("user_active_coverage",
      (s, dir) => graft.relational.IntervalUnion
        .coverage(events(s, dir), "user_id", "ts", 1800L)
        .orderBy(col("user_id")),
      Some("""WITH base AS (SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e FROM events),
        sg AS (SELECT user_id, s, e,
                MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
              FROM base),
        sg2 AS (SELECT user_id, s, e,
                 SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
               FROM sg),
        gs AS (SELECT user_id, seg, COUNT(*) AS n, MIN(s) AS a, MAX(e) AS b
               FROM sg2 GROUP BY 1, 2)
        SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
          CAST(COUNT(*) AS BIGINT) AS n_segments,
          CAST(SUM(b - a) AS BIGINT) AS covered_sec,
          CAST(MAX(b) - MIN(a) AS BIGINT) AS span_sec,
          CAST((1000 * SUM(b - a)) // (MAX(b) - MIN(a)) AS BIGINT)
            AS covered_permille
        FROM gs GROUP BY 1 ORDER BY user_id""")),

    // ---- O104: inter-arrival burstiness ------------------------------------
    // Squared coefficient of variation of per-type inter-arrival gaps in
    // permille — CV² = 1000‰ is a Poisson process, higher is bursty
    // (the point-process reading of burstiness, vs term_burstiness's
    // Church–Gale document clumping). Exact: gaps in epoch-µs, squared
    // sums in DECIMAL(38,0) / HUGEINT — bounds documented: with gap ≤
    // span ≤ ~3e14 µs (a decade) and n ≤ 1e9 gaps per type, n·Σg² ≤
    // ~1e35 < 10³⁸. One per-key lag window + one map-side-combined agg.
    DeclaredQuery("interarrival_burstiness",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("__g", unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("__g").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("__g").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
              .as("__sg"),
            sum((col("__g").cast(org.apache.spark.sql.types.DecimalType(38, 0))
              * col("__g")).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
              .as("__ss"))
          .select(col("event_type"), col("n_gaps"),
            expr("CAST(__sg div n_gaps AS BIGINT)").as("mean_gap_us"),
            expr("CAST(((n_gaps * __ss - __sg * __sg) * 1000) div (__sg * __sg) AS BIGINT)")
              .as("cv2_permille"))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (SELECT event_type,
               CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id)
                 AS HUGEINT) AS gap
             FROM events)
        SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
          CAST(SUM(gap) // COUNT(gap) AS BIGINT) AS mean_gap_us,
          CAST(((COUNT(gap) * SUM(gap * gap) - SUM(gap) * SUM(gap)) * 1000)
            // (SUM(gap) * SUM(gap)) AS BIGINT) AS cv2_permille
        FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""")),

    // ---- O105: Kaplan–Meier retention curve --------------------------------
    // Product-limit customer survival over order lifetimes, 90-day
    // censoring horizon (see Survival scaladoc — truncating permille
    // recurrence, day-table bounded collect, oracle replays the same
    // recurrence as a RECURSIVE CTE).
    DeclaredQuery("km_retention_curve",
      (s, dir) => graft.relational.Survival
        .retention(s, tbl(s, dir, "orders"), "o_custkey", "o_orderdate",
          horizonDays = 90, maxDays = 4096)
        .orderBy(col("day")),
      Some("""WITH RECURSIVE per AS (
          SELECT o_custkey, MIN(o_orderdate) AS a, MAX(o_orderdate) AS b
          FROM orders GROUP BY 1),
        mx AS (SELECT MAX(b) AS m FROM per),
        life AS (SELECT CAST(CAST(b AS DATE) - CAST(a AS DATE) AS BIGINT) AS d,
            CASE WHEN b > m - INTERVAL 90 DAY THEN 0 ELSE 1 END AS death
          FROM per, mx),
        days AS (SELECT d, CAST(SUM(death) AS BIGINT) AS deaths,
            CAST(COUNT(*) AS BIGINT) AS ended
          FROM life GROUP BY 1),
        o AS (SELECT d, deaths, ended,
            ROW_NUMBER() OVER (ORDER BY d) AS rn,
            (SELECT COUNT(*) FROM life) - COALESCE(SUM(ended) OVER (
              ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS at_risk
          FROM days),
        km AS (
          SELECT CAST(0 AS BIGINT) AS rn, CAST(1000 AS BIGINT) AS s
          UNION ALL
          SELECT o.rn, CASE WHEN o.deaths > 0
              THEN (km.s * (o.at_risk - o.deaths)) // o.at_risk
              ELSE km.s END
          FROM km JOIN o ON o.rn = km.rn + 1)
        SELECT o.d AS day, CAST(o.at_risk AS BIGINT) AS at_risk, o.deaths,
          km.s AS survival_permille
        FROM km JOIN o USING (rn) WHERE o.deaths > 0 ORDER BY day""")),

    // ---- O106: Fellegi–Sunter record-linkage scores ------------------------
    // Probabilistic match weights over (nation, segment)-blocked customer
    // pairs, compared on balance band / order-count band / first-order
    // year (see Linkage scaladoc — exact rational likelihood ratio,
    // data-estimated u, hot-block refusal). Top 20 by evidence.
    DeclaredQuery("fs_linkage_scores",
      (s, dir) => {
        val ord = tbl(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            min(year(col("o_orderdate"))).cast("long").as("first_year"))
        val rec = tbl(s, dir, "customer")
          .join(ord, col("c_custkey") === col("o_custkey"))
          .select(col("c_custkey").as("rid"), col("c_nationkey"),
            col("c_mktsegment"),
            expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) div 100000")
              .as("bal_band"),
            expr("n_orders div 5").as("ord_band"), col("first_year"))
        graft.relational.Linkage
          .scorePairs(rec, "rid", Seq("c_nationkey", "c_mktsegment"),
            Seq("bal_band", "ord_band", "first_year"))
          .orderBy(col("ratio_permille").desc, col("id_a"), col("id_b"))
          .limit(20)
      },
      Some("""WITH ord AS (SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS fy
             FROM orders GROUP BY 1),
        rec AS (SELECT c_custkey AS rid, c_nationkey, c_mktsegment,
            CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000
              AS bal_band,
            n_orders // 5 AS ord_band, fy AS first_year
          FROM customer JOIN ord ON c_custkey = o_custkey),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rec),
        u1 AS (SELECT LEAST(999, GREATEST(1, (1000 * SUM(c * c)) // (n * n)))
                 AS u
               FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM rec
                     GROUP BY bal_band), nn GROUP BY n),
        u2 AS (SELECT LEAST(999, GREATEST(1, (1000 * SUM(c * c)) // (n * n)))
                 AS u
               FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM rec
                     GROUP BY ord_band), nn GROUP BY n),
        u3 AS (SELECT LEAST(999, GREATEST(1, (1000 * SUM(c * c)) // (n * n)))
                 AS u
               FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM rec
                     GROUP BY first_year), nn GROUP BY n),
        pairs AS (SELECT a.rid AS id_a, b.rid AS id_b,
            CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS g1,
            CASE WHEN a.ord_band = b.ord_band THEN 1 ELSE 0 END AS g2,
            CASE WHEN a.first_year = b.first_year THEN 1 ELSE 0 END AS g3
          FROM rec a JOIN rec b
            ON a.c_nationkey = b.c_nationkey
            AND a.c_mktsegment = b.c_mktsegment AND a.rid < b.rid),
        scored AS (SELECT id_a, id_b,
            CAST(g1 AS BIGINT) AS agree_bal_band,
            CAST(g2 AS BIGINT) AS agree_ord_band,
            CAST(g3 AS BIGINT) AS agree_first_year,
            CAST((CASE WHEN g1 = 1 THEN 950 ELSE 50 END)
              * (CASE WHEN g2 = 1 THEN 950 ELSE 50 END)
              * (CASE WHEN g3 = 1 THEN 950 ELSE 50 END) AS BIGINT)
              AS score_num,
            CAST((CASE WHEN g1 = 1 THEN (SELECT u FROM u1)
                ELSE 1000 - (SELECT u FROM u1) END)
              * (CASE WHEN g2 = 1 THEN (SELECT u FROM u2)
                ELSE 1000 - (SELECT u FROM u2) END)
              * (CASE WHEN g3 = 1 THEN (SELECT u FROM u3)
                ELSE 1000 - (SELECT u FROM u3) END) AS BIGINT) AS score_den
          FROM pairs)
        SELECT id_a, id_b, agree_bal_band, agree_ord_band, agree_first_year,
          score_num, score_den,
          CAST((1000 * score_num) // score_den AS BIGINT) AS ratio_permille
        FROM scored
        ORDER BY ratio_permille DESC, id_a, id_b LIMIT 20""")),

    // ---- O122: lead–lag cross-correlation ----------------------------------
    // Does click LEAD purchase, and by how many days — the funnel-latency
    // question asked of the whole daily series (dailyAcf's cross-series
    // sibling). One conditional day aggregation, row-local ±7-lag explode,
    // equi-join, DECIMAL(38,0) S-sums, shared IEEE ρ; positive lag peaking
    // = click leads.
    DeclaredQuery("leadlag_click_purchase",
      (s, dir) => graft.relational.Autocorr.dailyXcf(
        events(s, dir), "ts", "event_type", "click", "purchase", maxLag = 7),
      Some(s"""WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                 event_type AS t
               FROM events WHERE event_type IN ('click', 'purchase')),
        c AS (SELECT day,
                CAST(SUM(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                CAST(SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
              FROM d GROUP BY 1),
        lg AS (SELECT l.i AS lag, cc.day + l.i AS dk, cc.a AS x
               FROM c cc CROSS JOIN range(-7, 8) l(i)),
        p AS (SELECT lag, x, b2.b AS y FROM lg JOIN c b2 ON b2.day = lg.dk),
        $lagCorrelation AS xcf
        FROM s ORDER BY lag""")),

    // ---- O123: Kendall τ-b signal agreement --------------------------------
    // The third correlation: Pearson asks "linear", Spearman "same order",
    // Kendall "what FRACTION of pairs agree" — on the same signal pair the
    // Spearman row audits (16-char length buckets vs token count), so the
    // two statistics are directly comparable. One joint cell count reaches
    // the driver (bounded probe); τ is the one shared IEEE expression.
    DeclaredQuery("signal_kendall_tau",
      (s, dir) => {
        val d = tbl(s, dir, "documents").select(
          expr("CAST(n_chars AS BIGINT) div 16").as("x"),
          size(split(col("text"), " ")).cast("long").as("y"))
        graft.relational.Correlation.kendallTau(d, "x", "y")
      },
      Some("""WITH d AS (SELECT CAST(n_chars AS BIGINT) // 16 AS x,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS y
               FROM documents),
        cells AS MATERIALIZED (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
               FROM d GROUP BY 1, 2),
        pc AS (SELECT
            CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                 OR (a.x > b.x AND a.y > b.y) THEN a.c * b.c ELSE 0 END)
              AS HUGEINT) // 2 AS conc,
            CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                 OR (a.x > b.x AND a.y < b.y) THEN a.c * b.c ELSE 0 END)
              AS HUGEINT) // 2 AS disc
          FROM cells a CROSS JOIN cells b),
        nn AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM cells),
        tx AS (SELECT CAST(SUM(cx * (cx - 1) // 2) AS HUGEINT) AS n1
               FROM (SELECT CAST(SUM(c) AS HUGEINT) AS cx
                     FROM cells GROUP BY x) t),
        ty AS (SELECT CAST(SUM(cy * (cy - 1) // 2) AS HUGEINT) AS n2
               FROM (SELECT CAST(SUM(c) AS HUGEINT) AS cy
                     FROM cells GROUP BY y) t)
        SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS concordant,
          CAST(disc AS BIGINT) AS discordant,
          CAST(conc - disc AS DOUBLE) /
            (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE)) *
              sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE))) AS kendall_tau_b
        FROM pc CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty""")),

    // ---- O125: stationary mix of the event chain ---------------------------
    // The ergodic companion to markov_attribution: π = πP of the
    // consecutive-event chain vs the marginal mix observed — disagreement
    // means the transition structure pushes toward a different regime
    // than today's snapshot (a LEADING drift signal where drift_event_mix
    // trails). Same passes as event_transition_matrix; 12 BigInt micro
    // rounds on the bounded matrix, oracle-replayed as chained CTEs.
    DeclaredQuery("transition_stationary_mix",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ev = events(s, dir)
        val trans = ev
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val marginal = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        graft.relational.MarkovChain.stationaryMix(trans, marginal,
          rounds = 12)
      },
      Some(stationaryOracle(rounds = 12))),

    // ---- O126: DSIR effective sample size ----------------------------------
    // Is the importance-weighted pool actually diverse, or do a few huge
    // weights own it? Kish ESS = (Σw)²/Σw² over the DSIR scores — the
    // standard health check before sampling by importance (ESS ≈ n means
    // weights are flat; ESS ≪ n means the resample collapses onto a few
    // docs). One aggregate over the existing score pass.
    DeclaredQuery("dsir_ess_audit",
      (s, dir) => {
        val scores = graft.text.Importance.importanceScores(
          tbl(s, dir, "documents"), "doc_id", "text",
          isTarget = col("source") === "src0", buckets = 1024)
          .filter(!col("is_target"))
        scores.agg(
          count(lit(1)).as("n_docs"),
          sum(col("score").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("__sw"),
          sum((col("score") * col("score"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("__sww"))
          .select(col("n_docs"),
            expr("(__sw * __sw) div __sww").as("ess_docs"),
            expr("(1000L * __sw * __sw) div (n_docs * __sww)")
              .as("ess_permille"))
      },
      Some("""WITH w AS (
          SELECT doc_id, source, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        bg AS (
          SELECT a.doc_id, a.source = 'src0' AS t,
                 CAST(('0x' || substring(md5(a.word || ' ' || b.word), 1, 8)) AS BIGINT) % 1024 AS b
          FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        cw AS (
          SELECT b, ((SUM(CASE WHEN t THEN 1 ELSE 0 END) + 1) * 1000000)
                    // (SUM(CASE WHEN t THEN 0 ELSE 1 END) + 1) AS wgt
          FROM bg GROUP BY 1),
        sc AS (
          SELECT bg.doc_id, CAST(SUM(cw.wgt) AS BIGINT) AS score
          FROM bg JOIN cw USING (b) WHERE NOT bg.t GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST((CAST(SUM(score) AS HUGEINT) * SUM(score))
               // SUM(CAST(score AS HUGEINT) * score) AS BIGINT) AS ess_docs,
          CAST((1000 * CAST(SUM(score) AS HUGEINT) * SUM(score))
               // (COUNT(*) * SUM(CAST(score AS HUGEINT) * score)) AS BIGINT)
            AS ess_permille
        FROM sc""")),

    // ---- O128: directional association rules --------------------------------
    // copurchase_frequent_pairs' directional sibling: each frequent pair
    // unfolds into both rules a→b / b→a with confidence beside lift, plus
    // the two set-similarity views of the same counts (cosine² in micro —
    // squared keeps the division integer-exact, no sqrt — and jaccard in
    // permille). Row-local explode on the answer-sized pair frame; zero
    // passes beyond the shared A-Priori pipeline.
    DeclaredQuery("basket_rule_strengths",
      (s, dir) => graft.relational.FrequentPairs.ruleStrengths(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minItemSupport = 5L, minPairSupport = 3L),
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
        ic AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS c FROM b
               GROUP BY 1 HAVING COUNT(*) >= 5),
        f AS (SELECT b.bk, b.it FROM b JOIN ic ON ic.it = b.it),
        p AS (SELECT l.it AS ia, r.it AS ib, CAST(COUNT(*) AS BIGINT) AS support
              FROM f l JOIN f r ON l.bk = r.bk AND l.it < r.it
              GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n FROM b),
        e AS (SELECT p.ia, p.ib, p.support, ca.c AS cca, cb.c AS ccb,
                CAST((CAST(1000 AS HUGEINT) * p.support * nb.n) //
                  (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_permille
              FROM p JOIN ic ca ON ca.it = p.ia
                     JOIN ic cb ON cb.it = p.ib CROSS JOIN nb),
        r2 AS (SELECT ia AS antecedent, ib AS consequent, support,
                 cca AS cant, cca, ccb, lift_permille FROM e
               UNION ALL
               SELECT ib, ia, support, ccb AS cant, cca, ccb, lift_permille
               FROM e)
        SELECT antecedent, consequent, support,
          CAST((1000 * support) // cant AS BIGINT) AS confidence_permille,
          lift_permille,
          CAST((CAST(1000000 AS HUGEINT) * support * support) //
            (CAST(cca AS HUGEINT) * ccb) AS BIGINT) AS cosine2_micro,
          CAST((1000 * support) // (cca + ccb - support) AS BIGINT)
            AS jaccard_permille
        FROM r2 ORDER BY antecedent, consequent""")),

    // ---- O129: RFM segmentation via windowless exact ntile -------------------
    // The classic recency/frequency/monetary quintile grid (Hughes 1994) —
    // and the gate for GlobalRank: exact global ranks with NO
    // single-partition window (two-phase value-cell offsets, the PrefixSum
    // discipline), quintiles from the rank via the closed-form
    // remainder-first ntile both engines share. R=5 most recent, F/M=5
    // top; segment = 100R+10F+M, rolled up to segment counts + spend.
    DeclaredQuery("rfm_segments",
      (s, dir) => {
        val base = tbl(s, dir, "orders")
          .groupBy(col("o_custkey").as("c"))
          .agg(max(to_date(col("o_orderdate"))).as("last_order"),
            count(lit(1)).as("frequency"),
            sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .as("monetary_cents"))
        val mx = base.agg(max(col("last_order")).as("mxd"))
        // ONE landing + ONE multi-column rank model: all three signals'
        // bounds and cell counts come back in two fused jobs
        // (GlobalRank.byValues), and all three rank columns ride a single
        // composed final plan — 4 driver-synchronous jobs cold, 1 warm.
        // The r12 shape (three chained byValue passes with a landing
        // between each) launched ~10 sequential jobs cold and was the one
        // driver-bench row outside the drift band (3.0/7.1 s under driver
        // contention vs 0.7 s quiet — each synchronous launch eats a
        // scheduling/GC pause; SCALE.md "Round-13 notes" has the probes).
        val withRec = graft.relational.Stages.materialize(
          base.crossJoin(broadcast(mx))
            .withColumn("recency_days",
              datediff(col("mxd"), col("last_order")).cast("long"))
            .drop("mxd", "last_order"), "rfm_base")
        import graft.relational.GlobalRank
        val (r3, n) = GlobalRank.byValues(withRec,
          Seq("recency_days", "frequency", "monetary_cents"), "c",
          Seq("__rr", "__rf", "__rm"))
        r3.select(
          ((lit(6L) - GlobalRank.ntileFromRank("__rr", n, 5)) * 100L +
            GlobalRank.ntileFromRank("__rf", n, 5) * 10L +
            GlobalRank.ntileFromRank("__rm", n, 5)).as("segment"),
          col("monetary_cents"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("monetary_cents")).as("total_cents"))
          .orderBy(col("segment"))
      },
      Some("""WITH base AS (SELECT o_custkey AS c,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                 AS BIGINT) AS monetary_cents
             FROM orders GROUP BY 1),
        mx AS (SELECT MAX(last_order) AS mxd FROM base),
        b2 AS (SELECT c, CAST(date_diff('day', last_order, mxd) AS BIGINT)
                 AS recency_days, frequency, monetary_cents
               FROM base CROSS JOIN mx),
        sc AS (SELECT c, monetary_cents,
                 6 - ntile(5) OVER (ORDER BY recency_days, c) AS r_score,
                 ntile(5) OVER (ORDER BY frequency, c) AS f_score,
                 ntile(5) OVER (ORDER BY monetary_cents, c) AS m_score
               FROM b2)
        SELECT CAST(100 * r_score + 10 * f_score + m_score AS BIGINT) AS segment,
          CAST(COUNT(*) AS BIGINT) AS n_customers,
          CAST(SUM(monetary_cents) AS BIGINT) AS total_cents
        FROM sc GROUP BY 1 ORDER BY 1""")),

    // ---- O131: funnel time-to-convert quantiles ------------------------------
    // How LONG each funnel transition takes, not just how many make it —
    // exact p50/p90 latency seconds per adjacent stage pair, as LOWER
    // order statistics at rank ceil(n·p/1000) (the TheilSen defined-rank
    // discipline, no interpolation). Frontiers ride Funnel.frontierTimes
    // (the same per-user min-ts chain the gated funnel uses, landed once);
    // ranks come from GlobalRank — per-pair frames, NO single-partition
    // window — and the quantile picks are one conditional agg each.
    // Seconds truncate identically on both sides (ts.cast(long) ↔
    // floor(epoch(ts)), the rate_limit_audit precedent).
    DeclaredQuery("funnel_latency_quantiles",
      (s, dir) => {
        import graft.relational.{Funnel, GlobalRank}
        val ft = graft.relational.Stages.materialize(
          Funnel.frontierTimes(events(s, dir), "user_id", "event_type",
            "ts", Seq("view", "click", "purchase")), "funnel_fronts")
        def pairStats(i: Int, from: String, to: String) = {
          val a = ft.filter(col("stage_idx") === i.toLong)
            .select(col("user"), col("frontier_ts").as("t0"))
          val b = ft.filter(col("stage_idx") === (i + 1).toLong)
            .select(col("user"), col("frontier_ts").as("t1"))
          val lat = a.join(b, "user")
            .select(col("user"),
              (col("t1").cast("long") - col("t0").cast("long")).as("lat"))
          val (ranked, n) = GlobalRank.byValue(lat, "lat", "user", "__r")
          val (r50, r90) = ((n * 500 + 999) / 1000, (n * 900 + 999) / 1000)
          ranked.agg(count(lit(1)).as("n_users"),
            max(when(col("__r") === r50, col("lat"))).as("p50_sec"),
            max(when(col("__r") === r90, col("lat"))).as("p90_sec"))
            .select(lit(s"$from->$to").as("transition"), col("n_users"),
              col("p50_sec"), col("p90_sec"))
        }
        pairStats(1, "view", "click")
          .unionByName(pairStats(2, "click", "purchase"))
          .orderBy(col("transition"))
      },
      Some("""WITH f1 AS (SELECT user_id AS u, MIN(ts) AS t FROM events
               WHERE event_type = 'view' GROUP BY 1),
        f2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
               JOIN f1 ON e.user_id = f1.u
               WHERE e.event_type = 'click' AND e.ts >= f1.t GROUP BY 1),
        f3 AS (SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
               JOIN f2 ON e.user_id = f2.u
               WHERE e.event_type = 'purchase' AND e.ts >= f2.t GROUP BY 1),
        l AS (SELECT 'view->click' AS transition, f1.u,
                CAST(floor(epoch(f2.t)) AS BIGINT) -
                  CAST(floor(epoch(f1.t)) AS BIGINT) AS lat
              FROM f1 JOIN f2 ON f1.u = f2.u
              UNION ALL
              SELECT 'click->purchase', f2.u,
                CAST(floor(epoch(f3.t)) AS BIGINT) -
                  CAST(floor(epoch(f2.t)) AS BIGINT)
              FROM f2 JOIN f3 ON f2.u = f3.u),
        r AS (SELECT transition, lat,
                ROW_NUMBER() OVER (PARTITION BY transition
                  ORDER BY lat, u) AS rn,
                COUNT(*) OVER (PARTITION BY transition) AS n
              FROM l)
        SELECT transition, CAST(MAX(n) AS BIGINT) AS n_users,
          MAX(CASE WHEN rn = (n * 500 + 999) // 1000 THEN lat END) AS p50_sec,
          MAX(CASE WHEN rn = (n * 900 + 999) // 1000 THEN lat END) AS p90_sec
        FROM r GROUP BY 1 ORDER BY 1""")),

    // ---- O135: top journey trigrams -------------------------------------------
    // Gap-free sequential patterns one order up from the bigram transition
    // matrix: which three-step paths dominate user journeys? Two per-user
    // LEADs (one partitioned window pass), one map-side-combined count,
    // TakeOrdered top-20 — the n-gram slice of PrefixSpan that needs no
    // candidate generation. share_permille is of ALL trigram instances,
    // so the head's coverage is read directly.
    DeclaredQuery("journey_trigrams",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tri = events(s, dir)
          .withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e3").isNotNull)
          .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("support"))
        val total = tri.agg(sum(col("support")).as("__t"))
        tri.crossJoin(broadcast(total))
          .select(col("e1"), col("e2"), col("e3"), col("support"),
            expr("(1000L * support) div __t").as("share_permille"))
          .orderBy(desc("support"), col("e1"), col("e2"), col("e3"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT event_type AS e1,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS e2,
               LEAD(event_type, 2) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS e3
             FROM events),
        g AS (SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS support
              FROM t WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
        n AS (SELECT SUM(support) AS tot FROM g)
        SELECT e1, e2, e3, support,
          CAST((1000 * support) // tot AS BIGINT) AS share_permille
        FROM g CROSS JOIN n
        ORDER BY support DESC, e1, e2, e3 LIMIT 20""")),

    // ---- O139: changepoint LOCATION estimate ----------------------------------
    // cusum_event_drift says whether a level shift happened; this says
    // where and by how much: single-split binary segmentation,
    // τ* = argmax |n·P_t − t·P_n| (fraction-free centered partial sum),
    // pre/post daily means in exact milli-events. Same daily agg, two
    // per-key day-span windows, rank-1 pick.
    DeclaredQuery("changepoint_location",
      (s, dir) => graft.relational.Changepoint
        .locateShift(events(s, dir), "event_type", "ts")
        .orderBy(col("event_type")),
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1, 2),
        t AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot,
                CAST(COUNT(*) AS BIGINT) AS n_days
              FROM daily GROUP BY 1),
        r AS (SELECT d.event_type, d.day, t.n_days, t.tot,
                CAST(SUM(d.n_events) OVER (PARTITION BY d.event_type
                  ORDER BY d.day) AS BIGINT) AS p,
                CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type
                  ORDER BY d.day) AS BIGINT) AS tt
              FROM daily d JOIN t USING (event_type)),
        x AS (SELECT *, n_days * p - tt * tot AS dd,
                ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY abs(n_days * p - tt * tot) DESC, day) AS rk
              FROM r),
        f AS (SELECT event_type, day AS split_day, n_days,
                abs(dd) AS d_stat,
                (1000 * p) // tt AS pre_mean_milli,
                CASE WHEN n_days = tt THEN NULL
                     ELSE (1000 * (tot - p)) // (n_days - tt)
                END AS post_mean_milli
              FROM x WHERE rk = 1)
        SELECT event_type, split_day, n_days, d_stat, pre_mean_milli,
          post_mean_milli, post_mean_milli - pre_mean_milli AS shift_milli
        FROM f ORDER BY event_type""")),

    // ---- O179: broken-stick fit around the located changepoint --------------
    // changepoint_location says WHERE the level moved; this says whether
    // each side was itself trending — a ramp mislabeled as a step is the
    // classic triage mistake. Integer OLS slope per side over raw
    // epoch-days (slope is translation-invariant — no per-key min-day
    // window), ONE conditional aggregation for both sides, degenerate
    // sides NULL. See Changepoint.segmentedTrend scaladoc.
    DeclaredQuery("segmented_trend_fit",
      (s, dir) => graft.relational.Changepoint
        .segmentedTrend(events(s, dir), "event_type", "ts")
        .orderBy(col("event_type")),
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
        t AS (SELECT event_type, CAST(SUM(y) AS BIGINT) AS tot,
                CAST(COUNT(*) AS BIGINT) AS n_days
              FROM daily GROUP BY 1),
        r AS (SELECT d.event_type, d.day, t.n_days, t.tot,
                CAST(SUM(d.y) OVER (PARTITION BY d.event_type
                  ORDER BY d.day) AS BIGINT) AS p,
                CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type
                  ORDER BY d.day) AS BIGINT) AS tt
              FROM daily d JOIN t USING (event_type)),
        x AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY abs(n_days * p - tt * tot) DESC, day) AS rk
              FROM r),
        sp AS (SELECT event_type, day AS split_day FROM x WHERE rk = 1),
        dj AS (SELECT daily.event_type, sp.split_day,
                 CAST(datediff('day', DATE '1970-01-01', daily.day)
                   AS BIGINT) AS xd,
                 daily.y, daily.day <= sp.split_day AS pre
               FROM daily JOIN sp USING (event_type)),
        g AS (SELECT event_type, split_day,
                CAST(SUM(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
                CAST(SUM(CASE WHEN pre THEN xd ELSE 0 END) AS BIGINT) AS sx_pre,
                CAST(SUM(CASE WHEN pre THEN y ELSE 0 END) AS BIGINT) AS sy_pre,
                SUM(CASE WHEN pre THEN CAST(xd AS HUGEINT) * xd ELSE 0 END) AS sxx_pre,
                SUM(CASE WHEN pre THEN CAST(xd AS HUGEINT) * y ELSE 0 END) AS sxy_pre,
                CAST(SUM(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n_post,
                CAST(SUM(CASE WHEN pre THEN 0 ELSE xd END) AS BIGINT) AS sx_post,
                CAST(SUM(CASE WHEN pre THEN 0 ELSE y END) AS BIGINT) AS sy_post,
                SUM(CASE WHEN pre THEN 0 ELSE CAST(xd AS HUGEINT) * xd END) AS sxx_post,
                SUM(CASE WHEN pre THEN 0 ELSE CAST(xd AS HUGEINT) * y END) AS sxy_post
              FROM dj GROUP BY 1, 2)
        SELECT event_type, split_day, n_pre, n_post,
          CASE WHEN n_pre < 2 OR n_pre * sxx_pre - CAST(sx_pre AS HUGEINT) * sx_pre = 0
            THEN CAST(NULL AS BIGINT)
            ELSE CAST((1000000 * (n_pre * sxy_pre - CAST(sx_pre AS HUGEINT) * sy_pre))
              // (n_pre * sxx_pre - CAST(sx_pre AS HUGEINT) * sx_pre) AS BIGINT)
          END AS pre_slope_micro,
          CASE WHEN n_post < 2 OR n_post * sxx_post - CAST(sx_post AS HUGEINT) * sx_post = 0
            THEN CAST(NULL AS BIGINT)
            ELSE CAST((1000000 * (n_post * sxy_post - CAST(sx_post AS HUGEINT) * sy_post))
              // (n_post * sxx_post - CAST(sx_post AS HUGEINT) * sx_post) AS BIGINT)
          END AS post_slope_micro,
          CASE WHEN n_post < 2 OR n_post * sxx_post - CAST(sx_post AS HUGEINT) * sx_post = 0
            OR n_pre < 2 OR n_pre * sxx_pre - CAST(sx_pre AS HUGEINT) * sx_pre = 0
            THEN CAST(NULL AS BIGINT)
            ELSE CAST((1000000 * (n_post * sxy_post - CAST(sx_post AS HUGEINT) * sy_post))
              // (n_post * sxx_post - CAST(sx_post AS HUGEINT) * sx_post)
              - (1000000 * (n_pre * sxy_pre - CAST(sx_pre AS HUGEINT) * sy_pre))
              // (n_pre * sxx_pre - CAST(sx_pre AS HUGEINT) * sx_pre) AS BIGINT)
          END AS slope_change_micro
        FROM g ORDER BY event_type""")),

    // ---- O142: entity resolution end to end ----------------------------------
    // The full ER loop as one gated row: FS-blocked comparisons → match
    // rule (≥2 of 3 fields agree — partial agreement is what makes the
    // transitive closure do real work: A≈B on bands, B≈C on years, one
    // entity {A,B,C}) → connected components → entity summary. The slice
    // cap (rid < 2000) bounds the pair space at every SF, the
    // simhash_portable_pairs fixture discipline; production points the
    // same chain at LSH-blocked record pairs.
    DeclaredQuery("er_entity_clusters",
      (s, dir) => {
        val ord = tbl(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            min(year(col("o_orderdate"))).cast("long").as("first_year"))
        val rec = graft.relational.Stages.materialize(
          tbl(s, dir, "customer").filter(col("c_custkey") < 2000L)
            .join(ord, col("c_custkey") === col("o_custkey"))
            .select(col("c_custkey").as("rid"), col("c_nationkey"),
              col("c_mktsegment"),
              expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) div 100000")
                .as("bal_band"),
              expr("n_orders div 5").as("ord_band"), col("first_year")),
          "er_records")
        val matches = graft.relational.Linkage
          .scorePairs(rec, "rid", Seq("c_nationkey", "c_mktsegment"),
            Seq("bal_band", "ord_band", "first_year"))
          .filter(col("agree_bal_band") + col("agree_ord_band") +
            col("agree_first_year") >= 2L)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val labels = graft.dedup.Components.connectedComponents(
          rec.select(col("rid").as("id")), "id", matches, "src", "dst")
        graft.dedup.Components.componentSummary(labels)
          .orderBy(col("comp"))
      },
      Some("""WITH ord AS (SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS fy
             FROM orders GROUP BY 1),
        rec AS (SELECT c_custkey AS rid, c_nationkey, c_mktsegment,
            CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000
              AS bal_band,
            n_orders // 5 AS ord_band, fy AS first_year
          FROM customer JOIN ord ON c_custkey = o_custkey
          WHERE c_custkey < 2000),
        mt AS (SELECT a.rid AS id1, b.rid AS id2
               FROM rec a JOIN rec b ON a.c_nationkey = b.c_nationkey
                 AND a.c_mktsegment = b.c_mktsegment AND a.rid < b.rid
               WHERE (CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END +
                      CASE WHEN a.ord_band = b.ord_band THEN 1 ELSE 0 END +
                      CASE WHEN a.first_year = b.first_year THEN 1 ELSE 0 END)
                     >= 2),
        edges AS (SELECT id1 AS src, id2 AS dst FROM mt
                  UNION ALL SELECT id2, id1 FROM mt),
        nodes AS (SELECT rid AS id FROM rec),
        r AS (
          WITH RECURSIVE rr(id, reach) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT rr.id, e.dst FROM rr JOIN edges e ON e.src = rr.reach)
          SELECT id, MIN(reach) AS comp FROM rr GROUP BY id)
        SELECT comp, COUNT(*) AS n_members,
          CAST(SUM(id) AS BIGINT) AS id_checksum
        FROM r GROUP BY comp HAVING COUNT(*) > 1 ORDER BY comp""")),

    // ---- O150: seasonal-naive forecast backtest --------------------------------
    // The capacity-planning floor: forecast(d) = count(d−7), backtested
    // over every day with a week-ago twin — MAE in milli-events and MAPE
    // in permille per type, exact integers (the baseline any fancier
    // forecaster must beat, measured on the same data it would train on).
    // One daily agg + one self equi-join on (type, day−7).
    DeclaredQuery("seasonal_naive_backtest",
      (s, dir) => {
        val daily = graft.relational.Stages.materialize(
          events(s, dir)
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n")), "snb_daily")
        val lagged = daily.select(col("event_type"),
          date_add(col("day"), 7).as("day"), col("n").as("n_forecast"))
        daily.join(lagged, Seq("event_type", "day"))
          .select(col("event_type"),
            abs(col("n") - col("n_forecast")).as("abs_err"), col("n"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_scored"),
            sum(col("abs_err")).as("total_abs_err"), sum(col("n")).as("__act"))
          .select(col("event_type"), col("n_scored"), col("total_abs_err"),
            expr("(1000L * total_abs_err) div n_scored").as("mae_milli"),
            expr("(1000L * total_abs_err) div __act").as("mape_permille"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
             FROM events GROUP BY 1, 2),
        j AS (SELECT a.event_type, abs(a.n - b.n) AS abs_err, a.n
              FROM daily a JOIN daily b
                ON b.event_type = a.event_type AND b.day + 7 = a.day)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
          CAST(SUM(abs_err) AS BIGINT) AS total_abs_err,
          CAST((1000 * SUM(abs_err)) // COUNT(*) AS BIGINT) AS mae_milli,
          CAST((1000 * SUM(abs_err)) // SUM(n) AS BIGINT) AS mape_permille
        FROM j GROUP BY 1 ORDER BY 1""")),

    // ---- O153: Mann–Whitney U + Kolmogorov–Smirnov two-sample tests --------
    // Did the purchase value DISTRIBUTION differ from the click value
    // distribution — in shape, not just mean? U is carried doubled so the
    // tie term stays integral (U2 = Σ cA·(2·cumB(<v) + cB)); KS is the
    // cross-multiplied max |cumA·nB − cumB·nA| with the smallest attaining
    // value as the location. One histogram aggregation + one window over
    // the distinct-cents frame (bounded-model cap, loud require); every
    // output one truncating div from exact integers.
    DeclaredQuery("mannwhitney_ks_value_shift",
      (s, dir) => graft.relational.TwoSample.mannWhitneyKs(
        events(s, dir).filter(col("event_type").isin("purchase", "click")),
        col("event_type") === "purchase",
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")),
      Some("""WITH e AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                 event_type = 'purchase' AS a
               FROM events WHERE event_type IN ('purchase', 'click')),
        h AS (SELECT v, CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
              FROM e GROUP BY 1),
        c AS (SELECT v, ca, cb,
                SUM(ca) OVER (ORDER BY v) AS cuma,
                SUM(cb) OVER (ORDER BY v) AS cumb FROM h),
        t AS (SELECT MAX(cuma) AS na, MAX(cumb) AS nb FROM c),
        d AS (SELECT c.*, na, nb,
                ABS(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS dd
              FROM c CROSS JOIN t),
        st AS (SELECT SUM(CAST(ca AS HUGEINT) * (2 * (cumb - cb) + cb)) AS u2,
                MAX(dd) AS ksx FROM d),
        av AS (SELECT MIN(v) AS ks_at_value FROM d, st WHERE dd = ksx)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          CAST((500 * u2) // (CAST(na AS HUGEINT) * nb) AS BIGINT)
            AS auc_permille,
          CAST((1000 * (u2 - CAST(na AS HUGEINT) * nb)) //
            (CAST(na AS HUGEINT) * nb) AS BIGINT) AS rank_biserial_permille,
          CAST((1000 * ksx) // (CAST(na AS HUGEINT) * nb) AS BIGINT)
            AS ks_permille,
          ks_at_value
        FROM t, st, av""")),

    // ---- O154: dyadic EWMA control chart ------------------------------------
    // The volume monitor between MAD gates (level) and CUSUM (drift):
    // exponential smoothing of daily per-type counts with the residual
    // alarm, in EXACT integers — λ = 1/2 gives the recurrence a dyadic
    // closed form (weighted cumsum with shiftleft weights, one window),
    // so both engines replay the smooth digit for digit; see Ewma scaladoc.
    DeclaredQuery("ewma_rate_monitor",
      (s, dir) => {
        val daily = events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
        graft.relational.Ewma.dyadicChart(daily, Seq("event_type"), "day",
          "n_events", alarmPermille = 500L)
          .orderBy(col("event_type"), col("seq"))
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1, 2),
        o AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY day) AS BIGINT) AS seq FROM daily),
        wg AS (SELECT *, CASE WHEN seq = 1 THEN CAST(1 AS BIGINT)
                 ELSE (CAST(1 AS BIGINT) << CAST(seq - 2 AS INTEGER)) END AS wt
               FROM o),
        c0 AS (SELECT *, SUM(CAST(n_events AS HUGEINT) * wt)
                 OVER (PARTITION BY event_type ORDER BY seq) AS s
               FROM wg),
        cm AS (SELECT *, LAG(s)
                 OVER (PARTITION BY event_type ORDER BY seq) AS sp
               FROM c0),
        r AS (SELECT event_type, day, n_events, seq,
                CAST((1000 * s) //
                  (CAST(1 AS BIGINT) << CAST(seq - 1 AS INTEGER)) AS BIGINT)
                  AS ewma_milli,
                CASE WHEN seq = 1 THEN CAST(0 AS BIGINT)
                  ELSE CAST((1000 * (CAST(n_events AS HUGEINT) * wt - sp))
                    // sp AS BIGINT) END AS dev_permille
              FROM cm)
        SELECT event_type, day, n_events, seq, ewma_milli, dev_permille,
          seq <> 1 AND ABS(dev_permille) > 500 AS alarm
        FROM r ORDER BY event_type, seq""")),

    // ---- O155: growth accounting (new / retained / resurrected / churned) --
    // The engagement ledger with its balance identity (actives = new +
    // retained + resurrected; Δactives = new + resurrected − churned,
    // spec-asserted) and the quick ratio in permille; churn at the horizon
    // is undefined, so the last day contributes no churn row. One distinct
    // pass + one per-user window + one keyed re-agg — see Growth scaladoc.
    DeclaredQuery("growth_accounting_daily",
      (s, dir) => graft.relational.Growth
        .dailyAccounting(events(s, dir), "user_id", "ts")
        .orderBy(col("day")),
      Some("""WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
               FROM events),
        f AS (SELECT u, day,
                LAG(day) OVER (PARTITION BY u ORDER BY day) AS prev,
                LEAD(day) OVER (PARTITION BY u ORDER BY day) AS nxt
              FROM ud),
        bd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
                 CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
                 CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_retained,
                 CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
               FROM f GROUP BY 1),
        mx AS (SELECT MAX(day) AS mxd FROM ud),
        ch AS (SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
               FROM f CROSS JOIN mx
               WHERE day < mxd AND (nxt IS NULL OR nxt > day + 1)
               GROUP BY 1)
        SELECT COALESCE(bd.day, ch.day) AS day,
          COALESCE(n_active, 0) AS n_active, COALESCE(n_new, 0) AS n_new,
          COALESCE(n_retained, 0) AS n_retained,
          COALESCE(n_resurrected, 0) AS n_resurrected,
          COALESCE(ch.n_churned, 0) AS n_churned,
          CASE WHEN COALESCE(ch.n_churned, 0) = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST((1000 * (COALESCE(n_new, 0) + COALESCE(n_resurrected, 0)))
              // ch.n_churned AS BIGINT) END AS quick_x_permille
        FROM bd FULL OUTER JOIN ch ON ch.day = bd.day
        ORDER BY 1""")),

    // ---- O158: A/A experiment harness — md5 assignment + SRM gate ----------
    // The two prerequisites of every experiment readout, as one gated row:
    // deterministic arm assignment (md5₆₀(salt:unit) mod 2 — stable across
    // engines/reruns/scale, no rand) and the sample-ratio-mismatch χ² in
    // micro against the frozen χ²₁ 5% critical value. Run as A/A: under a
    // null assignment both conversion rates must come out statistically
    // flat — the harness a real experiment reuses with a treatment arm.
    DeclaredQuery("ab_assignment_srm",
      // conversion = a big-ticket purchase (> 200.00), not any purchase —
      // every fixture user purchases something, so the bare event would
      // read 1000‰ on both arms and the comparison would be theater
      (s, dir) => graft.relational.Experiment.srmConversionCheck(
        events(s, dir), "user_id",
        col("event_type") === "purchase" &&
          expr("CAST(value AS DECIMAL(12,2)) > 200"), salt = "exp1"),
      Some(s"""WITH u AS (SELECT user_id AS u,
                 $converted
               FROM events GROUP BY 1),
        a AS (SELECT u, converted,
                ${md5Bits60("'exp1:' || CAST(u AS VARCHAR)")} % 2 AS arm
              FROM u),
        t AS (SELECT
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS ca,
                CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS cb
              FROM a)
        SELECT n_a, n_b,
          (1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) AS srm_chi2_micro,
          (1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) > 3841459
            AS srm_flag,
          (1000 * ca) // n_a AS conv_a_permille,
          (1000 * cb) // n_b AS conv_b_permille,
          (1000 * (cb * n_a - ca * n_b)) // (ca * n_b) AS lift_permille
        FROM t""")),

    // ---- O165: CUPED adjusted lift (A/A) ------------------------------------
    // The variance-reduction readout (Deng et al. 2013): outcome = second-
    // half purchase cents per user, covariate = FIRST-half event count
    // (pre-"experiment" by construction), θ and both lifts from global +
    // per-arm integer sums only — no per-row adjusted value is ever
    // materialized. Under the A/A null the adjusted lift must stay a
    // noise-sized number with the covariate's variance share removed.
    // Fixture honesty: this generator has NO per-user rate persistence
    // (measured corr(x, y) ≈ ±0.03 for every candidate covariate), so
    // corr2_permille = 0 here is the CORRECT null reading, not theater —
    // the correlated path (ρ² ≫ 0, variance visibly removed) is
    // exercised in ExperimentSpec on constructed data.
    // See Experiment.cupedAdjustedLift scaladoc.
    DeclaredQuery("ab_cuped_lift",
      (s, dir) => {
        val ev = events(s, dir).withColumn("day", to_date(col("ts")))
        val per = ev.groupBy(col("user_id"))
          .agg(
            sum(when(col("day") <= lit("2024-01-15").cast("date"), 1L)
              .otherwise(0L)).as("x"),
            sum(when(col("day") > lit("2024-01-15").cast("date") &&
              col("event_type") === "purchase",
              expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .otherwise(0L)).as("y"))
          .withColumn("arm",
            graft.relational.Experiment.arm(col("user_id"), "exp1"))
          .select("arm", "x", "y")
        graft.relational.Experiment.cupedAdjustedLift(per)
      },
      Some(s"""WITH pu AS (SELECT user_id,
                 CAST(SUM(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                   THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                   AND event_type = 'purchase'
                   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
               FROM events GROUP BY 1),
        a AS (SELECT ${md5Bits60("'exp1:' || CAST(user_id AS VARCHAR)")} % 2 AS arm, x, y FROM pu),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                CAST(SUM(y) AS BIGINT) AS sy,
                SUM(CAST(x AS HUGEINT) * x) AS sxx,
                SUM(CAST(x AS HUGEINT) * y) AS sxy,
                SUM(CAST(y AS HUGEINT) * y) AS syy FROM a),
        ba AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS na,
                 CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
               FROM a GROUP BY 1),
        j AS (SELECT g.*, a0.na AS n_a, a0.sxa AS sx_a, a0.sya AS sy_a,
                a1.na AS n_b, a1.sxa AS sx_b, a1.sya AS sy_b,
                n * sxy - CAST(sx AS HUGEINT) * sy AS ca,
                n * sxx - CAST(sx AS HUGEINT) * sx AS cb,
                n * syy - CAST(sy AS HUGEINT) * sy AS cc
              FROM g, (SELECT * FROM ba WHERE arm = 0) a0,
                   (SELECT * FROM ba WHERE arm = 1) a1)
        SELECT n AS n_units,
          CAST((1000000 * ca) // cb AS BIGINT) AS theta_micro,
          CAST((((1000 * ca) // cb) * ca) // cc AS BIGINT) AS corr2_permille,
          CAST((1000 * (CAST(sy_b AS HUGEINT) * n_a - CAST(sy_a AS HUGEINT) * n_b))
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS raw_lift_milli,
          CAST((1000 * (
            (1000000 * CAST(n AS HUGEINT) * sy_b -
              ((1000000 * ca) // cb) * (n * CAST(sx_b AS HUGEINT) - n_b * sx)) * n_a -
            (1000000 * CAST(n AS HUGEINT) * sy_a -
              ((1000000 * ca) // cb) * (n * CAST(sx_a AS HUGEINT) - n_a * sx)) * n_b))
            // (1000000 * CAST(n AS HUGEINT) * n_a * n_b) AS BIGINT)
            AS adjusted_lift_milli
        FROM j"""))

    ,
    // ---- O191: post-stratified lift (A/A) ------------------------------------
    // CUPED's categorical sibling: per-stratum arm means recombined by
    // population share — strata here are pre-period activity tiers
    // (least(greatest(x div 10, 2), 4): 20-29 / 30-39 / 40+ first-half
    // events; every (stratum, arm) cell measured non-empty at both gate
    // scales, min cell 9). Under the A/A null post-stratified ≈ raw lift;
    // a stratum with an empty arm refuses loudly (Experiment scaladoc).
    DeclaredQuery("ab_poststratified_lift",
      (s, dir) => {
        val ev = events(s, dir).withColumn("day", to_date(col("ts")))
        val per = ev.groupBy(col("user_id"))
          .agg(
            sum(when(col("day") <= lit("2024-01-15").cast("date"), 1L)
              .otherwise(0L)).as("x"),
            sum(when(col("day") > lit("2024-01-15").cast("date") &&
              col("event_type") === "purchase",
              expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .otherwise(0L)).as("y"))
          .select(
            graft.relational.Experiment.arm(col("user_id"), "exp1").as("arm"),
            least(greatest(expr("x div 10"), lit(2L)), lit(4L)).as("stratum"),
            col("y"))
        graft.relational.Experiment.postStratifiedLift(per)
      },
      Some(s"""WITH pu AS (SELECT user_id,
                 CAST(SUM(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                   THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                   AND event_type = 'purchase'
                   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
               FROM events GROUP BY 1),
        a AS (SELECT ${md5Bits60("'exp1:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
                LEAST(GREATEST(x // 10, 2), 4) AS s, y FROM pu),
        bs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_s,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sa,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sb,
                 CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_sa,
                 CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_sb
               FROM a GROUP BY 1),
        t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS n_strata,
                CAST(SUM(n_sa) AS BIGINT) AS n_a, CAST(SUM(n_sb) AS BIGINT) AS n_b,
                CAST(SUM(sy_sa) AS BIGINT) AS sy_a, CAST(SUM(sy_sb) AS BIGINT) AS sy_b
              FROM bs),
        terms AS (SELECT CAST(SUM(
                 (1000 * CAST(n_s AS HUGEINT) *
                   (CAST(sy_sb AS HUGEINT) * n_sa - CAST(sy_sa AS HUGEINT) * n_sb))
                 // (CAST(t.n AS HUGEINT) * n_sa * n_sb)) AS BIGINT) AS ps
               FROM bs, t)
        SELECT n AS n_units, n_strata,
          CAST((1000 * (CAST(sy_b AS HUGEINT) * n_a - CAST(sy_a AS HUGEINT) * n_b))
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS raw_lift_milli,
          ps AS poststrat_lift_milli
        FROM t, terms""")),

    // ---- O192: cluster-randomized lift ----------------------------------------
    // The analysis a cluster-randomized rollout needs (assignment by
    // domain / household / geo, never by unit): per-unit "naive" lift
    // BESIDE the cluster-mean lift whose analysis unit matches the
    // randomization unit. Clusters here are user-id blocks of 20 (a
    // documented household/geo stand-in, the synthUrl discipline), arm =
    // md5 of the CLUSTER — a unit-level arm inside a cluster would raise
    // (the within-cluster-constant contract is asserted in the plan).
    DeclaredQuery("cluster_randomized_lift",
      (s, dir) => {
        val per = events(s, dir)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase",
            expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
            .otherwise(0L)).as("y"))
          .withColumn("cluster", expr("user_id div 20"))
          .withColumn("arm",
            graft.relational.Experiment.arm(col("cluster"), "clu"))
          .select(col("cluster"), col("arm"), col("y"))
        graft.relational.Experiment.clusterRandomizedLift(per)
      },
      Some(s"""WITH pu AS (SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
               FROM events GROUP BY 1),
        cu AS (SELECT user_id // 20 AS cluster, y,
                ${md5Bits60("'clu:' || CAST(user_id // 20 AS VARCHAR)")} % 2 AS arm
              FROM pu),
        bc AS (SELECT cluster, arm, CAST(COUNT(*) AS BIGINT) AS n_c,
                 CAST(SUM(y) AS BIGINT) AS sy_c
               FROM cu GROUP BY 1, 2),
        cm AS (SELECT cluster, arm, n_c, sy_c,
                 CAST((1000 * CAST(sy_c AS HUGEINT)) // n_c AS BIGINT) AS cm_milli
               FROM bc),
        g AS (SELECT
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k_b,
                CAST(SUM(n_c) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN arm = 0 THEN n_c ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN arm = 1 THEN n_c ELSE 0 END) AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN arm = 0 THEN sy_c ELSE 0 END) AS BIGINT) AS sy_a,
                CAST(SUM(CASE WHEN arm = 1 THEN sy_c ELSE 0 END) AS BIGINT) AS sy_b,
                CAST(SUM(CASE WHEN arm = 0 THEN cm_milli ELSE 0 END) AS BIGINT) AS scm_a,
                CAST(SUM(CASE WHEN arm = 1 THEN cm_milli ELSE 0 END) AS BIGINT) AS scm_b
              FROM cm)
        SELECT k_a AS n_clusters_a, k_b AS n_clusters_b, n AS n_units,
          CAST((1000 * (CAST(sy_b AS HUGEINT) * n_a - CAST(sy_a AS HUGEINT) * n_b))
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS unit_lift_milli,
          scm_b // k_b - scm_a // k_a AS clustermean_lift_milli
        FROM g""")),

    // ---- O164: per-arm exact quantile shift (A/A) ---------------------------
    // The readout mean lifts wash out: exact p50/p90 of purchase cents per
    // md5 arm (GlobalRank — no single-partition window; lower-bound picks
    // are tie-permutation invariant), shifts in permille. Under the A/A
    // null the shifts read as sampling noise — the harness a treatment
    // reuses. See Experiment.quantileShift scaladoc.
    DeclaredQuery("ab_quantile_effect",
      (s, dir) => graft.relational.Experiment.quantileShift(
        events(s, dir).filter(col("event_type") === "purchase"),
        "user_id", "event_id",
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"),
        salt = "exp1"),
      Some(s"""WITH e AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                 event_id,
                 ${md5Bits60("'exp1:' || CAST(user_id AS VARCHAR)")} % 2 AS arm
               FROM events WHERE event_type = 'purchase'),
        r AS (SELECT arm, v,
                ROW_NUMBER() OVER (PARTITION BY arm ORDER BY v, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY arm) AS n
              FROM e),
        p AS (SELECT arm, CAST(MAX(n) AS BIGINT) AS n,
                MAX(CASE WHEN rn = (500 * n + 999) // 1000 THEN v END) AS p50,
                MAX(CASE WHEN rn = (900 * n + 999) // 1000 THEN v END) AS p90
              FROM r GROUP BY arm)
        SELECT a.n AS n_a, b.n AS n_b, a.p50 AS p50_a, a.p90 AS p90_a,
          b.p50 AS p50_b, b.p90 AS p90_b,
          (1000 * (b.p50 - a.p50)) // a.p50 AS p50_shift_permille,
          (1000 * (b.p90 - a.p90)) // a.p90 AS p90_shift_permille
        FROM (SELECT * FROM p WHERE arm = 0) a,
             (SELECT * FROM p WHERE arm = 1) b""")),

    // ---- O163: hash-bucketing uniformity audit ------------------------------
    // The meta-check under every md5 split in this repo (arms, conformal
    // halves, doc samples, shards): Pearson χ² of distinct-user counts
    // across 16 buckets vs uniform, exact via the cross-multiplied form,
    // judged against the frozen χ²₁₅ 5% critical value. Empty buckets
    // count as zero explicitly. See Experiment scaladoc.
    DeclaredQuery("hash_uniformity_audit",
      (s, dir) => graft.relational.Experiment.hashUniformityAudit(
        events(s, dir), "user_id", salt = "exp1"),
      Some(s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events),
        bc AS (SELECT ${md5Bits60("'exp1:' || CAST(u AS VARCHAR)")} % 16 AS b, CAST(COUNT(*) AS BIGINT) AS o
               FROM u GROUP BY 1),
        f AS (SELECT r.range AS b, COALESCE(bc.o, 0) AS o
              FROM range(16) r LEFT JOIN bc ON bc.b = r.range),
        t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM f),
        m AS (SELECT n AS n_units, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                CAST(MIN(o) AS BIGINT) AS min_bucket,
                CAST(MAX(o) AS BIGINT) AS max_bucket,
                SUM(CAST(16 * o - n AS HUGEINT) * (16 * o - n)) AS ss
              FROM f CROSS JOIN t GROUP BY n)
        SELECT n_units, n_buckets, min_bucket, max_bucket,
          CAST((1000000 * ss) // (CAST(16 AS HUGEINT) * n_units) AS BIGINT)
            AS chi2_micro,
          CAST((1000000 * ss) // (CAST(16 AS HUGEINT) * n_units) AS BIGINT)
            <= 24995790 AS uniform_ok
        FROM m""")),

    // ---- O171: McNemar paired period-flip test -------------------------------
    // "Did big-ticket conversion change H1 → H2?" asked CORRECTLY: the
    // same users sit in both periods, so only the FLIPS carry evidence —
    // χ² = (b−c)²/(b+c) on the discordant cells, concordant behavior
    // cancels (see Paired scaladoc). Fixture: 17 vs 15 flips of 150
    // users — live discordance, flag honestly quiet under the flat
    // generator; the firing path is spec-exercised on a planted drift.
    DeclaredQuery("mcnemar_period_flip",
      (s, dir) => graft.relational.Paired.mcnemarFlip(
        events(s, dir), "user_id",
        to_date(col("ts")) <= lit("2024-01-15").cast("date"),
        to_date(col("ts")) > lit("2024-01-15").cast("date"),
        col("event_type") === "purchase" &&
          expr("CAST(value AS DECIMAL(12,2)) > 200")),
      Some("""WITH u AS (SELECT user_id,
                 MAX(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                   AND event_type = 'purchase'
                   AND CAST(value AS DECIMAL(12,2)) > 200
                   THEN 1 ELSE 0 END) AS a,
                 MAX(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                   AND event_type = 'purchase'
                   AND CAST(value AS DECIMAL(12,2)) > 200
                   THEN 1 ELSE 0 END) AS b
               FROM events GROUP BY 1),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
                CAST(SUM(a * b) AS BIGINT) AS n_both,
                CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n_neither,
                CAST(SUM(a * (1 - b)) AS BIGINT) AS n_flip_10,
                CAST(SUM((1 - a) * b) AS BIGINT) AS n_flip_01
              FROM u)
        SELECT n_units, n_both, n_neither, n_flip_10, n_flip_01,
          (1000000 * (n_flip_10 - n_flip_01) * (n_flip_10 - n_flip_01))
            // (n_flip_10 + n_flip_01) AS chi2_micro,
          (1000000 * (n_flip_10 - n_flip_01) * (n_flip_10 - n_flip_01))
            // (n_flip_10 + n_flip_01) > 3841459 AS flip_flag
        FROM g""")),

    // ---- O172: power / minimum-detectable-effect check ----------------------
    // The preamble every flat readout owes its reader: could THIS n even
    // see the lift we care about? MDE² in permille² (sqrt-free — the
    // verdict squares the target), K = (z_{.975}+z_{.80})² frozen micro
    // (see Experiment.powerCheck scaladoc). Gated at a 50‰ target on
    // the big-ticket conversion: the fixture's 150 units are honestly
    // UNDERpowered (measured mde² = 35091 permille², i.e. MDE ≈ 187‰
    // ≫ the 50‰ target) — powered = false is the true reading, and the
    // spec locks the powered path at constructed scale.
    DeclaredQuery("experiment_power_check",
      (s, dir) => graft.relational.Experiment.powerCheck(
        events(s, dir), "user_id",
        col("event_type") === "purchase" &&
          expr("CAST(value AS DECIMAL(12,2)) > 200"),
        salt = "exp1", targetLiftPermille = 50L),
      Some(s"""WITH u AS (SELECT user_id AS u,
                 $converted
               FROM events GROUP BY 1),
        a AS (SELECT u, converted,
                ${md5Bits60("'exp1:' || CAST(u AS VARCHAR)")} % 2 AS arm
              FROM u),
        g AS (SELECT
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(SUM(converted) AS BIGINT) AS conv
              FROM a),
        p AS (SELECT n_a, n_b, (1000 * conv) // (n_a + n_b) AS pm FROM g)
        SELECT n_a, n_b, pm AS conv_pooled_permille,
          CAST((7848880 * CAST(pm AS HUGEINT) * (1000 - pm) * (n_a + n_b))
            // (CAST(1000000 AS HUGEINT) * n_a * n_b) AS BIGINT)
            AS mde2_permille2,
          CAST(50 AS BIGINT) AS target_lift_permille,
          2500 >= CAST((7848880 * CAST(pm AS HUGEINT) * (1000 - pm) * (n_a + n_b))
            // (CAST(1000000 AS HUGEINT) * n_a * n_b) AS BIGINT) AS powered
        FROM p""")),

    // ---- O176: sequential two-look guardrail (O'Brien–Fleming) --------------
    // The PEEKING discipline beside O167's segment discipline: checking a
    // 5% test twice inflates false alarms to ~8%; OBF spends α across
    // looks (interim z²·2 = 7820466 micro, final 3910233 — derived by
    // bivariate-normal integration at definition time, matching the
    // published 2.797/1.977 table). Fixture honesty: the interim is
    // quiet, but the FINAL look fires at z² = 5.32 — the md5 A/A split
    // of 150 units lands 22-vs-10 big-ticket converters, a genuine
    // 5%-level false alarm that O172 (underpowered at this n) predicts;
    // the row reads as the cautionary tale it is. Both the quiet-interim
    // and planted-effect paths are spec-exercised on constructed data.
    DeclaredQuery("sequential_twolook_guard",
      (s, dir) => graft.relational.Experiment.twoLookGuard(
        events(s, dir), "user_id",
        col("event_type") === "purchase" &&
          expr("CAST(value AS DECIMAL(12,2)) > 200"),
        "ts", salt = "exp1").orderBy(col("look")),
      Some(s"""WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
                FROM events),
        u1 AS (SELECT user_id AS u,
                 $converted
               FROM events WHERE epoch_us(ts) < (SELECT mid FROM b)
               GROUP BY 1),
        u2 AS (SELECT user_id AS u,
                 $converted
               FROM events GROUP BY 1),
        a1 AS (SELECT converted,
                 ${md5Bits60("'exp1:' || CAST(u AS VARCHAR)")} % 2 AS arm FROM u1),
        a2 AS (SELECT converted,
                 ${md5Bits60("'exp1:' || CAST(u AS VARCHAR)")} % 2 AS arm FROM u2),
        g1 AS (SELECT
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
               FROM a1),
        g2 AS (SELECT
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
               FROM a2),
        z1 AS (SELECT *, CAST((1000000 *
                 CAST(conv_a * n_b - conv_b * n_a AS HUGEINT) *
                 (conv_a * n_b - conv_b * n_a) * (n_a + n_b)) //
                 (CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b) *
                  (n_a + n_b - conv_a - conv_b)) AS BIGINT) AS z2 FROM g1),
        z2t AS (SELECT *, CAST((1000000 *
                 CAST(conv_a * n_b - conv_b * n_a AS HUGEINT) *
                 (conv_a * n_b - conv_b * n_a) * (n_a + n_b)) //
                 (CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b) *
                  (n_a + n_b - conv_a - conv_b)) AS BIGINT) AS z2 FROM g2)
        SELECT CAST(1 AS BIGINT) AS look, n_a, n_b, conv_a, conv_b,
          z2 AS z2_micro, CAST(7820466 AS BIGINT) AS boundary_z2_micro,
          z2 > 7820466 AS reject
        FROM z1
        UNION ALL
        SELECT 2, n_a, n_b, conv_a, conv_b, z2, 3910233, z2 > 3910233
        FROM z2t
        ORDER BY look""")),

    // ---- O167: Benjamini–Hochberg FDR screen over per-segment SRMs ----------
    // Screening m segments at α each pages at ≈ mα family-wise; BH keeps
    // the FDR at q with NO p-values ever computed — p ≤ q·i/m is χ² ≥ a
    // frozen critical literal per rank (chi2inv(1−0.05·i/5, 1) in micro,
    // the transcendental-literal discipline; derivation: erf-bisection at
    // definition time, anchored to the standard 3841459/6634897 table
    // values). Planted-fault honesty: the 'purchase' segment's assignment
    // is deliberately forced to arm 0, so the screen must reject exactly
    // that segment while the four md5-balanced segments survive — both
    // branches of the detector exercised, not theater.
    DeclaredQuery("srm_fdr_screen",
      (s, dir) => graft.relational.Experiment.fdrScreen(
        events(s, dir), "event_type", "user_id",
        when(col("event_type") === "purchase", lit(0L))
          .otherwise(graft.relational.Experiment.arm(col("user_id"), "fdr1")),
        critMicroByRank = Seq(6634897L, 5411894L, 4709292L, 4217885L, 3841459L))
        .orderBy(col("bh_rank")),
      Some(s"""WITH su AS (SELECT DISTINCT event_type AS segment, user_id AS u,
                 CASE WHEN event_type = 'purchase' THEN 0 ELSE
                   ${md5Bits60("'fdr1:' || CAST(user_id AS VARCHAR)")} % 2 END AS arm
               FROM events),
        ps AS (SELECT segment,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
               FROM su GROUP BY 1),
        c AS (SELECT segment, n_a, n_b,
                (1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) AS chi2_micro
              FROM ps),
        r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY chi2_micro DESC, segment)
                AS BIGINT) AS bh_rank FROM c),
        r2 AS (SELECT *, CAST(CASE bh_rank WHEN 1 THEN 6634897 WHEN 2 THEN 5411894
                 WHEN 3 THEN 4709292 WHEN 4 THEN 4217885 WHEN 5 THEN 3841459 END
                 AS BIGINT) AS crit_micro FROM r),
        r3 AS (SELECT *, MAX(CASE WHEN chi2_micro >= crit_micro THEN bh_rank
                 ELSE 0 END) OVER () AS kmax FROM r2)
        SELECT segment, n_a, n_b, chi2_micro, bh_rank, crit_micro,
          bh_rank <= kmax AS bh_reject
        FROM r3 ORDER BY bh_rank""")),

    // ---- O168: delta-method ratio-metric readout (A/A) ----------------------
    // Revenue per event is a RATIO of sums — unit-mean machinery cannot
    // score it. Delta-method variance as one integer rational per arm
    // (two fixed-order truncating divisions — see Experiment scaladoc for
    // the overflow-reach rationale), significance sqrt-free by squaring
    // against the frozen z² literal. Under the A/A null the flag must
    // stay false with honestly non-degenerate variances.
    DeclaredQuery("ratio_metric_delta",
      (s, dir) => {
        val per = events(s, dir).groupBy(col("user_id"))
          .agg(count(lit(1)).as("x"),
            sum(when(col("event_type") === "purchase",
              expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .otherwise(0L)).as("y"))
          .withColumn("arm",
            graft.relational.Experiment.arm(col("user_id"), "exp1"))
          .select("arm", "x", "y")
        graft.relational.Experiment.ratioMetricDelta(per)
      },
      Some(s"""WITH pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
               FROM events GROUP BY 1),
        a AS (SELECT ${md5Bits60("'exp1:' || CAST(user_id AS VARCHAR)")} % 2 AS arm, x, y FROM pu),
        g AS (SELECT
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
                CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
                SUM(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxx_a,
                SUM(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS sxy_a,
                SUM(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syy_a,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
                CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
                SUM(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxx_b,
                SUM(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS sxy_b,
                SUM(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syy_b
              FROM a),
        j AS (SELECT *,
                CAST(sx_a AS HUGEINT) * sx_a * (n_a * syy_a - CAST(sy_a AS HUGEINT) * sy_a)
                  - 2 * CAST(sy_a AS HUGEINT) * sx_a * (n_a * sxy_a - CAST(sx_a AS HUGEINT) * sy_a)
                  + CAST(sy_a AS HUGEINT) * sy_a * (n_a * sxx_a - CAST(sx_a AS HUGEINT) * sx_a) AS n1a,
                CAST(sx_b AS HUGEINT) * sx_b * (n_b * syy_b - CAST(sy_b AS HUGEINT) * sy_b)
                  - 2 * CAST(sy_b AS HUGEINT) * sx_b * (n_b * sxy_b - CAST(sx_b AS HUGEINT) * sy_b)
                  + CAST(sy_b AS HUGEINT) * sy_b * (n_b * sxx_b - CAST(sx_b AS HUGEINT) * sx_b) AS n1b
              FROM g),
        k AS (SELECT n_a, n_b,
                CAST((1000 * CAST(sy_a AS HUGEINT)) // sx_a AS BIGINT) AS ratio_a_milli,
                CAST((1000 * CAST(sy_b AS HUGEINT)) // sx_b AS BIGINT) AS ratio_b_milli,
                (1000 * (CAST(sy_b AS HUGEINT) * sx_a - CAST(sy_a AS HUGEINT) * sx_b))
                  // (CAST(sx_a AS HUGEINT) * sx_b) AS dm,
                ((1000000 * n1a) // (CAST(sx_a AS HUGEINT) * sx_a))
                  // (CAST(sx_a AS HUGEINT) * sx_a * (n_a - 1)) AS va,
                ((1000000 * n1b) // (CAST(sx_b AS HUGEINT) * sx_b))
                  // (CAST(sx_b AS HUGEINT) * sx_b * (n_b - 1)) AS vb
              FROM j)
        SELECT n_a, n_b, ratio_a_milli, ratio_b_milli,
          CAST(dm AS BIGINT) AS delta_milli,
          CAST(va AS BIGINT) AS var_a_micro, CAST(vb AS BIGINT) AS var_b_micro,
          1000000 * dm * dm >= 3841459 * (va + vb) AS significant
        FROM k""")),

    // ---- O169: winsorized mean lift (A/A) -----------------------------------
    // Whale-robust value comparison: cap purchase cents at the POOLED
    // exact p95 (GlobalRank — no single-partition window) and compare
    // capped means; winsorizing keeps n identical across arms where
    // trimming would drop different units per arm. Raw and capped lifts
    // side by side — the gap IS the whale influence measurement.
    DeclaredQuery("winsorized_lift",
      (s, dir) => graft.relational.Experiment.winsorizedLift(
        events(s, dir).filter(col("event_type") === "purchase"),
        "user_id", "event_id",
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"),
        salt = "exp1", capPermille = 950L),
      Some(s"""WITH e AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                 event_id,
                 ${md5Bits60("'exp1:' || CAST(user_id AS VARCHAR)")} % 2 AS arm
               FROM events WHERE event_type = 'purchase'),
        r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, event_id) AS rn,
                COUNT(*) OVER () AS n FROM e),
        cap AS (SELECT CAST(v AS BIGINT) AS cap_value FROM r
                WHERE rn = (950 * n + 999) // 1000),
        w AS (SELECT arm, v, LEAST(v, cap_value) AS wv, cap_value
              FROM e CROSS JOIN cap),
        g AS (SELECT CAST(MAX(cap_value) AS BIGINT) AS cap_value,
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT) AS ra,
                CAST(SUM(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT) AS rb,
                CAST(SUM(CASE WHEN arm = 0 THEN wv ELSE 0 END) AS BIGINT) AS wa,
                CAST(SUM(CASE WHEN arm = 1 THEN wv ELSE 0 END) AS BIGINT) AS wb
              FROM w)
        SELECT n_a, n_b, cap_value,
          (1000 * wa) // n_a AS mean_a_milli,
          (1000 * wb) // n_b AS mean_b_milli,
          CAST((1000 * (CAST(rb AS HUGEINT) * n_a - CAST(ra AS HUGEINT) * n_b))
            // (CAST(ra AS HUGEINT) * n_b) AS BIGINT) AS raw_lift_permille,
          CAST((1000 * (CAST(wb AS HUGEINT) * n_a - CAST(wa AS HUGEINT) * n_b))
            // (CAST(wa AS HUGEINT) * n_b) AS BIGINT) AS winsorized_lift_permille
        FROM g""")),

    // ---- O159: weekday seasonality index ------------------------------------
    // seasonal_naive_backtest (O150) scores the week-lag forecast; this is
    // its DIAGNOSTIC — which weekdays carry the cycle, as a permille index
    // vs the type's flat-rate expectation (1000 = no seasonality). Weekday
    // is epoch-day mod 7 (0 = Thursday) — pure integer arithmetic, because
    // the engines' dayofweek() builtins disagree on numbering; the index
    // cross-multiplies day counts so the only division is the final one.
    DeclaredQuery("weekday_seasonality_index",
      (s, dir) => {
        val daily = events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("dow", pmod(datediff(col("day"), lit("1970-01-01")), lit(7)))
        val byDow = daily.groupBy(col("event_type"), col("dow"))
          .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
        val byType = daily.groupBy(col("event_type").as("__t"))
          .agg(sum(col("n")).as("__tot"), count(lit(1)).as("__days"))
        byDow.join(byType, col("event_type") === col("__t"))
          .select(col("event_type"), col("dow").cast("long").as("dow"),
            col("n_events"), col("n_days"),
            expr("(1000L * n_events * __days) div (n_days * __tot)")
              .as("index_permille"))
          .orderBy(col("event_type"), col("dow"))
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
             FROM events GROUP BY 1, 2),
        d2 AS (SELECT *, datediff('day', DATE '1970-01-01', day) % 7 AS dow
               FROM daily),
        bd AS (SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS n_events,
                 CAST(COUNT(*) AS BIGINT) AS n_days
               FROM d2 GROUP BY 1, 2),
        bt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS days
               FROM d2 GROUP BY 1)
        SELECT bd.event_type, CAST(dow AS BIGINT) AS dow, n_events, n_days,
          (1000 * n_events * days) // (n_days * tot) AS index_permille
        FROM bd JOIN bt USING (event_type)
        ORDER BY event_type, dow"""))
  )

  /** DuckDB replay of [[graft.relational.MarkovChain.stationaryMix]] over
    * the consecutive-event chain: transitions via the same LEAD window,
    * then `rounds` π-iterations — per-edge truncating (π·n)//out, window
    * renormalization 10⁶·raw // Σraw — digit-identical to the driver
    * BigInt rounds.
    */
  private def stationaryOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""r$k AS (SELECT g.to_type AS stt,
           CAST(SUM((p.v * g.n) // t.rt) AS HUGEINT) AS raw
         FROM g JOIN pi${k - 1} p ON p.stt = g.from_type
         JOIN t ON t.from_type = g.from_type GROUP BY 1),
      pi$k AS (SELECT stt,
           CAST((1000000 * raw) // SUM(raw) OVER () AS HUGEINT) AS v
         FROM r$k)"""
    }.mkString(",\n        ")
    s"""WITH p AS (SELECT event_type AS from_type,
            LEAD(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
        g AS MATERIALIZED (SELECT from_type, to_type,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        t AS MATERIALIZED (SELECT from_type, CAST(SUM(n) AS BIGINT) AS rt
            FROM g GROUP BY 1),
        stl AS MATERIALIZED (SELECT DISTINCT from_type AS s FROM g
            UNION SELECT DISTINCT to_type FROM g),
        pi0 AS (SELECT s AS stt,
            CAST(1000000 // (SELECT COUNT(*) FROM stl) AS HUGEINT) AS v
          FROM stl),
        $roundCtes,
        m AS MATERIALIZED (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1)
        SELECT m.event_type, n_events,
          CAST((1000 * n_events) // (SELECT SUM(n_events) FROM m) AS BIGINT)
            AS empirical_permille,
          CAST(COALESCE(fin.v // 1000, 0) AS BIGINT) AS stationary_permille
        FROM m LEFT JOIN pi$rounds fin ON fin.stt = m.event_type
        ORDER BY m.event_type"""
  }
}
