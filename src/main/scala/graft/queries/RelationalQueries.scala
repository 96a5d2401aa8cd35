package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Dsl._
import OracleSql._

/** Relational surface over the TPC-H-ish star schema (SURVEY.md §2.3–§2.7):
  * joins (inner/outer/semi/anti/range/cross-ish), grouped and multi-level
  * aggregation, window functions, sort/limit, set ops, distinct aggregates.
  *
  * Scale notes baked into the plans: dimension sides of star joins are
  * explicitly `broadcast()` (region/nation/supplier/bands are tiny at any
  * SF); fact-fact joins stay on their natural shuffle keys; every aggregate
  * is partial-aggregated map-side by Catalyst; sorts appear only at the final
  * ORDER BY, which `TakeOrderedAndProject` handles for limited queries.
  */
object RelationalQueries {

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- A1 grouped aggregation (TPC-H Q1 shape) -------------------------
    DeclaredQuery("q1_pricing_summary",
      (s, dir) => {
        tbl(s, dir, "lineitem")
          .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            dsum(dec2(col("l_extendedprice"))).as("sum_base"),
            dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
            dsum(revenue(col("l_extendedprice"), col("l_discount")) *
              (lit(1) + dec2(col("l_tax")))).as("sum_charge"),
            (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            (dsum(dec2(col("l_extendedprice"))) / count(lit(1))).as("avg_price"),
            (dsum(dec2(col("l_discount"))) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        SUM(l_quantity) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
        CAST(SUM($decimalRevenue) AS DOUBLE) AS sum_disc_price,
        CAST(SUM($decimalRevenue * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        SUM(l_quantity) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- J1 multi-way star join + top-n (TPC-H Q3 shape) -----------------
    DeclaredQuery("q3_shipping_priority",
      (s, dir) => {
        val cust = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = tbl(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val li = tbl(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
          .orderBy(col("rev").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderdate,
        CAST(SUM($decimalRevenue) AS DOUBLE) AS rev
        FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1, 2 ORDER BY rev DESC, l_orderkey LIMIT 10""")),

    // ---- J1 6-way join, broadcast dims (TPC-H Q5 shape) ------------------
    DeclaredQuery("q5_region_revenue",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        val ord = tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1999-01-01 00:00:00"))
        val cust = tbl(s, dir, "customer")
        val supp = broadcast(tbl(s, dir, "supplier"))
        val nat = broadcast(tbl(s, dir, "nation"))
        val reg = broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
          .orderBy(col("rev").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
        CAST(SUM($decimalRevenue) AS DOUBLE) AS rev
        FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY 1 ORDER BY rev DESC, n_name""")),

    // ---- J2 left outer join with null accounting -------------------------
    DeclaredQuery("join_outer_orders",
      (s, dir) => {
        tbl(s, dir, "orders")
          .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left")
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("l_orderkey")).as("n_items"),
            sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_empty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_items,
        CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
        FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1 ORDER BY 1""")),

    // ---- J3 left semi (EXISTS) -------------------------------------------
    DeclaredQuery("join_semi_bigspenders",
      (s, dir) => {
        val bigOrders = tbl(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
        tbl(s, dir, "customer")
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
          .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, COUNT(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        GROUP BY 1 ORDER BY 1""")),

    // ---- J3 left anti (NOT EXISTS) ---------------------------------------
    DeclaredQuery("join_anti_empty_orders",
      (s, dir) => {
        tbl(s, dir, "orders")
          .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"), dsum(dec2(col("o_totalprice"))).as("total"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        GROUP BY 1 ORDER BY 1""")),

    // ---- J4 range (non-equi) join against a tiny broadcast band dim ------
    DeclaredQuery("join_range_price_bands",
      (s, dir) => {
        val bands = broadcast(s.createDataFrame(Seq(
          ("budget", 0.0, 930.0), ("mid", 930.0, 960.0), ("premium", 960.0, 10000.0)))
          .toDF("band", "lo", "hi"))
        tbl(s, dir, "part")
          .join(bands, col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_parts"), dsum(dec2(col("p_retailprice"))).as("sum_price"))
          .orderBy(col("band"))
      },
      Some("""SELECT band, COUNT(*) AS n_parts,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM part JOIN (VALUES ('budget', 0.0, 930.0), ('mid', 930.0, 960.0), ('premium', 960.0, 10000.0)) b(band, lo, hi)
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY 1 ORDER BY 1""")),

    // ---- A3 rollup --------------------------------------------------------
    DeclaredQuery("agg_rollup_lineitem",
      (s, dir) => {
        tbl(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("long").as("g_flag"),
            grouping(col("l_linestatus")).cast("long").as("g_status"),
            count(lit(1)).as("n"),
            sum(col("l_quantity")).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
          .orderBy(col("g_flag"), col("g_status"), col("flag"), col("status"))
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag, CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g_flag, g_status, flag, status""")),

    // ---- A3 cube ----------------------------------------------------------
    DeclaredQuery("agg_cube_orders",
      (s, dir) => {
        tbl(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping(col("o_orderstatus")).cast("long").as("g_status"),
            grouping(col("o_orderpriority")).cast("long").as("g_prio"),
            count(lit(1)).as("n"),
            dsum(dec2(col("o_totalprice"))).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("g_status"), col("g_prio"), col("n"), col("total"))
          .orderBy(col("g_status"), col("g_prio"), col("status"), col("priority"))
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
        CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status, CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY g_status, g_prio, status, priority""")),

    // ---- A3 grouping sets (SQL surface) -----------------------------------
    DeclaredQuery("agg_grouping_sets",
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
        s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
          COUNT(*) AS n, SUM(l_quantity) AS sum_qty
          FROM gs_lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY flag, status""")
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
        COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY flag, status""")),

    // ---- A4 top-k per group via window ------------------------------------
    DeclaredQuery("topk_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        tbl(s, dir, "part")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("p_brand"), col("rk"), col("p_partkey"), col("p_retailprice"))
          .orderBy(col("p_brand"), col("rk"))
      },
      Some("""SELECT p_brand, rk, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
          ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
        FROM part) t WHERE rk <= 3 ORDER BY p_brand, rk""")),

    // ---- W running / lag / lead -------------------------------------------
    DeclaredQuery("window_running_orders",
      (s, dir) => {
        val order = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tbl(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            sum(dec2(col("o_totalprice"))).over(frame).cast("double").as("running"),
            lag(col("o_totalprice"), 1).over(order).as("prev_price"),
            lead(col("o_totalprice"), 1).over(order).as("next_price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
        LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // ---- W rank / dense_rank / percent_rank -------------------------------
    DeclaredQuery("window_rank_suppliers",
      (s, dir) => {
        val w = Window.partitionBy(col("n_name")).orderBy(col("s_acctbal").desc, col("s_suppkey"))
        tbl(s, dir, "supplier")
          .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("s_suppkey"), col("s_acctbal"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"))
          .orderBy(col("n_name"), col("rnk"), col("s_suppkey"))
      },
      Some("""SELECT n_name, s_suppkey, s_acctbal,
        RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey)
        ORDER BY n_name, rnk, s_suppkey""")),

    // ---- sort + limit (TakeOrderedAndProject) -----------------------------
    DeclaredQuery("sort_limit_orders",
      (s, dir) => {
        tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // ---- set operations ---------------------------------------------------
    // ---- edit-distance fuzzy matching (entity-resolution primitive) -------
    // All name pairs within Levenshtein distance 4 — broadcast the tiny
    // side; both engines implement unit-cost edit distance identically.
    DeclaredQuery("fuzzy_match_nations",
      (s, dir) => {
        val a = tbl(s, dir, "nation")
          .select(col("n_nationkey").as("id1"), col("n_name").as("name1"))
        val b = tbl(s, dir, "nation")
          .select(col("n_nationkey").as("id2"), col("n_name").as("name2"))
        a.join(broadcast(b), col("id1") < col("id2"))
          .withColumn("dist", levenshtein(col("name1"), col("name2")))
          .filter(col("dist") <= 4)
          .select(col("id1"), col("id2"), col("name1"), col("name2"),
            col("dist").cast("long").as("dist"))
          .orderBy(col("id1"), col("id2"))
      },
      Some("""SELECT a.n_nationkey AS id1, b.n_nationkey AS id2,
          a.n_name AS name1, b.n_name AS name2,
          CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
        FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        WHERE levenshtein(a.n_name, b.n_name) <= 4
        ORDER BY 1, 2""")),

    // ---- date-spine gap filling (time-series completeness) ----------------
    // Sparse order dates -> a dense daily grid per status with zero-filled
    // counts: spine = keys x calendar (bounded by cardinality, not facts),
    // facts aggregated BEFORE the join. The ETL step every downstream
    // window metric and date join assumes has happened.
    DeclaredQuery("gapfill_daily_orders",
      (s, dir) => graft.relational.GapFill.dailyCounts(
          tbl(s, dir, "orders")
            .filter(col("o_orderdate") < lit("1995-04-01"))
            .select(col("o_orderstatus"), col("o_orderdate").cast("date").as("o_orderdate")),
          Seq("o_orderstatus"), "o_orderdate")
        .orderBy(col("o_orderstatus"), col("o_orderdate")),
      Some("""WITH src AS (SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS o_orderdate
                  FROM orders WHERE o_orderdate < TIMESTAMP '1995-04-01'),
        days AS (SELECT unnest(range(0,
            CAST((SELECT max(o_orderdate) - min(o_orderdate) FROM src) AS BIGINT) + 1)) AS d),
        spine AS (SELECT DISTINCT s.o_orderstatus,
            CAST((SELECT min(o_orderdate) FROM src) + to_days(CAST(t.d AS INTEGER)) AS DATE) AS o_orderdate
          FROM src s CROSS JOIN days t),
        actual AS (SELECT o_orderstatus, o_orderdate, COUNT(*) AS n
                   FROM src GROUP BY 1, 2)
        SELECT spine.o_orderstatus, spine.o_orderdate, COALESCE(actual.n, 0) AS n
        FROM spine LEFT JOIN actual USING (o_orderstatus, o_orderdate)
        ORDER BY 1, 2""")),

    // ---- gap fill + forward fill composed: dense daily series where gap
    // days carry the last active day's count (the standard
    // last-observation-carried-forward series repair).
    DeclaredQuery("gapfill_ffill_orders",
      (s, dir) => {
        val grid = graft.relational.GapFill.dailyCounts(
          tbl(s, dir, "orders")
            .filter(col("o_orderdate") < lit("1995-04-01"))
            .select(col("o_orderstatus"), col("o_orderdate").cast("date").as("o_orderdate")),
          Seq("o_orderstatus"), "o_orderdate")
          .withColumn("filled", when(col("n") > 0, col("n")))
        graft.relational.GapFill.forwardFill(grid,
          Seq("o_orderstatus"), "o_orderdate", Seq("filled"))
          .orderBy(col("o_orderstatus"), col("o_orderdate"))
      },
      Some("""WITH src AS (SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS o_orderdate
                  FROM orders WHERE o_orderdate < TIMESTAMP '1995-04-01'),
        days AS (SELECT unnest(range(0,
            CAST((SELECT max(o_orderdate) - min(o_orderdate) FROM src) AS BIGINT) + 1)) AS d),
        spine AS (SELECT DISTINCT s.o_orderstatus,
            CAST((SELECT min(o_orderdate) FROM src) + to_days(CAST(t.d AS INTEGER)) AS DATE) AS o_orderdate
          FROM src s CROSS JOIN days t),
        actual AS (SELECT o_orderstatus, o_orderdate, COUNT(*) AS n
                   FROM src GROUP BY 1, 2),
        grid AS (SELECT spine.o_orderstatus, spine.o_orderdate,
                   COALESCE(actual.n, 0) AS n,
                   CASE WHEN COALESCE(actual.n, 0) > 0 THEN actual.n END AS v
                 FROM spine LEFT JOIN actual USING (o_orderstatus, o_orderdate))
        SELECT o_orderstatus, o_orderdate, n,
          last_value(v IGNORE NULLS) OVER (PARTITION BY o_orderstatus
            ORDER BY o_orderdate ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM grid ORDER BY 1, 2""")),

    // ---- Bloom-filter runtime join pruning --------------------------------
    // The filtered build side (high-value orders) collapses to a 2 KB literal
    // bit array; the probe side (lineitem — the 100 TB table) is pruned by a
    // pushed-down predicate BEFORE the join's shuffle, cutting its volume to
    // build-selectivity + false positives. The exact join then makes the
    // result identical to the unfiltered plan — which is exactly what the
    // oracle runs. BloomSpec measures the pruning and the FP rate.
    DeclaredQuery("bloom_prune_join",
      (s, dir) => {
        val hi = tbl(s, dir, "orders").filter(col("o_totalprice") > 450000)
        val li = tbl(s, dir, "lineitem")
        // sized for the LARGEST bench scale (sf0.1: ~15k build keys): 256 Kbit
        // = 32 KB, k=3 -> ~0.05% FP there, vanishing at sf0.01. A fixed-size
        // filter that stops pruning as n grows would be a silent scale bug.
        val words = graft.relational.Sketches.bloomBuild(hi, "o_orderkey", k = 3, mBits = 262144)
        li.filter(graft.relational.Sketches.bloomMightContain(words, col("l_orderkey"), k = 3))
          .join(hi.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 450000
        GROUP BY 1 ORDER BY 1""")),

    // ---- bivariate statistics from exact power sums -----------------------
    // covar/corr/OLS per group, hash-exact across engines: native corr merges
    // partition moments in partition order (low bits vary); this computes the
    // five integer power sums exactly and each statistic as one closed-form
    // IEEE expression, written with identical shape in the oracle.
    DeclaredQuery("stats_regression",
      (s, dir) => graft.relational.Profile.groupedRegression(
          events(s, dir), "event_type",
          col("user_id"), floor(col("value") * lit(100.0)))
        .orderBy(col("event_type")),
      Some("""WITH q AS (SELECT event_type, user_id AS x,
            CAST(floor(value * 100) AS BIGINT) AS y FROM events),
        s AS (SELECT event_type, COUNT(*) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
            CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM q GROUP BY 1),
        d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
            CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
            CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
            CAST(sxy AS DOUBLE) AS sxy
          FROM s)
        SELECT event_type, n,
          (nd * sxy - sx * sy) / (nd * nd) AS covar_pop,
          CASE WHEN (nd * sxx - sx * sx) = 0 OR (nd * syy - sy * sy) = 0 THEN NULL ELSE
            (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
          CASE WHEN (nd * sxx - sx * sx) = 0 OR (nd * syy - sy * sy) = 0 THEN NULL ELSE
            (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx) / nd END AS intercept,
          CASE WHEN (nd * sxx - sx * sx) = 0 OR (nd * syy - sy * sy) = 0 THEN NULL ELSE
            (nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)) END AS corr,
          CASE WHEN (nd * sxx - sx * sx) = 0 OR (nd * syy - sy * sy) = 0 THEN NULL ELSE
            ((nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)))
            * ((nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))) END AS r2
        FROM d ORDER BY event_type""")),

    // ---- one-pass column profiling (ANALYZE-style data quality) -----------
    DeclaredQuery("table_profile_orders",
      (s, dir) => graft.relational.Profile.profile(
          tbl(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"))
        .orderBy(col("column")),
      Some("""SELECT * FROM (
          SELECT 'o_custkey' AS "column", COUNT(*) AS n_rows,
            CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            COUNT(DISTINCT o_custkey) AS n_distinct,
            CAST(MIN(o_custkey) AS VARCHAR) AS min_s, CAST(MAX(o_custkey) AS VARCHAR) AS max_s
          FROM orders
          UNION ALL
          SELECT 'o_orderdate', COUNT(*),
            CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
            COUNT(DISTINCT o_orderdate),
            CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
          FROM orders
          UNION ALL
          SELECT 'o_orderkey', COUNT(*),
            CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
            COUNT(DISTINCT o_orderkey),
            CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
          FROM orders
          UNION ALL
          SELECT 'o_orderstatus', COUNT(*),
            CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
            COUNT(DISTINCT o_orderstatus),
            CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
          FROM orders) t
        ORDER BY "column"""")),

    // ---- unpivot / melt (wide → long) -------------------------------------
    // The one relational reshape not covered elsewhere: lineitem money
    // measures unpivoted to (measure, value) rows, then profiled. Unpivot is
    // a zero-shuffle projection (each input row yields k output rows in
    // place); the only exchange is the final aggregation's.
    DeclaredQuery("unpivot_lineitem_measures",
      (s, dir) => {
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"),
            dec2(col("l_extendedprice")).as("extendedprice"),
            dec2(col("l_discount")).as("discount"),
            dec2(col("l_tax")).as("tax"))
          .unpivot(Array(col("l_orderkey")),
            Array(col("extendedprice"), col("discount"), col("tax")),
            "measure", "value")
          .groupBy(col("measure"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
            min(col("value")).cast("double").as("min_value"),
            max(col("value")).cast("double").as("max_value"))
          .orderBy(col("measure"))
      },
      Some("""WITH p AS (
          SELECT l_orderkey,
            CAST(l_extendedprice AS DECIMAL(12,2)) AS extendedprice,
            CAST(l_discount AS DECIMAL(12,2)) AS discount,
            CAST(l_tax AS DECIMAL(12,2)) AS tax
          FROM lineitem),
        u AS (UNPIVOT p ON extendedprice, discount, tax INTO NAME measure VALUE value)
        SELECT measure, COUNT(*) AS n, CAST(SUM(value) AS DOUBLE) AS sum_value,
          CAST(MIN(value) AS DOUBLE) AS min_value, CAST(MAX(value) AS DOUBLE) AS max_value
        FROM u GROUP BY 1 ORDER BY 1""")),

    DeclaredQuery("set_ops_nations",
      (s, dir) => {
        val custN = tbl(s, dir, "customer").select(col("c_nationkey").as("nk"))
        val suppN = tbl(s, dir, "supplier").select(col("s_nationkey").as("nk"))
        val both = custN.intersect(suppN).agg(count(lit(1)).as("n")).withColumn("tag", lit("both"))
        val custOnly = custN.except(suppN).agg(count(lit(1)).as("n")).withColumn("tag", lit("cust_only"))
        val all = custN.union(suppN).distinct().agg(count(lit(1)).as("n")).withColumn("tag", lit("all_nations"))
        both.unionByName(custOnly).unionByName(all).select(col("tag"), col("n")).orderBy(col("tag"))
      },
      Some("""SELECT tag, n FROM (
        SELECT 'both' AS tag, COUNT(*) AS n FROM (SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier) t1
        UNION ALL SELECT 'cust_only', COUNT(*) FROM (SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier) t2
        UNION ALL SELECT 'all_nations', COUNT(*) FROM (SELECT c_nationkey FROM customer UNION SELECT s_nationkey FROM supplier) t3
        ) u ORDER BY tag""")),

    // ---- A2 distinct aggregates ------------------------------------------
    DeclaredQuery("distinct_agg_lineitem",
      (s, dir) => {
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- J1b: co-located fact-fact join over BUCKETED tables --------------
    // The pre-shuffled warehouse layout: lineitem and orders land once as
    // bucketBy(8, orderkey).sortBy catalog tables, and the join reads
    // co-located pre-sorted buckets — the plan's join has ZERO exchanges
    // (the shuffle a 100 TB lineitem⋈orders pays per query moves to write
    // time, amortized over every downstream join; PlanAudit shows the
    // only remaining exchange is the final aggregation's). Results are
    // identical to the plain join — the oracle is the plain SQL.
    DeclaredQuery("bucketed_join_revenue",
      (s, dir) => {
        // a session CLONE with auto-broadcast off: at test scale Spark
        // would broadcast the orders side and the bucket layout would sit
        // unused — at 100 TB NEITHER fact side broadcasts, and this clone
        // realizes exactly that plan (sort-merge over co-located pre-sorted
        // buckets, zero join-input exchanges) without mutating the caller's
        // session (the streamSession discipline)
        val ss = s.newSession()
        ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val liT = graft.relational.Bucketing.ensureBucketed(
          tbl(ss, dir, "lineitem")
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          "graft_li_bucketed", dir, "l_orderkey", buckets = 8)
        val ordT = graft.relational.Bucketing.ensureBucketed(
          tbl(ss, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          "graft_ord_bucketed", dir, "o_orderkey", buckets = 8)
        ss.table(liT)
          .join(ss.table(ordT),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o.o_orderpriority, COUNT(*) AS n_items,
          CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                   (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1 ORDER BY 1""")))
}
