package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.vector.VectorFunctions
import Dsl._
import OracleSql._

/** Second-wave relational coverage: classic TPC-H shapes (cross-nation
  * volume, returned-item revenue), the min-per-group join-back idiom, SQL
  * subquery surfaces (correlated EXISTS, scalar subquery — Catalyst rewrites
  * both to joins), pivot, advanced window frames (time-range frames,
  * first/last/ntile), array element statistics, and corpus language stats.
  */
object ExtendedQueries {

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- min-per-group + join-back idiom ---------------------------------
    DeclaredQuery("first_order_per_customer",
      (s, dir) => {
        val orders = tbl(s, dir, "orders")
        val firstDates = orders.groupBy(col("o_custkey").as("fd_custkey"))
          .agg(min(col("o_orderdate")).as("first_date"), count(lit(1)).as("n_orders"))
        orders.join(firstDates,
          col("o_custkey") === col("fd_custkey") &&
            col("o_orderdate") === col("first_date"))
          .groupBy(col("o_custkey").as("custkey"), col("first_date"), col("n_orders"))
          .agg(min(col("o_orderkey")).as("first_key"))
          .orderBy(col("custkey"))
      },
      Some("""WITH mn AS (
          SELECT o_custkey, MIN(o_orderdate) AS first_date, COUNT(*) AS n_orders
          FROM orders GROUP BY 1)
        SELECT o.o_custkey AS custkey, mn.first_date, mn.n_orders,
          MIN(o.o_orderkey) AS first_key
        FROM orders o JOIN mn ON o.o_custkey = mn.o_custkey AND o.o_orderdate = mn.first_date
        GROUP BY 1, 2, 3 ORDER BY 1""")),

    // ---- TPC-H Q7 shape: cross-nation trade volume (nation joined twice) --
    DeclaredQuery("q7_nation_volume",
      (s, dir) => {
        val n1 = broadcast(tbl(s, dir, "nation")
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
        val n2 = broadcast(tbl(s, dir, "nation")
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
        tbl(s, dir, "lineitem")
          .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(n1, col("c_nationkey") === col("ck"))
          .join(n2, col("s_nationkey") === col("sk"))
          .filter(col("cust_nation") < col("supp_nation"))
          .groupBy(col("cust_nation"), col("supp_nation"))
          .agg(count(lit(1)).as("n"),
            dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
          .orderBy(col("cust_nation"), col("supp_nation"))
      },
      Some(s"""SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation, COUNT(*) AS n,
        CAST(SUM($decimalRevenue) AS DOUBLE) AS rev
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE n1.n_name < n2.n_name
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- TPC-H Q10 shape: returned-item revenue per customer, top 20 ------
    DeclaredQuery("q10_returned_revenue",
      (s, dir) => {
        tbl(s, dir, "customer")
          .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .join(tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
          .orderBy(col("rev").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name,
        CAST(SUM($decimalRevenue) AS DOUBLE) AS rev
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2 ORDER BY rev DESC, c_custkey LIMIT 20""")),

    // ---- TPC-H Q17 shape: self-aggregation join (per-part average) --------
    DeclaredQuery("q17_small_quantity",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        val avgQty = li.groupBy(col("l_partkey").as("pk"))
          .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
        li.join(avgQty, col("l_partkey") === col("pk"))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg(count(lit(1)).as("n"),
            dsum(dec2(col("l_extendedprice"))).as("total"))
      },
      Some("""WITH pa AS (
          SELECT l_partkey AS pk, SUM(l_quantity) / COUNT(*) AS avg_qty
          FROM lineitem GROUP BY 1)
        SELECT COUNT(*) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM lineitem JOIN pa ON l_partkey = pk
        WHERE l_quantity < 0.5 * avg_qty""")),

    // ---- SQL surface: correlated EXISTS (Catalyst ⇒ semi join) ------------
    DeclaredQuery("sql_exists_subquery",
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("sq_orders")
        tbl(s, dir, "lineitem").createOrReplaceTempView("sq_lineitem")
        s.sql("""SELECT o_orderpriority, COUNT(*) AS n FROM sq_orders o
          WHERE EXISTS (SELECT 1 FROM sq_lineitem l
                        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
          GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY 1 ORDER BY 1""")),

    // ---- SQL surface: scalar subquery -------------------------------------
    DeclaredQuery("sql_scalar_subquery",
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("sc_orders")
        s.sql("""SELECT o_orderstatus, COUNT(*) AS n FROM sc_orders
          WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
            FROM sc_orders)
          GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
        WHERE o_totalprice > (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          FROM orders)
        GROUP BY 1 ORDER BY 1""")),

    // ---- pivot (explicit value list ⇒ stable schema) ----------------------
    DeclaredQuery("pivot_event_counts",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val pivoted = events(s, dir)
          .groupBy((col("user_id") % 10).as("cohort"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        pivoted.select(col("cohort") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy(col("cohort"))
      },
      Some("""SELECT user_id % 10 AS cohort,
        COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        COUNT(*) FILTER (WHERE event_type = 'view') AS view
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- advanced window frames: time-range frame, first/last/ntile -------
    DeclaredQuery("window_frames_orders",
      (s, dir) => {
        val byDate = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val rangeW = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
          .rangeBetween(-604800L, 0L) // trailing 7 days, inclusive
        tbl(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_totalprice")).over(byDate).as("first_price"),
            last(col("o_totalprice")).over(
              byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
              .as("last_price"),
            ntile(4).over(byDate).cast("long").as("quartile"),
            sum(dec2(col("o_totalprice"))).over(rangeW).cast("double").as("sum_7d"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        FIRST_VALUE(o_totalprice) OVER w AS first_price,
        LAST_VALUE(o_totalprice) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
        NTILE(4) OVER w AS quartile,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
          (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_7d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- F8 array element statistics over embeddings ----------------------
    DeclaredQuery("vector_stats",
      (s, dir) => {
        val v = col("embedding").cast("array<double>")
        tbl(s, dir, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          array_min(v).as("vmin"),
          array_max(v).as("vmax"),
          (VectorFunctions.foldSum(v) / size(col("embedding"))).as("vmean"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, len(embedding) AS dim,
        list_aggregate(CAST(embedding AS DOUBLE[]), 'min') AS vmin,
        list_aggregate(CAST(embedding AS DOUBLE[]), 'max') AS vmax,
        list_reduce(CAST(embedding AS DOUBLE[]), (a, b) -> a + b) / len(embedding) AS vmean
        FROM embeddings ORDER BY vec_id""")),

    // ---- bounded-heap top-k (oracle = the window formulation) -------------
    // TopK.perGroup shuffles only ≤ k·partitions candidates per key instead
    // of every row; the oracle states the equivalent ROW_NUMBER form.
    DeclaredQuery("topk_heap_parts",
      (s, dir) => graft.relational.TopK.perGroup(
        tbl(s, dir, "part"), Seq("p_brand"),
        Seq("p_retailprice" -> false, "p_partkey" -> true), k = 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey")),
      Some("""SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
          ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
        FROM part) t WHERE rk <= 3
        ORDER BY p_brand, p_retailprice DESC, p_partkey""")),

    // ---- ordered string aggregation + HAVING ------------------------------
    DeclaredQuery("string_agg_nations",
      (s, dir) => {
        tbl(s, dir, "nation")
          .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n"),
            array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
          .filter(col("n") >= 3)
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name, COUNT(*) AS n,
        string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1 HAVING COUNT(*) >= 3 ORDER BY 1""")),

    // ---- TPC-H Q19 shape: disjunctive multi-clause predicates -------------
    DeclaredQuery("q19_disjunctive",
      (s, dir) => {
        tbl(s, dir, "lineitem")
          .join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_size") <= 10 && col("l_quantity") >= 20 && col("l_quantity") <= 40) ||
            (col("p_type") === "small" && col("l_discount") >= 0.05) ||
            (col("p_retailprice") > 980.0 && col("l_returnflag") === "R"))
          .agg(count(lit(1)).as("n"),
            dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
      },
      Some(s"""SELECT COUNT(*) AS n,
        CAST(SUM($decimalRevenue) AS DOUBLE) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_size <= 10 AND l_quantity >= 20 AND l_quantity <= 40)
           OR (p_type = 'small' AND l_discount >= 0.05)
           OR (p_retailprice > 980.0 AND l_returnflag = 'R')""")),

    // ---- skew-safe salted aggregation (oracle = the plain GROUP BY) -------
    // event_type has 5 hot keys carrying all rows; the salted two-phase
    // plan splits each into 8 sub-keys before the final combine. Exactness:
    // decimal partials re-aggregate losslessly.
    DeclaredQuery("salted_agg_events",
      (s, dir) => {
        graft.relational.Skew.saltedSumCount(
          events(s, dir), Seq("event_type"), "event_id", 8,
          Seq(dec2(col("value")) -> "sum_dec"))
          .select(col("event_type"), col("n"),
            col("sum_dec").cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- O6 corpus language statistics ------------------------------------
    DeclaredQuery("lang_stats",
      (s, dir) => {
        tbl(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(graft.text.TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- TPC-H Q18 shape: large-volume customer (HAVING subquery) ----------
    // The big-orders semi-join: the HAVING aggregate runs once over
    // lineitem, survives as a semi-join key list, and the detail join
    // re-aggregates only qualifying orders.
    DeclaredQuery("q18_large_volume",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("__sq"))
          .filter(col("__sq") > 300).select("l_orderkey")
        li.join(big, Seq("l_orderkey"), "left_semi")
          .join(tbl(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), dec2(col("o_totalprice")).as("o_totalprice"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
          // House money discipline: the DECIMAL(12,2) grouping key stays
          // INTERNAL (exact group equality); the OUTPUT is its double
          // materialization — decimal-typed output columns hash differently
          // across oracle environments even when every value agrees
          // (round-8 driver gate vs local gate divergence).
          .withColumn("o_totalprice", col("o_totalprice").cast("double"))
          .orderBy(desc("o_totalprice"), col("o_orderdate"), col("o_orderkey"))
          .limit(100)
      },
      Some("""WITH big AS (
          SELECT l_orderkey FROM lineitem GROUP BY 1
          HAVING SUM(l_quantity) > 300)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
          CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem
        JOIN big USING (l_orderkey)
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 100""")),

    // ---- TPC-H Q21 shape: sole late supplier (EXISTS + NOT EXISTS) --------
    // Adapted to the fixture's columns: "late" = shipped > 90 days after
    // the order date of a finished ('F') order. A supplier is counted for
    // each late item where the order had OTHER suppliers (semi-join) and
    // NONE of them were late (anti-join) — blame isolates to one party.
    DeclaredQuery("q21_sole_late_supplier",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
        val fLate = li
          .join(tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") +
            expr("INTERVAL 90 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        val other = li.select(col("l_orderkey").as("__o2"),
          col("l_suppkey").as("__s2"))
        val otherLate = fLate.select(col("l_orderkey").as("__o3"),
          col("l_suppkey").as("__s3"))
        fLate
          .join(other, col("l_orderkey") === col("__o2") &&
            col("l_suppkey") =!= col("__s2"), "left_semi")
          .join(otherLate, col("l_orderkey") === col("__o3") &&
            col("l_suppkey") =!= col("__s3"), "left_anti")
          .join(tbl(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
          .limit(100)
      },
      Some("""WITH flate AS (
          SELECT l.l_orderkey, l.l_suppkey
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderstatus = 'F'
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        SELECT s_name, COUNT(*) AS numwait
        FROM flate l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM flate l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY 1
        ORDER BY numwait DESC, s_name
        LIMIT 100""")),

    // ---- TPC-H Q2 shape: minimum-cost supplier per part in a region -------
    // The correlated-min idiom across a dimension chain: per-(part,supplier)
    // cost facts are restricted to one region via supplier→nation→region
    // (both dims broadcast), the per-part minimum is an answer-sized
    // aggregate, and the join-back on DECIMAL equality is exact. The
    // fixture has no partsupp table, so "cost" is the cheapest observed
    // lineitem price for that (part, supplier) — same query shape.
    DeclaredQuery("q2_min_cost_supplier",
      (s, dir) => {
        val region = broadcast(tbl(s, dir, "region")
          .filter(col("r_name") === "EUROPE"))
        val nation = broadcast(tbl(s, dir, "nation"))
        val supp = tbl(s, dir, "supplier")
          .join(nation, col("s_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
        val costs = tbl(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(dec2(col("l_extendedprice"))).as("cost"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        // min-per-part as a window over the SAME pass instead of a second
        // aggregation joined back: the r14 shape consumed `costs` twice
        // (the mn aggregate + the join probe), so the lineitem aggregation
        // and the supplier broadcast join each executed twice per run; the
        // window keeps exactly the rows whose exact DECIMAL cost equals the
        // per-part minimum — ties and values identical (r15, guide §2.4)
        val best = costs
          .withColumn("__mc", min(col("cost")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))))
          .filter(col("cost") === col("__mc"))
        best
          .join(broadcast(tbl(s, dir, "part")
            .filter(col("p_type") === "ECONOMY" && col("p_size") < 10)),
            col("l_partkey") === col("p_partkey"))
          // The DECIMAL min-equality join above is internal and exact; the
          // OUTPUT cost is double (house discipline — no decimal-typed
          // output columns; see q18 note).
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("cost").cast("double").as("cost"))
          .orderBy(col("cost"), col("p_partkey"), col("s_name"))
          .limit(100)
      },
      Some("""WITH supp AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        costs AS (
          SELECT l_partkey, s_name, s_acctbal, n_name,
                 MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
          FROM lineitem JOIN supp ON l_suppkey = s_suppkey
          GROUP BY 1, 2, 3, 4),
        mn AS (SELECT l_partkey, MIN(cost) AS mc FROM costs GROUP BY 1)
        SELECT s_acctbal, s_name, n_name, p_partkey,
          CAST(cost AS DOUBLE) AS cost
        FROM costs JOIN mn USING (l_partkey)
        JOIN part ON l_partkey = p_partkey
        WHERE cost = mc AND p_type = 'ECONOMY' AND p_size < 10
        ORDER BY cost, p_partkey, s_name
        LIMIT 100""")),

    // ---- TPC-H Q9 shape: product profit by supplier nation and year --------
    // The wide star: fact joined to part (filter pushed into the broadcast
    // build side), supplier→nation for the grouping dim, orders only for
    // the year column. Grouped by (nation, year) — answer-sized output.
    DeclaredQuery("q9_product_profit",
      (s, dir) => {
        tbl(s, dir, "lineitem")
          .join(broadcast(tbl(s, dir, "part")
            .filter(col("p_name").contains("red")).select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(tbl(s, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(tbl(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(tbl(s, dir, "orders").select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n"),
            dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""SELECT n_name AS nation,
          CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
          CAST(SUM($decimalRevenue) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2 ORDER BY 1, 2 DESC""")),

    // ---- TPC-H Q11 shape: revenue share vs a global scalar subquery --------
    // HAVING against a whole-table aggregate: Catalyst plans the scalar
    // subquery as a 1-row broadcast, the comparison stays in exact
    // DECIMAL (share ‰ via integer cross-multiplication, never a float
    // fraction of the total).
    DeclaredQuery("q11_revenue_share",
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("q11_lineitem")
        s.sql("""SELECT l_partkey, COUNT(*) AS n,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS part_rev
          FROM q11_lineitem
          GROUP BY l_partkey
          HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 1800 >
            (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
             FROM q11_lineitem)
          ORDER BY part_rev DESC, l_partkey""")
      },
      Some("""SELECT l_partkey, COUNT(*) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS part_rev
        FROM lineitem
        GROUP BY l_partkey
        HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 1800 >
          (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FROM lineitem)
        ORDER BY part_rev DESC, l_partkey""")),

    // ---- TPC-H Q13 shape: customer order-count distribution ----------------
    // Outer join with a filter on the NULL-supplying side (kept in the join
    // condition, not a WHERE — the classic outer-join trap), then a second
    // aggregation over the first's output. Both aggs are keyed; the
    // histogram is answer-sized.
    DeclaredQuery("q13_order_distribution",
      (s, dir) => {
        val orders = tbl(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        tbl(s, dir, "customer")
          .join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""WITH co AS (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY 1)
        SELECT c_count, COUNT(*) AS custdist
        FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    // ---- TPC-H Q20 shape: suppliers dominating a part's volume -------------
    // Nested quantified predicate: a supplier qualifies when its shipped
    // quantity of some ECONOMY part exceeds 12.5% of that part's total. Both
    // quantity rollups share one fact pass shape; the dominance compare is
    // exact (integral-valued doubles sum exactly below 2^53); the final
    // semi-join keeps supplier output answer-sized.
    DeclaredQuery("q20_dominant_supplier",
      (s, dir) => {
        val eco = tbl(s, dir, "lineitem")
          .join(broadcast(tbl(s, dir, "part")
            .filter(col("p_type") === "ECONOMY").select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
        val perPs = eco.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("q"))
        val perP = eco.groupBy(col("l_partkey").as("__p"))
          .agg(sum(col("l_quantity")).as("tq"))
        val dominant = perPs
          .join(perP, col("l_partkey") === col("__p"))
          .filter(col("q") * 8 > col("tq"))
          .select(col("l_suppkey")).distinct()
        tbl(s, dir, "supplier")
          .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH eco AS (
          SELECT l_partkey, l_suppkey, l_quantity
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'ECONOMY'),
        per_ps AS (
          SELECT l_partkey, l_suppkey, SUM(l_quantity) AS q
          FROM eco GROUP BY 1, 2),
        per_p AS (
          SELECT l_partkey, SUM(l_quantity) AS tq FROM eco GROUP BY 1)
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
          WHERE q * 8 > tq)
        ORDER BY s_suppkey""")),

    // ---- TPC-H Q22 shape: idle above-average-balance customers -------------
    // Scalar-subquery threshold + anti join. The above-average test is the
    // exact cross-multiplication bal·n > Σbal in cents (a float average
    // would make the cutoff summation-order-dependent); "idle" is a
    // left-anti against orders placed in the dataset's final 90 days
    // (every fixture customer has SOME order — recency is the live
    // question). Output is nation-sized.
    DeclaredQuery("q22_idle_rich_customers",
      (s, dir) => {
        val cust = tbl(s, dir, "customer")
          .withColumn("bal_cents", (dec2(col("c_acctbal")) * 100).cast("long"))
        val stats = cust.filter(col("bal_cents") > 0)
          .agg(count(lit(1)).as("__n"), sum(col("bal_cents")).as("__tot"))
        val cutoff = tbl(s, dir, "orders")
          .agg((max(col("o_orderdate")) - expr("INTERVAL 90 DAYS")).as("__co"))
        val rich = cust
          .join(broadcast(stats))
          .filter(col("bal_cents") * col("__n") > col("__tot"))
        val recent = tbl(s, dir, "orders")
          .join(broadcast(cutoff))
          .filter(col("o_orderdate") > col("__co"))
          .select(col("o_custkey"))
        val idleRich = rich
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        idleRich
          .join(broadcast(tbl(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("bal_cents")).as("total_cents"))
          .orderBy(col("nation"))
      },
      Some("""WITH cust AS (
          SELECT c_custkey, c_nationkey,
            CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents
          FROM customer),
        st AS (
          SELECT COUNT(*) AS n, SUM(bal_cents) AS tot
          FROM cust WHERE bal_cents > 0),
        cutoff AS (
          SELECT MAX(o_orderdate) - INTERVAL 90 DAY AS co FROM orders)
        SELECT n_name AS nation, COUNT(*) AS numcust,
          CAST(SUM(bal_cents) AS BIGINT) AS total_cents
        FROM cust, st, cutoff
        JOIN nation ON c_nationkey = n_nationkey
        WHERE bal_cents * n > tot
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderdate > co)
        GROUP BY 1 ORDER BY 1""")),

    // ---- TPC-H Q6: forecasting revenue change --------------------------------
    // The selective-scan shape: every predicate must reach the parquet
    // scan (PushedFilters), the aggregate is one partial-combined sum —
    // the minimal full-scan-avoidance benchmark row.
    DeclaredQuery("q6_forecast_revenue",
      (s, dir) => tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          dec2(col("l_discount")).between(
            java.math.BigDecimal.valueOf(0.05), java.math.BigDecimal.valueOf(0.07)) &&
          col("l_quantity") < 24)
        .agg(dsum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_lines")),
      Some("""SELECT
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")),

    // ---- TPC-H Q14: promotion effect ------------------------------------------
    // Broadcast part-dim join + one conditional aggregate; the share is
    // exact permille via DECIMAL integral division, beside the double sums.
    DeclaredQuery("q14_promo_effect",
      (s, dir) => tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(tbl(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            revenue(col("l_extendedprice"), col("l_discount")))
            .otherwise(lit(java.math.BigDecimal.ZERO))).as("__promo"),
          sum(revenue(col("l_extendedprice"), col("l_discount"))).as("__tot"))
        .select(col("__promo").cast("double").as("promo_revenue"),
          col("__tot").cast("double").as("total_revenue"),
          // scale-stripped to integers first: DuckDB's // on DECIMALs is
          // DOUBLE division (measured 64.995, not 64) — integer operands
          // keep both engines on exact integral division
          expr("(1000 * CAST(__promo * 10000 AS DECIMAL(38,0))) div " +
            "CAST(__tot * 10000 AS DECIMAL(38,0))").as("promo_permille")),
      Some(s"""WITH a AS (SELECT
            SUM(CASE WHEN p_type = 'PROMO'
              THEN $decimalRevenue
              ELSE 0 END) AS promo,
            SUM($decimalRevenue) AS tot
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01'
            AND l_shipdate < TIMESTAMP '1996-10-01')
        SELECT CAST(promo AS DOUBLE) AS promo_revenue,
          CAST(tot AS DOUBLE) AS total_revenue,
          CAST((1000 * CAST(promo * 10000 AS HUGEINT))
            // CAST(tot * 10000 AS HUGEINT) AS BIGINT) AS promo_permille
        FROM a""")),

    // ---- TPC-H Q15: top supplier ----------------------------------------------
    // The view-over-aggregate shape: quarterly revenue per supplier, then
    // suppliers AT the max (decimal equality — exact, ties all surface).
    // The max is a 1-row broadcast, never a global sort.
    DeclaredQuery("q15_top_supplier",
      (s, dir) => {
        val rev = tbl(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
            .as("__rev"))
        val mx = rev.agg(max(col("__rev")).as("__mx"))
        rev.crossJoin(broadcast(mx))
          .filter(col("__rev") === col("__mx"))
          .join(broadcast(tbl(s, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("__rev").cast("double").as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some(s"""WITH rev AS (SELECT l_suppkey,
            SUM($decimalRevenue) AS r
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE r = (SELECT MAX(r) FROM rev)
        ORDER BY s_suppkey""")),

    // ---- TPC-H Q8: national market share ----------------------------------------
    // The deep star shape: orders of AMERICA-region customers for ECONOMY
    // parts, share supplied by NATION_6 per order year — two broadcast dim
    // chains (customer→nation→region, supplier→nation), one fact scan,
    // exact permille share.
    DeclaredQuery("q8_market_share",
      (s, dir) => {
        val nations = broadcast(tbl(s, dir, "nation"))
        val custNat = tbl(s, dir, "customer")
          .join(nations, col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tbl(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "AMERICA")
          .select(col("c_custkey"))
        val suppNat = tbl(s, dir, "supplier")
          .join(broadcast(tbl(s, dir, "nation")
            .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))),
            col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("sn_name"))
        tbl(s, dir, "lineitem")
          .join(broadcast(tbl(s, dir, "part")
            .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"))
          .join(tbl(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(custNat, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            sum(when(col("sn_name") === "NATION_6",
              revenue(col("l_extendedprice"), col("l_discount")))
              .otherwise(lit(java.math.BigDecimal.ZERO))).as("__nat"),
            sum(revenue(col("l_extendedprice"), col("l_discount"))).as("__tot"))
          .select(col("o_year"),
            col("__nat").cast("double").as("nation_volume"),
            col("__tot").cast("double").as("total_volume"),
            expr("(1000 * CAST(__nat * 10000 AS DECIMAL(38,0))) div " +
              "CAST(__tot * 10000 AS DECIMAL(38,0))").as("mkt_share_permille"))
          .orderBy(col("o_year"))
      },
      Some(s"""WITH amer AS (SELECT c_custkey FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA'),
        sn AS (SELECT s_suppkey, n_name AS sn_name FROM supplier
               JOIN nation ON s_nationkey = n_nationkey),
        f AS (SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                CASE WHEN sn.sn_name = 'NATION_6'
                  THEN $decimalRevenue
                  ELSE 0 END AS nat_v,
                $decimalRevenue AS tot_v
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              JOIN orders ON l_orderkey = o_orderkey
              JOIN sn ON l_suppkey = sn.s_suppkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
                AND o_custkey IN (SELECT c_custkey FROM amer))
        SELECT CAST(o_year AS BIGINT) AS o_year,
          CAST(SUM(nat_v) AS DOUBLE) AS nation_volume,
          CAST(SUM(tot_v) AS DOUBLE) AS total_volume,
          CAST((1000 * CAST(SUM(nat_v) * 10000 AS HUGEINT))
            // CAST(SUM(tot_v) * 10000 AS HUGEINT) AS BIGINT)
            AS mkt_share_permille
        FROM f GROUP BY 1 ORDER BY 1""")))
}
