package graft.queries

import org.apache.spark.sql.functions._
import graft.relational.TableMaintenance
import Dsl._
import OracleSql._

/** Lakehouse table-maintenance coverage: CDC MERGE/upsert with delete
  * markers, SCD2 effective-dated history, small-file compaction planning,
  * and temperature-weighted source mixing (the N^α allocation used to
  * flatten source imbalance in pretraining mixtures).
  *
  * Change feeds are derived deterministically from the orders table
  * (modulus partitions of the key space) so the oracle can rebuild the
  * exact same snapshot/feed split in SQL.
  */
object MaintenanceQueries {

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- CDC MERGE: latest-wins upsert with delete markers ---------------
    // Snapshot = keys not divisible by 4; feed = keys divisible by 3, which
    // updates matched rows (status 'U', price+100), inserts the unmatched
    // (keys ≡ 0 mod 12 are feed-only), and deletes keys divisible by 9.
    DeclaredQuery("merge_upsert_orders",
      (s, dir) => {
        val orders = tbl(s, dir, "orders")
        val base = orders.filter(col("o_orderkey") % 4 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val changes = orders.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 9 === 0, "D").otherwise("U").as("op"),
            lit(1L).as("version"),
            lit("U").as("o_orderstatus"),
            (col("o_totalprice") + 100.0).as("o_totalprice"))
        TableMaintenance.upsert(base, changes, "o_orderkey", "version", "op",
            Seq("o_orderstatus", "o_totalprice"))
          .select(col("o_orderkey").as("orderkey"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("totalprice"))
          .orderBy(col("orderkey"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey % 4 <> 0),
        chg AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op,
            'U' AS new_status, o_totalprice + 100.0 AS new_price
          FROM orders WHERE o_orderkey % 3 = 0)
        SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS orderkey,
          COALESCE(c.new_status, b.o_orderstatus) AS status,
          COALESCE(c.new_price, b.o_totalprice) AS totalprice
        FROM base b FULL OUTER JOIN chg c ON b.o_orderkey = c.o_orderkey
        WHERE COALESCE(c.op, 'U') <> 'D'
        ORDER BY 1""")),

    // ---- O36: snapshot reconciliation diff --------------------------------
    // The post-migration audit: diff two versions of the orders table
    // (version 2 synthesized deterministically — drops every 13th key,
    // bumps price on every 7th, flips status on every 21st, inserts a new
    // key for every 17th) into a verdict ledger with COLUMN-level change
    // counts. One co-partitioned full-outer join + row-local null-safe
    // compares; the oracle replays the same join.
    DeclaredQuery("snapshot_diff",
      (s, dir) => {
        val orders = tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val nextV = orders
          .filter(col("o_orderkey") % 13 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 21 === 0, lit("X"))
              .otherwise(col("o_orderstatus")).as("o_orderstatus"),
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")).as("o_totalprice"))
          .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
            .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
              col("o_orderstatus"), col("o_totalprice")))
        TableMaintenance.snapshotDiff(orders, nextV, "o_orderkey",
            Seq("o_orderstatus", "o_totalprice"))
          .groupBy(col("change"))
          .agg(count(lit(1)).as("n"),
            sum(col("chg_o_orderstatus")).as("n_status_changed"),
            sum(col("chg_o_totalprice")).as("n_price_changed"))
          .orderBy(col("change"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        nextv AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 21 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
            CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey + 50000000, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 17 = 0),
        d AS (
          SELECT
            CASE WHEN b.o_orderkey IS NULL THEN 'added'
                 WHEN n.o_orderkey IS NULL THEN 'removed'
                 WHEN b.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                   OR b.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
                 ELSE 'unchanged' END AS change,
            CASE WHEN b.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN 0
                 WHEN b.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 1
                 ELSE 0 END AS cs,
            CASE WHEN b.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN 0
                 WHEN b.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 1
                 ELSE 0 END AS cp
          FROM base b FULL OUTER JOIN nextv n ON b.o_orderkey = n.o_orderkey)
        SELECT change, COUNT(*) AS n,
          CAST(SUM(cs) AS BIGINT) AS n_status_changed,
          CAST(SUM(cp) AS BIGINT) AS n_price_changed
        FROM d GROUP BY 1 ORDER BY 1""")),

    // ---- SCD2: effective-dated order-status history per customer ---------
    DeclaredQuery("scd2_order_history",
      (s, dir) => {
        val states = tbl(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
            col("o_orderstatus").as("status"), col("o_orderdate").as("eff_from"))
        TableMaintenance.scd2(states, "custkey", "eff_from", "orderkey")
          .select(col("custkey"), col("orderkey"), col("status"),
            col("eff_from"), col("eff_to"), col("is_current"))
          .orderBy(col("custkey"), col("eff_from"), col("orderkey"))
      },
      Some("""SELECT o_custkey AS custkey, o_orderkey AS orderkey,
          o_orderstatus AS status, o_orderdate AS eff_from,
          LEAD(o_orderdate) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS eff_to,
          CAST(CASE WHEN LEAD(o_orderdate) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        FROM orders
        ORDER BY 1, 4, 2""")),

    // ---- O177: point-in-time SCD2 enrichment --------------------------------
    // The consumer the SCD2 build exists FOR: enrich each purchase event
    // with the customer's order-status state in effect AT the event's
    // timestamp — a backward as-of against the state stream, which is
    // the same thing as probing the SCD2 validity interval [eff_from,
    // eff_to) without ever materializing eff_to. Events before a user's
    // first state surface as NULL (the honest "no state yet" answer,
    // kept as its own row). Summarized per state to keep the gate
    // answer-sized; the as-of machinery itself is hash-gated row-level
    // by the asof_* family. Fixture note: every purchaser has a prior
    // order state (measured F/O/P = 669/617/695 events, no NULL row),
    // so the before-first-state branch is exercised by the asof family's
    // specs rather than this gate.
    DeclaredQuery("pit_status_enrichment",
      (s, dir) => {
        val purchases = events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), (col("user_id") + 1).as("custkey"),
            col("ts"))
        // one state per (custkey, date), latest orderkey wins — equal-time
        // ties in an as-of probe are engine-implementation-defined, so the
        // state stream must be tie-free to be deterministic
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"), col("o_orderdate"))
          .orderBy(col("o_orderkey").desc)
        val states = tbl(s, dir, "orders")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("o_custkey").as("custkey"),
            col("o_orderstatus").as("status"),
            col("o_orderdate").as("eff_from"))
        graft.relational.AsOfJoin.backward(purchases, states,
          Seq("custkey"), "ts", "eff_from", Seq("status"))
          .groupBy(col("asof_status").as("status_at_event"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("custkey")).as("n_customers"))
          .orderBy(col("status_at_event").asc_nulls_first)
      },
      Some("""WITH p AS (SELECT event_id, user_id + 1 AS custkey, ts
               FROM events WHERE event_type = 'purchase'),
        s AS (SELECT o_custkey AS custkey, o_orderstatus AS status,
                o_orderdate AS eff_from
              FROM orders
              QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                ORDER BY o_orderkey DESC) = 1),
        j AS (SELECT p.custkey, s.status
              FROM p ASOF LEFT JOIN s
                ON p.custkey = s.custkey AND p.ts >= s.eff_from)
        SELECT status AS status_at_event, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_customers
        FROM j GROUP BY 1 ORDER BY 1 NULLS FIRST""")),

    // ---- compaction planner: bin-pack simulated files to ~64 KB ----------
    // "Files" are (source, doc_id mod 50) groups of documents; the plan
    // assigns each to an output bin by bytes-before-it div target.
    DeclaredQuery("compaction_bins",
      (s, dir) => {
        val files = tbl(s, dir, "documents")
          .groupBy(col("source"), (col("doc_id") % 50).as("file_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
        TableMaintenance.compactionBins(files, "source", "file_id", "bytes",
            65536L)
          .select(col("source"), col("file_id"), col("n_docs"), col("bytes"),
            col("bin"))
          .orderBy(col("source"), col("file_id"))
      },
      Some("""WITH files AS (
          SELECT source, doc_id % 50 AS file_id, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS bytes
          FROM documents GROUP BY 1, 2)
        SELECT source, file_id, n_docs, bytes,
          CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            // 65536 AS bin
        FROM files
        ORDER BY 1, 2""")),

    // ---- O86: rendezvous-hash rebalance audit ----------------------------
    // HRW shard movement matrix for growing orders' key space 8 → 12
    // shards: the resharding pre-flight. Assignment is a stateless per-row
    // expression (md5-prefix weights, argmax folded into one integer —
    // see Rendezvous scaladoc); the matrix agg is ≤ 8·12 rows.
    DeclaredQuery("shard_rebalance_matrix",
      (s, dir) => graft.relational.Rendezvous
        .rebalanceMatrix(tbl(s, dir, "orders"), "o_orderkey", 8, 12)
        .orderBy(col("shard_old"), col("shard_new")),
      Some {
        def shardExpr(n: Int): String = (0 until n).map { sh =>
          s"((${md5Bits60(s"k || ':$sh'")} // 16) * 16 + $sh)"
        }.mkString("greatest(", ", ", ") % 16")
        s"""WITH k AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS k
               FROM orders WHERE o_orderkey IS NOT NULL),
          a AS (SELECT ${shardExpr(8)} AS shard_old,
                  ${shardExpr(12)} AS shard_new FROM k),
          m AS (SELECT shard_old, shard_new,
                  CAST(COUNT(*) AS BIGINT) AS n_keys
                FROM a GROUP BY 1, 2),
          t AS (SELECT CAST(SUM(n_keys) AS BIGINT) AS t FROM m)
          SELECT shard_old, shard_new, n_keys,
            shard_old <> shard_new AS moved,
            (1000 * n_keys) // t.t AS share_permille
          FROM m CROSS JOIN t
          ORDER BY shard_old, shard_new"""
      }),

    // ---- temperature-weighted source mixing ------------------------------
    // Allocation n_s ∝ N_s^0.5 over a 1000-doc budget, computed in exact
    // integer arithmetic: w = floor(sqrt(N)·10⁶) (sqrt is IEEE
    // correctly-rounded, identical in both engines), alloc = budget·w div Σw.
    DeclaredQuery("mix_temperature_alloc",
      (s, dir) => {
        val bys = tbl(s, dir, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .withColumn("w", floor(sqrt(col("n_docs")) * 1e6))
        val tot = bys.agg(sum(col("w")).as("w_total"))
        bys.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            col("w"), expr("1000 * w div w_total").as("alloc"))
          .orderBy(col("source"))
      },
      Some("""WITH bys AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(FLOOR(SQRT(COUNT(*)) * 1e6) AS BIGINT) AS w
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM bys)
        SELECT source, n_docs, w, CAST((1000 * w) // w_total AS BIGINT) AS alloc
        FROM bys CROSS JOIN tot
        ORDER BY 1""")),

    // ---- O94: Benford first-digit audit -----------------------------------
    // Fabricated-data screen on price cents: observed first-digit mix vs
    // the published permille table, signed deviations + integer L1 (see
    // Benford scaladoc — no logarithm anywhere).
    DeclaredQuery("benford_price_audit",
      (s, dir) => graft.relational.Benford.firstDigitAudit(
        tbl(s, dir, "lineitem"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .orderBy(col("digit")),
      Some("""WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                 * 100 AS BIGINT) AS c FROM lineitem),
        d AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit, CAST(COUNT(*) AS BIGINT) AS n
              FROM v WHERE c > 0 GROUP BY 1),
        e AS (SELECT CAST(digit AS BIGINT) AS digit,
                CAST(exp_permille AS BIGINT) AS exp_permille
              FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
                (6, 67), (7, 58), (8, 51), (9, 46)) t(digit, exp_permille)),
        j AS (SELECT e.digit, COALESCE(d.n, 0) AS n, e.exp_permille
              FROM e LEFT JOIN d ON d.digit = e.digit),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM j),
        sc AS (SELECT digit, n, (1000 * n) // tt AS obs_permille,
                exp_permille, (1000 * n) // tt - exp_permille AS dev_permille
              FROM j CROSS JOIN t),
        l AS (SELECT CAST(SUM(abs(dev_permille)) AS BIGINT) AS l1_permille
              FROM sc)
        SELECT digit, n, obs_permille, exp_permille, dev_permille,
          l1_permille
        FROM sc CROSS JOIN l ORDER BY digit""")),

    // ---- O95: k-anonymity release audit -----------------------------------
    // Re-identification exposure of (user, type, day) quasi-identifiers at
    // k = 2/5/10: one landed QI group-size frame, 1-row aggregates per k
    // (see Privacy scaladoc).
    DeclaredQuery("k_anonymity_audit",
      (s, dir) => graft.relational.Privacy.kAnonymity(
        events(s, dir).withColumn("day", to_date(col("ts"))),
        Seq("user_id", "event_type", "day"), Seq(2, 5, 10))
        .orderBy(col("k")),
      Some("""WITH g AS (SELECT user_id, event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS sz
             FROM events GROUP BY 1, 2, 3),
        a AS (
          SELECT CAST(2 AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_groups,
            CAST(SUM(CASE WHEN sz < 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS groups_at_risk,
            CAST(SUM(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT)
              AS rows_at_risk,
            CAST(SUM(sz) AS BIGINT) AS total FROM g
          UNION ALL
          SELECT 5, COUNT(*),
            CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT),
            CAST(SUM(sz) AS BIGINT) FROM g
          UNION ALL
          SELECT 10, COUNT(*),
            CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT),
            CAST(SUM(sz) AS BIGINT) FROM g)
        SELECT k, n_groups, groups_at_risk, rows_at_risk,
          (1000 * rows_at_risk) // total AS rows_at_risk_permille
        FROM a ORDER BY k""")),

    // ---- O162: l-diversity release audit ------------------------------------
    // k-anonymity's blind spot, gated: a (user, day) group can be large yet
    // HOMOGENEOUS in what the user did — membership alone then discloses
    // the activity (the homogeneity attack). At-risk = fewer than l
    // distinct event types within the QI group; one landed
    // (size, distinct-sensitive) frame, 1-row aggregates per l.
    DeclaredQuery("l_diversity_audit",
      (s, dir) => graft.relational.Privacy.lDiversity(
        events(s, dir).withColumn("day", to_date(col("ts"))),
        Seq("user_id", "day"), "event_type", Seq(2, 3))
        .orderBy(col("l")),
      Some("""WITH g AS (SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS sz,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ld
             FROM events GROUP BY 1, 2),
        a AS (
          SELECT CAST(2 AS BIGINT) AS l, CAST(COUNT(*) AS BIGINT) AS n_groups,
            CAST(SUM(CASE WHEN ld < 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS groups_at_risk,
            CAST(SUM(CASE WHEN ld < 2 THEN sz ELSE 0 END) AS BIGINT)
              AS rows_at_risk,
            CAST(SUM(sz) AS BIGINT) AS total FROM g
          UNION ALL
          SELECT 3, COUNT(*),
            CAST(SUM(CASE WHEN ld < 3 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(CASE WHEN ld < 3 THEN sz ELSE 0 END) AS BIGINT),
            CAST(SUM(sz) AS BIGINT) FROM g)
        SELECT l, n_groups, groups_at_risk, rows_at_risk,
          (1000 * rows_at_risk) // total AS rows_at_risk_permille
        FROM a ORDER BY l""")),

    // ---- O166: t-closeness release audit ------------------------------------
    // The triad's last gate: l-diversity misses the SKEWNESS attack — a
    // (user, day) group can span l event types yet be 90% one of them,
    // disclosing the activity mix anyway. At-risk = total-variation
    // distance between the group's event-type distribution and the global
    // one above t permille; absent-value terms folded into the present-only
    // frame (see Privacy.tCloseness scaladoc), one truncating division per
    // group. Thresholds 400/600/750 split the fixture 3175/1848/1388 of
    // 4006 groups — each threshold exercises a different cut.
    DeclaredQuery("t_closeness_audit",
      (s, dir) => graft.relational.Privacy.tCloseness(
        events(s, dir).withColumn("day", to_date(col("ts"))),
        Seq("user_id", "day"), "event_type", Seq(400, 600, 750))
        .orderBy(col("t_permille")),
      Some("""WITH gv AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type,
                 CAST(COUNT(*) AS HUGEINT) AS c FROM events GROUP BY 1, 2, 3),
        gl AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS cv
               FROM events GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM events),
        t1 AS (SELECT gv.user_id, gv.d, gv.c, gl.cv, n.nn,
                 SUM(gv.c) OVER (PARTITION BY gv.user_id, gv.d) AS ng
               FROM gv JOIN gl USING (event_type) CROSS JOIN n),
        g AS (SELECT user_id, d, MAX(ng) AS ng, MAX(nn) AS nn,
                SUM(ABS(c * nn - cv * ng)) AS sabs, SUM(cv) AS scv
              FROM t1 GROUP BY 1, 2),
        sz AS (SELECT ng AS sz,
                 CAST((1000 * (sabs + (nn - scv) * ng)) // (2 * ng * nn)
                   AS BIGINT) AS tvd
               FROM g),
        a AS (
          SELECT CAST(400 AS BIGINT) AS t_permille,
            CAST(COUNT(*) AS BIGINT) AS n_groups,
            CAST(SUM(CASE WHEN tvd > 400 THEN 1 ELSE 0 END) AS BIGINT)
              AS groups_at_risk,
            CAST(SUM(CASE WHEN tvd > 400 THEN sz ELSE 0 END) AS BIGINT)
              AS rows_at_risk,
            CAST(SUM(sz) AS BIGINT) AS total FROM sz
          UNION ALL
          SELECT 600, COUNT(*),
            CAST(SUM(CASE WHEN tvd > 600 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(CASE WHEN tvd > 600 THEN sz ELSE 0 END) AS BIGINT),
            CAST(SUM(sz) AS BIGINT) FROM sz
          UNION ALL
          SELECT 750, COUNT(*),
            CAST(SUM(CASE WHEN tvd > 750 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(CASE WHEN tvd > 750 THEN sz ELSE 0 END) AS BIGINT),
            CAST(SUM(sz) AS BIGINT) FROM sz)
        SELECT t_permille, n_groups, groups_at_risk, rows_at_risk,
          (1000 * rows_at_risk) // total AS rows_at_risk_permille
        FROM a ORDER BY t_permille""")),

    // ---- O173: DP contribution-bounding audit -------------------------------
    // The clamp step every differential-privacy histogram release stands
    // on: noise is calibrated to USER-LEVEL sensitivity, which is
    // unbounded until per-(user, cell) contributions are capped. Per
    // candidate cap: units clamped, signal discarded, and the post-clamp
    // L1 sensitivity max_u Σ min(c, C) the noise scale actually uses.
    // Fixture: cap 1 loses 195‰ of rows for sensitivity 69; cap 5 loses
    // nothing but carries 86 — the tradeoff curve IS the deliverable.
    DeclaredQuery("dp_contribution_bound",
      (s, dir) => graft.relational.Privacy.contributionBound(
        events(s, dir).withColumn("day", to_date(col("ts"))),
        "user_id", Seq("event_type", "day"), Seq(1, 2, 5))
        .orderBy(col("cap")),
      Some("""WITH uc AS (SELECT user_id AS u, event_type, CAST(ts AS DATE) AS d,
                 CAST(COUNT(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2, 3),
        p1 AS (SELECT u, CAST(SUM(c) AS BIGINT) AS rws,
                 CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS lost,
                 CAST(SUM(LEAST(c, 1)) AS BIGINT) AS kept,
                 CAST(MAX(c) AS BIGINT) AS mx
               FROM uc GROUP BY 1),
        p2 AS (SELECT u, CAST(SUM(c) AS BIGINT) AS rws,
                 CAST(SUM(CASE WHEN c > 2 THEN c - 2 ELSE 0 END) AS BIGINT) AS lost,
                 CAST(SUM(LEAST(c, 2)) AS BIGINT) AS kept,
                 CAST(MAX(c) AS BIGINT) AS mx
               FROM uc GROUP BY 1),
        p5 AS (SELECT u, CAST(SUM(c) AS BIGINT) AS rws,
                 CAST(SUM(CASE WHEN c > 5 THEN c - 5 ELSE 0 END) AS BIGINT) AS lost,
                 CAST(SUM(LEAST(c, 5)) AS BIGINT) AS kept,
                 CAST(MAX(c) AS BIGINT) AS mx
               FROM uc GROUP BY 1),
        a AS (
          SELECT CAST(1 AS BIGINT) AS cap, CAST(COUNT(*) AS BIGINT) AS n_units,
            CAST(SUM(CASE WHEN mx > 1 THEN 1 ELSE 0 END) AS BIGINT) AS units_clamped,
            CAST(SUM(lost) AS BIGINT) AS rows_lost,
            CAST(SUM(rws) AS BIGINT) AS total,
            CAST(MAX(kept) AS BIGINT) AS l1_sensitivity_after
          FROM p1
          UNION ALL
          SELECT 2, COUNT(*),
            CAST(SUM(CASE WHEN mx > 2 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(lost) AS BIGINT), CAST(SUM(rws) AS BIGINT),
            CAST(MAX(kept) AS BIGINT)
          FROM p2
          UNION ALL
          SELECT 5, COUNT(*),
            CAST(SUM(CASE WHEN mx > 5 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(SUM(lost) AS BIGINT), CAST(SUM(rws) AS BIGINT),
            CAST(MAX(kept) AS BIGINT)
          FROM p5)
        SELECT cap, n_units, units_clamped, rows_lost,
          (1000 * rows_lost) // total AS rows_lost_permille,
          l1_sensitivity_after
        FROM a ORDER BY cap""")),

    // ---- data-quality constraint audit -----------------------------------
    // The write-gate report a healthy pipeline runs before publishing a
    // snapshot. All row-local constraints (nulls, ranges, domains,
    // key uniqueness) fold into ONE conditional-aggregation scan; the
    // relational one (orphaned foreign keys) is the only join. One row per
    // rule so the gate is a trivial `violations == 0` check downstream.
    DeclaredQuery("dq_constraint_report",
      (s, dir) => {
        val orders = tbl(s, dir, "orders")
        val rowLocal = orders.agg(
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
            sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
            sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
              .as("bad_status"),
            (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
            count(lit(1)).as("checked"))
          .selectExpr(
            """stack(4,
              'bad_status', bad_status,
              'dup_orderkey', dup_orderkey,
              'nonpos_price', nonpos_price,
              'null_custkey', null_custkey) as (rule, violations)""",
            "checked")
        val orphans = orders
          .join(tbl(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .crossJoin(broadcast(orders.agg(count(lit(1)).as("checked"))))
          .select(lit("orphan_custkey").as("rule"), col("violations"), col("checked"))
        rowLocal.unionByName(orphans).orderBy(col("rule"))
      },
      Some("""WITH t AS (
          SELECT COUNT(*) AS checked,
            CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
            CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
            CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
            COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_orderkey
          FROM orders),
        orph AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS violations FROM orders o
          LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_custkey IS NULL)
        SELECT * FROM (
          SELECT 'bad_status' AS rule, bad_status AS violations, checked FROM t
          UNION ALL SELECT 'dup_orderkey', dup_orderkey, checked FROM t
          UNION ALL SELECT 'nonpos_price', nonpos_price, checked FROM t
          UNION ALL SELECT 'null_custkey', null_custkey, checked FROM t
          UNION ALL SELECT 'orphan_custkey', violations, (SELECT checked FROM t) FROM orph)
        ORDER BY rule""")),

    // ---- O130: order-insensitive content checksum ---------------------------
    // The cross-engine "did the copy arrive intact" audit: per source, row
    // count + exact DECIMAL(38,0) SUM of 60-bit row fingerprints — a
    // commutative digest, so replicas verify with no sort, no canonical
    // order, no single reducer, and shard sums merge by addition. One
    // map-side-combined keyed agg; see Checksum scaladoc for the
    // separator guard and the ~1e19-row overflow bound.
    DeclaredQuery("table_content_checksum",
      (s, dir) => graft.relational.Checksum.perGroup(
        tbl(s, dir, "documents"), "source", Seq("doc_id", "text")),
      Some(s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(${md5Bits60("concat_ws(chr(31), CAST(doc_id AS VARCHAR), text)")} AS HUGEINT)) AS VARCHAR) AS content_sum
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- O141: functional-dependency audit -----------------------------------
    // Schema discovery's exact question for declared candidates: does
    // det → dep hold, how many determinant values branch, and how badly —
    // the dirty-join-key smell (an FD that ALMOST holds) surfaced as a
    // violation permille. One countDistinct-per-determinant agg per
    // candidate; the key FD (o_orderkey → o_custkey) must hold, the
    // behavioral ones must not.
    DeclaredQuery("fd_discovery_audit",
      (s, dir) => graft.relational.Profile.fdAudit(tbl(s, dir, "orders"),
        Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"),
          ("o_custkey", "o_orderstatus"),
          ("o_orderpriority", "o_orderstatus"))),
      Some("""WITH u AS (
          SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
            CAST(COUNT(*) AS BIGINT) AS n_determinants,
            CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
            CAST(MAX(k) AS BIGINT) AS max_branching
          FROM (SELECT COUNT(DISTINCT o_custkey) AS k FROM orders
                GROUP BY o_orderkey)
          UNION ALL
          SELECT 'o_custkey', 'o_orderpriority',
            CAST(COUNT(*) AS BIGINT),
            CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(MAX(k) AS BIGINT)
          FROM (SELECT COUNT(DISTINCT o_orderpriority) AS k FROM orders
                GROUP BY o_custkey)
          UNION ALL
          SELECT 'o_custkey', 'o_orderstatus',
            CAST(COUNT(*) AS BIGINT),
            CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(MAX(k) AS BIGINT)
          FROM (SELECT COUNT(DISTINCT o_orderstatus) AS k FROM orders
                GROUP BY o_custkey)
          UNION ALL
          SELECT 'o_orderpriority', 'o_orderstatus',
            CAST(COUNT(*) AS BIGINT),
            CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(MAX(k) AS BIGINT)
          FROM (SELECT COUNT(DISTINCT o_orderstatus) AS k FROM orders
                GROUP BY o_orderpriority))
        SELECT determinant, dependent, n_determinants, n_violating,
          max_branching, n_violating = 0 AS holds,
          (1000 * n_violating) // n_determinants AS violation_permille
        FROM u ORDER BY determinant, dependent""")),

    // ---- O146: equi-depth histogram (ANALYZE stats) ---------------------------
    // The CBO's range-selectivity table: 16 depth-balanced buckets with
    // exact boundaries at the remainder-first ntile ranks and exact NDV
    // per bucket — built on GlobalRank (two-phase value cells, no
    // single-partition window), one corpus scan.
    DeclaredQuery("equidepth_histogram",
      (s, dir) => graft.relational.Histogram.equiDepth(
        tbl(s, dir, "orders").select(
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"), col("o_orderkey")),
        "cents", "o_orderkey", k = 16),
      Some("""WITH b AS (SELECT
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               o_orderkey
             FROM orders),
        nt AS (SELECT cents,
                 CAST(ntile(16) OVER (ORDER BY cents, o_orderkey) AS BIGINT)
                   AS bucket
               FROM b)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_distinct,
          MIN(cents) AS lo, MAX(cents) AS hi
        FROM nt GROUP BY 1 ORDER BY 1""")),

    // ---- O147: join-selectivity estimation audit -------------------------------
    // The estimate a CBO actually bets on, measured: self equi-join size
    // on l_partkey — actual Σc², the System-R uniform estimate n²/ndv,
    // and the histogram-refined Σ n_b²/ndv_b over 16 equi-depth buckets
    // (making the stats row load-bearing). Ties need no unique key here:
    // every emitted number is a function of the sorted value MULTISET
    // (bucket rank ranges), invariant under tie permutation — so both
    // engines ntile by the value alone.
    DeclaredQuery("join_selectivity_audit",
      (s, dir) => {
        val b = graft.relational.Stages.materialize(
          tbl(s, dir, "lineitem").select(col("l_partkey").as("v")), "jsa_vals")
        val tot = b.agg(count(lit(1)).as("n_rows"),
          count_distinct(col("v")).as("ndv"))
        val actual = b.groupBy(col("v")).agg(count(lit(1)).as("c"))
          .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("__act"))
          .select(expr("CAST(__act AS BIGINT)").as("actual_pairs"))
        import graft.relational.GlobalRank
        val (ranked, n) = GlobalRank.byValue(b, "v", "v", "__r")
        val hist = ranked
          .withColumn("__b", GlobalRank.ntileFromRank("__r", n, 16))
          .groupBy(col("__b"))
          .agg(count(lit(1)).as("nb"), count_distinct(col("v")).as("db"))
          .agg(sum(expr("(CAST(nb AS DECIMAL(38,0)) * nb) div db"))
            .as("__he"))
          .select(expr("CAST(__he AS BIGINT)").as("hist_est"))
        tot.crossJoin(broadcast(actual)).crossJoin(broadcast(hist))
          .select(col("n_rows"), col("ndv"), col("actual_pairs"),
            expr("(CAST(n_rows AS DECIMAL(38,0)) * n_rows) div ndv")
              .as("naive_est"),
            col("hist_est"))
          .select(col("*"),
            expr("(1000L * (naive_est - actual_pairs)) div actual_pairs")
              .as("naive_err_permille"),
            expr("(1000L * (hist_est - actual_pairs)) div actual_pairs")
              .as("hist_err_permille"))
      },
      Some("""WITH b AS (SELECT l_partkey AS v FROM lineitem),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv FROM b),
        act AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT)
                  AS actual_pairs
                FROM (SELECT COUNT(*) AS c FROM b GROUP BY v)),
        nt AS (SELECT v, ntile(16) OVER (ORDER BY v) AS bk FROM b),
        hb AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS nb,
                 CAST(COUNT(DISTINCT v) AS BIGINT) AS db
               FROM nt GROUP BY 1),
        he AS (SELECT CAST(SUM((CAST(nb AS HUGEINT) * nb) // db) AS BIGINT)
                 AS hist_est FROM hb),
        ne AS (SELECT CAST((CAST(n_rows AS HUGEINT) * n_rows) // ndv AS BIGINT)
                 AS naive_est FROM agg)
        SELECT agg.n_rows, agg.ndv, act.actual_pairs, ne.naive_est,
          he.hist_est,
          CAST((1000 * (ne.naive_est - act.actual_pairs)) // act.actual_pairs
            AS BIGINT) AS naive_err_permille,
          CAST((1000 * (he.hist_est - act.actual_pairs)) // act.actual_pairs
            AS BIGINT) AS hist_err_permille
        FROM agg, act, ne, he""")),

    // ---- O148b/O149: range-selectivity estimation audit -------------------------
    // The histogram's OTHER consumer measured: estimated rows in
    // [lo, hi] via uniform-within-bucket interpolation over the 16
    // equi-depth buckets (integer arithmetic — overlap·n_b div width) vs
    // the actual count, for three fixed cent ranges. Partial buckets are
    // the whole point: equi-depth bounds make the interpolation error
    // bounded by one bucket's depth.
    DeclaredQuery("range_selectivity_audit",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val cents = tbl(s, dir, "orders").select(
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"), col("o_orderkey"))
        val hist = graft.relational.Stages.materialize(
          graft.relational.Histogram.equiDepth(cents, "cents", "o_orderkey",
            k = 16), "price_hist")
        val preds = broadcast(Seq(
          (2000000L, 7999999L), (10000000L, 19999999L),
          (30000000L, 60000000L)).toDF("range_lo", "range_hi"))
        val est = hist.crossJoin(preds)
          .select(col("range_lo"), col("range_hi"),
            expr("greatest(0L, least(hi, range_hi) - greatest(lo, range_lo) + 1L)")
              .as("ov"), col("n_rows"), col("lo"), col("hi"))
          .select(col("range_lo"), col("range_hi"),
            expr("(CAST(n_rows AS DECIMAL(38,0)) * ov) div (hi - lo + 1L)")
              .as("contrib"))
          .groupBy(col("range_lo"), col("range_hi"))
          .agg(sum(col("contrib")).as("est_rows"))
        val actual = cents.crossJoin(preds)
          .filter(col("cents").between(col("range_lo"), col("range_hi")))
          .groupBy(col("range_lo"), col("range_hi"))
          .agg(count(lit(1)).as("actual_rows"))
        est.join(actual, Seq("range_lo", "range_hi"))
          .select(col("range_lo"), col("range_hi"), col("actual_rows"),
            col("est_rows"),
            expr("(1000L * (est_rows - actual_rows)) div actual_rows")
              .as("err_permille"))
          .orderBy(col("range_lo"))
      },
      Some("""WITH b AS (SELECT
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               o_orderkey
             FROM orders),
        nt AS (SELECT cents,
                 ntile(16) OVER (ORDER BY cents, o_orderkey) AS bucket
               FROM b),
        hb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 MIN(cents) AS lo, MAX(cents) AS hi
               FROM nt GROUP BY 1),
        pr AS (SELECT * FROM (VALUES
                 (2000000, 7999999), (10000000, 19999999),
                 (30000000, 60000000)) p(range_lo, range_hi)),
        est AS (SELECT range_lo, range_hi,
                  CAST(SUM((CAST(n_rows AS HUGEINT) *
                    GREATEST(0, LEAST(hi, range_hi) - GREATEST(lo, range_lo) + 1))
                    // (hi - lo + 1)) AS BIGINT) AS est_rows
                FROM hb CROSS JOIN pr GROUP BY 1, 2),
        act AS (SELECT range_lo, range_hi, CAST(COUNT(*) AS BIGINT) AS actual_rows
                FROM b CROSS JOIN pr
                WHERE cents BETWEEN range_lo AND range_hi GROUP BY 1, 2)
        SELECT CAST(est.range_lo AS BIGINT) AS range_lo,
          CAST(est.range_hi AS BIGINT) AS range_hi,
          act.actual_rows, est.est_rows,
          CAST((1000 * (est.est_rows - act.actual_rows)) // act.actual_rows
            AS BIGINT) AS err_permille
        FROM est JOIN act ON act.range_lo = est.range_lo
          AND act.range_hi = est.range_hi
        ORDER BY range_lo""")))
}
