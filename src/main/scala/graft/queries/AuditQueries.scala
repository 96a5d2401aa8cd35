package graft.queries

import org.apache.spark.sql.functions._
import Dsl._
import OracleSql._

/** Round-8 audit wave: spectral/feature statistics and corpus-analysis
  * operators that report on the data rather than transform it — the
  * dashboard layer over the engine's curation surface.
  */
object AuditQueries {

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- O75: exact embedding Gram matrix ----------------------------------
    // The sufficient statistic every spectral feature audit starts from
    // (PCA/whitening input; covariance = (n·G − s·sᵀ)/n² with the per-dim
    // sums the dispersion family already emits; dead dims = zero diagonal,
    // redundant dims = off-diagonal mass). A custom typed Aggregator
    // accumulates all d(d+1)/2 upper-triangle sums in one flat long buffer
    // per partition (fused multiply-adds, no per-cell explode) — the only
    // shuffled state is a d²/2-long array per partition whatever the row
    // count. Quantized-exact (floor(x·10⁴) longs) so every cell
    // hash-matches.
    DeclaredQuery("embedding_gram_matrix",
      // the dim=64 filter is EXPLICIT on both sides: the aggregator skips
      // ragged vectors (n excludes them) while a bare oracle COUNT(*) would
      // count every row — an explicit shared predicate keeps the two
      // engines from diverging silently if the fixture ever gains a ragged
      // embedding (same loud-parity posture as Dispersion.perGroup)
      (s, dir) => graft.vector.Gram
        .upperTriangle(tbl(s, dir, "embeddings")
          .filter(size(col("embedding")) === 64), "embedding", dim = 64)
        .orderBy(col("dim_i"), col("dim_j")),
      Some(s"""WITH $quantizedEmbeddings,
        $gramProducts
        SELECT CAST(i - 1 AS BIGINT) AS dim_i, CAST(j - 1 AS BIGINT) AS dim_j,
          COUNT(*) AS n, CAST(SUM(prod) AS BIGINT) AS gram
        FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- O75b: dominant principal direction by integer power iteration -----
    // PCA's first step over the SAME landed Gram stage: 4 power-iteration
    // rounds in exact integer arithmetic (BigInt matrix-vector on the
    // driver over the collected d²-cell matrix — the bounded-model-collect
    // class; truncating 10⁶·w div max|w| rescale each round), so the
    // direction estimate is engine-replayable digit for digit. The oracle
    // replays all four rounds as chained CTEs in HUGEINT.
    DeclaredQuery("gram_power_iteration",
      // same explicit ragged-vector parity filter as embedding_gram_matrix
      (s, dir) => graft.vector.Gram
        .powerIteration(tbl(s, dir, "embeddings")
          .filter(size(col("embedding")) === 64), "embedding", dim = 64,
          rounds = 4)
        .orderBy(col("dim")),
      Some {
        val roundCtes = (1 to 4).map { r =>
          val prev = s"v${r - 1}"
          s"""w$r AS (SELECT gf.gi AS i, CAST(SUM(g * v.v) AS HUGEINT) AS w
               FROM gf JOIN $prev v ON v.i = gf.gj GROUP BY 1),
          m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r),
          v$r AS (SELECT i, (1000000 * w) // m AS v FROM w$r CROSS JOIN m$r)"""
        }.mkString(",\n        ")
        s"""WITH $quantizedEmbeddings,
        $gramProducts,
        gc AS (SELECT i - 1 AS gi, j - 1 AS gj, CAST(SUM(prod) AS HUGEINT) AS g
               FROM p GROUP BY 1, 2),
        gf AS (SELECT gi, gj, g FROM gc
               UNION ALL SELECT gj, gi, g FROM gc WHERE gi <> gj),
        v0 AS (SELECT unnest(range(0, 64)) AS i, CAST(1000000 AS HUGEINT) AS v),
        $roundCtes
        SELECT CAST(v4.i AS BIGINT) AS dim, CAST(v4.v AS BIGINT) AS v_micro,
          CAST(m4.m AS VARCHAR) AS growth
        FROM v4 CROSS JOIN m4 ORDER BY dim"""
      }),

    // ---- O75c: PCA variance explained (Rayleigh over the landed Gram) -------
    // "Is one axis enough?": λ̂₁ = vᵀGv/vᵀv of the power-iteration
    // direction against the trace, all exact BigInt/HUGEINT truncating
    // divisions (big quantities as decimal strings — the house DECIMAL(38,0)
    // discipline); rides the SAME landed Gram stage and the SAME replayed
    // iteration as gram_power_iteration, so the extra cost is the
    // answer-sized trace/rayleigh CTEs only.
    DeclaredQuery("pca_variance_explained",
      (s, dir) => graft.vector.Gram
        .varianceExplained(tbl(s, dir, "embeddings")
          .filter(size(col("embedding")) === 64), "embedding", dim = 64,
          rounds = 4),
      Some {
        val roundCtes = (1 to 4).map { r =>
          val prev = s"v${r - 1}"
          s"""w$r AS (SELECT gf.gi AS i, CAST(SUM(g * v.v) AS HUGEINT) AS w
               FROM gf JOIN $prev v ON v.i = gf.gj GROUP BY 1),
          m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r),
          v$r AS (SELECT i, (1000000 * w) // m AS v FROM w$r CROSS JOIN m$r)"""
        }.mkString(",\n        ")
        s"""WITH $quantizedEmbeddings,
        $gramProducts,
        gc AS (SELECT i - 1 AS gi, j - 1 AS gj, CAST(SUM(prod) AS HUGEINT) AS g
               FROM p GROUP BY 1, 2),
        gf AS (SELECT gi, gj, g FROM gc
               UNION ALL SELECT gj, gi, g FROM gc WHERE gi <> gj),
        v0 AS (SELECT unnest(range(0, 64)) AS i, CAST(1000000 AS HUGEINT) AS v),
        $roundCtes,
        tr AS (SELECT SUM(g) AS trace FROM gc WHERE gi = gj),
        den AS (SELECT SUM(v * v) AS d FROM v4),
        num AS (SELECT SUM(a.v * gf.g * b.v) AS n
                FROM gf JOIN v4 a ON a.i = gf.gi JOIN v4 b ON b.i = gf.gj)
        SELECT CAST(64 AS BIGINT) AS dim, CAST(trace AS VARCHAR) AS trace,
          CAST(n // d AS VARCHAR) AS lambda1_est,
          CAST((1000 * n) // (d * trace) AS BIGINT) AS explained_permille
        FROM tr, den, num"""
      }),

    // ---- O157: embedding anisotropy audit -----------------------------------
    // Is the embedding space collapsing toward a common direction? Mean
    // pairwise dot via the sum-vector identity — Σ_{i<j} qᵢ·qⱼ =
    // (|Σq|² − Σ|q|²)/2 — so the O(n²) pair sum is ONE pass of per-dim
    // sums; reported relative to the mean self dot in permille. See
    // Anisotropy scaladoc.
    DeclaredQuery("embedding_anisotropy",
      (s, dir) => graft.vector.Anisotropy
        .audit(tbl(s, dir, "embeddings"), "embedding", dim = 64),
      Some(s"""WITH $quantizedEmbeddings,
        d AS (SELECT pos.i, q[pos.i] AS v FROM e CROSS JOIN pos),
        pd AS (SELECT i, SUM(CAST(v AS HUGEINT)) AS sd,
                 SUM(CAST(v AS HUGEINT) * v) AS sq,
                 CAST(COUNT(*) AS BIGINT) AS n
               FROM d GROUP BY 1),
        t AS (SELECT MAX(n) AS n_vectors, SUM(sd * sd) AS s2,
                SUM(sq) AS selfdot FROM pd)
        SELECT n_vectors,
          CAST(selfdot // n_vectors AS BIGINT) AS mean_self_dot,
          CAST((s2 - selfdot) // (CAST(n_vectors AS HUGEINT) * (n_vectors - 1))
            AS BIGINT) AS mean_pair_dot,
          CAST((1000 * (s2 - selfdot)) // ((n_vectors - 1) * selfdot)
            AS BIGINT) AS anisotropy_permille
        FROM t""")),

    // ---- O76: PMI collocation mining ----------------------------------------
    // Church–Hanks pointwise mutual information over bigrams, ranked by the
    // exact-integer lift permille (1000 = independence) with a support
    // floor — the phrase-mining pass that decides which multi-word units a
    // tokenizer budget should treat as one symbol. The oracle rebuilds
    // bigrams with the gopher-oracle LEAD-window road and must land on the
    // identical top-20.
    DeclaredQuery("pmi_top_pairs",
      (s, dir) => graft.text.Collocations
        .pmiTopPairs(tbl(s, dir, "documents"), "doc_id", "text",
          minCount = 5L, topK = 20),
      Some(s"""WITH tok AS (${tokenPositions("t")}),
        u AS (SELECT t, CAST(COUNT(*) AS HUGEINT) AS c FROM tok GROUP BY 1),
        l AS (SELECT doc_id, t, LEAD(t, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1 FROM tok),
        b AS (SELECT t AS x, t1 AS y, CAST(COUNT(*) AS HUGEINT) AS c_xy
              FROM l WHERE t1 IS NOT NULL GROUP BY 1, 2),
        tu AS (SELECT CAST(SUM(c) AS HUGEINT) AS t_u FROM u),
        tb AS (SELECT CAST(SUM(c_xy) AS HUGEINT) AS t_b FROM b)
        SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
          CAST(ux.c AS BIGINT) AS c_x, CAST(uy.c AS BIGINT) AS c_y,
          CAST((1000 * c_xy * t_u * t_u) // (t_b * ux.c * uy.c) AS BIGINT) AS lift_permille
        FROM b JOIN u ux ON ux.t = b.x JOIN u uy ON uy.t = b.y
        CROSS JOIN tu CROSS JOIN tb
        WHERE c_xy >= 5
        ORDER BY lift_permille DESC, c_xy DESC, x, y LIMIT 20""")),

    // ---- O78: incremental IVF cell assignment ------------------------------
    // Index MAINTENANCE, not rebuild: freeze the cells of the id<250
    // snapshot (Similarity.lowestIdSeeds — the same deterministic coarse
    // quantizer ivf_topk uses) and assign the NEW batch to them with the
    // standalone assignCells (shuffle-free literal-seed cosines). Emits the
    // per-cell occupancy ledger old vs new plus the proportional-growth
    // multiple (1000 = the cell grew exactly in line with the batch) — the
    // drift signal that decides when re-training the quantizer is due.
    DeclaredQuery("ivf_incremental_assign",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val snap = emb.filter(col("vec_id") < 250)
        val seeds = graft.vector.Similarity.lowestIdSeeds(
          snap, "vec_id", "embedding",
          nlist = graft.vector.Similarity.scaledNlist(snap, "vec_id"))
        val assigned = graft.vector.Similarity.assignCells(
          emb.withColumn("is_old", col("vec_id") < 250), "embedding", seeds)
        val per = assigned.groupBy(col("cell"))
          .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
            sum(when(col("is_old"), 0L).otherwise(1L)).as("n_new"))
        val totals = broadcast(per.agg(
          sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new")))
        per.crossJoin(totals)
          .withColumn("growth_x_permille",
            expr("(1000L * CAST(n_new AS DECIMAL(38,0)) * t_old) div (n_old * t_new)"))
          .select(col("cell"), col("n_old"), col("n_new"), col("growth_x_permille"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH $embeddingsCte,
        seeds AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id < 250
                  ORDER BY vec_id LIMIT $scaledNlistSnapshot),
        ass AS (SELECT vec_id, sid, is_old FROM (
            SELECT e.vec_id, s.sid, e.vec_id < 250 AS is_old,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                ${cosine("e.v", "s.sv")}
                DESC, s.sid) AS rn
            FROM e CROSS JOIN seeds s) t WHERE rn = 1),
        per AS (SELECT sid AS cell,
                  CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS HUGEINT) AS n_old,
                  CAST(SUM(CASE WHEN is_old THEN 0 ELSE 1 END) AS HUGEINT) AS n_new
                FROM ass GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_old) AS HUGEINT) AS t_old,
                  CAST(SUM(n_new) AS HUGEINT) AS t_new FROM per)
        SELECT cell, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
          CAST((1000 * n_new * t_old) // (n_old * t_new) AS BIGINT) AS growth_x_permille
        FROM per CROSS JOIN tot ORDER BY cell""")),

    // ---- O82: SQ8 quantization distortion audit ----------------------------
    // The storage-path twin of ivf_recall_audit: recall audits what the
    // INDEX approximation costs, this audits what the int8 STORAGE
    // quantization costs — per-vector reconstruction error on the exact
    // 10⁴ grid ((code·M) div 127 round-trip), worst-10 shortlist + the
    // corpus-wide ppm. Map-only row-local folds; global totals in
    // DECIMAL(38,0) (long crosses 2⁶³ near 10⁹ rows).
    DeclaredQuery("sq8_distortion_audit",
      (s, dir) => graft.vector.QuantError
        .sq8Distortion(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          topK = 10),
      Some("""WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * 10000) AS BIGINT)) AS q FROM embeddings),
        m AS (SELECT vec_id, q, list_max(list_transform(q, x -> abs(x))) AS mx
              FROM e),
        d AS (SELECT vec_id,
                list_transform(q, x -> x - (((127 * x) // mx) * mx) // 127) AS dl,
                q
              FROM m WHERE mx > 0),
        per AS (SELECT vec_id,
                  list_reduce(list_transform(dl, t -> t * t), (a, b) -> a + b) AS err,
                  list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS energy
                FROM d),
        tot AS (SELECT CAST(SUM(err) AS HUGEINT) AS te,
                  CAST(SUM(energy) AS HUGEINT) AS tn FROM per)
        SELECT vec_id, err, energy,
          CAST((1000000 * err) // energy AS BIGINT) AS dist_ppm,
          CAST((1000000 * te) // tn AS BIGINT) AS global_ppm
        FROM per CROSS JOIN tot
        ORDER BY dist_ppm DESC, vec_id LIMIT 10""")),

    // ---- O79: tokenizer OOV audit ------------------------------------------
    // The vocabulary-budget planning twin of vocab_coverage, read per
    // LANGUAGE: with the top-16 frequency-ranked types as the vocabulary,
    // what token share per language falls out-of-vocabulary — the number
    // that says which languages a shared tokenizer budget is starving.
    // Vocabulary frame is TakeOrdered + broadcast; one corpus-tokenize
    // join with map-side-combined per-lang aggregation.
    DeclaredQuery("tokenizer_oov_audit",
      (s, dir) => {
        val toks = tbl(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("t"))
        val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("t")).limit(16)
          .select(col("t"), lit(1L).as("__in"))
        toks.join(broadcast(vocab), Seq("t"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_permille", expr("(1000L * n_oov) div n_tokens"))
          .orderBy(col("lang"))
      },
      Some("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
        v AS (SELECT t, 1 AS inv FROM (
            SELECT t, COUNT(*) AS c FROM tok GROUP BY 1
            ORDER BY c DESC, t LIMIT 16))
        SELECT lang, COUNT(*) AS n_tokens,
          CAST(SUM(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          CAST((1000 * SUM(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
            AS oov_permille
        FROM tok LEFT JOIN v USING (t)
        GROUP BY 1 ORDER BY 1""")),

    // ---- O107: two-hop reach on the kNN graph ------------------------------
    // Friends-of-friends audit: unique nodes exactly two hops away
    // (excluding self and direct neighbors) per node — the expansion
    // signal that says whether the neighborhood graph mixes (low reach =
    // isolated clumps, the semdedup blind spot). Degree-bounded: the
    // 2-hop join fans out ≤ deg² per node over the landed undirected
    // edges; every join is equi-keyed.
    DeclaredQuery("knn_two_hop_reach",
      (s, dir) => {
        val und = knnUndirected(s, dir)
        val adj = und.select(col("a").as("u"), col("b").as("v"))
          .union(und.select(col("b").as("u"), col("a").as("v")))
        val two = adj.as("x").join(adj.as("y"), col("x.v") === col("y.u"))
          .select(col("x.u").as("id"), col("y.v").as("w"))
          .filter(col("id") =!= col("w")).distinct()
        val reach2 = two
          .join(adj.select(col("u").as("id"), col("v").as("w")),
            Seq("id", "w"), "left_anti")
          .groupBy(col("id")).agg(count(lit(1)).as("r2"))
        val deg = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
        tbl(s, dir, "embeddings").select(col("vec_id").as("id"))
          .join(deg, Seq("id"), "left")
          .join(reach2, Seq("id"), "left")
          .select(col("id"), coalesce(col("d"), lit(0L)).as("degree"),
            coalesce(col("r2"), lit(0L)).as("two_hop_reach"))
          .orderBy(col("id"))
      },
      Some(s"""WITH $knnUndCte,
        adj AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und),
        two AS (SELECT DISTINCT x.u AS id, y.v AS w
                FROM adj x JOIN adj y ON x.v = y.u WHERE x.u <> y.v),
        r2 AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS c FROM two
               WHERE NOT EXISTS (SELECT 1 FROM adj
                 WHERE adj.u = two.id AND adj.v = two.w)
               GROUP BY 1),
        deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d
                FROM adj GROUP BY 1)
        SELECT e.vec_id AS id, COALESCE(deg.d, 0) AS degree,
          COALESCE(r2.c, 0) AS two_hop_reach
        FROM e LEFT JOIN deg ON e.vec_id = deg.id
        LEFT JOIN r2 ON e.vec_id = r2.id
        ORDER BY id""")),

    // ---- O108: degree assortativity of the kNN graph -----------------------
    // Spearman rank correlation between endpoint degrees across directed
    // edge slots (Newman 2002's mixing question asked with the engine's
    // exact rank machinery): positive = hubs link hubs. Degrees are small
    // integers — exactly the bounded discrete domain Correlation.spearman
    // contracts for.
    DeclaredQuery("knn_degree_assortativity",
      (s, dir) => {
        val und = knnUndirected(s, dir)
        val adj = und.select(col("a").as("u"), col("b").as("v"))
          .union(und.select(col("b").as("u"), col("a").as("v")))
        val deg = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
        val pairs = adj
          .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
          .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
          .select(col("du"), col("dv"))
        graft.relational.Correlation.spearman(pairs, "du", "dv")
      },
      Some(s"""WITH $knnUndCte,
        adj AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und),
        deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d
                FROM adj GROUP BY 1),
        d AS (SELECT da.d AS x, db.d AS y
              FROM adj JOIN deg da ON adj.u = da.id
              JOIN deg db ON adj.v = db.id),
        $spearmanRho""")),

    // ---- O109: chi-square independence audit -------------------------------
    // Pearson's χ² (1900) between event type and ISO weekday — the
    // "is traffic mix day-dependent?" gate. Per-cell contributions in
    // exact milli-units: ((N·o − rt·ct)²·1000) div (N·rt·ct) over the
    // FULL type×weekday cross (absent cells audit as obs = 0). The
    // squared term bounds the contract at N ≤ 5·10⁸ rows per audited
    // window (then (N·o)²·1000 crosses 10³⁸ in both engines) — loudly
    // documented; χ² at that N is decided long before precision matters.
    // The margin frames are answer-sized (types × weekdays ≤ dozens), so
    // their broadcast cross is bounded by construction.
    DeclaredQuery("independence_chi2",
      (s, dir) => {
        // obs feeds four consumers (rt/ct/N/cells) — land it so the
        // events scan+aggregation runs once (house landing discipline).
        val obs = graft.relational.Stages.materialize(events(s, dir)
          .groupBy(col("event_type"),
            (weekday(col("ts")) + 1).cast("long").as("isodow"))
          .agg(count(lit(1)).as("o")), "chi2_obs")
        val rt = obs.groupBy(col("event_type"))
          .agg(sum(col("o")).as("rt"))
        val ct = obs.groupBy(col("isodow")).agg(sum(col("o")).as("ct"))
        val n = obs.agg(sum(col("o")).as("N"))
        rt.crossJoin(broadcast(ct)).crossJoin(broadcast(n))
          .join(obs, Seq("event_type", "isodow"), "left")
          .withColumn("obs", coalesce(col("o"), lit(0L)))
          .select(col("event_type"), col("isodow"), col("obs"),
            expr("(1000L * rt * ct) div N").as("expected_milli"),
            expr("""CAST(((CAST(N AS DECIMAL(38,0)) * obs - CAST(rt AS DECIMAL(38,0)) * ct)
                 * (CAST(N AS DECIMAL(38,0)) * obs - CAST(rt AS DECIMAL(38,0)) * ct)
                 * 1000) div (CAST(N AS DECIMAL(38,0)) * rt * ct) AS BIGINT)""")
              .as("contrib_milli"))
          .orderBy(col("event_type"), col("isodow"))
      },
      Some("""WITH obs AS (SELECT event_type, CAST(isodow(ts) AS BIGINT)
               AS isodow, CAST(COUNT(*) AS BIGINT) AS o
             FROM events GROUP BY 1, 2),
        rt AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY 1),
        ct AS (SELECT isodow, SUM(o) AS ct FROM obs GROUP BY 1),
        nn AS (SELECT SUM(o) AS N FROM obs),
        cells AS (SELECT rt.event_type, ct.isodow, rt.rt, ct.ct, nn.N,
            COALESCE(obs.o, 0) AS obs
          FROM rt CROSS JOIN ct CROSS JOIN nn
          LEFT JOIN obs ON obs.event_type = rt.event_type
            AND obs.isodow = ct.isodow)
        SELECT event_type, isodow, obs,
          CAST((1000 * rt * ct) // N AS BIGINT) AS expected_milli,
          CAST(((CAST(N AS HUGEINT) * obs - CAST(rt AS HUGEINT) * ct)
            * (CAST(N AS HUGEINT) * obs - CAST(rt AS HUGEINT) * ct)
            * 1000) // (CAST(N AS HUGEINT) * rt * ct) AS BIGINT)
            AS contrib_milli
        FROM cells ORDER BY event_type, isodow""")),

    // ---- O110: dedup threshold sweep ---------------------------------------
    // The savings curve behind the dedup knob: for each Jaccard cutoff,
    // how many verified pairs survive, how many docs the keep-lowest-id
    // greedy drops, and the token budget recovered. Reuses the PPJoin
    // verified pairs (lossless for J ≥ 0.5); the sweep is a row-local
    // explode — no joins multiply, thresholds restore by equi-join from
    // a literal 5-row frame.
    DeclaredQuery("dedup_threshold_sweep",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // the verified pair frame feeds both the pair counter and the
        // drop ledger — land it so PPJoin runs once.
        val pairs = graft.relational.Stages.materialize(
          graft.dedup.Dedup.prefixJaccardPairs(
            docs, "doc_id", "text", shingleN = 3, minJaccard = 0.5),
          "sweep_pairs")
        val f = pairs
          .withColumn("thr",
            explode(array(Seq(500, 600, 700, 800, 900).map(lit): _*)))
          .filter(col("jaccard") >= col("thr").cast("double") / 1000.0)
        val np = f.groupBy(col("thr")).agg(count(lit(1)).as("n_pairs"))
        val ds = f.select(col("thr"), col("id2")).distinct()
          .join(docs.select(col("doc_id").as("id2"),
            size(split(col("text"), " ")).cast("long").as("tok")), Seq("id2"))
          .groupBy(col("thr"))
          .agg(count(lit(1)).as("docs_dropped"),
            sum(col("tok")).as("tokens_saved"))
        s.range(5, 10).select((col("id") * 100).cast("int").as("thr"))
          .join(np, Seq("thr"), "left").join(ds, Seq("thr"), "left")
          .select(col("thr").cast("long").as("threshold_permille"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("docs_dropped"), lit(0L)).as("docs_dropped"),
            coalesce(col("tokens_saved"), lit(0L)).as("tokens_saved"))
          .orderBy(col("threshold_permille"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        $shingleSets,
        $shinglePairs,
        pj AS (SELECT id1, id2, inter / (na + nb - inter) AS j FROM p
               WHERE inter / (na + nb - inter) >= 0.5),
        thr AS (SELECT 500 + 100 * i AS t FROM range(5) r(i)),
        f AS (SELECT t, id1, id2 FROM thr JOIN pj
              ON j >= CAST(t AS DOUBLE) / 1000),
        np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1),
        dr AS (SELECT DISTINCT t, id2 FROM f),
        tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                  AS tok FROM documents),
        ds AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS docs_dropped,
                 CAST(SUM(tok) AS BIGINT) AS tokens_saved
               FROM dr JOIN tok ON id2 = doc_id GROUP BY 1)
        SELECT CAST(thr.t AS BIGINT) AS threshold_permille,
          COALESCE(np.n_pairs, 0) AS n_pairs,
          COALESCE(ds.docs_dropped, 0) AS docs_dropped,
          COALESCE(ds.tokens_saved, 0) AS tokens_saved
        FROM thr LEFT JOIN np ON thr.t = np.t
        LEFT JOIN ds ON thr.t = ds.t
        ORDER BY threshold_permille""")),

    // ---- O110b: threshold sweep on a deterministic doc sample --------------
    // The 100 TB posture for the sweep (the O140b/O111b discipline): the
    // SAME savings curve on the deterministic 1-in-2 md5(doc_id) sample —
    // identical rows in both engines at any scale, exact-pair cost down
    // ~sample-rate² — so the knob is tuned on the sample and the chosen
    // threshold applied full-corpus. Pair survival at each cutoff is a
    // per-pair property (both endpoints sampled together or the pair is
    // absent), so the CURVE SHAPE — the ratio between adjacent thresholds,
    // which is what the knob decision reads — is an unbiased estimate; the
    // absolute token ledger scales by ~the pair sampling rate.
    DeclaredQuery("dedup_threshold_sweep_sampled",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(
          pmod(graft.functions.HashFunctions.md5Bits60(
            col("doc_id").cast("string")), lit(2L)) === 0L)
        val pairs = graft.relational.Stages.materialize(
          graft.dedup.Dedup.prefixJaccardPairs(
            docs, "doc_id", "text", shingleN = 3, minJaccard = 0.5),
          "sweep_pairs_sampled")
        val f = pairs
          .withColumn("thr",
            explode(array(Seq(500, 600, 700, 800, 900).map(lit): _*)))
          .filter(col("jaccard") >= col("thr").cast("double") / 1000.0)
        val np = f.groupBy(col("thr")).agg(count(lit(1)).as("n_pairs"))
        val ds = f.select(col("thr"), col("id2")).distinct()
          .join(docs.select(col("doc_id").as("id2"),
            size(split(col("text"), " ")).cast("long").as("tok")), Seq("id2"))
          .groupBy(col("thr"))
          .agg(count(lit(1)).as("docs_dropped"),
            sum(col("tok")).as("tokens_saved"))
        s.range(5, 10).select((col("id") * 100).cast("int").as("thr"))
          .join(np, Seq("thr"), "left").join(ds, Seq("thr"), "left")
          .select(col("thr").cast("long").as("threshold_permille"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("docs_dropped"), lit(0L)).as("docs_dropped"),
            coalesce(col("tokens_saved"), lit(0L)).as("tokens_saved"))
          .orderBy(col("threshold_permille"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text FROM documents
          WHERE (${md5Bits60("CAST(doc_id AS VARCHAR)")} % 2) = 0),
        tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
        $shingleSets,
        $shinglePairs,
        pj AS (SELECT id1, id2, inter / (na + nb - inter) AS j FROM p
               WHERE inter / (na + nb - inter) >= 0.5),
        thr AS (SELECT 500 + 100 * i AS t FROM range(5) r(i)),
        f AS (SELECT t, id1, id2 FROM thr JOIN pj
              ON j >= CAST(t AS DOUBLE) / 1000),
        np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1),
        dr AS (SELECT DISTINCT t, id2 FROM f),
        tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                  AS tok FROM d),
        ds AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS docs_dropped,
                 CAST(SUM(tok) AS BIGINT) AS tokens_saved
               FROM dr JOIN tok ON id2 = doc_id GROUP BY 1)
        SELECT CAST(thr.t AS BIGINT) AS threshold_permille,
          COALESCE(np.n_pairs, 0) AS n_pairs,
          COALESCE(ds.docs_dropped, 0) AS docs_dropped,
          COALESCE(ds.tokens_saved, 0) AS tokens_saved
        FROM thr LEFT JOIN np ON thr.t = np.t
        LEFT JOIN ds ON thr.t = ds.t
        ORDER BY threshold_permille""")),

    // ---- O113: trimmed mean beside the raw mean ----------------------------
    // 5%-per-tail trimmed value mean per event type in exact cents (see
    // RobustStats.trimmedMean — the gap to the raw mean is the tail
    // influence).
    DeclaredQuery("trimmed_mean_values",
      (s, dir) => graft.relational.RobustStats
        .trimmedMean(events(s, dir), "event_type", "value", "event_id",
          trimPermille = 50L)
        .orderBy(col("event_type")),
      Some("""WITH c AS (SELECT event_type, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
             FROM events),
        r AS (SELECT event_type, cents,
                ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY cents, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM c),
        t AS (SELECT event_type, cents, rn, n, (n * 50) // 1000 AS tr FROM r)
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_rows,
          CAST(MAX(tr) AS BIGINT) AS n_trimmed_each,
          CAST(SUM(CASE WHEN rn > tr AND rn <= n - tr THEN 1 ELSE 0 END)
            AS BIGINT) AS kept_n,
          CAST(SUM(CASE WHEN rn > tr AND rn <= n - tr THEN cents ELSE 0 END)
            // SUM(CASE WHEN rn > tr AND rn <= n - tr THEN 1 ELSE 0 END)
            AS BIGINT) AS trimmed_mean_cents,
          CAST(SUM(cents) // MAX(n) AS BIGINT) AS raw_mean_cents
        FROM t GROUP BY 1 ORDER BY 1""")),

    // ---- O114: attribution model comparison --------------------------------
    // First-touch, last-touch, and linear credit per channel for the SAME
    // conversions, side by side — the report that shows how much the
    // model choice (not the data) moves the answer. Conversion = the
    // user's first purchase; touches = view/click/signup strictly before
    // it; linear credit in truncating milli-units of 1000 per conversion.
    // Per-user windows only; channel rollup is answer-sized.
    DeclaredQuery("attribution_models_compare",
      (s, dir) => {
        val ev = events(s, dir)
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("__u"))
          .agg(min(col("ts")).as("__cts"))
        val touches = ev
          .filter(col("event_type").isin("view", "click", "signup"))
          .join(conv, col("user_id") === col("__u") && col("ts") < col("__cts"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
        val t = touches
          .withColumn("__n", count(lit(1)).over(w))
          .withColumn("__rf", row_number().over(
            w.orderBy(col("ts"), col("event_id"))))
          .withColumn("__rl", row_number().over(
            w.orderBy(col("ts").desc, col("event_id").desc)))
        t.groupBy(col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_touches"),
            sum(when(col("__rf") === 1, 1L).otherwise(0L)).as("first_credits"),
            sum(when(col("__rl") === 1, 1L).otherwise(0L)).as("last_credits"),
            sum(expr("1000L div __n")).as("linear_credit_milli"))
          .orderBy(col("channel"))
      },
      Some("""WITH conv AS (SELECT user_id AS u, MIN(ts) AS cts
             FROM events WHERE event_type = 'purchase' GROUP BY 1),
        t0 AS (SELECT e.event_type, e.user_id, e.ts, e.event_id
               FROM events e JOIN conv ON e.user_id = conv.u
                 AND e.ts < conv.cts
               WHERE e.event_type IN ('view', 'click', 'signup')),
        t AS (SELECT event_type,
                COUNT(*) OVER (PARTITION BY user_id) AS n,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rf,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rl
              FROM t0)
        SELECT event_type AS channel, COUNT(*) AS n_touches,
          CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS first_credits,
          CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS last_credits,
          CAST(SUM(1000 // n) AS BIGINT) AS linear_credit_milli
        FROM t GROUP BY 1 ORDER BY 1""")),

    // ---- O115: zone-map prune audit ----------------------------------------
    // Does the z-order layout actually buy data skipping? Simulate
    // 500-row row-groups under the natural (ingest) order and the
    // z-order, record each chunk's (min, max) user_id zone map, and
    // count chunks a point predicate can skip. LAYOUT SIMULATION at
    // fixture scale: the global row_number stands in for physical file
    // position — a real table reads chunk ids from file metadata
    // instead; the audit's output is the layout DECISION, which is
    // size-independent.
    DeclaredQuery("zonemap_prune_audit",
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("event_id"), col("user_id"),
            floor(col("value")).cast("long").as("vbin"))
          .withColumn("z",
            graft.relational.Layout.zValue(col("user_id"), col("vbin"),
              bits = graft.relational.Layout.ZBits))
        val natural = ev.withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("event_id"))))
          .withColumn("layout", lit("natural"))
        val zord = ev.withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("z"), col("event_id"))))
          .withColumn("layout", lit("zorder"))
        val zone = natural.unionByName(zord)
          .withColumn("__chunk", expr("(__rn - 1) div 500"))
          .groupBy(col("layout"), col("__chunk"))
          .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
        zone
          .withColumn("probe",
            explode(array(lit(10L), lit(75L), lit(140L))))
          .groupBy(col("layout"), col("probe"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("probe") < col("mn") || col("probe") > col("mx"),
              1L).otherwise(0L)).as("chunks_pruned"))
          .withColumn("chunks_scanned", col("n_chunks") - col("chunks_pruned"))
          .withColumn("prune_permille",
            expr("(1000L * chunks_pruned) div n_chunks"))
          .orderBy(col("layout"), col("probe"))
      },
      Some(s"""WITH b AS (SELECT event_id, user_id,
               CAST(floor(value) AS BIGINT) AS vbin FROM events),
        z AS (SELECT event_id, user_id, vbin,
          ${(0 until graft.relational.Layout.ZBits).map(i =>
            s"(((user_id >> $i) & 1) << ${2 * i}) + (((vbin >> $i) & 1) << ${2 * i + 1})")
            .mkString(" + ")} AS z
          FROM b),
        nat AS (SELECT 'natural' AS layout, user_id,
                 ROW_NUMBER() OVER (ORDER BY event_id) AS rn FROM z),
        zo AS (SELECT 'zorder' AS layout, user_id,
                ROW_NUMBER() OVER (ORDER BY z, event_id) AS rn FROM z),
        u AS (SELECT * FROM nat UNION ALL SELECT * FROM zo),
        zone AS (SELECT layout, (rn - 1) // 500 AS chunk,
                  MIN(user_id) AS mn, MAX(user_id) AS mx
                FROM u GROUP BY 1, 2),
        probes AS (SELECT unnest([10, 75, 140]) AS probe)
        SELECT layout, CAST(probe AS BIGINT) AS probe,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN probe < mn OR probe > mx THEN 1 ELSE 0 END)
            AS BIGINT) AS chunks_pruned,
          CAST(COUNT(*) - SUM(CASE WHEN probe < mn OR probe > mx
            THEN 1 ELSE 0 END) AS BIGINT) AS chunks_scanned,
          CAST((1000 * SUM(CASE WHEN probe < mn OR probe > mx THEN 1 ELSE 0
            END)) // COUNT(*) AS BIGINT) AS prune_permille
        FROM zone CROSS JOIN probes
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- O116: exact Shapley attribution -----------------------------------
    // The coalition-game answer to "which channel actually earns the
    // conversion credit": v(S) = conversions reachable using only the
    // channels in S (user's pre-conversion channel set ⊆ S), and each
    // channel's Shapley value over the 3-channel game — EXACT, carried
    // in sixths (for n = 3 the weights |S|!·(2−|S|)!/3! are 2/6, 1/6,
    // 2/6, so 6·φ is an integer; Shapley 1953). Per-user mask is one
    // keyed aggregation; everything after runs on ≤ 8 coalition rows
    // (subset test m | S = S, bounded self-join for the marginals) —
    // the whole game frame is answer-sized at any data scale.
    DeclaredQuery("shapley_attribution",
      (s, dir) => {
        val ev = events(s, dir)
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("__u"))
          .agg(min(col("ts")).as("__cts"))
        val touches = ev
          .filter(col("event_type").isin("view", "click", "signup"))
          .join(conv, col("user_id") === col("__u") && col("ts") < col("__cts"))
        val masks = touches.groupBy(col("user_id"))
          .agg((max(when(col("event_type") === "view", 1L).otherwise(0L))
            + max(when(col("event_type") === "click", 2L).otherwise(0L))
            + max(when(col("event_type") === "signup", 4L).otherwise(0L)))
            .as("m"))
          .groupBy(col("m")).agg(count(lit(1)).as("cnt"))
        val vS = s.range(8).select(col("id").as("S"))
          .join(broadcast(masks), expr("(m | S) = S"), "left")
          .groupBy(col("S"))
          .agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
        val channels = s.range(3)
          .select((lit(1L) * expr("CAST(pow(2, id) AS BIGINT)")).as("cbit"),
            element_at(array(lit("view"), lit("click"), lit("signup")),
              (col("id") + 1).cast("int")).as("channel"))
        // pairs (S without c, S ∪ {c}) with the n=3 sixth-weights by |S|
        val a = vS.select(col("S").as("S0"), col("v").as("v0"))
        val b = vS.select(col("S").as("S1"), col("v").as("v1"))
        channels
          .join(broadcast(a), expr("(S0 & cbit) = 0"))
          .join(broadcast(b), expr("S1 = (S0 | cbit)"))
          .withColumn("w", expr(
            "CASE bit_count(S0) WHEN 0 THEN 2L WHEN 1 THEN 1L ELSE 2L END"))
          .groupBy(col("channel"))
          .agg(sum(col("w") * (col("v1") - col("v0"))).as("phi_sixths"))
          .join(broadcast(vS.filter(col("S") === 7)
            .select(col("v").as("__vc"))))
          .select(col("channel"), col("phi_sixths"),
            expr("(1000L * phi_sixths) div (6L * __vc)").as("share_milli"),
            col("__vc").as("conversions"))
          .orderBy(col("channel"))
      },
      Some("""WITH conv AS (SELECT user_id AS u, MIN(ts) AS cts
             FROM events WHERE event_type = 'purchase' GROUP BY 1),
        t AS (SELECT e.user_id, e.event_type
              FROM events e JOIN conv ON e.user_id = conv.u
                AND e.ts < conv.cts
              WHERE e.event_type IN ('view', 'click', 'signup')),
        mk AS (SELECT user_id,
                MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
                + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS m
              FROM t GROUP BY 1),
        mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt FROM mk GROUP BY 1),
        co AS (SELECT unnest(range(8)) AS S),
        vS AS (SELECT S, CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS v
               FROM co LEFT JOIN mc ON (mc.m | co.S) = co.S GROUP BY 1),
        ch AS (SELECT 1 AS cbit, 'view' AS channel
               UNION ALL SELECT 2, 'click' UNION ALL SELECT 4, 'signup'),
        marg AS (SELECT ch.channel, a.S AS S0, a.v AS v0, b.v AS v1,
                  CASE bit_count(a.S) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END
                    AS w
                FROM ch JOIN vS a ON (a.S & ch.cbit) = 0
                JOIN vS b ON b.S = (a.S | ch.cbit)),
        phi AS (SELECT channel, CAST(SUM(w * (v1 - v0)) AS BIGINT)
                  AS phi_sixths
                FROM marg GROUP BY 1),
        vc AS (SELECT v AS vc FROM vS WHERE S = 7)
        SELECT channel, phi_sixths,
          CAST((1000 * phi_sixths) // (6 * vc) AS BIGINT) AS share_milli,
          vc AS conversions
        FROM phi CROSS JOIN vc ORDER BY channel""")),

    // ---- O117: Markov removal-effect attribution ---------------------------
    // The data-driven member of the attribution family (Anderl et al.
    // 2014): journeys as a first-order chain (start)→channel→…→(conv)/
    // (null); each channel's credit is how much the (start)→(conv)
    // absorption probability DROPS when journeys can no longer pass
    // through it. Two per-user windows + one (src,dst) count reach the
    // driver as the bounded transition matrix; the 12 value-iteration
    // rounds (BigInt micro, truncating) replay as chained CTEs per
    // scenario.
    DeclaredQuery("markov_attribution",
      (s, dir) => {
        val trans = graft.relational.MarkovAttribution.transitions(
          events(s, dir), "user_id", "event_type", "ts", "event_id",
          Seq("view", "click", "signup"), "purchase")
        graft.relational.MarkovAttribution.attribution(
          trans, Seq("view", "click", "signup"), rounds = 12)
      },
      Some(markovOracle(Seq("view", "click", "signup"), rounds = 12))),

    // ---- O118: daily-count autocorrelation (ACF) ---------------------------
    // Is there a CYCLE in arrivals (weekly cadence → ρ spike at lag 7;
    // trend → slow decay; noise → immediate ≈0) — the third time-series
    // question beside CUSUM's "did the level jump" and Theil–Sen's "what
    // is the trend". One day aggregation, lag pairs by row-local explode
    // + equi-join, DECIMAL(38,0) S-sums, ρ as the one shared IEEE
    // expression (the Correlation discipline).
    DeclaredQuery("daily_count_acf",
      (s, dir) => graft.relational.Autocorr
        .dailyAcf(events(s, dir), "ts", maxLag = 7),
      Some(s"""WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
               FROM events),
        c AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1),
        lg AS (SELECT l.i AS lag, a.day + l.i AS dk, a.c AS x
               FROM c a CROSS JOIN range(1, 8) l(i)),
        p AS (SELECT lag, x, b.c AS y FROM lg JOIN c b ON b.day = lg.dk),
        $lagCorrelation AS acf
        FROM s ORDER BY lag""")),

    // ---- O119: hash-weight bootstrap CI ------------------------------------
    // Per-type mean order value WITH its uncertainty band: the Poisson
    // bootstrap of Chamandy et al. 2012 made deterministic — replicate
    // weight = md5(event_id:b) mod 3 (mean exactly 1), 32 replicates in
    // one row-local explode + keyed agg, band = exact order statistics
    // of the replicate means. No RNG state anywhere; any engine
    // reproduces the same band from the data alone.
    DeclaredQuery("bootstrap_value_ci",
      (s, dir) => graft.relational.Bootstrap.meanCi(
        events(s, dir), "event_type", "event_id", col("value"),
        replicates = 32),
      Some(s"""WITH base AS (SELECT event_type AS g,
                 CAST(event_id AS VARCHAR) AS id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
               FROM events),
        reps AS (SELECT g, c, r.i AS b,
                 ${md5Bits60("id || ':' || CAST(r.i AS VARCHAR)")} % 3 AS w
               FROM base CROSS JOIN range(32) r(i)),
        cell AS (SELECT g, b, CAST(SUM(w) AS BIGINT) AS sw,
                   CAST(SUM(w * c) AS BIGINT) AS swc
                 FROM reps GROUP BY 1, 2),
        means AS (SELECT g, b,
                    (CAST(10000 AS HUGEINT) * swc) // sw AS m FROM cell),
        rk AS (SELECT g, m, ROW_NUMBER() OVER (PARTITION BY g
                 ORDER BY m, b) AS rn FROM means),
        band AS (SELECT g, MAX(CASE WHEN rn = 2 THEN m END) AS lo,
                   MAX(CASE WHEN rn = 31 THEN m END) AS hi
                 FROM rk GROUP BY 1),
        f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows,
                (CAST(10000 AS HUGEINT) * SUM(c)) // COUNT(*) AS mean
              FROM base GROUP BY 1)
        SELECT f.g AS event_type, n_rows, CAST(mean AS BIGINT) AS mean_micro,
          CAST(lo AS BIGINT) AS boot_lo_micro,
          CAST(hi AS BIGINT) AS boot_hi_micro,
          CAST(hi - lo AS BIGINT) AS boot_spread_micro
        FROM f JOIN band USING (g) ORDER BY event_type""")),

    // ---- O120: NDCG ranking-quality audit of the IVF index -----------------
    // recall asks "did the right items come back"; NDCG asks "in the
    // right ORDER, near the top" — an index returning all ten exact hits
    // reversed scores 1000‰ recall but visibly lower NDCG. Graded rel =
    // 11 − exact_rank, integer-bits discount 10⁶ div floor(log₂(pos+1))
    // (the Adamic–Adar discipline) — exact longs end to end.
    DeclaredQuery("ann_ndcg_audit",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val exact = graft.vector.Similarity.bruteForceTopK(
          q, "vec_id", emb, "vec_id", "embedding", k = 10)
          .select(col("qid").cast("long").as("qid"), col("cid"), col("rank"))
        val approx = graft.vector.Similarity.ivfTopK(
          q, "vec_id", emb, "vec_id", "embedding", k = 10,
          nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"), nprobe = 4)
          .select(col("qid").cast("long").as("qid"), col("cid"), col("rank"))
        graft.vector.RankEval.ndcg(exact, approx, k = 10)
      },
      Some(s"""WITH $embeddingsCte,
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        ${exactScores("xsc")},
        xt AS MATERIALIZED (SELECT qid, cid, rk FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
            FROM xsc) t WHERE rk <= 10),
        $ivfSeeds,
        $ivfCass,
        ${ivfQass("qv2", 10)},
        isc AS (
          SELECT DISTINCT q2.qid, c.vec_id AS cid,
            ${cosine("q2.qv2", "c.v")} AS score
          FROM qass q2 JOIN cass c USING (sid) WHERE c.vec_id <> q2.qid),
        it AS (SELECT qid, cid, rk FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
            FROM isc) t WHERE rk <= 10),
        j AS (SELECT it.qid, it.rk AS pos, COALESCE(11 - xt.rk, 0) AS rel
              FROM it LEFT JOIN xt ON xt.qid = it.qid AND xt.cid = it.cid),
        dc AS (SELECT qid,
                 CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                 CAST(SUM(rel * (1000000 // (length(bin(pos + 1)) - 1))) AS BIGINT) AS dcg_micro
               FROM j GROUP BY 1),
        ic AS (SELECT qid,
                 CAST(SUM((11 - rk) * (1000000 // (length(bin(rk + 1)) - 1))) AS BIGINT) AS idcg_micro
               FROM xt GROUP BY 1)
        SELECT dc.qid, n_hits, dcg_micro, idcg_micro,
          CAST((1000 * dcg_micro) // idcg_micro AS BIGINT) AS ndcg_permille
        FROM dc JOIN ic USING (qid) ORDER BY qid""")),

    // ---- O121: analytic LSH S-curve design table ---------------------------
    // The banding trade-off BEFORE a 100 TB run commits: P(candidate |
    // jaccard = s) = 1 − (1 − s^r)^b for every factorization of the
    // 16-hash budget. The curve is one SQL expression string (left-assoc
    // multiply chains, no pow) that the oracle receives VERBATIM, so both
    // engines run the identical IEEE sequence and the doubles hash-match.
    DeclaredQuery("lsh_scurve_plan",
      (s, _) => graft.dedup.LshPlan.sCurve(s),
      Some(s"""WITH cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8)) c(bands, rpb)),
        sg AS (SELECT 50 + 50 * r.i AS s_permille FROM range(19) r(i)),
        d AS (SELECT bands, rpb, s_permille,
                CAST(s_permille AS DOUBLE) / 1000.0 AS sd
              FROM cfg CROSS JOIN sg),
        x AS (SELECT *, ${graft.dedup.LshPlan.srCaseSql(Seq(1, 2, 4, 8))} AS sr FROM d),
        y AS (SELECT *, 1.0 - sr AS tq FROM x),
        z AS (SELECT *, ${graft.dedup.LshPlan.tbCaseSql(Seq(16, 8, 4, 2))} AS tb FROM y)
        SELECT CAST(bands AS BIGINT) AS bands, CAST(rpb AS BIGINT) AS rows_per_band,
          CAST(s_permille AS BIGINT) AS s_permille,
          1.0 - tb AS collision_prob,
          CAST(floor((1.0 - tb) * 1000.0) AS BIGINT) AS collision_permille
        FROM z ORDER BY rows_per_band, s_permille""")),

    // ---- O124: KMV distinct sketch with accuracy audit ---------------------
    // The PORTABLE cardinality sketch beside the built-in HLL++ row: state
    // is "the k smallest 60-bit md5 values" (mergeable by construction,
    // replayable in any engine), estimate = (k−1)·2⁶⁰ div h₍ₖ₎. One
    // distinct agg + bounded-heap TopK; the audit reports the estimate
    // beside the exact distinct-hash count with signed permille error.
    DeclaredQuery("kmv_distinct_estimate",
      (s, dir) => graft.relational.Kmv.distinctAudit(
        events(s, dir), "event_type", "user_id", k = 64),
      Some(s"""WITH h AS (SELECT DISTINCT event_type AS g,
                 ${md5Bits60("CAST(user_id AS VARCHAR)")} AS h
               FROM events),
        rk AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
               FROM h),
        tk AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth_min
               FROM rk WHERE rn <= 64 GROUP BY 1),
        ex AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS exact_distinct
               FROM h GROUP BY 1),
        est AS (SELECT ex.g, exact_distinct, kth_min,
                  CASE WHEN m < 64 THEN m
                       ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976) // kth_min AS BIGINT)
                  END AS kmv_estimate
                FROM ex JOIN tk USING (g))
        SELECT g AS event_type, exact_distinct, kth_min, kmv_estimate,
          CAST((1000 * (kmv_estimate - exact_distinct)) // exact_distinct AS BIGINT)
            AS err_permille
        FROM est ORDER BY event_type""")),

    // ---- O127: HLL register sketch with accuracy audit ----------------------
    // The REGISTER cardinality sketch beside KMV's bottom-k values: 64
    // five-bit maxima, merged by cellwise MAX (no distinct pass — max
    // absorbs duplicates map-side), rank = leading zeros via length(bin(w))
    // (minimal binary string in BOTH engines — never floor(log2)), harmonic
    // sum exactly dyadic at scale 2⁵⁵, α₆₄ = 709/1000 exact rational. The
    // linear-counting branch is intentionally NOT folded in (ln is not
    // portably exact) — its ingredients (empty_registers, small_range) are
    // emitted for the caller; see Hll scaladoc.
    DeclaredQuery("hll_distinct_estimate",
      (s, dir) => graft.relational.Hll.distinctAudit(
        events(s, dir), "event_type", "user_id"),
      Some(s"""WITH h AS (SELECT event_type AS g,
                 ${md5Bits60("CAST(user_id AS VARCHAR)")} AS h
               FROM events),
        rg AS (SELECT g, h // 18014398509481984 AS r,
                 h % 18014398509481984 AS w
               FROM h),
        rr AS (SELECT g, r,
                 MAX(CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END) AS mj
               FROM rg GROUP BY 1, 2),
        $hllEstimate
        SELECT g AS event_type, exact_distinct, empty_registers, hll_estimate,
          hll_estimate <= 160 AND empty_registers > 0 AS small_range,
          CAST((1000 * (hll_estimate - exact_distinct)) // exact_distinct AS BIGINT)
            AS err_permille
        FROM est ORDER BY event_type""")),

    // ---- O127b: HLL small-range correction (linear counting) under the gate --
    // Closes the small-range error band hll rows honestly report: groups
    // flagged small_range (estimate ≤ 5m/2 with empty registers) take the
    // linear-counting estimate m·ln(m/V) instead of the raw harmonic one.
    // ln never runs in either engine — the 64-entry V→round(m·ln(m/V))
    // table is FROZEN literals (StrictMath at definition time, the same
    // constants interpolated into the oracle's VALUES), the same discipline
    // as α₆₄ = 709/1000. Grouping (event_type, day) lands the fixture's
    // cardinalities (42–67 distinct users/group, measured) inside the
    // small-range branch, so the correction is exercised, not asserted —
    // both error bands are emitted: measured at sf0.01, mean |err| falls
    // 401‰ → 74‰ (band +203..+642 → −282..+236; m = 64 keeps per-group
    // variance honest — the point is the bias removal, gated as values).
    DeclaredQuery("hll_linear_counting",
      (s, dir) => {
        val ud = events(s, dir).select(
          concat(col("event_type"), lit("|"),
            to_date(col("ts")).cast("string")).as("g"),
          col("user_id"))
        graft.relational.Hll.withLinearCounting(
          graft.relational.Hll.distinctAudit(ud, "g", "user_id"))
          .orderBy(col("g"))
      },
      Some(s"""WITH h AS (SELECT event_type || '|' || CAST(CAST(ts AS DATE) AS VARCHAR) AS g,
                 ${md5Bits60("CAST(user_id AS VARCHAR)")} AS h
               FROM events),
        rr AS (SELECT g, h // 18014398509481984 AS r,
                 MAX(CASE WHEN h % 18014398509481984 = 0 THEN 55
                     ELSE 55 - length(bin(h % 18014398509481984)) END) AS mj
               FROM h GROUP BY 1, 2),
        $hllEstimate,
        lut(v, lc) AS (VALUES ${graft.relational.Hll.linearCountingValuesSql}),
        jc AS (SELECT est.*,
                 hll_estimate <= 160 AND empty_registers > 0 AS small_range,
                 CASE WHEN hll_estimate <= 160 AND empty_registers > 0
                   THEN l.lc ELSE hll_estimate END AS corrected_estimate
               FROM est LEFT JOIN lut l ON l.v = est.empty_registers)
        SELECT g, exact_distinct, empty_registers, hll_estimate, small_range,
          CAST((1000 * (hll_estimate - exact_distinct)) // exact_distinct
            AS BIGINT) AS err_permille,
          CAST(corrected_estimate AS BIGINT) AS corrected_estimate,
          CAST((1000 * (corrected_estimate - exact_distinct)) // exact_distinct
            AS BIGINT) AS corrected_err_permille
        FROM jc ORDER BY g""")),

    // ---- O133: KMV shard-merge audit -----------------------------------------
    // The distributed-sketch algebra under the gate: sketch 4 portable
    // shards independently (split = h mod 4, engine-replayable), merge
    // with one more bottom-k pass, report beside the direct whole-group
    // sketch. Bottom-k merge is EXACT (k-smallest of a union ⊆ union of
    // per-shard k-smallests), so merge_exact must be TRUE on every row —
    // the property a 1000-shard production merge stands on, emitted as an
    // audited value rather than asserted in a spec alone.
    DeclaredQuery("kmv_shard_merge",
      (s, dir) => graft.relational.Kmv.mergeAudit(
        events(s, dir), "event_type", "user_id", k = 64, shards = 4),
      Some(s"""WITH h AS (SELECT DISTINCT event_type AS g,
                 ${md5Bits60("CAST(user_id AS VARCHAR)")} AS h
               FROM events),
        sh AS (SELECT g, h, h % 4 AS shard FROM h),
        ps AS (SELECT g, h FROM (
                 SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g, shard
                   ORDER BY h) AS rn FROM sh) t
               WHERE rn <= 64),
        mg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m_merged,
                 MAX(h) AS kth_merged
               FROM (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY h) AS rn FROM ps) t
               WHERE rn <= 64 GROUP BY 1),
        dr AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m_direct,
                 MAX(h) AS kth_direct
               FROM (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY h) AS rn FROM h) t
               WHERE rn <= 64 GROUP BY 1)
        SELECT dr.g AS event_type, m_direct, kth_direct, kth_merged,
          m_merged = m_direct AND kth_merged = kth_direct AS merge_exact,
          CASE WHEN m_direct < 64 THEN m_direct
               ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976) // kth_merged AS BIGINT)
          END AS kmv_estimate
        FROM dr JOIN mg USING (g) ORDER BY event_type""")),

    // ---- O136: portable relative-error quantile sketch ----------------------
    // DDSketch (Masson 2019) on integer bit arithmetic: bucket = exponent
    // (length(bin(v)) — minimal binary both engines, no float log) + top 4
    // mantissa bits, 16 sub-steps per octave → <1/16 relative error, the
    // sketch a ≤16·64-cell mergeable histogram per group. Audited beside
    // the exact lower order statistics (bounded distinct-value probe).
    DeclaredQuery("ddsketch_value_quantiles",
      (s, dir) => graft.relational.DdSketch.quantileAudit(
        events(s, dir).select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", Seq(500, 990)),
      Some("""WITH b AS (SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             FROM events),
        kk AS (SELECT g, CASE WHEN v < 16 THEN v
                 ELSE 16 * length(bin(v)) +
                   (v // (CAST(1 AS BIGINT) << (length(bin(v)) - 5)) - 16)
                 END AS k
               FROM b),
        c AS (SELECT g, k, CAST(COUNT(*) AS BIGINT) AS c FROM kk GROUP BY 1, 2),
        n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
        cum AS (SELECT g, k, SUM(c) OVER (PARTITION BY g ORDER BY k) AS cum
                FROM c),
        q AS (SELECT * FROM (VALUES (500), (990)) q(q_permille)),
        sk AS (SELECT cum.g, q.q_permille, n.n, MIN(cum.k) AS pick
               FROM cum JOIN n USING (g) CROSS JOIN q
               WHERE cum.cum >= (n.n * q.q_permille + 999) // 1000
               GROUP BY 1, 2, 3),
        se AS (SELECT g, q_permille, n,
                 CASE WHEN pick < 16 THEN pick
                      ELSE (16 + pick % 16) *
                        (CAST(1 AS BIGINT) << CAST(pick // 16 - 5 AS INTEGER))
                 END AS sketch_estimate
               FROM sk),
        gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        vc AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum
               FROM gv),
        ex AS (SELECT vc.g, q.q_permille, MIN(vc.v) AS exact_value
               FROM vc JOIN n USING (g) CROSS JOIN q
               WHERE vc.cum >= (n.n * q.q_permille + 999) // 1000
               GROUP BY 1, 2)
        SELECT se.g AS event_type, CAST(se.q_permille AS BIGINT) AS q_permille,
          se.n, se.sketch_estimate, ex.exact_value,
          CASE WHEN ex.exact_value = 0 THEN NULL
               ELSE (1000 * (se.sketch_estimate - ex.exact_value)) // ex.exact_value
          END AS err_permille
        FROM se JOIN ex ON ex.g = se.g AND ex.q_permille = se.q_permille
        ORDER BY event_type, q_permille""")),

    // ---- O136b: DDSketch daily→weekly rollup audit --------------------------
    // The sketch's PRODUCTION pattern gated: per-(type, day) cells land
    // once (≤16·64 cells/group-day), weekly p50/p99 answered by summing
    // CELLS — no raw row re-touched — and audited against the exact
    // weekly order statistic. Week = epoch-day div 7 (pure integers; the
    // engines' week-truncation builtins disagree on boundaries). Every
    // err_permille must sit in the one-sided sketch bound (−62..0‰),
    // spec-asserted row by row.
    DeclaredQuery("ddsketch_weekly_rollup",
      (s, dir) => graft.relational.DdSketch.rollupAudit(
        events(s, dir).select(col("event_type"),
          to_date(col("ts")).as("day"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "day", "cents", Seq(500, 990)),
      Some("""WITH b AS (SELECT event_type AS g,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                 AS BIGINT) AS d,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             FROM events),
        kk AS (SELECT g, d // 7 AS wk, CASE WHEN v < 16 THEN v
                 ELSE 16 * length(bin(v)) +
                   (v // (CAST(1 AS BIGINT) << (length(bin(v)) - 5)) - 16)
                 END AS k
               FROM b),
        c AS (SELECT g, wk, k, CAST(COUNT(*) AS BIGINT) AS c
              FROM kk GROUP BY 1, 2, 3),
        n AS (SELECT g, wk, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1, 2),
        cum AS (SELECT g, wk, k,
                  SUM(c) OVER (PARTITION BY g, wk ORDER BY k) AS cum
                FROM c),
        q AS (SELECT * FROM (VALUES (500), (990)) q(q_permille)),
        sk AS (SELECT cum.g, cum.wk, q.q_permille, n.n, MIN(cum.k) AS pick
               FROM cum JOIN n USING (g, wk) CROSS JOIN q
               WHERE cum.cum >= (n.n * q.q_permille + 999) // 1000
               GROUP BY 1, 2, 3, 4),
        se AS (SELECT g, wk, q_permille, n,
                 CASE WHEN pick < 16 THEN pick
                      ELSE (16 + pick % 16) *
                        (CAST(1 AS BIGINT) << CAST(pick // 16 - 5 AS INTEGER))
                 END AS sketch_estimate
               FROM sk),
        gv AS (SELECT g, d // 7 AS wk, v, CAST(COUNT(*) AS BIGINT) AS c
               FROM b GROUP BY 1, 2, 3),
        vc AS (SELECT g, wk, v,
                 SUM(c) OVER (PARTITION BY g, wk ORDER BY v) AS cum
               FROM gv),
        ex AS (SELECT vc.g, vc.wk, q.q_permille, MIN(vc.v) AS exact_value
               FROM vc JOIN n USING (g, wk) CROSS JOIN q
               WHERE vc.cum >= (n.n * q.q_permille + 999) // 1000
               GROUP BY 1, 2, 3)
        SELECT se.g AS event_type, CAST(se.wk AS BIGINT) AS week,
          CAST(se.q_permille AS BIGINT) AS q_permille, se.n,
          se.sketch_estimate, ex.exact_value,
          CASE WHEN ex.exact_value = 0 THEN NULL
               ELSE (1000 * (se.sketch_estimate - ex.exact_value))
                 // ex.exact_value
          END AS err_permille
        FROM se JOIN ex ON ex.g = se.g AND ex.wk = se.wk
          AND ex.q_permille = se.q_permille
        ORDER BY event_type, week, q_permille"""))
  )

  /** DuckDB replay of [[graft.relational.MarkovAttribution]]: journeys →
    * exact transition counts → `rounds` pinned value-iteration rounds per
    * scenario (base + one per removed channel), each round digit-identical
    * to the driver BigInt arithmetic ((Σ cnt·val) // out, truncating).
    * tr/outc and the per-scenario transition tables are MATERIALIZED —
    * each is referenced once per round and DuckDB would otherwise inline
    * the whole journey derivation into every reference.
    */
  private def markovOracle(channels: Seq[String], rounds: Int): String = {
    val inList = channels.map(c => s"'$c'").mkString(", ")
    val scen: Seq[(String, Option[String])] =
      ("base", None) +: channels.sorted.map(c => (c, Some(c)))
    val trCtes = scen.map {
      case (nm, None) =>
        s"tr_$nm AS MATERIALIZED (SELECT src, dst, cnt FROM tr)"
      case (nm, Some(c)) =>
        s"""tr_$nm AS MATERIALIZED (SELECT src,
             CASE WHEN dst = '$c' THEN '(null)' ELSE dst END AS dst,
             CAST(SUM(cnt) AS BIGINT) AS cnt
           FROM tr WHERE src <> '$c' GROUP BY 1, 2)"""
    }
    val pCtes = scen.flatMap { case (nm, rem) =>
      val p0 = rem match {
        case None =>
          s"p_${nm}_0 AS (SELECT src AS st, CAST(0 AS HUGEINT) AS v FROM outc)"
        case Some(c) =>
          s"p_${nm}_0 AS (SELECT src AS st, CAST(0 AS HUGEINT) AS v " +
            s"FROM outc WHERE src <> '$c')"
      }
      val rks = (1 to rounds).map { k =>
        s"""p_${nm}_$k AS (SELECT t.src AS st,
             CAST(SUM(t.cnt * (CASE WHEN t.dst = '(conv)' THEN 1000000
                  WHEN t.dst = '(null)' THEN 0
                  ELSE COALESCE(p.v, 0) END)) // MAX(o.o) AS HUGEINT) AS v
           FROM tr_$nm t JOIN outc o ON o.src = t.src
           LEFT JOIN p_${nm}_${k - 1} p ON p.st = t.dst
           GROUP BY t.src)"""
      }
      p0 +: rks
    }
    val resRows = channels.sorted.map { c =>
      s"""SELECT '$c' AS channel,
           (SELECT v FROM p_base_$rounds WHERE st = '(start)') AS base_v,
           (SELECT v FROM p_${c}_$rounds WHERE st = '(start)') AS rem_v"""
    }.mkString("\n        UNION ALL ")
    s"""WITH conv AS (SELECT user_id AS u, MIN(ts) AS cts FROM events
             WHERE event_type = 'purchase' GROUP BY 1),
        tch AS (SELECT e.user_id AS u, e.event_type AS ch, e.ts, e.event_id,
                  conv.cts
                FROM events e LEFT JOIN conv ON e.user_id = conv.u
                WHERE e.event_type IN ($inList)
                  AND (conv.cts IS NULL OR e.ts < conv.cts)),
        sq AS (SELECT u, ch, cts,
                 ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY u) AS n,
                 LAG(ch) OVER (PARTITION BY u ORDER BY ts, event_id) AS prev
               FROM tch),
        e1 AS (SELECT COALESCE(prev, '(start)') AS src, ch AS dst FROM sq),
        e2 AS (SELECT ch AS src,
                 CASE WHEN cts IS NULL THEN '(null)' ELSE '(conv)' END AS dst
               FROM sq WHERE rn = n),
        us AS (SELECT DISTINCT user_id AS u FROM events),
        tu AS (SELECT DISTINCT u FROM tch),
        e3 AS (SELECT '(start)' AS src,
                 CASE WHEN conv.cts IS NULL THEN '(null)' ELSE '(conv)' END AS dst
               FROM us LEFT JOIN tu ON us.u = tu.u
               LEFT JOIN conv ON us.u = conv.u
               WHERE tu.u IS NULL),
        tr AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT src, dst FROM e1 UNION ALL SELECT src, dst FROM e2
                    UNION ALL SELECT src, dst FROM e3) uall GROUP BY 1, 2),
        outc AS MATERIALIZED (SELECT src, CAST(SUM(cnt) AS BIGINT) AS o
               FROM tr GROUP BY 1),
        ${trCtes.mkString(",\n        ")},
        ${pCtes.mkString(",\n        ")},
        res AS ($resRows),
        eff AS (SELECT channel, base_v, rem_v,
                  GREATEST(CAST(0 AS HUGEINT), base_v - rem_v) AS ef FROM res),
        tot AS (SELECT CAST(SUM(ef) AS HUGEINT) AS te FROM eff)
        SELECT channel, CAST(base_v AS BIGINT) AS base_conv_micro,
          CAST(rem_v AS BIGINT) AS removal_conv_micro,
          CAST(ef AS BIGINT) AS removal_effect_micro,
          CASE WHEN te > 0 THEN CAST((1000 * ef) // te AS BIGINT) ELSE NULL END
            AS attribution_permille
        FROM eff CROSS JOIN tot ORDER BY channel"""
  }
}
