package graft.queries

/** Named fragments of DuckDB SQL that the declared queries' oracle strings
  * are built from: the one home of every piece of oracle text that more
  * than one query carries.
  *
  *  - Fragments are DuckDB text only. None is derived from a Spark
  *    expression and no Spark `fn` body uses one, so each oracle string
  *    stays an independent implementation of its query.
  *  - Parameters are aliases, column names and literals. No flag picks a
  *    variant; a variant only one query needs stays inline in that query.
  *  - Editing a fragment edits every oracle string that carries it. Dump
  *    `oracle_sql.json` with `graft.Verify` before and after and compare
  *    the two with `tools/oracle_sql_diff.py` (USAGE.md §7).
  *
  * The determinism rules the oracle side obeys (exact decimals, integer
  * sums, one IEEE op per portable fold) are in the [[Dsl]] scaladoc.
  */
object OracleSql {

  /** Dot product of two DOUBLE[] lists as a left-to-right fold: the same
    * summation order as the Spark side's sequential fold, so the double
    * result is bit-identical in both engines.
    */
  def dot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (a, b) -> a + b)"

  /** Cosine similarity of two DOUBLE[] lists with exactly the Spark side's
    * parenthesization: `dot / (sqrt(|a|²) * sqrt(|b|²))`, unwrapped.
    */
  def cosine(a: String, b: String): String =
    s"""${dot(a, b)}
       | / (sqrt(${dot(a, a)})
       |  * sqrt(${dot(b, b)}))""".stripMargin

  /** The portable 60-bit hash: the first 15 hex digits of md5(`x`) as a
    * BIGINT, the value `HashFunctions.md5Bits60` computes.
    */
  def md5Bits60(x: String): String =
    s"CAST(('0x' || substring(md5($x), 1, 15)) AS BIGINT)"

  /** One `(doc_id, t)` row per whitespace-split token of each document, the
    * tokenizer `TextFunctions.tokens` implements. Interpolate as a CTE or
    * subquery body: `tok AS ($tokenize)`.
    */
  val tokenize: String =
    "SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents"

  /** [[tokenize]] plus each token's 1-based position, the token column
    * named `term`: `(doc_id, <term>, pos)`.
    */
  def tokenPositions(term: String): String =
    s"""SELECT doc_id, unnest(string_split(text, ' ')) AS $term,
       |                 generate_subscripts(string_split(text, ' '), 1) AS pos
       |          FROM documents""".stripMargin

  /** The five stopword counts `TextFunctions.langId` scores a document by,
    * as the columns `s_en, s_es, s_fr, s_de, s_zh`.
    */
  val langScores: String =
    """len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS s_en,
      |          len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'de', 'que', 'es'))) AS s_es,
      |          len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'de', 'et', 'est'))) AS s_fr,
      |          len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
      |          len(list_filter(string_split(text, ' '), t -> t IN ('的', '是', '在', '了', '和'))) AS s_zh""".stripMargin

  /** `pred`: the language of the highest of the [[langScores]], the first
    * in score order on ties, `und` when no stopword matched.
    */
  val langPick: String =
    """CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) <= 0 THEN 'und'
      |               WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
      |               WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
      |               WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
      |               WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
      |               ELSE 'zh' END AS pred""".stripMargin

  /** The weights `QualityClassifier` trains, as a CTE chain ending with
    * `wt(t, bp, bn)`: per-token class counts over `tok` with `lang = 'en'`
    * as the positive label, then each token's integer log2 weight per
    * class, ⌊log₂((total + vocab) div (count + 1))⌋. Also leaves
    * `tf(doc_id, t, cnt)` for scoring the documents.
    */
  val nbWeights: String =
    s"""tok AS ($tokenize),
       |        lab AS (SELECT doc_id, lang = 'en' AS pos FROM documents),
       |        tf AS (SELECT doc_id, t, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
       |        cc AS (SELECT t,
       |                 CAST(SUM(CASE WHEN l.pos THEN cnt ELSE 0 END) AS BIGINT) AS cpos,
       |                 CAST(SUM(CASE WHEN l.pos THEN 0 ELSE cnt END) AS BIGINT) AS cneg
       |               FROM tf JOIN lab l USING (doc_id) GROUP BY t),
       |        tot AS (SELECT CAST(SUM(cpos) AS BIGINT) AS tp, CAST(SUM(cneg) AS BIGINT) AS tn,
       |                 COUNT(*) AS v FROM cc),
       |        wt AS (SELECT t, length(bin((tp + v) // (cpos + 1))) - 1 AS bp,
       |                 length(bin((tn + v) // (cneg + 1))) - 1 AS bn
       |               FROM cc CROSS JOIN tot)""".stripMargin

  /** `sc(doc_id, margin_bits)`: each document's classifier margin over
    * [[nbWeights]], negative minus positive bits.
    */
  val nbMargin: String =
    """sc AS (SELECT tf.doc_id, CAST(SUM(cnt * bn) AS BIGINT) - CAST(SUM(cnt * bp) AS BIGINT)
      |                 AS margin_bits
      |               FROM tf JOIN wt USING (t) GROUP BY 1)""".stripMargin

  /** `sc(doc_id, bits_pos, bits_neg)`: each document's per-class bits over
    * [[nbWeights]].
    */
  val nbBits: String =
    """sc AS (SELECT tf.doc_id,
      |                 CAST(SUM(cnt * bp) AS BIGINT) AS bits_pos,
      |                 CAST(SUM(cnt * bn) AS BIGINT) AS bits_neg
      |               FROM tf JOIN wt USING (t) GROUP BY 1)""".stripMargin

  /** `tf(doc_id, t, tf)`: per-document term counts over [[tokenize]], and
    * `p(doc_id, tk, tf)`: the same keyed by each term's [[md5Bits60]].
    */
  val termCounts: String =
    s"""tf AS (
       |        SELECT doc_id, t, COUNT(*) AS tf FROM (
       |          $tokenize)
       |        GROUP BY 1, 2),
       |      p AS (SELECT doc_id, ${md5Bits60("t")} AS tk, tf FROM tf)""".stripMargin

  /** The near-dup graph of `Dedup.cosinePairs` (term-count cosine ≥ 0.9)
    * closed by a recursive CTE, as a chain ending with `r(id, comp)`: each
    * document's component, the least doc_id it reaches.
    */
  val dedupComponents: String =
    s"""$termCounts,
       |      dots AS (
       |        SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(a.tf * b.tf) AS dot
       |        FROM p a JOIN p b USING (tk) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |      norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS s2 FROM tf GROUP BY 1),
       |      pairs AS (
       |        SELECT id1, id2 FROM dots
       |        JOIN norms n1 ON n1.doc_id = id1
       |        JOIN norms n2 ON n2.doc_id = id2
       |        WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n1.s2 AS DOUBLE)) * sqrt(CAST(n2.s2 AS DOUBLE))) >= 0.9),
       |      edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |                UNION ALL SELECT id2, id1 FROM pairs),
       |      nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
       |      r AS (
       |        WITH RECURSIVE rr(id, reach) AS (
       |          SELECT id, id FROM nodes
       |          UNION
       |          SELECT rr.id, e.dst FROM rr JOIN edges e ON e.src = rr.reach)
       |        SELECT id, MIN(reach) AS comp FROM rr GROUP BY id)""".stripMargin

  /** `sh(doc_id, sh)`: each document's distinct word-3-gram shingles, over
    * `tk(doc_id, ts)` holding the split words.
    */
  val shingleSets: String =
    """sh AS (SELECT doc_id,
      |            list_distinct(list_transform(range(1, len(ts) - 1), i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
      |          FROM tk WHERE len(ts) >= 3)""".stripMargin

  private def shingleOverlap(on: String): String =
    s"""p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
       |            CAST(len(a.sh) AS DOUBLE) AS na, CAST(len(b.sh) AS DOUBLE) AS nb
       |          FROM sh a JOIN sh b ON $on)""".stripMargin

  /** `p(id1, id2, inter, na, nb)`: the shingle-set intersection and sizes,
    * as doubles, of every document pair `id1 < id2` over `sh` ([[shingleSets]]).
    */
  val shinglePairs: String = shingleOverlap("a.doc_id < b.doc_id")

  /** [[shinglePairs]] within each (source, lang) block. */
  val blockedShinglePairs: String =
    shingleOverlap("a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id")

  /** lineitem revenue in exact decimal, price · (1 − discount) on the raw
    * 2-decimal columns: the oracle side of `Dsl.revenue`.
    */
  val decimalRevenue: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"

  /** The view → click → purchase funnel report over the per-stage first
    * reach times `f1`, `f2`, `f3`: users per stage and permille of stage 1.
    */
  val funnelReport: String =
    """c AS (SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
      |                COUNT(*) AS n_users FROM f1
      |              UNION ALL SELECT 2, 'click', COUNT(*) FROM f2
      |              UNION ALL SELECT 3, 'purchase', COUNT(*) FROM f3)
      |        SELECT stage_idx, stage, n_users,
      |          (1000 * n_users) // (SELECT n_users FROM c WHERE stage_idx = 1)
      |            AS conv_permille
      |        FROM c ORDER BY stage_idx""".stripMargin

  /** Purchases `p` as-of joined to the same user's clicks `c`; the caller
    * writes the `ON` clause and so picks the direction.
    */
  val purchaseAsofClick: String =
    """FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c""".stripMargin

  /** `converted`: 1 when any of the user's events is a purchase above 200,
    * the experiment queries' conversion metric; aggregate per user.
    */
  val converted: String =
    """MAX(CASE WHEN event_type = 'purchase'
      |                   AND CAST(value AS DECIMAL(12,2)) > 200
      |                   THEN 1 ELSE 0 END) AS converted""".stripMargin

  /** `c(event_type, batch, x)`: per-type event counts in each of the
    * `numBatches` micro-batches `Dsl.replay` cuts the (ts, event_id) order into.
    */
  def batchCounts(numBatches: Int): String =
    s"""o AS (SELECT event_type,
       |               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
       |             FROM events),
       |        n AS (SELECT COUNT(*) AS nn FROM o),
       |        c AS (SELECT event_type, rn // ((nn + ${numBatches - 1}) // $numBatches) AS batch,
       |                CAST(COUNT(*) AS BIGINT) AS x
       |              FROM o CROSS JOIN n GROUP BY 1, 2)""".stripMargin

  /** From HLL registers `rr(g, r, mj)` (64 per group `g`): the register
    * sum `s`, `empty_registers`, `exact_distinct` of `h(g, h)` and the raw
    * estimate, as `est(g, exact_distinct, empty_registers, hll_estimate)`.
    */
  val hllEstimate: String =
    """sm AS (SELECT g,
      |                 CAST(SUM(CAST(1 AS BIGINT) << (55 - mj)) +
      |                   (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s,
      |                 CAST(64 - COUNT(*) AS BIGINT) AS empty_registers
      |               FROM rr GROUP BY 1),
      |        ex AS (SELECT g, CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct
      |               FROM h GROUP BY 1),
      |        est AS (SELECT ex.g, exact_distinct, empty_registers,
      |                  CAST((CAST(709 AS HUGEINT) * 4096 * (CAST(1 AS HUGEINT) << 55))
      |                    // (1000 * CAST(s AS HUGEINT)) AS BIGINT) AS hll_estimate
      |                FROM ex JOIN sm USING (g))""".stripMargin

  /** Pearson's r from exact integer moments `n, sx, sy, sxx, syy, sxy`:
    * one IEEE division by a product of two square roots.
    */
  val pearson: String =
    """CAST(n * sxy - sx * sy AS DOUBLE) /
      |            (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |              sqrt(CAST(n * syy - sy * sy AS DOUBLE)))""".stripMargin

  /** `Correlation.spearman` over the integer pairs `d(x, y)`: mid-ranks
    * doubled to stay integral, then [[pearson]] on the rank moments. A whole
    * query tail: `SELECT n, spearman_rho`.
    */
  val spearmanRho: String =
    s"""gx AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1),
       |        rx AS (SELECT v, 2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2
       |               FROM gx),
       |        gy AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1),
       |        ry AS (SELECT v, 2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2
       |               FROM gy),
       |        j AS (SELECT rx.r2 AS rx, ry.r2 AS ry FROM d
       |              JOIN rx ON d.x = rx.v JOIN ry ON d.y = ry.v),
       |        a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |                CAST(SUM(rx) AS HUGEINT) AS sx,
       |                CAST(SUM(ry) AS HUGEINT) AS sy,
       |                CAST(SUM(rx * rx) AS HUGEINT) AS sxx,
       |                CAST(SUM(ry * ry) AS HUGEINT) AS syy,
       |                CAST(SUM(rx * ry) AS HUGEINT) AS sxy
       |              FROM j)
       |        SELECT CAST(n AS BIGINT) AS n,
       |          $pearson AS spearman_rho
       |        FROM a""".stripMargin

  /** Per-lag moments of the lagged pairs `p(lag, x, y)`, then
    * `SELECT lag, n_pairs, <r>`: the [[pearson]] r per lag, NULL where a
    * side has no variance. The caller names the r column.
    */
  val lagCorrelation: String =
    s"""s AS (SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
       |                CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
       |                CAST(SUM(x * x) AS HUGEINT) AS sxx,
       |                CAST(SUM(y * y) AS HUGEINT) AS syy,
       |                CAST(SUM(x * y) AS HUGEINT) AS sxy
       |              FROM p GROUP BY 1)
       |        SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       |          CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
       |            $pearson
       |          ELSE NULL END""".stripMargin

  /** The embeddings table as `e(vec_id, v DOUBLE[])`, the first CTE of
    * the vector oracles.
    */
  val embeddingsCte: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  private def nlistOver(rows: String): String =
    s"(SELECT 1 << least(16, length(bin(CAST(COUNT(*) AS BIGINT) - 1)) // 2) FROM $rows)"

  /** DuckDB twin of `Similarity.scaledNlist` over a CTE named `e`:
    * 2^(⌈log₂ n⌉ div 2) cells — √n within √2, integer-exact in both
    * engines, = the historical literal 16 at the sf0.01 gate (n = 500).
    * Interpolate as the LIMIT of every IVF `seeds` CTE so the oracle
    * derives the cell count from the SAME COUNT(*) the Spark side counts,
    * instead of pinning a literal that is only right at one scale factor
    * (the r14 sf1.0 stress finding: fixed nlist makes IVF quadratic).
    */
  val scaledNlist: String = nlistOver("e")

  /** [[scaledNlist]] over the `vec_id < 250` snapshot that
    * `ivf_incremental_assign` seeds its cells from.
    */
  val scaledNlistSnapshot: String = nlistOver("e WHERE vec_id < 250")

  /** `<name>(qid, cid, score)`: the exact cosine of every query `q(qid, qv)`
    * against every other vector of `e`, the brute-force side of a recall audit.
    */
  def exactScores(name: String): String =
    s"""$name AS (SELECT qid, e.vec_id AS cid,
       |            ${cosine("qv", "v")} AS score
       |          FROM e CROSS JOIN q WHERE e.vec_id <> qid)""".stripMargin

  /** The top-`k` answer of a kNN oracle over `sc(qid, cid, score)`: rank by
    * score, ties to the lower cid, as `(qid, rk, cid, score)`.
    */
  def topK(k: Int): String =
    s"""r AS (SELECT qid, cid, score,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk FROM sc)
       |SELECT qid, rk, cid, score FROM r WHERE rk <= $k ORDER BY qid, rk""".stripMargin

  /** IVF cell seeds `seeds(sid, sv)`: the [[scaledNlist]] lowest-id
    * vectors of `e`, the cells `Similarity.ivfTopK` builds.
    */
  val ivfSeeds: String =
    s"seeds AS (SELECT vec_id AS sid, v AS sv FROM e ORDER BY vec_id LIMIT $scaledNlist)"

  /** `cass(vec_id, v, sid)`: every vector's cell, the seed of highest
    * cosine, ties to the lower seed id.
    */
  val ivfCass: String =
    s"""cass AS (
       |          SELECT vec_id, v, sid FROM (
       |            SELECT e.vec_id, e.v, s.sid,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |                ${cosine("e.v", "s.sv")}
       |                DESC, s.sid) AS rn
       |            FROM e CROSS JOIN seeds s) t WHERE rn = 1)""".stripMargin

  /** `qass(qid, <qv>, sid)`: the 4 probed cells (nprobe = 4) of each query
    * vector `vec_id < maxQid`, by the [[ivfCass]] ranking.
    */
  def ivfQass(qv: String, maxQid: Int): String =
    s"""qass AS (
       |          SELECT qid, $qv, sid FROM (
       |            SELECT e.vec_id AS qid, e.v AS $qv, s.sid,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |                ${cosine("e.v", "s.sv")}
       |                DESC, s.sid) AS rn
       |            FROM e CROSS JOIN seeds s WHERE e.vec_id < $maxQid) t WHERE rn <= 4)""".stripMargin

  /** `scored(qid, cid, score)`: the cosine of each query against every
    * other vector in its probed cells.
    */
  val ivfScored: String =
    s"""scored AS MATERIALIZED (
       |          SELECT DISTINCT q.qid, c.vec_id AS cid,
       |            ${cosine("q.qv", "c.v")} AS score
       |          FROM qass q JOIN cass c USING (sid) WHERE c.vec_id <> q.qid)""".stripMargin

  /** DuckDB CTE chain replaying `Dsl.knnEdges` (IVF nlist=scaledNlist(n)
    * nprobe=4 k=3, cosine): every vector is a query. Interpolate as
    * `s"WITH $knnCte, ..."`; it ends with the `knn(qid, cid)` CTE.
    */
  val knnCte: String =
    s"""$embeddingsCte,
       |        $ivfSeeds,
       |        $ivfCass,
       |        qass AS (
       |          SELECT qid, qv, sid FROM (
       |            SELECT e.vec_id AS qid, e.v AS qv, s.sid,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |                ${cosine("e.v", "s.sv")}
       |                DESC, s.sid) AS rn
       |            FROM e CROSS JOIN seeds s) t WHERE rn <= 4),
       |        $ivfScored,
       |        knn AS MATERIALIZED (SELECT qid, cid FROM (
       |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
       |            FROM scored) t WHERE rk <= 3)""".stripMargin

  /** [[knnCte]] plus the symmetrized-distinct view `Dsl.knnUndirected`
    * lands: the undirected graph the graph-metric oracles run on.
    * Interpolate as `s"WITH $knnUndCte, ..."`; it ends with the
    * `und(a, b)` CTE.
    */
  val knnUndCte: String =
    s"""$knnCte,
       |        und AS MATERIALIZED (SELECT DISTINCT LEAST(qid, cid) AS a, GREATEST(qid, cid) AS b FROM knn)""".stripMargin

  /** The SemDeDup closure over `cass(id, v, cell)`: within-cell pairs of
    * cosine ≥ `threshold`, then `r(id, comp)` by recursive reachability.
    */
  def semdedupComponents(threshold: Double): String =
    s"""pairs AS (SELECT a.id AS id1, b.id AS id2
       |          FROM cass a JOIN cass b ON a.cell = b.cell AND a.id < b.id
       |          WHERE (${cosine("a.v", "b.v")}) >= $threshold),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION ALL SELECT id2, id1 FROM pairs),
       |r AS (WITH RECURSIVE rr(id, reach) AS (
       |        SELECT id, id FROM cass
       |        UNION
       |        SELECT rr.id, edges.dst FROM rr JOIN edges ON edges.src = rr.reach)
       |      SELECT id, MIN(reach) AS comp FROM rr GROUP BY id)""".stripMargin

  /** `e(q)`: every 64-dim embedding on the exact 10⁴ integer grid, and
    * `pos(i)`: the dimension indexes 1..64.
    */
  val quantizedEmbeddings: String =
    """e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |                 x -> CAST(floor(x * 10000) AS BIGINT)) AS q FROM embeddings
      |                 WHERE len(embedding) = 64),
      |        pos AS (SELECT unnest(range(1, 65)) AS i)""".stripMargin

  /** `p(i, j, prod)`: the upper-triangle Gram products of
    * [[quantizedEmbeddings]], one row per vector and dimension pair.
    */
  val gramProducts: String =
    """p AS (SELECT a.i AS i, b.i AS j, q[a.i] * q[b.i] AS prod
      |              FROM e CROSS JOIN pos a CROSS JOIN pos b WHERE a.i <= b.i)""".stripMargin
}
