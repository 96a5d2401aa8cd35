package graft.queries

import org.apache.spark.sql.functions._
import graft.text.TextFunctions._
import graft.text.Sampling
import graft.dedup.{Dedup, MinHash, SimHash}
import graft.vector.Similarity
import graft.multimodal.Multimodal
import Dsl._
import OracleSql._

/** LLM-training-data pipeline surface (SURVEY.md §2.9): text analysis,
  * deduplication (exact / bag / MinHash / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + LSH), multimodal
  * column plumbing.
  *
  * Oracle-checked where the computation is engine-portable (md5, integer
  * ratios, sequential double folds); the seeded-hash operators (MinHash,
  * SimHash, LSH) are rows-only here and get recall/property coverage in
  * ScalaTest instead.
  */
object PipelineQueries {

  private val stops = Seq("the", "a")

  /** Fixed query-term set for the BM25/hybrid retrieval queries (all in the
    * corpus vocabulary).
    */
  private val bm25Terms = Seq("spark", "query", "table", "join")

  /** (doc_id, score): log-free BM25 (k1=1.2, b=0.75) against [[bm25Terms]].
    * Query-term tfs pivot to columns, so the score is ONE fixed-order
    * arithmetic expression per row — each double op appears in the same
    * structural position as in [[bm25OracleCte]], making scores bitwise
    * cross-engine (the tf/df/len/N values are the same integers however
    * they are computed, so the double arithmetic is unchanged).
    *
    * Shape (r12 rewrite): per-doc query-term tf is ROW-LOCAL —
    * `size(filter(tokens, _ = term))` — so the old explode + per-doc
    * groupBy shuffle is gone, and ALL corpus stats (N, Σlen, and df per
    * term = docs with tf>0) collapse into ONE one-row aggregate over the
    * same per-doc frame. The corpus is scanned twice (per-doc frame feeds
    * the stats aggregate and the scoring projection), down from the six
    * scans of the explode/groupBy formulation; no driver-side jobs.
    */
  private def bm25Scores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = graft.text.TextFunctions.tokens(col("text"))
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast("long").as(s"tf$i") }
    val perdoc = docs.select(
      col("doc_id") +: size(toks).cast("long").as("len") +: tfCols: _*)
    val statAggs = Seq(count(lit(1)).as("n"), sum(col("len")).as("totlen")) ++
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0L, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perdoc.agg(statAggs.head, statAggs.tail: _*)
    val nd = col("n").cast("double")
    val termScore = (i: Int) => {
      val dfd = col(s"df$i").cast("double")
      val tfd = coalesce(col(s"tf$i"), lit(0L)).cast("double")
      val lend = col("len").cast("double")
      ((nd - dfd + lit(0.5)) / (dfd + lit(0.5))) *
        ((tfd * lit(2.2)) / (tfd + lit(1.2) *
          (lit(0.25) + lit(0.75) * (lend / (col("totlen").cast("double") / nd)))))
    }
    perdoc.crossJoin(broadcast(stats))
      .withColumn("score", termScore(0) + termScore(1) + termScore(2) + termScore(3))
      .select(col("doc_id"), col("score"))
  }

  /** The BM25 top-100 shortlist, LANDED once per session: `bm25_topk`
    * takes its top-20 from this frame and `hybrid_rrf_topk` ranks it —
    * identical logical plan on both call sites, so `Stages.materialize`'s
    * plan-keyed memo shares one landing (the pair-frame discipline applied
    * to retrieval arms; r11 verdict item 2). Also keeps `Ranks.boundedRank`
    * from duplicating the whole scoring subtree — the probe side re-reads
    * the answer-sized landed parquet instead.
    */
  private def bm25Top100(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.relational.Stages.materialize(
      bm25Scores(tbl(s, dir, "documents"))
        .filter(col("score") > 0.0)
        .orderBy(col("score").desc, col("doc_id")).limit(100), "bm25_top100")

  /** Oracle CTE prefix ending in `scored(doc_id, score)` — the exact SQL
    * mirror of [[bm25Scores]], op for op.
    */
  private val bm25OracleCte: String = {
    val inList = bm25Terms.map(t => s"'$t'").mkString(", ")
    def tfCase(i: Int) =
      s"SUM(CASE WHEN term = '${bm25Terms(i)}' THEN 1 ELSE 0 END) AS tf$i"
    def dfCase(i: Int) =
      s"COUNT(DISTINCT CASE WHEN term = '${bm25Terms(i)}' THEN doc_id END) AS df$i"
    def termExpr(i: Int) =
      s"""((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))
         | * ((CAST(COALESCE(tf$i, 0) AS DOUBLE) * 2.2) / (CAST(COALESCE(tf$i, 0) AS DOUBLE)
         |    + 1.2 * (0.25 + 0.75 * (CAST(len AS DOUBLE)
         |      / (CAST(totlen AS DOUBLE) / CAST(n AS DOUBLE))))))""".stripMargin
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
       |nstat AS (SELECT COUNT(*) AS n, SUM(len) AS totlen FROM lens),
       |qtoks AS (SELECT * FROM toks WHERE term IN ($inList)),
       |dstat AS (SELECT ${(0 until 4).map(dfCase).mkString(", ")} FROM qtoks),
       |tfp AS (SELECT doc_id, ${(0 until 4).map(tfCase).mkString(", ")}
       |        FROM qtoks GROUP BY doc_id),
       |scored AS (SELECT l.doc_id,
       |    ${(0 until 4).map(termExpr).mkString("\n  + ")} AS score
       |  FROM lens l LEFT JOIN tfp USING (doc_id) CROSS JOIN nstat CROSS JOIN dstat)""".stripMargin
  }

  /** The CLIP-stub scored pair frame (source, id, a = floor(cos·1000)),
    * LANDED once per session: the alignment filter and the threshold sweep
    * are two consumers of the identical scoring plan (the O180b pattern —
    * same materialize key, zero recompute), and the stub's three embedding
    * arms + document join run once instead of once per consumer.
    */
  private def clipScoredLanded(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val emb = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val img = graft.multimodal.AlignmentFilter
      .imageEmbeddingStub(emb, "vec_id", "v")
    graft.relational.Stages.materialize(
      emb.join(img, col("vec_id") === img("id"))
        .join(tbl(s, dir, "documents").select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
        .select(col("source"), col("vec_id").as("id"),
          floor(graft.vector.VectorFunctions.cosine(col("v"), col("img_v"))
            * lit(1000.0)).cast("long").as("a")),
      "clip_scored")
  }

  /** DuckDB oracle for the multi-probe LSH top-k, generated with the exact
    * hyperplane double literals the Spark side uses (shortest-repr doubles
    * round-trip, so both engines hold bit-identical planes; bucket bits and
    * cosine re-ranking are then bitwise-portable folds).
    */
  private def sqlBucket(numPlanes: Int, dim: Int): String =
    graft.vector.Similarity.hyperplaneValues(numPlanes, dim).zipWithIndex.map {
      case (p, i) => s"(CASE WHEN ${dot("v", p.mkString("[", ", ", "]"))} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  private def sqlProbes(numPlanes: Int): String =
    ("bucket" +: (0 until numPlanes).map(i => s"xor(bucket, ${1L << i})")).mkString(", ")

  /** Nearest centroid of `cents` (`c`, `cv`) per vector of `src` (`id`,
    * `v`) by the reduced argmin key |c|² − 2·v·c, tie by centroid index.
    */
  private def lloydArgmin(id: String, src: String, cents: String): String =
    s"""SELECT $id, v, c AS cell FROM (
       |  SELECT $src.$id, $src.v, $cents.c, ROW_NUMBER() OVER (PARTITION BY $src.$id
       |    ORDER BY (${dot(s"$cents.cv", s"$cents.cv")}
       |              - 2 * ${dot(s"$src.v", s"$cents.cv")}) ASC, $cents.c) AS rn
       |  FROM $src CROSS JOIN $cents) t WHERE rn = 1""".stripMargin

  /** The first half of one deterministic Lloyd iteration, with `id` naming
    * the vector id: quantized embeddings `e`, the k lowest-id seeds `cb0`,
    * the assignment `a1` and its exact integer per-cell sums `u1`.
    */
  private def lloydCtes(k: Int, id: String): String =
    s"""e AS (SELECT ${if (id == "vec_id") id else s"vec_id AS $id"},
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   x -> CAST(floor(x * 1000000) AS DOUBLE)) AS v
       |  FROM embeddings),
       |cb0 AS (SELECT ROW_NUMBER() OVER (ORDER BY $id) - 1 AS c, v AS cv
       |        FROM e ORDER BY $id LIMIT $k),
       |a1 AS (${lloydArgmin(id, "e", "cb0")}),
       |u1 AS (SELECT cell, dim, SUM(x) AS s, COUNT(*) AS n FROM (
       |    SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a1) t
       |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB oracle replaying one deterministic Lloyd iteration: same init
    * (k lowest-id vectors), same reduced argmin key, exact integer cell
    * sums, single division per mean, final assignment profiled per cell.
    */
  private def kmeansOracleSql(k: Int): String =
    s"""WITH ${lloydCtes(k, "vec_id")},
       |c1 AS (SELECT cell AS c, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cv
       |       FROM u1 GROUP BY 1),
       |a2 AS (${lloydArgmin("vec_id", "e", "c1")})
       |SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n,
       |  CAST(SUM(vec_id) AS BIGINT) AS id_checksum
       |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle replaying SemDeDup end to end: same seed cells (lowest-id
    * vectors), same argmax assignment (cosine DESC, sid tie-break), same
    * within-cell pairs, recursive-CTE component closure, and the same
    * keep-the-centroid-outlier rule (csim ASC, id tie-break).
    */
  private def semdedupOracleSql(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT id AS sid, v AS sv FROM e ORDER BY id LIMIT $scaledNlist),
       |cass AS (SELECT id, v, sid AS cell, csim FROM (
       |    SELECT e.id, e.v, s.sid, (${cosine("e.v", "s.sv")}) AS csim,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY (${cosine("e.v", "s.sv")}) DESC, s.sid) AS rn
       |    FROM e CROSS JOIN seeds s) t WHERE rn = 1),
       |${semdedupComponents(threshold)},
       |k AS (SELECT cass.id, cass.cell, r.comp, cass.csim,
       |        ROW_NUMBER() OVER (PARTITION BY r.comp
       |          ORDER BY cass.csim ASC, cass.id) AS krn
       |      FROM cass JOIN r USING (id))
       |SELECT id, cell, comp, csim,
       |  CAST(CASE WHEN krn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM k ORDER BY id""".stripMargin

  /** DuckDB oracle for the TRAINED SemDeDup composition: one deterministic
    * Lloyd iteration over quantized embeddings (exact integer cell sums,
    * one IEEE division per mean — the kmeans oracle's CTEs verbatim), then
    * the SemDeDup pipeline with the trained centroids as cells (cosine
    * argmax assignment, within-cell pairs, recursive closure, keep the
    * centroid outlier).
    */
  private def semdedupTrainedOracleSql(k: Int, threshold: Double): String = {
    s"""WITH ${lloydCtes(k, "id")},
       |c1 AS (SELECT cell AS sid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS sv
       |       FROM u1 GROUP BY 1),
       |cass AS (SELECT id, v, sid AS cell, csim FROM (
       |    SELECT e.id, e.v, s.sid, (${cosine("e.v", "s.sv")}) AS csim,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY (${cosine("e.v", "s.sv")}) DESC, s.sid) AS rn
       |    FROM e CROSS JOIN c1 s) t WHERE rn = 1),
       |${semdedupComponents(threshold)},
       |kk AS (SELECT cass.id, cass.cell, r.comp, cass.csim,
       |        ROW_NUMBER() OVER (PARTITION BY r.comp
       |          ORDER BY cass.csim ASC, cass.id) AS krn
       |      FROM cass JOIN r USING (id))
       |SELECT id, CAST(cell AS BIGINT) AS cell, comp, csim,
       |  CAST(CASE WHEN krn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM kk ORDER BY id""".stripMargin
  }

  /** DuckDB oracle for PQ/ADC top-k: derives the same deterministic
    * codebooks in SQL (subvectors of the ncode lowest-id vectors, codeword
    * index = rank by vec_id), encodes every vector with the same
    * argmin(dist², codeword-index tie-break), and scores with the same
    * left-assoc sum of per-subspace dots — every term a portable fold.
    *
    * With `nprobe` it is the oracle for the combined IVF+PQ serving path:
    * IVF cells by cosine argmax (tie by seed id), each query probes its
    * `nprobe` best cells (`qass`), and only in-cell pairs are ADC-scored.
    */
  private def pqOracleSql(m: Int, ncode: Int, dim: Int, k: Int, maxQid: Int,
                          nprobe: Option[Int] = None): String = {
    val ds = dim / m
    def sl(v: String, j: Int) = s"list_slice($v, ${j * ds + 1}, ${(j + 1) * ds})"
    val encCtes = (0 until m).map { j =>
      s"""enc_$j AS (SELECT vec_id, c AS code_$j FROM (
         |  SELECT e.vec_id, cb.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |    (${dot(sl("cb.cv", j), sl("cb.cv", j))}
         |     - 2 * ${dot(sl("e.v", j), sl("cb.cv", j))}) ASC, cb.c) AS rn
         |  FROM e CROSS JOIN cb) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val encJoin = (1 until m).foldLeft("enc_0")((acc, j) => s"$acc JOIN enc_$j USING (vec_id)")
    val cbJoins = (0 until m).map(j => s"JOIN cb cb$j ON cb$j.c = x.code_$j").mkString(" ")
    val scoreExpr = (0 until m).map(j => dot(sl("q.qv", j), sl(s"cb$j.cv", j))).mkString(" + ")
    val cb = s"""cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
       |       FROM e ORDER BY vec_id LIMIT $ncode)""".stripMargin
    val (head, x, query, pairs) = nprobe match {
      case None => (cb, encJoin,
        s"q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $maxQid)",
        "x CROSS JOIN q")
      case Some(np) => (
        s"""$ivfSeeds,
           |$cb,
           |cass AS (SELECT vec_id, sid AS cell FROM (
           |    SELECT e.vec_id, s.sid, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |      (${cosine("e.v", "s.sv")}) DESC, s.sid) AS rn
           |    FROM e CROSS JOIN seeds s) t WHERE rn = 1)""".stripMargin,
        s"cass JOIN ($encJoin) USING (vec_id)",
        s"""qass AS (SELECT qid, qv, sid AS cell FROM (
           |    SELECT e.vec_id AS qid, e.v AS qv, s.sid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |      ORDER BY (${cosine("e.v", "s.sv")}) DESC, s.sid) AS rn
           |    FROM e CROSS JOIN seeds s WHERE e.vec_id < $maxQid) t WHERE rn <= $np)""".stripMargin,
        "qass q JOIN x USING (cell)")
    }
    s"""WITH $embeddingsCte,
       |$head,
       |$encCtes,
       |x AS (SELECT * FROM $x),
       |$query,
       |sc AS (SELECT q.qid, x.vec_id AS cid, $scoreExpr AS score
       |       FROM $pairs $cbJoins WHERE x.vec_id <> q.qid),
       |${topK(k)}""".stripMargin
  }

  private def lshOracleSql(numPlanes: Int, dim: Int, k: Int, maxQid: Int): String =
    s"""WITH $embeddingsCte,
       |b AS (SELECT vec_id, v, ${sqlBucket(numPlanes, dim)} AS bucket FROM e),
       |q AS (SELECT vec_id AS qid, v AS qv, unnest([${sqlProbes(numPlanes)}]) AS bucket
       |      FROM b WHERE vec_id < $maxQid),
       |sc AS (SELECT DISTINCT q.qid, c.vec_id AS cid, (${cosine("q.qv", "c.v")}) AS score
       |       FROM q JOIN b c USING (bucket) WHERE c.vec_id <> q.qid),
       |${topK(k)}""".stripMargin

  /** DuckDB oracle for the binary-quantization two-stage path: identical
    * sign-bit packing (the same `1L << i` literals, bit 63 = Long.MinValue,
    * emitted as CAST(... AS BIGINT) so DuckDB keeps the sum in BIGINT),
    * hamming shortlist with (ham, cid) tie-break, exact-cosine rerank.
    */
  private def bqOracleSql(dim: Int, k: Int, rerank: Int, maxQid: Int): String = {
    val bits = (0 until dim).map { i =>
      s"(CASE WHEN v[${i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH $embeddingsCte,
       |c AS (SELECT vec_id, $bits AS code FROM e),
       |q AS (SELECT c.vec_id AS qid, c.code AS qcode, e.v AS qv
       |      FROM c JOIN e USING (vec_id) WHERE c.vec_id < $maxQid),
       |h AS (SELECT q.qid, c.vec_id AS cid, q.qv,
       |        CAST(bit_count(xor(c.code, q.qcode)) AS BIGINT) AS ham,
       |        ROW_NUMBER() OVER (PARTITION BY q.qid
       |          ORDER BY bit_count(xor(c.code, q.qcode)), c.vec_id) AS hrk
       |      FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
       |rr AS (SELECT h.qid, h.cid, h.ham, (${cosine("h.qv", "e.v")}) AS score
       |       FROM h JOIN e ON e.vec_id = h.cid WHERE h.hrk <= $rerank),
       |r AS (SELECT qid, cid, ham, score,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk FROM rr)
       |SELECT qid, rk, cid, ham, score FROM r WHERE rk <= $k ORDER BY qid, rk""".stripMargin
  }

  /** DuckDB oracle replaying the PORTABLE SimHash: distinct-token md5
    * hex-prefix hashes, 60 per-bit majority sums, all-pairs hamming.
    */
  private def portableSimhashOracleSql(maxHamming: Int, maxId: Int): String = {
    val sumsSql = (0 until 60).map(b =>
      s"CAST(SUM((h >> $b) & 1) AS BIGINT) AS s$b").mkString(",\n")
    val fpSql = (0 until 60).map(b =>
      s"(CASE WHEN s$b * 2 > n THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT DISTINCT doc_id AS id, unnest(string_split(text, ' ')) AS t
       |             FROM documents WHERE doc_id < $maxId),
       |h AS (SELECT id, ${md5Bits60("t")} AS h FROM tok),
       |bits AS (SELECT id, COUNT(*) AS n, $sumsSql FROM h GROUP BY id),
       |fp AS (SELECT id, $fpSql AS fp FROM bits)
       |SELECT a.id AS id1, b.id AS id2,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.id < b.id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming
       |ORDER BY id1, id2""".stripMargin
  }

  /** Full-graph component summary closure — shared by dedup_components AND
    * the incremental-merge gate (whose whole claim is that the incremental
    * path reproduces THIS full recompute row for row).
    */
  private val fullCcSummaryOracleSql =
    s"""WITH $dedupComponents
      SELECT comp, COUNT(*) AS n_members, CAST(SUM(id) AS BIGINT) AS id_checksum
      FROM r GROUP BY comp HAVING COUNT(*) > 1 ORDER BY comp"""

  /** DuckDB replay of the PerceptualHash stub chain: the 60-cell token grid,
    * aHash (exact 60·c > Σc cross-multiply) and dHash (neighbor gradient,
    * wrap at 59→0) as 0/1 bit LISTS — the oracle never needs the packed
    * long, so no 1<<59 games — and the all-pairs Hamming frame `p`
    * (fixture-scale; the Spark side's pigeonhole banding is lossless for
    * Hamming ≤ 3, which is what makes the direct definition a valid oracle).
    */
  private def phashOracleCtes(where: String = "", prefix: String = "",
                              lead: Boolean = true): String = {
    val n = 60
    val q = prefix // CTE-name prefix so the block composes with other WITHs
    val sums = (0 until n)
      .map(g => s"SUM(CASE WHEN cell = $g THEN 1 ELSE 0 END) AS c$g")
      .mkString(", ")
    val tot = (0 until n).map(g => s"c$g").mkString(" + ")
    val dbits = (0 until n)
      .map(g => s"CASE WHEN c$g > c${(g + 1) % n} THEN 1 ELSE 0 END")
      .mkString(", ")
    val abits = (0 until n)
      .map(g => s"CASE WHEN $n * c$g > tot THEN 1 ELSE 0 END")
      .mkString(", ")
    s"""${if (lead) "WITH " else ""}${q}tk AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t
       |        FROM documents${if (where.isEmpty) "" else s" WHERE $where"}),
       |${q}h AS (SELECT id, ${md5Bits60("t")} % $n AS cell FROM ${q}tk),
       |${q}g AS (SELECT id, $sums FROM ${q}h GROUP BY id),
       |${q}tt AS (SELECT *, $tot AS tot FROM ${q}g),
       |${q}bits AS (SELECT id, [$dbits] AS db, [$abits] AS ab FROM ${q}tt),
       |${q}p AS (SELECT x.id AS id1, y.id AS id2,
       |        len(list_filter(list_zip(x.db, y.db), z -> z[1] <> z[2])) AS hamming_d,
       |        len(list_filter(list_zip(x.ab, y.ab), z -> z[1] <> z[2])) AS hamming_a
       |      FROM ${q}bits x JOIN ${q}bits y ON x.id < y.id)""".stripMargin
  }

  /** Deterministic 1-in-`den` doc sample predicate on the md5-60 of the id
    * — the SAME rows in both engines at any scale, unlike rand()-style
    * sampling. The audit family's scale path: exact-truth sides that are
    * corpus-quadratic run on the sample with the predicate documented in
    * the row, so the audit stays runnable at 100 TB as the audit it
    * claims to be.
    */
  private def sampleWhere(den: Int): String =
    s"(${md5Bits60("CAST(doc_id AS VARCHAR)")} % $den) = 0"

  /** WITH-chain through the banded rows `bk(id, band, band_key)` — shared
    * by the portable pair oracle and the band-diagnostics oracle so both
    * replay the IDENTICAL md5-derived banding.
    */
  private def portableBandCtes(k: Int, b: Int, where: String = ""): String = {
    val r = k / b
    // mirrors the Spark side: digest g = md5("g:" || h), mins 2g and 2g+1
    // slice hex chars 1-15 and 16-30 of the same digest
    val minsSql = (0 until k).map { i =>
      val (g, off) = (i / 2, 1 + 15 * (i % 2))
      s"MIN(CAST(('0x' || substring(md5('$g:' || CAST(h AS VARCHAR)), $off, 15)) AS BIGINT)) AS m$i"
    }.mkString(",\n")
    val bandSql = (0 until b).map { j =>
      val cat = (j * r until (j + 1) * r).map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ':' || ")
      s"${md5Bits60(cat)} AS b$j"
    }.mkString(",\n")
    val bandUnion = (0 until b)
      .map(j => s"SELECT id, $j AS band, b$j AS band_key FROM bands").mkString(" UNION ALL ")
    s"""WITH tk AS (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM documents
       |       ${if (where.isEmpty) "" else s"WHERE $where"}),
       |sh AS (SELECT id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
       |         i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS s
       |       FROM tk WHERE len(ts) >= 3),
       |hs AS (SELECT DISTINCT id, ${md5Bits60("s")} AS h FROM sh),
       |mins AS (SELECT id, $minsSql FROM hs GROUP BY id),
       |bands AS (SELECT id, $bandSql FROM mins),
       |bk AS ($bandUnion)""".stripMargin
  }

  /** DuckDB replay of the nprobe sweep: ONE widened query-assignment CTE
    * (rn ≤ max nprobe), per-probe-count kNN chains filtered to rn ≤ np,
    * each intersected with the brute-force exact top-3.
    */
  private def nprobeSweepOracleSql(nprobes: Seq[Int], k: Int,
                                   maxQid: Int): String = {
    val perNp = nprobes.map { np =>
      s"""sc$np AS (SELECT DISTINCT q.qid, c.vec_id AS cid,
             ${cosine("q.qv", "c.v")} AS score
           FROM qass q JOIN cass c USING (sid)
           WHERE q.rn <= $np AND c.vec_id <> q.qid),
        kn$np AS (SELECT qid, cid FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY score DESC, cid) AS rk FROM sc$np) t WHERE rk <= $k),
        row$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
            CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM exact x WHERE EXISTS (SELECT 1 FROM kn$np n
            WHERE n.qid = x.qid AND n.cid = x.cid))"""
    }.mkString(",\n        ")
    val union = nprobes.map(np => s"SELECT * FROM row$np").mkString(" UNION ALL ")
    s"""WITH $embeddingsCte,
      $ivfSeeds,
      $ivfCass,
      qass AS (
        SELECT qid, qv, sid, rn FROM (
          SELECT e.vec_id AS qid, e.v AS qv, s.sid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${cosine("e.v", "s.sv")} DESC, s.sid) AS rn
          FROM e CROSS JOIN seeds s WHERE e.vec_id < $maxQid) t
        WHERE rn <= ${nprobes.max}),
      exact AS MATERIALIZED (SELECT qid, cid FROM (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              ${cosine("a.v", "b.v")} DESC, b.vec_id) AS rk
          FROM e a CROSS JOIN e b
          WHERE a.vec_id < $maxQid AND b.vec_id <> a.vec_id) t
        WHERE rk <= $k),
      exn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact),
      $perNp,
      u AS ($union)
      SELECT u.nprobe, u.n_hits,
        CAST((1000 * u.n_hits) // exn.n AS BIGINT) AS recall_permille
      FROM u CROSS JOIN exn ORDER BY u.nprobe"""
  }

  /** DuckDB replay of [[graft.vector.Mmr.rerank]] over the IVF pool: the
    * ivf_topk CTE chain widened to `poolK`, candidate pair cosines, then
    * `select` greedy rounds — each round's pick is ROW_NUMBER over
    * ((score − maxsim)/2 DESC, cid), the identical IEEE expression the
    * Spark side evaluates.
    */
  private def mmrOracleSql(poolK: Int, select: Int, maxQid: Int): String = {
    val rounds = (2 to select).map { r =>
      s"""ms$r AS (SELECT s.qid, s.c1 AS cid, MAX(s.sim) AS ms
           FROM sims s JOIN sel${r - 1} t ON t.qid = s.qid AND t.cid = s.c2
           GROUP BY 1, 2),
        pk$r AS (SELECT qid, cid, score FROM (
            SELECT p.qid, p.cid, p.score,
              ROW_NUMBER() OVER (PARTITION BY p.qid
                ORDER BY (p.score - m.ms) / 2 DESC, p.cid) AS rn
            FROM pool p JOIN ms$r m ON m.qid = p.qid AND m.cid = p.cid
            WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} t
              WHERE t.qid = p.qid AND t.cid = p.cid)) z WHERE rn = 1),
        sel$r AS (SELECT qid, mmr_rank, cid, score FROM sel${r - 1}
          UNION ALL
          SELECT qid, CAST($r AS BIGINT), cid, score FROM pk$r)"""
    }.mkString(",\n        ")
    s"""WITH $embeddingsCte,
      $ivfSeeds,
      $ivfCass,
      ${ivfQass("qv", maxQid)},
      $ivfScored,
      rr AS (SELECT qid, cid, score,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
        FROM scored),
      pool AS MATERIALIZED (SELECT qid, cid, score FROM rr WHERE rk <= $poolK),
      pv AS (SELECT p.qid, p.cid, p.score, e.v FROM pool p
             JOIN e ON e.vec_id = p.cid),
      sims AS MATERIALIZED (SELECT a.qid, a.cid AS c1, b.cid AS c2,
          ${cosine("a.v", "b.v")} AS sim
        FROM pv a JOIN pv b ON a.qid = b.qid AND a.cid <> b.cid),
      sel1 AS (SELECT qid, CAST(1 AS BIGINT) AS mmr_rank, cid, score FROM (
          SELECT qid, cid, score,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
          FROM pool) z WHERE rn = 1),
      $rounds
      SELECT qid, mmr_rank, cid, score FROM sel$select
      ORDER BY qid, mmr_rank"""
  }

  /** DuckDB oracle replaying the PORTABLE MinHash pipeline: identical md5
    * hex-prefix base hashes, seed mixes, band keys, candidate join, and
    * inverted-index Jaccard verify (word-3-gram shingles).
    */
  private def portableMinhashOracleSql(k: Int, b: Int, minJaccard: Double): String = {
    s"""${portableBandCtes(k, b)},
       |cand AS (SELECT DISTINCT a.id AS id1, c.id AS id2
       |         FROM bk a JOIN bk c USING (band, band_key) WHERE a.id < c.id),
       |sizes AS (SELECT id, COUNT(*) AS n FROM hs GROUP BY id),
       |inter AS (SELECT cand.id1, cand.id2, COUNT(*) AS i FROM cand
       |  JOIN hs h1 ON h1.id = cand.id1
       |  JOIN hs h2 ON h2.id = cand.id2 AND h2.h = h1.h
       |  GROUP BY 1, 2)
       |SELECT id1, id2,
       |  CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
       |WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= $minJaccard
       |ORDER BY id1, id2""".stripMargin
  }

  /** Sketch-calibration oracle: the portable pair set (same CTEs as
    * [[portableMinhashOracleSql]]) with the signature ESTIMATE
    * (matching mins / k) set beside the exact verify.
    */
  private def minhashCalibrationOracleSql(k: Int, b: Int,
                                          minJaccard: Double,
                                          where: String = ""): String = {
    val matchSum = (0 until k)
      .map(i => s"CASE WHEN a.m$i = c.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""${portableBandCtes(k, b, where)},
       |cand AS (SELECT DISTINCT x.id AS id1, y.id AS id2
       |         FROM bk x JOIN bk y USING (band, band_key) WHERE x.id < y.id),
       |sizes AS (SELECT id, COUNT(*) AS n FROM hs GROUP BY id),
       |inter AS (SELECT cand.id1, cand.id2, COUNT(*) AS i FROM cand
       |  JOIN hs h1 ON h1.id = cand.id1
       |  JOIN hs h2 ON h2.id = cand.id2 AND h2.h = h1.h
       |  GROUP BY 1, 2),
       |ex AS (SELECT id1, id2,
       |    CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) AS j
       |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
       |  WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= $minJaccard),
       |est AS (SELECT e.id1, e.id2, e.j, ($matchSum) AS matches
       |  FROM ex e JOIN mins a ON a.id = e.id1 JOIN mins c ON c.id = e.id2)
       |SELECT id1, id2,
       |  CAST(floor(j * 1000) AS BIGINT) AS exact_permille,
       |  CAST((1000 * matches) // $k AS BIGINT) AS est_permille,
       |  CAST((1000 * matches) // $k - floor(j * 1000) AS BIGINT) AS err_permille
       |FROM est ORDER BY id1, id2""".stripMargin
  }

  /** Dynamic-prefix LSH pairs oracle (the Similarity.scaledPlanes twin):
    * hyperplaneValues(P) is a PREFIX of hyperplaneValues(maxPlanes) for any
    * P <= maxPlanes (sequential seeded draws), so the SQL interpolates
    * maxPlanes literal planes and ACTIVATES only the first np of them,
    * np = least(maxPlanes, ceil_log2(COUNT(*)) div 2) — the same count the
    * Spark side derives its plane count from. Bucket bits above np stay 0
    * and the multi-probe flips exactly np bits, matching the Spark plan at
    * EVERY scale factor, not just the gate's.
    */
  private def lshPairsOracleSql(maxPlanes: Int, dim: Int, threshold: Double): String = {
    val bucketExpr = graft.vector.Similarity.hyperplaneValues(maxPlanes, dim)
      .zipWithIndex.map { case (pl, i) =>
        s"(CASE WHEN $i < np.p AND ${dot("v", pl.mkString("[", ", ", "]"))} > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    s"""WITH $embeddingsCte,
       |np AS (SELECT least($maxPlanes, length(bin(CAST(COUNT(*) AS BIGINT) - 1)) // 2) AS p FROM e),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e CROSS JOIN np),
       |l AS (SELECT vec_id AS id1, v AS v1,
       |        unnest(list_concat([bucket], list_transform(range(0, (SELECT p FROM np)),
       |          i -> xor(bucket, 1 << CAST(i AS INTEGER))))) AS bucket FROM b),
       |p2 AS (SELECT DISTINCT l.id1, c.vec_id AS id2, (${cosine("l.v1", "c.v")}) AS score
       |      FROM l JOIN b c USING (bucket) WHERE l.id1 < c.vec_id)
       |SELECT id1, id2, score FROM p2 WHERE score >= $threshold ORDER BY id1, id2""".stripMargin
  }

  /** Shared oracle for both centroid formulations: same quantization, same
    * exact integer sums, same single division (unnest + generate_subscripts
    * expand in lockstep at the same nesting level in DuckDB).
    */
  private val centroidOracle =
    """WITH e AS (
        SELECT label, generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
        FROM embeddings),
      s AS (SELECT label, dim, SUM(qv) AS qs, COUNT(*) AS n FROM e GROUP BY 1, 2)
      SELECT label, CAST(dim AS BIGINT) AS dim, n, CAST(qs AS DOUBLE) / n AS qavg
      FROM s ORDER BY label, dim"""

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- F10 per-document token statistics --------------------------------
    DeclaredQuery("text_stats",
      (s, dir) => {
        tbl(s, dir, "documents").select(
          col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          distinctTokenCount(col("text")).cast("long").as("n_distinct"),
          meanTokenLen(col("text")).as("mean_len"),
          stopwordRatio(col("text"), stops).as("stop_ratio"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_distinct(string_split(text, ' '))) AS n_distinct,
        CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'sum') AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_len,
        CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
        FROM documents ORDER BY doc_id""")),

    // ---- Gopher-style duplicate-n-gram repetition signals ------------------
    // Rae et al. 2021 (Gopher, arXiv:2112.11446) drop documents dominated by
    // internal repetition. The DUPLICATE-n-gram fractions (the paper's other
    // repetition family — `doc_repetition_filter` above covers the
    // top-fraction rules): fraction of 2-/3-gram slots occupied by repeats.
    // Pure row-local array math — zero shuffle at any corpus size; a
    // quality gate this cheap belongs fused into the first scan of every
    // curation pipeline. Flag thresholds chosen in the magnitude range of
    // the paper's repetition table (its exact rules are character-fraction
    // variants over 2..10-grams).
    DeclaredQuery("repetition_stats",
      (s, dir) => {
        // total function: a doc too short to have any n-gram repeats nothing
        // (frac 0), rather than emitting a 0/0 null — the oracle's CASE arm
        // is written identically, so sub-n-word docs stay hash-exact too
        def dupFrac(n: Int): org.apache.spark.sql.Column = {
          val grams = shingles(col("text"), n)
          when(size(grams) > 0,
            lit(1.0) - size(array_distinct(grams)).cast("double")
              / size(grams).cast("double"))
            .otherwise(lit(0.0)).as(s"dup_${n}gram_frac")
        }
        tbl(s, dir, "documents")
          .select(col("doc_id"), dupFrac(2), dupFrac(3))
          .withColumn("flagged",
            when(col("dup_2gram_frac") > 0.2
              || col("dup_3gram_frac") > 0.18, 1L).otherwise(0L))
          .orderBy(col("doc_id"))
      },
      Some("""WITH ws AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        d2 AS (SELECT doc_id,
            CASE WHEN len(w) >= 2 THEN
              1.0::DOUBLE - CAST(len(list_distinct(list_transform(range(1, len(w) - 0), i ->
                array_to_string(list_slice(w, i, i + 1), ' ')))) AS DOUBLE)
                / CAST(len(w) - 1 AS DOUBLE)
            ELSE 0.0::DOUBLE END AS dup_2gram_frac FROM ws),
        d3 AS (SELECT doc_id,
            CASE WHEN len(w) >= 3 THEN
              1.0::DOUBLE - CAST(len(list_distinct(list_transform(range(1, len(w) - 1), i ->
                array_to_string(list_slice(w, i, i + 2), ' ')))) AS DOUBLE)
                / CAST(len(w) - 2 AS DOUBLE)
            ELSE 0.0::DOUBLE END AS dup_3gram_frac FROM ws)
        SELECT d2.doc_id, d2.dup_2gram_frac, d3.dup_3gram_frac,
          CAST(CASE WHEN d2.dup_2gram_frac > 0.2
            OR d3.dup_3gram_frac > 0.18 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        FROM d2 JOIN d3 USING (doc_id)
        ORDER BY doc_id""")),

    // ---- F10 corpus term frequency ----------------------------------------
    DeclaredQuery("text_term_freq",
      (s, dir) => {
        tbl(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(25)
      },
      Some("""SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        GROUP BY 1 ORDER BY n DESC, token LIMIT 25""")),

    // ---- PII redaction ----------------------------------------------------
    // The scrub step every curation pipeline runs before packing: mask
    // emails / IPs / phone numbers with stable tokens. Row-local
    // regexp_replace chain — zero shuffle, linear at 100 TB. The corpus has
    // no real PII, so the query plants deterministic PII derived from
    // doc_id (an extra email on every 3rd doc) and hash-compares the
    // REDACTED STRINGS plus per-row match counts against DuckDB running the
    // identical portable patterns (constructs chosen to behave the same in
    // Java regex and RE2; see text/Redact.scala).
    DeclaredQuery("pii_redaction",
      (s, dir) => {
        import graft.text.Redact
        val aug = concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@example.com via "),
          pmod(col("doc_id"), lit(256)), lit(".10.0.1 or 555-01"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" cc admin@corp.org"))
            .otherwise(lit("")),
          lit(" ok"))
        tbl(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"), aug.as("a"))
          .select(col("doc_id"),
            Redact.patternCount(col("a"), Redact.EmailPattern).as("n_email"),
            Redact.patternCount(col("a"), Redact.IPv4Pattern).as("n_ip"),
            Redact.patternCount(col("a"), Redact.PhonePattern).as("n_phone"),
            Redact.redactAll(col("a")).as("clean"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH aug AS (
          SELECT doc_id, text || ' contact u' || doc_id || '@example.com via ' ||
            (doc_id % 256) || '.10.0.1 or 555-01' ||
            lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
            (CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.org' ELSE '' END) ||
            ' ok' AS a
          FROM documents WHERE doc_id < 300)
        SELECT doc_id,
          CAST(len(string_split_regex(a, '${graft.text.Redact.EmailPattern}')) - 1 AS BIGINT) AS n_email,
          CAST(len(string_split_regex(a, '${graft.text.Redact.IPv4Pattern}')) - 1 AS BIGINT) AS n_ip,
          CAST(len(string_split_regex(a, '${graft.text.Redact.PhonePattern}')) - 1 AS BIGINT) AS n_phone,
          regexp_replace(regexp_replace(regexp_replace(a,
            '${graft.text.Redact.EmailPattern}', '<EMAIL>', 'g'),
            '${graft.text.Redact.IPv4Pattern}', '<IP>', 'g'),
            '${graft.text.Redact.PhonePattern}', '<PHONE>', 'g') AS clean
        FROM aug ORDER BY doc_id""")),

    // ---- O34: PII-density quarantine gate ---------------------------------
    // Mask-vs-drop triage: a doc that is MOSTLY contact strings is scraped
    // directory/boilerplate content — masking it leaves token soup, so the
    // gate drops it instead. Density = matches per 100 whitespace tokens
    // (one IEEE division of exact integers), thresholded; planted PII
    // varies by doc (every 5th doc gets a contact block whose size scales
    // with doc_id % 3) so both verdicts occur. Per-source ledger.
    DeclaredQuery("pii_density_gate",
      (s, dir) => {
        import graft.text.Redact
        val aug = when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"),
            lit(" a"), col("doc_id"), lit("@x.io b"), col("doc_id"),
            lit("@y.io"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit(" 10.0.0.1 555-123-4567 c@z.io")).otherwise(lit(""))))
          .otherwise(col("text"))
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"), aug.as("a"))
          .select(col("doc_id"), col("source"),
            Redact.piiMatchCount(col("a")).as("n_pii"),
            Redact.piiDensityPer100(col("a")).as("density"))
          .withColumn("verdict",
            when(col("density") > 5.0, lit("quarantine")).otherwise(lit("keep")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("verdict") === "quarantine", 1L).otherwise(0L))
              .as("n_quarantined"),
            sum(col("n_pii")).as("total_pii"))
          .orderBy(col("source"))
      },
      Some(s"""WITH aug AS (
          SELECT doc_id, source,
            CASE WHEN doc_id % 5 = 0 THEN
              text || ' a' || doc_id || '@x.io b' || doc_id || '@y.io' ||
              (CASE WHEN doc_id % 3 = 0 THEN ' 10.0.0.1 555-123-4567 c@z.io'
                    ELSE '' END)
            ELSE text END AS a
          FROM documents),
        m AS (
          SELECT doc_id, source,
            CAST(len(string_split_regex(a, '${graft.text.Redact.EmailPattern}')) - 1
              + len(string_split_regex(a, '${graft.text.Redact.IPv4Pattern}')) - 1
              + len(string_split_regex(a, '${graft.text.Redact.PhonePattern}')) - 1
              AS BIGINT) AS n_pii,
            CAST(len(string_split(a, ' ')) AS BIGINT) AS nt
          FROM aug)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN CAST(n_pii AS DOUBLE) * 100.0 / CAST(nt AS DOUBLE) > 5.0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
          CAST(SUM(n_pii) AS BIGINT) AS total_pii
        FROM m GROUP BY 1 ORDER BY 1""")),

    // ---- quality scoring --------------------------------------------------
    DeclaredQuery("text_quality",
      (s, dir) => {
        tbl(s, dir, "documents").select(
          col("doc_id"),
          qualityScore(col("text"), stops).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
          CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE) AS nstop
        FROM documents)
        SELECT doc_id,
          0.3::DOUBLE * (nd / nt) + 0.4::DOUBLE * least(1.0::DOUBLE, nt / 100.0::DOUBLE)
            + 0.3::DOUBLE * (1.0::DOUBLE - nstop / nt) AS quality
        FROM c ORDER BY doc_id""")),

    // ---- O156: FORCAST readability profile --------------------------------
    // The readability member of the quality family — FORCAST, not
    // Flesch–Kincaid, because FK needs sentence boundaries and neither this
    // fixture nor much of a real training corpus (logs, listings, tag
    // soups) has them: counting sentences there would be gate theater.
    // Vowel-group syllables via pure regexp_replace length arithmetic
    // (class-only pattern — identical RE2/Java semantics; DuckDB needs the
    // 'g' flag Spark implies), integer-exact milli-grades. Row-local string
    // math, one per-source sum.
    DeclaredQuery("readability_profile",
      (s, dir) => graft.text.Readability
        .profile(tbl(s, dir, "documents"), "text", Seq("source"))
        .orderBy(col("source")),
      Some("""WITH d AS (SELECT source,
               len(string_split(text, ' ')) AS w,
               length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g')) -
                 length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS syl,
               len(list_filter(string_split(lower(text), ' '), t ->
                 length(regexp_replace(t, '[aeiouy]+', 'V', 'g')) -
                   length(regexp_replace(t, '[aeiouy]+', '', 'g')) = 1)) AS mono
             FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(w) AS BIGINT) AS n_words,
          CAST((100 * SUM(syl)) // SUM(w) AS BIGINT) AS syllables_per_100w,
          CAST((1000 * SUM(mono)) // SUM(w) AS BIGINT) AS mono_permille,
          CAST(20000 - (15000 * SUM(mono)) // SUM(w) AS BIGINT)
            AS forcast_grade_milli
        FROM d GROUP BY 1 ORDER BY 1""")),

    // ---- language-ID heuristic --------------------------------------------
    DeclaredQuery("text_lang_id",
      (s, dir) => {
        tbl(s, dir, "documents").select(
          col("doc_id"), col("lang"), langId(col("text")).as("pred"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH h AS (SELECT doc_id, lang,
          $langScores
        FROM documents)
        SELECT doc_id, lang,
          $langPick
        FROM h ORDER BY doc_id""")),

    // ---- document fingerprinting: winnowing (rolling-hash selection) ------
    // MOSS-style: per-position trigram hashes, min per sliding window of 8,
    // distinct survivors = the document's fingerprint set. Hashes are md5
    // hex strings (engine-portable) with lexicographic min; the window-min
    // formulation is codegen'd and scales (no per-doc arrays held).
    DeclaredQuery("winnow_fingerprints",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(0, 7)
        tbl(s, dir, "documents")
          .filter(tokenCount(col("text")) >= 3)
          .select(col("doc_id"),
            posexplode(shingles(col("text"), 3)).as(Seq("pos", "s")))
          .select(col("doc_id"), col("pos"), md5(col("s")).as("h"))
          .withColumn("fp", min(col("h")).over(w))
          .select(col("doc_id"), col("fp")).distinct()
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sh AS (
          SELECT doc_id, ts, generate_subscripts(ts, 1) AS pos0 FROM (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
          WHERE len(ts) >= 3),
        h AS (
          SELECT doc_id, pos0 - 1 AS pos,
            md5(array_to_string(list_slice(ts, pos0, pos0 + 2), ' ')) AS h
          FROM sh WHERE pos0 <= len(ts) - 2),
        fp AS (
          SELECT DISTINCT doc_id,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
          FROM h)
        SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp
        FROM fp GROUP BY 1 ORDER BY 1""")),

    // ---- F9 JSON/map functions --------------------------------------------
    DeclaredQuery("json_map_stats",
      (s, dir) => {
        events(s, dir)
          .select(explode(from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType))).as(Seq("key", "val")))
          .groupBy(col("key"))
          .agg(count(lit(1)).as("n"), sum(col("val")).as("total"),
            min(col("val")).as("vmin"), max(col("val")).as("vmax"))
          .orderBy(col("key"))
      },
      Some("""SELECT key, COUNT(*) AS n,
        CAST(SUM(CAST(props -> key AS BIGINT)) AS BIGINT) AS total,
        MIN(CAST(props -> key AS BIGINT)) AS vmin,
        MAX(CAST(props -> key AS BIGINT)) AS vmax
        FROM (SELECT CAST(props AS JSON) AS props, unnest(json_keys(props)) AS key
              FROM events) t
        GROUP BY 1 ORDER BY 1""")),

    // ---- F10 BPE-ish subword tokenization. The engine splits with
    // lookarounds; RE2 (the oracle's regex engine) has none, so the oracle
    // restates the same boundaries as capture-group replaces — wrap every
    // non-alnum in \x01 separators, then break letter↔digit transitions —
    // and counts the non-empty pieces. Same segmentation, no lookarounds.
    DeclaredQuery("bpeish_token_stats",
      (s, dir) => tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(bpeishTokens(col("text"))).cast("long").as("n_subtokens"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(len(list_filter(string_split(
          regexp_replace(
            regexp_replace(
              regexp_replace(text, '([^a-zA-Z0-9])', chr(1) || '\1' || chr(1), 'g'),
              '([a-zA-Z])([0-9])', '\1' || chr(1) || '\2', 'g'),
            '([0-9])([a-zA-Z])', '\1' || chr(1) || '\2', 'g'),
          chr(1)), x -> x != '')) AS BIGINT) AS n_subtokens
        FROM documents ORDER BY doc_id""")),

    // ---- O1 exact dedup via content fingerprint ---------------------------
    DeclaredQuery("dedup_exact",
      (s, dir) => {
        tbl(s, dir, "documents")
          .groupBy(fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
          .orderBy(col("fp"))
      },
      Some("""SELECT md5(text) AS fp, COUNT(*) AS n, MIN(doc_id) AS keep_id
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- O32: normalized-form fuzzy-exact dedup (C4/CCNet preprocessing) --
    // Casefold + strip non-[a-z0-9 ] + collapse spaces, then hash-group: the
    // re-rendered duplicates (punctuation, casing, spacing variants) that
    // byte-exact dedup misses, still at O(n) hash-groupBy cost — no pair
    // joins. The normalization regex is deliberately ASCII-only so Spark's
    // Java regex and DuckDB's RE2 agree byte-for-byte. Per-source ledger of
    // kept docs (min doc_id per normalized group), plus how many groups the
    // normalization actually MERGED beyond raw md5 (fuzzy-only dups).
    DeclaredQuery("normalized_dedup",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            fingerprint(col("text")).as("raw_fp"),
            graft.text.TextFunctions.normalizedFingerprint(col("text")).as("fp"))
        val k = d.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n"),
            countDistinct(col("raw_fp")).as("n_raw"))
        d.join(k, "fp")
          .filter(col("doc_id") === col("keep_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).as("kept_id_sum"),
            sum(when(col("n_raw") > 1, 1L).otherwise(0L)).as("n_fuzzy_groups"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
          SELECT doc_id, source, md5(text) AS raw_fp,
            md5(trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
              ' +', ' ', 'g'))) AS fp
          FROM documents),
        k AS (SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n,
            COUNT(DISTINCT raw_fp) AS n_raw
          FROM d GROUP BY 1)
        SELECT d.source, COUNT(*) AS n_kept,
          CAST(SUM(d.doc_id) AS BIGINT) AS kept_id_sum,
          CAST(SUM(CASE WHEN k.n_raw > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fuzzy_groups
        FROM d JOIN k ON d.fp = k.fp AND d.doc_id = k.keep_id
        GROUP BY 1 ORDER BY 1""")),

    // ---- O2-lite: order-insensitive bag fingerprint dedup -----------------
    // (the corpus really contains bag-duplicate groups — n > 1 rows appear)
    DeclaredQuery("dedup_bag_fingerprint",
      (s, dir) => {
        tbl(s, dir, "documents")
          .groupBy(bagFingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
          .filter(col("n") > 1)
          .orderBy(col("fp"))
      },
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        COUNT(*) AS n, MIN(doc_id) AS keep_id
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""")),

    // ---- O2 exact n-gram Jaccard pairs (blocked by source+lang) -----------
    DeclaredQuery("ngram_jaccard_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, blockCols = Seq("source", "lang"), minJaccard = 0.1)
        .orderBy(col("id1"), col("id2")),
      // the oracle derives the IDENTICAL 60-bit md5-prefix shingle key the
      // Spark index joins on (block cols fused with chr(31)), so the two
      // engines agree even under a hash collision — the portable-key rule
      Some(s"""WITH tk AS (SELECT doc_id, source, lang, string_split(text, ' ') AS ts FROM documents),
        sh AS (SELECT doc_id, source, lang,
            list_distinct(list_transform(range(1, len(ts) - 1),
              i -> ${md5Bits60("source || chr(31) || lang || chr(31) || array_to_string(list_slice(ts, i, i + 2), ' ')")})) AS sh
          FROM tk WHERE len(ts) >= 3),
        $blockedShinglePairs
        SELECT id1, id2, inter / (na + nb - inter) AS jaccard
        FROM p WHERE inter / (na + nb - inter) >= 0.1 ORDER BY id1, id2""")),

    // Asymmetric CONTAINMENT over the same shingle index: |A∩B|/|A| per
    // direction — the quote/subset signal symmetric Jaccard washes out (a
    // short doc quoted whole inside a long one has jaccard ≈ |A|/|B| but
    // containment 1). Thresholded on the larger direction; lower cut than
    // the jaccard query precisely to surface asymmetric pairs it misses.
    DeclaredQuery("ngram_containment_pairs",
      (s, dir) => Dedup.ngramContainmentPairs(tbl(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, blockCols = Seq("source", "lang"), minContainment = 0.3)
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH tk AS (SELECT doc_id, source, lang, string_split(text, ' ') AS ts FROM documents),
        sh AS (SELECT doc_id, source, lang,
            list_distinct(list_transform(range(1, len(ts) - 1),
              i -> ${md5Bits60("source || chr(31) || lang || chr(31) || array_to_string(list_slice(ts, i, i + 2), ' ')")})) AS sh
          FROM tk WHERE len(ts) >= 3),
        $blockedShinglePairs
        SELECT id1, id2, inter / na AS c12, inter / nb AS c21
        FROM p WHERE GREATEST(inter / na, inter / nb) >= 0.3 ORDER BY id1, id2""")),

    // Cross-source duplicate-overlap matrix: which corpus sources share
    // content — the provenance question a curation team asks before
    // weighting sources (a mirror site shows up as a hot off-diagonal
    // cell). Pairs come from the SAME inverted shingle index as the
    // jaccard query but blocked by lang only, so pairs cross source
    // boundaries; each unordered pair then maps to a canonical
    // (source_a <= source_b) cell. The doc->source joins are answer-sized
    // (pairs, not the corpus), and min/max/count aggregates are
    // order-free, so the matrix is hash-portable.
    DeclaredQuery("source_overlap_matrix",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, blockCols = Seq("lang"), minJaccard = 0.5)
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id1"), col("source").as("s1")), "id1")
          .join(src.select(col("doc_id").as("id2"), col("source").as("s2")), "id2")
          .select(least(col("s1"), col("s2")).as("source_a"),
            greatest(col("s1"), col("s2")).as("source_b"), col("jaccard"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("n_strong"),
            min(col("jaccard")).as("min_jaccard"),
            max(col("jaccard")).as("max_jaccard"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, source, lang, string_split(text, ' ') AS ts FROM documents),
        sh AS (SELECT doc_id, source, lang,
            list_distinct(list_transform(range(1, len(ts) - 1),
              i -> ${md5Bits60("lang || chr(31) || array_to_string(list_slice(ts, i, i + 2), ' ')")})) AS sh
          FROM tk WHERE len(ts) >= 3),
        p AS (SELECT a.source AS sa, b.source AS sb,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
            CAST(len(a.sh) AS DOUBLE) AS na, CAST(len(b.sh) AS DOUBLE) AS nb
          FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id),
        j AS (SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
            inter / (na + nb - inter) AS jaccard
          FROM p WHERE inter / (na + nb - inter) >= 0.5)
        SELECT source_a, source_b, COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong,
          MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
        FROM j GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- O73: cross-lingual duplicate candidates ---------------------------
    // Translated/mirrored content mining: doc pairs in DIFFERENT languages
    // sharing >= 5 distinct 3-grams — the contamination a per-lang dedup
    // (source_overlap_matrix blocks by lang, so its pairs never cross a
    // language) structurally cannot see, and the candidate set a bitext-
    // mining pipeline seeds from. Thresholds on ABSOLUTE shared-shingle
    // count (Dedup.sharedShingleCounts): a 10-shingle overlap is the same
    // evidence at any document length, which jaccard washes out for
    // asymmetric sizes. Rides the SAME landed blockless shingle index as
    // the fastpath containment gate (memo hit — no extra corpus scan).
    DeclaredQuery("crosslingual_dup_candidates",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.sharedShingleCounts(docs, "doc_id", "text",
          shingleN = 3, minShared = 5L)
        val lng = docs.select(col("doc_id"), col("lang"))
        pairs
          .join(lng.select(col("doc_id").as("id1"), col("lang").as("lang1")), "id1")
          .join(lng.select(col("doc_id").as("id2"), col("lang").as("lang2")), "id2")
          .filter(col("lang1") =!= col("lang2"))
          .select(col("id1"), col("id2"), col("lang1"), col("lang2"), col("n_shared"))
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
        sh AS (SELECT doc_id, lang, list_distinct(list_transform(range(1, len(ts) - 1),
            i -> ${md5Bits60("array_to_string(list_slice(ts, i, i + 2), ' ')")})) AS sh
          FROM tk WHERE len(ts) >= 3),
        p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.lang AS lang1, b.lang AS lang2,
            CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT id1, id2, lang1, lang2, n_shared FROM p
        WHERE n_shared >= 5 AND lang1 <> lang2 ORDER BY id1, id2""")),

    // Prefix-filtered exact Jaccard (PPJoin-style): only each doc's rarest
    // shingles generate candidates (lossless for J >= t by the prefix-filter
    // lemma), then one bounded array_intersect verifies each candidate. Same
    // results as the full postings join — the oracle IS the full join.
    DeclaredQuery("prefix_jaccard_pairs",
      // landed: dedup_threshold_sweep materializes this identical PPJoin
      // frame (same memo key) — two gated consumers, the landing rule
      (s, dir) => graft.relational.Stages.materialize(
        Dedup.prefixJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, minJaccard = 0.5), "sweep_pairs")
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        $shingleSets,
        $shinglePairs
        SELECT id1, id2, inter / (na + nb - inter) AS jaccard
        FROM p WHERE inter / (na + nb - inter) >= 0.5 ORDER BY id1, id2""")),

    // ---- O3 exact cosine top-k (sequential double fold — bit-identical) ---
    DeclaredQuery("cosine_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Similarity.bruteForceTopK(q, "vec_id", emb, "vec_id", "embedding", k = 3)
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"), col("score"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH $embeddingsCte,
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        ${exactScores("sc")},
        ${topK(3)}""")),

    // ---- O35: Johnson–Lindenstrauss projection + recall ledger ------------
    // The dimensionality cut a 100 TB ANN pipeline makes BEFORE indexing:
    // 64→16 Rademacher projection (±1 signs from md5(seed:i:j) — trained
    // on nothing, reproducible forever), top-k in the PROJECTED space, and
    // an exact-top-k overlap column quantifying the recall cost of the 4×
    // smaller vectors. Projection is a row-local map of 16 codegen'd
    // vec_dot folds; the oracle embeds the identical literal sign matrix.
    DeclaredQuery("jl_projection_topk",
      (s, dir) => {
        val signs = graft.vector.Projection.rademacherSigns(64, 16, "jl-v1")
        val emb = tbl(s, dir, "embeddings")
          .withColumn("p", graft.vector.Projection.project(
            col("embedding").cast("array<double>"), signs))
        val qs = emb.filter(col("vec_id") < 10)
        val projTop = Similarity.bruteForceTopK(
          qs.select(col("vec_id"), col("p")), "vec_id",
          emb.select(col("vec_id"), col("p")), "vec_id", "p", k = 3)
        val exactTop = Similarity.bruteForceTopK(qs, "vec_id", emb, "vec_id",
          "embedding", k = 3)
        val recall = projTop
          .join(exactTop.select(col("qid"), col("cid")), Seq("qid", "cid"))
          .groupBy(col("qid")).agg(count(lit(1)).as("recall3"))
        projTop
          .join(recall, Seq("qid"), "left")
          .withColumn("recall3", coalesce(col("recall3"), lit(0L)))
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"),
            col("score").as("pscore"), col("recall3"))
          .orderBy(col("qid"), col("rk"))
      },
      Some {
        val signs = graft.vector.Projection.rademacherSigns(64, 16, "jl-v1")
        val m = graft.vector.Projection.signsSqlLiteral(signs)
        s"""WITH $embeddingsCte,
        p AS (SELECT vec_id, v,
            list_transform($m, row ->
              ${dot("v", "row")}) AS pv
          FROM e),
        q AS (SELECT vec_id AS qid, pv AS qp, v AS qv FROM p WHERE vec_id < 10),
        psc AS (SELECT qid, p.vec_id AS cid,
            ${cosine("qp", "pv")} AS score
          FROM p CROSS JOIN q WHERE p.vec_id <> qid),
        pr AS (SELECT qid, cid, score,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
          FROM psc),
        ${exactScores("esc")},
        er AS (SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
          FROM esc),
        rec AS (SELECT pr.qid, COUNT(*) AS recall3
          FROM pr JOIN er ON pr.qid = er.qid AND pr.cid = er.cid
          WHERE pr.rk <= 3 AND er.rk <= 3 GROUP BY 1)
        SELECT pr.qid, pr.rk, pr.cid, pr.score AS pscore,
          COALESCE(rec.recall3, 0) AS recall3
        FROM pr LEFT JOIN rec ON rec.qid = pr.qid
        WHERE pr.rk <= 3 ORDER BY pr.qid, pr.rk"""
      }),

    // PageRank centrality over the k-NN graph — the coreset-selection /
    // representative-sampling signal (a vector central to many neighbors
    // represents its region; herding-style selection keeps high-centrality
    // points first). Determinism is engineered: ranks live in INTEGER
    // micro-units (10⁶ = 1.0), contributions are integer divisions by the
    // constant out-degree, and each round's damped update is pure integer
    // arithmetic — order-free sums, bitwise-portable, no libm anywhere
    // (the quantization pattern from the Dsl scaladoc applied to an
    // iterative graph kernel; rounds replay as chained CTEs in the oracle
    // like bpe_train_merges). The edge build is the IVF coarse-cell path
    // (Similarity.ivfTopK): cell assignment is a shuffle-free map against
    // nlist literal seeds and the candidate join is equi-keyed on cell id —
    // no full-embedding-side broadcast, no O(n²) pair stage, the plan that
    // survives 100× (the oracle replays the identical cells).
    DeclaredQuery("knn_pagerank_centrality",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        // shared landed edge stage (Dsl.knnEdges): one IVF build feeds all
        // four kNN-graph queries in a session
        val edges = knnEdges(s, dir)
          .select(col("qid").as("src"), col("cid").as("dst"))
        val nodes = emb.select(col("vec_id").as("id"))
        var ranks = nodes.withColumn("r", lit(1000000L))
        for (_ <- 1 to 4) {
          val contrib = edges.join(ranks, col("src") === col("id"))
            .select(col("dst").as("id"), expr("r div 3").as("c"))
            .groupBy(col("id")).agg(sum(col("c")).as("cs"))
          ranks = nodes.join(contrib, Seq("id"), "left")
            .select(col("id"),
              (lit(150000L) +
                expr("(850 * coalesce(cs, cast(0 as bigint))) div 1000")).as("r"))
        }
        ranks.orderBy(col("id"))
      },
      Some(s"""WITH $knnCte,
        n AS (SELECT vec_id AS id FROM e),
        r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
        c1 AS (SELECT cid AS id, SUM(r // 3) AS cs FROM knn JOIN r0 ON r0.id = knn.qid GROUP BY 1),
        r1 AS (SELECT n.id, CAST(150000 + (850 * COALESCE(cs, 0)) // 1000 AS BIGINT) AS r
               FROM n LEFT JOIN c1 USING (id)),
        c2 AS (SELECT cid AS id, SUM(r // 3) AS cs FROM knn JOIN r1 ON r1.id = knn.qid GROUP BY 1),
        r2 AS (SELECT n.id, CAST(150000 + (850 * COALESCE(cs, 0)) // 1000 AS BIGINT) AS r
               FROM n LEFT JOIN c2 USING (id)),
        c3 AS (SELECT cid AS id, SUM(r // 3) AS cs FROM knn JOIN r2 ON r2.id = knn.qid GROUP BY 1),
        r3 AS (SELECT n.id, CAST(150000 + (850 * COALESCE(cs, 0)) // 1000 AS BIGINT) AS r
               FROM n LEFT JOIN c3 USING (id)),
        c4 AS (SELECT cid AS id, SUM(r // 3) AS cs FROM knn JOIN r3 ON r3.id = knn.qid GROUP BY 1),
        r4 AS (SELECT n.id, CAST(150000 + (850 * COALESCE(cs, 0)) // 1000 AS BIGINT) AS r
               FROM n LEFT JOIN c4 USING (id))
        SELECT id, r FROM r4 ORDER BY id""")),

    // Contrastive-pair mining: per anchor, the HARDEST positive (most
    // similar same-label vector — the informative anchor-positive pair)
    // and the 3 hardest negatives (most similar OTHER-label vectors — the
    // near-miss pairs a contrastive loss learns most from). Anchors
    // broadcast, candidates stream, and per-(anchor, kind) selection is
    // the bounded-heap TopK — candidate rows never sort, only k·partitions
    // survivors shuffle; ranks are assigned on the answer-sized survivor
    // set (the window partitions a ≤ k-row-per-group frame, not the
    // corpus).
    DeclaredQuery("contrastive_mining",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlab"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("label").as("clab"))
        val scored = c.crossJoin(broadcast(q))
          .filter(col("qid") =!= col("cid"))
          .withColumn("score",
            graft.vector.VectorFunctions.cosine(col("qvec"), col("cvec")))
          .withColumn("kind",
            when(col("clab") === col("qlab"), "pos").otherwise("neg"))
          .select(col("qid"), col("kind"), col("cid"), col("score"))
        val top = graft.relational.TopK.perGroup(scored, Seq("qid", "kind"),
          Seq("score" -> false, "cid" -> true), k = 3)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"), col("kind"))
          .orderBy(col("score").desc, col("cid"))
        top.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("kind") === "neg" || col("rk") === 1L)
          .select(col("qid"), col("kind"), col("rk"), col("cid"), col("score"))
          .orderBy(col("qid"), col("kind"), col("rk"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS qid, label AS qlab, v AS qv FROM e WHERE vec_id < 8),
        sc AS (SELECT qid, e.vec_id AS cid,
            CASE WHEN e.label = qlab THEN 'pos' ELSE 'neg' END AS kind,
            ${cosine("qv", "v")} AS score
          FROM e CROSS JOIN q WHERE e.vec_id <> qid),
        r AS (SELECT qid, kind, cid, score,
            ROW_NUMBER() OVER (PARTITION BY qid, kind ORDER BY score DESC, cid) AS rk
          FROM sc)
        SELECT qid, kind, rk, cid, score FROM r
        WHERE rk <= 3 AND (kind = 'neg' OR rk = 1) ORDER BY qid, kind, rk""")),

    // ---- int8 scalar-quantized similarity (the vector-DB SQ8 path) --------
    // Embeddings quantized per-vector to integer levels in [-127, 127]
    // (symmetric scalar quantization); approximate score = integer dot
    // product rescaled by both scales. At 100 TB this is the storage/compute
    // shape that matters: 4× smaller vectors, integer dot products, and the
    // quantization runs ONCE at ingest (here inline for the oracle). All
    // arithmetic is exact-integer or single IEEE ops, so DuckDB reproduces
    // scores bit-for-bit.
    DeclaredQuery("sq8_cosine_topk",
      (s, dir) => {
        val z = tbl(s, dir, "embeddings")
          .withColumn("ma", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
          .filter(col("ma") > 0)
          .withColumn("q", transform(col("embedding"),
            x => floor(x.cast("double") / col("ma") * 127.0).cast("double")))
          .withColumn("s", col("ma") / 127.0)
          .select(col("vec_id"), col("q"), col("s"))
        val qs = z.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("q").as("qv"), col("s").as("qs"))
        val scored = z.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("qscore",
            graft.vector.VectorFunctions.dot(col("qv"), col("q")) * col("qs") * col("s"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("qscore").desc, col("vec_id"))
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("rk"), col("vec_id").as("cid"), col("qscore"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH $embeddingsCte,
        m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        z AS (SELECT vec_id,
                list_transform(v, x -> CAST(floor(x / ma * 127) AS DOUBLE)) AS q,
                ma / 127 AS s
              FROM m WHERE ma > 0),
        qq AS (SELECT vec_id AS qid, q AS qv, s AS qs FROM z WHERE vec_id < 10),
        sc AS (SELECT qid, z.vec_id AS cid,
            ${dot("qv", "q")}
              * qs * s AS qscore
          FROM z CROSS JOIN qq WHERE z.vec_id <> qid),
        r AS (SELECT qid, cid, qscore,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qscore DESC, cid) AS rk
          FROM sc)
        SELECT qid, rk, cid, qscore FROM r WHERE rk <= 3 ORDER BY qid, rk""")),

    // ---- O5 multimodal plumbing: binary payloads + stub decode ------------
    DeclaredQuery("multimodal_meta",
      (s, dir) => {
        val withMedia = Multimodal.decodeStub(
          Multimodal.attachBinary(tbl(s, dir, "documents"), "text"))
        withMedia
          .groupBy(col("meta.format").as("format"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("meta.bytes")).as("total_bytes"),
            max(col("meta.width")).cast("long").as("max_width"),
            sum(col("meta.n_frames").cast("long")).as("total_frames"))
          .orderBy(col("format"))
      },
      Some("""WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes FROM documents),
        d AS (SELECT doc_id, bytes,
            CASE WHEN bytes % 3 = 0 THEN 'png' WHEN bytes % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
            bytes % 640 + 1 AS width, bytes % 30 + 1 AS n_frames
          FROM m)
        SELECT format, COUNT(*) AS n, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
          CAST(MAX(width) AS BIGINT) AS max_width, CAST(SUM(n_frames) AS BIGINT) AS total_frames
        FROM d GROUP BY 1 ORDER BY 1""")),

    // ---- O5b: the full multimodal prep chain under the oracle -------------
    // decode → aspect-preserving resize to the 224-box → stride-10 frame
    // sampling, chained end to end: the batch-shaping plan a GPU decode
    // stage consumes (frames per format = the decode workload, resized
    // dims = the tensor shape). Every step is the stub's deterministic
    // integer/IEEE arithmetic (floor-of-double-division matches Spark's
    // int cast for positive values), so the whole chain hash-checks —
    // a codec-backed decoder swaps in behind identical signatures.
    DeclaredQuery("multimodal_frame_plan",
      (s, dir) => {
        val frames = Multimodal.sampleFrames(
          Multimodal.resizeStub(
            Multimodal.decodeStub(
              Multimodal.attachBinary(tbl(s, dir, "documents"), "text")),
            maxW = 224, maxH = 224),
          stride = 10)
        frames
          .groupBy(col("meta.format").as("format"))
          .agg(count(lit(1)).as("n_sampled_frames"),
            countDistinct(col("doc_id")).as("n_docs"),
            max(col("meta.width")).cast("long").as("max_w"),
            max(col("meta.height")).cast("long").as("max_h"))
          .orderBy(col("format"))
      },
      Some("""WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n FROM documents),
        d AS (SELECT doc_id,
            CASE WHEN n % 3 = 0 THEN 'png' WHEN n % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
            n % 640 + 1 AS w, (n * 7) % 480 + 1 AS h, n % 30 + 1 AS nf
          FROM m),
        r AS (SELECT doc_id, format, nf,
            GREATEST(CAST(floor(CAST(w * LEAST(224 * h, 224 * w) AS DOUBLE) / (w * h)) AS BIGINT), 1) AS w2,
            GREATEST(CAST(floor(CAST(h * LEAST(224 * h, 224 * w) AS DOUBLE) / (w * h)) AS BIGINT), 1) AS h2
          FROM d)
        SELECT format, CAST(SUM((nf - 1) // 10 + 1) AS BIGINT) AS n_sampled_frames,
          COUNT(*) AS n_docs, MAX(w2) AS max_w, MAX(h2) AS max_h
        FROM r GROUP BY 1 ORDER BY 1""")),

    // ---- O189: embedding decontamination margin audit -----------------------
    // The preamble every embedding-level decontamination needs BEFORE its
    // threshold is trusted: for each benchmark (eval) vector, the nearest
    // corpus cosine — the margin distribution that says whether 0.9 is a
    // cliff or a knife-edge. On this fixture the honest reading is the null
    // one (max cross cosine ≈ 0.49, zero contaminated) — gated as values,
    // the simhash_banding_equiv empty-result discipline. Scale shape is the
    // production one: the EVAL side broadcasts (benchmarks are small by
    // nature), the corpus stays distributed, one per-eval top-1 window.
    DeclaredQuery("decontamination_margin_audit",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val evalSet = emb.filter(col("vec_id") < 50)
        val corpus = emb.filter(col("vec_id") >= 50)
        Similarity.bruteForceTopK(evalSet, "vec_id", corpus, "vec_id",
          "embedding", k = 1, excludeSelf = false)
          .select(col("qid").as("eval_id"),
            col("cid").as("nearest_corpus_id"),
            col("score").as("nearest_cosine"),
            (col("score") >= 0.9).as("contaminated"))
          .orderBy(col("eval_id"))
      },
      Some(s"""WITH $embeddingsCte,
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
        c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id >= 50),
        sc AS (SELECT qid, cid,
            ${cosine("qv", "v")} AS score
          FROM c CROSS JOIN q),
        r AS (SELECT qid, cid, score,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
          FROM sc)
        SELECT qid AS eval_id, cid AS nearest_corpus_id,
          score AS nearest_cosine, score >= 0.9 AS contaminated
        FROM r WHERE rk = 1 ORDER BY eval_id""")),

    // ---- O196: hard-negative mining (contrastive training pairs) ----------
    // The DPR/ANCE mining step: per anchor vector, the top-k HIGH-similarity
    // non-duplicates in the band [0.30, 0.45) — ≥ 0.45 is the potential-dup
    // zone (mining a positive as a negative poisons the loss with false
    // negatives; 1 pair excluded on this fixture), < 0.30 the easy
    // negatives the in-batch sampler gets for free (9891 pruned). Anchors
    // broadcast, band filter prunes BEFORE the per-anchor top-k window; at
    // corpus scale the brute-force scan swaps for the IVF/LSH candidate
    // join with the identical band + window on top.
    DeclaredQuery("hard_negative_mining",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        graft.vector.Mining.hardNegatives(
          emb.filter(col("vec_id") < 20), "vec_id", emb, "vec_id", "v",
          k = 3, loBand = 0.30, hiBand = 0.45)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $embeddingsCte,
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
        sc AS (SELECT qid, vec_id AS cid, (${cosine("qv", "v")}) AS score
               FROM e CROSS JOIN q WHERE vec_id <> qid),
        b AS (SELECT qid, cid, score FROM sc
              WHERE score >= 0.30 AND score < 0.45),
        r AS (SELECT qid, cid, score,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY score DESC, cid) AS rank
              FROM b)
        SELECT qid, CAST(rank AS BIGINT) AS rank, cid, score
        FROM r WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- O202: CLIP-style alignment filter ----------------------------------
    // The LAION/DataComp paired-data curation step: score each
    // (caption, image) pair by embedding cosine, keep above threshold —
    // web-paired captions frequently don't describe their image, and
    // misaligned pairs poison contrastive training. Image encoder is
    // STUBBED as a detection gate (AlignmentFilter scaladoc): matched pairs
    // carry the text embedding itself (cos ≈ 1.0), every id ≡ 3 (mod 10)
    // gets a DIFFERENT doc's embedding (cos ≤ ~0.5 on this fixture), and
    // the 900-milli filter must RECOVER exactly the planted set — the
    // flagged checksum is the assertion. One self equi-join on the derived
    // source id + row-local cosine + keyed ledger; no corpus broadcast.
    DeclaredQuery("clip_alignment_filter",
      (s, dir) => {
        graft.multimodal.AlignmentFilter.ledgerScored(
          clipScoredLanded(s, dir), "id", "source", "a",
          minAlignMilli = 900L)
          .orderBy(col("source"))
      },
      Some(s"""WITH $embeddingsCte,
        nn AS (SELECT COUNT(*) AS n FROM e),
        src AS (SELECT vec_id AS id,
                  CASE WHEN vec_id % 10 = 3 THEN (vec_id + 7) % n
                       ELSE vec_id END AS s
                FROM e CROSS JOIN nn),
        img AS (SELECT src.id, e2.v AS iv
                FROM src JOIN e e2 ON e2.vec_id = src.s),
        p AS (SELECT d.source, e.vec_id AS id,
                CAST(floor((${cosine("e.v", "img.iv")}) * 1000.0) AS BIGINT)
                  AS a
              FROM e JOIN img ON img.id = e.vec_id
              JOIN documents d ON d.doc_id = e.vec_id)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(CASE WHEN a >= 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN a < 900 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_flagged,
          CAST(SUM(CASE WHEN a < 900 THEN id ELSE 0 END) AS BIGINT)
            AS flagged_checksum,
          MIN(a) AS min_align_milli
        FROM p GROUP BY 1 ORDER BY 1""")),

    // ---- O207: alignment-filter threshold sweep ------------------------------
    // The LAION/DataComp decision O202 gates at one point: the kept-share
    // curve over FROZEN thresholds (-100/0/100/900 milli — chosen to carve
    // the fixture's planted-mismatch band, measured [-293, 250] with
    // quartiles -80/-12/76, so every step of the curve moves; 900 is the
    // production cliff) — where the planted mass falls off is how a
    // threshold is actually chosen. Rides the SAME landed scored pair frame as the filter
    // (identical materialize key — zero recompute); one broadcast threshold
    // cross join + one keyed aggregation.
    DeclaredQuery("clip_alignment_sweep",
      (s, dir) => {
        import s.implicits._
        val th = broadcast(Seq(-100L, 0L, 100L, 900L)
          .toDF("threshold_milli"))
        clipScoredLanded(s, dir).crossJoin(th)
          .groupBy(col("threshold_milli"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("a") >= col("threshold_milli"), 1L).otherwise(0L))
              .as("n_kept"),
            sum(when(col("a") < col("threshold_milli"), col("id"))
              .otherwise(0L)).as("flagged_checksum"))
          .select(col("threshold_milli"), col("n_pairs"), col("n_kept"),
            expr("(1000L * n_kept) div n_pairs").as("kept_permille"),
            (col("n_pairs") - col("n_kept")).as("n_flagged"),
            col("flagged_checksum"))
          .orderBy(col("threshold_milli"))
      },
      Some(s"""WITH $embeddingsCte,
        nn AS (SELECT COUNT(*) AS n FROM e),
        src AS (SELECT vec_id AS id,
                  CASE WHEN vec_id % 10 = 3 THEN (vec_id + 7) % n
                       ELSE vec_id END AS s
                FROM e CROSS JOIN nn),
        img AS (SELECT src.id, e2.v AS iv
                FROM src JOIN e e2 ON e2.vec_id = src.s),
        p AS (SELECT e.vec_id AS id,
                CAST(floor((${cosine("e.v", "img.iv")}) * 1000.0) AS BIGINT)
                  AS a
              FROM e JOIN img ON img.id = e.vec_id
              JOIN documents d ON d.doc_id = e.vec_id),
        th AS (SELECT CAST(unnest([-100, 0, 100, 900]) AS BIGINT)
                 AS threshold_milli)
        SELECT threshold_milli, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(CASE WHEN a >= threshold_milli THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
          CAST((1000 * SUM(CASE WHEN a >= threshold_milli THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS kept_permille,
          CAST(SUM(CASE WHEN a < threshold_milli THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
          CAST(SUM(CASE WHEN a < threshold_milli THEN id ELSE 0 END)
            AS BIGINT) AS flagged_checksum
        FROM p CROSS JOIN th GROUP BY 1 ORDER BY 1""")),

    // ---- O183: audio silence-trim ledger -----------------------------------
    // The audio-side curation pass: per-window mean "amplitude" from the
    // stub waveform (deterministic 0-99 per payload token — a codec swap
    // replaces only the amplitude source, MediaAnalysis scaladoc), silent =
    // mean below 30 in exact cross-multiplied integers, lead/trail trims as
    // MIN/MAX of the non-silent window index — no window function, two
    // keyed aggs, per-doc ledger.
    DeclaredQuery("audio_silence_trim",
      (s, dir) => graft.multimodal.MediaAnalysis.silenceTrimStub(
        Multimodal.attachBinary(tbl(s, dir, "documents"), "text"), "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
             FROM documents),
        a AS (SELECT id, pos // 8 AS w,
                ${md5Bits60("t")} % 100 AS amp
              FROM tk),
        wn AS (SELECT id, w, SUM(amp) AS s, COUNT(*) AS n FROM a GROUP BY 1, 2),
        f AS (SELECT id, w, s < 30 * n AS silent FROM wn),
        g AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_windows,
                CAST(SUM(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_silent,
                MIN(CASE WHEN NOT silent THEN w END) AS fw,
                MAX(CASE WHEN NOT silent THEN w END) AS lw
              FROM f GROUP BY 1)
        SELECT id AS doc_id, n_windows, n_silent,
          CAST(COALESCE(fw, n_windows) AS BIGINT) AS lead_trim,
          CAST(CASE WHEN fw IS NULL THEN 0 ELSE n_windows - 1 - lw END
            AS BIGINT) AS trail_trim,
          CAST(CASE WHEN fw IS NULL THEN 0 ELSE lw - fw + 1 END AS BIGINT)
            AS kept_windows
        FROM g ORDER BY doc_id""")),

    // ---- O184: video scene-cut detection ------------------------------------
    // The video-side segmentation pass, as a DETECTION gate: the stub
    // decoder plants shot structure (frames of one shot share a signature,
    // shot length = bytes % 7 + 3 from the decode metadata) and the
    // detector — which sees only the signature stream — recovers it via a
    // per-doc lag window and a Hamming cut threshold. Same-shot hamming is
    // 0, cross-shot ~30 of 60 bits: the margin is real, not an echo of the
    // generator. Per-scene frame sampling is what this ledger feeds.
    DeclaredQuery("video_scene_cuts",
      (s, dir) => graft.multimodal.MediaAnalysis.sceneCutLedger(
        graft.multimodal.MediaAnalysis.frameSignaturesStub(
          Multimodal.attachBinary(tbl(s, dir, "documents"), "text"), "doc_id"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS b
               FROM documents),
        d AS (SELECT doc_id, b % 30 + 1 AS nf, b % 7 + 3 AS sl FROM m),
        fr AS (SELECT doc_id, unnest(range(nf)) AS f, sl FROM d),
        sg AS (SELECT doc_id, f,
                ${md5Bits60("CAST(doc_id AS VARCHAR) || ':' || CAST(f // sl AS VARCHAR)")} AS sig
              FROM fr),
        lg AS (SELECT doc_id, f, sig,
                LAG(sig) OVER (PARTITION BY doc_id ORDER BY f) AS prev
              FROM sg),
        g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
                CAST(SUM(CASE WHEN prev IS NOT NULL AND
                  bit_count(xor(sig, prev)) > 8 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cuts
              FROM lg GROUP BY 1)
        SELECT doc_id, n_frames, n_cuts,
          CAST(n_cuts + 1 AS BIGINT) AS n_scenes,
          CAST((1000 * n_frames) // (n_cuts + 1) AS BIGINT)
            AS mean_scene_len_milli
        FROM g ORDER BY doc_id""")),

    // ---- O180: perceptual-hash image near-dup (aHash + dHash) -------------
    // Image-side dedup over the multimodal binary column: 60-bit aHash and
    // dHash from the deterministic stub pixel grid (PerceptualHash scaladoc
    // has the codec-swap contract), candidates from lossless 4×15-bit
    // pigeonhole banding — never an all-pairs scan. The oracle replays the
    // grid, both hashes, and the Hamming verify; banding losslessness for
    // Hamming ≤ 3 is what lets the oracle use the direct pair definition
    // (the simhash_banding_equiv argument).
    DeclaredQuery("image_phash_neardup",
      (s, dir) => graft.relational.Stages.materialize(
        graft.multimodal.PerceptualHash.nearDupPairs(
          Multimodal.attachBinary(tbl(s, dir, "documents"), "text"),
          "doc_id", maxHamming = 3), "phash_pairs")
        .orderBy(col("id1"), col("id2")),
      Some(s"""${phashOracleCtes()}
        SELECT id1, id2, CAST(hamming_d AS BIGINT) AS hamming_d,
          CAST(hamming_a AS BIGINT) AS hamming_a
        FROM p WHERE hamming_d <= 3 ORDER BY id1, id2""")),

    // ---- O180b: Hamming-threshold sweep beside the near-dup gate ----------
    // The dedup-knob curve for the image side (the dedup_threshold_sweep
    // shape): pairs surviving and docs flagged (distinct higher-id
    // endpoint, keep-lowest-id greedy) at every Hamming cutoff the banding
    // covers. Rides the SAME landed pair frame as image_phash_neardup
    // (identical materialize key) — the banded join runs once per session.
    DeclaredQuery("image_phash_hamming_sweep",
      (s, dir) => {
        val pairs = graft.relational.Stages.materialize(
          graft.multimodal.PerceptualHash.nearDupPairs(
            Multimodal.attachBinary(tbl(s, dir, "documents"), "text"),
            "doc_id", maxHamming = 3), "phash_pairs")
        val f = pairs.withColumn("thr",
          explode(array((0 to 3).map(i => lit(i.toLong)): _*)))
          .filter(col("hamming_d") <= col("thr"))
        val np = f.groupBy(col("thr"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("id2")).as("docs_flagged"))
        s.range(0, 4).select(col("id").as("thr"))
          .join(np, Seq("thr"), "left")
          .select(col("thr").as("max_hamming"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("docs_flagged"), lit(0L)).as("docs_flagged"))
          .orderBy(col("max_hamming"))
      },
      Some(s"""${phashOracleCtes()},
        thr AS (SELECT unnest(range(0, 4)) AS t),
        f AS (SELECT t, id1, id2 FROM thr JOIN p ON hamming_d <= t),
        np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(COUNT(DISTINCT id2) AS BIGINT) AS docs_flagged
               FROM f GROUP BY 1)
        SELECT CAST(thr.t AS BIGINT) AS max_hamming,
          COALESCE(np.n_pairs, 0) AS n_pairs,
          COALESCE(np.docs_flagged, 0) AS docs_flagged
        FROM thr LEFT JOIN np ON thr.t = np.t ORDER BY max_hamming""")),

    // ---- O185: cross-modal dup consistency audit ---------------------------
    // The pipeline sanity check a paired text+image corpus runs after both
    // dedup passes: of the TEXT near-dup pairs (minhash-banded, verified
    // J ≥ 0.5), what share are ALSO image near-dups (pHash Hamming ≤ 3)?
    // A paired corpus whose text dups aren't image dups (or vice versa)
    // has a pairing bug or an aggressive re-encode — either way the number
    // belongs on a dashboard before any dedup verdict is trusted. Pure
    // composition: both pair frames are the landed stages the O2/O180
    // gates already ship (identical materialize keys — nothing recomputes),
    // fused by one answer-sized join.
    DeclaredQuery("crossmodal_dup_consistency",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // the verified J >= 0.5 pair frame now has TWO gated consumers
        // (this audit and minhash_jaccard_calibration) — the landing rule
        // applies; identical call = identical memo key, banding runs once
        val text = graft.relational.Stages.materialize(
          MinHash.nearDupPairsPortable(docs, "doc_id", "text",
            shingleN = 3, numHashes = 16, numBands = 8, minJaccard = 0.5),
          "minhash_pairs_05")
          .select(col("id1"), col("id2"))
        val img = graft.relational.Stages.materialize(
          graft.multimodal.PerceptualHash.nearDupPairs(
            Multimodal.attachBinary(docs, "text"), "doc_id", maxHamming = 3),
          "phash_pairs")
          .select(col("id1"), col("id2"))
        val nText = text.agg(count(lit(1)).as("n_text_pairs"))
        val nImg = img.agg(count(lit(1)).as("n_image_pairs"))
        val nBoth = text.join(img, Seq("id1", "id2"), "left_semi")
          .agg(count(lit(1)).as("n_both"))
        nText.crossJoin(broadcast(nImg)).crossJoin(broadcast(nBoth))
          .select(col("n_text_pairs"), col("n_image_pairs"), col("n_both"),
            when(col("n_text_pairs") === 0L, -1L)
              .otherwise(expr("(1000L * n_both) div n_text_pairs"))
              .as("text_also_image_permille"))
      },
      Some(s"""${portableBandCtes(16, 8)},
        cand AS (SELECT DISTINCT x.id AS id1, y.id AS id2
                 FROM bk x JOIN bk y USING (band, band_key) WHERE x.id < y.id),
        sizes AS (SELECT id, COUNT(*) AS n FROM hs GROUP BY id),
        inter AS (SELECT cand.id1, cand.id2, COUNT(*) AS i FROM cand
          JOIN hs h1 ON h1.id = cand.id1
          JOIN hs h2 ON h2.id = cand.id2 AND h2.h = h1.h
          GROUP BY 1, 2),
        tp AS (SELECT id1, id2 FROM inter
          JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
          WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= 0.5),
        ${phashOracleCtes(prefix = "im", lead = false)},
        m AS (SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_text_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM imp
             WHERE hamming_d <= 3) AS n_image_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM tp
             WHERE EXISTS (SELECT 1 FROM imp
               WHERE imp.id1 = tp.id1 AND imp.id2 = tp.id2
                 AND imp.hamming_d <= 3)) AS n_both)
        SELECT n_text_pairs, n_image_pairs, n_both,
          CAST(CASE WHEN n_text_pairs = 0 THEN -1
               ELSE (1000 * n_both) // n_text_pairs END AS BIGINT)
            AS text_also_image_permille
        FROM m""")),

    // ---- incremental dedup: new batch vs existing corpus ------------------
    // The production shape of corpus growth: fingerprint the incoming batch,
    // anti-join against the existing fingerprint set, admit only novel docs.
    DeclaredQuery("dedup_incremental",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val existing = docs.filter(col("doc_id") < 250)
          .select(fingerprint(col("text")).as("fp"))
        val incoming = docs.filter(col("doc_id") >= 250)
        incoming
          .join(existing, fingerprint(col("text")) === col("fp"), "left_anti")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_new"), sum(col("n_chars")).as("chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_new, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents d WHERE doc_id >= 250 AND NOT EXISTS (
          SELECT 1 FROM documents e WHERE e.doc_id < 250 AND md5(e.text) = md5(d.text))
        GROUP BY 1 ORDER BY 1""")),

    // ---- Gopher-style repetition quality filter ---------------------------
    // Per-doc top-unigram / top-bigram mass fractions (the "fraction of
    // characters in the most common n-gram" family of curation filters) and
    // the keep verdict. Shape: explode once, bigrams from a lead window,
    // counts via partial-aggregated groupBys — all integer until the final
    // single division.
    DeclaredQuery("doc_repetition_filter",
      (s, dir) => {
        val toks = tbl(s, dir, "documents")
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        val uni = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("max_uc"), sum(col("c")).as("n_tok"))
        val big = toks
          .withColumn("t2", lead(col("t"), 1).over(w))
          .filter(col("t2").isNotNull)
          .groupBy(col("doc_id"), col("t"), col("t2")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("max_bc"), sum(col("c")).as("n_big"))
        uni.join(big, Seq("doc_id"))
          .select(col("doc_id"),
            (col("max_uc").cast("double") / col("n_tok").cast("double")).as("top_unigram_frac"),
            (col("max_bc").cast("double") / col("n_big").cast("double")).as("top_bigram_frac"))
          .withColumn("keep",
            col("top_unigram_frac") <= 0.12 && col("top_bigram_frac") <= 0.05)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (
          ${tokenPositions("t")}),
        uc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        u AS (SELECT doc_id, MAX(c) AS max_uc, SUM(c) AS n_tok FROM uc GROUP BY 1),
        bg AS (SELECT doc_id, t || ' ' || LEAD(t) OVER (PARTITION BY doc_id ORDER BY pos) AS b
               FROM tok),
        bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg WHERE b IS NOT NULL GROUP BY 1, 2),
        bb AS (SELECT doc_id, MAX(c) AS max_bc, SUM(c) AS n_big FROM bc GROUP BY 1)
        SELECT doc_id,
          CAST(max_uc AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_unigram_frac,
          CAST(max_bc AS DOUBLE) / CAST(n_big AS DOUBLE) AS top_bigram_frac,
          CAST(max_uc AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.12
            AND CAST(max_bc AS DOUBLE) / CAST(n_big AS DOUBLE) <= 0.05 AS keep
        FROM u JOIN bb USING (doc_id) ORDER BY doc_id""")),

    // ---- Cross-document n-gram contamination ------------------------------
    // Per-doc fraction of DISTINCT bigrams that also occur in some other
    // document — the benchmark-contamination / cross-corpus-overlap check.
    // Inverted-index shape: distinct (doc, bigram) rows joined to bigram
    // document-frequencies — equi-joins only, no pairwise doc comparison.
    DeclaredQuery("crossdoc_ngram_contamination",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        val bigrams = tbl(s, dir, "documents")
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
          .withColumn("t2", lead(col("t"), 1).over(w))
          .filter(col("t2").isNotNull)
          .select(col("doc_id"), concat_ws(" ", col("t"), col("t2")).as("b"))
          .distinct()
        val dfreq = bigrams.groupBy(col("b")).agg(count(lit(1)).as("nd"))
        bigrams.join(dfreq, "b")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_distinct_bigrams"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_distinct_bigrams"),
            (col("n_shared").cast("double") /
              col("n_distinct_bigrams").cast("double")).as("shared_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (
          ${tokenPositions("t")}),
        bg AS (SELECT DISTINCT doc_id,
                 t || ' ' || LEAD(t) OVER (PARTITION BY doc_id ORDER BY pos) AS b
               FROM tok),
        b2 AS (SELECT doc_id, b FROM bg WHERE b IS NOT NULL),
        df AS (SELECT b, COUNT(*) AS nd FROM b2 GROUP BY 1)
        SELECT doc_id, COUNT(*) AS n_distinct_bigrams,
          CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS shared_frac
        FROM b2 JOIN df USING (b)
        GROUP BY 1 ORDER BY 1""")),

    // ---- Hashing-trick featurization (count-vectorizer into fixed dims) ---
    // The text→vector bridge of a training pipeline: token counts folded
    // into a fixed dim space by a portable hash (md5 prefix, not xxhash, so
    // the oracle reproduces indices exactly). Sparse (doc, dim, weight)
    // rows — the shape you'd feed a sparse trainer or assemble to arrays.
    DeclaredQuery("hashed_tf_vectors",
      (s, dir) => tbl(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), hashedTfIndex(col("t"), 64).as("dim"))
        .agg(count(lit(1)).as("weight"))
        .orderBy(col("doc_id"), col("dim")),
      Some(s"""SELECT doc_id,
          CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % 64 AS dim,
          COUNT(*) AS weight
        FROM ($tokenize)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- TF-IDF top terms per document ------------------------------------
    // idf as the exact ratio N/df (log-free: same ranking, and integer-exact
    // inputs divided in double are bitwise-portable where log's libm is not).
    DeclaredQuery("tfidf_top_terms",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // corpus size folded into the plan as a broadcast single-row cross
        // join — one job for the whole query, not a separate driver-side
        // count() job per construction
        val nDf = docs.agg(count(lit(1)).as("__n"))
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy(col("term"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        tf.join(df_, "term")
          .crossJoin(broadcast(nDf))
          .withColumn("score",
            col("tf").cast("double") * (col("__n").cast("double") / col("df").cast("double")))
          .drop("__n")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("score"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
          GROUP BY 1, 2),
        idf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, term,
            CAST(tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)) AS score
          FROM tf JOIN idf USING (term) CROSS JOIN n),
        r AS (SELECT doc_id, term, score,
            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM scored)
        SELECT doc_id, rk, term, score FROM r WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // ---- BM25 retrieval (log-free idf ratio, fixed-order term sum) --------
    // The retrieval scorer a RAG corpus actually serves. idf is the exact
    // ratio (N−df+0.5)/(df+0.5) — same per-term monotonicity as ln-BM25 but
    // bitwise-portable (the tfidf precedent above; libm ln is not). The
    // 4 query terms pivot to COLUMNS so the score is one fixed-order
    // expression — no double-sum aggregation whose order could differ
    // between engines. Per-doc tfs are row-local (size of a filtered token
    // array — no explode, no per-doc shuffle); N, Σlen, and per-term df are
    // ONE broadcast one-row aggregate; no driver-side counts. The top-100
    // shortlist lands once per session and is shared with hybrid_rrf_topk.
    // Ranking: orderBy+limit lowers to TakeOrderedAndProject (per-partition
    // heap, answer-sized merge), then the 20 survivors get exact ranks via
    // Ranks.boundedRank — NO global row_number window anywhere: the old
    // unpartitioned window collapsed the whole scored corpus into one task.
    DeclaredQuery("bm25_topk",
      (s, dir) => {
        val top = bm25Top100(s, dir)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
        graft.relational.Ranks
          .boundedRank(top, "rk", Seq("score" -> false, "doc_id" -> true))
          .select(col("rk"), col("doc_id"), col("score"))
          .orderBy(col("rk"))
      },
      Some(s"""$bm25OracleCte
        SELECT rk, doc_id, score FROM (
          SELECT doc_id, score,
            ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM scored WHERE score > 0) t
        WHERE rk <= 20 ORDER BY rk""")),

    // ---- hybrid retrieval: reciprocal-rank fusion -------------------------
    // The standard hybrid-search merge (Cormack et al. 2009): fuse the
    // lexical BM25 list with a dense cosine list by summing 1/(60+rank)
    // per branch. As in the paper (and every production hybrid-search
    // stack), fusion runs over the RETRIEVED top-K lists (K=100 here), not
    // whole-corpus rankings: each branch shortlists via orderBy+limit
    // (TakeOrderedAndProject), the K survivors get exact ranks via
    // Ranks.boundedRank (rank within the top-K list == global rank for its
    // members), and docs missing from a branch contribute 0 (rank ∞) —
    // union semantics via full outer join, NULL branch rank preserved in
    // the output. Ranks are integers, the two reciprocal terms add in fixed
    // order — fully hash-portable. The dense branch queries by example
    // (vec_id 0's embedding, broadcast one-row cross join — read from the
    // table, never a driver literal). No unpartitioned window anywhere:
    // every ranking step is bounded by K.
    DeclaredQuery("hybrid_rrf_topk",
      (s, dir) => {
        val k = 100
        // the lexical arm IS bm25_topk's landed shortlist (one landing per
        // session shared by both queries — plan-keyed materialize memo)
        val bm = graft.relational.Ranks
          .boundedRank(bm25Top100(s, dir), "rb",
            Seq("score" -> false, "doc_id" -> true))
          .select(col("doc_id"), col("rb"))
        val emb = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("v").as("qv"))
        // dense arm landed too: boundedRank's probe side re-reads the
        // 100-row parquet instead of re-scoring the corpus
        val csTop = graft.relational.Stages.materialize(
          emb.crossJoin(broadcast(qv))
            .withColumn("cscore", graft.vector.VectorFunctions.cosine(col("v"), col("qv")))
            .select(col("vec_id"), col("cscore"))
            .orderBy(col("cscore").desc, col("vec_id")).limit(k), "dense_top100")
        val cs = graft.relational.Ranks
          .boundedRank(csTop, "rc", Seq("cscore" -> false, "vec_id" -> true))
          .select(col("vec_id"), col("rc"))
        val fused = bm.join(cs, bm("doc_id") === cs("vec_id"), "full_outer")
          .select(
            coalesce(bm("doc_id"), cs("vec_id")).as("doc_id"),
            col("rb"), col("rc"))
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60.0) + col("rb").cast("double")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60.0) + col("rc").cast("double")), lit(0.0)))
        val top20 = fused.orderBy(col("rrf").desc, col("doc_id")).limit(20)
        graft.relational.Ranks
          .boundedRank(top20, "rk", Seq("rrf" -> false, "doc_id" -> true))
          .select(col("rk"), col("doc_id"), col("rb"), col("rc"), col("rrf"))
          .orderBy(col("rk"))
      },
      Some(s"""$bm25OracleCte,
        bm AS (SELECT doc_id, rb FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb
            FROM scored WHERE score > 0) t WHERE rb <= 100),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qv AS (SELECT v AS q FROM ev WHERE vec_id = 0),
        cs AS (SELECT vec_id, rc FROM (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
              (${cosine("v", "q")})
              DESC, vec_id) AS rc
            FROM ev CROSS JOIN qv) t WHERE rc <= 100),
        f AS (SELECT COALESCE(bm.doc_id, cs.vec_id) AS doc_id, bm.rb, cs.rc,
                COALESCE(1.0 / (60.0 + CAST(bm.rb AS DOUBLE)), 0.0)
                  + COALESCE(1.0 / (60.0 + CAST(cs.rc AS DOUBLE)), 0.0) AS rrf
              FROM bm FULL OUTER JOIN cs ON cs.vec_id = bm.doc_id)
        SELECT rk, doc_id, CAST(rb AS BIGINT) AS rb, CAST(rc AS BIGINT) AS rc, rrf
        FROM (SELECT doc_id, rb, rc, rrf,
                ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rk FROM f) t
        WHERE rk <= 20 ORDER BY rk""")),

    // ---- per-epoch deterministic shuffle order ----------------------------
    // The training-order permutation a multi-epoch run needs: sort by
    // md5(epoch:id) and every epoch reads the corpus in a fresh,
    // reproducible pseudorandom order with NO global rank ever materialized
    // (range-partition by the key at scale; here each epoch head collapses
    // to TakeOrderedAndProject). The query proves determinism and
    // epoch-dependence by emitting the first 10 docs of epochs 0 and 1.
    DeclaredQuery("epoch_shuffle_heads",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").select(col("doc_id"))
        val heads = Seq(0, 1).map { e =>
          docs
            .withColumn("skey", Sampling.epochShuffleKey(e, col("doc_id")))
            .orderBy(col("skey"), col("doc_id")).limit(10)
            .withColumn("epoch", lit(e.toLong))
            .withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("skey"), col("doc_id"))).cast("long"))
        }
        heads.reduce(_ unionByName _)
          .select(col("epoch"), col("rk"), col("doc_id"), col("skey"))
          .orderBy(col("epoch"), col("rk"))
      },
      Some("""WITH d AS (SELECT doc_id FROM documents),
        h0 AS (SELECT CAST(0 AS BIGINT) AS epoch, doc_id,
                 md5('0:' || CAST(doc_id AS VARCHAR)) AS skey
               FROM d ORDER BY skey, doc_id LIMIT 10),
        h1 AS (SELECT CAST(1 AS BIGINT) AS epoch, doc_id,
                 md5('1:' || CAST(doc_id AS VARCHAR)) AS skey
               FROM d ORDER BY skey, doc_id LIMIT 10),
        u AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1)
        SELECT epoch,
          ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY skey, doc_id) AS rk,
          doc_id, skey
        FROM u ORDER BY epoch, rk""")),

    // ---- deterministic hash sampling (reproducible splits) ----------------
    // ---- train-vs-eval decontamination ------------------------------------
    // The pre-training gate labs actually run: index the EVAL split's
    // distinct word 3-grams, flag every TRAIN doc sharing >= 3 of them
    // (Lee et al. 2022 / GPT-3-appendix style n-gram decontamination, here
    // at n=3 for the synthetic corpus). Split membership is the
    // deterministic splitTag hash, shingles are row-local, and the overlap
    // is one inverted-index equi-join — no train×eval pair scan. At open-web
    // scale the join key becomes xxhash64(g) (the shingleIndex trick); the
    // string key here keeps the oracle exact.
    DeclaredQuery("eval_decontamination",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .withColumn("split", Sampling.splitTag(col("doc_id"), 0.25))
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"),
            explode(array_distinct(shingles(col("text"), 3))).as("g"))
        val evalGrams = grams(docs.filter(col("split") === "eval"))
          .select(col("g")).distinct().withColumn("__hit", lit(true))
        grams(docs.filter(col("split") === "train"))
          .join(evalGrams, Seq("g"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hits"))
          .withColumn("contaminated",
            when(col("n_hits") >= 3, 1L).otherwise(0L))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
          CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               < ${(0.25 * (1L << 32)).toLong} THEN 'eval' ELSE 'train' END AS split
        FROM documents),
        g AS (SELECT doc_id, split,
            unnest(list_distinct(list_transform(range(1, len(w) - 1), i ->
              array_to_string(list_slice(w, i, i + 2), ' ')))) AS g
          FROM d WHERE len(w) >= 3),
        eg AS (SELECT DISTINCT g FROM g WHERE split = 'eval'),
        t AS (SELECT g.doc_id, COUNT(*) AS n_grams,
            SUM(CASE WHEN eg.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
          FROM g LEFT JOIN eg ON eg.g = g.g
          WHERE g.split = 'train' GROUP BY 1)
        SELECT doc_id, n_grams, CAST(n_hits AS BIGINT) AS n_hits,
          CAST(CASE WHEN n_hits >= 3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        FROM t ORDER BY doc_id""")),

    DeclaredQuery("sample_split_stats",
      (s, dir) => {
        tbl(s, dir, "documents")
          .withColumn("split", graft.text.Sampling.splitTag(col("doc_id"), 0.25))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy(col("split"), col("lang"))
      },
      Some(s"""SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     < ${(0.25 * (1L << 32)).toLong} THEN 'eval' ELSE 'train' END AS split,
        lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    DeclaredQuery("stratified_sample_docs",
      (s, dir) => {
        graft.text.Sampling.stratifiedSample(
          tbl(s, dir, "documents"), Seq("lang"), col("doc_id"), perStratum = 20)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("min_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH ranked AS (
          SELECT lang, doc_id, n_chars,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS rn
          FROM documents)
        SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
          MIN(doc_id) AS min_id
        FROM ranked WHERE rn <= 20 GROUP BY 1 ORDER BY 1""")),

    // Weight-proportional systematic sampling: grid crossings on the global
    // cumulative-weight axis, pure integer div — deterministic under any
    // partitioning (two-phase distributed prefix sum, no global-order
    // window) and oracle-exact against DuckDB's // arithmetic.
    DeclaredQuery("weighted_sample_docs",
      (s, dir) => graft.text.Sampling.systematicWeightedSample(
          tbl(s, dir, "documents"), "doc_id", col("n_chars"), k = 10)
        .select(col("doc_id"), col("n_chars"), col("cw"))
        .orderBy(col("doc_id")),
      Some("""WITH c AS (
          SELECT doc_id, n_chars,
            CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cw
          FROM documents),
        t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total FROM documents)
        SELECT doc_id, n_chars, cw FROM c, t
        WHERE (cw * 10) // total > ((cw - n_chars) * 10) // total
        ORDER BY doc_id""")),

    // ---- O174: Horvitz–Thompson sampler-soundness audit ---------------------
    // Does the weight-proportional sampler's inclusion structure actually
    // hold? Estimate the corpus DOC COUNT from the size-biased sample
    // with 1/π corrections (y = 1, the harshest test — the correction
    // must exactly undo the deliberate size bias); the error shrinks
    // k = 10 → 200 (measured −101 → −47‰), which is the audit's point.
    // Certainty-unit clamp via GREATEST (backwards = estimate collapses
    // to k, measured; see Sampling.htTotalAudit scaladoc).
    DeclaredQuery("ht_estimator_audit",
      (s, dir) => graft.text.Sampling.htTotalAudit(
        tbl(s, dir, "documents"), "doc_id", col("n_chars"), lit(1L),
        ks = Seq(10, 50, 200))
        .orderBy(col("k")),
      Some("""WITH c AS (SELECT doc_id, n_chars AS w,
                 CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cw
               FROM documents),
        t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tw,
                CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
        s10 AS (SELECT c.w, t.tw, t.nn FROM c, t
                WHERE (cw * 10) // tw > ((cw - w) * 10) // tw),
        s50 AS (SELECT c.w, t.tw, t.nn FROM c, t
                WHERE (cw * 50) // tw > ((cw - w) * 50) // tw),
        s200 AS (SELECT c.w, t.tw, t.nn FROM c, t
                 WHERE (cw * 200) // tw > ((cw - w) * 200) // tw),
        h AS (
          SELECT CAST(10 AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_sampled,
            MAX(nn) AS exact_total,
            CAST(SUM(GREATEST(1000, (1000 * tw) // (10 * w))) AS BIGINT)
              AS ht_estimate_milli
          FROM s10
          UNION ALL
          SELECT 50, COUNT(*), MAX(nn),
            CAST(SUM(GREATEST(1000, (1000 * tw) // (50 * w))) AS BIGINT)
          FROM s50
          UNION ALL
          SELECT 200, COUNT(*), MAX(nn),
            CAST(SUM(GREATEST(1000, (1000 * tw) // (200 * w))) AS BIGINT)
          FROM s200)
        SELECT k, n_sampled, exact_total, ht_estimate_milli,
          CAST((1000 * (ht_estimate_milli - 1000 * exact_total))
            // (1000 * exact_total) AS BIGINT) AS err_permille
        FROM h ORDER BY k""")),

    // ---- end-to-end corpus curation: quality gate + lang gate + dedup -----
    // The operators composing: quality score ≥ 0.7, predicted language 'en',
    // one survivor per bag-fingerprint group (min doc_id) — then per-source
    // acceptance stats. The shape of a real training-data cleaning pass.
    DeclaredQuery("corpus_curation",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val gated = docs
          .filter(qualityScore(col("text"), stops) >= 0.7)
          .filter(langId(col("text")) === "en")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(bagFingerprint(col("text"))).orderBy(col("doc_id"))
        val surviving = gated
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        surviving.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(tokenCount(col("text")).cast("long")).as("tokens_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, source, text,
            len(string_split(text, ' ')) AS nt,
            len(list_distinct(string_split(text, ' '))) AS nd,
            len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS nstop,
            $langScores,
            md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag
          FROM documents),
        gated AS (
          SELECT * FROM scored
          WHERE 0.3::DOUBLE * (CAST(nd AS DOUBLE) / nt)
              + 0.4::DOUBLE * least(1.0::DOUBLE, CAST(nt AS DOUBLE) / 100.0::DOUBLE)
              + 0.3::DOUBLE * (1.0::DOUBLE - CAST(nstop AS DOUBLE) / nt) >= 0.7
            AND greatest(s_en, s_es, s_fr, s_de, s_zh) > 0
            AND s_en = greatest(s_en, s_es, s_fr, s_de, s_zh)),
        surviving AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY bag ORDER BY doc_id) AS rn
            FROM gated) t WHERE rn = 1)
        SELECT source, COUNT(*) AS n_kept,
          CAST(SUM(nt) AS BIGINT) AS tokens_kept
        FROM surviving GROUP BY 1 ORDER BY 1""")),

    // ---- exact interpolated percentiles -----------------------------------
    // Multi-signal quality stratification: two cheap per-doc signals
    // (token count, distinct-token count) are cut into DECILES at exact
    // corpus-wide percentile thresholds, and the per-doc blend (sum of
    // decile indices, 0..18) stratifies the corpus for curriculum /
    // mixing decisions. Exactness is engineered: `percentile` and DuckDB's
    // `quantile_cont` share the same linear-interpolation arithmetic
    // (proven IEEE-identical by value_quantiles), the thresholds ride ONE
    // broadcast one-row frame (no driver round-trip), and bucketing is
    // pure comparisons — order-free, hash-portable.
    DeclaredQuery("quality_decile_blend",
      (s, dir) => {
        val ps = (1 to 9).map(i => s"0.$i").mkString(", ")
        val docs = tbl(s, dir, "documents").select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("double").as("n"),
          size(array_distinct(split(col("text"), " "))).cast("double").as("u"))
        val th = docs.agg(
          expr(s"percentile(n, array($ps))").as("tn"),
          expr(s"percentile(u, array($ps))").as("tu"))
        def decile(v: String, t: String) = (0 until 9)
          .map(i => when(col(v) > col(t)(i), 1).otherwise(0))
          .reduce(_ + _)
        docs.crossJoin(broadcast(th))
          .withColumn("blend", (decile("n", "tn") + decile("u", "tu")).cast("long"))
          .groupBy(col("blend"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n")).cast("long").as("min_tokens"),
            max(col("n")).cast("long").as("max_tokens"))
          .orderBy(col("blend"))
      },
      Some {
        val ps = (1 to 9).map(i => s"0.$i").mkString(", ")
        def caseSum(v: String, t: String) = (1 to 9)
          .map(i => s"CASE WHEN $v > $t[$i] THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS u
          FROM documents),
        t AS (SELECT quantile_cont(n, [$ps]) AS tn, quantile_cont(u, [$ps]) AS tu FROM d),
        b AS (SELECT doc_id, n,
            (${caseSum("n", "tn")}) + (${caseSum("u", "tu")}) AS blend
          FROM d CROSS JOIN t)
        SELECT CAST(blend AS BIGINT) AS blend, COUNT(*) AS n_docs,
          CAST(MIN(n) AS BIGINT) AS min_tokens, CAST(MAX(n) AS BIGINT) AS max_tokens
        FROM b GROUP BY 1 ORDER BY 1"""
      }),

    DeclaredQuery("value_quantiles",
      (s, dir) => {
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.9)").as("p90"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
        quantile_cont(value, 0.5) AS p50,
        quantile_cont(value, 0.9) AS p90,
        COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- fast-path soundness gates (seeded hashes, oracle-verdict-able) ---
    // The xxhash64 MinHash fast path can't hash-match a DuckDB oracle (the
    // seeds aren't portable), but its SOUNDNESS is oracle-expressible: every
    // pair it emits is exact-verified during the pipeline, so fast pairs at
    // threshold t must be a subset of the exact n-gram-Jaccard pair set at t
    // — with the identical jaccard value (both sides compute inter/union
    // from distinct shingle-set cardinalities; xxhash64 collisions at ~2⁻⁶⁴
    // are the documented exception). The query emits the VIOLATIONS —
    // deterministically empty for any seed choice — so the row finally gets
    // a real verdict instead of `no_oracle`. (Recall is seed-dependent by
    // design — banding probability — and stays property-tested in DedupSpec;
    // the portable md5 twin below remains the end-to-end hash-checked one.)
    DeclaredQuery("minhash_fastpath_containment",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val fast = MinHash.nearDupPairs(docs, "doc_id", "text")
          .filter(col("jaccard") >= 0.5)
          .select(col("id1"), col("id2"), col("jaccard").as("j_fast"))
        val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, blockCols = Seq.empty, minJaccard = 0.5)
          .select(col("id1"), col("id2"), col("jaccard").as("j_exact"))
        fast.join(exact, Seq("id1", "id2"), "left")
          .filter(col("j_exact").isNull || col("j_fast") =!= col("j_exact"))
          .orderBy(col("id1"), col("id2"))
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id1, CAST(NULL AS BIGINT) AS id2,
        CAST(NULL AS DOUBLE) AS j_fast, CAST(NULL AS DOUBLE) AS j_exact
        WHERE FALSE""")),

    // The PORTABLE SimHash: md5-derived 60-bit fingerprints, same majority
    // rule — fingerprints AND hamming pairs hash-match the generated oracle,
    // completing oracle coverage of every near-dup algorithm family. The
    // doc slice is capped (the SWAR xxhash64 path is the at-scale variant).
    DeclaredQuery("simhash_portable_pairs",
      (s, dir) => SimHash.nearDupPairsPortable(
        tbl(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
        maxHamming = 3)
        .orderBy(col("id1"), col("id2")),
      Some(portableSimhashOracleSql(maxHamming = 3, maxId = 500))),

    // The PORTABLE MinHash: every hash md5-derived, so the FULL LSH pipeline
    // (signatures, banding, candidates, verified Jaccard) hash-matches its
    // generated oracle — proving the minhash algorithm itself, while the
    // xxhash64 variant above stays the fast path (rows-only + recall specs).
    DeclaredQuery("minhash_portable_pairs",
      // landed: THREE gated consumers share this identical frame (this row,
      // minhash_jaccard_calibration, crossmodal_dup_consistency) — same
      // memo key, the full banding+verify runs once per session
      (s, dir) => graft.relational.Stages.materialize(
        MinHash.nearDupPairsPortable(tbl(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 16, numBands = 8, minJaccard = 0.5),
        "minhash_pairs_05")
        .orderBy(col("id1"), col("id2")),
      Some(portableMinhashOracleSql(k = 16, b = 8, minJaccard = 0.5))),

    // ---- O72: LSH band diagnostics ----------------------------------------
    // The index-tuning view of the SAME banding the portable pair query
    // runs on (shared CTE chain; on the Spark side the banded frame rides
    // the landed distinct-hash stage): per band, bucket count, the largest
    // bucket, the candidate-pair budget Σ sz·(sz−1)/2 — the number the
    // (bands × rows) recall/cost trade-off is tuned against — and the
    // singleton share. key_skew_profile's role, played for the LSH index:
    // a band whose max bucket explodes needs a bucket cap or more bands
    // BEFORE the candidate join runs, not after it OOMs.
    DeclaredQuery("lsh_band_stats",
      (s, dir) => {
        val banded = MinHash.portableBandKeys(tbl(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, numHashes = 16, numBands = 8)
        banded.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("band").cast("long").as("band"))
          .agg(count(lit(1)).as("n_buckets"),
            max(col("sz")).as("max_bucket"),
            sum(expr("sz * (sz - 1L) div 2")).as("n_candidate_pairs"),
            sum(when(col("sz") === 1L, 1L).otherwise(0L)).as("n_singletons"))
          .withColumn("singleton_permille",
            expr("(1000L * n_singletons) div n_buckets"))
          .orderBy(col("band"))
      },
      Some(s"""${portableBandCtes(16, 8)},
        sz AS (SELECT band, band_key, COUNT(*) AS sz FROM bk GROUP BY 1, 2)
        SELECT CAST(band AS BIGINT) AS band, COUNT(*) AS n_buckets,
          CAST(MAX(sz) AS BIGINT) AS max_bucket,
          CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_candidate_pairs,
          CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
          CAST((1000 * SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
            AS singleton_permille
        FROM sz GROUP BY 1 ORDER BY 1""")),

    // ---- O140: blocking-quality audit (pair completeness / reduction) -------
    // The two numbers every blocking scheme is judged by (Christen 2012):
    // of the TRUE duplicate pairs (exact inverted-index jaccard ≥ 0.5,
    // unblocked), how many does the LSH banding actually surface as
    // candidates (pair completeness), and how small is the candidate space
    // versus brute force n(n−1)/2 (reduction, as candidates-per-million).
    // Candidates come from the blocker's PRE-verify output — the quantity
    // the metrics are defined on. All metric assembly is 1-row aggregates.
    DeclaredQuery("blocking_quality_audit",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val cand = MinHash.portableCandidatePairs(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, numBands = 8)
        // maxDf = 64 caps the truth side's postings self-join (the r8
        // `weak`): the fan-out per shingle is df², and one hot boilerplate
        // shingle at corpus scale makes that join the job. At the fixture
        // the max df is 7 (measured), so the capped truth is bit-identical
        // to exact — the cap is the 100 TB posture, not a value change;
        // the oracle applies the identical cap so the gate holds either way.
        val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, blockCols = Seq.empty, minJaccard = 0.5,
          maxDf = Some(64L))
          .select(col("id1"), col("id2"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        // ONE pass over each expensive pair frame (r15, guide §2.4): the r14
        // shape consumed `truth` twice (count + semi-join) and `cand` twice
        // (count + semi-join probe), so both df²-join subtrees executed
        // twice per query. Both frames are distinct (id1, id2) sets
        // (candidatePairs ends in distinct(); truth is a groupBy output), so
        // a full outer join counts candidates, truth, and the caught
        // intersection in one answer-sized pass — identical values.
        val meters = truth.withColumn("__t", lit(1))
          .join(cand.withColumn("__c", lit(1)), Seq("id1", "id2"), "full_outer")
          .agg(count(col("__c")).as("n_candidates"),
            count(col("__t")).as("n_truth"),
            count(when(col("__t").isNotNull && col("__c").isNotNull, lit(1)))
              .as("n_caught"))
        nDocs.crossJoin(broadcast(meters))
          .select(col("n_docs"),
            expr("(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1L)) div 2")
              .as("all_pairs"),
            col("n_candidates"), col("n_truth"), col("n_caught"),
            expr("(1000L * n_caught) div n_truth")
              .as("completeness_permille"),
            expr("(CAST(1000000 AS DECIMAL(38,0)) * n_candidates) div " +
              "((CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1L)) div 2)")
              .as("candidates_per_million"))
      },
      Some(s"""${portableBandCtes(16, 8)},
        cand AS (SELECT DISTINCT a.id AS id1, c.id AS id2
                 FROM bk a JOIN bk c USING (band, band_key) WHERE a.id < c.id),
        sizes AS (SELECT id, COUNT(*) AS n FROM hs GROUP BY id),
        hsc AS (SELECT * FROM hs WHERE h NOT IN
                (SELECT h FROM hs GROUP BY h HAVING COUNT(*) > 64)),
        ap AS (SELECT h1.id AS id1, h2.id AS id2, COUNT(*) AS i
               FROM hsc h1 JOIN hsc h2 ON h2.h = h1.h AND h1.id < h2.id
               GROUP BY 1, 2),
        truth AS (SELECT ap.id1, ap.id2 FROM ap
                  JOIN sizes s1 ON s1.id = ap.id1
                  JOIN sizes s2 ON s2.id = ap.id2
                  WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= 0.5),
        m AS (SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
                 WHERE EXISTS (SELECT 1 FROM cand c
                   WHERE c.id1 = t.id1 AND c.id2 = t.id2)) AS n_caught)
        SELECT n_docs,
          CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2 AS BIGINT)
            AS all_pairs,
          n_candidates, n_truth, n_caught,
          CAST((1000 * n_caught) // n_truth AS BIGINT)
            AS completeness_permille,
          CAST((CAST(1000000 AS HUGEINT) * n_candidates) //
            ((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2) AS BIGINT)
            AS candidates_per_million
        FROM m""")),

    // ---- O140b: blocking-quality audit on a deterministic doc sample -------
    // The 100 TB posture for the audit family (minhash_jaccard_calibration,
    // dedup_threshold_sweep, blocking_quality_audit all ride exact pair
    // frames that are fixture-sized today): the SAME audit on a
    // deterministic 1-in-2 md5(doc_id) sample — identical rows in both
    // engines at any scale, unlike rand() — so the exact-truth side's cost
    // shrinks quadratically (sample rate² of the pairs) while completeness/
    // reduction stay unbiased estimates of the full-corpus numbers
    // (banding is per-doc, so a sampled pair's candidacy is unchanged).
    // The sample predicate is part of the row's definition, gated as values.
    DeclaredQuery("blocking_quality_audit_sampled",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(
          pmod(graft.functions.HashFunctions.md5Bits60(
            col("doc_id").cast("string")), lit(2L)) === 0L)
        val cand = MinHash.portableCandidatePairs(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, numBands = 8)
        val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, blockCols = Seq.empty, minJaccard = 0.5,
          maxDf = Some(64L))
          .select(col("id1"), col("id2"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        // one pass per pair frame via full outer join — see
        // blocking_quality_audit above (r15, guide §2.4); identical values
        val meters = truth.withColumn("__t", lit(1))
          .join(cand.withColumn("__c", lit(1)), Seq("id1", "id2"), "full_outer")
          .agg(count(col("__c")).as("n_candidates"),
            count(col("__t")).as("n_truth"),
            count(when(col("__t").isNotNull && col("__c").isNotNull, lit(1)))
              .as("n_caught"))
        nDocs.crossJoin(broadcast(meters))
          .select(col("n_docs"),
            expr("(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1L)) div 2")
              .as("all_pairs"),
            col("n_candidates"), col("n_truth"), col("n_caught"),
            expr("(1000L * n_caught) div n_truth")
              .as("completeness_permille"),
            expr("(CAST(1000000 AS DECIMAL(38,0)) * n_candidates) div " +
              "((CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1L)) div 2)")
              .as("candidates_per_million"))
      },
      Some(s"""${portableBandCtes(16, 8, sampleWhere(2))},
        cand AS (SELECT DISTINCT a.id AS id1, c.id AS id2
                 FROM bk a JOIN bk c USING (band, band_key) WHERE a.id < c.id),
        sizes AS (SELECT id, COUNT(*) AS n FROM hs GROUP BY id),
        hsc AS (SELECT * FROM hs WHERE h NOT IN
                (SELECT h FROM hs GROUP BY h HAVING COUNT(*) > 64)),
        ap AS (SELECT h1.id AS id1, h2.id AS id2, COUNT(*) AS i
               FROM hsc h1 JOIN hsc h2 ON h2.h = h1.h AND h1.id < h2.id
               GROUP BY 1, 2),
        truth AS (SELECT ap.id1, ap.id2 FROM ap
                  JOIN sizes s1 ON s1.id = ap.id1
                  JOIN sizes s2 ON s2.id = ap.id2
                  WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= 0.5),
        m AS (SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM tk) AS n_docs,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
                 WHERE EXISTS (SELECT 1 FROM cand c
                   WHERE c.id1 = t.id1 AND c.id2 = t.id2)) AS n_caught)
        SELECT n_docs,
          CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2 AS BIGINT)
            AS all_pairs,
          n_candidates, n_truth, n_caught,
          CAST((1000 * n_caught) // n_truth AS BIGINT)
            AS completeness_permille,
          CAST((CAST(1000000 AS HUGEINT) * n_candidates) //
            ((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2) AS BIGINT)
            AS candidates_per_million
        FROM m""")),

    // ---- O111: minhash calibration audit -----------------------------------
    // Sketch-vs-truth on the SAME verified pairs the dedup gate ships:
    // signature estimate (matching mins / k) beside the exact Jaccard,
    // signed error in permille — the audit that says whether k = 16 mins
    // is enough before anyone trusts the estimate in a threshold. Both
    // the signature frame and the verify ride the one landed distinct-
    // shingle stage (identical memo key — the corpus tokenizes once).
    DeclaredQuery("minhash_jaccard_calibration",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // landed: shared with crossmodal_dup_consistency (same memo key)
        val pairs = graft.relational.Stages.materialize(
          MinHash.nearDupPairsPortable(docs, "doc_id", "text",
            shingleN = 3, numHashes = 16, numBands = 8, minJaccard = 0.5),
          "minhash_pairs_05")
        val sig = MinHash.portableSignatures(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16)
        val a = sig.select(col("id").as("id1") +:
          (0 until 16).map(i => col(s"m$i").as(s"a$i")): _*)
        val b = sig.select(col("id").as("id2") +:
          (0 until 16).map(i => col(s"m$i").as(s"b$i")): _*)
        val matches = (0 until 16)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        pairs.join(a, "id1").join(b, "id2")
          .withColumn("matches", matches)
          .select(col("id1"), col("id2"),
            floor(col("jaccard") * 1000).cast("long").as("exact_permille"),
            expr("(1000L * matches) div 16").as("est_permille"))
          .withColumn("err_permille",
            col("est_permille") - col("exact_permille"))
          .orderBy(col("id1"), col("id2"))
      },
      Some(minhashCalibrationOracleSql(k = 16, b = 8, minJaccard = 0.5))),

    // ---- O111b: minhash calibration on a deterministic doc sample ----------
    // The 100 TB posture for the calibration audit (the suite's most
    // expensive batch row at r10 close, 3.10 s): the SAME sketch-vs-truth
    // comparison on the deterministic 1-in-2 md5(doc_id) sample the O140b
    // precedent established — identical rows in both engines at any scale
    // (rand() is not), exact-verify cost shrinks ~quadratically (sample
    // rate² of the surviving pairs), and the signed-error distribution the
    // audit exists to measure is unbiased: signatures and banding are
    // per-doc, so a sampled pair's estimate and exact Jaccard are both
    // unchanged — only WHICH pairs appear is thinned. At production scale
    // this row is the one that runs daily; the full-audit row stays as the
    // fixture-exact gate.
    DeclaredQuery("minhash_jaccard_calibration_sampled",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(
          pmod(graft.functions.HashFunctions.md5Bits60(
            col("doc_id").cast("string")), lit(2L)) === 0L)
        val pairs = MinHash.nearDupPairsPortable(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, numBands = 8, minJaccard = 0.5)
        val sig = MinHash.portableSignatures(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16)
        val a = sig.select(col("id").as("id1") +:
          (0 until 16).map(i => col(s"m$i").as(s"a$i")): _*)
        val b = sig.select(col("id").as("id2") +:
          (0 until 16).map(i => col(s"m$i").as(s"b$i")): _*)
        val matches = (0 until 16)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        pairs.join(a, "id1").join(b, "id2")
          .withColumn("matches", matches)
          .select(col("id1"), col("id2"),
            floor(col("jaccard") * 1000).cast("long").as("exact_permille"),
            expr("(1000L * matches) div 16").as("est_permille"))
          .withColumn("err_permille",
            col("est_permille") - col("exact_permille"))
          .orderBy(col("id1"), col("id2"))
      },
      Some(minhashCalibrationOracleSql(k = 16, b = 8, minJaccard = 0.5,
        where = sampleWhere(2)))),

    // SimHash fast-path gate: the banded pipeline must EQUAL the brute-force
    // hamming filter over the same seeded fingerprints — banding 64 bits
    // into 4 blocks is lossless for hamming ≤ 3 by pigeonhole, so the
    // symmetric difference is deterministically empty for any seed. Both
    // sides run on the portable query's doc slice so the brute side stays a
    // bounded broadcast (all-pairs over the full corpus would be the exact
    // scale-killer the banding exists to avoid); implementation bugs the
    // theorem can't cover (block math, distinct, filter order) surface here.
    DeclaredQuery("simhash_banding_equiv",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(col("doc_id") < 500)
        // landed: the banded fast path AND the brute-force side read the
        // same fingerprints — one token explode + SWAR aggregation per
        // session instead of two per run (r15, guide §2.4)
        val fp = graft.relational.Stages.materialize(
          SimHash.fingerprints(docs, "doc_id", "text"), "simhash_fp")
        val fast = SimHash.nearDupPairsFromFingerprints(fp, maxHamming = 3)
          .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
        val brute = fp.select(col("id").as("id1"), col("fp").as("f1"))
          .join(broadcast(fp.select(col("id").as("id2"), col("fp").as("f2"))),
            col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            SimHash.hamming(col("f1"), col("f2")).cast("long").as("hamming"))
          .filter(col("hamming") <= 3)
        fast.withColumn("side", lit("banded"))
          .unionByName(brute.withColumn("side", lit("brute")))
          .groupBy(col("id1"), col("id2"), col("hamming"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") =!= 2)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id1, CAST(NULL AS BIGINT) AS id2,
        CAST(NULL AS BIGINT) AS hamming, CAST(NULL AS BIGINT) AS n
        WHERE FALSE""")),

    // LSH is deterministic too (seeded literal hyperplanes, portable double
    // folds), so the oracle SQL is GENERATED with the identical plane
    // literals embedded — bucket assignment, multi-probe, and re-ranking all
    // hash-match.
    DeclaredQuery("ann_lsh_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.lshTopK(emb.filter(col("vec_id") < 10), "vec_id", emb, "vec_id",
          "embedding", k = 3, numPlanes = 8, dim = 64)
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"), col("score"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(lshOracleSql(numPlanes = 8, dim = 64, k = 3, maxQid = 10))),

    // Trained clustering: one deterministic Lloyd iteration over quantized
    // embeddings (integer-exact cell means), final assignment profiled per
    // cell. The oracle replays the identical training — same init, same
    // reduced argmin key, same exact sums — in SQL.
    DeclaredQuery("kmeans_cluster_profile",
      (s, dir) => {
        val quant = tbl(s, dir, "embeddings")
          .withColumn("qv", transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0)).cast("double")))
        val result = graft.vector.Clustering.kmeans(
          quant, "vec_id", "qv", k = 8, dim = 64, iters = 1)
        result.assignments
          .groupBy(col("cell").cast("long").as("cell"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_checksum"))
          .orderBy(col("cell"))
      },
      Some(kmeansOracleSql(k = 8))),

    // PQ/ADC: candidates carry only m codes after a shuffle-free encode;
    // scoring is m LUT lookups per pair against broadcast query tables. The
    // whole pipeline (codebook build, encode argmin, ADC sum) is
    // deterministic, so it hash-matches the generated oracle.
    DeclaredQuery("pq_adc_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.pqTopK(emb.filter(col("vec_id") < 10), "vec_id", emb, "vec_id",
          "embedding", k = 3, m = 8, ncode = 16, dim = 64)
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"), col("score"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(pqOracleSql(m = 8, ncode = 16, dim = 64, k = 3, maxQid = 10))),

    // The COMBINED vector-DB serving path: IVF cells bound which vectors a
    // query touches; PQ codes bound how many bytes each touched vector
    // costs. Both index stages and the in-cell ADC scoring are
    // deterministic, so the full composition hash-matches its generated
    // oracle.
    DeclaredQuery("ivf_pq_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), "vec_id", emb, "vec_id",
          "embedding", k = 3,
          nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"),
          nprobe = 4, m = 8, ncode = 16, dim = 64)
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"), col("score"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(pqOracleSql(m = 8, ncode = 16, dim = 64, k = 3, maxQid = 10,
        nprobe = Some(4)))),

    // Sparse-cosine similarity join: inverted postings index, integer dot /
    // norm sums, one IEEE sqrt-divide at the end — the exact bag-of-words
    // dual of the dense cosine path, with no dense vectors materialized.
    // Hash-exactness caveat: the postings self-join keys on xxhash64(term),
    // so equality with the term-string oracle is contingent on xxhash64
    // being collision-free over the corpus vocabulary (≈vocab²/2⁶⁴ — the
    // same accepted risk as the shingle index's fused keys).
    DeclaredQuery("sparse_cosine_pairs",
      (s, dir) => Dedup.cosinePairs(tbl(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9)
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH $termCounts,
        dots AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
          FROM p a JOIN p b USING (tk) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS s2 FROM tf GROUP BY 1)
        SELECT id1, id2,
          CAST(dot AS DOUBLE) / (sqrt(CAST(n1.s2 AS DOUBLE)) * sqrt(CAST(n2.s2 AS DOUBLE))) AS score
        FROM dots
        JOIN norms n1 ON n1.doc_id = id1
        JOIN norms n2 ON n2.doc_id = id2
        WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n1.s2 AS DOUBLE)) * sqrt(CAST(n2.s2 AS DOUBLE))) >= 0.9
        ORDER BY id1, id2""")),

    // Near-dup CLUSTERING: pairwise edges (sparse-cosine >= 0.9) -> connected
    // components via min-label propagation + pointer jumping, so dedup keeps
    // one canonical doc per GROUP, not per pair. The oracle recomputes the
    // same edges and closes them with a recursive CTE — component ids (min
    // doc_id), sizes, and membership checksums all hash-match.
    DeclaredQuery("dedup_components",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val labels = graft.dedup.Components.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs, "id1", "id2")
        graft.dedup.Components.componentSummary(labels)
          .orderBy(col("comp"))
      },
      Some(fullCcSummaryOracleSql)),

    // ---- O199: dedup transitivity audit -------------------------------------
    // What connected components ADDS to the pairwise verdicts before a
    // canonical-pick ships: a wedge (A~B, B~C) whose third edge (A~C) was
    // NOT scored ≥ threshold is transitive glue — docs merged into one
    // cluster that no direct comparison supports. This audit counts the
    // wedges and their closure rate over the SAME landed pair frame the
    // clustering consumes (Dedup.cosinePairs lands its result; this is a
    // pure extra consumer — zero recompute). Fixture: 42 edges, 12 wedges,
    // closure 500‰ — half the glue is unsupported, the number a dedup
    // owner reads before trusting cluster-level canonical picks (the
    // cluster_cohesion_audit is the per-pair follow-up on the same frame).
    DeclaredQuery("dedup_transitivity_audit",
      (s, dir) => {
        val e = Dedup.cosinePairs(tbl(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9).select(col("id1"), col("id2"))
        val sym = e.select(col("id1").as("v"), col("id2").as("u"))
          .unionByName(e.select(col("id2").as("v"), col("id1").as("u")))
        val wedges = sym.as("wa").join(sym.as("wb"),
            col("wa.v") === col("wb.v") && col("wa.u") < col("wb.u"))
          .select(col("wa.u").as("x"), col("wb.u").as("y"))
        val third = e.select(col("id1").as("x"), col("id2").as("y"),
          lit(1L).as("__closed"))
        val c = wedges.join(third, Seq("x", "y"), "left")
          .select(coalesce(col("__closed"), lit(0L)).as("closed"))
        val ecnt = e.agg(count(lit(1)).as("n_edges"))
        c.agg(count(lit(1)).as("n_wedges"),
            coalesce(sum(col("closed")), lit(0L)).as("n_closed"))
          .crossJoin(broadcast(ecnt))
          .select(col("n_edges"), col("n_wedges"), col("n_closed"),
            (col("n_wedges") - col("n_closed")).as("n_open"),
            when(col("n_wedges") === 0L, lit(null).cast("long"))
              .otherwise(expr("(1000L * n_closed) div n_wedges"))
              .as("closure_permille"))
      },
      Some(s"""WITH $termCounts,
        dots AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
          FROM p a JOIN p b USING (tk) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS s2 FROM tf GROUP BY 1),
        e AS (SELECT id1, id2 FROM dots
              JOIN norms n1 ON n1.doc_id = id1
              JOIN norms n2 ON n2.doc_id = id2
              WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n1.s2 AS DOUBLE))
                * sqrt(CAST(n2.s2 AS DOUBLE))) >= 0.9),
        sym AS (SELECT id1 AS v, id2 AS u FROM e
                UNION ALL SELECT id2, id1 FROM e),
        w AS (SELECT a.u AS x, b.u AS y FROM sym a
              JOIN sym b ON a.v = b.v AND a.u < b.u),
        c AS (SELECT CASE WHEN e2.id1 IS NOT NULL THEN 1 ELSE 0 END AS closed
              FROM w LEFT JOIN e e2 ON e2.id1 = w.x AND e2.id2 = w.y)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_wedges,
          (SELECT CAST(COALESCE(SUM(closed), 0) AS BIGINT) FROM c) AS n_closed,
          (SELECT CAST(COUNT(*) - COALESCE(SUM(closed), 0) AS BIGINT) FROM c)
            AS n_open,
          (SELECT CAST(CASE WHEN COUNT(*) = 0 THEN NULL
             ELSE (1000 * COALESCE(SUM(closed), 0)) // COUNT(*) END AS BIGINT)
             FROM c) AS closure_permille""")),

    // ---- O102: cluster cohesion audit --------------------------------------
    // Per dedup component, edit similarity of every intra-cluster pair —
    // the transitive-chaining check before a canonical-pick ships (see
    // EditVerify.clusterCohesion scaladoc). Same clustering CTEs as
    // dedup_components, so the audit grades exactly the clusters the
    // pipeline would act on.
    DeclaredQuery("cluster_cohesion_audit",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val labels = graft.dedup.Components.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs, "id1", "id2")
        graft.dedup.EditVerify.clusterCohesion(labels, docs, "doc_id", "text")
          .orderBy(col("comp"))
      },
      Some(s"""WITH $dedupComponents,
        tx AS (SELECT doc_id, substring(text, 1, 2000) AS t FROM documents),
        ip AS (SELECT a.comp, a.id AS id1, b.id AS id2
               FROM r a JOIN r b ON a.comp = b.comp AND a.id < b.id),
        sc AS (SELECT ip.comp,
                 CAST(levenshtein(t1.t, t2.t) AS BIGINT) AS dist,
                 CAST(greatest(length(t1.t), length(t2.t)) AS BIGINT) AS ml
               FROM ip JOIN tx t1 ON t1.doc_id = ip.id1
                       JOIN tx t2 ON t2.doc_id = ip.id2),
        ss AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(MIN(CASE WHEN ml = 0 THEN 1000
                   ELSE (1000 * (ml - dist)) // ml END) AS BIGINT)
                   AS min_sim_permille,
                 CAST(SUM(CASE WHEN ml = 0 THEN 1000
                   ELSE (1000 * (ml - dist)) // ml END) AS BIGINT) AS sim_sum
               FROM sc GROUP BY 1),
        nm AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members
               FROM r GROUP BY 1)
        SELECT ss.comp, nm.n_members, ss.n_pairs, ss.min_sim_permille,
          ss.sim_sum // ss.n_pairs AS mean_sim_permille
        FROM ss JOIN nm USING (comp) ORDER BY ss.comp""")),

    // ---- O80: incremental component maintenance ----------------------------
    // The daily-snapshot dedup shape: yesterday's labels are a landed
    // table; today's batch (doc_id >= 250) merges in through
    // Components.incrementalComponents — old components contract to
    // supernodes, only the DELTA pairs are clustered, old members relabel
    // through the component-count-sized map. The gate is the strongest
    // claim an incremental operator can make: its oracle is the FULL-graph
    // recursive closure, so incremental == batch recompute is hash-checked
    // row for row (same output as dedup_components by construction).
    DeclaredQuery("components_incremental_merge",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val oldLabels = graft.dedup.Components.connectedComponents(
          docs.filter(col("doc_id") < 250).select(col("doc_id")), "doc_id",
          pairs.filter(col("id1") < 250 && col("id2") < 250), "id1", "id2")
        val merged = graft.dedup.Components.incrementalComponents(
          oldLabels,
          docs.filter(col("doc_id") >= 250).select(col("doc_id")), "doc_id",
          pairs.filter(col("id1") >= 250 || col("id2") >= 250), "id1", "id2")
        graft.dedup.Components.componentSummary(merged)
          .orderBy(col("comp"))
      },
      Some(fullCcSummaryOracleSql)),

    // ---- O33: leakage-safe train/eval split -------------------------------
    // The eval-contamination guard every dedup-aware pipeline needs: the
    // split hash keys on the near-dup COMPONENT id, so a near-duplicate of
    // a training doc can never land in eval (a doc-keyed split leaks
    // whenever near-dups exist). Components and the pair set are shared
    // with dedup_components through the landed-stage memo — this query adds
    // only the split tag and ledger. cross_split_comps is the soundness
    // gate: components spanning both splits, ZERO by construction, and the
    // oracle recomputes the same count from its own closure.
    DeclaredQuery("leakage_safe_split",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.9)
        val split = graft.text.Sampling.leakageSafeSplit(
          docs.select(col("doc_id")), "doc_id", pairs, "id1", "id2",
          evalFraction = 0.25)
        val violations = broadcast(
          split.groupBy(col("comp"))
            .agg(countDistinct(col("split")).as("__ns"))
            .filter(col("__ns") > 1)
            .agg(count(lit(1)).as("cross_split_comps")))
        split
          .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("comp")).as("n_comps"),
            sum(col("n_chars")).as("chars"))
          .crossJoin(violations)
          .orderBy(col("split"))
      },
      Some(s"""WITH $dedupComponents,
        s AS (
          SELECT id, comp,
            CASE WHEN CAST(('0x' || substring(md5(CAST(comp AS VARCHAR)), 1, 8)) AS BIGINT)
                 < ${(0.25 * (1L << 32)).toLong} THEN 'eval' ELSE 'train' END AS split
          FROM r),
        x AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_comps FROM (
            SELECT comp FROM s GROUP BY comp HAVING COUNT(DISTINCT split) > 1))
        SELECT s.split, COUNT(*) AS n_docs, COUNT(DISTINCT s.comp) AS n_comps,
          CAST(SUM(d.n_chars) AS BIGINT) AS chars,
          (SELECT cross_split_comps FROM x) AS cross_split_comps
        FROM s JOIN documents d ON d.doc_id = s.id
        GROUP BY 1 ORDER BY 1""")),

    // SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup over
    // embeddings — the quadratic pair step confined to coarse cells, then
    // the paper's diversity-keeping rule (retain the member least similar
    // to its centroid). Assignment, pairs, closure, and keep rule are all
    // deterministic, so the per-document verdict hash-matches its oracle.
    DeclaredQuery("semdedup_keep",
      (s, dir) => graft.dedup.SemDedup.semanticDedup(
          tbl(s, dir, "embeddings"), "vec_id", "embedding",
          nlist = graft.vector.Similarity.scaledNlist(
            tbl(s, dir, "embeddings"), "vec_id"), threshold = 0.4)
        .orderBy(col("id")),
      Some(semdedupOracleSql(threshold = 0.4))),

    // The TRAINED pipeline composition a production SemDeDup actually runs:
    // deterministic k-means centroids (one Lloyd iteration, integer-exact
    // sums) become the coarse cells, so dedup groups follow the DATA's
    // geometry instead of arbitrary seed vectors. Proves the index-build →
    // operator handoff (`trainedSeeds`) end to end — training, assignment,
    // pairs, closure, and keep verdicts all hash-match one composed oracle.
    DeclaredQuery("semdedup_trained",
      (s, dir) => {
        val quant = tbl(s, dir, "embeddings")
          .withColumn("qv", transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0)).cast("double")))
        val km = graft.vector.Clustering.kmeans(
          quant, "vec_id", "qv", k = 8, dim = 64, iters = 1)
        val seeds = km.centroids.map { case (c, v) => (c.toLong, v) }
        graft.dedup.SemDedup.semanticDedup(
          quant.select(col("vec_id"), col("qv")), "vec_id", "qv",
          nlist = 8, threshold = 0.4, trainedSeeds = Some(seeds))
          .orderBy(col("id"))
      },
      Some(semdedupTrainedOracleSql(k = 8, threshold = 0.4))),

    // Binary quantization: the candidate scan reads ONE BIGINT per vector
    // (8 bytes vs 256 for the floats — the 32× I/O cut that makes a 10⁹-row
    // hamming pre-filter feasible), and only the Q·rerank shortlist ever
    // rejoins its floats for exact cosine. Sign bits, bit_count(xor), and
    // the rerank fold are all engine-portable, so both stages hash-match.
    DeclaredQuery("bq_hamming_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.bqTopK(emb.filter(col("vec_id") < 10), "vec_id", emb, "vec_id",
          "embedding", k = 3, rerank = 20, dim = 64)
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"), col("ham"), col("score"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(bqOracleSql(dim = 64, k = 3, rerank = 20, maxQid = 10))),

    // IVF is deterministic end to end (seed cells = lowest-id vectors,
    // cosine = portable double fold), so the full coarse-quantize + probe +
    // re-rank pipeline is oracle-checked, not just row-counted.
    DeclaredQuery("ivf_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), "vec_id", emb, "vec_id",
          "embedding", k = 3,
          nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"), nprobe = 4)
          .withColumn("rk", col("rank").cast("long")).drop("rank")
          .select(col("qid"), col("rk"), col("cid"), col("score"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH $embeddingsCte,
        $ivfSeeds,
        $ivfCass,
        ${ivfQass("qv", 10)},
        $ivfScored,
        r AS (SELECT qid, cid, score,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
          FROM scored)
        SELECT qid, rk, cid, score FROM r WHERE rk <= 3 ORDER BY qid, rk""")),

    // ---- O145: MMR diversified re-ranking ------------------------------------
    // The serving-side diversity pass (Carbonell & Goldstein 1998) on the
    // gated IVF retrieval: pool = ivf top-8 per query, greedily select 4
    // trading relevance against max-sim-to-selected (λ = ½ carried as ONE
    // subtraction + halving — the identical IEEE expression in both
    // engines, the cosine-doubles discipline the ivf rows already prove).
    // Everything after retrieval is answer-sized (queries·k² sims, keyed
    // max + windowed argmax per round).
    // ---- O152: IVF nprobe tuning sweep ---------------------------------------
    // The sweep family's ANN member (threshold sweep : dedup ::
    // nprobe sweep : serving): recall@3 vs probed cells for nprobe
    // 1/2/4/8, each pipeline the gated deterministic IVF, each recall
    // against the gated brute-force exact — the curve that decides
    // nprobe at rollout, measured not guessed.
    DeclaredQuery("ivf_nprobe_sweep",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val exact = graft.relational.Stages.materialize(
          Similarity.bruteForceTopK(q, "vec_id", emb, "vec_id",
            "embedding", k = 3).select(col("qid"), col("cid")), "sweep_exact")
        Seq(1, 2, 4, 8).map { np =>
          val approx = Similarity.ivfTopK(q, "vec_id", emb, "vec_id",
            "embedding", k = 3,
            nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"),
            nprobe = np)
            .select(col("qid"), col("cid"), lit(1L).as("__hit"))
          exact.join(approx, Seq("qid", "cid"), "left")
            .agg(count(lit(1)).as("__n"),
              sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
            .select(lit(np.toLong).as("nprobe"), col("n_hits"),
              expr("(1000L * n_hits) div __n").as("recall_permille"))
        }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
      },
      Some(nprobeSweepOracleSql(Seq(1, 2, 4, 8), k = 3, maxQid = 10))),

    DeclaredQuery("mmr_diverse_topk",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val pool = graft.relational.Stages.materialize(
          Similarity.ivfTopK(emb.filter(col("vec_id") < 10), "vec_id", emb,
            "vec_id", "embedding", k = 8,
            nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"),
            nprobe = 4)
            .select(col("qid"), col("cid"), col("score")), "mmr_pool")
        graft.vector.Mmr.rerank(pool, emb, "vec_id", "embedding", select = 4)
      },
      Some(mmrOracleSql(poolK = 8, select = 4, maxQid = 10))),

    // ---- O74: IVF recall audit ---------------------------------------------
    // The serving-quality number an ANN index ships with: exact recall@3 of
    // ivf_topk (nlist=scaledNlist(n), nprobe=4) against the brute-force top-3, per
    // query, in exact permille. The gated twins prove each pipeline is
    // CORRECTLY COMPUTED; this row measures what the approximation COSTS —
    // the number that decides nprobe at rollout. Both sides are the
    // existing deterministic pipelines; the oracle replays both CTE chains
    // and joins them, so even the misses are hash-checked.
    DeclaredQuery("ivf_recall_audit",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(q, "vec_id", emb, "vec_id",
          "embedding", k = 3).select(col("qid"), col("cid"))
        val approx = Similarity.ivfTopK(q, "vec_id", emb, "vec_id",
          "embedding", k = 3,
          nlist = graft.vector.Similarity.scaledNlist(emb, "vec_id"), nprobe = 4)
          .select(col("qid"), col("cid"), lit(1L).as("__hit"))
        exact.join(approx, Seq("qid", "cid"), "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
          .withColumn("recall_permille", expr("(1000L * n_hits) div k"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH $embeddingsCte,
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        ${exactScores("xsc")},
        xt AS (SELECT qid, cid FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
            FROM xsc) t WHERE rk <= 3),
        $ivfSeeds,
        $ivfCass,
        ${ivfQass("qv2", 10)},
        isc AS (
          SELECT DISTINCT q2.qid, c.vec_id AS cid,
            ${cosine("q2.qv2", "c.v")} AS score
          FROM qass q2 JOIN cass c USING (sid) WHERE c.vec_id <> q2.qid),
        it AS (SELECT qid, cid FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
            FROM isc) t WHERE rk <= 3)
        SELECT xt.qid, COUNT(*) AS k,
          CAST(SUM(CASE WHEN it.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          CAST((1000 * SUM(CASE WHEN it.cid IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
            AS recall_permille
        FROM xt LEFT JOIN it ON it.qid = xt.qid AND it.cid = xt.cid
        GROUP BY 1 ORDER BY 1""")),

    // ---- O93: Matryoshka prefix-dimension recall audit ---------------------
    // Can the first 8 / 16 of 64 dims serve retrieval (the MRL question —
    // Kusupati et al. 2022)? recall@3 of prefix-sliced exact top-k vs the
    // full-width exact top-k, per query and prefix width, exact permille.
    // Both sides reuse bruteForceTopK (10-query broadcast side); the full
    // ground truth lands once and feeds both widths.
    DeclaredQuery("mrl_prefix_recall",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val exact = graft.relational.Stages.materialize(
          Similarity.bruteForceTopK(q, "vec_id", emb, "vec_id",
            "embedding", k = 3).select(col("qid"), col("cid")), "mrl_exact")
        Seq(8, 16).map { d =>
          val qp = q.withColumn("embedding", slice(col("embedding"), 1, d))
          val cp = emb.withColumn("embedding", slice(col("embedding"), 1, d))
          val approx = Similarity.bruteForceTopK(qp, "vec_id", cp, "vec_id",
            "embedding", k = 3)
            .select(col("qid"), col("cid"), lit(1L).as("__hit"))
          exact.join(approx, Seq("qid", "cid"), "left")
            .groupBy(col("qid"))
            .agg(count(lit(1)).as("k"),
              sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
            .withColumn("prefix_dims", lit(d.toLong))
        }.reduce(_ unionByName _)
          .withColumn("recall_permille", expr("(1000L * n_hits) div k"))
          .select(col("qid"), col("prefix_dims"), col("k"), col("n_hits"),
            col("recall_permille"))
          .orderBy(col("qid"), col("prefix_dims"))
      },
      Some {
        def cos(a: String, b: String): String =
          s"list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (y, z) -> y + z)" +
            s" / (sqrt(list_reduce(list_transform(list_zip($a, $a), x -> x[1] * x[2]), (y, z) -> y + z))" +
            s" * sqrt(list_reduce(list_transform(list_zip($b, $b), x -> x[1] * x[2]), (y, z) -> y + z)))"
        def top3(d: Option[Int]): String = {
          val (qv, cv) = d match {
            case Some(w) => (s"qv[1:$w]", s"v[1:$w]")
            case None => ("qv", "v")
          }
          s"""SELECT qid, cid FROM (
              SELECT qid, e.vec_id AS cid,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                  ${cos(qv, cv)} DESC, e.vec_id) AS rk
              FROM e CROSS JOIN q WHERE e.vec_id <> qid) t WHERE rk <= 3"""
        }
        def recallRow(w: Int): String =
          s"""SELECT xt.qid, CAST($w AS BIGINT) AS prefix_dims,
              CAST(COUNT(*) AS BIGINT) AS k,
              CAST(SUM(CASE WHEN t$w.cid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits
            FROM xt LEFT JOIN t$w ON t$w.qid = xt.qid AND t$w.cid = xt.cid
            GROUP BY 1"""
        s"""WITH $embeddingsCte,
          q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
          xt AS (${top3(None)}),
          t8 AS (${top3(Some(8))}),
          t16 AS (${top3(Some(16))}),
          r AS (${recallRow(8)} UNION ALL ${recallRow(16)})
          SELECT qid, prefix_dims, k, n_hits,
            (1000 * n_hits) // k AS recall_permille
          FROM r ORDER BY qid, prefix_dims"""
      }),

    DeclaredQuery("embedding_neardup_pairs",
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.45,
          numPlanes = Similarity.scaledPlanes(emb, "vec_id"), dim = 64)
          .orderBy(col("id1"), col("id2"))
      },
      Some(lshPairsOracleSql(maxPlanes = 16, dim = 64, threshold = 0.45))),

    // Centroids under the oracle: inputs are quantized to INTEGER-VALUED
    // doubles (floor(x·10⁶) — exact in float and double, |x|·10⁶ ≪ 2⁵³), so
    // the per-dimension sums inside both centroid implementations are exact
    // integers — order-independent across partitions — and the single final
    // division is one deterministic IEEE op. Output is per-(label, dim)
    // scalar rows, which DuckDB reproduces bit-for-bit. The unquantized
    // double path keeps its typed-vs-untyped parity unit test.
    DeclaredQuery("embedding_centroids",
      (s, dir) => {
        val quant = tbl(s, dir, "embeddings").withColumn("qemb",
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0)).cast("double")))
        Similarity.centroids(quant, "label", "qemb", 64)
          .select(col("label"), col("n"), posexplode(col("centroid")).as(Seq("dim", "qavg")))
          .select(col("label"), (col("dim") + 1).cast("long").as("dim"),
            col("n"), col("qavg"))
          .orderBy(col("label"), col("dim"))
      },
      Some(centroidOracle)),

    DeclaredQuery("embedding_centroids_typed",
      (s, dir) => tbl(s, dir, "embeddings")
        .withColumn("qemb",
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0)).cast("float")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          graft.vector.VectorAvg.vectorAvg(64, col("qemb")).as("centroid"))
        .select(col("label"), col("n"), posexplode(col("centroid")).as(Seq("dim", "qavg")))
        .select(col("label"), (col("dim") + 1).cast("long").as("dim"),
          col("n"), col("qavg"))
        .orderBy(col("label"), col("dim")),
      Some(centroidOracle)),

    // Sketch queries under the oracle: the sketch estimate itself is
    // engine-specific, so the hash-checked columns are the EXACT value plus
    // a boolean asserting the sketch landed within its error bound — a
    // strictly stronger check than rows-only. Quantiles run over exact cents
    // (money × 100 as BIGINT): interpolated midpoints are k or k+0.5, exact
    // in double, so Spark percentile ≡ DuckDB quantile_cont bit-for-bit.
    DeclaredQuery("approx_quantiles_values",
      (s, dir) => events(s, dir)
        .withColumn("cents", (dec2(col("value")) * 100).cast("long"))
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(cents, 0.5)").as("exact_p50_cents"),
          percentile_approx(col("cents"), lit(0.5), lit(10000)).as("approx"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_p50_cents"), col("n"),
          (abs(col("approx") - col("exact_p50_cents")) <=
            col("exact_p50_cents") * 0.05).as("approx_within_5pct"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
          quantile_cont(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT), 0.5) AS exact_p50_cents,
          COUNT(*) AS n, TRUE AS approx_within_5pct
        FROM events GROUP BY 1 ORDER BY 1""")),

    DeclaredQuery("approx_distinct_users",
      (s, dir) => events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * 0.05, lit(1.0))).as("approx_within_5pct"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
          TRUE AS approx_within_5pct
        FROM events GROUP BY 1 ORDER BY 1""")),

    // Feature vectors exploded to scalar (doc_id, feat_idx, feat_val) rows:
    // the stub histogram is deterministic integer math over UTF-8 bytes
    // (ASCII corpus ⇒ byte == code point), so DuckDB reproduces it exactly —
    // and the driver comparator needs sortable scalars, not nested arrays.
    DeclaredQuery("multimodal_features",
      (s, dir) => Multimodal.extractFeaturesStub(
        Multimodal.attachBinary(tbl(s, dir, "documents").select("doc_id", "text"), "text"))
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("feat_idx"),
          col("col").cast("long").as("feat_val"))
        .orderBy(col("doc_id"), col("feat_idx")),
      Some("""WITH pos AS (
          SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i FROM documents
        ),
        h AS (
          SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) % 16 AS bucket,
                 count(*) AS cnt
          FROM pos GROUP BY 1, 2
        ),
        grid AS (SELECT doc_id, unnest(range(16)) AS idx FROM documents)
        SELECT g.doc_id, g.idx AS feat_idx, COALESCE(h.cnt, 0) AS feat_val
        FROM grid g LEFT JOIN h ON h.doc_id = g.doc_id AND h.bucket = g.idx
        ORDER BY g.doc_id, g.idx""")),

    // ---- DSIR importance resampling (Xie et al. 2023) --------------------
    // Data selection by target-domain resemblance: hashed-bigram bucket
    // weights ((c_target+1)*1e6 div (c_raw+1), the integer log-free
    // surrogate — see text/Importance scaladoc), docs scored by the sum of
    // their occurrences' weights, raw-pool top-20 via TakeOrdered (no
    // window). Target domain: the src0 slice of the corpus.
    DeclaredQuery("dsir_importance_topk",
      (s, dir) => graft.text.Importance.importanceScores(
          tbl(s, dir, "documents"), "doc_id", "text",
          isTarget = col("source") === "src0", buckets = 1024)
        .filter(!col("is_target"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_bigrams"), col("score")),
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
          SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                 CAST(SUM(cw.wgt) AS BIGINT) AS score
          FROM bg JOIN cw USING (b) WHERE NOT bg.t GROUP BY 1)
        SELECT doc_id, n_bigrams, score
        FROM sc ORDER BY score DESC, doc_id LIMIT 20""")))
}
