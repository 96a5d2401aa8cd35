package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns: exact brute-force top-k as the
  * correctness baseline, random-hyperplane LSH bucketing as the scale path.
  *
  * Scale shape: brute force is a broadcast nested-loop of Q queries against N
  * candidates — fine when Q is small (the query set broadcasts; the big side
  * streams, never shuffles). For N×N all-pairs (near-dup) or large Q, LSH
  * buckets cut candidates from O(N) to O(N/2^bits) per probe with a
  * co-partitioned equi-join on bucket id — the right plan at 100 TB.
  */
object Similarity {

  /** Deterministic random hyperplane values, seeded — no RNG at execution
    * time, so plans are reproducible, the same planes can be re-created on
    * any cluster, and an external oracle can embed the identical literals.
    */
  def hyperplaneValues(numPlanes: Int, dim: Int,
                       seed: Long = 42L): IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(numPlanes)(IndexedSeq.fill(dim)(rnd.nextGaussian()))
  }



  /** Exact cosine top-k neighbors for each query vector.
    *
    * @param queries    (qidCol, vecCol) — SMALL side, gets broadcast
    * @param candidates (cidCol, vecCol)
    */
  def bruteForceTopK(queries: DataFrame, qidCol: String,
                     candidates: DataFrame, cidCol: String,
                     vecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val c = candidates.select(col(cidCol).as("cid"), col(vecCol).as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .withColumn("score", VectorFunctions.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "score")
  }

  /** Attach an LSH bucket id column. */
  def withBucket(df: DataFrame, vecCol: String, planes: Seq[Seq[Double]],
                 bucketCol: String = "bucket"): DataFrame =
    df.withColumn(bucketCol, VectorFunctions.lshBucket(col(vecCol), planes))

  /** Approximate top-k: candidates restricted to the query's LSH bucket plus
    * all 1-bit-flip neighbor buckets (multi-probe). Still an equi-join on
    * bucket id — co-partitionable, no cross product; probing multiplies only
    * the tiny query side by (numPlanes+1). Recall is tunable via numPlanes
    * (fewer planes ⇒ bigger buckets ⇒ higher recall, more compute) and the
    * probe radius.
    */
  def lshTopK(queries: DataFrame, qidCol: String,
              candidates: DataFrame, cidCol: String,
              vecCol: String, k: Int, numPlanes: Int, dim: Int,
              seed: Long = 42L): DataFrame = {
    val planes = hyperplaneValues(numPlanes, dim, seed)
    val q = withBucket(queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec")), "qvec", planes)
      .withColumn("bucket", explode(concat(array(col("bucket")),
        transform(sequence(lit(0), lit(numPlanes - 1)),
          i => col("bucket").bitwiseXOR(call_function("shiftleft", lit(1L), i.cast("int")))))))
    val c = withBucket(candidates.select(col(cidCol).as("cid"), col(vecCol).as("cvec")), "cvec", planes)
    val scored = c.join(q, "bucket")
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", VectorFunctions.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored
      .select("qid", "cid", "score").distinct() // multi-probe may hit a pair twice
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "score")
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: pairs sharing a
    * bucket with cosine ≥ threshold. DataFrame-only, equi-join on bucket.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numPlanes: Int, dim: Int,
                         seed: Long = 42L): DataFrame = {
    val planes = hyperplaneValues(numPlanes, dim, seed)
    val b = withBucket(df.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", planes)
    // multi-probe one side with 1-bit flips so pairs differing in a single
    // hyperplane sign still meet in a bucket (recall ≈ P[≤1 bit differs])
    val l = b.select(col("bucket"), col("id").as("id1"), col("vec").as("v1"))
      .withColumn("bucket", explode(concat(array(col("bucket")),
        transform(sequence(lit(0), lit(numPlanes - 1)),
          i => col("bucket").bitwiseXOR(call_function("shiftleft", lit(1L), i.cast("int")))))))
    val r = b.select(col("bucket"), col("id").as("id2"), col("vec").as("v2"))
    l.join(r, "bucket")
      .filter(col("id1") < col("id2"))
      .withColumn("score", VectorFunctions.cosine(col("v1"), col("v2")))
      .filter(col("score") >= threshold)
      .select("id1", "id2", "score").distinct()
  }

  /** IVF-style approximate top-k: coarse-quantize candidates into `nlist`
    * cells (nearest of `nlist` deterministic seed vectors — the lowest-id
    * candidates), then search only each query's `nprobe` nearest cells with
    * exact cosine re-ranking.
    *
    * Scale shape: cell assignment is a broadcast join against `nlist` seed
    * vectors (one pass over the candidates, results cacheable as the
    * "index"); the search joins queries to cells equi-on cell id — candidate
    * work drops to ~nprobe/nlist of brute force. Seeds are data rows, so no
    * RNG and the index is reproducible.
    */
  /** Data-proportional IVF cell count: nlist = 2^(⌈log₂ n⌉ div 2) — the
    * power-of-two floor of √n within a factor of √2.
    *
    * WHY (the r14 sf1.0 stress measurement): a FIXED nlist makes IVF search
    * cost n²·nprobe/nlist — quadratic in the corpus. The 10× sf1.0 replay
    * measured the fixed-16 knn edge build at 213 s (285× its sf0.1 time);
    * √n cells restore the ~n^1.5 IVF contract (assignment n·nlist cosines,
    * search n·(n/nlist)·nprobe). The bit-length form is INTEGER-EXACT and
    * engine-portable — the DuckDB twin is
    *   1 << least(16, length(bin(CAST(n AS BIGINT) - 1)) // 2)
    * (verified identical for n = 1, 2, 250, 500, 2000, 20000; the 16-clamp
    * — 65536 cells, binding only past n = 2³³ (⌈log₂ n⌉ ≥ 34) — mirrors
    * [[scaledPlanes]]),
    * so oracles
    * compute the same cell count from the same COUNT(*) instead of pinning
    * a literal that is only right at one scale factor. At the sf0.01 gate
    * (500 or 250 candidates) the formula yields exactly the historical 16,
    * so every gated value is unchanged.
    *
    * The count is one driver-synchronous job, memoized per canonicalized
    * candidate plan (the bounded-model discipline; ledger family
    * `similarity.nlist`).
    */
  def scaledNlist(candidates: DataFrame, cidCol: String): Int =
    1 << scaledPlanes(candidates, cidCol)

  /** The LSH twin of [[scaledNlist]]: hyperplane count = ⌈log₂ n⌉ div 2,
    * i.e. 2^planes ≈ √n buckets — the same n^1.5 contract for the
    * PAIR-finding self-join ([[cosineNearDupPairs]]), whose fixed-plane
    * bucket sizes grow linearly in the corpus and the in-bucket pair count
    * quadratically (the r14 sf1.0 stress measured the fixed-4-plane pair
    * row at 29× its sf0.1 time). = 4 at the sf0.01 gate (n = 500), the
    * historical literal. Clamped at 16 planes (2¹⁶ = 65536 buckets,
    * binding only past n = 2³³ — beyond that a single
    * LSH table stops being the right structure; add tables instead). More
    * planes trade recall per table (P[collision] ≈ pᵖˡᵃⁿᵉˢ); the 1-bit
    * multi-probe keeps the planted-pair recall at fixture thresholds.
    * DuckDB twin of the count: least(16, length(bin(n - 1)) // 2) over the
    * same COUNT(*).
    */
  def scaledPlanes(candidates: DataFrame, cidCol: String): Int = {
    val n = nlistMemo(candidates, cidCol)(candidates.select(col(cidCol)).count())
    require(n >= 1, "scaledPlanes: empty candidate frame has no buckets")
    // ceil(log2 n) via bit length of n-1 (n = 1 → 0 bits handled as 1)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(16, bits / 2)
  }

  /** (candidates plan, cidCol) -> candidate count. */
  private val nlistMemo = new graft.PlanMemo[String, Long]("similarity.nlist", _ => 8L)

  /** The nlist lowest-id vectors as literal IVF seeds — the deterministic
    * untrained coarse quantizer [[ivfTopK]] defaults to, exposed so index
    * MAINTENANCE jobs can freeze yesterday's cells and re-use them.
    * Bounded collect: an IVF centroid table is nlist rows at any scale.
    */
  def lowestIdSeeds(candidates: DataFrame, cidCol: String, vecCol: String,
                    nlist: Int): Seq[(Long, Seq[Double])] =
    candidates
      .select(col(cidCol).cast("long").as("sid"),
        col(vecCol).cast("array<double>").as("svec"))
      .orderBy(col("sid")).limit(nlist).collect()
      .toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** The seeds sorted nearest first for each row: `struct(-cosine, sid)`
    * ascending, i.e. cosine desc with sid tiebreak — one bounded array_sort
    * over nlist codegen'd cosines, shuffle-free.
    */
  private def nearestSeeds(vec: Column, seeds: Seq[(Long, Seq[Double])]): Column =
    array_sort(array(seeds.map { case (sid, svec) =>
      struct((-VectorFunctions.cosine(vec, array(svec.map(lit): _*))).as("nscore"),
        lit(sid).as("sid"))
    }: _*))

  /** One row per (row, nearest-`nCells` seed), the seed's id in `cell`. */
  private def withNearestCells(df: DataFrame, vecC: String,
                               seeds: Seq[(Long, Seq[Double])], nCells: Int): DataFrame =
    df.withColumn("__cell_s", explode(slice(nearestSeeds(col(vecC), seeds), 1, nCells)))
      .withColumn("cell", col("__cell_s").getField("sid"))
      .drop("__cell_s")

  /** Standalone nearest-cell assignment against literal seeds — the IVF
    * coarse quantizer as its own operator, for incremental index
    * maintenance: assign a new ingest batch to an EXISTING snapshot's
    * cells (no rebuild, no shuffle — nlist codegen'd cosines + one bounded
    * array_sort per row) and compare occupancy. Ordering matches
    * [[ivfTopK]]'s assignment exactly (cosine desc, sid asc tiebreak).
    */
  def assignCells(df: DataFrame, vecCol: String,
                  seeds: Seq[(Long, Seq[Double])]): DataFrame =
    df.withColumn("cell", element_at(nearestSeeds(col(vecCol), seeds), 1).getField("sid"))

  def ivfTopK(queries: DataFrame, qidCol: String,
              candidates: DataFrame, cidCol: String,
              vecCol: String, k: Int, nlist: Int, nprobe: Int,
              trainedSeeds: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    // Index build: the nlist seed vectors come to the driver once (an IVF
    // centroid table is nlist rows — tiny at any data scale) and become
    // per-row literals. Cell assignment is then a shuffle-free map over the
    // candidates: nlist codegen'd cosines + a bounded array_sort per row,
    // instead of the previous join(seeds) × window-argmax, whose N×nlist
    // intermediate shuffle was the plan's scale-killer.
    //
    // `trainedSeeds` plugs in Clustering.kmeans centroids ((cellId, vec))
    // as the coarse quantizer; the default falls back to the nlist
    // lowest-id vectors (deterministic, untrained).
    val seeds: Seq[(Long, Seq[Double])] =
      trainedSeeds.getOrElse(seedVectors(candidates, cidCol, vecCol, nlist))

    // The assignment IS the IVF index — nprobe-independent, so it LANDS
    // once per (corpus plan, quantizer literals) per session, exactly like
    // the persisted index file a production ANN deployment serves from: an
    // nprobe sweep's four configurations (and every other same-quantizer
    // consumer) read the one landed assignment instead of re-running the
    // nlist-cosine encode pass over the corpus per call.
    val cells = graft.relational.Stages.materialize(
      withNearestCells(candidates.select(col(cidCol).as("cid"), col(vecCol).as("cvec")),
        "cvec", seeds, 1), "ivf_cells")
    val probed = withNearestCells(queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec")),
      "qvec", seeds, nprobe)

    val scored = cells.join(probed, "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", VectorFunctions.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.select("qid", "cid", "score").distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "score")
  }

  /** Product-quantization ANN with asymmetric-distance scoring (ADC) — the
    * third leg of the quantization toolbox (IVF = coarse, SQ8 = scalar,
    * PQ = product): vectors are encoded as `m` small codes (one per
    * `dim/m`-dim subspace, nearest of `ncode` codewords), and a query scores
    * a candidate by summing per-subspace lookup-table entries — the
    * candidate side never touches its floats again.
    *
    * Scale shape: encoding is a shuffle-free row-wise argmin over LITERAL
    * codebooks (like the IVF assignment); at serving time the big side
    * carries only `m` bytes of codes per vector, and scoring is `m` array
    * lookups per pair against the broadcast query LUTs. At 10⁹ vectors that
    * is the difference between scanning 256 GB of floats and 8 GB of codes.
    *
    * Codebooks here are the subvectors of the `ncode` lowest-id candidates —
    * deterministic "training" (production would k-means per subspace; the
    * pipeline is identical). Everything is sequential double folds and
    * argmin with index tie-break, so the whole pipeline is oracle-exact.
    */
  def pqTopK(queries: DataFrame, qidCol: String,
             candidates: DataFrame, cidCol: String,
             vecCol: String, k: Int, m: Int, ncode: Int, dim: Int,
             trainedCodebooks: Option[IndexedSeq[IndexedSeq[Seq[Double]]]] = None): DataFrame = {
    require(dim % m == 0, "dim must be divisible by m")
    val ds = dim / m

    // Codebooks: per-subspace literal arrays — either k-means-trained
    // (Clustering.trainPqCodebooks) or, by default, the subvectors of the
    // ncode lowest-id candidates brought to the driver ONCE (a PQ codebook
    // is tiny at any data scale). codebook(j)(c) = codeword c of subspace j.
    val codebook: IndexedSeq[IndexedSeq[Seq[Double]]] = trainedCodebooks.getOrElse {
      // codebook rows ride the SAME memoized bounded collect as the coarse
      // seeds when ncode == nlist; otherwise their own memo entry
      val cbRows = seedVectors(candidates, cidCol, vecCol, ncode)
      (0 until m).map { j =>
        cbRows.toIndexedSeq.map(r => r._2.slice(j * ds, (j + 1) * ds))
      }
    }
    // |codeword|² as sequential left folds — same order as the oracle's fold
    val cw2: IndexedSeq[IndexedSeq[Double]] =
      codebook.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))

    def sub(vec: Column, j: Int): Column = slice(vec, j * ds + 1, ds)

    // Shuffle-free encode: per subspace, argmin_c ||x_j - c||² with codeword
    // index tie-break, via a bounded array_sort of (score, c) structs. The
    // <x_j,x_j> term is constant across codewords, so the ranking key is
    // the reduced |c|² - 2<x_j,c> — one dot per codeword instead of two,
    // and the oracle computes the identical reduced expression, so the
    // (IEEE-rounded) ordering matches bit-for-bit.
    def encode(df: DataFrame, vecC: String): DataFrame =
      (0 until m).foldLeft(df) { (d, j) =>
        val scored = codebook(j).indices.map { c =>
          struct(
            (lit(cw2(j)(c)) -
              lit(2.0) * VectorFunctions.dot(sub(col(vecC), j),
                array(codebook(j)(c).map(lit): _*))).as("d2"),
            lit(c).as("c"))
        }
        d.withColumn(s"code_$j",
          element_at(array_sort(array(scored: _*)), 1).getField("c"))
      }

    // Query-side LUTs: lut_j[c] = <q_j, codeword_c> — ncode dots per
    // subspace on the tiny query side only.
    def withLuts(df: DataFrame, vecC: String): DataFrame =
      (0 until m).foldLeft(df) { (d, j) =>
        d.withColumn(s"lut_$j", array(codebook(j).indices.map { c =>
          VectorFunctions.dot(sub(col(vecC), j), array(codebook(j)(c).map(lit): _*))
        }: _*))
      }

    val coded = encode(
      candidates.select(col(cidCol).as("cid"), col(vecCol).cast("array<double>").as("cvec")),
      "cvec").drop("cvec")
    val q = withLuts(
      queries.select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qvec")),
      "qvec").drop("qvec")

    // ADC: m lookups per pair, summed left-to-right (oracle adds in the same
    // order).
    val score = (0 until m)
      .map(j => element_at(col(s"lut_$j"), col(s"code_$j") + 1))
      .reduceLeft(_ + _)
    val scored = coded.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", score)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "score")
  }

  /** IVF+PQ combined serving path — the full vector-database architecture:
    * candidates are coarse-quantized into IVF cells AND PQ-encoded; a query
    * probes its `nprobe` nearest cells and ADC-scores ONLY the codes in
    * those cells. At 10⁹ vectors this touches `nprobe/nlist` of the corpus
    * and reads m bytes per touched vector — the two reductions compose.
    *
    * The cell equi-join replaces pqTopK's broadcast cross join, so the
    * query side may be large; both index stages are shuffle-free row-wise
    * argmins against driver-literal centroids/codebooks (pass k-means
    * results via `trainedSeeds`/`trainedCodebooks` for trained indexes).
    */
  def ivfPqTopK(queries: DataFrame, qidCol: String,
                candidates: DataFrame, cidCol: String,
                vecCol: String, k: Int, nlist: Int, nprobe: Int,
                m: Int, ncode: Int, dim: Int,
                trainedSeeds: Option[Seq[(Long, Seq[Double])]] = None,
                trainedCodebooks: Option[IndexedSeq[IndexedSeq[Seq[Double]]]] = None): DataFrame = {
    require(dim % m == 0, "dim must be divisible by m")
    val ds = dim / m

    val seeds: Seq[(Long, Seq[Double])] =
      trainedSeeds.getOrElse(seedVectors(candidates, cidCol, vecCol, nlist))
    val codebook: IndexedSeq[IndexedSeq[Seq[Double]]] = trainedCodebooks.getOrElse {
      // codebook rows ride the SAME memoized bounded collect as the coarse
      // seeds when ncode == nlist; otherwise their own memo entry
      val cbRows = seedVectors(candidates, cidCol, vecCol, ncode)
      (0 until m).map { j =>
        cbRows.toIndexedSeq.map(r => r._2.slice(j * ds, (j + 1) * ds))
      }
    }

    def sub(vec: Column, j: Int): Column = slice(vec, j * ds + 1, ds)

    // index side: cell + m codes per candidate, vectors dropped after encode
    val cw2 = codebook.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))
    // the encoded index (cell + m codes, floats dropped) is the PQ index
    // artifact — nprobe-independent, landed once per (corpus, quantizer,
    // codebook) per session like the ivfTopK assignment
    val coded = graft.relational.Stages.materialize(
      (0 until m).foldLeft(
        withNearestCells(candidates.select(col(cidCol).as("cid"),
          col(vecCol).cast("array<double>").as("cvec")), "cvec", seeds, 1)) { (d, j) =>
        val scored = codebook(j).indices.map { c =>
          struct((lit(cw2(j)(c)) - lit(2.0) * VectorFunctions.dot(sub(col("cvec"), j),
            array(codebook(j)(c).map(lit): _*))).as("d2"), lit(c).as("c"))
        }
        d.withColumn(s"code_$j", element_at(array_sort(array(scored: _*)), 1).getField("c"))
      }.drop("cvec"), "ivf_pq_codes")

    // query side: nprobe cells + per-subspace LUTs
    val q = (0 until m).foldLeft(
      withNearestCells(queries.select(col(qidCol).as("qid"),
        col(vecCol).cast("array<double>").as("qvec")), "qvec", seeds, nprobe)) { (d, j) =>
      d.withColumn(s"lut_$j", array(codebook(j).indices.map { c =>
        VectorFunctions.dot(sub(col("qvec"), j), array(codebook(j)(c).map(lit): _*))
      }: _*))
    }.drop("qvec")

    val score = (0 until m)
      .map(j => element_at(col(s"lut_$j"), col(s"code_$j") + 1))
      .reduceLeft(_ + _)
    val scored = coded.join(q, "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", score)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.select("qid", "cid", "score")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "score")
  }

  /** Binary-quantization ANN: candidates are sign-bit-packed into one 64-bit
    * code ([[VectorFunctions.signBits]]); a query shortlists the `rerank`
    * hamming-nearest codes, then exact-cosine re-ranks only the shortlist.
    *
    * Scale shape: the hamming scan touches 8 bytes per candidate (codes
    * precomputable as the "index"; the float vectors never leave the scan
    * until the shortlist join), `bit_count(xor)` is one codegen'd ALU op per
    * pair, and the rerank join brings back floats for only Q·rerank rows —
    * broadcast on the shortlist side. Everything (sign bits, hamming, cosine
    * fold) is deterministic and engine-portable, so the full two-stage path
    * is oracle-checked end to end.
    */
  def bqTopK(queries: DataFrame, qidCol: String,
             candidates: DataFrame, cidCol: String,
             vecCol: String, k: Int, rerank: Int, dim: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qcode", VectorFunctions.signBits(col("qvec"), dim))
    // candidate side carries ONLY (cid, code) past this projection
    val codes = candidates.select(col(cidCol).as("cid"),
      VectorFunctions.signBits(col(vecCol), dim).as("ccode"))
    val wh = Window.partitionBy(col("qid")).orderBy(col("ham"), col("cid"))
    val short = codes.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("ham", VectorFunctions.hamming(col("ccode"), col("qcode")))
      .withColumn("hrk", row_number().over(wh))
      .filter(col("hrk") <= rerank)
      .select("qid", "cid", "ham", "qvec")
    val rr = broadcast(short)
      .join(candidates.select(col(cidCol).as("cid"), col(vecCol).as("cvec")), "cid")
      .withColumn("score", VectorFunctions.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    rr.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "ham", "score")
  }

  /** Per-label centroids (typed aggregation over array<float>): mean vector
    * per group via element-wise decimal-free double sums — used for IVF-style
    * coarse quantization (assign → nearest centroid bucket).
    */
  def centroids(df: DataFrame, labelCol: String, vecCol: String, dim: Int): DataFrame = {
    val summed = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(i => sum(element_at(col(vecCol), i + 1).cast("double"))): _*).as("sums"))
    summed.select(col("label"), col("n"),
      transform(col("sums"), s => s / col("n").cast("double")).as("centroid"))
  }

  /** The `n` lowest-id (id, vector) rows — the deterministic untrained
    * quantizer seeds / PQ codebook rows — MEMOIZED per canonicalized
    * candidates plan (the bounded-driver-model discipline): one collect job
    * per session per distinct corpus, not one per index build. An nprobe
    * sweep builds the index 4×; each repeat reads the memo.
    */
  private def seedVectors(candidates: DataFrame, cidCol: String,
                          vecCol: String, n: Int): Seq[(Long, Seq[Double])] = {
    seedsMemo(candidates, (cidCol, vecCol, n)) {
      candidates
        .select(col(cidCol).cast("long").as("sid"),
          col(vecCol).cast("array<double>").as("svec"))
        .orderBy(col("sid")).limit(n).collect()
        .toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    }
  }

  /** (cidCol, vecCol, n) -> ≤ n (id, dim-vector) seed rows per distinct
    * corpus/width.
    */
  private val seedsMemo = new graft.PlanMemo[(String, String, Int), Seq[(Long, Seq[Double])]](
    "similarity.seeds", rows => rows.map(r => 40L + 16L * r._2.size).sum)
}
