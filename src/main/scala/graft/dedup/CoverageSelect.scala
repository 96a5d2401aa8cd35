package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Coverage-maximizing subset selection — greedy facility location over the
  * document/shingle bipartite graph (the submodular-selection shape of Lin
  * & Bilmes 2011, specialized to set cover): pick the document covering the
  * most yet-uncovered distinct shingles, repeat. The (1 − 1/e) greedy
  * guarantee is the standard justification; for a curation pipeline this is
  * "give me k documents that span the corpus's n-gram space" — the
  * diversity-seeding complement to dedup's redundancy REMOVAL.
  *
  * Exactness: shingles are the house portable md5-60 keys (the same landed
  * index the jaccard family rides — [[Dedup.shingleKeys]]); gains are
  * distinct-key counts, ties break toward the smaller id, so every round is
  * integer-deterministic and the oracle replays round for round as chained
  * CTEs.
  *
  * Scale: each round is ONE anti-join of the landed index against the
  * (small) covered set — broadcast, with a loud cap — one map-side-combined
  * keyed count, and one TakeOrdered(1); the selected row is the
  * 1-row-per-round bounded driver collect (the BPE-argmax class). k rounds,
  * each pinned, so lineage stays flat.
  */
object CoverageSelect {

  /** (round, doc_id, marginal_gain, covered_total), round order. */
  def greedyCoverage(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, shingleN: Int = 3,
                     maxCoveredBroadcast: Long = 4000000L): DataFrame = {
    require(k >= 1 && k <= 64, s"greedyCoverage: k=$k outside 1..64")
    val spark = docs.sparkSession
    val hs = Dedup.shingleKeys(docs, idCol, textCol, shingleN)
      .select(col("id").cast("long").as("id"), col("key"))
    var covered: Option[DataFrame] = None
    var total = 0L
    val picks = (1 to k).map { r =>
      val cand = covered match {
        case Some(c) => hs.join(broadcast(c), Seq("key"), "left_anti")
        case None => hs
      }
      val top = cand.groupBy(col("id")).agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), col("id")).limit(1).collect()
      require(top.nonEmpty,
        s"greedyCoverage: coverage exhausted at round $r — every " +
          "remaining document adds zero new shingles")
      val (id, gain) = (top(0).getLong(0), top(0).getLong(1))
      val newCov = hs.filter(col("id") === id).select(col("key"))
      val merged = covered.map(_.union(newCov).distinct())
        .getOrElse(newCov.distinct())
      val pinned = graft.relational.Stages.pin(merged)
      val covN = pinned.count()
      require(covN <= maxCoveredBroadcast,
        s"greedyCoverage: covered set $covN keys > $maxCoveredBroadcast — " +
          "the per-round anti-join broadcast would stop being small; " +
          "shrink k or pre-trim documents")
      covered = Some(pinned)
      total += gain
      (r.toLong, id, gain, total)
    }
    import spark.implicits._
    picks.toDF("round", "doc_id", "marginal_gain", "covered_total")
      .orderBy(col("round"))
  }
}
