package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality-ordered token-budget allocation ("water-filling"): given a global
  * token budget, fill it from the highest-quality source down, taking each
  * source whole until the budget runs out (the partially-taken source gets
  * the remainder; everything below gets zero). The static-planning cousin of
  * [[graft.queries.MaintenanceQueries]]'s temperature mixing (O16): where
  * temperature mixing SHAPES proportions, water-filling answers "which
  * sources make the cut for this run at all" — the DoReMi/quality-first
  * composition decision run before a training job is launched.
  *
  * Determinism and scale: per-source aggregates are exact integers; the
  * source table is DIMENSION-SIZED (a corpus has tens of sources, not
  * millions), so the cumulative fill is computed on the driver over the
  * collected per-source rows — the same bounded-model-collect class as
  * k-means centroids and BPE merge argmaxes — and returned as literal rows.
  * Ordering is (quality desc, source asc): the ASCII source-name tiebreak
  * compares identically in Java and DuckDB.
  */
object Budget {

  /** Per-source allocation: (source, n_tokens, quality_permille, fill_rank,
    * alloc_tokens, taken_whole). `quality` is any integer per-source metric
    * (higher = better); `budget` the global token budget.
    */
  def waterFill(perSource: DataFrame, sourceCol: String, tokensCol: String,
                qualityCol: String, budget: Long,
                maxSources: Int = 100000): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val spark = perSource.sparkSession
    // limit(cap+1) keeps the driver read bounded whatever the caller passed:
    // a per-DOCUMENT frame handed in by mistake fails this require loudly
    // instead of OOMing the driver mid-collect (the probeDictionary rule)
    val rows = perSource
      .select(col(sourceCol).cast("string").as("source"),
        col(tokensCol).cast("long").as("n_tokens"),
        col(qualityCol).cast("long").as("quality_permille"))
      .orderBy(desc("quality_permille"), col("source"))
      .limit(maxSources + 1)
      .collect()
    require(rows.length <= maxSources,
      s"waterFill: more than $maxSources input rows — this operator " +
        "collects the PER-SOURCE frame (dimension-sized by contract); a " +
        "per-document frame does not belong here. Aggregate to sources " +
        "first, or raise maxSources deliberately")
    var remaining = budget
    val out = rows.zipWithIndex.map { case (r, i) =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"waterFill needs non-null source/tokens/quality (row $i: $r) — " +
          "null quality would silently sort last under desc, not fail")
      val (src, n, q) = (r.getString(0), r.getLong(1), r.getLong(2))
      val alloc = math.min(n, math.max(0L, remaining))
      remaining -= alloc
      (src, n, q, i + 1L, alloc, alloc == n)
    }
    import spark.implicits._
    out.toSeq.toDF("source", "n_tokens", "quality_permille", "fill_rank",
      "alloc_tokens", "taken_whole")
  }
}
