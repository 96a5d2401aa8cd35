package graft.relational

import org.apache.spark.sql.{Column, DataFrame}

/** Plan-level stage sharing WITHOUT caching.
  *
  * A multi-stage pipeline that references each stage's output more than once
  * (quota sampling reads its input three times: group counts, rank
  * membership, final join; a two-phase prefix sum reads twice) multiplies
  * the UPSTREAM subtree into every reference — compose three such stages and
  * the source table is scanned ~2×3×3 times in one plan. Caching the stage
  * would fix it but pins a corpus-sized frame with no unpersist point (the
  * composed query is lazy), which is exactly the cache-lifecycle hazard this
  * engine avoids.
  *
  * [[anchor]] ends the stage at an explicit hash-partition `Exchange`.
  * Catalyst's `ReuseExchange` rule (and AQE's stage reuse) dedups IDENTICAL
  * exchange subtrees within a plan, so a downstream reference re-reads the
  * one materialized shuffle instead of recomputing the stage — costing one
  * extra shuffle of the stage's own output, no pinned storage, lineage-safe
  * under executor loss (shuffle blocks re-derive from the deterministic
  * hash partitioning — unlike `localCheckpoint`).
  *
  * CAVEAT (measured, not theoretical): the sharing is BEST-EFFORT. Column
  * pruning and filter pushdown rewrite each consumer's copy of the subtree
  * independently — a consumer that reads fewer columns gets a narrower
  * aggregate below "its" exchange — and any divergence breaks the subtree
  * identity ReuseExchange matches on, silently restoring the recompute
  * (final-plan `ReusedExchange` count is the ground truth; `Probe plan` is
  * the dev tool that reports it). When the upstream is expensive and the
  * sharing MUST happen, use [[materialize]].
  *
  * Use anchor at stage BOUNDARIES whose upstream is expensive and whose
  * output is consumed more than once. Don't bother when the input is a bare
  * table scan — a scan re-read is cheaper than a shuffle — or when the
  * consumer count is one.
  */
object Stages {
  def anchor(df: DataFrame, key: Column): DataFrame = df.repartition(key)

  /** Memory-landed stage boundary for ANSWER-SIZED frames in iterative
    * loops: localCheckpoint (eager — truncates lineage, pins the rows in
    * executor storage) re-exposed through a FRESH leaf so the checkpoint's
    * statistics rewrite is discarded. `Dataset.localCheckpoint` copies the
    * PRE-checkpoint plan's size estimate onto the new leaf, and join
    * estimates are products of their children's — so in a loop each round
    * inherits size_prev^(joins-per-round) and the estimate diverges as a
    * power tower (by ~round 9 the BigInt has millions of digits and the
    * driver sits in BigInteger.multiply for minutes; measured). The
    * re-wrap's leaf carries the neutral default estimate instead: callers
    * in loops hint their own broadcasts (they know the measured row
    * count). Only for frames a single executor can hold and a re-run can
    * cheaply rebuild — for corpus-sized or lineage-critical boundaries use
    * [[materialize]] (durable, real file stats).
    */
  def pin(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** GUARANTEED stage boundary: write the stage output to parquet and read
    * it back. This is what a production multi-job pipeline does between
    * stages (each stage lands a table; the next job reads it), expressed as
    * an operator: downstream consumers scan the compact materialized columns
    * instead of re-deriving the whole upstream, so composed pipeline cost is
    * ADDITIVE in the stages rather than multiplicative in their consumer
    * counts.
    *
    * Use it when [[anchor]]'s best-effort plan sharing is not enough: the
    * exchange-reuse [[anchor]] relies on is defeated whenever Catalyst
    * prunes the branches differently (a consumer that reads fewer columns
    * gets its OWN copy of the stage subtree with a narrower aggregate —
    * observed, not hypothetical), while a durable write is shared
    * unconditionally. Costs one write + n reads of the stage's own
    * (answer-sized) output; lineage-safe under executor loss (the files ARE
    * the lineage); no executor storage pinned. The temp location stands in
    * for the warehouse table path a cluster deployment would use.
    */
  def materialize(df: DataFrame, tag: String): DataFrame = {
    // Memoized per plan: repeated materialize calls over the same logical
    // stage (the tf frame feeding sparse_cosine_pairs, dedup_components, and
    // dedup_canonical_docs is one identical subtree) land the files once and
    // re-read them, exactly like a warehouse stage table written by the
    // first job of the day and scanned by every downstream job. The value is
    // just a path (files clean up at JVM exit).
    val path = landed(df, ()) {
      val prefix = s"graft_stage_$tag"
      val dir = java.nio.file.Files.createTempDirectory(prefix)
      dir.toFile.deleteOnExit()
      val p = dir.resolve("data.parquet").toString
      df.write.mode("overwrite").parquet(p)
      java.nio.file.Files.walk(dir).forEach(f => f.toFile.deleteOnExit())
      Landed(p, dir.getFileName.toString.length - prefix.length)
    }.path
    // read with the schema just landed: inferring it would run a footer
    // job on every memo hit (the file source makes it nullable, as
    // inference does)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** A landed stage's path and the length of the random suffix
    * `createTempDirectory` gave its directory.
    */
  private final case class Landed(path: String, randomChars: Int)

  /** Charged without the random suffix, so two runs of one commit charge
    * the same bytes.
    */
  private val landed = new graft.PlanMemo[Unit, Landed]("stages.landed",
    l => 48L + 2L * (l.path.length - l.randomChars))
}
