package graft.routing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** The reference's core capability — schema-keyed event routing — as a
  * single-pass, declarative Spark transformation.
  *
  * Semantics mirror `processEvent` (reference: lib/kinesisHandler.js:107-124)
  * branch-for-branch, in the same short-circuit order:
  *
  *   1. undecodable record (missing `kinesis.data`, bad base64, corrupt JSON)
  *      → bad message                         (ref :163-166, 167-174)
  *   2. missing envelope `schema`             → bad message (ref :108-109)
  *   3. wrong envelope schema id              → bad message (ref :110-111)
  *   4. envelope fails validation             → bad message (ref :112-113)
  *   5. unregistered `data.schema`            → SKIPPED, not an error
  *      (logged + acked in the reference, :120-123 — load-bearing: it lets
  *      many consumers with disjoint registries share one stream)
  *   6. payload fails its registered schema   → bad message (ref :115-116)
  *   7. otherwise                             → routed to the handler
  *      registered for `data.schema`          (ref :114,118)
  *
  * Bad messages are *quarantined, not fatal*: the reference counts them as
  * successes to avoid poison-pill retry loops (ref :145-149) — here they land
  * in a dead-letter DataFrame with a `reason` column, and the main output
  * stays clean. Infrastructure errors still propagate as task failures
  * (Spark's retry = the Lambda re-poll).
  *
  * Scale design: routing is ONE projection computing a tag column — not N
  * passes over the input. Branch views are filters on the tag, so when the
  * caller materializes the tagged frame once (or uses `foreachBatch` in
  * streaming), the source is scanned once regardless of how many schemas are
  * registered. The verdict is one native expression ([[RouteVerdict]]);
  * nothing here shuffles.
  */
object Router {

  /** Routing verdict tags carried in the `__route` column. */
  val TagCol = "__route"
  val ReasonCol = "__reason"
  val BadMessage = "badmsg"
  val Skipped = "skipped"
  def branch(schemaId: String): String = s"branch:$schemaId"

  /** Name prefix reserved for [[tag]]'s working columns. */
  private val WorkingPrefix = "__graft_route"
  /** Per-row branch index [[tag]] computes and drops. */
  private val BranchCol = s"${WorkingPrefix}_branch"
  /** Reason of each non-zero [[RouteVerdict]] index, in ladder order;
    * index 5 (unregistered schema) is the skip branch.
    */
  private val Reasons = Seq("undecodable", "missing schema",
    "wrong event schema", "invalid envelope", "unregistered schema",
    "invalid payload")
  private val SkipIdx = 5

  /** A handler registration: payload constraints + the transformation to
    * apply to that branch (the reference's `registerSchemaMethodPair`,
    * lib/kinesisHandler.js:91-99).
    */
  final case class Registration(schema: RegisteredSchema,
                                handler: DataFrame => DataFrame)

  final case class Config(
      eventSchemaId: String,
      envelope: RegisteredSchema,
      registry: Map[String, Registration],
      /** column holding the decoded event struct (see [[EventCodec]]) */
      eventCol: String = "event")

  /** Result of routing: per-schema branches plus the two side outputs. */
  final case class Routed(
      tagged: DataFrame,
      branches: Map[String, DataFrame],
      badMessages: DataFrame,
      skipped: DataFrame)

  /** Compute the routing tag for each row (single pass, no shuffle).
    *
    * The whole ladder — envelope checks, registry lookup and the selected
    * document's validator — is ONE native expression, [[RouteVerdict]],
    * evaluated once per row into a small branch index; tag and reason are
    * integer CASE maps over it. Each raw JSON object a validator reads is
    * parsed at most once per row, and the registry lookup is one hash
    * probe whatever the registry size. Still one projection pipeline: no
    * shuffle, one source scan regardless of registry size (spec-pinned).
    */
  def tag(df: DataFrame, config: Config): DataFrame = {
    // the working columns below are added and dropped by name: an input
    // column of the same name (case-insensitively, as Spark resolves it)
    // would be silently overwritten, then dropped; the whole
    // `__graft_route` prefix is reserved for them
    val clashes = df.columns.filter { c =>
      val n = c.toLowerCase
      n == TagCol || n == ReasonCol || n.startsWith(WorkingPrefix)
    }
    require(clashes.isEmpty,
      s"Router.tag: input already has routing working column(s) " +
        s"${clashes.mkString(", ")}; drop or rename them before tagging " +
        s"(re-tagging a tagged frame: drop $TagCol and $ReasonCol first)")
    val ev = col(config.eventCol)
    val dataSchema = ev.getField("data").getField("schema")
    val verdict = RouteVerdict(GraftBridge.expression(ev), config.eventSchemaId,
      SchemaValidator.inlineRefs(config.envelope.constraints),
      config.registry.toSeq.sortBy(_._1).map { case (id, reg) =>
        id -> SchemaValidator.inlineRefs(reg.schema.constraints)
      })
    df.withColumn(BranchCol, GraftBridge.column(verdict))
      .withColumn(TagCol,
        when(col(BranchCol) === 0, concat(lit("branch:"), dataSchema))
          .when(col(BranchCol) === SkipIdx, lit(Skipped))
          .otherwise(lit(BadMessage)))
      .withColumn(ReasonCol,
        Reasons.zipWithIndex.foldLeft(Option.empty[Column]) {
          case (acc, (r, i)) =>
            Some(acc.fold(when(col(BranchCol) === (i + 1), lit(r)))(
              _.when(col(BranchCol) === (i + 1), lit(r))))
        }.get.otherwise(lit(null).cast("string")))
      .drop(BranchCol)
  }

  /** Single-pass routed sink: tag once and write every branch plus the
    * dead-letter and skipped outputs in ONE scan via a partitioned write —
    * `basePath/<TagCol>=branch:<id>/...`, `.../badmsg/`, `.../skipped/`.
    * This is the at-scale shape for "fan out a stream to per-schema
    * datasets": no per-branch re-scan, and downstream readers get partition
    * pruning on the route tag for free.
    */
  def writeRouted(df: DataFrame, config: Config, basePath: String,
                  format: String = "parquet"): Unit =
    tag(df, config)
      .write.mode("overwrite")
      .partitionBy(TagCol)
      .format(format)
      .save(basePath)

  /** Route a decoded batch: tag once, then expose branch/dead-letter/skipped
    * views and apply each registered handler to its branch.
    */
  def route(df: DataFrame, config: Config): Routed = {
    val tagged = tag(df, config)
    val branches = config.registry.map { case (id, reg) =>
      id -> reg.handler(tagged.filter(col(TagCol) === branch(id))
        .drop(TagCol, ReasonCol))
    }
    Routed(
      tagged = tagged,
      branches = branches,
      badMessages = tagged.filter(col(TagCol) === BadMessage),
      skipped = tagged.filter(col(TagCol) === Skipped).drop(TagCol, ReasonCol))
  }
}
