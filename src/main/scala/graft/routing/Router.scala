package graft.routing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * registered. All predicates are built-in codegen'd expressions inside one
  * WholeStageCodegen stage; nothing here shuffles.
  */
object Router {

  /** Routing verdict tags carried in the `__route` column. */
  val TagCol = "__route"
  val ReasonCol = "__reason"
  val BadMessage = "badmsg"
  val Skipped = "skipped"
  def branch(schemaId: String): String = s"branch:$schemaId"

  /** Per-row branch index [[tag]] computes and drops. */
  private val BranchCol = "__graft_route_branch"

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
    * Evaluation shape (r16, guide §1.2 "per-task work" / §4 expression
    * choice): the condition chain — including the full payload-validator
    * expression tree, the expensive half of every draft-04 routing row —
    * is evaluated ONCE per row into the reason, and the tag is a cheap
    * verdict map over the reason (the reason strings are in 1:1
    * correspondence with the when-branches, so the mapping loses nothing).
    * The r15 shape evaluated the identical chain twice (verdict + reason).
    * Repeated JSON-derivation subexpressions inside the chain (raw-object
    * key listings, variant parses — conditional contexts, which whole-stage
    * codegen's subexpression elimination does not dedupe) are hoisted into
    * per-row columns first, so each distinct parse of the raw payload runs
    * at most once per row. Still one projection pipeline: no shuffle, one
    * source scan regardless of registry size (spec-pinned).
    */
  def tag(df: DataFrame, config: Config): DataFrame = {
    // the working columns below are added and dropped by name: an input
    // column of the same name (case-insensitively, as Spark resolves it)
    // would be silently overwritten, then dropped
    val clashes = df.columns.filter { c =>
      val n = c.toLowerCase
      n == TagCol || n == ReasonCol || n == BranchCol || n.startsWith(JsonCse.ColPrefix)
    }
    require(clashes.isEmpty,
      s"Router.tag: input already has routing working column(s) " +
        s"${clashes.mkString(", ")}; drop or rename them before tagging " +
        s"(re-tagging a tagged frame: drop $TagCol and $ReasonCol first)")
    val ev = col(config.eventCol)
    val dataSchema = ev.getField("data").getField("schema")
    val registeredIds = config.registry.keys.toSeq

    // The short-circuit ladder, in the reference's order. Branch 5 (skip)
    // maps to Skipped; every other firing branch is a bad message.
    val pre: Seq[(Column, String)] = Seq(
      ev.isNull -> "undecodable",
      ev.getField("schema").isNull -> "missing schema",
      (ev.getField("schema") =!= config.eventSchemaId) -> "wrong event schema",
      (!config.envelope.valid(ev)) -> "invalid envelope",
      (dataSchema.isNull || !dataSchema.isin(registeredIds: _*)) -> "unregistered schema")
    val skipIdx = 5 // 1-based position of the skip branch in the ladder

    // Payload parses run only on rows no earlier branch claimed — the same
    // rows whose CASE branch would have evaluated them, so the hoisted
    // columns cost nothing on undecodable/unregistered rows. A CASE
    // condition fires only when TRUE (null falls through), hence the
    // null-safe negation. The envelope-validity term is deliberately
    // omitted from the gate: the gate may only OVER-approximate the rows
    // whose payload branch evaluates (an under-approximation would feed a
    // NULL parse into a live branch condition), and re-running a heavy
    // envelope validator inside the gate would double-pay it. Cost: rows
    // with an invalid envelope parse their payload for nothing — rare by
    // the quarantine contract.
    val reachesPayload = pre.collect {
      case (c, r) if r != "invalid envelope" => !c.eqNullSafe(lit(true))
    }.foldLeft(lit(true))(_ && _)

    // Hoisting is restricted to the payload condition: envelope-constraint
    // parses (if any) must stay inline, because the gate cannot know
    // whether the envelope branch itself needs them.
    val (prepped, payloadBadCse, cseCols) =
      JsonCse.hoist(df, !payloadValid(ev, config), reachesPayload)

    // ONE evaluation of the whole ladder into a small branch index; tag and
    // reason are integer CASE maps over it.
    val idxCse = pre.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, ((c, _), i)) =>
        Some(acc.fold(when(c, lit(i + 1)))(_.when(c, lit(i + 1))))
      }.get
      .when(payloadBadCse, lit(pre.size + 1))
      .otherwise(lit(0))
    val reasons = pre.map(_._2) :+ "invalid payload"
    prepped.withColumn(BranchCol, idxCse)
      .withColumn(TagCol,
        when(col(BranchCol) === 0, concat(lit("branch:"), dataSchema))
          .when(col(BranchCol) === skipIdx, lit(Skipped))
          .otherwise(lit(BadMessage)))
      .withColumn(ReasonCol,
        reasons.zipWithIndex.foldLeft(Option.empty[Column]) {
          case (acc, (r, i)) =>
            Some(acc.fold(when(col(BranchCol) === (i + 1), lit(r)))(
              _.when(col(BranchCol) === (i + 1), lit(r))))
        }.get.otherwise(lit(null).cast("string")))
      .drop((BranchCol +: cseCols): _*)
  }

  private def payloadValid(ev: Column, config: Config): Column = {
    val dataSchema = ev.getField("data").getField("schema")
    config.registry.foldLeft(lit(true)) { case (acc, (id, reg)) =>
      acc && (dataSchema =!= id || reg.schema.valid(ev.getField("data")))
    }
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
