package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.routing._
import graft.relational.AsOfJoin
import Dsl._
import OracleSql._

/** Event-stream surface: the reference's schema-routing semantics exercised
  * over the `events` table (routing key = `event_type`, payload = `props`
  * JSON), plus event-time operators (hourly windows, sessionization, as-of
  * enrichment).
  */
object EventQueries {

  /** Registry used by the routing queries: three registered event types,
    * payload constraint `k required ∧ k ≤ 90` (k ranges 0..99 in the data, so
    * ~9% of otherwise-routable events are quarantined — exercising the
    * bad-message path with real rows).
    */
  private val registeredTypes = Seq("click", "purchase", "signup")
  private def registry: Map[String, Router.Registration] =
    registryOf(Seq(Required("k"), NumRange("k", None, Some(90.0))))

  /** Every registered type under the same payload `constraints`; a type in
    * `handlers` gets that handler, the rest the identity. */
  private def registryOf(constraints: Seq[Constraint],
      handlers: Map[String, DataFrame => DataFrame] = Map.empty)
      : Map[String, Router.Registration] =
    registeredTypes.map { t =>
      t -> Router.Registration(RegisteredSchema(t, constraints),
        handlers.getOrElse(t, identity[DataFrame]))
    }.toMap

  private val envelopeId = "com.graft/stream/1-0-0"

  /** The routing config every row uses: the stream's envelope schema (no
    * envelope constraints) over `registry`. */
  private def routeConfig(registry: Map[String, Router.Registration]): Router.Config =
    Router.Config(envelopeId, RegisteredSchema(envelopeId, Nil), registry)

  /** Tag `evs` under `registry` and count rows per verdict: (route, n). */
  private def routeCounts(evs: DataFrame,
      registry: Map[String, Router.Registration]): DataFrame =
    Router.tag(evs, routeConfig(registry))
      .groupBy(col(Router.TagCol).as("route"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("route"))

  /** CASE-expression oracle for the routing verdict, mirroring the reference
    * short-circuit order: skip-unknown-schema BEFORE payload validation
    * (reference lib/kinesisHandler.js:114-123 — registry membership is
    * checked before the payload is validated).
    */
  private val routeOracleCase =
    """CASE WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
           WHEN k IS NULL OR k > 90 THEN 'badmsg'
           ELSE 'branch:' || event_type END"""

  val queries: Seq[DeclaredQuery] = Seq(

    // ---- P1-P6: route by schema with quarantine, direct struct path ------
    DeclaredQuery("events_route_counts",
      (s, dir) => {
        val evs = events(s, dir)
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              get_json_object(col("props"), "$.k").cast("long").as("k")).as("data")))
        Router.tag(evs, routeConfig(registry))
          .groupBy(col(Router.TagCol).as("route"))
          .agg(count(lit(1)).as("n"), dsum(dec2(col("value"))).as("sum_value"))
          .orderBy(col("route"))
      },
      Some(s"""SELECT $routeOracleCase AS route, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (SELECT *, CAST(json_extract(props, '$$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // ---- additionalProperties:false through the quarantine gate ----------
    // The first AJV keyword a real schema-registry port needs beyond value
    // constraints. from_json drops unknown keys before parsed-level checks
    // run, so the config carries the raw payload JSON alongside the parsed
    // fields and NoAdditionalProps validates the raw object's key set.
    // Payloads where k ≡ 0 (mod 7) carry a extra "debug" key → quarantined
    // as invalid payloads even though every PARSED field is in range.
    DeclaredQuery("route_additional_props",
      (s, dir) => {
        val evs = events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .withColumn("raw", concat(lit("{\"k\":"), col("k"),
            when(pmod(col("k"), lit(7)) === 0, lit(",\"debug\":true"))
              .otherwise(lit("")),
            lit("}")))
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              col("k").as("k"),
              col("raw").as("raw")).as("data")))
        routeCounts(evs, registryOf(Seq(Required("k"),
          NumRange("k", None, Some(90.0)), NoAdditionalProps("raw", Seq("k")))))
      },
      Some("""SELECT CASE
          WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
          WHEN k IS NULL OR k > 90 OR k % 7 = 0 THEN 'badmsg'
          ELSE 'branch:' || event_type END AS route, COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // ---- uniqueItems + dependencies through the quarantine gate ----------
    // The remaining draft-04 keywords under the oracle: the payload carries
    // a tags array (duplicate exactly when k < 10, since tags = [k, k%10])
    // and an optional `extra` field (present when k ≡ 0 mod 5) whose
    // dependency `extra2` is only present when k ≡ 0 mod 10 — so every
    // k ∈ {5, 15, 25, ...} violates the dependency and every k < 10
    // violates uniqueItems. The oracle recomputes the verdict arithmetic.
    DeclaredQuery("route_keyword_gauntlet",
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        val evs = events(s, dir)
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              k.as("k"),
              array(k, pmod(k, lit(10))).as("tags"),
              when(pmod(k, lit(5)) === 0, k).as("extra"),
              when(pmod(k, lit(10)) === 0, k).as("extra2")).as("data")))
        routeCounts(evs, registryOf(Seq(Required("k"), UniqueItems("tags"),
          Dependencies("extra", Seq("extra2")))))
      },
      Some("""SELECT CASE
          WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
          WHEN k IS NULL OR k < 10 OR (k % 5 = 0 AND k % 10 <> 0) THEN 'badmsg'
          ELSE 'branch:' || event_type END AS route, COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // The remaining draft-04 combinator keywords under the oracle: $ref
    // (resolved against a definitions registry at compile time — AJV's
    // addSchema), oneOf (EXACTLY-one via a 0/1 match-count sum), not, and
    // multipleOf (AJV's division % 1 check). Verdict per event:
    // k present AND k ≡ 0 (mod 3) [via $ref] AND k in exactly one of
    // [10,40] / [30,90] [oneOf — the overlap fails on BOTH matching] AND
    // k not ≡ 0 (mod 7) [not]. The oracle recomputes the same arithmetic.
    DeclaredQuery("route_ref_oneof",
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        val evs = events(s, dir)
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(col("event_type").as("schema"), k.as("k")).as("data")))
        val defs = () => Map(
          "common/k-multiple-of-3" -> Seq(Required("k"), MultipleOf("k", 3.0)))
        routeCounts(evs, registryOf(Seq(
          Ref("common/k-multiple-of-3", defs),
          OneOf(Seq(
            Seq(NumRange("k", Some(10), Some(40))),
            Seq(NumRange("k", Some(30), Some(90))))),
          Not(MultipleOf("k", 7.0)))))
      },
      Some("""SELECT CASE
          WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
          WHEN k IS NULL OR k % 3 <> 0 THEN 'badmsg'
          WHEN (CASE WHEN k BETWEEN 10 AND 40 THEN 1 ELSE 0 END
              + CASE WHEN k BETWEEN 30 AND 90 THEN 1 ELSE 0 END) <> 1 THEN 'badmsg'
          WHEN k % 7 = 0 THEN 'badmsg'
          ELSE 'branch:' || event_type END AS route, COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // The draft-04 TAIL keywords under the oracle: exclusiveMaximum (bound
    // flips strict: k < 95), maxProperties (raw gains a 4th key "y" when
    // k ≡ 0 mod 11 → over the 3-key cap), patternProperties ("x-a" must be
    // a digit string; it is "bad" when k ≡ 0 mod 13), and a union type
    // array for "v" (string when k ≡ 0 mod 3, DOUBLE when k ≡ 0 mod 17 —
    // only string|integer admitted, so the double variant quarantines),
    // with additionalProperties admitting the "x-*" extension keys via
    // allowedPatterns. The oracle recomputes the verdict arithmetic.
    DeclaredQuery("route_draft4_tail",
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        val evs = events(s, dir)
          .withColumn("k", k)
          .withColumn("raw", concat(
            lit("{\"k\":"), col("k"),
            lit(",\"v\":"),
            when(pmod(col("k"), lit(3)) === 0,
              concat(lit("\"s"), col("k"), lit("\"")))
              .when(pmod(col("k"), lit(17)) === 0, concat(col("k"), lit(".5")))
              .otherwise(col("k").cast("string")),
            lit(",\"x-a\":"),
            when(pmod(col("k"), lit(13)) === 0, lit("\"bad\""))
              .otherwise(col("k").cast("string")),
            when(pmod(col("k"), lit(11)) === 0, lit(",\"y\":1")).otherwise(lit("")),
            lit("}")))
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              col("k").as("k"),
              col("raw").as("raw")).as("data")))
        routeCounts(evs, registryOf(Seq(
          Required("k"),
          NumRange("k", Some(0), Some(95), exclusiveMax = true),
          PropsCount("raw", Some(1), Some(3)),
          PatternProps("raw", "^x-", "^\\d+$"),
          TypeUnion("raw", "$.v", Seq("string", "integer")),
          NoAdditionalProps("raw", Seq("k", "v", "y"), Seq("^x-")))))
      },
      Some("""SELECT CASE
          WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
          WHEN k IS NULL OR k >= 95 OR k % 11 = 0 OR k % 13 = 0
            OR (k % 17 = 0 AND k % 3 <> 0) THEN 'badmsg'
          ELSE 'branch:' || event_type END AS route, COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // ---- the reference's ACTUAL registration API shape: draft-04 JSON
    // DOCUMENTS compiled to the constraint bundle. Every other route query
    // hand-builds Constraint lists; here the schemas are the artifact an
    // AJV user ships — a JSON document with self {vendor,name,version}
    // (makeSchemaId, reference lib/kinesisHandler.js:15-17) registered via
    // registerSchemaMethodPair (lib/kinesisHandler.js:91-99) — run through
    // Draft4Schema.compile: $ref into definitions (→ Rebase at the 'k'
    // property), boolean exclusiveMaximum, and a nested property pattern
    // all arrive via the compiled path. data.schema carries the full
    // vendor/name/version id, exactly the reference's two-level shape.
    DeclaredQuery("route_draft4_document",
      (s, dir) => {
        def doc(name: String): String =
          s"""{
            "$$schema": "http://json-schema.org/draft-04/schema#",
            "self": {"vendor": "com.graft", "name": "$name", "version": "1-0-0"},
            "type": "object",
            "required": ["k"],
            "properties": {
              "k": {"$$ref": "#/definitions/smallCount"},
              "tag": {"type": "string", "pattern": "^t[0-9]+$$"}
            },
            "definitions": {
              "smallCount": {"type": "integer", "minimum": 0,
                             "maximum": 91, "exclusiveMaximum": true}
            }
          }"""
        val compiledRegistry = registeredTypes.map { t =>
          val c = Draft4Schema.compile(doc(t))
          c.id -> Router.Registration(c.registeredSchema, identity[DataFrame])
        }.toMap
        val k = get_json_object(col("props"), "$.k").cast("long")
        val evs = events(s, dir)
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              concat(lit("com.graft/"), col("event_type"), lit("/1-0-0"))
                .as("schema"),
              k.as("k"),
              when(pmod(k, lit(19)) === 0, concat(lit("x"), k))
                .otherwise(concat(lit("t"), k)).as("tag")).as("data")))
        routeCounts(evs, compiledRegistry)
      },
      Some("""SELECT CASE
          WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
          WHEN k IS NULL OR k >= 91 OR k % 19 = 0 THEN 'badmsg'
          ELSE 'branch:com.graft/' || event_type || '/1-0-0' END AS route,
          COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // ---- validate_json_schema as ONE droppable expression ----------------
    // SURVEY §4's deferred ergonomic, gated: the full P1–P4 conjunction for
    // a compiled draft-04 document as a single boolean Column — no Router,
    // no registry, just `validateJsonSchema(doc, payload)` in a
    // conditional aggregation. The per-type validity matrix is the shape a
    // porter embeds in any quality dashboard; the oracle recomputes the
    // document's verdict arithmetic (required k, minimum 5, tag pattern).
    DeclaredQuery("schema_validity_matrix",
      (s, dir) => {
        val doc =
          """{
            "self": {"vendor": "com.graft", "name": "payload", "version": "1-0-0"},
            "type": "object",
            "required": ["k"],
            "properties": {
              "k": {"type": "integer", "minimum": 5},
              "tag": {"type": "string", "pattern": "^t[0-9]+$"}
            }
          }"""
        val k = get_json_object(col("props"), "$.k").cast("long")
        val ok = Draft4Schema.validateJsonSchema(doc,
          struct(k.as("k"),
            when(pmod(k, lit(7)) === 0, concat(lit("u"), k))
              .otherwise(concat(lit("t"), k)).as("tag")))
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(ok, 1L).otherwise(0L)).as("n_valid"))
          .withColumn("valid_permille", expr("(1000L * n_valid) div n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CASE WHEN k IS NOT NULL AND k >= 5 AND k % 7 <> 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
          CAST((1000 * SUM(CASE WHEN k IS NOT NULL AND k >= 5 AND k % 7 <> 0
                   THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS valid_permille
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // ---- S3/S4: full wire-format round trip through the codec ------------
    // Encodes each event as a base64 JSON Kinesis-style payload, then runs
    // the real decode path (unbase64 → from_json → validate → route). The
    // oracle computes the expected routing directly — the codec must be the
    // identity on valid payloads.
    DeclaredQuery("kinesis_roundtrip_route",
      (s, dir) => {
        val payloadType = Envelope.payloadSchema(Seq(
          StructField("k", LongType), StructField("value", DoubleType)))
        val wire = events(s, dir)
          .withColumn("kinesis", struct(
            EventCodec.encodeEvent(struct(
              lit(envelopeId).as("schema"),
              struct(
                col("event_type").as("schema"),
                get_json_object(col("props"), "$.k").cast("long").as("k"),
                col("value").as("value")).as("data"),
              lit("graft-test").as("origin"),
              date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("timestamp"))).as("data"),
            col("user_id").cast("string").as("partitionKey"),
            col("event_id").cast("string").as("sequenceNumber"),
            unix_timestamp(col("ts")).cast("double").as("approximateArrivalTimestamp"),
            lit("1.0").as("kinesisSchemaVersion")))
        val decoded = EventCodec.withDecodedEvent(wire, payloadType)
        routeCounts(decoded, registry)
      },
      Some(s"""SELECT $routeOracleCase AS route, COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1 ORDER BY 1""")),

    // ---- T1/T6 under the oracle: the streaming skin end-to-end -----------
    // The reference's ACTUAL job shape, hash-checked: a DSv2 replay stream
    // over the events table is tagged by Router.tag and drains through
    // Spark's parquet file sink (drainToParquet: Trigger.AvailableNow,
    // numBatches 2 → multi-batch at EVERY SF with constant trigger
    // overhead) carrying tag + ts, and the query returns hourly per-route
    // windowed counts over the SINK — so the verdict covers the
    // micro-batch source, the per-batch routing, the append sink, AND the
    // window, against the same batch SQL oracle the
    // batch analogue uses. Batches partition the replayed rows disjointly,
    // so sink-level aggregation equals the all-at-once batch answer.
    DeclaredQuery("stream_windowed_route_counts",
      (s, dir) => {
        val evs = Dsl.normalizeTs(replay(s, dir, "events", 2))
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              get_json_object(col("props"), "$.k").cast("long").as("k")).as("data")))
        graft.streaming.StreamingRouter.drainToParquet(
            Router.tag(evs, routeConfig(registry))
              .select(col(Router.TagCol), col("ts")), "route")
          .groupBy(col(Router.TagCol).as("route"),
            date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("route"), col("hour"))
      },
      Some(s"""SELECT $routeOracleCase AS route,
          CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, COUNT(*) AS n
        FROM (SELECT *, CAST(json_extract(props, '$$.k') AS BIGINT) AS k FROM events) e
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- T6 under the oracle: event-time windows through micro-batches ----
    // Watermarked tumbling-window counts computed STATEFULLY across the
    // replay stream's micro-batches (each batch updates window state; the
    // fixture's ts is monotone in replay order, so the watermark drops
    // nothing and the final state equals the batch answer), drained by
    // drainComplete.
    DeclaredQuery("stream_hourly_counts",
      (s, dir) => {
        val evs = Dsl.normalizeTs(replay(s, dir, "events", 2))
        val counts = graft.streaming.StreamingRouter.windowedCounts(
          evs, "ts", watermark = "2 hours", size = "1 hour", slide = "1 hour",
          "event_type")
        graft.streaming.StreamingRouter.drainComplete(counts, "stream_hourly")
          .select(col("window.start").cast("timestamp_ntz").as("hour"),
            col("event_type"), col("n"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
          event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- T6/T7: STREAMING drift monitor ----------------------------------
    // The production pairing of drift_event_mix: hourly event-mix shares
    // computed IN the stream (watermarked tumbling windows, state bounded
    // by the watermark), with per-type permille share deltas versus the
    // previous emitted window. The windowed-counts frame is answer-sized
    // (hours × types), so the Complete-mode memory sink + localize + drop
    // pattern applies; the delta post-processing runs over the LOCAL
    // answer-sized frame. An alerting consumer thresholds delta_permille.
    DeclaredQuery("stream_drift_windows",
      (s, dir) => {
        val evs = Dsl.normalizeTs(replay(s, dir, "events", 2))
        val counts = graft.streaming.StreamingRouter.windowedCounts(
          evs, "ts", watermark = "2 hours", size = "1 hour", slide = "1 hour",
          "event_type")
        val hourly = graft.streaming.StreamingRouter.drainComplete(counts, "stream_drift")
          .select(col("window.start").cast("timestamp_ntz").as("hour"),
            col("event_type"), col("n"))
        // r16 (guide §2.4): the hour total rides a full-partition window
        // instead of a groupBy + join back — one pass over the drained
        // answer-sized frame
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("hour"))
        hourly
          .withColumn("__ht", sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("hour"))))
          .withColumn("share_permille", expr("(1000L * n) div __ht"))
          .withColumn("delta_permille",
            coalesce(abs(col("share_permille") -
              lag(col("share_permille"), 1).over(w)), lit(0L)))
          .select(col("hour"), col("event_type"), col("n"),
            col("share_permille"), col("delta_permille"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""WITH c AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                 event_type, COUNT(*) AS n
               FROM events GROUP BY 1, 2),
        t AS (SELECT hour, SUM(n) AS ht FROM c GROUP BY 1),
        s AS (SELECT c.hour, c.event_type, c.n,
                CAST((1000 * c.n) // t.ht AS BIGINT) AS share_permille
              FROM c JOIN t USING (hour))
        SELECT hour, event_type, n, share_permille,
          CAST(COALESCE(abs(share_permille - LAG(share_permille) OVER (
            PARTITION BY event_type ORDER BY hour)), 0) AS BIGINT)
            AS delta_permille
        FROM s ORDER BY hour, event_type""")),

    // ---- T6 under the oracle: STREAM-STREAM interval join ----------------
    // The attribution join (clicks within the trailing 2 h of each
    // purchase) running fully in Structured Streaming: two replay streams
    // over the same fixture, both watermarked at 3 h so join state is
    // BOUNDED (clicks evict once the watermark passes their match horizon
    // — the forever-running shape, not an unbounded-state demo), inner
    // join with an event-time band, append-mode emission. Exactness
    // against the batch oracle is provable, not hoped: the fixture's ts is
    // monotone in replay order and both sources split the file at the same
    // row ranges, so every click a future purchase can reach (≤ 2 h back)
    // is younger than watermark − 1 h at eviction time — nothing a match
    // needs is ever dropped. Inner-join matches emit eagerly (append mode
    // holds back only outer-side nulls), so the drained sink holds exactly
    // the batch join's pairs; the post-drain aggregation is batch-side.
    // ---- Dead-letter REDRIVE: quarantine reprocessing under the oracle ----
    // The production follow-up to a quarantine queue: records that failed
    // the strict schema (k <= 50) are re-validated under a relaxed one
    // (k <= 90) — a redrive after a schema-registry fix. Both passes are
    // the same single-projection tag kernel; the second runs ONLY on the
    // first pass's badmsg slice (answer-sized, not a rescan), and the
    // output accounts every strict-pass verdict with recovered/still-bad
    // split — the ledger an ops team reads after a redrive.
    DeclaredQuery("deadletter_redrive",
      (s, dir) => {
        val evs = events(s, dir)
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              get_json_object(col("props"), "$.k").cast("long").as("k")).as("data")))
        def reg(maxK: Double) = routeConfig(
          registryOf(Seq(Required("k"), NumRange("k", None, Some(maxK)))))
        val strict = reg(50.0)
        val relaxed = reg(90.0)
        val firstPass = Router.tag(evs, strict)
        val redriven = Router.tag(
          firstPass.filter(col(Router.TagCol) === Router.BadMessage)
            .drop(Router.TagCol, Router.ReasonCol), relaxed)
        val firstCounts = firstPass
          .groupBy(col(Router.TagCol).as("verdict"))
          .agg(count(lit(1)).as("n"))
          .withColumn("pass", lit("strict"))
        val redriveCounts = redriven
          .groupBy(col(Router.TagCol).as("verdict"))
          .agg(count(lit(1)).as("n"))
          .withColumn("pass", lit("redrive"))
        firstCounts.unionByName(redriveCounts)
          .select(col("pass"), col("verdict"), col("n"))
          .orderBy(col("pass"), col("verdict"))
      },
      Some("""WITH e AS (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events),
        strict AS (SELECT CASE
            WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
            WHEN k IS NULL OR k > 50 THEN 'badmsg'
            ELSE 'branch:' || event_type END AS verdict, * FROM e),
        redrive AS (SELECT CASE
            WHEN event_type NOT IN ('click', 'purchase', 'signup') THEN 'skipped'
            WHEN k IS NULL OR k > 90 THEN 'badmsg'
            ELSE 'branch:' || event_type END AS verdict
          FROM strict WHERE verdict = 'badmsg')
        SELECT 'strict' AS pass, verdict, COUNT(*) AS n FROM strict GROUP BY 1, 2
        UNION ALL
        SELECT 'redrive' AS pass, verdict, COUNT(*) AS n FROM redrive GROUP BY 1, 2
        ORDER BY pass, verdict""")),

    // ---- Effectively-once union: at-least-once delivery collapsed --------
    // The reference's re-poll contract means the SAME record can arrive
    // twice (Kinesis re-delivery, overlapping backfills). Two replay
    // streams over the SAME fixture union into one feed — every event
    // delivered exactly twice — and the stateful first-occurrence filter
    // collapses re-deliveries by event_id, so downstream counts equal the
    // single-copy batch answer: at-least-once transport + idempotent state
    // = effectively-once processing, hash-checked.
    DeclaredQuery("stream_union_effectively_once",
      (s, dir) => {
        import s.implicits._
        val union = replay(s, dir, "events", 2)
          .unionByName(replay(s, dir, "events", 2))
          .select(col("event_id").cast("long"), col("event_type"))
          .as[(Long, String)]
        val once = graft.streaming.StatefulOps.firstOccurrenceBy(union)(
          _._1.toString, (a, b) => if (a._1 <= b._1) a else b)
        // per-event survivor rows are corpus-sized → parquet sink, not the
        // driver; final counts are batch SQL over the sink
        graft.streaming.StreamingRouter.drainToParquet(
          once.toDF("event_id", "event_type"), "once")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
          CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- T4/O1 under the oracle: STATEFUL cross-batch exact dedup --------
    // The streaming twin of dedup_exact: documents replay in 2 stable
    // micro-batches, a flatMapGroupsWithState seen-marker keeps each text
    // fingerprint's first occurrence ONLY (one boolean of state per
    // distinct fp, partitioned by key — the bounded-state corpus-dedup
    // shape), and per-batch winners reduce deterministically by min
    // doc_id. The fixture's file order is doc_id-monotone, so the kept
    // row per fp equals the GLOBAL min-doc_id row, and the batch oracle
    // is a plain min-per-group join.
    DeclaredQuery("stream_dedup_firstseen",
      (s, dir) => {
        import s.implicits._
        val ds = replay(s, dir, "documents", 2)
          .select(col("doc_id").cast("long"), md5(col("text")).as("fp"),
            col("source"))
          .as[(Long, String, String)]
        val kept = graft.streaming.StatefulOps.firstOccurrenceBy(ds)(
          _._2, (a, b) => if (a._1 <= b._1) a else b)
        // dedup survivors ≈ the distinct corpus — corpus-sized, so they land
        // on storage (parquet sink), and the per-source ledger is batch SQL
        graft.streaming.StreamingRouter.drainToParquet(
          kept.toDF("doc_id", "fp", "source"), "dedup")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        k AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
        SELECT d.source, COUNT(*) AS n_kept,
          CAST(SUM(d.doc_id) AS BIGINT) AS kept_id_sum
        FROM d JOIN k ON d.doc_id = k.keep_id
        GROUP BY 1 ORDER BY 1""")),

    DeclaredQuery("stream_attribution_join",
      (s, dir) => {
        def ofType(tp: String) = Dsl.normalizeTs(replay(s, dir, "events", 2))
          .filter(col("event_type") === tp)
        val clicks = ofType("click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "3 hours")
        val buys = ofType("purchase")
          .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "3 hours")
        val joined = buys.join(clicks, expr(
          """c_user = p_user AND
             c_ts >= p_ts - interval 2 hours AND c_ts < p_ts"""))
        // The pair set is NOT answer-sized (clicks×purchases within 2 h per
        // user grows with the corpus) — land it on storage via the parquet
        // sink, never the driver; aggregation is batch SQL over the sink.
        graft.streaming.StreamingRouter.drainToParquet(
          joined.select(col("event_id")), "attr")
          .groupBy(col("event_id"))
          .agg(count(lit(1)).as("n_clicks"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id, COUNT(*) AS n_clicks
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts < p.ts
        GROUP BY 1 ORDER BY 1""")),

    // ---- T6 under the oracle: SESSION windows through micro-batches ------
    // Event-time sessionization (30 min inactivity gap) computed statefully
    // across the replay stream's batches via session_window — merged-window
    // state updated per batch, Complete-mode emission at AvailableNow
    // termination. The oracle mirrors session_window's EXACT boundary
    // arithmetic in microseconds (a new session starts iff the gap is
    // >= 30 min in µs — not the seconds-truncated lag of events_sessions),
    // so the streaming merge is hash-checked, not approximated. Per-user
    // event order equals ts order in the fixture, so the batch lag/cumsum
    // replay is the same partition (bounded keys: users).
    DeclaredQuery("stream_session_counts",
      (s, dir) => {
        val stream = Dsl.normalizeTs(replay(s, dir, "events", 2))
        val sess = graft.streaming.StreamingRouter.sessionCounts(
          stream.select(col("user_id"), col("ts")),
          "ts", watermark = "2 hours", gap = "30 minutes", "user_id")
        graft.streaming.StreamingRouter.drainComplete(sess, "stream_sess")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), max(col("n")).as("max_session"),
            sum(col("n")).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH l AS (
          SELECT user_id, ts,
            LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events),
        g AS (
          SELECT user_id, ts,
            CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
          FROM l),
        sx AS (
          SELECT user_id,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM g),
        per AS (SELECT user_id, sess_id, COUNT(*) AS n FROM sx GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_sessions,
          CAST(MAX(n) AS BIGINT) AS max_session,
          CAST(SUM(n) AS BIGINT) AS n_events
        FROM per GROUP BY 1 ORDER BY 1""")),

    // ---- Stream-static enrichment under the oracle -----------------------
    // The dimension-join pattern every streaming pipeline runs: each
    // micro-batch of the replay stream joins the STATIC customer table
    // (re-read per batch, so a dim refresh is picked up between batches —
    // Spark's stream-static join semantics) and aggregates revenue per
    // market segment. Batches partition the stream disjointly and the dim
    // is constant here, so the drained result equals the batch join —
    // hash-checked. The dim side broadcasts (it is the small side by
    // construction at any corpus scale).
    DeclaredQuery("stream_static_enrichment",
      (s, dir) => {
        val stream = Dsl.normalizeTs(replay(s, dir, "events", 2))
        val dim = broadcast(tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        val joined = stream
          .filter(col("event_type") === "purchase")
          .join(dim, col("c_custkey") === col("user_id") + 1)
        val totals = joined.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("__sv"))
        graft.streaming.StreamingRouter.drainComplete(totals, "stream_enrich")
          .select(col("c_mktsegment"), col("n"),
            col("__sv").cast("double").as("sum_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c.c_mktsegment, COUNT(*) AS n,
          CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
        WHERE e.event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")),

    // ---- T7 under the oracle: observability metrics, not data -------------
    // The row-accounting a production stream job alarms on, hash-checked:
    // per-micro-batch numInputRows from the engine's own
    // StreamingQueryProgress (read via q.recentProgress AFTER termination —
    // synchronous, unlike the async listener bus). The replay source's read
    // limit makes batch sizes deterministic (full batches of batchSize,
    // then the remainder), so the oracle computes them from COUNT(*) alone:
    // the metrics must agree with arithmetic over the table, proving the
    // progress stream neither drops nor double-counts rows.
    // ---- O91s: streaming CUSUM — the changepoint alarm IN the stream ------
    // Page's sequential test as flatMapGroupsWithState: O(1) state per
    // routing key (running excess sum + its min), per-trigger volumes
    // against a fixed reference rate of 450 rows/batch; the bounded
    // replay's 5 deterministic row-range batches make every emitted
    // (key, seq, x, cusum) row batch-SQL-replayable (file order is
    // (ts, event_id) order, so the oracle rebuilds the batch slicing
    // with one row_number).
    // ---- O154s: streaming dyadic EWMA (O154 twin) --------------------------
    // The volume smoother running IN the stream at O(1) state per key
    // (seq + the dyadic numerator, two longs): each trigger folds its
    // batch count and emits the smooth + residual — the live sibling of
    // ewma_rate_monitor, same closed form, so the bounded replay is
    // batch-SQL-replayable row for row. 3 batches (the per-row constant
    // budget, BASELINE.md); alarm threshold 250‰ — quiet on the fixture's
    // even batch volumes, which is the correct read (the BATCH twin's
    // spec exercises the firing path on a doubled rate).
    DeclaredQuery("stream_ewma_alarm",
      (s, dir) => {
        import s.implicits._
        val ds = replay(s, dir, "events", 3).select(col("event_type")).as[String]
        val out = graft.streaming.StatefulOps.ewmaPerBatch(ds)(identity)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("event_type", "seq", "n_events", "ewma_milli",
            "dev_permille"), "ewma")
          .withColumn("alarm",
            col("seq") =!= 1L && abs(col("dev_permille")) > 250L)
          .orderBy(col("event_type"), col("seq"))
      },
      Some(s"""WITH ${batchCounts(3)},
        q AS (SELECT event_type, x,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY batch) AS BIGINT) AS seq
              FROM c),
        w AS (SELECT *, CASE WHEN seq = 1 THEN CAST(1 AS BIGINT)
                ELSE (CAST(1 AS BIGINT) << CAST(seq - 2 AS INTEGER)) END AS wt
              FROM q),
        c0 AS (SELECT *, SUM(x * wt)
                 OVER (PARTITION BY event_type ORDER BY seq) AS s
               FROM w),
        cm AS (SELECT *, LAG(s)
                 OVER (PARTITION BY event_type ORDER BY seq) AS sp
               FROM c0)
        SELECT event_type, seq, x AS n_events,
          CAST((1000 * s) // (CAST(1 AS BIGINT) << CAST(seq - 1 AS INTEGER))
            AS BIGINT) AS ewma_milli,
          CAST(CASE WHEN seq = 1 THEN 0
            ELSE (1000 * (x * wt - sp)) // sp END AS BIGINT) AS dev_permille,
          seq <> 1 AND ABS(CAST(CASE WHEN seq = 1 THEN 0
            ELSE (1000 * (x * wt - sp)) // sp END AS BIGINT)) > 250 AS alarm
        FROM cm ORDER BY event_type, seq""")),

    DeclaredQuery("stream_cusum_alarm",
      (s, dir) => {
        import s.implicits._
        val ds = replay(s, dir, "events", 5).select(col("event_type")).as[String]
        val out = graft.streaming.StatefulOps.cusumPerBatch(ds, 450L)(identity)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("event_type", "seq", "n_events", "cusum"), "cusum")
          .withColumn("alarm", col("cusum") > 1800L)
          .orderBy(col("event_type"), col("seq"))
      },
      Some(s"""WITH ${batchCounts(5)},
        p AS (SELECT event_type, batch, x,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY batch) AS BIGINT) AS seq,
                CAST(SUM(x - 450) OVER (PARTITION BY event_type
                  ORDER BY batch) AS BIGINT) AS pp
              FROM c),
        s AS (SELECT event_type, seq, x, pp -
                least(CAST(MIN(pp) OVER (PARTITION BY event_type
                  ORDER BY batch) AS BIGINT), 0) AS cusum
              FROM p)
        SELECT event_type, seq, x AS n_events, cusum,
          cusum > 1800 AS alarm
        FROM s ORDER BY event_type, seq""")),

    // ---- O158s: streaming SRM guard (O158 twin) -----------------------------
    // The experiment guardrail IN the stream: cumulative per-arm row
    // counts (O(1) state, one key — see StatefulOps.srmPerBatch for why
    // rows, not units), χ² vs the frozen 3841459 literal per trigger. On
    // the fixture's md5 A/A split the flag must stay false every batch —
    // the honest null reading; the firing path is spec-exercised on a
    // planted one-arm stream. 3 batches (the per-row constant budget).
    DeclaredQuery("stream_srm_guard",
      (s, dir) => {
        import s.implicits._
        val arms = replay(s, dir, "events", 3).select(
          graft.relational.Experiment.arm(col("user_id"), "exp1").as("arm"))
          .as[Long]
        val out = graft.streaming.StatefulOps.srmPerBatch(arms)(identity)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("seq", "n_a", "n_b", "chi2_micro", "srm_flag"), "srm")
          .orderBy(col("seq"))
      },
      Some(s"""WITH o AS (SELECT
               ${md5Bits60("'exp1:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
             FROM events),
        n AS (SELECT COUNT(*) AS nn FROM o),
        c AS (SELECT rn // ((nn + 2) // 3) AS batch,
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ba,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bb
              FROM o CROSS JOIN n GROUP BY 1),
        q AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY batch) AS BIGINT) AS seq,
                CAST(SUM(ba) OVER (ORDER BY batch) AS BIGINT) AS n_a,
                CAST(SUM(bb) OVER (ORDER BY batch) AS BIGINT) AS n_b
              FROM c)
        SELECT seq, n_a, n_b,
          (1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) AS chi2_micro,
          (1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) > 3841459
            AS srm_flag
        FROM q ORDER BY seq""")),

    // ---- O103s: streaming interval-union coverage (O103 twin) --------------
    // ---- O186: streaming Holt linear forecast -------------------------------
    // The EWMA family's trend-aware member, live: per event type, level +
    // trend from per-trigger counts at the dyadic α = β = 1/2 point where
    // the recurrence is EXACT in scaled integers (StatefulOps.holtPerBatch
    // derivation), one-step-ahead forecast in truncating milli. The oracle
    // replays the recurrence with a recursive CTE over the replay source's
    // deterministic batch slicing — both engines carry the identical
    // 4^(t−1)-scaled integers, so every digit hash-matches. 5 batches.
    DeclaredQuery("stream_holt_forecast",
      (s, dir) => {
        import s.implicits._
        val ds = replay(s, dir, "events", 5).select(col("event_type")).as[String]
        val out = graft.streaming.StatefulOps.holtPerBatch(ds)(identity)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("event_type", "seq", "n_events", "level_milli",
            "trend_milli", "forecast_milli"), "holt")
          .orderBy(col("event_type"), col("seq"))
      },
      Some(s"""WITH ${batchCounts(5)},
        s AS (SELECT event_type, x,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY batch) AS BIGINT) AS seq
              FROM c),
        h AS (
          WITH RECURSIVE hh(event_type, seq, x, L, B) AS (
            SELECT event_type, seq, x, x, CAST(0 AS BIGINT)
            FROM s WHERE seq = 1
            UNION ALL
            SELECT s.event_type, s.seq, s.x,
              2 * s.x * (CAST(1 AS BIGINT) << (2 * (s.seq - 2)))
                + 2 * (hh.L + hh.B),
              2 * hh.B +
                (2 * s.x * (CAST(1 AS BIGINT) << (2 * (s.seq - 2)))
                  + 2 * (hh.L + hh.B) - 4 * hh.L) // 2
            FROM hh JOIN s ON s.event_type = hh.event_type
              AND s.seq = hh.seq + 1)
          SELECT * FROM hh)
        SELECT event_type, seq, x AS n_events,
          (1000 * L) // (CAST(1 AS BIGINT) << (2 * (seq - 1)))
            AS level_milli,
          (1000 * B) // (CAST(1 AS BIGINT) << (2 * (seq - 1)))
            AS trend_milli,
          (1000 * (L + B)) // (CAST(1 AS BIGINT) << (2 * (seq - 1)))
            AS forecast_milli
        FROM h ORDER BY event_type, seq""")),

    // ---- O155s: streaming growth accounting (O155 twin) --------------------
    // The retention dashboard's LIVE ledger: per-user last-active-day state
    // (O(1) forever), each arriving (user, day) classified new / retained /
    // resurrected on the spot, churn surfaced lazily on return (see
    // StatefulOps.growthPerBatch for why mid-stream horizon churn is
    // unknowable — the batch O155 row stays the daily truth). Emissions
    // drained and rolled up per (discovery batch, day); the oracle replays
    // the classification — which depends only on each user's previous
    // distinct day — plus the dense-rank batch seq from the replay source's
    // deterministic row slicing. 3 batches (the per-row constant budget).
    DeclaredQuery("stream_growth_accounting",
      (s, dir) => {
        import s.implicits._
        val evs = Dsl.normalizeTs(replay(s, dir, "events", 3))
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("eday"))
          .as[(Long, Long)]
        val out = graft.streaming.StatefulOps.growthPerBatch(evs)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("user_id", "seq", "day", "cls"), "growth")
          .groupBy(col("seq"), col("day"))
          .agg(
            sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
            sum(when(col("cls") === "retained", 1L).otherwise(0L))
              .as("n_retained"),
            sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
              .as("n_resurrected"),
            sum(when(col("cls") === "churned", 1L).otherwise(0L))
              .as("n_churned"))
          .orderBy(col("seq"), col("day"))
      },
      Some("""WITH o AS (SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
             FROM events),
        n AS (SELECT COUNT(*) AS nn FROM o),
        b AS (SELECT user_id, d, MIN(rn // ((nn + 2) // 3)) AS fb
              FROM o CROSS JOIN n GROUP BY 1, 2),
        s AS (SELECT user_id, d, fb,
                LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev,
                DENSE_RANK() OVER (PARTITION BY user_id ORDER BY fb) AS seq
              FROM b),
        cls AS (SELECT seq, d AS day,
                  CASE WHEN prev IS NULL THEN 'new'
                       WHEN d = prev + 1 THEN 'retained'
                       ELSE 'resurrected' END AS cls
                FROM s
                UNION ALL
                SELECT seq, prev + 1 AS day, 'churned' AS cls FROM s
                WHERE prev IS NOT NULL AND d > prev + 1)
        SELECT CAST(seq AS BIGINT) AS seq, CAST(day AS BIGINT) AS day,
          CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_new,
          CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_retained,
          CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected,
          CAST(SUM(CASE WHEN cls = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_churned
        FROM cls GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- O181s: streaming domain-cap ledger (O181 twin) ---------------------
    // Host-level flood detection as production ingest runs it: the SAME
    // row-local url→host→registrable-domain extraction as the batch
    // domain_cap_curation ledger, piped through flatMapGroupsWithState
    // keyed by domain — O(1) state (running total + appearance counter),
    // cap verdict per trigger, `newly_capped` = the alert row the verdict
    // FLIPPED on. Synthetic host from event columns (the fixture has no
    // URL; skewed a/b/c/d buckets so cap 400 crosses in different batches
    // — fixture: 0/20 capped in batch 1, 5 in batch 2, 10 in batch 3).
    // Counting is order-free, so no replay-order contract is needed.
    DeclaredQuery("stream_domain_caps",
      (s, dir) => {
        import s.implicits._
        val stream = replay(s, dir, "events", 3)
        val url = concat(lit("https://www."), col("event_type"), lit("-"),
          when(pmod(col("user_id"), lit(16L)) < 8L, lit("a"))
            .when(pmod(col("user_id"), lit(16L)) < 12L, lit("b"))
            .when(pmod(col("user_id"), lit(16L)) < 14L, lit("c"))
            .otherwise(lit("d")),
          lit(".com/"), col("event_id").cast("string"))
        val evs = Dsl.normalizeTs(stream)
          .withColumn("url", url)
          .select(graft.text.DomainCuration.registrableDomain(
            graft.text.DomainCuration.host(col("url"))).as("dom"),
            lit(1L).as("one"))
          .as[(String, Long)]
        val out = graft.streaming.StatefulOps.domainCapsPerBatch(evs, cap = 400L)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("domain", "seq", "n_batch", "n_total", "over_cap",
            "capped", "newly_capped"), "domcaps")
          .orderBy(col("domain"), col("seq"))
      },
      Some("""WITH o AS (SELECT event_type, user_id, event_id, ts,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               COUNT(*) OVER () AS nn
             FROM events),
        u AS (SELECT 'https://www.' || event_type || '-' ||
                CASE WHEN user_id % 16 < 8 THEN 'a'
                     WHEN user_id % 16 < 12 THEN 'b'
                     WHEN user_id % 16 < 14 THEN 'c' ELSE 'd' END ||
                '.com/' || CAST(event_id AS VARCHAR) AS url,
                rn // ((nn + 2) // 3) AS batch
              FROM o),
        hx AS (SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)
                 AS host, batch FROM u),
        dm AS (SELECT CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                      ELSE string_split(host, '.')[-2] || '.' ||
                           string_split(host, '.')[-1] END AS domain, batch
               FROM hx),
        pb AS (SELECT domain, batch, CAST(COUNT(*) AS BIGINT) AS n_batch
               FROM dm GROUP BY 1, 2),
        r AS (SELECT domain, batch, n_batch,
                CAST(SUM(n_batch) OVER (PARTITION BY domain ORDER BY batch)
                  AS BIGINT) AS n_total,
                DENSE_RANK() OVER (PARTITION BY domain ORDER BY batch) AS seq
              FROM pb)
        SELECT domain, CAST(seq AS BIGINT) AS seq, n_batch, n_total,
          GREATEST(CAST(0 AS BIGINT), n_total - 400) AS over_cap,
          n_total > 400 AS capped,
          n_total > 400 AND (n_total - n_batch) <= 400 AS newly_capped
        FROM r ORDER BY domain, seq""")),

    // Live per-user activity coverage with O(1) state (see
    // StatefulOps.coveragePerBatch — ordered-replay contract, running
    // snapshot per batch; the final snapshot equals the batch sweep-line
    // answer). The oracle replays every per-batch snapshot as prefix
    // restrictions of the batch segment assignment.
    DeclaredQuery("stream_active_coverage",
      (s, dir) => {
        import s.implicits._
        val evs = Dsl.normalizeTs(replay(s, dir, "events", 3))
          .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("sec"))
          .as[(Long, Long)]
        val out = graft.streaming.StatefulOps.coveragePerBatch(evs, 1800L)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("user_id", "seq", "n_events", "n_segments", "covered_sec"),
          "cov")
          .orderBy(col("user_id"), col("seq"))
      },
      Some("""WITH o AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
             FROM events),
        n AS (SELECT COUNT(*) AS nn FROM o),
        r AS (SELECT user_id, s, s + 1800 AS e, rn // ((nn + 2) // 3) AS batch
              FROM o CROSS JOIN n),
        sg AS (SELECT user_id, s, e, batch,
                MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
              FROM r),
        sg2 AS (SELECT user_id, s, e, batch,
                 SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
               FROM sg),
        x AS (SELECT DISTINCT user_id, batch FROM r),
        pre AS (SELECT x.user_id, x.batch, p.s, p.e, p.seg
                FROM x JOIN sg2 p ON p.user_id = x.user_id
                  AND p.batch <= x.batch),
        ps AS (SELECT user_id, batch, seg, COUNT(*) AS n,
                 MIN(s) AS a, MAX(e) AS b
               FROM pre GROUP BY 1, 2, 3)
        SELECT user_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY batch)
            AS BIGINT) AS seq,
          CAST(SUM(n) AS BIGINT) AS n_events,
          CAST(COUNT(*) AS BIGINT) AS n_segments,
          CAST(SUM(b - a) AS BIGINT) AS covered_sec
        FROM ps GROUP BY user_id, batch ORDER BY user_id, seq""")),

    DeclaredQuery("stream_observed_batches",
      (s, dir) => {
        import s.implicits._
        // numBatches (not batchSize) pins the TRIGGER COUNT at every
        // scale factor: a fixed batchSize metered 13 triggers at sf0.1
        // (~1.7 s of pure per-trigger constant in the bench) while the
        // observability semantics — per-batch numInputRows accounting —
        // need only "several deterministic batches", which 4 is at any sf
        val q = replay(s, dir, "events", 4).writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        graft.streaming.StreamingRouter.awaitBounded(q)
        q.recentProgress.toSeq
          .filter(_.numInputRows > 0)
          .map(p => (p.batchId, p.numInputRows))
          .toDF("batch_id", "input_rows")
          .orderBy(col("batch_id"))
      },
      Some("""WITH t AS (SELECT ROW_NUMBER() OVER () AS rn FROM events),
          n AS (SELECT COUNT(*) AS cnt FROM t)
        SELECT (rn - 1) // ((cnt + 3) // 4) AS batch_id, COUNT(*) AS input_rows
        FROM t CROSS JOIN n GROUP BY 1 ORDER BY 1""")),

    // ---- P7: a NON-IDENTITY branch handler through the verify gate. The
    // reference passes the parsed payload AND the full record to the
    // registered transformer (`transfomer(parsed, record)`,
    // lib/kinesisHandler.js:176-178); here the purchase-branch handler reads
    // payload fields (k, value) and envelope fields (origin, timestamp) and
    // reshapes them — day bucket from the envelope timestamp, k decade from
    // the payload, exact cents from the money column. The oracle recomputes
    // the transform from the raw table over the rows the router admits.
    DeclaredQuery("routed_handler_purchase",
      (s, dir) => {
        val evs = events(s, dir)
          .withColumn("event", struct(
            lit(envelopeId).as("schema"),
            struct(
              col("event_type").as("schema"),
              get_json_object(col("props"), "$.k").cast("long").as("k")).as("data"),
            lit("graft-test").as("origin"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("timestamp")))
        val purchaseHandler: DataFrame => DataFrame =
          df => df.select(
            col("event").getField("origin").as("origin"),
            substring(col("event").getField("timestamp"), 1, 10).as("day"),
            (col("event").getField("data").getField("k") -
              pmod(col("event").getField("data").getField("k"), lit(10)))
              .as("k_decade"),
            (dec2(col("value")) * 100).cast("long").as("cents"),
            col("user_id"))
        val config = routeConfig(registryOf(
          Seq(Required("k"), NumRange("k", None, Some(90.0))),
          Map("purchase" -> purchaseHandler)))
        Router.route(evs, config).branches("purchase")
          .groupBy(col("origin"), col("day"), col("k_decade"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy(col("origin"), col("day"), col("k_decade"))
      },
      Some("""SELECT 'graft-test' AS origin, strftime(ts, '%Y-%m-%d') AS day,
          k - (k % 10) AS k_decade, COUNT(*) AS n,
          CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
          COUNT(DISTINCT user_id) AS n_users
        FROM (SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) e
        WHERE event_type = 'purchase' AND k IS NOT NULL AND k <= 90
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ---- F6/F9: event-time bucketing + JSON extraction --------------------
    DeclaredQuery("events_hourly",
      (s, dir) => {
        events(s, dir)
          // timestamp_ntz so the parquet schema matches the oracle's naive
          // TIMESTAMP (session is UTC; values are identical)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
          .agg(
            count(lit(1)).as("n"),
            dsum(dec2(col("value"))).as("sum_value"),
            sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- T3-adjacent: sessionization via ordered windows ------------------
    // Sessions = per-user event runs split at >30 min inactivity gaps.
    // Window order key is event_id (ts is monotone in event_id), so the
    // ns-vs-µs timestamp precision difference between engines cannot affect
    // ordering — only the gap comparison uses ts, far from the boundary.
    DeclaredQuery("events_sessions",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val frame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val flagged = events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(frame))
        flagged.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), max(col("n")).as("max_session"),
            sum(col("n")).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH l AS (
          SELECT user_id, event_id, ts,
            LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
          FROM events),
        g AS (
          SELECT user_id, event_id,
            CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM l),
        sx AS (
          SELECT user_id,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM g),
        c AS (SELECT user_id, sess_id, COUNT(*) AS n FROM sx GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_sessions, CAST(MAX(n) AS BIGINT) AS max_session,
          CAST(SUM(n) AS BIGINT) AS n_events
        FROM c GROUP BY 1 ORDER BY 1""")),

    // ---- T3 ordered mode through the verify gate: a sequential per-key
    // handler (value-decrease counter) whose result is provably equal to the
    // declarative LAG window formulation — the oracle states the windowed
    // form, the engine runs the imperative per-key iterator. Uses the
    // STREAMING processOrdered path (repartition + sortWithinPartitions +
    // mapPartitions): key groups are contiguous but never materialized, so
    // one hot user with 10⁸ events runs in constant memory — the shape that
    // survives 100 TB. The typed group-materializing variant stays
    // unit-tested in OrderedRouterSpec.
    DeclaredQuery("ordered_decreases_per_user",
      (s, dir) => {
        import org.apache.spark.sql.Row
        val in = events(s, dir)
          .select(col("user_id"), col("event_id"), col("value"))
        val outSchema = StructType(Seq(
          StructField("user_id", LongType), StructField("dec", LongType)))
        val flags = OrderedRouter.processOrdered(
          in, "user_id", "event_id", outSchema) { it =>
          var curUser = 0L
          var hasPrev = false
          var prev = 0.0
          it.map { r =>
            val u = r.getLong(0)
            val v = r.getDouble(2)
            if (!hasPrev || u != curUser) { curUser = u; hasPrev = true; prev = Double.NaN }
            val dec = if (!prev.isNaN && v < prev) 1L else 0L
            prev = v
            Row(u, dec)
          }
        }
        flags.groupBy(col("user_id"))
          .agg(sum(col("dec")).as("n_decreases"), count(lit(1)).as("n"))
          .orderBy(col("user_id"))
      },
      Some("""WITH l AS (
          SELECT user_id, value,
            LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv
          FROM events)
        SELECT user_id,
          CAST(SUM(CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END) AS BIGINT) AS n_decreases,
          COUNT(*) AS n
        FROM l GROUP BY 1 ORDER BY 1""")),

    // ---- J5 as-of join: each purchase enriched with the nearest earlier
    // click of the same user (backward-inclusive). Union+window plan — no
    // pair blowup, one shuffle. Oracle: DuckDB native ASOF JOIN.
    DeclaredQuery("asof_click_before_purchase",
      (s, dir) => {
        val evs = events(s, dir)
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
        AsOfJoin.backward(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id", "value"))
          .select(col("event_id"), col("user_id"),
            col("asof_click_id").as("click_id"), col("asof_value").as("click_value"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
        $purchaseAsofClick
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // J5 on the NATIVE exec: the same backward as-of through the custom
    // LogicalPlan → SparkStrategy → sort-merge AsOfJoinExec stack
    // (graft.plans.NativeAsOf) instead of the union+window composition —
    // the hash gate proves both forms bit-identical against DuckDB's
    // native ASOF JOIN. The native plan shuffles each side at its own
    // width and carries one right-row buffer per partition (no union
    // padding, no window state) — the 100 TB-preferred shape when the
    // probe side is wide.
    DeclaredQuery("asof_native_click",
      (s, dir) => {
        val evs = events(s, dir)
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"),
            col("event_id").as("click_id"), col("value"))
        graft.plans.NativeAsOf.backward(purchases, clicks, Seq("user_id"),
          "ts", "cts", Seq("click_id", "value"))
          .select(col("event_id"), col("user_id"),
            col("asof_click_id").as("click_id"), col("asof_value").as("click_value"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
        $purchaseAsofClick
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // J5 with a staleness bound: the nearest earlier click counts only
    // within 30 minutes — nearest-THEN-check (pandas merge_asof tolerance
    // semantics), stale matches null out, every purchase row survives.
    DeclaredQuery("asof_recent_click",
      (s, dir) => {
        val evs = events(s, dir)
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        AsOfJoin.backwardWithin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id"), toleranceSeconds = 1800)
          .select(col("event_id"), col("user_id"),
            col("asof_click_id").as("click_id"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT p.event_id, p.user_id,
          CASE WHEN p.ts - c.ts <= INTERVAL 30 MINUTE THEN c.event_id END AS click_id
        $purchaseAsofClick
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // J5 forward direction: nearest click at-or-AFTER each purchase (the
    // "next event" enrichment), same union+window shape mirrored over the
    // FOLLOWING frame — checked against DuckDB's native forward ASOF.
    DeclaredQuery("asof_next_click",
      (s, dir) => {
        val evs = events(s, dir)
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
        AsOfJoin.forward(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id", "value"))
          .select(col("event_id"), col("user_id"),
            col("asof_click_id").as("click_id"), col("asof_value").as("click_value"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
        $purchaseAsofClick
          ON p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.event_id""")),

    // Forward direction on the NATIVE exec (see asof_native_click): the
    // ascending merge needs no carry buffer — dead rights stay dead for
    // later left rows, so the head pointer is monotone.
    DeclaredQuery("asof_native_next_click",
      (s, dir) => {
        val evs = events(s, dir)
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"),
            col("event_id").as("click_id"), col("value"))
        graft.plans.NativeAsOf.forward(purchases, clicks, Seq("user_id"),
          "ts", "cts", Seq("click_id", "value"))
          .select(col("event_id"), col("user_id"),
            col("asof_click_id").as("click_id"), col("asof_value").as("click_value"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
        $purchaseAsofClick
          ON p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.event_id""")),

    // ---- Funnel / attribution: purchases converted by a click within the
    // preceding hour, per user. Built on the as-of join (nearest earlier
    // click), so the attribution window is a filter on ONE carried row — no
    // range-join pair blowup; the whole funnel is one shuffle + one window.
    DeclaredQuery("funnel_click_purchase",
      (s, dir) => {
        val evs = events(s, dir)
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
        AsOfJoin.backward(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_ts"))
          .withColumn("converted",
            col("asof_click_ts").isNotNull &&
              col("ts").cast("long") - col("asof_click_ts").cast("long") <= 3600L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
          .select(col("user_id"), col("n_purchases"), col("n_converted"),
            (col("n_converted").cast("double") /
              col("n_purchases").cast("double")).as("conversion_rate"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH j AS (
          SELECT p.user_id, p.event_id, p.ts, c.ts AS click_ts
          $purchaseAsofClick
            ON p.user_id = c.user_id AND p.ts >= c.ts),
        f AS (
          SELECT user_id,
            CASE WHEN click_ts IS NOT NULL
                  AND date_diff('second', click_ts, ts) <= 3600 THEN 1 ELSE 0 END AS conv
          FROM j)
        SELECT user_id, COUNT(*) AS n_purchases,
          CAST(SUM(conv) AS BIGINT) AS n_converted,
          CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS conversion_rate
        FROM f GROUP BY 1 ORDER BY 1""")),

    // ---- Cohort retention: users grouped by first-activity day, active
    // user counts per (cohort, day offset). Two hash aggregations and one
    // equi-join on user_id — the standard retention-matrix plan, no windows
    // over the full event stream.
    DeclaredQuery("cohort_retention",
      (s, dir) => {
        val days = events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
        days.join(cohorts, "user_id")
          .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
          .agg(count(lit(1)).as("n_active"))
          .select(col("cohort").cast("string").as("cohort"),
            col("day_offset").cast("long").as("day_offset"), col("n_active"))
          .orderBy(col("cohort"), col("day_offset"))
      },
      Some("""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        c AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY 1)
        SELECT CAST(cohort AS VARCHAR) AS cohort,
          CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
          COUNT(*) AS n_active
        FROM d JOIN c USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- Variance / outlier detection over exact sums. Built-in stddev
    // accumulates doubles in partition order (engine-dependent), so the
    // moments come from EXACT integer sums of cents (Σc, Σc² both
    // overflow-safe longs) and the variance is a fixed sequence of IEEE ops
    // written identically in the oracle — 2σ outlier verdicts then match
    // bit-for-bit.
    DeclaredQuery("value_outliers",
      (s, dir) => {
        val cents = events(s, dir)
          .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("c"))
        val stats = cents.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
            sum(col("c") * col("c")).as("s2"))
          .withColumn("mean", col("s").cast("double") / col("n"))
          .withColumn("variance",
            (col("s2").cast("double") -
              col("s").cast("double") * col("s").cast("double") / col("n")) /
              (col("n") - 1))
        cents.join(broadcast(stats), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("c") > col("mean") + lit(2.0) * sqrt(col("variance")) ||
                     col("c") < col("mean") - lit(2.0) * sqrt(col("variance")),
              1L).otherwise(0L)).as("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""WITH c AS (SELECT event_type,
            CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM events),
        st AS (SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c*c) AS s2
               FROM c GROUP BY 1),
        b AS (SELECT event_type, n,
            CAST(s AS DOUBLE) / n AS mean,
            (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) AS variance
          FROM st)
        SELECT c.event_type, COUNT(*) AS n,
          CAST(SUM(CASE WHEN c.c > mean + 2 * sqrt(variance)
                         OR c.c < mean - 2 * sqrt(variance) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM c JOIN b USING (event_type) GROUP BY 1 ORDER BY 1""")),

    // ---- User-journey transitions: event-type bigram counts in per-user
    // sequence order (the Markov-chain / funnel-discovery building block).
    // One window pass over the per-user ordering the sessionization queries
    // already use, then a hash aggregation.
    DeclaredQuery("journey_transitions",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        events(s, dir)
          .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH t AS (
          SELECT event_type AS from_type,
            LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS to_type
          FROM events)
        SELECT from_type, to_type, COUNT(*) AS n
        FROM t WHERE to_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- Z-order layout key: Morton-interleave (user_id, value-bucket) so
    // range-partitioning the write clusters BOTH filter dimensions at once —
    // file-level min/max pruning then works for either predicate. The query
    // checks the interleave bit math end to end; LayoutSpec measures the
    // 2-D locality win over a 1-D sort. Bit width is Layout.ZBits = 31, the
    // maximum: widening is value-preserving for in-range inputs, and the r14
    // sf1.0 stress replay showed a fixture-sized width (11) refusing on a
    // mere 10x id growth; the range guard still raises past 2^31 rather
    // than silently aliasing.
    DeclaredQuery("zorder_events_layout",
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("event_id"), col("user_id"),
            floor(col("value")).cast("long").as("vbin"))
          .withColumn("z", graft.relational.Layout.zValue(
            col("user_id"), col("vbin"), bits = graft.relational.Layout.ZBits))
        ev.orderBy(col("z"), col("event_id")).limit(500)
          .select(col("event_id"), col("user_id"), col("vbin"), col("z"))
      },
      Some(s"""WITH b AS (
          SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS vbin FROM events),
        z AS (SELECT event_id, user_id, vbin,
          ${(0 until graft.relational.Layout.ZBits).map(i =>
            s"(((user_id >> $i) & 1) << ${2 * i}) + (((vbin >> $i) & 1) << ${2 * i + 1})")
            .mkString(" + ")} AS z
          FROM b)
        SELECT event_id, user_id, vbin, z FROM z
        ORDER BY z, event_id LIMIT 500""")),

    // ---- Count-Min sketch: constant-size (depth×width) frequency summary.
    // md5 hash rows make the sketch CELLS engine-portable, so the oracle
    // rebuilds the identical sketch and the whole estimate path hash-matches;
    // width 64 < 150 distinct users forces real collisions, and the output
    // carries the est ≥ exact one-sided-error guarantee per key.
    DeclaredQuery("countmin_user_est",
      (s, dir) => {
        val ev = events(s, dir)
        val sk = graft.relational.Sketches.countMinSketch(ev, "user_id", depth = 4, width = 64)
        val est = graft.relational.Sketches.countMinEstimate(
          sk, ev.select(col("user_id")).distinct(), "user_id", depth = 4, width = 64)
        val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
        est.join(exact, "user_id")
          .select(col("user_id"), col("est"), col("exact"),
            (col("est") >= col("exact")).as("ok"))
          .orderBy(col("user_id"))
      },
      Some("""WITH hj AS (SELECT unnest([0, 1, 2, 3]) AS j),
        coords AS (
          SELECT user_id, j,
            CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bucket
          FROM events CROSS JOIN hj),
        sk AS (SELECT j, bucket, COUNT(*) AS cnt FROM coords GROUP BY 1, 2),
        kc AS (
          SELECT user_id, j,
            CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bucket
          FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN hj),
        est AS (SELECT kc.user_id, MIN(sk.cnt) AS est
                FROM kc JOIN sk USING (j, bucket) GROUP BY 1),
        ex AS (SELECT user_id, COUNT(*) AS "exact" FROM events GROUP BY 1)
        SELECT user_id, est, "exact", est >= "exact" AS ok
        FROM est JOIN ex USING (user_id) ORDER BY user_id""")),

    // ---- O124s: streaming KMV distinct sketch (O124 twin) ------------------
    // Live distinct-user cardinality at O(k) state per key forever (see
    // StatefulOps.kmvPerBatch): each batch merges its md5-60 hashes into
    // the k-smallest sketch and emits a running snapshot with the same
    // truncating estimate as the batch row. No order contract — set union
    // commutes. The oracle replays every snapshot as a prefix restriction
    // (first-batch-of-each-hash ≤ batch), the O103s discipline.
    DeclaredQuery("stream_distinct_kmv",
      (s, dir) => {
        import s.implicits._
        val ds = replay(s, dir, "events", 3).select(col("event_type"),
          graft.functions.HashFunctions.md5Bits60(
            col("user_id").cast("string")).as("h"))
          .as[(String, Long)]
        val out = graft.streaming.StatefulOps.kmvPerBatch(ds, 64)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("event_type", "seq", "m", "kth_min", "estimate"), "kmv")
          .orderBy(col("event_type"), col("seq"))
      },
      Some(s"""WITH o AS (SELECT event_type, user_id,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
             FROM events),
        nn AS (SELECT COUNT(*) AS cnt FROM o),
        wb AS MATERIALIZED (SELECT event_type,
              ${md5Bits60("CAST(user_id AS VARCHAR)")} AS h,
              rn // ((cnt + 2) // 3) AS batch
            FROM o CROSS JOIN nn),
        pb AS (SELECT DISTINCT event_type, batch FROM wb),
        hf AS MATERIALIZED (SELECT event_type, h, MIN(batch) AS fb
            FROM wb GROUP BY 1, 2),
        sn AS (SELECT pb.event_type, pb.batch, hf.h,
                 ROW_NUMBER() OVER (PARTITION BY pb.event_type, pb.batch
                   ORDER BY hf.h) AS rnk
               FROM pb JOIN hf ON hf.event_type = pb.event_type
                 AND hf.fb <= pb.batch),
        tk AS (SELECT event_type, batch, CAST(COUNT(*) AS BIGINT) AS m,
                 MAX(h) AS kth_min
               FROM sn WHERE rnk <= 64 GROUP BY 1, 2),
        sq AS (SELECT event_type, batch, m, kth_min,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY batch) AS BIGINT) AS seq
               FROM tk)
        SELECT event_type, seq, m, kth_min,
          CASE WHEN m < 64 THEN m
               ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976) // kth_min AS BIGINT)
          END AS estimate
        FROM sq ORDER BY event_type, seq""")),

    // ---- O132: DAU/WAU stickiness -------------------------------------------
    // The engagement ratio product teams actually watch: per day, distinct
    // daily actives over distinct trailing-7-day actives, in permille.
    // Exact with NO trailing-distinct window: the landed distinct user-day
    // frame explodes each row into the 7 windows it belongs to (row-local
    // ×7), then one distinct count per window end — trailing distinct as
    // plain keyed aggregation. Leading days carry partial windows by
    // construction (documented, same both engines).
    DeclaredQuery("stickiness_dau_wau",
      (s, dir) => {
        val ud = graft.relational.Stages.materialize(
          events(s, dir)
            .select(col("user_id"), to_date(col("ts")).as("day")).distinct(),
          "stick_userdays")
        val mx = ud.agg(max(col("day")).as("mxd"))
        val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val wau = ud.select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
          .crossJoin(broadcast(mx)).filter(col("day") <= col("mxd"))
          .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            expr("(1000L * dau) div wau").as("stickiness_permille"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
               FROM events),
        mx AS (SELECT MAX(day) AS mxd FROM ud),
        dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        cov AS (SELECT user_id, day + CAST(i AS INTEGER) AS day7
                FROM ud CROSS JOIN range(7) r(i)),
        wau AS (SELECT day7 AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
                FROM cov CROSS JOIN mx WHERE day7 <= mxd GROUP BY 1)
        SELECT dau.day, dau, wau, (1000 * dau) // wau AS stickiness_permille
        FROM dau JOIN wau ON dau.day = wau.day ORDER BY dau.day""")),

    // ---- O134s: streaming out-of-order lateness audit ------------------------
    // The measurement a watermark delay is actually sized from: per key
    // and batch, rows older than the PRIOR batches' max event time and
    // the worst staleness seconds (see StatefulOps.latenessPerBatch —
    // O(1) state, no order contract: the frontier is cross-batch, so
    // within-batch order is irrelevant). The replay source batches in
    // ARRIVAL order (ts, event_id); event time is arrival minus a
    // deterministic md5 transport delay (0..7199 s) — the "arrives
    // roughly in order, event-time jitters backward" reality that makes
    // lateness nonzero and the audit worth running. Oracle replays
    // batches as prefix restrictions with a running per-key frontier.
    DeclaredQuery("stream_lateness_profile",
      (s, dir) => {
        import s.implicits._
        val ds = Dsl.normalizeTs(replay(s, dir, "events", 3))
          .select(col("event_type"),
            (col("ts").cast("long") -
              pmod(graft.functions.HashFunctions.md5Bits60(
                col("event_id").cast("string")), lit(7200L))).as("sec"))
          .as[(String, Long)]
        val out = graft.streaming.StatefulOps.latenessPerBatch(ds)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("event_type", "seq", "n_rows", "n_late", "max_late_sec",
            "max_ts"), "lateness")
          .orderBy(col("event_type"), col("seq"))
      },
      Some(s"""WITH o AS (SELECT event_type, ts, event_id,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
             FROM events),
        nn AS (SELECT COUNT(*) AS cnt FROM o),
        wb AS MATERIALIZED (SELECT event_type,
              CAST(floor(epoch(ts)) AS BIGINT) -
                (${md5Bits60("CAST(event_id AS VARCHAR)")} % 7200) AS sec,
              rn // ((cnt + 2) // 3) AS batch
            FROM o CROSS JOIN nn),
        bm AS (SELECT event_type, batch, MAX(sec) AS bmax,
                 CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM wb GROUP BY 1, 2),
        pm AS MATERIALIZED (SELECT event_type, batch, n_rows, bmax,
                 MAX(bmax) OVER (PARTITION BY event_type ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prior_max
               FROM bm),
        lt AS (SELECT w.event_type, w.batch,
                 CAST(SUM(CASE WHEN p.prior_max IS NOT NULL
                   AND w.sec < p.prior_max THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late,
                 CAST(COALESCE(MAX(CASE WHEN p.prior_max IS NOT NULL
                   AND w.sec < p.prior_max THEN p.prior_max - w.sec END), 0)
                   AS BIGINT) AS max_late_sec
               FROM wb w JOIN pm p ON p.event_type = w.event_type
                 AND p.batch = w.batch
               GROUP BY 1, 2)
        SELECT p.event_type,
          CAST(ROW_NUMBER() OVER (PARTITION BY p.event_type ORDER BY p.batch)
            AS BIGINT) AS seq,
          p.n_rows, lt.n_late, lt.max_late_sec,
          CAST(GREATEST(COALESCE(p.prior_max, p.bmax), p.bmax) AS BIGINT)
            AS max_ts
        FROM pm p JOIN lt ON lt.event_type = p.event_type
          AND lt.batch = p.batch
        ORDER BY p.event_type, seq""")),

    // ---- O138: session entry/bounce rollup -----------------------------------
    // The web-analytics read of the gated sessionization: per ENTRY event
    // type, how many sessions start there, how many bounce (single-event
    // sessions), and the mean session depth in milli-events. Entry/exit
    // picked by min_by/max_by on the unique event_id (both engines);
    // same 30-min-gap session split as events_sessions — per-user windows
    // only.
    DeclaredQuery("session_bounce_stats",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val frame = byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val flagged = events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800L,
              1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(frame))
        flagged.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n"),
            expr("min_by(event_type, event_id)").as("entry_type"))
          .groupBy(col("entry_type"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_bounces"),
            sum(col("n")).as("__ev"))
          .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
            expr("(1000L * n_bounces) div n_sessions").as("bounce_permille"),
            expr("(1000L * __ev) div n_sessions").as("events_per_session_milli"))
          .orderBy(col("entry_type"))
      },
      Some("""WITH l AS (
          SELECT user_id, event_id, event_type, ts,
            LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
          FROM events),
        g AS (
          SELECT user_id, event_id, event_type,
            CASE WHEN prev_ts IS NULL
              OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END
              AS new_sess
          FROM l),
        sx AS (
          SELECT user_id, event_id, event_type,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM g),
        c AS (SELECT user_id, sess_id, COUNT(*) AS n,
                min_by(event_type, event_id) AS entry_type
              FROM sx GROUP BY 1, 2)
        SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
          CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
          CAST((1000 * SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS bounce_permille,
          CAST((1000 * SUM(n)) // COUNT(*) AS BIGINT)
            AS events_per_session_milli
        FROM c GROUP BY 1 ORDER BY 1""")),

    // ---- O148: rolling WAU via HLL register merges ------------------------------
    // The sketch-algebra payoff in a time series: trailing-7-day distinct
    // actives from per-DAY HLL registers merged by cellwise MAX (each day
    // sketched once; a window union is one more grouped max — never a
    // re-scan of the week), audited beside the exact WAU from the
    // stickiness row's explode. At 100 TB this is the difference between
    // re-counting 7 days of users nightly and folding 64 small cells.
    DeclaredQuery("rolling_hll_wau",
      (s, dir) => {
        val ud = graft.relational.Stages.materialize(
          events(s, dir)
            .select(col("user_id"), to_date(col("ts")).as("day")).distinct(),
          "stick_userdays")
        val mx = ud.agg(max(col("day")).as("mxd"))
        val dayRegs = graft.relational.Hll.registers(
          ud.select(col("day").as("g"), col("user_id")), "g", "user_id")
        val merged = dayRegs
          .select(explode(sequence(col("g"), date_add(col("g"), 6))).as("g2"),
            col("r"), col("mj"))
          .crossJoin(broadcast(mx)).filter(col("g2") <= col("mxd"))
          .groupBy(col("g2").as("g"), col("r")).agg(max(col("mj")).as("mj"))
        val est = graft.relational.Hll.estimateFromRegisters(merged)
        val exact = ud.select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
          .crossJoin(broadcast(mx)).filter(col("day") <= col("mxd"))
          .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
        exact.join(est, col("day") === col("g"))
          .select(col("day"), col("wau"), col("empty_registers"),
            col("hll_estimate"),
            expr("(1000L * (hll_estimate - wau)) div wau").as("err_permille"))
          .orderBy(col("day"))
      },
      Some(s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
               FROM events),
        mx AS (SELECT MAX(day) AS mxd FROM ud),
        h AS (SELECT day,
                ${md5Bits60("CAST(user_id AS VARCHAR)")} AS h
              FROM ud),
        rg AS (SELECT day, h // 18014398509481984 AS r,
                 MAX(CASE WHEN h % 18014398509481984 = 0 THEN 55
                     ELSE 55 - length(bin(h % 18014398509481984)) END) AS mj
               FROM h GROUP BY 1, 2),
        mg AS (SELECT day + CAST(i AS INTEGER) AS wday, r, MAX(mj) AS mj
               FROM rg CROSS JOIN range(7) t(i) CROSS JOIN mx
               WHERE day + CAST(i AS INTEGER) <= mxd GROUP BY 1, 2),
        sm AS (SELECT wday,
                 CAST(SUM(CAST(1 AS BIGINT) << (55 - mj)) +
                   (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s,
                 CAST(64 - COUNT(*) AS BIGINT) AS empty_registers
               FROM mg GROUP BY 1),
        ex AS (SELECT day + CAST(i AS INTEGER) AS wday,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
               FROM ud CROSS JOIN range(7) t(i) CROSS JOIN mx
               WHERE day + CAST(i AS INTEGER) <= mxd GROUP BY 1),
        est AS (SELECT wday, empty_registers,
                  CAST((CAST(709 AS HUGEINT) * 4096 * (CAST(1 AS HUGEINT) << 55))
                    // (1000 * CAST(s AS HUGEINT)) AS BIGINT) AS hll_estimate
                FROM sm)
        SELECT ex.wday AS day, ex.wau, est.empty_registers, est.hll_estimate,
          CAST((1000 * (est.hll_estimate - ex.wau)) // ex.wau AS BIGINT)
            AS err_permille
        FROM ex JOIN est USING (wday) ORDER BY day""")),

    // ---- O151: peak concurrency --------------------------------------------------
    // Capacity planning's other number: the busiest minutes by concurrent
    // active users (30-min activity halo). r16 (guide §2.3): computed as a
    // boundary SWEEP — per-user merged activity intervals emit (start,+1)/
    // (end+1,−1), a prefix sum over boundary minutes gives each constant-
    // concurrency run, and only each run's first 5 minutes expand (a later
    // minute of a run can never out-rank an earlier one under count DESC,
    // minute ASC). Same answer as the former 31×-halo explode + distinct +
    // count — each user adds +1 to each covered minute exactly once — at
    // O(2 boundaries) per merged interval instead of O(31) rows per event
    // through the shuffle. Oracle replays the halo-explode formulation.
    DeclaredQuery("peak_concurrency_minutes",
      (s, dir) => graft.relational.IntervalUnion.peakConcurrency(
        events(s, dir).select(col("user_id"),
          expr("CAST(ts AS BIGINT) div 60").as("m")),
        "user_id", "m", halo = 30L, k = 5, countCol = "active_users"),
      Some("""WITH e AS (SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 60 AS m
             FROM events),
        cov AS (SELECT DISTINCT user_id, m + CAST(i AS BIGINT) AS minute
                FROM e CROSS JOIN range(31) t(i))
        SELECT minute, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
        FROM cov GROUP BY 1
        ORDER BY active_users DESC, minute LIMIT 5""")),

    // ---- O136s: streaming DDSketch quantiles (O136 twin) ------------------------
    // Live p50/p99 value quantiles at bounded state per key FOREVER (state
    // = the bucket-count sketch; merge = count addition, so no order
    // contract): each batch folds its cents into the same integer bucket
    // math as the batch row and emits a running snapshot with lower-bound
    // reads at rank ceil(n·q/1000) — the latency-dashboard operator.
    // Oracle replays snapshots as batch-prefix restrictions.
    DeclaredQuery("stream_value_quantiles",
      (s, dir) => {
        import s.implicits._
        val ds = replay(s, dir, "events", 3).select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("cents"))
          .as[(String, Long)]
        val out = graft.streaming.StatefulOps.ddsketchPerBatch(ds)
        graft.streaming.StreamingRouter.drainToParquet(
          out.toDF("event_type", "seq", "n", "p50_est", "p99_est"), "ddq")
          .orderBy(col("event_type"), col("seq"))
      },
      Some("""WITH o AS (SELECT event_type, value,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
             FROM events),
        nn AS (SELECT COUNT(*) AS cnt FROM o),
        wb AS MATERIALIZED (SELECT event_type,
              CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
              rn // ((cnt + 2) // 3) AS batch
            FROM o CROSS JOIN nn),
        kk AS (SELECT event_type, batch,
                 CASE WHEN v < 16 THEN v
                   ELSE 16 * length(bin(v)) +
                     (v // (CAST(1 AS BIGINT) << (length(bin(v)) - 5)) - 16)
                 END AS k
               FROM wb),
        pb AS (SELECT DISTINCT event_type, batch FROM kk),
        cnts AS (SELECT p.event_type, p.batch, kk.k,
                   CAST(COUNT(*) AS BIGINT) AS c
                 FROM pb p JOIN kk ON kk.event_type = p.event_type
                   AND kk.batch <= p.batch
                 GROUP BY 1, 2, 3),
        tot AS (SELECT event_type, batch, CAST(SUM(c) AS BIGINT) AS n
                FROM cnts GROUP BY 1, 2),
        cum AS (SELECT event_type, batch, k,
                  SUM(c) OVER (PARTITION BY event_type, batch ORDER BY k)
                    AS cum
                FROM cnts),
        q AS (SELECT * FROM (VALUES (500), (990)) q(qp)),
        pk AS (SELECT c.event_type, c.batch, q.qp, MIN(c.k) AS pick
               FROM cum c JOIN tot t USING (event_type, batch) CROSS JOIN q
               WHERE c.cum >= (t.n * q.qp + 999) // 1000
               GROUP BY 1, 2, 3),
        est AS (SELECT event_type, batch, qp,
                  CASE WHEN pick < 16 THEN pick
                    ELSE (16 + pick % 16) *
                      (CAST(1 AS BIGINT) << CAST(pick // 16 - 5 AS INTEGER))
                  END AS v
                FROM pk),
        sq AS (SELECT event_type, batch,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY batch) AS BIGINT) AS seq
               FROM pb)
        SELECT s.event_type, s.seq, t.n,
          MAX(CASE WHEN e.qp = 500 THEN e.v END) AS p50_est,
          MAX(CASE WHEN e.qp = 990 THEN e.v END) AS p99_est
        FROM sq s JOIN tot t USING (event_type, batch)
        JOIN est e USING (event_type, batch)
        GROUP BY 1, 2, t.n ORDER BY 1, 2""")))
}
