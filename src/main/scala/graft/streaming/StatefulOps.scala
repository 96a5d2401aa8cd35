package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Custom per-key streaming state via `KeyValueGroupedDataset` state APIs —
  * the scalable analogue of the reference's ordered single-consumer handler
  * (one logical consumer per key, state colocated with the key's partition;
  * reference lib/kinesisHandler.js:203-334).
  *
  * State lives in the state store (checkpointed, partitioned by key), so
  * memory is bounded per key and recovery replays from the checkpoint —
  * the at-least-once contract (T4) carries over.
  */
object StatefulOps {

  private implicit val stringEnc: Encoder[String] = Encoders.STRING
  private implicit val booleanEnc: Encoder[Boolean] = Encoders.scalaBoolean
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  // every state and output row below is a tuple. A state schema is part of
  // each checkpoint; `Encoders.product` gives the same schema as
  // `Encoders.tuple`, nullability included, so existing checkpoints read back
  private implicit def tupleEnc[P <: Product: TypeTag]: Encoder[P] =
    Encoders.product[P]

  /** The one per-key fold under every operator here: each micro-batch hands
    * `step` the key, its rows and its state (`init` for a key not seen
    * before); `step` returns the state to keep — `None` leaves it as it
    * was — and the rows to emit.
    */
  private def perKey[T, K: Encoder, S: Encoder, U: Encoder](
      ds: Dataset[T], key: T => K, init: S)(
      step: (K, Iterator[T], S) => (Option[S], Iterator[U])): Dataset[U] =
    ds.groupByKey(key).flatMapGroupsWithState[S, U](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (k: K, rows: Iterator[T], state: GroupState[S]) =>
        val (next, out) = step(k, rows, state.getOption.getOrElse(init))
        next.foreach(state.update)
        out
    }

  /** Streaming first-occurrence filter (exact dedup across micro-batches):
    * emits each key's first row only, ever — later occurrences in the same
    * or any later batch are dropped. State per key is one boolean.
    *
    * PRODUCTION CALLERS: on a forever-running stream this variant's state
    * grows with the DISTINCT key count, unboundedly — it is only safe on
    * bounded replays (the correctness-gate shape) or key domains that are
    * themselves bounded (enum-like keys). For an unbounded key domain — doc
    * fingerprints, event ids — use Spark's built-in
    * `dropDuplicatesWithinWatermark`, which ages seen-markers out with the
    * watermark: re-deliveries in real systems (Kinesis re-polls, overlapping
    * backfills) arrive within a bounded window, so a watermark delay at that
    * window keeps the guarantee AND the state bound.
    */
  def firstOccurrences[T: Encoder](ds: Dataset[T])(key: T => String): Dataset[T] =
    firstOccurrenceBy(ds)(key, (a, _) => a)

  /** Deterministic cross-batch first occurrence: within each micro-batch
    * the per-key rows reduce through `better` (a total order's min), and
    * only the FIRST batch to carry the key emits. `firstOccurrences` above
    * takes whatever row the post-shuffle iterator yields first — fine for
    * dedup semantics, useless for a hash-checked oracle; with a replay
    * source whose batches partition the input in stable order, this
    * variant's emitted row is exactly the `better`-minimum over the key's
    * earliest-batch rows, which (for an input sorted by the tiebreak id)
    * equals the GLOBAL minimum — oracle-expressible as min-per-group.
    *
    * Same state caveat as [[firstOccurrences]]: no TTL, so production use on
    * unbounded key domains needs `dropDuplicatesWithinWatermark`'s horizon.
    */
  def firstOccurrenceBy[T: Encoder](ds: Dataset[T])(
      key: T => String, better: (T, T) => T): Dataset[T] =
    perKey(ds, key, false) { (_, rows, seen) =>
      if (seen) (None, Iterator.empty)
      else (Some(true), Iterator.single(rows.reduce(better)))
    }

  /** Per-key streaming dyadic EWMA over micro-batch volumes — the
    * [[graft.relational.Ewma]] control chart running INSIDE the stream:
    * state per key is (seq, S) where S is the λ = 1/2 dyadic numerator
    * (2^(t−1)·s_t = x₁ + Σ x_i·2^(i−2)), two longs, O(1) forever; each
    * trigger folds that batch's count with checked shiftleft arithmetic
    * and emits (key, seq, n_events, ewma_milli, dev_permille) — the SAME
    * closed form the batch twin reads out, so a bounded replay is
    * batch-SQL-replayable row for row. Past 55 batches the dyadic scale
    * would overflow: refuses loudly (production charts re-window — the
    * period belongs in the key, e.g. key = type‖week).
    */
  def ewmaPerBatch[T](ds: Dataset[T])(
      key: T => String): Dataset[(String, Long, Long, Long, Long)] =
    perKey(ds, key, (0L, 0L)) { case (k, rows, (seq0, s0)) =>
      val x = rows.size.toLong
      val seq = seq0 + 1L
      if (seq > 55L) throw new ArithmeticException(
        s"ewmaPerBatch: key '$k' past 55 batches — dyadic weights " +
          "overflow the exact scale; re-window the series")
      val wt = if (seq == 1L) 1L else 1L << (seq - 2)
      val s = math.addExact(s0, math.multiplyExact(x, wt))
      // read-outs in BigInt: 1000·s leaves long range past s ≈ 9.2e15, and
      // every series gets there at batch 55 (s ≥ 2^54 once each batch
      // holds a row), so long read-outs would fail a batch the bound
      // admits; the read values themselves are ≤ 1000·x and convert exactly
      val ewmaMilli =
        (BigInt(1000L) * s / (BigInt(1) << (seq - 1).toInt)).bigInteger.longValueExact
      val dev = if (seq == 1L) 0L
        else (BigInt(1000L) * math.subtractExact(math.multiplyExact(x, wt), s0) /
          s0).bigInteger.longValueExact
      (Some((seq, s)), Iterator.single((k, seq, x, ewmaMilli, dev)))
    }

  /** Streaming SRM guard — [[graft.relational.Experiment]]'s sample-ratio
    * check running INSIDE the stream: cumulative per-arm ROW counts (the
    * batch op weighs distinct UNITS, which would need O(units) state; the
    * live guard watches the traffic split instead — a broken assignment
    * or a dropped-arm pipeline shows up in rows immediately), χ² in micro
    * against the frozen 5% critical literal each trigger. State is two
    * longs plus a sequence — O(1) forever, one group (a guard is a single
    * global gauge; its state-store footprint is one key).
    *
    * Emits (seq, n_a, n_b, chi2_micro, srm_flag) per trigger; a bounded
    * replay is batch-SQL-replayable via the standard row-range slicing.
    */
  def srmPerBatch[T](ds: Dataset[T])(
      arm: T => Long): Dataset[(Long, Long, Long, Long, Boolean)] =
    perKey(ds, (_: T) => "all", (0L, 0L, 0L)) {
      case (_, rows, (seq0, a0, b0)) =>
        var ba = 0L; var bb = 0L
        rows.foreach { r => if (arm(r) == 0L) ba += 1L else bb += 1L }
        val na = math.addExact(a0, ba); val nb = math.addExact(b0, bb)
        val d = na - nb
        val chi2 = math.multiplyExact(
          math.multiplyExact(1000000L, d), d) / (na + nb)
        (Some((seq0 + 1L, na, nb)), Iterator.single((seq0 + 1L, na, nb, chi2,
          chi2 > graft.relational.Experiment.SrmChi2CritMicro)))
    }

  /** Streaming growth accounting — [[graft.relational.Growth]]'s live twin:
    * each user's activity days classified new / retained / resurrected as
    * they arrive, with O(1) state per user (last active epoch-day + a
    * batch-appearance counter). Input rows are (user, epochDay).
    *
    * Emits one (user, seq, day, cls) row per NEWLY OBSERVED (user, day) —
    * cls ∈ {new, retained, resurrected} — plus a (user, seq, prev+1,
    * churned) row whenever a gap ≥ 2 days reveals a PAST churn. Churn here
    * is LAZY: it surfaces when the user returns, because "active on d,
    * silent on d+1" is unknowable mid-stream without a horizon — the live
    * dashboard reads new/retained/resurrected immediately and the batch
    * [[graft.relational.Growth.dailyAccounting]] remains the daily truth
    * that also counts never-returned churn at the horizon. `seq` counts the
    * batches in which the user contributed at least one new day (equal to
    * the dense rank of first-observation batches — the oracle-replayable
    * definition; batches where every day was already counted emit nothing
    * and advance nothing).
    *
    * ORDER CONTRACT (the coveragePerBatch class): per-user days must be
    * non-decreasing ACROSS batches — the replay source's global (ts,
    * event_id) order guarantees it; a day earlier than the state's last
    * would need the full day set to reclassify and is refused loudly.
    */
  def growthPerBatch(ds: Dataset[(Long, Long)])
      : Dataset[(Long, Long, Long, String)] =
    perKey(ds, (_: (Long, Long))._1, (Long.MinValue, 0L)) {
      case (user, rows, (last0, seq0)) =>
        // distinct-sort the batch's days: the shuffle into groupByKey
        // drops intra-batch order; per user per batch this is bounded by
        // the user's distinct active days in one trigger
        val days = rows.map(_._2).toArray.distinct.sorted
        if (days.nonEmpty && last0 != Long.MinValue && days.head < last0)
          throw new IllegalStateException(
            s"growthPerBatch: user $user day ${days.head} arrived after " +
              s"state day $last0 — out-of-order replay; this operator's " +
              "O(1) state cannot reclassify the past")
        val fresh = days.filter(_ > last0)
        if (fresh.isEmpty) (None, Iterator.empty)
        else {
          val seq = seq0 + 1L
          val out = Array.newBuilder[(Long, Long, Long, String)]
          var prev = last0
          fresh.foreach { d =>
            if (prev == Long.MinValue) out += ((user, seq, d, "new"))
            else if (d == prev + 1L) out += ((user, seq, d, "retained"))
            else {
              out += ((user, seq, prev + 1L, "churned"))
              out += ((user, seq, d, "resurrected"))
            }
            prev = d
          }
          (Some((prev, seq)), out.result().iterator)
        }
    }

  /** Streaming Holt linear forecast (double exponential smoothing) at
    * α = β = 1/2 — the EWMA family's trend-aware member: per key, level and
    * trend updated each trigger from the batch row count, one-step-ahead
    * forecast emitted in exact milli units. α = β = 1/2 is the dyadic
    * point where the recurrence stays EXACT in integers (the ewmaPerBatch
    * discipline): carrying L_t = l_t·4^(t−1), B_t = b_t·4^(t−1),
    *   L_t = 2·4^(t−2)·x_t + 2(L_{t−1} + B_{t−1})
    *   B_t = 2·B_{t−1} + (L_t − 4·L_{t−1})/2   (always an even numerator)
    * with l_1 = x_1, b_1 = 0. State is three longs; scaled terms grow two
    * bits per batch, so the op REFUSES past 20 batches (≈ 2⁴⁰ scale —
    * room for x up to ~8e5 per trigger inside long range, all arithmetic
    * multiplyExact/addExact so an overflow raises rather than wraps);
    * re-window the series beyond that, exactly like the EWMA cap.
    *
    * Emits (key, seq, n_events, level_milli, trend_milli, forecast_milli)
    * per trigger, forecast = level + trend (one step ahead), truncating
    * milli division.
    */
  def holtPerBatch[T](ds: Dataset[T])(
      key: T => String): Dataset[(String, Long, Long, Long, Long, Long)] =
    perKey(ds, key, (0L, 0L, 0L)) { case (k, rows, (seq0, l0, b0)) =>
      val x = rows.size.toLong
      val seq = seq0 + 1L
      if (seq > 20L) throw new ArithmeticException(
        s"holtPerBatch: key '$k' past 20 batches — the 4^t exact scale " +
          "leaves long range; re-window the series")
      val (lt, bt) =
        if (seq == 1L) (x, 0L)
        else {
          val l = math.addExact(
            math.multiplyExact(math.multiplyExact(2L, x),
              1L << (2 * (seq - 2))),
            math.multiplyExact(2L, math.addExact(l0, b0)))
          val b = math.addExact(math.multiplyExact(2L, b0),
            math.subtractExact(l, math.multiplyExact(4L, l0)) / 2L)
          (l, b)
        }
      val den = 1L << (2 * (seq - 1))
      (Some((seq, lt, bt)), Iterator.single((k, seq, x,
        math.multiplyExact(1000L, lt) / den,
        math.multiplyExact(1000L, bt) / den,
        math.multiplyExact(1000L, math.addExact(lt, bt)) / den)))
    }

  /** Streaming per-domain cap ledger — [[graft.text.DomainCuration]]'s live
    * twin (O181s): host-level flood detection as a production ingest runs
    * it, per-domain arrival counts with the cap verdict PER TRIGGER rather
    * than once per batch build. State is O(1) per domain forever (running
    * total + appearance-batch counter); counting is order-free, so unlike
    * [[growthPerBatch]] no replay-order contract is needed.
    *
    * Emits per trigger, for each domain with arrivals in that trigger:
    * (domain, seq, n_batch, n_total, over_cap, capped, newly_capped) —
    * `over_cap` = arrivals beyond the cap so far (what the batch ledger
    * would mark `capped`), `capped` = the verdict, `newly_capped` = the
    * verdict FLIPPED this trigger (the alert row a flood monitor pages on).
    * `seq` counts the domain's appearance batches (dense, replayable).
    */
  def domainCapsPerBatch(ds: Dataset[(String, Long)], cap: Long)
      : Dataset[(String, Long, Long, Long, Long, Boolean, Boolean)] = {
    require(cap > 0, s"domainCapsPerBatch: cap must be positive, got $cap")
    perKey(ds, (_: (String, Long))._1, (0L, 0L)) {
      case (dom, rows, (tot0, seq0)) =>
        val n = rows.size.toLong
        val tot = math.addExact(tot0, n)
        val seq = seq0 + 1L
        (Some((tot, seq)), Iterator.single((dom, seq, n, tot,
          math.max(0L, tot - cap), tot > cap, tot0 <= cap && tot > cap)))
    }
  }

  /** Per-key streaming CUSUM over micro-batch volumes — the
    * [[graft.relational.Changepoint]] alarm running INSIDE the stream,
    * exactly as Page intended it (a sequential test): state per key is
    * the running excess sum P and its minimum, three longs, and each
    * trigger folds that batch's count in and emits (key, seq, n_events,
    * cusum) — S = P − min(0, min P), the same closed form the batch twin
    * uses, so a bounded replay's output is batch-SQL-replayable row for
    * row. `allowance` is the expected per-batch rate (the textbook
    * streaming CUSUM runs against a FIXED reference rate — there is no
    * "global mean" in an unbounded stream).
    *
    * State is O(1) per key forever — no TTL needed; keys are enum-like
    * routing types in the gated use.
    */
  def cusumPerBatch[T](ds: Dataset[T], allowance: Long)(
      key: T => String): Dataset[(String, Long, Long, Long)] =
    perKey(ds, key, (0L, 0L, 0L)) { case (k, rows, (seq0, p0, m0)) =>
      val x = rows.size.toLong
      val p = p0 + x - allowance
      val m = math.min(m0, p)
      (Some((seq0 + 1L, p, m)),
        Iterator.single((k, seq0 + 1L, x, p - math.min(m, 0L))))
    }

  /** Streaming interval-union coverage — the O103 sweep-line operator's
    * streaming twin: per key, the running union of [sec, sec+lenSec)
    * activity halos with O(1) state forever — (seq, nEvents, nSegments,
    * coveredClosed, openStart, openEnd). A live coverage dashboard needs
    * exactly this: "how active has this user been, counted in wall-clock,
    * as of now" without retaining the event history.
    *
    * ORDER CONTRACT: per-key instants must be non-decreasing ACROSS
    * micro-batches (the replay source batches on global (ts, event_id)
    * order, so every key's subsequence arrives in order — the T3/T5
    * ordered-mode class); within a batch the group's rows are sorted here
    * (the shuffle into `groupByKey` drops intra-batch order). An
    * out-of-order instant BEFORE the open segment would require the full
    * segment list (unbounded state) to merge correctly — this operator
    * refuses it loudly rather than under-counting.
    *
    * Emits one running snapshot per key per batch it appears in; covered
    * includes the open segment, so the final snapshot equals the batch
    * operator's answer.
    */
  def coveragePerBatch(ds: Dataset[(Long, Long)], lenSec: Long)
      : Dataset[(Long, Long, Long, Long, Long)] = {
    require(lenSec > 0, s"interval length must be positive, got $lenSec")
    perKey(ds, (_: (Long, Long))._1, (0L, 0L, 0L, 0L, (0L, Long.MinValue))) {
      (k, rows, st) =>
        val xs = rows.map(_._2).toArray
        java.util.Arrays.sort(xs)
        var (seq, n, nSeg, cov, open) = st
        var (s0, e0) = open
        xs.foreach { sec =>
          n += 1
          if (e0 == Long.MinValue) { nSeg += 1; s0 = sec; e0 = sec + lenSec }
          else if (sec > e0) {
            cov += e0 - s0; nSeg += 1; s0 = sec; e0 = sec + lenSec
          } else {
            require(sec >= s0,
              s"out-of-order instant $sec before open segment start $s0 " +
                s"for key $k — the O(1)-state contract needs per-key " +
                "arrival order (use the batch IntervalUnion for " +
                "unordered history)")
            if (sec + lenSec > e0) e0 = sec + lenSec
          }
        }
        seq += 1
        (Some((seq, n, nSeg, cov, (s0, e0))), Iterator.single((k, seq, n, nSeg,
          cov + (if (e0 == Long.MinValue) 0L else e0 - s0))))
    }
  }

  /** Streaming KMV distinct-count sketch — [[graft.relational.Kmv]]'s
    * streaming twin (the O124s row): per key, state is EXACTLY the sketch
    * (the k smallest distinct 60-bit hashes, ascending) — O(k) forever,
    * whatever the true cardinality — and each batch merges its hashes and
    * emits a running snapshot (key, seq, m, kth_min, estimate) with the
    * same truncating (k−1)·2⁶⁰ div h₍ₖ₎ estimate the batch operator
    * reports. Where `stream_dedup_firstseen` pays state per DISTINCT KEY
    * to count exactly, this answers "roughly how many distinct users so
    * far, live" at constant state — the cardinality dashboards actually
    * run. No order contract: set-union is commutative, so late or
    * shuffled arrivals land in the same sketch.
    */
  def kmvPerBatch(ds: Dataset[(String, Long)], k: Int)
      : Dataset[(String, Long, Long, Long, Long)] = {
    require(k >= 16 && k <= 4096,
      s"kmvPerBatch: k=$k outside 16..4096 (the Kmv contract)")
    val est2p60 = BigInt(1) << 60
    perKey(ds, (_: (String, Long))._1, (0L, Array.empty[Long])) {
      case (key, rows, (seq0, arr0)) =>
        val merged = (arr0 ++ rows.map(_._2)).distinct.sorted.take(k)
        val m = merged.length.toLong
        val kth = if (m > 0) merged.last else 0L
        val est =
          if (m < k) m
          else ((BigInt(k - 1) * est2p60) / BigInt(kth)).toLong
        (Some((seq0 + 1L, merged)), Iterator.single((key, seq0 + 1L, m, kth, est)))
    }
  }

  /** Streaming out-of-order audit — the measurement watermark sizing
    * actually needs: per key and batch, how many rows arrived with an
    * event time OLDER than the previous batches' frontier (the running
    * max event time), and how stale the worst one was. A watermark delay
    * chosen below the observed max lateness drops data; far above it,
    * state lingers. State per key is two longs (seq, max_ts) — O(1)
    * forever. The comparison is against the PRIOR-batch frontier only,
    * so within-batch arrival order never matters and the operator has NO
    * order contract (unlike [[coveragePerBatch]]) — the oracle replays
    * batches as prefix restrictions.
    *
    * Emits (key, seq, n_rows, n_late, max_late_sec, max_ts) per key per
    * batch the key appears in; `ts` values are epoch seconds.
    */
  def latenessPerBatch(ds: Dataset[(String, Long)])
      : Dataset[(String, Long, Long, Long, Long, Long)] =
    perKey(ds, (_: (String, Long))._1, (0L, Long.MinValue)) {
      case (key, rows, (seq0, mx0)) =>
        val ts = rows.map(_._2).toArray
        val late = if (seq0 == 0L) Array.empty[Long]
          else ts.filter(_ < mx0)
        val maxLate = if (late.isEmpty) 0L else mx0 - late.min
        val newMax = math.max(mx0, ts.max)
        (Some((seq0 + 1L, newMax)), Iterator.single((key, seq0 + 1L,
          ts.length.toLong, late.length.toLong, maxLate, newMax)))
    }

  /** Streaming quantiles at bounded state — [[graft.relational.DdSketch]]'s
    * streaming twin: per key, state is the sketch itself (sorted bucket
    * keys + counts, ≤ 16 cells per octave ≈ a thousand longs however many
    * rows ever arrive), each batch ADDS its bucket counts (sketch merge =
    * count addition — commutative, so NO order contract) and emits a
    * running snapshot (key, seq, n, p50_est, p99_est) with the same
    * integer bucket math and lower-bound reads as the batch row: quantile
    * q's estimate is the lower bound of the first bucket whose cumulative
    * count reaches ceil(n·q/1000) — <1/16 relative error forever, the
    * latency-dashboard operator. Values must be non-negative longs (the
    * geometric mapping has no sign — misuse fails loudly per batch).
    */
  def ddsketchPerBatch(ds: Dataset[(String, Long)])
      : Dataset[(String, Long, Long, Long, Long)] = {
    def bucket(v: Long): Long =
      if (v < 16L) v
      else {
        val e = 64 - java.lang.Long.numberOfLeadingZeros(v)
        16L * e + (v >> (e - 5)) - 16L
      }
    def lowerBound(k: Long): Long =
      if (k < 16L) k else (16L + k % 16L) << ((k / 16L).toInt - 5)
    perKey(ds, (_: (String, Long))._1,
        (0L, Array.empty[Long], Array.empty[Long])) {
      case (key, rows, (seq0, ks0, cs0)) =>
        val acc = scala.collection.mutable.TreeMap.empty[Long, Long]
        ks0.indices.foreach(i => acc(ks0(i)) = cs0(i))
        rows.foreach { case (_, v) =>
          require(v >= 0L,
            s"ddsketchPerBatch: negative value $v for key $key — the " +
              "geometric bucket mapping is defined for non-negative values")
          val b = bucket(v)
          acc(b) = acc.getOrElse(b, 0L) + 1L
        }
        val n = acc.valuesIterator.sum
        def pick(qPermille: Long): Long = {
          val target = (n * qPermille + 999L) / 1000L
          var cum = 0L
          var ans = 0L
          val it = acc.iterator
          var found = false
          while (it.hasNext && !found) {
            val (k, c) = it.next(); cum += c
            if (cum >= target) { ans = lowerBound(k); found = true }
          }
          ans
        }
        (Some((seq0 + 1L, acc.keys.toArray, acc.values.toArray)),
          Iterator.single((key, seq0 + 1L, n, pick(500L), pick(990L))))
    }
  }
}
