package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming views over the LTSS stream — the extensions the
  * reference's append-only design leaves to the query layer (SURVEY.md
  * §2.2 "streaming semantics" row). Kept OUT of the oracle-checked set
  * (no DuckDB analog for continuous queries); verified by unit tests.
  *
  * Scale notes: every operator shuffles once on its grouping key and
  * keeps per-key state in the state store; the per-op state bound and
  * total-store growth over an unbounded stream are tabulated in ONE
  * place — SURVEY.md §2.2 "Streaming state-size contract" — with the
  * detailed argument in each op's scaladoc here.
  */
object StreamingOps {

  /** Event-time in epoch-µs, keeping the sub-millisecond component the
    * batch twins see via `unix_micros` (`Timestamp.getTime` is
    * ms-precision; the µs digit lives in `getNanos`). Using ms here
    * would silently merge µs-distinct readings into false ties. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000L

  /** The µs-exact inverse of [[micros]]: `new Timestamp(us / 1000)`
    * would truncate the sub-millisecond digits the rest of the engine
    * (unix_micros, chunk layout, batch hyperfunctions) carries — the
    * nanos field restores them, so stream-emitted timestamps round-trip
    * bit-exactly against the batch twins even for sub-ms event times. */
  private def tsOfMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** String state → cents, with EXACTLY the engine's
    * `try_cast(state AS decimal(12,2))` acceptance domain (the skip-the-
    * row cast the batch ops use where junk states are possible; the
    * plain ANSI cast THROWS on the same inputs, which a skipping stream
    * cannot mirror). The raw `new BigDecimal(s)` the stream twins first
    * used diverged at the edges: the engine cast TRIMS surrounding
    * whitespace before parsing and rejects any value whose rounded
    * precision exceeds decimal(12,2) (|v| ≥ 10^10), while the bare
    * constructor rejected `" 1.5 "` and accepted out-of-range
    * magnitudes — so bit-exact batch parity only held for clean
    * in-range states. Trim first, round HALF_UP to scale 2 (the cast's
    * rounding), then enforce precision ≤ 12 on the rounded value.
    * [[graft.StatefulStreamingSpec]] pins this edge-for-edge against
    * the engine's own try_cast. */
  private[graft] def centsOf12_2(state: String): Option[Long] =
    scala.util.Try {
      val bd = new java.math.BigDecimal(state.trim)
        .setScale(2, java.math.RoundingMode.HALF_UP)
      if (bd.precision > 12) throw new ArithmeticException("out of decimal(12,2) range")
      bd.movePointRight(2).longValueExact()
    }.toOption

  /** A timed twin's expiry. After each fold the key's event-time
    * timeout is armed at `deadlineMs` of the stored state, clamped above
    * the current watermark as the API requires; once the watermark
    * passes it, `flush` emits what the stored state still owes and the
    * state is dropped. */
  private final case class Expiry[K, S, U](
      deadlineMs: (K, S) => Long,
      flush: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty[U])

  /** The keyed fold every stateful twin runs through. It groups `rows`
    * by `key`, sorts each key's rows of one micro-batch by `order`, and
    * hands `fold` the key, the sorted rows and the key's stored state.
    * The state `fold` returns is stored (`None` removes it) and its rows
    * are emitted in `mode`. A twin with an `expiry` runs on event-time
    * timeouts; one without has none.
    *
    * `order` is the twin's total order, its batch window's ORDER BY:
    * rows it ranks equal must be interchangeable for the fold. Then a
    * twin's output does not depend on the order Spark fetches a batch's
    * shuffle blocks in, and a replayed batch emits the same rows. The
    * order is per batch only: a row behind the state's frontier in a
    * LATER batch meets each twin's own frontier rule. */
  private def foldSorted[T, K: Encoder, O: Ordering, S: Encoder, U: Encoder](
      rows: Dataset[T])(key: T => K, order: T => O, mode: OutputMode,
      expiry: Option[Expiry[K, S, U]] = None)(
      fold: (K, Seq[T], Option[S]) => (Option[S], Iterator[U])): Dataset[U] = {
    val timeout =
      if (expiry.isEmpty) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    rows.groupByKey(key).flatMapGroupsWithState(mode, timeout) {
      (k: K, batch: Iterator[T], st: GroupState[S]) =>
        if (st.hasTimedOut) {
          val s = st.get
          st.remove()
          expiry.get.flush(k, s)
        } else {
          val sorted = batch.map(r => (order(r), r)).toVector.sortBy(_._1).map(_._2)
          val (next, out) = fold(k, sorted, st.getOption)
          next match {
            case Some(s) =>
              st.update(s)
              expiry.foreach(e => st.setTimeoutTimestamp(
                math.max(e.deadlineMs(k, s), st.getCurrentWatermarkMs() + 1L)))
            case None => if (st.exists) st.remove()
          }
          out
        }
    }
  }

  /** `rows` with a watermark on `timeCol` of `lateUs` µs, ceiled to
    * whole seconds: truncating would SHORTEN the promised lateness and
    * drop in-horizon out-of-order rows at the watermark. */
  private def withLatenessUs[T](rows: Dataset[T], timeCol: String, lateUs: Long): Dataset[T] =
    rows.withWatermark(timeCol, s"${(lateUs + 999999L) / 1000000L} seconds")

  final case class LtssEvent(time: java.sql.Timestamp, entity_id: String, state: String)

  /** The `(time, entity_id, state)` rows the LTSS twins fold. */
  private def events(ltss: DataFrame): Dataset[LtssEvent] = {
    import ltss.sparkSession.implicits._
    ltss.select(col("time"), col("entity_id"), col("state")).as[LtssEvent]
  }

  /** LTSS twin orders: event time alone (the twin reads no state), then
    * the state string, or the `try_cast(decimal(12,2))` cents with junk
    * first (the batch NULLS FIRST). */
  private val byTime: LtssEvent => Long = e => micros(e.time)
  private val byTimeState: LtssEvent => (Long, String) = e => (micros(e.time), e.state)
  private val byTimeCents: LtssEvent => (Long, Option[Long]) =
    e => (micros(e.time), centsOf12_2(e.state))

  /** One tracker fix, the rows the trajectory twins fold. */
  final case class Fix(
      time: java.sql.Timestamp, user_id: Long, event_id: Long, lat: Double, lon: Double)

  private def fixes(pts: DataFrame): Dataset[Fix] = {
    import pts.sparkSession.implicits._
    pts.select(col("time"), col("user_id"), col("event_id"), col("lat"), col("lon")).as[Fix]
  }

  /** The batch trajectory window's total order: (µs, event_id). */
  private val byFixTime: Fix => (Long, Long) = f => (micros(f.time), f.event_id)

  final case class LatestState(entity_id: String, last_time: java.sql.Timestamp, last_state: String)

  /** Continuously-maintained latest-state-per-entity (the streaming twin
    * of the batch `ltss_latest` query): one (time, state) per entity,
    * ties broken on state like the batch window's (time DESC, state
    * DESC) ordering. Emits one row per touched entity in update mode. */
  def latestState(ltss: DataFrame): Dataset[LatestState] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTimeState, OutputMode.Update()) {
      (key, sorted, prev: Option[LatestState]) =>
        val best = (prev.map(s => LtssEvent(s.last_time, key, s.last_state)) ++ sorted)
          .maxBy(byTimeState)
        val out = LatestState(key, best.time, best.state)
        (Some(out), Iterator.single(out))
    }
  }

  /** The PK `(time, entity_id)` uniqueness invariant applied IN-STREAM
    * (the streaming twin of `Transform.dedupByPk`, reference
    * migrations.py:88-95): duplicates arriving within the watermark are
    * dropped before the sink, so the store never sees the PK conflict
    * the reference logs-and-drops. State is bounded by the watermark
    * horizon, not by history size. */
  def dedupByPkStream(ltss: DataFrame, watermark: String = "1 hour"): DataFrame =
    ltss.withWatermark("time", watermark)
      .dropDuplicatesWithinWatermark("time", "entity_id")

  /** Gap-based SESSION windows per entity (the streaming twin of the
    * batch `ltss_sessionize` query): Spark's native `session_window`
    * merges events within the gap into one growing window per key;
    * sessions emit in append mode once the watermark passes the gap.
    * State is bounded by |open sessions|, not history size.
    *
    * Boundary calibration: Spark merges two events iff their gap is
    * STRICTLY LESS than the window's gap duration, while the batch rule
    * starts a new session only when the gap EXCEEDS `gapUs` (an
    * exactly-`gapUs` gap stays in-session). Passing `gapUs + 1` µs as
    * the native gap makes the merge rule (diff < gapUs + 1µs ⟺
    * diff ≤ gapUs) EQUAL to the batch rule, so the two ops sessionize
    * identically on any input — including exact-gap ties, which a spec
    * pins. (`session_end` is last-event-time + gapUs + 1µs, the native
    * window bound; consumers wanting last-event time subtract it.) */
  def sessionized(
      ltss: DataFrame,
      gapUs: Long = 1800000000L,
      watermark: String = "2 hours"): DataFrame =
    ltss.withWatermark("time", watermark)
      .groupBy(session_window(col("time"), s"${gapUs + 1} microseconds"),
        col("entity_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("entity_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Watermarked tumbling-window counts per domain (the streaming twin of
    * `ltss_time_bucket`): event-time windows, late data admitted up to
    * the watermark, append-mode emission once a window closes. */
  def windowedCounts(
      ltss: DataFrame,
      windowWidth: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    ltss.withWatermark("time", watermark)
      .groupBy(
        window(col("time"), windowWidth),
        split(col("entity_id"), "\\.").getItem(0).as("domain"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("domain"), col("n"))

  final case class GapfillState(lastBus: Long, lastState: String)
  final case class GapfillRow(
      entity_id: String, bucket: java.sql.Timestamp, state: String, is_gap: Int)

  /** Continuously-maintained LOCF gap-fill (the streaming twin of the
    * batch `ltss_gapfill_locf` query): per entity, every hour bucket
    * between consecutive observations emits a carried-forward row the
    * moment the later observation arrives — a dashboard reading the sink
    * sees a dense axis without re-running a batch gap-fill. State per
    * entity is ONE (bucket, value) pair; emitted gap rows per event are
    * bounded by the event gap, so state and output stay O(|entities|)
    * and O(observed span) at any history size.
    *
    * Frontier rule (order (µs, state)): an event older than the
    * entity's last emitted bucket cannot retro-fill (its buckets already
    * emitted) and is dropped — the same at-most-once-per-bucket
    * emission a live dashboard needs. Pair with
    * [[dedupByPkStream]] upstream and a watermark sized to the expected
    * disorder.
    *
    * DIVERGENCE from the batch twin, by design: a bucket's row appends
    * the moment its FIRST observation arrives (live emission — a
    * dashboard should not wait an hour to see the bucket), and
    * append-mode cannot retract it, so later same-bucket observations
    * update only the CARRIED state. The batch `ltss_gapfill_locf` sees
    * the whole bucket and keeps its LAST observation ([[
    * graft.operators.TimeSeries.bucketLast]]); whenever a bucket holds
    * more than one observation the emitted per-bucket value differs
    * (first vs last) while the carry into later gap buckets agrees. For
    * bucket-close (batch-parity) emission, aggregate the sink table —
    * or use a windowed aggregate with a watermark instead of this op. */
  def gapfillLocfStream(ltss: DataFrame, widthUs: Long = 3600000000L): Dataset[GapfillRow] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTimeState, OutputMode.Append()) {
      (key, sorted, prev: Option[GapfillState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[GapfillRow]
        var cur = prev
        for (e <- sorted) {
          val bus = {
            val us = micros(e.time)
            us - java.lang.Math.floorMod(us, widthUs)
          }
          cur match {
            case Some(GapfillState(lastBus, lastState)) if bus > lastBus =>
              var b = lastBus + widthUs
              while (b < bus) {
                out += GapfillRow(key, tsOfMicros(b), lastState, 1)
                b += widthUs
              }
              out += GapfillRow(key, tsOfMicros(bus), e.state, 0)
              cur = Some(GapfillState(bus, e.state))
            case Some(GapfillState(lastBus, _)) if bus == lastBus =>
              // same bucket: later observation replaces the carry value
              // (no re-emission — the bucket row was already appended)
              cur = Some(GapfillState(lastBus, e.state))
            case Some(_) => () // older than the emitted frontier: drop
            case None =>
              out += GapfillRow(key, tsOfMicros(bus), e.state, 0)
              cur = Some(GapfillState(bus, e.state))
          }
        }
        (cur, out.iterator)
    }
  }

  final case class InterpRow(
      entity_id: String, bucket: java.sql.Timestamp, interp: Double, is_gap: Int)

  /** Continuously-maintained LINEAR-INTERPOLATION gap-fill (the
    * streaming twin of the batch `ltss_gapfill_interp` query, and the
    * `interpolate` sibling of [[gapfillLocfStream]]): interior gap
    * buckets cannot emit until their RIGHT neighbor exists, so they are
    * held and emitted the moment the next observation arrives — each
    * carries the value of the line between the two observations at that
    * bucket's grid position, the same
    * `pv + (nv - pv) · (b - pb) / (nb - pb)` IEEE expression the batch
    * op evaluates. State per entity is the SAME one (bucket, value)
    * pair as LOCF — interpolation needs no extra history because the
    * left endpoint IS the carry. Numeric series only: states outside the
    * `try_cast(decimal(12,2))` acceptance domain are SKIPPED via
    * [[centsOf12_2]] — the batch twin's null-skip, never an exception
    * inside the state function (that is the interpolation contract, as
    * in TimescaleDB).
    *
    * Same ordering contract and same first-arrival divergence as
    * [[gapfillLocfStream]]: the OBSERVED bucket row appends on first
    * arrival with that observation's value (batch keeps the bucket's
    * last), while gap rows — emitted only on bucket close — interpolate
    * from the entity's latest carry value. */
  def gapfillInterpStream(
      ltss: DataFrame, widthUs: Long = 3600000000L): Dataset[InterpRow] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTimeState, OutputMode.Append()) {
      (key, sorted, prev: Option[GapfillState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[InterpRow]
        // a stored carry outside the cast domain (impossible via this
        // operator; conceivable via store surgery) degrades to "no carry"
        // rather than poisoning every later batch
        var cur = prev.filter(g => centsOf12_2(g.lastState).isDefined)
        // junk states SKIP (the batch twin's try_cast(decimal(12,2))
        // null-skips the same rows) instead of throwing inside the state
        // function, and accepted values enter the arithmetic ROUNDED to
        // the cast's scale — centsOf12_2 is the spec-pinned
        // acceptance-domain twin of that cast
        for (e <- sorted; c <- centsOf12_2(e.state)) {
          val bus = {
            val us = micros(e.time)
            us - java.lang.Math.floorMod(us, widthUs)
          }
          cur match {
            case Some(GapfillState(lastBus, lastState)) if bus > lastBus =>
              val pv = centsOf12_2(lastState).get.toDouble / 100.0
              val nv = c.toDouble / 100.0
              var b = lastBus + widthUs
              while (b < bus) {
                val frac = (b - lastBus).toDouble / (bus - lastBus).toDouble
                out += InterpRow(key, tsOfMicros(b),
                  pv + (nv - pv) * frac, 1)
                b += widthUs
              }
              out += InterpRow(key, tsOfMicros(bus), nv, 0)
              cur = Some(GapfillState(bus, e.state))
            case Some(GapfillState(lastBus, _)) if bus == lastBus =>
              // same bucket: later observation replaces the left endpoint
              // of the NEXT interpolation (no re-emission — append mode)
              cur = Some(GapfillState(lastBus, e.state))
            case Some(_) => () // older than the emitted frontier: drop
            case None =>
              out += InterpRow(key, tsOfMicros(bus), c.toDouble / 100.0, 0)
              cur = Some(GapfillState(bus, e.state))
          }
        }
        (cur, out.iterator)
    }
  }

  /** Per-entity reading frontier: `lastTimeUs` is event-time in epoch-µs
    * (full precision via [[micros]], matching the batch ops'
    * `unix_micros`). */
  final case class CounterState(lastTimeUs: Long, lastState: String)
  final case class CounterDelta(
      entity_id: String, time: java.sql.Timestamp, delta: Double)

  /** Continuously-maintained counter deltas per entity (the streaming
    * twin of the batch `ltss_counter_rate` query's reset rule): each
    * arriving reading emits its delta vs the previous reading — a
    * decrease means the counter reset, so the new reading counts in
    * full. State is ONE (time, value) pair per entity. Readings at or
    * behind the state's frontier are dropped — their delta already
    * emitted. Downstream, a windowed sum over the deltas is the rate.
    *
    * Tie rule, mirroring the batch op's (time, sv) window ordering:
    * same-timestamp readings are applied in numeric-value order and a
    * reading at the frontier TIME with a LARGER value still emits (the
    * batch `lag` sees that pair too); an exact redelivery — same time,
    * same value — is the only same-timestamp drop. A same-time SMALLER
    * value cannot emit (its batch position precedes the already-applied
    * frontier) — that one case diverges from a batch re-run and is the
    * price of at-most-once emission. */
  def counterDeltaStream(ltss: DataFrame): Dataset[CounterDelta] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Append()) {
      (key, sorted, prev: Option[CounterState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[CounterDelta]
        // a stored frontier outside the cast domain (store surgery only)
        // degrades to "no frontier" rather than poisoning later batches
        var cur = prev.flatMap(s =>
          centsOf12_2(s.lastState).map(c => (s.lastTimeUs, c, s.lastState)))
        // junk states SKIP (the batch twin's try_cast null-skips the same
        // rows) instead of throwing; accepted values are the cast's
        // decimal(12,2)-rounded cents, so deltas match the batch sv
        // arithmetic exactly (one closing IEEE division)
        for (e <- sorted; c <- centsOf12_2(e.state)) {
          val tUs = micros(e.time)
          cur match {
            case Some((lastT, lastC, _))
                if tUs > lastT || (tUs == lastT && c > lastC) =>
              val d = if (c >= lastC) c - lastC else c
              out += CounterDelta(key, e.time, d.toDouble / 100.0)
              cur = Some((tUs, c, e.state))
            case Some(_) => () // at/behind the (time, value) frontier: already emitted
            case None =>
              cur = Some((tUs, c, e.state))
          }
        }
        (cur.map { case (t, _, raw) => CounterState(t, raw) }, out.iterator)
    }
  }

  final case class HeldInterval(
      entity_id: String, bucket: java.sql.Timestamp, sv: Double, dur_us: Long)

  /** Continuously-emitted HELD intervals per entity — the streaming
    * feeder of the batch `ltss_time_weighted` query: when a new reading
    * arrives, the PREVIOUS reading's hold interval closes and emits
    * (value, duration), attributed to the bucket the interval STARTED in
    * (same attribution rule as the batch op). A downstream windowed
    * `sum(sv·dur)/sum(dur)` — map-side/state-store combinable — is then
    * the continuously-maintained time-weighted average. State is one
    * (time, value) pair per entity; same in-order contract and
    * same-timestamp tie rule as [[counterDeltaStream]] (ties apply in
    * numeric order and close a zero-duration interval, exactly the
    * zero-`dur` row the batch `lead` pair produces). */
  def heldIntervalStream(
      ltss: DataFrame, bucketWidthUs: Long = 86400000000L): Dataset[HeldInterval] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Append()) {
      (key, sorted, prev: Option[CounterState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[HeldInterval]
        var cur = prev.flatMap(s =>
          centsOf12_2(s.lastState).map(c => (s.lastTimeUs, c, s.lastState)))
        // same junk-skip + decimal(12,2)-rounded parse as
        // [[counterDeltaStream]] — the batch feeder's try_cast semantics
        for (e <- sorted; c <- centsOf12_2(e.state)) {
          val tUs = micros(e.time)
          cur match {
            case Some((lastT, lastC, _))
                if tUs > lastT || (tUs == lastT && c > lastC) =>
              val bus = lastT - java.lang.Math.floorMod(lastT, bucketWidthUs)
              out += HeldInterval(key, tsOfMicros(bus),
                lastC.toDouble / 100.0, tUs - lastT)
              cur = Some((tUs, c, e.state))
            case Some(_) => () // at/behind the frontier: interval already closed
            case None =>
              cur = Some((tUs, c, e.state))
          }
        }
        (cur.map { case (t, _, raw) => CounterState(t, raw) }, out.iterator)
    }
  }

  final case class HeartbeatState(lastTimeUs: Long)
  final case class OutageRow(
      entity_id: String, down_from: java.sql.Timestamp,
      down_to: java.sql.Timestamp, down_us: Long)

  /** Continuously-detected outages per entity (the streaming twin of the
    * batch `ltss_heartbeat` rollup): every event is a heartbeat keeping
    * the entity live for `livenessUs`; when the NEXT heartbeat arrives
    * after a longer silence, the closed gap emits one outage row
    * [prev + liveness, next) — down_us = gap − liveness, exactly the
    * per-pair downtime the batch op sums (max(0, gap − L)). Append mode:
    * an outage is an immutable fact once its closing heartbeat arrives.
    * State is ONE frontier timestamp per entity; a liveness dashboard
    * aggregates these rows downstream just as `ltss_heartbeat`
    * aggregates the batch pairs. */
  def heartbeatStream(
      ltss: DataFrame, livenessUs: Long): Dataset[OutageRow] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTime, OutputMode.Append()) {
      (key, sorted, prev: Option[HeartbeatState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[OutageRow]
        var cur = prev
        for (tUs <- sorted.map(byTime)) {
          cur match {
            case Some(HeartbeatState(lastT)) if tUs > lastT =>
              if (tUs - lastT > livenessUs)
                out += OutageRow(key,
                  tsOfMicros(lastT + livenessUs),
                  tsOfMicros(tUs),
                  tUs - lastT - livenessUs)
              cur = Some(HeartbeatState(tUs))
            case Some(_) => () // at/behind the frontier
            case None => cur = Some(HeartbeatState(tUs))
          }
        }
        (cur, out.iterator)
    }
  }

  final case class StateAggState(
      lastTimeUs: Long, lastState: String,
      durs: Map[String, Long], counts: Map[String, Long])
  final case class StateAggRow(
      entity_id: String, state_class: String, duration_us: Long, n_intervals: Long)

  /** The batch `ltss_state_agg` CASE over `try_cast(state AS
    * decimal(12,2))`, in cents: a non-numeric state (HA-style
    * 'on'/'unavailable') casts to NULL and classifies 'high'. */
  private def stateClassOf(state: String): String = centsOf12_2(state) match {
    case Some(c) => if (c < 2000L) "low" else if (c < 6000L) "mid" else "high"
    case None => "high"
  }

  /** Continuously-maintained time-in-state totals per entity (the
    * streaming twin of the batch `ltss_state_agg` query — TimescaleDB's
    * `state_agg` rollup over a live stream): a new reading closes the
    * previous reading's hold interval, the held duration accumulates
    * under the CLOSED interval's state class (same threshold CASE as
    * the batch op), and the updated (class, total, count) row emits in
    * Update mode — the sink upserts running totals exactly as the
    * batch rollup would recompute them. State is the frontier pair +
    * one (duration, count) accumulator per observed class (≤ |classes|
    * entries, bounded regardless of input volume); same in-order
    * contract and same-timestamp tie rule as [[heldIntervalStream]].
    *
    * Duplicate contract: an EXACT duplicate (time, state) at the
    * frontier is skipped (no zero-duration interval), while the batch
    * lead-window gives each duplicate row a lead and so counts one —
    * the twins agree on PK-unique input. Compose after
    * [[dedupByPkStream]] when the source can repeat (time, entity)
    * rows; `ltss_dedup_pk` implies the raw feed can. */
  def stateAggStream(ltss: DataFrame): Dataset[StateAggRow] = {
    import ltss.sparkSession.implicits._
    // Option ordering (None < Some) mirrors the batch window's NULLS
    // FIRST ordering on the casted sv.
    val ord = Ordering[Option[Long]]
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Update()) {
      (key, sorted, prev: Option[StateAggState]) =>
        var cur = prev
        val touched = scala.collection.mutable.LinkedHashSet.empty[String]
        for (e <- sorted) {
          val tUs = micros(e.time)
          cur match {
            case Some(s @ StateAggState(lastT, lastS, durs, counts))
                if tUs > lastT ||
                  (tUs == lastT && ord.gt(centsOf12_2(e.state), centsOf12_2(lastS))) =>
              val cls = stateClassOf(lastS)
              touched += cls
              cur = Some(StateAggState(tUs, e.state,
                durs.updated(cls, durs.getOrElse(cls, 0L) + (tUs - lastT)),
                counts.updated(cls, counts.getOrElse(cls, 0L) + 1L)))
            case Some(_) => () // at/behind the frontier: interval closed
            case None =>
              cur = Some(StateAggState(tUs, e.state, Map.empty, Map.empty))
          }
        }
        val s = cur.get
        (cur, touched.iterator.map(cls =>
          StateAggRow(key, cls, s.durs(cls), s.counts(cls))))
    }
  }

  /** Default [[nearDupStream]] dedup horizon: 7 days in µs. Sized so a
    * week of re-crawls still pairs while the state store stays bounded
    * by one week of arrivals instead of the whole corpus. */
  val NearDupDefaultRetentionUs: Long = 7L * 24 * 3600 * 1000000L

  final case class BandDoc(
      doc_id: Long, band_idx: Int, band_val: String, sig: Seq[String],
      t: Option[java.sql.Timestamp])
  final case class BucketState(docs: List[(Long, Seq[String], Long)])
  final case class DupCandidate(
      a_id: Long, b_id: Long, band_idx: Int, est_jaccard: Double)

  /** In-stream near-dup candidate detection — the online twin of the
    * batch `dedup_minhash_lsh` operator, for the ingest-time question
    * "is this document a near-duplicate of anything already accepted?":
    * each arriving doc computes its MinHash signature MAP-SIDE (the same
    * native `minhash8` kernel, no shuffle), bands with the batch
    * operator's banding (2×4 fixed-width hex mins), and joins the state
    * store keyed by (band_idx, band_val) — a bucket's state is the
    * signatures of its accepted members, so a new arrival emits one
    * candidate pair per stored member with the batch estimator
    * (matching mins / 8). The batch skew cap applies unchanged: a
    * bucket at `maxBucket` stops pairing (the hot-band boilerplate
    * case routes to the offline verifier exactly as the batch
    * three-tier policy prescribes), so per-key state is bounded.
    * Candidates are per-band (a pair sharing both bands emits twice,
    * as before the batch DISTINCT) — the downstream exact-verify stage
    * dedups by pair key, same as batch.
    *
    * State retention: BOUNDED BY DEFAULT (r8 verdict #2 — an operator
    * whose safe mode is opt-in will be run unsafely). `docs` carries an
    * event-time `timeCol`, an arriving doc pairs only with members no
    * older than `retentionUs` (default [[NearDupDefaultRetentionUs]],
    * 7 days) before it (older members are evicted — a re-arriving doc
    * re-pairs only within the horizon), and a bucket idle past its
    * newest member + `retentionUs` is dropped whole by an event-time
    * timeout once the watermark passes it — so the total store is
    * bounded by the dedup horizon, not the corpus. Unbounded
    * dedup-against-ALL-history (per-key state still capped at
    * `maxBucket`, but the band-bucket KEY space growing with the
    * corpus) is the explicit opt-in `unboundedRetention = true` — a
    * trailing flag after three defaulted params, so callers name it —
    * and is the only mode that accepts `docs` without `timeCol`. See
    * the streaming state-size table in SURVEY.md §2.2. */
  def nearDupStream(docs: DataFrame, maxBucket: Int = 1000,
      retentionUs: Long = NearDupDefaultRetentionUs,
      timeCol: String = "ingest_time",
      lateness: String = "0 seconds",
      unboundedRetention: Boolean = false): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    val retention: Option[Long] =
      if (unboundedRetention) None else Some(retentionUs)
    val timed = retention match {
      case Some(_) => docs
        .select(col("doc_id"), col("text"), col(timeCol).cast("timestamp").as("t"))
        .withWatermark("t", lateness)
      case None => docs
        .select(col("doc_id"), col("text"), lit(null).cast("timestamp").as("t"))
    }
    val sig = timed.select(col("doc_id"),
      graft.functions.Kernels.minhash8(col("text")).as("sig"),
      col("t"))
    val bandOf = (lo: Int) => concat(
      (lo until lo + 4).map(i => element_at(col("sig"), i + 1)): _*)
    val bands = sig
      .select(col("doc_id"), col("sig"), col("t"),
        explode(map(lit(0), bandOf(0), lit(1), bandOf(4)))
          .as(Seq("band_idx", "band_val")))
      .as[BandDoc]
    val key = (b: BandDoc) => (b.band_idx, b.band_val)
    // event-time order (tUs = 0 without retention, preserving the
    // original doc_id order there)
    val tUsOf = (b: BandDoc) => b.t.map(micros).getOrElse(0L)
    val order = (b: BandDoc) => (tUsOf(b), b.doc_id)
    val fold = (band: (Int, String), rs: Seq[BandDoc], prev: Option[BucketState]) => {
      var stored = prev.map(_.docs).getOrElse(Nil)
      val out = scala.collection.mutable.ArrayBuffer.empty[DupCandidate]
      for (r <- rs) {
        val tUs = tUsOf(r)
        // TTL first, THEN membership/pairing: an arrival pairs only
        // with members inside its horizon, and a doc whose old entry
        // aged out re-registers as new
        retention.foreach { ret =>
          stored = stored.filter { case (_, _, mt) => mt >= tUs - ret }
        }
        if (!stored.exists(_._1 == r.doc_id)) {
          if (stored.size < maxBucket) {
            for ((id, s2, _) <- stored) {
              val matches = s2.zip(r.sig).count { case (a, b) => a == b }
              out += DupCandidate(math.min(id, r.doc_id), math.max(id, r.doc_id),
                band._1, matches / 8.0)
            }
            stored = (r.doc_id, r.sig, tUs) :: stored
          } // at cap: hot band — no more pairing here, offline verify path
        }
      }
      (if (stored.isEmpty) None else Some(BucketState(stored)), out.iterator)
    }
    // drop the whole bucket once it has been idle past the horizon
    // (newest member + retention)
    val expiry = retention.map(ret => Expiry[(Int, String), BucketState, DupCandidate](
      (_, s) => s.docs.map(_._3).max / 1000L + ret / 1000L))
    foldSorted(bands)(key, order, OutputMode.Append(), expiry)(fold)
  }

  final case class FunnelState(
      t1: Option[Long], t2: Option[Long], t3: Option[Long])
  final case class FunnelEvent(
      uid: Long, step: String, time: java.sql.Timestamp)

  /** Live funnel tracking (the streaming twin of the batch
    * `ltss_funnel` rollup): per user, emit `1_view` on the FIRST view,
    * `2_click` on the first click at or after it, `3_purchase` on the
    * first purchase at or after that — each step completes exactly once
    * per user, so a streaming sink counting rows per step maintains the
    * batch query's per-step user counts incrementally. State per user
    * is three optional timestamps; the ordered-steps rule is the same
    * as the batch op (a click BEFORE the first view does not convert,
    * pinned by AnalyticsSpec for the shared batch body). Ties at the
    * same instant satisfy the at-or-after rule, matching the batch
    * `>=` (its RANGE frame includes same-instant rows): the order is
    * (µs, step) with view < click < purchase, so a same-instant view
    * converts a click however the two arrive. */
  def funnelStream(ltss: DataFrame): Dataset[FunnelEvent] = {
    import ltss.sparkSession.implicits._
    val steps = Seq("view", "click", "purchase")
    val step = (e: LtssEvent) => e.entity_id.split("\\.")(0)
    foldSorted(events(ltss.filter(split(col("entity_id"), "\\.").getItem(0).isin(steps: _*))))(
      _.entity_id.split("\\.")(1).toLong, e => (micros(e.time), steps.indexOf(step(e))),
      OutputMode.Append()) { (uid, sorted, prev: Option[FunnelState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[FunnelEvent]
        var s = prev.getOrElse(FunnelState(None, None, None))
        for (e <- sorted) {
          val d = step(e)
          val t = micros(e.time)
          def ts(u: Long) = tsOfMicros(u)
          if (d == "view" && s.t1.isEmpty) {
            s = s.copy(t1 = Some(t)); out += FunnelEvent(uid, "1_view", ts(t))
          } else if (d == "click" && s.t2.isEmpty && s.t1.exists(t >= _)) {
            s = s.copy(t2 = Some(t)); out += FunnelEvent(uid, "2_click", ts(t))
          } else if (d == "purchase" && s.t3.isEmpty && s.t2.exists(t >= _)) {
            s = s.copy(t3 = Some(t)); out += FunnelEvent(uid, "3_purchase", ts(t))
          }
        }
        (Some(s), out.iterator)
    }
  }

  final case class AsofState(t: Long, state: String)
  final case class AsofRow(
      uid: Long, time: java.sql.Timestamp, click_state: String,
      asof_time: Option[java.sql.Timestamp], asof_state: Option[String])

  /** Continuous as-of ENRICHMENT (the streaming twin of the batch
    * `ltss_asof_join`): each arriving click emits immediately, carrying
    * the latest purchase of the same user at or before it — the
    * stream-stream as-of without buffering either side, because the
    * backward direction only ever needs the ONE latest left-side row:
    * state per user is a single (time, state) frontier, exactly
    * [[latestState]]'s bound applied per join key. The order puts
    * purchases before clicks at the same instant (the batch op's ≤ tie
    * rule); a click older than an already-held purchase frontier still
    * enriches correctly only against frontiers at or before it —
    * out-of-order input beyond a
    * batch boundary follows the same in-order contract as the other
    * stateful ops (compose after [[dedupByPkStream]] with a watermark
    * sized to the disorder). Append mode: an enriched click is an
    * immutable fact. */
  def asofStream(ltss: DataFrame): Dataset[AsofRow] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss.filter(
        split(col("entity_id"), "\\.").getItem(0).isin("click", "purchase"))))(
      _.entity_id.split("\\.")(1).toLong,
      // purchases (ord 0) before clicks (ord 1) at the same instant
      e => (micros(e.time), if (e.entity_id.startsWith("purchase")) 0 else 1, e.state),
      OutputMode.Append()) { (uid, sorted, prev: Option[AsofState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[AsofRow]
        var cur = prev
        for (e <- sorted) {
          if (e.entity_id.startsWith("purchase")) {
            val t = micros(e.time)
            // keep the latest (time, state) frontier, batch tie rule on state
            if (cur.forall(c => t > c.t || (t == c.t && e.state > c.state)))
              cur = Some(AsofState(t, e.state))
          } else {
            val t = micros(e.time)
            val eff = cur.filter(_.t <= t) // only frontiers at or before the click
            out += AsofRow(uid, e.time, e.state,
              eff.map(c => tsOfMicros(c.t)), eff.map(_.state))
          }
        }
        (cur, out.iterator)
    }
  }

  /** State encoder schema NOTE: the `tainted` field was added after the
    * original five-sum layout, which changes the flatMapGroupsWithState
    * state encoding — a checkpoint written by the pre-`tainted` build
    * cannot be restored by this one. Restarting an existing trend
    * stream across that boundary requires a fresh checkpoint dir (the
    * sums rebuild from the replayed source); new deployments are
    * unaffected. */
  final case class TrendState(
      n: Long, sx: Long, syc: Long, sxyc: Long, sxx: Long, syyc: Long,
      tainted: Boolean)
  final case class TrendRow(
      entity_id: String, n: Long, slope: Double, intercept: Double)

  /** Continuously-maintained linear trend per entity (the streaming twin
    * of the batch `ltss_trend` stats_agg rollup): the five sufficient
    * sums accumulate in state — EXACTLY the quantities the batch
    * aggregate computes, with y cent-quantized so every sum is
    * integer-exact and order-independent (x = integer seconds rebased
    * to [[graft.operators.TimeSeries.TrendBaseUs]], matching the batch
    * op's rebasing; DECIMAL(12,2)·100 = an exact integer) — and the
    * updated slope/intercept emit per batch in Update mode. The cent
    * sums convert back to unit scale before the closing chain, so the
    * doubles fed to it equal the batch op's (both are the correctly-
    * rounded values of the same exact rationals while the sums stay
    * under 2⁵³ — and that bound is now ENFORCED, not assumed: state
    * updates use exact arithmetic (overflow past 2⁶³ taints the state
    * instead of wrapping), and when the state is tainted or any closing
    * sum's magnitude exceeds 2⁵³ the emitted row carries NaN slope/
    * intercept — an explicit "precision lost" flag matching the batch
    * op's DECIMAL exactness story, never a silently-wrong double).
    * State per entity is six BIGINTs + a taint bit; entities
    * with a degenerate time variance emit nothing, like the batch
    * varx > 0 gate. Unparseable states are skipped (the batch op
    * filters its NULL casts before the aggregate). */
  def trendStream(ltss: DataFrame): Dataset[TrendRow] = {
    import ltss.sparkSession.implicits._
    val baseUs = graft.operators.TimeSeries.TrendBaseUs
    foldSorted(events(ltss))(_.entity_id, byTimeState, OutputMode.Update()) {
      (key, sorted, prev: Option[TrendState]) =>
        import java.lang.Math.{addExact, multiplyExact}
        var s = prev.getOrElse(TrendState(0L, 0L, 0L, 0L, 0L, 0L, tainted = false))
        for (e <- sorted) {
          centsOf12_2(e.state) match {
            case Some(yc) =>
              val x = java.lang.Math.floorDiv(micros(e.time) - baseUs, 1000000L)
              s = try TrendState(s.n + 1, addExact(s.sx, x), addExact(s.syc, yc),
                addExact(s.sxyc, multiplyExact(x, yc)),
                addExact(s.sxx, multiplyExact(x, x)),
                addExact(s.syyc, multiplyExact(yc, yc)), s.tainted)
              catch { // a sum left the BIGINT range: never wrap silently
                case _: ArithmeticException => s.copy(n = s.n + 1, tainted = true)
              }
            case None => () // non-numeric state: the batch op filters it out
          }
        }
        if (s.n == 0) (None, Iterator.empty)
        else (Some(s), {
          // back to unit scale (y = cents / 100) so the closing chain sees
          // the batch op's exact sums, then the identical IEEE chain
          val Exact = 1L << 53 // doubles are exact for integers within ±2^53
          val safe = !s.tainted &&
            math.abs(s.sx) <= Exact && math.abs(s.syc) <= Exact &&
            math.abs(s.sxyc) <= Exact && math.abs(s.sxx) <= Exact &&
            math.abs(s.syyc) <= Exact
          if (!safe) // flagged row: precision lost, match NOTHING silently
            Iterator.single(TrendRow(key, s.n, Double.NaN, Double.NaN))
          else {
            val n = s.n.toDouble
            val sx = s.sx.toDouble
            val sy = s.syc.toDouble / 100.0
            val sxy = s.sxyc.toDouble / 100.0
            val sxx = s.sxx.toDouble
            val num = n * sxy - sx * sy
            val varx = n * sxx - sx * sx
            if (varx > 0) {
              val slope = num / varx
              Iterator.single(TrendRow(key, s.n, slope, (sy - slope * sx) / n))
            } else Iterator.empty
          }
        })
    }
  }

  final case class EwmaState(tus: Seq[Long], cents: Seq[Long])
  final case class EwmaRow(entity_id: String, time: java.sql.Timestamp,
      sv: Double, ewma: Double, n_window: Long)

  /** Continuously-maintained EWMA per entity — the streaming twin of
    * the batch `ltss_ewma`, and BIT-EXACT against it by construction:
    * instead of running the float recursion s ← (x + s)/2 (whose
    * rounding depends on arrival batching), the state holds the last
    * [[graft.operators.TimeSeries.EwmaSpan]] (µs, cents) pairs — the
    * span IS the state cap, so state is bounded at 16 BIGINT pairs per
    * entity no matter the stream volume — and each accepted event
    * re-evaluates the batch op's exact closed form (BIGINT
    * numerator/weight sums, one closing division) over that window.
    * The order is (µs, cents). Ties at the frontier timestamp
    * max-merge exactly like the batch MAX(state) tie rule; events
    * behind an earlier batch's frontier are dropped (in-order contract,
    * same as the other stateful ops — the batch op is the replay for
    * late data); non-numeric states are skipped.
    * Emits one updated row per accepted event in Update mode. */
  def ewmaStream(ltss: DataFrame): Dataset[EwmaRow] = {
    import ltss.sparkSession.implicits._
    val span = graft.operators.TimeSeries.EwmaSpan
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Update()) {
      (key, sorted, prev: Option[EwmaState]) =>
        var tus = prev.map(_.tus.toList).getOrElse(Nil)
        var cents = prev.map(_.cents.toList).getOrElse(Nil)
        val out = scala.collection.mutable.ListBuffer.empty[EwmaRow]
        for (e <- sorted) {
          val t = micros(e.time)
          val parsed = centsOf12_2(e.state)
          val accepted = parsed match {
            case Some(c) if tus.isEmpty || t > tus.head =>
              tus = (t :: tus).take(span)
              cents = (c :: cents).take(span)
              true
            case Some(c) if t == tus.head =>
              cents = math.max(cents.head, c) :: cents.tail // batch MAX tie rule
              true
            case _ => false // non-numeric, or behind the frontier: dropped
          }
          if (accepted) {
            var num = 0L
            var den = 0L
            var j = 0
            for (c <- cents) {
              val m = 1L << (span - 1 - j)
              num += c * m
              den += m
              j += 1
            }
            out += EwmaRow(key, tsOfMicros(tus.head), cents.head / 100.0,
              num.toDouble / (den * 100).toDouble, cents.length.toLong)
          }
        }
        (Some(EwmaState(tus, cents)), out.iterator)
    }
  }

  final case class DrawdownState(
      openT: Long, openC: Long, peak: Long, n: Long,
      bestDd: Long, bestNegT: Long, bestPeak: Long, bestC: Long)
  final case class DrawdownRow(entity_id: String, n_obs: Long,
      peak_sv: Double, trough_sv: Double,
      trough_time: java.sql.Timestamp, max_dd: Double,
      rel_dd: Option[Double])

  /** Continuously-maintained maximum drawdown per entity — the
    * streaming twin of the batch `ltss_drawdown`, and BIT-EXACT against
    * it by construction on numeric in-order series: the emitted row is
    * always the batch op's answer over the events seen so far. The
    * batch MAX tie rule (duplicate timestamps collapse by MAX before
    * the running peak sees them) forces the frontier timestamp to stay
    * OPEN — a later tie can still raise its value, which can only
    * LOWER the drawdown recorded at that timestamp — so the open
    * (µs, cents) pair tie-merges in place and commits into the running
    * fold only when a LATER timestamp arrives (the same bucket-close
    * device as [[rateAnomalyStream]]). The fold is the batch plan's
    * algebra verbatim: running integer peak, then one lexicographic
    * max over (dd, −µs, peak, cents) — all BIGINTs, no rational in any
    * decision; each emission folds the open pair in provisionally and
    * applies the batch op's closing casts (two /100 quantity scalings,
    * the rel ratio one IEEE division, None when the peak is ≤ 0).
    * State per entity is EIGHT BIGINTs — bounded no matter the stream
    * volume. The order is (µs, cents); events behind an earlier
    * batch's frontier drop (in-order contract; the batch op is the
    * replay for late data); non-numeric states are skipped, so `n_obs`
    * counts accepted observations (the batch op counts a collapsed
    * timestamp even when no tie at it is numeric — parity holds on
    * numeric series). Emits per accepted event in
    * Update mode (a tie-merge re-emits: it may have changed the
    * answer). */
  def drawdownStream(ltss: DataFrame): Dataset[DrawdownRow] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Update()) {
      (key, sorted, prev: Option[DrawdownState]) =>
        // local to the closure: a def on the enclosing object would drag
        // the non-serializable StreamingOps$ into the task closure
        val folded = (s: DrawdownState) => {
          val peak2 = math.max(s.peak, s.openC)
          val dd = peak2 - s.openC
          val negT = -s.openT
          // lexicographic (dd, −µs, peak, cents) — the batch struct MAX;
          // (dd, −µs) is already unique per collapsed timestamp
          val better = dd > s.bestDd || (dd == s.bestDd && negT > s.bestNegT)
          if (better)
            DrawdownState(s.openT, s.openC, peak2, s.n + 1, dd, negT, peak2, s.openC)
          else s.copy(peak = peak2, n = s.n + 1)
        }
        val row = (s: DrawdownState) => {
          val f = folded(s)
          DrawdownRow(key, f.n, f.bestPeak.toDouble / 100, f.bestC.toDouble / 100,
            tsOfMicros(-f.bestNegT), f.bestDd.toDouble / 100,
            if (f.bestPeak > 0) Some(f.bestDd.toDouble / f.bestPeak.toDouble)
            else None)
        }
        var s = prev.orNull
        val out = scala.collection.mutable.ListBuffer.empty[DrawdownRow]
        for (e <- sorted) {
          val t = micros(e.time)
          centsOf12_2(e.state) match {
            case Some(c) if s == null =>
              // sentinels lose every comparison: peak MIN, bestDd −1
              s = DrawdownState(t, c, Long.MinValue, 0L, -1L, 0L, 0L, 0L)
              out += row(s)
            case Some(c) if t > s.openT => // frontier advances: commit open
              s = folded(s).copy(openT = t, openC = c)
              out += row(s)
            case Some(c) if t == s.openT => // tie: MAX-merge in place
              s = s.copy(openC = math.max(s.openC, c))
              out += row(s)
            case _ => () // non-numeric, or behind the frontier: dropped
          }
        }
        (Option(s), out.iterator)
    }
  }

  final case class SloState(
      first: Long, frontier: Long, n: Long, up: Long, outages: Long)
  final case class SloRow(entity_id: String, span_us: Long, uptime_us: Long,
      downtime_us: Long, n_outages: Long, allowed_down_us: Long,
      budget_remaining_us: Long, slo_met: Int)

  /** Continuously-maintained uptime / error budget per entity — the
    * streaming twin of the batch `ltss_slo` panel, BIT-EXACT against it
    * by construction: every quantity the batch rollup computes from the
    * lead-gap chain telescopes into five BIGINTs of state — first
    * heartbeat, frontier, count, Σ min(gap, liveness), outage count —
    * because the gap multiset of a sorted series is exactly the
    * sequence of frontier advances (ties gap 0, which add no uptime and
    * no outage, matching the batch (time, sv) tie order whose
    * within-tie gaps are zero). Each accepted event folds one
    * min(t − frontier, liveness) and the SLO arithmetic replays the
    * batch op's integer forms verbatim (`span div 10` allowance,
    * cross-multiplied `downtime·10 ≤ span` compare — no ratio ever
    * forms). Emits per accepted event once the entity has a span
    * (n ≥ 2; the batch op drops single-heartbeat entities), so every
    * emission is the batch panel on the prefix seen so far. The order
    * is (µs, cents); events behind an earlier batch's frontier drop
    * (in-order contract; batch replay covers them);
    * non-numeric states are heartbeats too (liveness is about event
    * ARRIVAL, and the batch chain keeps NULL sv rows — only their sv
    * tie-order differs, which the telescoped sum cannot see). */
  def sloStream(
      ltss: DataFrame,
      livenessUs: Long = graft.operators.TimeSeries.LivenessUs): Dataset[SloRow] = {
    import ltss.sparkSession.implicits._
    val sloDen = graft.operators.TimeSeries.SloDen
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Update()) {
      (key, sorted, prev: Option[SloState]) =>
        var s = prev.orNull
        val out = scala.collection.mutable.ListBuffer.empty[SloRow]
        for (e <- sorted) {
          val t = micros(e.time)
          var accepted = true
          if (s == null) s = SloState(t, t, 1L, 0L, 0L)
          else if (t >= s.frontier) {
            val gap = t - s.frontier
            s = SloState(s.first, t, s.n + 1,
              s.up + math.min(gap, livenessUs),
              s.outages + (if (gap > livenessUs) 1L else 0L))
          } else accepted = false // behind the frontier: dropped
          if (accepted && s.n >= 2) {
            val span = s.frontier - s.first
            val down = span - s.up
            out += SloRow(key, span, s.up, down, s.outages,
              java.lang.Math.floorDiv(span, sloDen),
              java.lang.Math.floorDiv(span, sloDen) - down,
              if (down * sloDen <= span) 1 else 0)
          }
        }
        (Option(s), out.iterator)
    }
  }

  final case class RateState(
      openBus: Long, openCount: Long, n: Long, s1: Long, s2: Long)
  final case class RateAnomaly(
      domain: String, bucket: java.sql.Timestamp, n_events: Long,
      is_anomaly: Int)

  /** Online event-rate anomaly detection per domain (the streaming twin
    * of the batch `ltss_rate_anomaly` — with the ONLINE divergence made
    * explicit: the batch op tests each bucket against the FULL series'
    * moments, while a stream can only test a closing bucket against the
    * moments of the buckets seen SO FAR; early buckets therefore judge
    * against less history, and verdicts for the same data can differ
    * until the moment sets converge). A bucket closes when the first
    * event of a LATER bucket arrives (in-order contract, same frontier
    * rule as the other stateful ops); the closed count joins the
    * running (n, S1, S2) and the same integer-exact z-test flags it:
    * d = n·c − S1 > 0 AND d² > 9·(n·S2 − S1²). State per domain is one
    * open (bucket, count) pair plus three BIGINT moments. */
  def rateAnomalyStream(
      ltss: DataFrame, widthUs: Long = 3600000000L): Dataset[RateAnomaly] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id.split("\\.")(0), byTime, OutputMode.Append()) {
      (key, sorted, prev: Option[RateState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[RateAnomaly]
        var cur = prev
        def close(s: RateState): RateState = {
          // fold the closed bucket into the moments, THEN test it against
          // everything seen so far (itself included, as the batch op does)
          val n = s.n + 1; val s1 = s.s1 + s.openCount
          val s2 = s.s2 + s.openCount * s.openCount
          val d = n * s.openCount - s1
          val varn = n * s2 - s1 * s1
          out += RateAnomaly(key, tsOfMicros(s.openBus),
            s.openCount, if (d > 0 && d * d > 9 * varn) 1 else 0)
          RateState(0L, 0L, n, s1, s2)
        }
        for (e <- sorted) {
          val bus = { val t = micros(e.time); t - java.lang.Math.floorMod(t, widthUs) }
          cur = Some(cur match {
            case Some(s) if bus == s.openBus =>
              s.copy(openCount = s.openCount + 1)
            case Some(s) if bus > s.openBus =>
              close(s).copy(openBus = bus, openCount = 1L)
            case Some(s) => s // late event behind the open bucket: dropped
            case None => RateState(bus, 1L, 0L, 0L, 0L)
          })
        }
        (cur, out.iterator)
    }
  }

  final case class CusumState(openBus: Long, openCount: Long, cusum: Long)
  final case class CusumRow(domain: String, bucket: java.sql.Timestamp,
      n_events: Long, cusum: Long, is_alarm: Int)

  /** Online CUSUM drift detection per domain — the streaming twin of the
    * batch `ltss_changepoint`, with the two online divergences every
    * deployed CUSUM accepts made explicit: (1) the reference is a FIXED
    * target rate (`refPerBucket`, events per bucket — Page's detector
    * needs a reference value up front; the batch op centers on the
    * full-series mean, which no stream can know), and (2) the statistic
    * runs the textbook recursion S ← max(0, S + (c − ref)) directly —
    * the closed two-window form exists purely so the BATCH plan can be
    * declarative; a stream holds the single accumulator the recursion
    * wants. A bucket closes when an event of a LATER bucket arrives
    * (the in-order frontier contract shared with [[rateAnomalyStream]]),
    * and every silent bucket in between closes as an observation of 0 —
    * the same dense-grid reading the batch op takes, so a dead-quiet
    * stream drifting below its reference still alarms. State per domain
    * is one open (bucket, count) pair plus the BIGINT accumulator;
    * output rows are exact integers (is_alarm = S > alarmAt). */
  def changepointStream(
      ltss: DataFrame, refPerBucket: Long, alarmAt: Long,
      widthUs: Long = 3600000000L): Dataset[CusumRow] = {
    import ltss.sparkSession.implicits._
    foldSorted(events(ltss))(_.entity_id.split("\\.")(0), byTime, OutputMode.Append()) {
      (key, sorted, prev: Option[CusumState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[CusumRow]
        var cur = prev
        def close(s: CusumState, bus: Long, c: Long): CusumState = {
          val next = math.max(0L, s.cusum + (c - refPerBucket))
          out += CusumRow(key, tsOfMicros(bus), c, next,
            if (next > alarmAt) 1 else 0)
          s.copy(cusum = next)
        }
        for (e <- sorted) {
          val bus = { val t = micros(e.time); t - java.lang.Math.floorMod(t, widthUs) }
          cur = Some(cur match {
            case Some(s) if bus == s.openBus =>
              s.copy(openCount = s.openCount + 1)
            case Some(s) if bus > s.openBus =>
              var acc = close(s, s.openBus, s.openCount)
              var b = s.openBus + widthUs
              while (b < bus) { acc = close(acc, b, 0L); b += widthUs }
              acc.copy(openBus = bus, openCount = 1L)
            case Some(s) => s // late event behind the open bucket: dropped
            case None => CusumState(bus, 1L, 0L)
          })
        }
        (cur, out.iterator)
    }
  }

  /** Continuous-aggregate MAINTENANCE — the refresh worker behind the
    * batch `ltss_cagg` query: a watermarked tumbling-window partial
    * rollup (count + exact DECIMAL sum per (entity, hour)) that emits
    * each window ONCE when the watermark closes it, in exactly the
    * schema the materialized rollup layout stores — so `writeStream
    * .format("parquet")` against the cagg path IS the refresh policy,
    * and [[graft.operators.TimeSeries.caggRealtime]]'s merge reads what
    * this job appends. Count/DECIMAL-sum partials combine exactly, so a
    * rollup maintained by this stream is indistinguishable from one
    * built by the batch backfill. */
  def caggMaintainStream(
      ltss: DataFrame,
      windowWidth: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    ltss.withWatermark("time", watermark)
      .groupBy(window(col("time"), windowWidth), col("entity_id"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("try_cast(state as decimal(12,2))")).as("ssum"))
      .select(col("entity_id"), unix_micros(col("window.start")).as("bus"),
        col("cnt"), col("ssum"))

  /** Continuously-maintained OHLC candlesticks per (entity, window) —
    * the streaming twin of the batch `ltss_ohlc` query, with the SAME
    * aggregate shape: open/close ride lexicographic min/max STRUCT
    * aggregates, which partial-combine incrementally in the state store
    * exactly like they map-side-combine in batch (no per-window buffer
    * of events, state is one struct pair + two extremes per open
    * window). Append-mode emission once the watermark closes a window. */
  def windowedOhlc(
      ltss: DataFrame,
      windowWidth: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val sv = expr("try_cast(state as decimal(12,2))")
    ltss.withWatermark("time", watermark)
      .groupBy(window(col("time"), windowWidth), col("entity_id"))
      .agg(
        min(struct(col("time"), sv.as("sv"))).getField("sv").cast("double").as("open"),
        max(sv).cast("double").as("high"),
        min(sv).cast("double").as("low"),
        max(struct(col("time"), sv.as("sv"))).getField("sv").cast("double").as("close"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("entity_id"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Continuously-maintained M4 downsample — the streaming twin of the
    * batch `ltss_downsample_m4` (same lexicographic struct-MIN/MAX
    * aggregate shape as [[windowedOhlc]], extended with the extreme
    * values' TIMESTAMPS, which is what makes M4 pixel-exact): per
    * closed (window, entity) the first/last/min/max points with their
    * times. Partial struct extremes combine incrementally in the state
    * store, so the live chart's pixel columns are maintained without
    * ever holding raw points; watermark closes and evicts windows. Tie
    * rules are the batch op's exactly: (time, sv) structs break
    * first/last ties by value, (sv, time) structs give the earliest
    * minimum and the latest maximum. */
  def windowedM4(
      ltss: DataFrame,
      windowWidth: String = "4 hours",
      watermark: String = "2 hours"): DataFrame = {
    val sv = expr("try_cast(state as decimal(12,2))")
    ltss.withWatermark("time", watermark)
      .groupBy(window(col("time"), windowWidth), col("entity_id"))
      .agg(
        min(struct(col("time"), sv.as("sv"))).as("fst"),
        max(struct(col("time"), sv.as("sv"))).as("lst"),
        min(struct(sv.as("sv"), col("time"))).as("mn"),
        max(struct(sv.as("sv"), col("time"))).as("mx"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("entity_id"),
        col("fst.time").as("t_first"), col("fst.sv").cast("double").as("v_first"),
        col("mn.time").as("t_min"), col("mn.sv").cast("double").as("v_min"),
        col("mx.time").as("t_max"), col("mx.sv").cast("double").as("v_max"),
        col("lst.time").as("t_last"), col("lst.sv").cast("double").as("v_last"),
        col("n"))
  }

  /** Streaming decontamination — the live-ingest twin of the batch
    * `contamination_bloom` query, with the same two-tier shape: a Bloom
    * filter over the STATIC benchmark suite's shingle hashes (built
    * once, driver-side, shipped as a literal — the per-benchmark
    * artifact) knocks out the ~everything that cannot match in a
    * stateless map, and survivors verify through a stream-static
    * equi-join against the exact benchmark shingles, so Bloom false
    * positives never reach the output. Emits one (doc_id, sh) evidence
    * row per verified hit — the quarantine stream a live ingest routes
    * to review — with NO state store, NO watermark, NO shuffle of clean
    * documents: a contaminated-free batch flows through as a pure
    * filter. `bench` must be a STATIC frame with a distinct `sh`
    * column (the benchmark suite is a fixed artifact by definition). */
  def contaminationStream(docs: DataFrame, bench: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    val bf = bench.agg(columnOf(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        expressionOf(xxhash64(col("sh"))), 1L << 20).toAggregateExpression())
      .as("bf")).head.getAs[Array[Byte]]("bf")
    val mightContain = columnOf(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        expressionOf(lit(bf)), expressionOf(xxhash64(col("sh")))))
    val sh3 = graft.functions.Kernels.shinglesK(col("text"), lit(3))
    docs.select(col("doc_id"), explode(array_distinct(sh3)).as("sh"))
      .filter(mightContain)
      .join(bench, "sh")
      .select(col("doc_id"), col("sh"))
  }

  /** CDC classification for INCREMENTAL ingest — the streaming twin of
    * the batch `corpus_diff`: each arriving document is classified
    * against the snapshot's content-hash index as `added` (id unseen),
    * `changed` (id known, hash differs) or `unchanged` (hash equal) —
    * the gate that lets every downstream incremental stage (dedup,
    * decontamination, mixing) skip work the refresh didn't touch.
    * Pure stream-static LEFT join on doc_id (no state store, no
    * watermark — the snapshot index is the state, exactly as in the
    * batch op): the arriving text hashes map-side, so only
    * (doc_id, 32-byte hex) reaches the join, never text; `removed` is
    * inherently a batch verdict (absence cannot arrive) — the batch
    * diff is the replay that reports it. */
  def diffStream(docs: DataFrame, index: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h2"))
      .join(index.select(col("doc_id"), col("h1")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("h1").isNull, lit("added"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** Leakage-free split assignment for INCREMENTAL ingest — the
    * streaming twin of the batch `split_leakage_free`: a newly ingested
    * document must land in the SAME train/val/test split as any
    * near-duplicate already in the corpus, or eval content leaks into
    * training one crawl increment at a time. Each streaming doc is
    * signature-banded map-side (same native kernel and band rule as the
    * batch index — [[graft.operators.Dedup.bandsOf]]), stream-static
    * LEFT-joined against the corpus band→group index
    * ([[graft.operators.Dedup.splitBandIndex]]), and inherits the
    * MINIMUM matched group (the batch CC's min-label convention — with
    * monotonically growing doc_ids, exactly the representative a batch
    * recompute would elect for the joined pair); a doc matching no
    * bucket founds its own group. The split is then the same md5-prefix
    * band as the batch rule, so stream and batch assignments agree on
    * every doc whose near-dup linkage is visible through a shared band
    * (transitive-only linkage waits for the next index rebuild — the
    * standard incremental-dedup trade, as in `dedup_incremental`).
    *
    * State: the per-doc min aggregation only (Update mode; one grouped
    * row per doc in flight). NO stream-side corpus state: the band
    * index is a static artifact, broadcast or bucket-joined by the
    * planner. */
  def splitStream(docs: DataFrame, bandIndex: DataFrame): DataFrame = {
    def b(c: org.apache.spark.sql.Column) = substring(md5(c.cast("string")), 1, 1)
    graft.operators.Dedup.bandsOf(docs)
      .join(bandIndex, Seq("band_idx", "band_val"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(min(col("grp")).as("hit"))
      .select(col("doc_id"), coalesce(col("hit"), col("doc_id")).as("grp"))
      .withColumn("split",
        when(b(col("grp")).isin("c", "d"), "val")
          .when(b(col("grp")).isin("e", "f"), "test")
          .otherwise("train"))
  }

  final case class KmvState(hs: List[Long])
  final case class KmvRow(
      domain: String, target: String, n_tracked: Long, kth_min: Long,
      est_distinct: Double)

  /** Continuously-maintained distinct-count estimate per (domain,
    * target) — the streaming twin of the batch `ltss_kmv_distinct`
    * K-minimum-values sketch, and the op that shows WHY pipelines pick
    * KMV over exact distinct online: the sketch merges by union+retop,
    * so per-key state is EXACTLY ≤ k sorted longs no matter how much
    * history streams through — bounded by construction, no watermark,
    * no TTL needed (compare `nearDupStream`, whose unbounded mode needs
    * an explicit opt-in). Each micro-batch folds its arrivals' 60-bit
    * md5-prefix hashes into the tracked set and emits the updated
    * estimate in Update mode; after any prefix of the stream the
    * emitted row equals the batch query over the same rows (spec-pinned
    * batch parity), because union+retop is associative and
    * order-insensitive. */
  def kmvStream(ltss: DataFrame, k: Int = 64): Dataset[KmvRow] = {
    import ltss.sparkSession.implicits._
    def h(c: org.apache.spark.sql.Column) =
      graft.functions.Kernels.md5Prefix64(c)
    val base = ltss.select(
      split(col("entity_id"), "\\.").getItem(0).as("domain"),
      col("entity_id"), col("state"))
    val u = base.select(col("domain"), lit("entities").as("target"),
        h(col("entity_id")).as("h"))
      .union(base.select(col("domain"), lit("states").as("target"),
        h(col("state")).as("h")))
    foldSorted(u.as[(String, String, Long)])(t => (t._1, t._2), _._3, OutputMode.Update()) {
      (key, rows, prev: Option[KmvState]) =>
        // union + retop: the KMV merge — dedup, sort, keep k smallest
        val merged = (prev.map(_.hs).getOrElse(Nil).iterator ++ rows.map(_._3))
          .toSet.toList.sorted.take(k)
        val n = merged.size.toLong
        val kth = merged.last
        val est =
          if (n < k) n.toDouble
          else ((k - 1).toDouble * 1152921504606846976.0d) / kth.toDouble
        (Some(KmvState(merged)), Iterator.single(KmvRow(key._1, key._2, n, kth, est)))
    }
  }

  final case class CmsCell(d: Int, bucket: Long, cell: Long)

  /** Continuously-maintained COUNT-MIN SKETCH — the streaming twin of
    * the batch `ltss_cms_freq` grid, emitting the sketch itself: cell
    * (d, bucket) carries the running count of every state whose d-th
    * md5-prefix hash lands in that bucket (same "d:state" hash rule as
    * the batch query, so a cell equals the batch cell over any stream
    * prefix — spec-pinned). Estimates are a read-side min over the
    * emitted cells; the state is the sketch's POINT: exactly
    * depth×width = 256 longs forever, regardless of stream volume or
    * key cardinality — the strongest bounded-state contract in the
    * twin table (KMV is ≤ k per key; this is a global constant), which
    * is why a 100 TB/day pipeline keeps heavy-hitter counts as a CMS
    * and not a keyed ledger. Counter updates are associative sums, so
    * Update-mode re-emission after restart recovers exactly. */
  def cmsStream(ltss: DataFrame, depth: Int = 4, width: Int = 64): Dataset[CmsCell] = {
    import ltss.sparkSession.implicits._
    val hashed = ltss
      .select(col("state"))
      .withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bucket", pmod(
        graft.functions.Kernels.md5Prefix64(
          concat(col("d").cast("string"), lit(":"), col("state"))),
        lit(width.toLong)))
    foldSorted(hashed.select(col("d"), col("bucket")).as[(Int, Long)])(
      identity, identity, OutputMode.Update()) { (key, rows, prev: Option[Long]) =>
        val cell = prev.getOrElse(0L) + rows.size
        (Some(cell), Iterator.single(CmsCell(key._1, key._2, cell)))
    }
  }

  final case class GeofenceEvent(
      user_id: Long, time: java.sql.Timestamp, event_id: Long, event: String)

  /** Continuous GEOFENCE enter/exit — the streaming twin of the batch
    * `ltss_geofence` transition log (the HA presence-zone automation:
    * fire the moment a tracked entity crosses the fence, not at the
    * next batch query): per entity the state is ONE inside/outside bit;
    * each arrival classifies against the same haversine kernel and
    * emits a transition iff the bit flips (the first observation seeds
    * the bit silently, as in the batch `lag` form). The order is the
    * SAME total key the batch window uses — (µs event time, event_id) —
    * so prefix emissions equal the batch query over the same rows
    * (spec-pinned, including duplicate-µs fixes: enter+exit in the
    * same microsecond orders by event_id in both forms) under the
    * per-entity in-order delivery the event bus provides — cross-batch
    * out-of-order delivery would need the watermark+reorder device of
    * the interval twins, deliberately not spent on a one-bit state.
    * Carrying event_id in the stream schema (it is already on the wire:
    * reference __init__.py event payloads are keyed) is what closes the
    * r12 tie-break caveat — without it, equal-µs rows had no shared
    * order across the two forms. */
  def geofenceStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      centerLat: Double = 57.7,
      centerLon: Double = 11.97,
      radiusKm: Double = 2000.0): Dataset[GeofenceEvent] = {
    import pts.sparkSession.implicits._
    val rows = pts
      .withColumn("inside",
        (graft.functions.Haversine.haversineKm(
          col("lat"), col("lon"), lit(centerLat), lit(centerLon)) <= radiusKm)
          .cast("int"))
      .select(col("time"), col("user_id"), col("event_id"), col("inside"))
      .as[(java.sql.Timestamp, Long, Long, Int)]
    // µs-exact (micros, not ms getTime) + event_id: the batch window's
    // exact total order per entity
    foldSorted(rows)(_._2, r => (micros(r._1), r._3), OutputMode.Append()) {
      (uid, sorted, prev: Option[Int]) =>
        var cur = prev
        val out = scala.collection.mutable.ArrayBuffer.empty[GeofenceEvent]
        for ((t, _, eid, inside) <- sorted) {
          if (cur.exists(_ != inside))
            out += GeofenceEvent(uid, t, eid, if (inside == 1) "enter" else "exit")
          cur = Some(inside)
        }
        (cur, out.iterator)
    }
  }

  final case class Odometer(user_id: Long, n_legs: Long, travel_m: Long, max_leg_m: Long)
  final case class OdoState(
      lat: Double, lon: Double, n: Long, total: Long, maxLeg: Long)

  /** Continuous ODOMETER — the streaming twin of the batch
    * `ltss_geo_travel` rollup (the `ST_Length(ST_MakeLine(...))`
    * trajectory analog): per entity the state is the LAST FIX plus three
    * integers (leg count, total meters, max leg); each arrival extends
    * the track by one leg through the SAME static haversine kernel the
    * batch expression compiles to ([[graft.functions.GeoMath]]), floored
    * to integer meters before the add — so after any prefix under the
    * per-entity in-order delivery the event bus provides, the emitted
    * totals equal the batch query over the same rows EXACTLY
    * (spec-pinned; integer arithmetic, no float accumulation drift by
    * construction). The order is (µs, event_id), the batch window's
    * total key, as in [[geofenceStream]]. State is 2 doubles + 3 longs
    * per entity — a fleet of 10⁸ trackers holds 4 GB of state across
    * the cluster, flat in stream length. */
  def odometerStream(
      pts: DataFrame // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
  ): Dataset[Odometer] = {
    import pts.sparkSession.implicits._
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Update()) {
      (uid, sorted, prev: Option[OdoState]) =>
        var s = prev.orNull
        for (f <- sorted) {
          if (s == null) s = OdoState(f.lat, f.lon, 0L, 0L, 0L)
          else {
            val leg = math.floor(graft.functions.GeoMath.haversineKm(
              s.lat, s.lon, f.lat, f.lon) * 1000.0).toLong
            s = OdoState(f.lat, f.lon, s.n + 1, s.total + leg, math.max(s.maxLeg, leg))
          }
        }
        (Some(s), Iterator.single(Odometer(uid, s.n, s.total, s.maxLeg)))
    }
  }

  final case class SpeedAlert(
      user_id: Long, time: java.sql.Timestamp, event_id: Long,
      leg_m: Long, dt_us: Long, speed_kmh_floor: Option[Long])

  /** Continuous GPS-GLITCH alerts — the streaming face of the batch
    * `ltss_geo_speed` audit (which reports the worst offenders
    * after-the-fact; an operator wants the teleport THE MOMENT the bogus
    * fix arrives, to quarantine the tracker before it poisons the
    * odometer). Same per-entity last-fix state as [[odometerStream]];
    * each arrival computes the implied speed of its leg with the batch
    * query's exact arithmetic — integer floored meters × integer µs,
    * one multiply-divide chain — and emits iff the leg is a glitch:
    * speed > the threshold, or a duplicate-µs pair (dt = 0 →
    * undefined speed, `speed_kmh_floor = None`, exactly the batch's
    * NULL-severity class — flagged whatever the coordinates, as the
    * batch filter does). Over any prefix the
    * emitted set equals the batch query's flag set before its top-50
    * presentation cut (spec-pinned against a closed-form fixture). */
  def geoSpeedStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      thresholdKmh: Long = 500L): Dataset[SpeedAlert] = {
    import pts.sparkSession.implicits._
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Append()) {
      (uid, sorted, prev: Option[OdoFix]) =>
        var last = prev.orNull
        val out = scala.collection.mutable.ArrayBuffer.empty[SpeedAlert]
        for (f <- sorted) {
          if (last != null) {
            val legM = math.floor(graft.functions.GeoMath.haversineKm(
              last.lat, last.lon, f.lat, f.lon) * 1000.0).toLong
            val dtUs = micros(f.time) - last.tUs
            val speed =
              if (dtUs > 0L)
                Some(math.floor(legM.toDouble * 3600000.0 / dtUs.toDouble).toLong)
              else None
            // dtUs < 0 is a cross-batch OUT-OF-ORDER arrival, outside
            // the per-entity in-order contract every trajectory stream
            // shares — the batch window's per-entity sort guarantees
            // dt_us >= 0, so alerting here would fabricate a teleport
            // the batch form can never produce; skip the emission
            // (state still advances, as the siblings do)
            if (dtUs >= 0L && speed.forall(_ > thresholdKmh))
              out += SpeedAlert(uid, f.time, f.event_id, legM, dtUs, speed)
          }
          last = OdoFix(f.lat, f.lon, micros(f.time))
        }
        (Option(last), out.iterator)
    }
  }

  /** Last-fix state shared by the trajectory streams. */
  final case class OdoFix(lat: Double, lon: Double, tUs: Long)

  final case class ZoneSetState(
      tUs: Long, seq: Long, inside: Seq[Long], version: Long)
  final case class ZoneTransition(
      user_id: Long, time: java.sql.Timestamp, event_id: Long,
      zone_id: Long, event: String)

  /** Continuous MULTI-GEOFENCE transitions — the streaming face of the
    * stored-zone join (`ltss_geo_zones`): per arriving fix, the set of
    * zones containing the entity recomputes with the batch join's
    * EXACT per-ring arithmetic ([[graft.functions.GeoMath.insideRing]],
    * the identical crossing expression tree), and the DIFFERENCE
    * against the held set emits one `enter`/`exit` row per changed
    * zone (zone-id order, enters after exits at the same fix — the
    * deterministic presentation a transition log needs). This
    * generalizes [[geofenceStream]]'s one literal fence to the zone
    * TABLE: state is the sorted zone-id set per entity — bounded by
    * the zone dimension, not the stream — and the zone rings arrive as
    * a driver-side constant read from the stored layout (dimension
    * tables broadcast; the layout's write contract already guarantees
    * ray-cast-safe rings). Invariant, spec-pinned: after any in-order
    * prefix the held sets equal the batch `ltss_geo_zones` pairs over
    * the same fixes' latest state.
    *
    * ZONE-VERSION CONTRACT (r16): the stored zone dimension has a
    * LIFECYCLE (`LtssSink.upsertZones` redraws rings and bumps the
    * layout marker's zone_version), and a checkpoint restart can
    * restore containment sets computed against RETIRED rings into a
    * query reconstructed over the redrawn table — the enter/exit diff
    * would then be against the wrong baseline, silently. So every held
    * state carries the version it was computed under (`zoneVersion`,
    * from [[graft.sources.LtssSink.zoneLayoutVersion]]; bootstrap via
    * [[geoZonesStreamFromLayout]]), and an entity whose restored state
    * predates the constructed version FAILS the query with the
    * documented re-seed instruction on its first post-restart arrival
    * — never a silent wrong transition. Restart rule: a zone redraw
    * requires a fresh checkpoint (the state is dimension-bounded and
    * rebuilds from the next fix per entity; the transition LOG before
    * the redraw remains valid history). */
  def geoZonesStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      zones: Seq[(Long, Seq[(Double, Double)])],
      zoneVersion: Long = 0L): Dataset[ZoneTransition] = {
    import pts.sparkSession.implicits._
    val zs = zones.sortBy(_._1)
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Append()) {
      (uid, sorted, prev: Option[ZoneSetState]) =>
        var s = prev.orNull
        requireZoneVersion(s == null, if (s == null) 0L else s.version, zoneVersion)
        val out = scala.collection.mutable.ArrayBuffer.empty[ZoneTransition]
        for (Fix(t, _, eid, lat, lon) <- sorted) {
          val tus = micros(t)
          // at-or-behind arrivals drop: their containment verdict was
          // already folded into the transition log (the sibling
          // trajectory streams' in-order contract)
          if (s == null || tus > s.tUs || (tus == s.tUs && eid > s.seq)) {
            val now = zs.collect {
              case (zid, ring) if graft.functions.GeoMath.insideRing(ring, lat, lon) => zid
            }
            val before = if (s == null) Seq.empty[Long] else s.inside
            for (z <- before if !now.contains(z))
              out += ZoneTransition(uid, t, eid, z, "exit")
            for (z <- now if !before.contains(z))
              out += ZoneTransition(uid, t, eid, z, "enter")
            s = ZoneSetState(tus, eid, now, zoneVersion)
          }
        }
        (Option(s), out.iterator)
    }
  }

  /** The zone-version gate shared by the zone-table twins: a restored
    * state stamped with a DIFFERENT version than the constructed query
    * fails loudly (first arrival per entity) — its held containment
    * sets were computed against retired rings. */
  private def requireZoneVersion(
      fresh: Boolean, stateVersion: Long, constructed: Long): Unit =
    if (!fresh && stateVersion != constructed)
      throw new IllegalStateException(
        s"zone layout version changed: restored state was bootstrapped at " +
          s"zone_version $stateVersion but this stream was constructed " +
          s"against zone_version $constructed — the held containment sets " +
          "were computed against retired rings. Restart the query with a " +
          "fresh checkpoint to re-seed (state is dimension-bounded and " +
          "rebuilds from each entity's next fix).")

  final case class ZoneLedger(
      dwellUs: Long, visits: Long, nObs: Long, firstUs: Long, lastUs: Long)
  final case class ZonesDwellState(
      tUs: Long, seq: Long, lastZones: Seq[Long], ledgers: Map[Long, ZoneLedger],
      version: Long)
  final case class ZonesDwellRow(
      zone_id: Long, user_id: Long, n_inside_obs: Long, dwell_us: Long,
      n_visits: Long, first_inside: java.sql.Timestamp,
      last_inside: java.sql.Timestamp)

  /** Continuous MULTI-ZONE DWELL accounting — the running twin of the
    * batch `ltss_zones_dwell` report, and [[zoneDwellStream]]'s one
    * literal fence generalized to the stored zone TABLE: per entity the
    * state holds the previous fix's (µs, seq) frontier, its containing
    * zone-id set, and one compact ledger per zone EVER visited (dwell
    * accumulator, visit count, inside-observation count, first/last
    * inside µs) — bounded by the zone DIMENSION per entity, never the
    * stream. Each arrival settles the PREVIOUS observation's held
    * interval into every zone that contained it (the batch `lead`
    * convention: the newest fix holds nothing until its successor
    * arrives), counts a visit for each zone containing this fix but
    * not the previous one (the batch rn-gap rule — `lastZones` IS the
    * previous fix's containment), and containment runs the batch
    * join's exact ring arithmetic ([[graft.functions.GeoMath
    * .insideRing]]). Update-mode emission per batch: the touched
    * entity's full ledger set; after any in-order prefix the latest
    * row per (zone, entity) equals the batch report over the same
    * fixes (spec-pinned against the registered query). */
  def zonesDwellStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      zones: Seq[(Long, Seq[(Double, Double)])],
      zoneVersion: Long = 0L): Dataset[ZonesDwellRow] = {
    import pts.sparkSession.implicits._
    val zs = zones.sortBy(_._1)
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Update()) {
      (uid, sorted, prev: Option[ZonesDwellState]) =>
        var s = prev.orNull
        requireZoneVersion(s == null, if (s == null) 0L else s.version, zoneVersion)
        for (Fix(t, _, eid, lat, lon) <- sorted) {
          val tus = micros(t)
          if (s == null || tus > s.tUs || (tus == s.tUs && eid > s.seq)) {
            val now = zs.collect {
              case (zid, ring)
                if graft.functions.GeoMath.insideRing(ring, lat, lon) => zid
            }
            var ledgers =
              if (s == null) Map.empty[Long, ZoneLedger]
              else s.lastZones.foldLeft(s.ledgers) { (m, z) =>
                val l = m(z) // settled zone was observed, so the ledger exists
                m.updated(z, l.copy(dwellUs = l.dwellUs + (tus - s.tUs)))
              }
            for (z <- now) {
              val entered = s == null || !s.lastZones.contains(z)
              val l = ledgers.getOrElse(z, ZoneLedger(0L, 0L, 0L, tus, tus))
              ledgers = ledgers.updated(z, ZoneLedger(
                l.dwellUs, l.visits + (if (entered) 1L else 0L),
                l.nObs + 1L, if (l.nObs == 0L) tus else l.firstUs, tus))
            }
            s = ZonesDwellState(tus, eid, now, ledgers, zoneVersion)
          }
        }
        (Some(s), s.ledgers.toSeq.sortBy(_._1).iterator.map { case (z, l) =>
          ZonesDwellRow(z, uid, l.nObs, l.dwellUs, l.visits,
            tsOfMicros(l.firstUs), tsOfMicros(l.lastUs))
        })
    }
  }

  /** Bootstrap [[geoZonesStream]] from the STORED zone layout: rings
    * and the layout's zone_version read together, so the constructed
    * query and its state share one dimension vintage — the intended
    * production entry point of the zone-version contract. */
  def geoZonesStreamFromLayout(pts: DataFrame, path: String): Dataset[ZoneTransition] = {
    val (zones, v) = graft.sources.LtssSink.readZones(pts.sparkSession, path)
    geoZonesStream(pts, zones, v)
  }

  final case class StayState(
      chunkUs: Long, alat: Double, alon: Double,
      t0Us: Long, t1Us: Long, seq: Long, n: Long)
  final case class StayVisit(
      user_id: Long, t_start: java.sql.Timestamp, t_end: java.sql.Timestamp,
      n_fixes: Long, dwell_us: Long, lat: Double, lon: Double)

  /** The session-timezone month chunker shared by the trajectory
    * streams — the batch twins truncate with `date_trunc('month')`,
    * which reads `spark.sql.session.timeZone`, so both faces derive
    * the SAME segment boundaries under any session timezone (captured
    * at plan construction). */
  private def monthChunker(spark: org.apache.spark.sql.SparkSession): Long => Long = {
    val chunkZone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    (tus: Long) => {
      val d = java.time.Instant.ofEpochSecond(
        Math.floorDiv(tus, 1000000L), Math.floorMod(tus, 1000000L) * 1000L)
        .atZone(chunkZone).toLocalDate.withDayOfMonth(1)
      d.atStartOfDay(chunkZone).toInstant.getEpochSecond * 1000000L
    }
  }

  /** Advance one entity's stay-run state by ONE in-order fix — the
    * per-fix state machine of the batch stay-point fold, shared by
    * [[staypointStream]] and [[odFlowStream]] so their run boundaries
    * agree by construction. Returns `(newState, closedRun)`:
    * `closedRun` is the previous run iff this fix closed it (broke the
    * anchor radius or opened a new month) — the caller applies the
    * visit filter. An at-or-behind arrival returns the state unchanged
    * with no closure (the trajectory streams' in-order contract). */
  private def advanceStay(
      s: StayState, f: Fix, chunkUs: Long => Long, radiusM: Long)
      : (StayState, Option[StayState]) = {
    val tus = micros(f.time)
    if (s != null && !(tus > s.t1Us || (tus == s.t1Us && f.event_id > s.seq))) (s, None)
    else {
      val cu = chunkUs(tus)
      val near = s != null && math.floor(graft.functions.GeoMath.haversineKm(
        s.alat, s.alon, f.lat, f.lon) * 1000.0).toLong <= radiusM
      if (s != null && cu == s.chunkUs && near)
        (s.copy(t1Us = tus, seq = f.event_id, n = s.n + 1), None)
      else
        (StayState(cu, f.lat, f.lon, tus, tus, f.event_id, 1L), Option(s))
    }
  }

  /** Does a closed run qualify as a VISIT — the batch filter verbatim. */
  private def isVisit(r: StayState, minDwellUs: Long): Boolean =
    r.n >= 2L && r.t1Us - r.t0Us >= minDwellUs

  /** Continuous STAY-POINT detection — the live face of the batch
    * `ltss_geo_staypoints` visits miner, and the trajectory automation
    * HA users actually want ("the tracker has STOPPED somewhere"): the
    * state holds the current anchor run (anchor coords, first/last µs,
    * fix count — seven scalars per entity); a fix that breaks the run
    * (> R meters from the anchor, by the batch's exact floored-meter
    * compare) or opens a new month CLOSES it, emitting the visit iff
    * it spans ≥ T with ≥ 2 fixes — the batch filter verbatim. Runs are
    * chunk-local exactly like the batch (month boundary closes), so
    * over any in-order prefix the emitted visits equal the batch query
    * minus each entity's still-open run (spec-pinned against the
    * registered query on the same fixes). The open run is the one
    * stay a stream can never emit — it is still accumulating. */
  def staypointStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      radiusM: Long = 2000000L,
      minDwellUs: Long = 43200000000L): Dataset[StayVisit] = {
    import pts.sparkSession.implicits._
    val chunkUsOf = monthChunker(pts.sparkSession)
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Append()) {
      (uid, sorted, prev: Option[StayState]) =>
        var s = prev.orNull
        val out = scala.collection.mutable.ArrayBuffer.empty[StayVisit]
        for (f <- sorted) {
          val (ns, closed) = advanceStay(s, f, chunkUsOf, radiusM)
          s = ns
          closed.filter(isVisit(_, minDwellUs)).foreach { r =>
            out += StayVisit(uid, tsOfMicros(r.t0Us), tsOfMicros(r.t1Us),
              r.n, r.t1Us - r.t0Us, r.alat, r.alon)
          }
        }
        (Option(s), out.iterator)
    }
  }

  final case class OdFlowState(stay: StayState, origin: Option[StayState])
  final case class OdTrip(
      user_id: Long, t_depart: java.sql.Timestamp,
      o_cell_lat: Long, o_cell_lon: Long, d_cell_lat: Long, d_cell_lon: Long,
      origin_dwell_us: Long)

  /** Continuous ORIGIN–DESTINATION flows — the live face of the batch
    * `ltss_geo_od` matrix, composed on [[staypointStream]]'s run
    * machine ([[advanceStay]] is SHARED, so run boundaries agree by
    * construction): per entity the state holds the open stay run plus
    * the LAST CLOSED VISIT (constant — anchor coords, end µs, dwell),
    * and the moment a closing run qualifies as a visit it emits one
    * TRIP row — origin cell from the held visit, destination cell from
    * the new one, stamped with the departure time (the origin visit's
    * end) and the origin's integer dwell — then takes over as the held
    * origin. Non-qualifying runs are transparent, exactly like the
    * batch `lag` over the VISITS frame (not the runs frame). Grouping
    * the emitted trips by cell pair reproduces the batch matrix over
    * any in-order prefix minus each entity's trip INTO its still-open
    * visit (spec-pinned, incl. RocksDB restart). Cells are the batch's
    * `floor(coord/10°)` quantization — exact on half-integers. */
  def odFlowStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      radiusM: Long = 2000000L,
      minDwellUs: Long = 43200000000L): Dataset[OdTrip] = {
    import pts.sparkSession.implicits._
    val chunkUsOf = monthChunker(pts.sparkSession)
    def cell(x: Double): Long = math.floor(x / 10.0).toLong
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Append()) {
      (uid, sorted, prev: Option[OdFlowState]) =>
        var stay = prev.map(_.stay).orNull
        var origin = prev.flatMap(_.origin)
        val out = scala.collection.mutable.ArrayBuffer.empty[OdTrip]
        for (f <- sorted) {
          val (ns, closed) = advanceStay(stay, f, chunkUsOf, radiusM)
          stay = ns
          closed.filter(isVisit(_, minDwellUs)).foreach { v =>
            origin.foreach { o =>
              out += OdTrip(uid, tsOfMicros(o.t1Us),
                cell(o.alat), cell(o.alon), cell(v.alat), cell(v.alon),
                o.t1Us - o.t0Us)
            }
            origin = Some(v)
          }
        }
        (Option(stay).map(OdFlowState(_, origin)), out.iterator)
    }
  }

  final case class TrackFix(
      ts: java.sql.Timestamp, seq: Long, lat: Double, lon: Double)
  final case class TrackSegState(chunkUs: Long, fixes: Seq[TrackFix])
  final case class TrackSegment(
      user_id: Long, chunk: java.sql.Timestamp, n_fixes: Int, seg: Seq[TrackFix])

  /** Streaming maintenance of the STORED-TRACK layout
    * ([[graft.sources.LtssSink.writeTrackLayout]]) — the continuous
    * face of trajectory storage: per entity the state holds the OPEN
    * month's fixes, and the arrival of a fix in a LATER month CLOSES
    * the segment — one completed `(entity, month, seg)` row emits,
    * sorted exactly as the batch layout's `sort_array` would have
    * stored it, ready to append to the layout. Over any prefix the
    * emitted segments equal the batch layout minus each entity's open
    * month (spec-pinned against `writeTrackLayout`'s own files).
    *
    * State is one month of fixes per entity — the SAME bound the
    * layout chose for its arrays (the chunk width caps the segment no
    * matter how many years stream by), so layout policy and state
    * contract are one decision, not two. Ordering contract: months
    * must arrive in order per entity (a fix for an already-closed
    * month drops — its segment shipped); WITHIN the open month
    * arrival order is free — fixes sort at close, exactly like the
    * batch's whole-month `sort_array`. */
  def trackSegmentStream(
      pts: DataFrame // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
  ): Dataset[TrackSegment] = {
    import pts.sparkSession.implicits._
    val chunkUsOf = monthChunker(pts.sparkSession)
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Append()) {
      (uid, sorted, prev: Option[TrackSegState]) =>
        val (open, closed) = advanceMonth(prev, sorted, chunkUsOf)
        (open, closed.iterator.map { c =>
          val seg = monthFixes(c)
          TrackSegment(uid, tsOfMicros(c.chunkUs), seg.size, seg)
        })
    }
  }

  /** Fold one entity's sorted fixes into its open month — the segment
    * protocol [[trackSegmentStream]] and [[dpSimplifyLiveStream]] share.
    * A fix in a later month closes the open one, a fix in the open month
    * joins it, and a fix for an already-closed month drops (its segment
    * shipped). Returns the open month and the months closed, in order. */
  private def advanceMonth(
      prev: Option[TrackSegState], sorted: Seq[Fix], chunkUsOf: Long => Long)
      : (Option[TrackSegState], Seq[TrackSegState]) = {
    var s = prev.orNull
    val closed = scala.collection.mutable.ArrayBuffer.empty[TrackSegState]
    for (f <- sorted) {
      val cu = chunkUsOf(micros(f.time))
      val fix = TrackFix(f.time, f.event_id, f.lat, f.lon)
      if (s == null) s = TrackSegState(cu, Seq(fix))
      else if (cu > s.chunkUs) {
        closed += s
        s = TrackSegState(cu, Seq(fix))
      } else if (cu == s.chunkUs) s = s.copy(fixes = s.fixes :+ fix)
    }
    (Option(s), closed.toSeq)
  }

  /** A month's fixes in the batch layout's `sort_array` order. */
  private def monthFixes(s: TrackSegState): Seq[TrackFix] =
    s.fixes.sortBy(f => (micros(f.ts), f.seq))

  /** One segment simplified by the batch `ltss_geo_dp`'s own worklist
    * ([[graft.operators.Queries.dpKeep]]). */
  private def dpSegment(
      uid: Long, chunk: java.sql.Timestamp, seg: Seq[TrackFix], eps2: Double): DpSegment = {
    val fixes = seg.toIndexedSeq
    val keep = graft.operators.Queries.dpKeep(
      fixes.map(f => graft.operators.Queries.DpFix(f.ts, f.seq, f.lat, f.lon)), eps2)
    val kept = fixes.indices.collect { case i if keep(i) => fixes(i) }
    DpSegment(uid, chunk, fixes.size, kept.size, kept)
  }

  final case class DpSegment(
      user_id: Long, chunk: java.sql.Timestamp, n_fixes: Int, n_kept: Int,
      kept: Seq[TrackFix])

  /** Continuous DOUGLAS–PEUCKER simplification — the live face of the
    * batch `ltss_geo_dp`: every month segment [[trackSegmentStream]]
    * closes is simplified ON EMISSION with the batch operator's OWN
    * worklist ([[graft.operators.Queries.dpKeep]] — the identical
    * exact-arithmetic decisions, tie-breaks, and endpoint rule), so the
    * rendering pipeline receives display-ready polylines the moment a
    * month completes, without a second batch pass over the layout. The
    * simplify itself is STATELESS — D-P needs the whole segment, which
    * is exactly what the closing emission carries — so this adds zero
    * state beyond the track stream's own open-month bound; over any
    * prefix the kept points equal the batch query minus each entity's
    * open month (spec-pinned against the registered `ltss_geo_dp`). */
  def dpSimplifyStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      eps2: Double = 100.0): Dataset[DpSegment] = {
    import pts.sparkSession.implicits._
    trackSegmentStream(pts).map(seg => dpSegment(seg.user_id, seg.chunk, seg.seg, eps2))
  }

  /** PROGRESSIVE Douglas–Peucker — the live-map face
    * [[dpSimplifyStream]] deliberately lacks (it emits only on month
    * CLOSE, so an open month shows nothing): an Update-mode twin that
    * re-simplifies the OPEN month's prefix every batch and emits it as
    * a PROVISIONAL polyline, plus the final row the moment a month
    * closes — an Update sink keyed `(user_id, chunk)` always holds the
    * freshest simplification of every month, open or closed. State is
    * exactly [[trackSegmentStream]]'s open segment (the month protocol
    * verbatim — in-order months, free order within, late fixes for
    * shipped months drop); the D-P worklist re-runs on the open prefix
    * each batch, which is SEGMENT-BOUNDED work (the layout's own array
    * cap), not stream-bounded. Invariant, spec-pinned: every emission
    * equals the batch `ltss_geo_dp` over the same delivered prefix. */
  def dpSimplifyLiveStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      eps2: Double = 100.0): Dataset[DpSegment] = {
    import pts.sparkSession.implicits._
    val chunkUsOf = monthChunker(pts.sparkSession)
    foldSorted(fixes(pts))(_.user_id, byFixTime, OutputMode.Update()) {
      (uid, sorted, prev: Option[TrackSegState]) =>
        val (open, closed) = advanceMonth(prev, sorted, chunkUsOf)
        // each closed month's FINAL polyline, then the open month's
        // PROVISIONAL one
        (open, (closed ++ open).iterator.map(m =>
          dpSegment(uid, tsOfMicros(m.chunkUs), monthFixes(m), eps2)))
    }
  }

  final case class HullSegment(
      user_id: Long, chunk: java.sql.Timestamp, n_fixes: Int, n_boundary: Int,
      boundary: Seq[TrackFix])

  /** Continuous CONVEX-HULL maintenance — the live face of the batch
    * `ltss_geo_hull`: every month segment [[trackSegmentStream]] closes
    * emits its boundary fixes through the batch operator's OWN chain
    * ([[graft.operators.Queries.hullBoundary]] — the identical exact
    * Long lattice arithmetic), so coverage/footprint consumers receive
    * each month's hull the moment it completes. Stateless past the
    * track stream, like [[dpSimplifyStream]]; prefix = batch minus
    * open months (spec-pinned against the registered query). */
  def hullStream(
      pts: DataFrame // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
  ): Dataset[HullSegment] = {
    import pts.sparkSession.implicits._
    trackSegmentStream(pts).map { seg =>
      val pos = seg.seg.map(f => (math.round(2.0 * f.lon), math.round(2.0 * f.lat)))
      val hull = graft.operators.Queries.hullBoundary(pos)
      val kept = seg.seg.iterator.zip(pos.iterator).collect {
        case (f, p) if hull(p) => f
      }.toSeq
      HullSegment(seg.user_id, seg.chunk, seg.n_fixes, kept.size, kept)
    }
  }

  final case class HampelBufRow(tus: Long, cents: Option[Long])
  final case class HampelState(nextEmit: Long, firstIdx: Long, buf: Seq[HampelBufRow])
  final case class HampelOut(
      entity_id: String, time: java.sql.Timestamp, sv: Option[Double],
      n_window: Long, is_spike: Int, filtered: Option[Double])

  /** Streaming HAMPEL despike — the filter a live ingest wants BEFORE
    * its state updates trust a reading (the batch `ltss_hampel`
    * operator, [[graft.operators.TimeSeries.hampel]], run
    * continuously). A 5-sample CENTERED window cannot decide a sample
    * at arrival: the verdict for sample i needs i+2, so emission runs
    * TWO samples behind the head — the same held-emission device as
    * [[gapfillInterpStream]]'s bucket frontier. State per entity is the
    * ≤5-row ring [nextEmit−2 .. head] plus two counters — bounded by
    * the window's construction, never by the stream.
    *
    * Batch fidelity, decision for decision: values enter through
    * [[centsOf12_2]] (the `try_cast(decimal(12,2))` twin); junk
    * readings are BUFFERED as null — they emit as null-sv passthrough
    * rows and SHRINK their neighbors' defined-count window to below 5,
    * exactly like the batch `collect_list`'s null-skip; the median,
    * MAD, and 3·MAD branch are the same integer selections; early
    * rows emit with their clipped window (n_window 3, 4) once their
    * right context exists. Over any in-order prefix the emitted rows
    * equal the batch output minus the last two held samples
    * (spec-pinned). Contract: in-order per entity (an arrival STRICTLY
    * behind the (time, value) frontier is dropped — its window
    * position was already consumed — while a row TYING the frontier
    * exactly is admitted as a distinct reading, matching the batch
    * window that keeps duplicate (time, value) rows as distinct
    * members. Out of contract: a LOWER value at the
    * frontier's timestamp arriving after a higher one — within one
    * timestamp, deliver value-ordered or in one batch). */
  def hampelStream(ltss: DataFrame): Dataset[HampelOut] = {
    import ltss.sparkSession.implicits._
    // batch tie order is ORDER BY (tus, sc) with nulls first
    foldSorted(events(ltss))(_.entity_id, byTimeCents, OutputMode.Append()) {
      (key, sorted, prev: Option[HampelState]) =>
        // MinValue stands in for the null cents key
        def k(c: Option[Long]): Long = c.getOrElse(Long.MinValue)
        val s0 = prev.getOrElse(HampelState(0L, 0L, Nil))
        val buf = scala.collection.mutable.ArrayBuffer[HampelBufRow](s0.buf: _*)
        var nextEmit = s0.nextEmit
        var firstIdx = s0.firstIdx
        val out = scala.collection.mutable.ArrayBuffer.empty[HampelOut]
        def emit(e: Long): HampelOut = {
          val lo = math.max(0L, e - 2)
          val win = buf.slice((lo - firstIdx).toInt, (e + 3 - firstIdx).toInt)
          val defined = win.flatMap(_.cents).sorted
          val n = defined.size.toLong
          val center = buf((e - firstIdx).toInt)
          val sv = center.cents.map(_.toDouble / 100.0)
          val (spike, filtered) =
            if (n == 5 && center.cents.isDefined) {
              val med = defined(2)
              val mad = defined.map(v => math.abs(v - med)).sorted.apply(2)
              if (math.abs(center.cents.get - med) > 3L * mad)
                (1, Some(med.toDouble / 100.0))
              else (0, sv)
            } else (0, sv)
          HampelOut(key, tsOfMicros(center.tus), sv, n, spike, filtered)
        }
        for (r <- sorted.map(e => HampelBufRow(micros(e.time), centsOf12_2(e.state)))) {
          // strictly-behind drops; a row TYING the frontier exactly
          // (same time, same cents) is ADMITTED as a distinct window
          // member — the batch collect_list keeps duplicate readings
          // as distinct rows, and the tie appends after its equal
          // (identical rows are interchangeable, so window sets match)
          val behind = buf.lastOption.exists(last =>
            r.tus < last.tus || (r.tus == last.tus && k(r.cents) < k(last.cents)))
          if (!behind) {
            buf += r
            val lastIdx = firstIdx + buf.size - 1
            while (lastIdx - nextEmit >= 2) {
              out += emit(nextEmit)
              nextEmit += 1
              while (firstIdx < nextEmit - 2) { buf.remove(0); firstIdx += 1 }
            }
          }
        }
        (Some(HampelState(nextEmit, firstIdx, buf.toSeq)), out.iterator)
    }
  }

  final case class AsapState(
      ring: Seq[Long], seen: Long, stats: Map[Int, (Long, Long, Long)])
  final case class AsapPick(
      domain: String, w_best: Int, m: Long, var_int: Long, roughness: Double)

  /** Continuous ASAP WINDOW SELECTION — the streaming twin of the batch
    * `ltss_asap_smooth` picker, running the same telescoping-identity
    * mathematics incrementally: the per-domain state is a RING of the
    * last max-window (24) bucket counts plus, per candidate window w,
    * the running moments (m, Σd, Σd²) of the diffs d = c_t − c_{t−w} —
    * each arriving bucket updates all 7 candidates from the ring in
    * O(7), and the emitted pick recomputes var_int = m·Σd² − (Σd)² and
    * roughness = √var_int/(m·w) exactly as the batch does, so after
    * any DENSE bucket prefix the pick equals the batch argmin over the
    * same buckets (spec-pinned). State is 24 + 7×3 longs per domain —
    * bounded by the candidate grid, not the stream. Input contract:
    * the dense per-domain hourly count series in bucket order (the
    * gap-filled stream the windowed-count + gapfill twins produce);
    * sparse delivery would silently skip the zero buckets the batch
    * grid materializes. */
  def asapStream(
      counts: DataFrame, // domain STRING, bus LONG, c LONG (dense, in order)
      windows: Seq[Int] = Seq(2, 3, 4, 6, 8, 12, 24)): Dataset[AsapPick] = {
    import counts.sparkSession.implicits._
    val maxW = windows.max
    foldSorted(counts.select(col("domain"), col("bus"), col("c")).as[(String, Long, Long)])(
      _._1, r => (r._2, r._3), OutputMode.Update()) { (domain, rows, prev: Option[AsapState]) =>
        var s = prev.getOrElse(
          AsapState(Vector.fill(maxW)(0L), 0L, windows.map(_ -> ((0L, 0L, 0L))).toMap))
        for ((_, _, c) <- rows) {
          val stats = s.stats.map { case (w, (m, sd, sd2)) =>
            if (s.seen >= w) {
              val d = c - s.ring(((s.seen - w) % maxW).toInt)
              w -> ((m + 1, sd + d, sd2 + d * d))
            } else w -> ((m, sd, sd2))
          }
          s = AsapState(
            s.ring.updated((s.seen % maxW).toInt, c), s.seen + 1, stats)
        }
        val picks = s.stats.toSeq.collect {
          case (w, (m, sd, sd2)) if m > 0 =>
            val varInt = m * sd2 - sd * sd
            AsapPick(domain, w, m, varInt,
              math.sqrt(varInt.toDouble) / (m * w).toDouble)
        }
        (Some(s),
          if (picks.isEmpty) Iterator.empty
          else Iterator.single(picks.minBy(p => (p.roughness, p.w_best))))
    }
  }

  final case class ZoneDwellState(
      lastUs: Long, lastInside: Int, dwellUs: Long, visits: Long,
      nObs: Long, firstUs: Long)
  final case class ZoneDwellRow(
      user_id: Long, n_obs: Long, dwell_us: Long, n_visits: Long,
      first_seen: java.sql.Timestamp, last_seen: java.sql.Timestamp)

  /** Continuous ZONE-DWELL accounting — the running twin of the batch
    * `ltss_zone_dwell` report: per entity the state is one compact
    * ledger (last observation µs, last inside bit, dwell accumulator,
    * visit count, observation count, first-seen µs); each arrival
    * settles the PREVIOUS observation's held interval (the batch
    * `lead` convention — the final observation holds nothing until a
    * successor arrives, so after any prefix the emitted row equals the
    * batch aggregate over the same rows, all-integer µs, spec-pinned).
    * Constant state per entity, Update-mode emission per batch. */
  def zoneDwellStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, lat DOUBLE, lon DOUBLE
      centerLat: Double = 57.7,
      centerLon: Double = 11.97,
      radiusKm: Double = 2000.0): Dataset[ZoneDwellRow] = {
    import pts.sparkSession.implicits._
    val rows = pts
      .withColumn("inside",
        (graft.functions.Haversine.haversineKm(
          col("lat"), col("lon"), lit(centerLat), lit(centerLon)) <= radiusKm)
          .cast("int"))
      .select(col("time"), col("user_id"), col("inside"))
      .as[(java.sql.Timestamp, Long, Int)]
    foldSorted(rows)(_._2, r => (micros(r._1), r._3), OutputMode.Update()) {
      (uid, sorted, prev: Option[ZoneDwellState]) =>
        // µs-exact event times through [[micros]]/[[tsOfMicros]]: the
        // batch twin aggregates unix_micros, so ms-truncated arithmetic
        // here would shift dwell_us/first_seen/last_seen for sub-ms
        // event times and break the prefix-equality the doc promises
        var s = prev.orNull
        for ((t, _, inside) <- sorted) {
          val us = micros(t)
          s =
            if (s == null)
              ZoneDwellState(us, inside, 0L, if (inside == 1) 1L else 0L, 1L, us)
            else ZoneDwellState(
              us, inside,
              s.dwellUs + (if (s.lastInside == 1) us - s.lastUs else 0L),
              s.visits + (if (inside == 1 && s.lastInside == 0) 1L else 0L),
              s.nObs + 1L, s.firstUs)
        }
        (Some(s), Iterator.single(ZoneDwellRow(uid, s.nObs, s.dwellUs, s.visits,
          tsOfMicros(s.firstUs), tsOfMicros(s.lastUs))))
    }
  }

  final case class SsState(counters: Map[String, (Long, Long)])
  final case class HeavyHitter(
      domain: String, state: String, est: Long, err: Long, exact: Int)

  /** Continuously-maintained HEAVY HITTERS per domain via SPACE-SAVING
    * (Metwally et al. 2005; the TimescaleDB toolkit's `topn_agg` /
    * `mcv_agg` family) — the candidate-producing complement to
    * [[cmsStream]] (CMS answers "how often is x?", SpaceSaving answers
    * "WHICH x are frequent?"): at most k (state, est, err) counters per
    * domain; an arrival of a tracked state increments est, an untracked
    * one EVICTS the minimum counter and inherits its count as the new
    * entry's error bound. The classic guarantees hold per emission and
    * are spec-pinned: est ≥ true ≥ est − err for every tracked state,
    * and any state with true count > N/k is guaranteed tracked; a row
    * with err = 0 carries an EXACT count (`exact` = 1 — the state was
    * never evicted). State is ≤ k counters per domain FOREVER — volume-
    * and cardinality-independent like the KMV/CMS twins. Within a
    * micro-batch the counters fold in state order, so a replayed batch
    * emits the same counters; across batches arrival-order dependence
    * is inherent to SpaceSaving (unlike the mergeable KMV/CMS), which
    * is why its guarantees — not prefix-equality to a
    * batch query — are the contract, and why it has no oracle-checked
    * batch twin: the batch answer is the exact `ltss_cms_freq` truth
    * column. */
  def heavyHittersStream(ltss: DataFrame, k: Int = 8): Dataset[HeavyHitter] = {
    import ltss.sparkSession.implicits._
    foldSorted(ltss
        .select(split(col("entity_id"), "\\.").getItem(0).as("domain"), col("state"))
        .as[(String, String)])(_._1, _._2, OutputMode.Update()) {
      (domain, rows, prev: Option[SsState]) =>
        var c = prev.map(_.counters).getOrElse(Map.empty)
        for ((_, s) <- rows) {
          c.get(s) match {
            case Some((est, err)) => c = c.updated(s, (est + 1, err))
            case None if c.size < k => c = c.updated(s, (1L, 0L))
            case None =>
              // evict the minimum counter (tie → state asc, determinism);
              // the newcomer inherits its count as the error bound
              val (ms, (mEst, _)) = c.minBy { case (s2, (e2, _)) => (e2, s2) }
              c = (c - ms).updated(s, (mEst + 1, mEst))
          }
        }
        (Some(SsState(c)), c.toSeq.sortBy { case (s, (e, _)) => (-e, s) }.map {
          case (s, (est, err)) =>
            HeavyHitter(domain, s, est, err, if (err == 0) 1 else 0)
        }.iterator)
    }
  }

  final case class ContactFix(
      tUs: Long, uid: Long, eid: Long, lat: Double, lon: Double, home: Boolean)
  final case class CellContactState(frontierUs: Long, fixes: Seq[ContactFix])
  final case class ContactEvent(
      time_a: java.sql.Timestamp, user_a: Long, event_a: Long,
      time_b: java.sql.Timestamp, user_b: Long, event_b: Long,
      d2: Double, dt_us: Long)

  /** CONTINUOUS CONTACT MINING — the live face of the batch
    * `ltss_geo_contacts` join (the alert a proximity/contact-tracing
    * deployment actually wants: "these two trackers are together NOW"):
    * each fix explodes MAP-SIDE to its 3×3 R-sized grid cells with a
    * `home` flag, the stream groups BY CELL, and each cell's state
    * holds the fixes of its last T µs (frontier = max event time seen;
    * older fixes evict — state is cell co-location density × the T
    * horizon, never the stream). On arrival a fix pairs against every
    * held fix within T; a pair emits IFF the lexicographically LATER
    * fix is HOME in this cell — the batch join's exactly-once device
    * verbatim (the later fix has exactly one home cell, the earlier
    * fix's 3×3 explosion is guaranteed to cover it when d ≤ R, and the
    * pairing fires when the second of the two arrives), so no pair
    * emits twice across the nine groups that see its members. Exact
    * arithmetic is the batch join's (integer-valued d² vs R², integer
    * µs vs T). Ordering contract: arrival order is FREE within the T
    * horizon (out-of-order pairs still meet in state); a fix arriving
    * more than T behind its cell's frontier DROPS — its partners may
    * already be evicted, and a silent partial pairing would be wrong
    * in a way a documented drop is not (the trajectory streams'
    * in-order contract, horizon-widened). Invariant, spec-pinned:
    * over any prefix delivered within the horizon the emitted set
    * equals the batch `ltss_geo_contacts` rows on the same fixes.
    *
    * IDLE-CELL EVICTION (r17): the stream carries a watermark whose
    * lateness defaults to the T horizon itself (so every in-horizon
    * out-of-order arrival still reaches state — `latenessUs`
    * overrides), and each cell arms an EVENT-TIME TIMEOUT at
    * frontier + T + lateness: once the watermark passes that, the
    * oldest admissible future arrival (watermark − lateness) is
    * already beyond T of every held fix (all ≤ frontier), so the cell
    * drops its state whole with NO pair lost (spec-pinned). Without
    * this a dead grid cell's last T of fixes would persist forever;
    * with it total state is bounded by the ACTIVE cells of the
    * watermark window, not by every cell ever touched. CAVEAT — the
    * watermark NARROWS the drop bound from per-cell to GLOBAL: the
    * in-state frontier check drops a fix more than T behind ITS OWN
    * cell's frontier, but the watermark is computed as the max event
    * time across ALL cells minus lateness, so a cell (region) whose
    * event-time progress lags the globally most-recent fix by more
    * than `latenessUs` loses in-horizon out-of-order fixes AT THE
    * WATERMARK that the in-state check alone would have paired. For
    * feeds with skewed per-region event-time progress, raise
    * `latenessUs` to cover the worst cross-region lag (state cost
    * grows linearly with it), and watch the query's
    * `numRowsDroppedByWatermark` progress metric — a nonzero value
    * there is exactly this global-frontier drop firing.
    * (Checkpoint note: pre-r17 contactsStream checkpoints
    * used NoTimeout and cannot be restored by this build — restart
    * from a fresh checkpoint dir; see SURVEY.md §2.2 state notes.) */
  def contactsStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE
      radiusDeg: Double = 8.0,
      windowUs: Long = 7200000000L,
      latenessUs: Long = -1L): Dataset[ContactEvent] = {
    import pts.sparkSession.implicits._
    val r2 = radiusDeg * radiusDeg
    val lateUs = if (latenessUs < 0L) windowUs else latenessUs
    val exploded = withLatenessUs(fixes(pts), "time", lateUs)
      .withColumn("cx", floor((col("lat") + lit(90.0)) / lit(radiusDeg)).cast("long"))
      .withColumn("cy", floor((col("lon") + lit(180.0)) / lit(radiusDeg)).cast("long"))
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("time"), col("user_id"), col("event_id"), col("lat"), col("lon"),
        (col("cx") + col("dx")).as("gx"), (col("cy") + col("dy")).as("gy"),
        (col("dx") === 0 && col("dy") === 0).as("home"))
      .as[(java.sql.Timestamp, Long, Long, Double, Double, Long, Long, Boolean)]
    // evict a cell whole once the watermark passes frontier + T +
    // lateness — only then is every held fix beyond T of the oldest
    // admissible future arrival
    val expiry = Expiry[(Long, Long), CellContactState, ContactEvent](
      (_, s) => s.frontierUs / 1000L + (windowUs + lateUs) / 1000L)
    foldSorted(exploded)(r => (r._6, r._7), r => (micros(r._1), r._2, r._3),
      OutputMode.Append(), Some(expiry)) { (_, sorted, prev) =>
      val state = prev.getOrElse(CellContactState(Long.MinValue, Seq.empty))
      var frontier = state.frontierUs
      var held = state.fixes
      val out = scala.collection.mutable.ArrayBuffer.empty[ContactEvent]
      for ((t, uid, eid, lat, lon, _, _, home) <- sorted) {
        val tus = micros(t)
        if (frontier == Long.MinValue || tus >= frontier - windowUs) {
          val f = ContactFix(tus, uid, eid, lat, lon, home)
          val ord = Ordering.Tuple3[Long, Long, Long]
          for (g <- held) {
            val (a, b) =
              if (ord.lt((g.tUs, g.uid, g.eid), (f.tUs, f.uid, f.eid))) (g, f)
              else (f, g)
            if (a.uid != b.uid && b.tUs - a.tUs <= windowUs && b.home) {
              val d2 = (a.lat - b.lat) * (a.lat - b.lat) +
                (a.lon - b.lon) * (a.lon - b.lon)
              if (d2 <= r2)
                out += ContactEvent(tsOfMicros(a.tUs), a.uid, a.eid,
                  tsOfMicros(b.tUs), b.uid, b.eid, d2, b.tUs - a.tUs)
            }
          }
          held = held :+ f
          if (tus > frontier) frontier = tus
        } // else: beyond the horizon — documented drop
      }
      (Some(CellContactState(frontier, held.filter(_.tUs >= frontier - windowUs))),
        out.iterator)
    }
  }

  final case class ConvoyPend(hr: Long, cnt: Long, minUs: Long, maxUs: Long)
  final case class ConvoyRun(
      startHr: Long, endHr: Long, nHours: Long, nContacts: Long,
      firstUs: Long, lastUs: Long)
  final case class ConvoyState(
      frontierHr: Long, pend: Seq[ConvoyPend], run: Option[ConvoyRun])
  final case class ConvoyEpisode(
      id_lo: Long, id_hi: Long, hr_start: Long, n_hours: Long,
      n_contacts: Long, first_contact: java.sql.Timestamp,
      last_contact: java.sql.Timestamp)

  /** CONTINUOUS CO-TRAVEL EPISODES — the live face of the batch
    * `ltss_geo_convoys` rollup (the 45th twin), composed ON a contact
    * stream ([[contactsStream]]'s output, or any replayed contact
    * log): per unordered pair, a maximal run of CONSECUTIVE contact
    * hours (the earlier fix's hour buckets the contact, the batch
    * rule) EMITS as an episode when it CLOSES — by a later contact
    * opening a gap, or by the event-time timeout once the watermark
    * proves no future arrival can extend it — and only at
    * ≥ `minHours` (the batch threshold). State per pair is CONSTANT:
    * the pending ledger holds only hours ≥ frontier − P where P is
    * DERIVED from the caller's horizons, ⌈(lateness + contactWindow)
    * / 1 h⌉ + slack (a contact's time_a lags its time_b by at most
    * the contact window, and its ARRIVAL may lag event time by the
    * fix lateness — 6 hours at contactsStream's 2 h + 2 h defaults) —
    * so older hours are FINAL and fold into the one open run as they
    * age out; gaps between folded hours close and emit by the batch
    * rn-gap rule. Arrival order is FREE within that window (the
    * fixture feeds hour 12 before hour 11), and a contact more than P
    * hours behind the pair's frontier DROPS — documented, unreachable
    * for input within the declared horizons. The per-pair
    * timeout arms at (lastHr + 2 h) + contactWindow + lateness — only
    * past that watermark is every admissible future time_a at least
    * two hours after the run's end, i.e. a guaranteed gap. Once every
    * pair's timeout has fired, the emitted set equals the batch
    * `ltss_geo_convoys` rows on the same contacts (spec-pinned
    * against the registered query's hand trace). */
  def convoysStream(
      contacts: Dataset[ContactEvent],
      minHours: Long = 3L,
      latenessUs: Long = 7200000000L,
      contactWindowUs: Long = 7200000000L): Dataset[ConvoyEpisode] = {
    import contacts.sparkSession.implicits._
    val HrUs = 3600000000L
    // the pending window must cover how far a watermark-admissible
    // contact's time_a can trail the pair's frontier: time_a lags its
    // time_b by ≤ contactWindow and arrival lags event time by ≤
    // lateness — DERIVED from the caller's horizons (hardcoding the
    // default 4 would silently drop admissible contacts under wider
    // horizons and break the stream==batch contract), +2 hour-boundary
    // slack. Constant per pair at any setting.
    val PendBack = (latenessUs + contactWindowUs) / HrUs + 2L
    // a closed run emits at ≥ minHours
    val episode = (key: (Long, Long), r: ConvoyRun) =>
      if (r.nHours >= minHours)
        Some(ConvoyEpisode(key._1, key._2, r.startHr, r.nHours,
          r.nContacts, tsOfMicros(r.firstUs), tsOfMicros(r.lastUs)))
      else None
    // fold FINAL hours into the open run in hour order: consecutive
    // extends, a gap closes (emits) and reopens — the batch rn-gap rule
    val foldHours = (key: (Long, Long), run: Option[ConvoyRun], hours: Seq[ConvoyPend],
        out: scala.collection.mutable.Buffer[ConvoyEpisode]) =>
      hours.sortBy(_.hr).foldLeft(run) {
        case (Some(r), p) if p.hr == r.endHr + 1L =>
          Some(ConvoyRun(r.startHr, p.hr, r.nHours + 1L,
            r.nContacts + p.cnt, math.min(r.firstUs, p.minUs),
            math.max(r.lastUs, p.maxUs)))
        case (open, p) =>
          out ++= open.flatMap(episode(key, _))
          Some(ConvoyRun(p.hr, p.hr, 1L, p.cnt, p.minUs, p.maxUs))
      }
    val expiry = Expiry[(Long, Long), ConvoyState, ConvoyEpisode](
      // a stored pair always holds a pending hour or a run
      (_, s) => ((s.pend.map(_.hr) ++ s.run.map(_.endHr)).max + 2L) * 3600000L +
        (latenessUs + contactWindowUs) / 1000L,
      // the watermark passed lastHr + 2 h + lateness: every future
      // contact opens a gap, so everything held is final — fold, close,
      // emit
      (key, s) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[ConvoyEpisode]
        out ++= foldHours(key, s.run, s.pend, out).flatMap(episode(key, _))
        out.iterator
      })
    foldSorted(withLatenessUs(contacts, "time_b", latenessUs))(
      c => (math.min(c.user_a, c.user_b), math.max(c.user_a, c.user_b)),
      c => (micros(c.time_a), micros(c.time_b)), OutputMode.Append(), Some(expiry)) {
      (key, sorted, prev) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[ConvoyEpisode]
        var s = prev.getOrElse(ConvoyState(Long.MinValue, Seq.empty, None))
        for (c <- sorted) {
          val aUs = micros(c.time_a)
          val hr = aUs / HrUs
          if (s.frontierHr == Long.MinValue || hr >= s.frontierHr - PendBack) {
            val bUs = micros(c.time_b)
            val np = s.pend.find(_.hr == hr) match {
              case Some(p) => s.pend.filterNot(_.hr == hr) :+
                ConvoyPend(hr, p.cnt + 1L, math.min(p.minUs, aUs),
                  math.max(p.maxUs, bUs))
              case None => s.pend :+ ConvoyPend(hr, 1L, aUs, bUs)
            }
            val nf = math.max(s.frontierHr, hr)
            val (fin, keep) = np.partition(_.hr < nf - PendBack)
            s = ConvoyState(nf, keep, foldHours(key, s.run, fin, out))
          } // else: beyond the pair's pending window — documented drop
        }
        (Some(s), out.iterator)
    }
  }

  final case class HourEdgeState(edges: Seq[(Long, Long)])
  final case class HourGroupRow(
      hr: Long, gid: Long, n_members: Long, members: String)

  /** SEALED PER-HOUR CONTACT COMPONENTS — stage 1 of the convoy-GROUP
    * twins (r19 VERDICT optional #6), on a contact stream
    * ([[contactsStream]]'s output or a replayed contact log): keyed by
    * the contact's earlier-fix HOUR (the batch bucketing rule), the op
    * holds the hour's DISTINCT pair set and, once the watermark proves
    * the hour can receive no further contact (wm past hour end +
    * contact window — lateness already lives inside the watermark's
    * own definition), runs the same min-root union-find the batch
    * [[graft.operators.Queries.convoyHourLabels]] runs per hour and
    * emits one SEALED row per ≥ k component: (hr, gid = min member,
    * n_members, sorted members csv) — bit-compatible with the batch
    * per-hour groups, and emitted in watermark (hence hour) order,
    * which is what lets [[convoyGroupsCoreStream]] fold them with the
    * batch kernel's own hour step. State per hour is its distinct pair
    * set — fleet-bounded, the batch task's bound; the hour key also
    * makes the shuffle the same ONE-shuffle shape as the batch path.
    * Member ids must be ≥ 0 (asserted — the shared CMC hour step uses
    * −1 as its absent sentinel, the batch core variant's same
    * contract). */
  def convoyHourGroupsStream(
      contacts: Dataset[ContactEvent],
      k: Int = 3,
      latenessUs: Long = 7200000000L,
      contactWindowUs: Long = 7200000000L): Dataset[HourGroupRow] = {
    import contacts.sparkSession.implicits._
    val HrUs = 3600000000L
    val expiry = Expiry[Long, HourEdgeState, HourGroupRow](
      // seal once no admissible contact can land in this hour: time_a <
      // hour end and time_b ≤ time_a + window, so every such row is
      // watermark-dropped once wm ≥ hour end + window. The lateness
      // horizon is NOT added here — it already lives inside the
      // watermark's definition (wm = max time_b − lateness); adding it
      // again would delay every seal (and every downstream core
      // episode) by a full lateness for nothing (review-found r20)
      (hr, _) => (hr + 1L) * 3600000L + contactWindowUs / 1000L,
      (hr, s) => {
        // the batch per-hour task's OWN union-find (shared code — the
        // engines' components cannot drift)
        val roots = graft.operators.Queries.minRootComponents(s.edges.iterator)
        val comps = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        roots.foreach { case (m, gid) =>
          comps.getOrElseUpdate(gid,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += m
        }
        comps.iterator.collect {
          case (gid, buf) if buf.length >= k =>
            HourGroupRow(hr, gid, buf.length.toLong, buf.sorted.mkString(","))
        }
      })
    foldSorted(withLatenessUs(contacts, "time_b", latenessUs))(
      c => micros(c.time_a) / HrUs, c => (c.user_a, c.user_b),
      OutputMode.Append(), Some(expiry)) { (_, rows, prev) =>
      val set = scala.collection.mutable.HashSet
        .empty[(Long, Long)] ++= prev.map(_.edges).getOrElse(Nil)
      rows.foreach { c =>
        require(c.user_a >= 0L && c.user_b >= 0L,
          "convoy-group twins need non-negative member ids (the " +
            "shared CMC hour step's −1 absent sentinel — remap " +
            "through a dense_rank dimension first, the batch core " +
            "variant's contract)")
        val lo = math.min(c.user_a, c.user_b)
        val hi = math.max(c.user_a, c.user_b)
        if (lo != hi) set += ((lo, hi))
      }
      (Some(HourEdgeState(set.toSeq)), Iterator.empty)
    }
  }

  /** JEUNG CORE-CONVOY EPISODES, LIVE — the streaming twin of the batch
    * `ltss_geo_convoy_groups_core` (stage 2 over
    * [[convoyHourGroupsStream]]'s sealed hourly groups, which arrive in
    * watermark order): ONE global CMC state machine folds each sealed
    * hour with the batch kernel's OWN hour step
    * ([[graft.operators.Queries.convoyCoreHourStep]] — shared code, so
    * the engines cannot drift), closing and emitting episodes exactly
    * when the batch closes them (split / absence / hour gap; k and m
    * are the batch thresholds). The batch path partitions the kernel by
    * meta-component for parallelism; the twin's input is the
    * DIMENSION-SIZED sealed-group stream (≥ k groups per hour — fleet-,
    * never contact-log-bounded), so the single key holds exactly the
    * union of alive classes the batch kernel holds across all
    * neighborhoods at one hour, and the serialized step is priced by
    * that fleet bound.
    *
    * DELIVERY CONTRACT (review-found r20): stage 1 emits hours in
    * order, but a transport may split ONE hour's rows across two
    * micro-batches (file-listing boundaries, `maxOffsetsPerTrigger`) —
    * folding a partial hour would wrongly close classes and drop the
    * remainder as a replay. The machine therefore HOLDS the newest
    * pending hour and folds an hour only once a LATER hour's row
    * proves it fully delivered (stage 1's in-order emission makes
    * "h seen" ⇒ "all h' < h complete" on any order-preserving log —
    * single Kafka partition, file source; a multi-partition topic
    * needs a repartition-to-one or per-hour keys). The holdback costs
    * nothing observable: a close always needs later-hour evidence
    * anyway. Rows for hours already FOLDED (a replay) still drop.
    * Classes alive at the stream frontier emit once a later sealed
    * hour closes them; a far-future heartbeat contact through stage 1
    * flushes everything at cutover (runbook step 2's trick).
    * Composition is two queries (stage 1's sink feeding stage 2's
    * source) — chaining two flatMapGroupsWithState ops in one plan is
    * not a supported streaming shape. */
  def convoyGroupsCoreStream(
      groups: Dataset[HourGroupRow],
      k: Int = 3,
      m: Int = 2): Dataset[graft.operators.Queries.ConvoyCoreEp] = {
    import groups.sparkSession.implicits._
    foldSorted(groups)(_ => 0, g => (g.hr, g.gid), OutputMode.Append()) {
      (_, rows, prev0: Option[CoreTwinState]) =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[graft.operators.Queries.ConvoyCoreEp]
        def close(mem: Array[Long], s: Long, e: Long): Unit =
          graft.operators.Queries.coreEpisode(mem, s, e, k, m).foreach(out += _)
        val s0 = prev0.getOrElse(CoreTwinState(Long.MinValue, Nil, Nil))
        var prev = s0.prev
        var state = scala.collection.mutable.HashMap.empty[
          graft.operators.Queries.ConvoyCls, Long]
        s0.alive.foreach(a => state(
          new graft.operators.Queries.ConvoyCls(a.members.toArray)) = a.since)
        // pending = sealed rows not yet provably complete; rows at or
        // below the folded frontier are a genuine replay and drop
        val pendAll = s0.pend ++ rows.filter(_.hr > prev)
        var keep = pendAll
        if (pendAll.nonEmpty) {
          val maxHr = pendAll.iterator.map(_.hr).max
          val ready = pendAll.filter(_.hr < maxHr)
          keep = pendAll.filter(_.hr == maxHr)
          val byHr = ready.groupBy(_.hr)
          for (h <- byHr.keys.toSeq.sorted) {
            if (prev != Long.MinValue && h != prev + 1L) {
              // the gap rule: the skipped hours sealed with no >= k
              // component, so every alive class already ended at `prev`
              state.foreach { case (c, since) => close(c.mem, since, prev) }
              state = scala.collection.mutable.HashMap.empty
            }
            val gidOf = scala.collection.mutable.LongMap.empty[Long]
            byHr(h).foreach { g =>
              g.members.split(',').foreach(ms => gidOf(ms.toLong) = g.gid)
            }
            state = graft.operators.Queries.convoyCoreHourStep(
              state, gidOf, h, prev, k, close)
            prev = h
          }
          // a gap BEFORE the held hour is already provable — close
          // through it now instead of waiting for the hold to release
          if (prev != Long.MinValue && maxHr > prev + 1L) {
            state.foreach { case (c, since) => close(c.mem, since, prev) }
            state = scala.collection.mutable.HashMap.empty
          }
        }
        (Some(CoreTwinState(prev, keep,
          state.toSeq.map { case (c, since) => CoreAlive(c.mem.toSeq, since) })),
          out.iterator)
    }
  }

  final case class CoreAlive(members: Seq[Long], since: Long)
  final case class CoreTwinState(
      prev: Long, pend: Seq[HourGroupRow], alive: Seq[CoreAlive])

  final case class GroupRunState(
      gidMin: Long, nMembers: Long, startHr: Long, lastHr: Long)
  final case class GroupEpisode(
      group_id: Long, n_members: Long, members: String,
      hr_start: Long, n_hours: Long, hr_end: Long)

  /** STRICT SAME-SET CONVOY GROUPS, LIVE — the streaming twin of the
    * batch `ltss_geo_convoy_groups` (the 50th twin; with the core twin
    * the whole convoy-group family now has live faces): rides
    * [[convoyHourGroupsStream]]'s sealed hourly ≥ k groups KEYED BY THE
    * MEMBER SET itself — the batch rule's `partitionBy(members)` made a
    * state key. Each key holds one open run of consecutive hours; a
    * sealed row at `lastHr + 1` extends it, a later row closes it
    * (emits at ≥ m hours, the batch rn-gap rule) and reopens. Because a
    * key only ever sees ITS OWN set's rows, absence (the set dissolving)
    * arrives as an event-time TIMEOUT, not a row: the sealed rows carry
    * their hour-end as event time (derived from `hr` — zero-lateness
    * watermark, since stage 1 emits in hour order), and the timeout
    * arms at the END of hour `lastHr + 2` — strictly after every
    * possible `lastHr + 1` row for this key has arrived under the
    * order-preserving transport contract ([[convoyGroupsCoreStream]]'s
    * same contract). State per key is four longs — member strings live
    * only in the key space, which is the alive-group dimension. */
  def convoyGroupsStream(
      groups: Dataset[HourGroupRow],
      m: Int = 2): Dataset[GroupEpisode] = {
    import groups.sparkSession.implicits._
    // a closed run emits at ≥ m hours
    val episode = (members: String, r: GroupRunState) =>
      if (r.lastHr - r.startHr + 1 >= m)
        Some(GroupEpisode(r.gidMin, r.nMembers, members,
          r.startHr, r.lastHr - r.startHr + 1, r.lastHr))
      else None
    val expiry = Expiry[String, GroupRunState, GroupEpisode](
      // fires once the watermark carries ANY sealed hour ≥ lastHr + 2
      // (its seal_ts = hr·3600+3599 s first reaches this value at
      // hr = lastHr + 2) — the earliest moment "no lastHr + 1 row
      // arrived" is evidence of absence
      (_, g) => (g.lastHr + 2L) * 3600000L,
      // had the set held at lastHr + 1, stage 1's sealed row would have
      // arrived — the run is closed by ABSENCE
      (members, g) => episode(members, g).iterator)
    val sealedRows = groups
      .withColumn("seal_ts",
        (col("hr") * 3600L + 3599L).cast("timestamp"))
      .withWatermark("seal_ts", "0 seconds")
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    foldSorted(sealedRows)(_._4, _._1, OutputMode.Append(), Some(expiry)) {
      (members, rows, prev) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[GroupEpisode]
        var run = prev
        for (r <- rows) {
          val h = r._1
          run match {
            case Some(g) if h == g.lastHr + 1L =>
              run = Some(g.copy(gidMin = math.min(g.gidMin, r._2),
                nMembers = math.max(g.nMembers, r._3), lastHr = h))
            case Some(g) if h > g.lastHr + 1L =>
              out ++= episode(members, g) // the batch rn-gap rule: close, then reopen
              run = Some(GroupRunState(r._2, r._3, h, h))
            case Some(_) => // h <= lastHr: stage-1 replay — drop
            case None =>
              run = Some(GroupRunState(r._2, r._3, h, h))
          }
        }
        (run, out.iterator)
    }
  }

  final case class CellPanelState(ek: Long, k: Long, users: Seq[Long])
  final case class CellPanelRow(
      tb: Long, cx: Long, cy: Long, n_fixes: Long, n_users: Long,
      n_pairs_within: Long, n_candidates: Long)

  /** The shared candidate-key explosion of [[contactCellsStream]] and
    * [[contactCellsStreamLive]]: each fix to its 18 (bucket, 3×3 cell)
    * target keys with the home flag on the (tb, 0, 0) copy. */
  private def cellPanelExploded(
      pts: DataFrame, radiusDeg: Double, windowUs: Long, lateUs: Long)
      : Dataset[(java.sql.Timestamp, Long, Long, Long, Long, Boolean)] = {
    import pts.sparkSession.implicits._
    withLatenessUs(pts.select(col("time"), col("user_id"), col("lat"), col("lon")),
        "time", lateUs)
      .withColumn("cx", floor((col("lat") + lit(90.0)) / lit(radiusDeg)).cast("long"))
      .withColumn("cy", floor((col("lon") + lit(180.0)) / lit(radiusDeg)).cast("long"))
      .withColumn("tb", expr(s"unix_micros(time) div $windowUs"))
      .withColumn("dtb", explode(expr("sequence(0, 1)")))
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("time"), col("user_id"),
        (col("tb") + col("dtb")).as("gtb"),
        (col("cx") + col("dx")).as("gx"),
        (col("cy") + col("dy")).as("gy"),
        (col("dtb") === 0 && col("dx") === 0 && col("dy") === 0).as("home"))
      .as[(java.sql.Timestamp, Long, Long, Long, Long, Boolean)]
  }

  /** LIVE CONTACT-DENSITY panel — the streaming twin of the batch
    * `ltss_geo_contact_cells` forecast (r17 VERDICT gap #2): the
    * hot-cell panel is most valuable ON the live feed driving
    * [[contactsStream]], BEFORE the contact join pays those cells.
    * Same derivations as the batch panel, verbatim: each fix explodes
    * to its 18 (bucket ∈ {tb, tb+1}, 3×3 cell) CANDIDATE-TARGET keys
    * with a home flag on the (tb, 0, 0) copy; per key the state is
    * three counters and the home user set — `ek` (all arrivals = the
    * early-side candidate rows the join would enumerate here), `k`
    * (home fixes), `users` (distinct home entities — kept exactly in
    * state, which is what the batch `countDistinct` cannot do inside
    * a streaming agg; bounded by the entities active in one cell-
    * window). The row EMITS ON WINDOW CLOSE, exactly once, when the
    * watermark passes the key's last admissible contributor — end of
    * bucket tb+1, i.e. (tb+1)·T — so the emitted panel equals the
    * batch panel row for every closed key (spec-pinned); keys with no
    * HOME fixes emit nothing (the batch inner join's contract) and
    * just drop their state. A fix older than the watermark drops one
    * stage early — the global-frontier caveat documented on
    * [[contactsStream]] applies here identically (same default
    * lateness = the T horizon; raise `latenessUs` for skewed feeds).
    * State is bounded by ACTIVE cell-windows × (3 counters + the
    * cell's entity set) — never by history. */
  def contactCellsStream(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, lat DOUBLE, lon DOUBLE
      radiusDeg: Double = 8.0,
      windowUs: Long = 7200000000L,
      latenessUs: Long = -1L): Dataset[CellPanelRow] = {
    import pts.sparkSession.implicits._
    // the exactly-once twin IS the live variant's close rows: one
    // state machine, one close rule — the filter keeps the r19 twins
    // from drifting (state shape, timeout, and emission all shared;
    // the stateful operator and its CellPanelState schema are
    // unchanged, so r18 checkpoints restore — the filter/map sit
    // downstream of the state store)
    contactCellsStreamLive(pts, radiusDeg, windowUs, latenessUs)
      .filter(_.is_final)
      .map(r => CellPanelRow(r.tb, r.cx, r.cy, r.n_fixes, r.n_users,
        r.n_pairs_within, r.n_candidates))
  }

  final case class CellPanelLiveRow(
      tb: Long, cx: Long, cy: Long, n_fixes: Long, n_users: Long,
      n_pairs_within: Long, n_candidates: Long, is_final: Boolean)

  /** PROVISIONAL-EMISSION variant of [[contactCellsStream]] (r18
    * VERDICT missing #2): the exactly-once-on-close twin is correct vs
    * the batch panel, but a dashboard watching for hot cells LIVE
    * wants the running counts BEFORE the watermark closes the window —
    * the whole point of the panel is to see the cell heat up before
    * the contact join pays for it. Every micro-batch that touches a
    * key with ≥ 1 HOME fix emits one `is_final = false` row with the
    * key's RUNNING counters (merged through the same state — so
    * provisional rows are MONOTONE prefixes of the close row: the
    * counters only grow, spec-pinned); window close emits the one
    * `is_final = true` row, bit-identical in its counter columns to
    * [[contactCellsStream]]'s close row (and so to the batch panel).
    * The sink contract is append-with-refinement: a consumer keeps the
    * max-per-key row (or filters `is_final` for the exact panel) — the
    * same convention as Spark's own update-mode aggregations, expressed
    * in Append because flatMapGroupsWithState owns the state here.
    * Keys that never see a home fix stay silent in BOTH phases (the
    * batch inner join's contract). State, timeout, and the µs→ms CEIL
    * close rule are [[contactCellsStream]]'s verbatim. */
  def contactCellsStreamLive(
      pts: DataFrame, // time TIMESTAMP, user_id LONG, lat DOUBLE, lon DOUBLE
      radiusDeg: Double = 8.0,
      windowUs: Long = 7200000000L,
      latenessUs: Long = -1L): Dataset[CellPanelLiveRow] = {
    import pts.sparkSession.implicits._
    val lateUs = if (latenessUs < 0L) windowUs else latenessUs
    // the batch panel inner-joins home × early: a key that never saw a
    // HOME fix has no batch row — emit nothing
    val panelRow = (key: (Long, Long, Long), s: CellPanelState, isFinal: Boolean) =>
      if (s.k == 0L) Iterator.empty
      else Iterator.single(CellPanelLiveRow(key._1, key._2, key._3,
        s.k, s.users.length.toLong, s.k * (s.k - 1L) / 2L, s.ek * s.k, isFinal))
    // close when the watermark passes the key's last admissible
    // contributor: sources tb and tb−1 both end by (gtb+1)·T. CEIL the
    // µs→ms conversion ((gtb+1)·windowUs first, divide last) —
    // multiplying a truncated windowUs/1000 would close early by
    // (gtb+1)·(windowUs mod 1000) µs and double-emit a key that a late
    // in-horizon fix recreates
    val expiry = Expiry[(Long, Long, Long), CellPanelState, CellPanelLiveRow](
      (key, _) => ((key._1 + 1L) * windowUs + 999L) / 1000L,
      (key, s) => panelRow(key, s, true))
    foldSorted(cellPanelExploded(pts, radiusDeg, windowUs, lateUs))(
      r => (r._3, r._4, r._5), r => (micros(r._1), r._2),
      OutputMode.Append(), Some(expiry)) { (key, rows, prev) =>
      val s0 = prev.getOrElse(CellPanelState(0L, 0L, Seq.empty))
      // set semantics on a Seq-encoded state: merge the batch into a
      // LinkedHashSet ONCE (insertion-ordered, so the stored Seq is
      // deterministic) — a per-row Seq.contains would be O(k²) per batch
      // on exactly the hot cells this panel exists for
      val users = scala.collection.mutable.LinkedHashSet.empty[Long]
      users ++= s0.users
      var ek = s0.ek
      var k = s0.k
      for (r <- rows) {
        ek += 1L
        if (r._6) {
          k += 1L
          users += r._2
        }
      }
      val s = CellPanelState(ek, k, users.toSeq)
      (Some(s), panelRow(key, s, false))
    }
  }
}
