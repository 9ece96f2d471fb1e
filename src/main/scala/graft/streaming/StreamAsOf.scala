package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming twin of the native batch as-of join (plans.AsOfJoinPlan,
  * q76): attach the latest right-side row to every left event, per key —
  * attribution ("which click preceded this purchase") and feature
  * staleness joins over a live stream.
  *
  * The state IS AsOfJoinExec's merge state made persistent: ONE buffered
  * right row per key (the maximum (ts, id) ordering tuple seen), kept in a
  * named `transformWithState` value store, so state is O(keys) regardless
  * of stream volume — the boundedness that keeps the operator viable at
  * 100 TB/day. Within a micro-batch, ticks replay in ascending
  * (ts_us, event_id) — exactly the batch operator's required child
  * ordering — so a left event only ever sees rights at-or-before its own
  * tuple and a replayed batch emits identically. Tolerance is the same
  * O(1) head-distance check at emit.
  *
  * Streaming semantics (vs the batch operator): results append — a right
  * row arriving in a LATER micro-batch than a left event does not revise
  * the already-emitted match, it only upgrades the buffer for subsequent
  * lefts. Under per-key in-order arrival (or any single-batch replay of a
  * key's history) the output equals the batch backward-strict as-of join
  * row-for-row (StreamAsOfSpec pins parity against q76's shape). A right
  * row older than the buffered one is ignored outright: backward as-of
  * only ever needs the newest right at-or-before each left, and the
  * buffer is already newer for every future left. Requires
  * [[RequiredStateStoreProvider]].
  */
object StreamAsOf extends Serializable {

  /** One input tick — both sides union into a single keyed stream
    * (`is_right = true` for the reference side).
    */
  final case class Tick(
      user_id: Long, ts_us: Long, event_id: Long, is_right: Boolean)

  /** The buffered merge state: the max-(ts, id) right row seen so far. */
  final case class RightSeen(ts_us: Long, event_id: Long)

  /** One output row per LEFT tick; `right_*` are −1 when unmatched. */
  final case class AsOfMatch(
      user_id: Long, event_id: Long, ts_us: Long,
      right_event_id: Long, right_ts_us: Long, matched: Boolean)

  /** Per-key processor: one named value state ("lastRight"). `toleranceUs`
    * < 0 disables the window; `ttl` bounds idle keys' state lifetime
    * (requires processing-time mode).
    *
    * BACKWARD ONLY, by design: forward/nearest need a left to wait for a
    * right that hasn't arrived, and "has everything relevant arrived?" is
    * an event-time question — processing time offers no watermark to make
    * a forward match final, so emitting one here would mean either
    * unbounded left buffering or revisable output. The event-time
    * processor below owns those directions with the watermark-final
    * discipline; batch covers all three exactly.
    */
  class AsOfProcessor(toleranceUs: Long, ttl: TTLConfig)
      extends StatefulProcessor[Long, Tick, AsOfMatch] {
    @transient private var lastRight: ValueState[RightSeen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastRight = getHandle.getValueState[RightSeen](
        "lastRight", Encoders.product[RightSeen], ttl)

    override def handleInputRows(key: Long, ticks: Iterator[Tick],
        timerValues: TimerValues): Iterator[AsOfMatch] = {
      var buf = if (lastRight.exists()) lastRight.get() else null
      val out = Vector.newBuilder[AsOfMatch]
      // the batch operator's required child ordering, replayed per batch:
      // rights at-or-before a left (by tuple) land in the buffer first
      for (t <- ticks.toSeq.sortBy(x => (x.ts_us, x.event_id))) {
        if (t.is_right) {
          if (buf == null || t.ts_us > buf.ts_us ||
              (t.ts_us == buf.ts_us && t.event_id > buf.event_id))
            buf = RightSeen(t.ts_us, t.event_id)
        } else {
          // backward as-of: the buffered right must be event-time
          // at-or-before the left (a buffered right from the key's
          // FUTURE — possible only when a left arrives a batch behind a
          // later right — never matches, same as the batch operator)
          val before = buf != null &&
            (buf.ts_us < t.ts_us ||
              (buf.ts_us == t.ts_us && buf.event_id < t.event_id))
          val inWindow = before &&
            (toleranceUs < 0 || t.ts_us - buf.ts_us <= toleranceUs)
          out += (if (inWindow)
            AsOfMatch(key, t.event_id, t.ts_us, buf.event_id, buf.ts_us,
              matched = true)
          else
            AsOfMatch(key, t.event_id, t.ts_us, -1L, -1L, matched = false))
        }
      }
      if (buf != null) lastRight.update(buf)
      out.result().iterator
    }
  }

  /** Wire the processor over a (possibly streaming) typed tick Dataset.
    * `ttlMs > 0` expires idle keys' buffered right row after that much
    * processing time — the state bound for unbounded key spaces.
    */
  def matches(spark: SparkSession, ticks: Dataset[Tick],
      toleranceUs: Long = -1L, ttlMs: Long = -1L): Dataset[AsOfMatch] = {
    import spark.implicits._
    val (ttl, mode) =
      if (ttlMs > 0)
        (TTLConfig(java.time.Duration.ofMillis(ttlMs)), TimeMode.ProcessingTime())
      else (TTLConfig.NONE, TimeMode.None())
    ticks
      .groupByKey(_.user_id)
      .transformWithState(
        new AsOfProcessor(toleranceUs, ttl), mode, OutputMode.Append())
  }

  /** A left event awaiting its FORWARD candidate (Forward/Nearest
    * directions): its own ordering tuple plus the backward candidate that
    * was live when it ripened (`has_b = false` → none). Held in a named
    * list state until a ripe right with a later tuple arrives or the
    * watermark proves no admissible one can.
    */
  final case class WaitLeft(
      ts_us: Long, event_id: Long, b_ts: Long, b_id: Long, has_b: Boolean)

  /** EVENT-TIME processor — the exactness variant: ticks BUFFER in a named
    * list state until the watermark passes their timestamp, then fold in
    * global (ts_us, event_id) order, at which point no earlier
    * in-watermark tick can still arrive — so every left's match is FINAL
    * and equals the batch strict as-of join under ANY arrival order
    * within the watermark (where [[AsOfProcessor]] provably emits the
    * stale buffer for a left that out-raced its click). The honest cost
    * is the same buffered-lateness trade `funnelEventTime` makes: state
    * per key is O(ticks inside the watermark window), not O(1). Ticks at
    * or below the watermark on arrival are dropped (the standard
    * allowed-lateness contract). A per-key timer at the oldest pending
    * timestamp — or the earliest decision deadline below — drives
    * emission when the watermark advances without new input for the key.
    *
    * All three [[AsOfDirection]]s, with the batch operator's strict
    * semantics on the (ts_us, event_id) tuple:
    *
    *  - Backward: a ripe left matches the max-tuple ripe right before it
    *    (the folded buffer) — final the moment the left ripens, because
    *    every earlier in-watermark right has already folded.
    *  - Forward: a ripe left WAITS; the first ripe right with a later
    *    tuple is its final match (any not-yet-arrived right between them
    *    would be sub-watermark on arrival, i.e. outside the contract).
    *    With a tolerance, the watermark passing `left.ts + tolerance`
    *    finalizes it unmatched instead; without one, a left with no
    *    subsequent right ever waits indefinitely — the honest unbounded
    *    tail, so give forward/nearest streams a tolerance.
    *  - Nearest: the waiting left carries its backward candidate; a ripe
    *    later right decides the pick immediately (ties backward, batch
    *    rule), and the watermark passing `left.ts + min(tolerance,
    *    backward distance)` proves every future right would lose to the
    *    backward candidate — final without any forward arrival.
    */
  class EventTimeAsOfProcessor(toleranceUs: Long,
      direction: graft.plans.AsOfDirection = graft.plans.AsOfDirection.Backward)
      extends StatefulProcessor[Long, Tick, AsOfMatch] {
    import graft.plans.AsOfDirection
    @transient private var pending: org.apache.spark.sql.streaming.ListState[Tick] = _
    @transient private var lastRight: ValueState[RightSeen] = _
    @transient private var waiting: org.apache.spark.sql.streaming.ListState[WaitLeft] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[Tick](
        "pending", Encoders.product[Tick], TTLConfig.NONE)
      lastRight = getHandle.getValueState[RightSeen](
        "lastRight", Encoders.product[RightSeen], TTLConfig.NONE)
      waiting = getHandle.getListState[WaitLeft](
        "waiting", Encoders.product[WaitLeft], TTLConfig.NONE)
    }

    private def inTol(dist: Long): Boolean =
      toleranceUs < 0 || dist <= toleranceUs

    /** Fold every pending tick the watermark has passed; hold the rest. */
    private def processRipe(key: Long, wmUs: Long): Iterator[AsOfMatch] = {
      val all = pending.get().toSeq
      val (ripe, hold) = all.partition(_.ts_us <= wmUs)
      var buf = if (lastRight.exists()) lastRight.get() else null
      val out = Vector.newBuilder[AsOfMatch]
      val waitBuf = scala.collection.mutable.ArrayBuffer.empty[WaitLeft]
      if (direction != AsOfDirection.Backward) waitBuf ++= waiting.get()
      def unmatched(eid: Long, ts: Long): AsOfMatch =
        AsOfMatch(key, eid, ts, -1L, -1L, matched = false)
      for (t <- ripe.sortBy(x => (x.ts_us, x.event_id))) {
        if (t.is_right) {
          // a ripe right is the FINAL forward candidate for every waiter
          // with an earlier tuple (rights between them would now be
          // sub-watermark): resolve those waiters before folding it in
          if (direction != AsOfDirection.Backward && waitBuf.nonEmpty) {
            val (res, keep) = waitBuf.partition(wl =>
              wl.ts_us < t.ts_us ||
                (wl.ts_us == t.ts_us && wl.event_id < t.event_id))
            res.foreach { wl =>
              val fOk = inTol(t.ts_us - wl.ts_us)
              if (direction == AsOfDirection.Forward)
                out += (if (fOk)
                  AsOfMatch(key, wl.event_id, wl.ts_us, t.event_id, t.ts_us,
                    matched = true)
                else unmatched(wl.event_id, wl.ts_us))
              else { // Nearest: both candidates now known — batch pick
                val bD = wl.ts_us - wl.b_ts
                val bOk = wl.has_b && inTol(bD)
                if (bOk && (!fOk || bD <= t.ts_us - wl.ts_us))
                  out += AsOfMatch(key, wl.event_id, wl.ts_us,
                    wl.b_id, wl.b_ts, matched = true)
                else if (fOk)
                  out += AsOfMatch(key, wl.event_id, wl.ts_us,
                    t.event_id, t.ts_us, matched = true)
                else out += unmatched(wl.event_id, wl.ts_us)
              }
            }
            waitBuf.clear(); waitBuf ++= keep
          }
          if (buf == null || t.ts_us > buf.ts_us ||
              (t.ts_us == buf.ts_us && t.event_id > buf.event_id))
            buf = RightSeen(t.ts_us, t.event_id)
        } else direction match {
          case AsOfDirection.Backward =>
            val inWindow = buf != null && inTol(t.ts_us - buf.ts_us)
            out += (if (inWindow)
              AsOfMatch(key, t.event_id, t.ts_us, buf.event_id, buf.ts_us,
                matched = true)
            else unmatched(t.event_id, t.ts_us))
          case AsOfDirection.Forward =>
            waitBuf += WaitLeft(t.ts_us, t.event_id, -1L, -1L, has_b = false)
          case AsOfDirection.Nearest =>
            waitBuf += (if (buf != null)
              WaitLeft(t.ts_us, t.event_id, buf.ts_us, buf.event_id,
                has_b = true)
            else WaitLeft(t.ts_us, t.event_id, -1L, -1L, has_b = false))
        }
      }
      // watermark-deadline finalization for the waiters no ripe right
      // resolved: any FUTURE right has ts > wm, so once wm passes a
      // waiter's decision deadline the outcome cannot change
      val still = scala.collection.mutable.ArrayBuffer.empty[(WaitLeft, Long)]
      waitBuf.foreach { wl =>
        val bD = wl.ts_us - wl.b_ts
        val bOk = wl.has_b && inTol(bD)
        val dist =
          if (direction == AsOfDirection.Nearest && bOk)
            math.min(bD, if (toleranceUs >= 0) toleranceUs else bD)
          else if (toleranceUs >= 0) toleranceUs
          else -1L // no bound: wait for a right indefinitely
        val deadline = if (dist < 0) Long.MaxValue else wl.ts_us + dist
        if (deadline != Long.MaxValue && wmUs >= deadline) {
          out += (if (direction == AsOfDirection.Nearest && bOk)
            AsOfMatch(key, wl.event_id, wl.ts_us, wl.b_id, wl.b_ts,
              matched = true)
          else unmatched(wl.event_id, wl.ts_us))
        } else still += ((wl, deadline))
      }
      if (buf != null) lastRight.update(buf)
      pending.clear()
      if (hold.nonEmpty) pending.appendList(hold.toArray)
      waiting.clear()
      if (still.nonEmpty) waiting.appendList(still.map(_._1).toArray)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      // wake when the watermark passes the oldest held tick or the
      // earliest waiter deadline (ceil to ms so one wake suffices); timer
      // timestamps must sit strictly above the current watermark
      val wakes = hold.map(_.ts_us) ++
        still.map(_._2).filter(_ != Long.MaxValue).map(_ + 999L)
      if (wakes.nonEmpty)
        getHandle.registerTimer(
          math.max(wakes.min / 1000L, wmUs / 1000L + 1))
      out.result().iterator
    }

    override def handleInputRows(key: Long, ticks: Iterator[Tick],
        timerValues: TimerValues): Iterator[AsOfMatch] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      // drop sub-watermark arrivals; buffer the rest
      val fresh = ticks.filter(_.ts_us > wmUs).toArray
      if (fresh.nonEmpty) pending.appendList(fresh)
      processRipe(key, wmUs)
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AsOfMatch] =
      processRipe(key, timerValues.getCurrentWatermarkInMs() * 1000L)
  }

  /** Wire the event-time processor; requires a watermark, expressed here
    * on a derived `__ts` column exactly like `funnelEventTime`.
    * `direction` covers all three batch directions (strict tuple
    * semantics); give Forward/Nearest a tolerance or lefts with no
    * subsequent right wait indefinitely (see the processor doc).
    */
  def matchesEventTime(spark: SparkSession, ticks: Dataset[Tick],
      toleranceUs: Long = -1L,
      watermarkDelay: String = "10 seconds",
      direction: graft.plans.AsOfDirection = graft.plans.AsOfDirection.Backward)
      : Dataset[AsOfMatch] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    ticks
      .withColumn("__ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("__ts", watermarkDelay)
      .as[Tick]
      .groupByKey(_.user_id)
      .transformWithState(
        new EventTimeAsOfProcessor(toleranceUs, direction),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** STREAM-STATIC as-of join — enrich a live stream against a fixed
    * reference table (the dimension-snapshot / feature-table / model-
    * version case) with full as-of semantics: every left event picks its
    * right row per direction/tolerance/strictness, exactly like the batch
    * operator, because it IS the batch operator: the native
    * [[graft.plans.AsOfJoinPlan.AsOfJoin]] node composes with Structured
    * Streaming unchanged when the right side broadcasts —
    * `BroadcastAsOfJoinExec` requires NOTHING of its left child (no
    * distribution, no ordering), so the micro-batch plans scan →
    * broadcast-as-of with no shuffle, no sort, and — unlike the
    * stream-stream forms above — NO STATE AT ALL. A static right means
    * each left row's match is a pure function of that row, so results are
    * independent of micro-batch boundaries (spec-pinned under 1-row and
    * all-rows batchings) and every direction (backward/forward/nearest)
    * is final immediately: no watermark, no buffered-ripe discipline, no
    * timers.
    *
    * The broadcast form is FORCED, not stats-picked: a streaming left has
    * no meaningful size estimate per batch, and the merge form would
    * re-sort the full static right inside every micro-batch for no
    * benefit. Honest costs at scale: the static side re-broadcasts per
    * micro-batch (Spark's stream-static contract — `cache()` the right
    * side to at least skip its re-scan), and the per-executor sorted
    * index rebuilds once per (executor, micro-batch); both are O(|R|)
    * work per trigger, the standard price of stream-static broadcast
    * enrichment, amortized by batching and irrelevant to the left-side
    * volume the operator is sized for. For a right side too big to
    * broadcast, the stream-stream event-time form (or a batch as-of over
    * the lake) is the correct tool — this helper refuses nothing
    * silently: Force on an over-threshold right still broadcasts, as
    * with Spark's own broadcast() hint.
    */
  def streamStaticAsOf(
      leftStream: org.apache.spark.sql.DataFrame,
      rightStatic: org.apache.spark.sql.DataFrame,
      keys: Seq[(String, String)],
      order: Seq[(String, String)],
      strict: Boolean = false,
      rightSuffix: String = "_r",
      tolerance: Option[Long] = None,
      direction: graft.plans.AsOfDirection = graft.plans.AsOfDirection.Backward)
      : org.apache.spark.sql.DataFrame = {
    require(leftStream.isStreaming,
      "streamStaticAsOf: left must be a streaming DataFrame (for batch " +
        "inputs use AsOfJoinPlan.asofJoin)")
    require(!rightStatic.isStreaming,
      "streamStaticAsOf: right must be static (for stream-stream use " +
        "matchesProcessingTime/matchesEventTime)")
    graft.plans.AsOfJoinPlan.asofJoin(leftStream, rightStatic, keys, order,
      strict, rightSuffix, tolerance, direction,
      broadcast = graft.plans.AsOfBroadcast.Force)
  }
}
