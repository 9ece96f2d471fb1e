package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Stateful streaming conversion funnel — the streaming twin of the batch
  * q52 funnel (view → click → purchase, strictly ordered first-touch).
  *
  * State per user is O(1): the first-touch timestamp of each completed
  * stage. An event advances the funnel only when its stage is the next one
  * AND its timestamp is strictly after the prior stage's — the same gating
  * the batch query expresses with stage-gated MIN aggregations. Each
  * advance emits a progress row; completing the last stage removes the
  * state (a finished user costs nothing), and an idle-timeout expires
  * abandoned funnels with a final `completed=false` row, so state size is
  * bounded by live, unconverted users — the property that keeps the
  * operator viable on an unbounded event stream.
  *
  * Semantics note vs the batch funnel: within a micro-batch events sort by
  * (ts, event_id), but an event arriving in a LATER batch with an EARLIER
  * timestamp cannot retroactively re-open a stage (streams trade exact
  * retro-updates for bounded state; run the batch query for the exact
  * backfill answer, or [[funnelEventTime]] for in-watermark lateness).
  */
// Serializable: funnelEventTime's updater closes over the module's private
// fold, so the stateless module itself ships with the task
object FunnelStream extends Serializable {

  final case class Event(
      user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class FunnelState(
      viewUs: Long, clickUs: Long, purchaseUs: Long)
  /** `completed` = reached the last stage; `closed` = this is the user's
    * FINAL row (state removed — conversion or idle expiry), so downstream
    * can tell "progress so far" from "funnel over".
    */
  final case class FunnelOut(
      user_id: Long, stage: Int,
      view_us: Long, click_us: Long, purchase_us: Long,
      completed: Boolean, closed: Boolean)

  val Stages: Seq[String] = Seq("view", "click", "purchase")

  private val Unset = -1L

  private def advance(st: FunnelState, e: Event): Option[FunnelState] =
    e.event_type match {
      case "view" if st.viewUs == Unset =>
        Some(st.copy(viewUs = e.ts_us))
      case "click" if st.viewUs != Unset && st.clickUs == Unset &&
          e.ts_us > st.viewUs =>
        Some(st.copy(clickUs = e.ts_us))
      case "purchase" if st.clickUs != Unset && st.purchaseUs == Unset &&
          e.ts_us > st.clickUs =>
        Some(st.copy(purchaseUs = e.ts_us))
      case _ => None
    }

  private def stageOf(st: FunnelState): Int =
    (if (st.viewUs != Unset) 1 else 0) +
      (if (st.clickUs != Unset) 1 else 0) +
      (if (st.purchaseUs != Unset) 1 else 0)

  private def toOut(userId: Long, st: FunnelState, closed: Boolean): FunnelOut =
    FunnelOut(userId, stageOf(st), st.viewUs, st.clickUs, st.purchaseUs,
      completed = st.purchaseUs != Unset, closed = closed)

  /** Fold events into funnel state in (ts_us, event_id) order; emit one row
    * per stage ADVANCE (not per event), the completing row marked closed.
    */
  private def fold(userId: Long, from: FunnelState,
      events: Seq[Event]): (FunnelState, Vector[FunnelOut]) = {
    var st = from
    var out = Vector.empty[FunnelOut]
    for (e <- events.sortBy(e => (e.ts_us, e.event_id)))
      advance(st, e).foreach { next =>
        st = next
        out :+= toOut(userId, st, closed = st.purchaseUs != Unset)
      }
    (st, out)
  }

  /** Processing-time funnel on `transformWithState`. Each stage's
    * first-touch timestamp lives in its OWN named value store ("view",
    * "click", "purchase"), so adding a fourth funnel stage later is one new
    * named state, not a checkpoint-breaking rewrite of a packed blob. The
    * idle expiry is an explicit per-key timer, re-armed on every batch that
    * advances the key, whose firing emits the final `completed=false` row.
    */
  class FunnelProcessor(timeoutMs: Long)
      extends StatefulProcessor[Long, Event, FunnelOut] {
    @transient private var view: ValueState[Long] = _
    @transient private var click: ValueState[Long] = _
    @transient private var purchase: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      view = getHandle.getValueState[Long]("view", Encoders.scalaLong, TTLConfig.NONE)
      click = getHandle.getValueState[Long]("click", Encoders.scalaLong, TTLConfig.NONE)
      purchase = getHandle.getValueState[Long]("purchase", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def read(s: ValueState[Long]): Long =
      if (s.exists()) s.get() else Unset

    private def stateNow: FunnelState =
      FunnelState(read(view), read(click), read(purchase))

    private def clearAll(): Unit = {
      view.clear(); click.clear(); purchase.clear()
      getHandle.listTimers().foreach(getHandle.deleteTimer)
    }

    override def handleInputRows(userId: Long, events: Iterator[Event],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      val (st, out) = fold(userId, stateNow, events.toSeq)
      if (st.purchaseUs != Unset) clearAll() // done: free the key
      else if (stageOf(st) > 0) {
        if (st.viewUs != Unset) view.update(st.viewUs)
        if (st.clickUs != Unset) click.update(st.clickUs)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(
          timerValues.getCurrentProcessingTimeInMs() + timeoutMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelOut] = {
      val st = stateNow
      if (stageOf(st) == 0) return Iterator.empty
      clearAll()
      Iterator(toOut(userId, st, closed = true)) // abandoned
    }
  }

  /** Wire the processor over a (possibly streaming) typed event Dataset.
    * `timeoutMs` bounds how long an idle, unconverted funnel's state lives.
    * Requires [[RequiredStateStoreProvider]].
    */
  def funnel(spark: SparkSession, events: Dataset[Event],
      timeoutMs: Long = 60000L): Dataset[FunnelOut] = {
    import spark.implicits._
    startStateStoreCoordinator(spark)
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor(timeoutMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Event-time state: the funnel timestamps plus the BUFFER of events the
    * watermark has not yet passed — the piece that lets a late-but-in-
    * watermark event take effect in event-time order.
    */
  final case class EventTimeFunnelState(
      viewUs: Long, clickUs: Long, purchaseUs: Long, pending: Seq[Event])

  /** Event-time variant of [[funnel]] (EventTimeTimeout + watermark):
    * events BUFFER until the watermark passes their timestamp, then fold
    * in (ts, event_id) order — at that point no earlier in-watermark event
    * can still arrive, so the fold is FINAL. An in-watermark late event
    * therefore retroactively advances the funnel: the click that unblocks
    * an already-buffered purchase completes the funnel here, where the
    * processing-time variant (which rejected and forgot that purchase on
    * arrival) provably cannot. The honest cost: state per user is
    * O(events inside the watermark window), not O(1) — the same
    * buffered-lateness trade `dropDuplicatesWithinWatermark` makes. Events
    * at or below the watermark on arrival are dropped (the standard
    * allowed-lateness contract). Unconverted funnels expire `idleGapUs` of
    * EVENT time after their newest activity, emitting the final
    * `completed=false` row.
    */
  def funnelEventTime(
      spark: SparkSession,
      events: Dataset[Event],
      watermarkDelay: String = "10 seconds",
      idleGapUs: Long = 60000000L): Dataset[FunnelOut] = {
    import spark.implicits._

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[EventTimeFunnelState]): Iterator[FunnelOut] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      var st = state.getOption
        .getOrElse(EventTimeFunnelState(Unset, Unset, Unset, Nil))
      if (!state.hasTimedOut)
        st = st.copy(pending = st.pending ++ it.filter(_.ts_us > wmUs))
      // events the watermark has passed are finalizable NOW
      val (ripe, hold) = st.pending.partition(_.ts_us <= wmUs)
      val (fs, folded) =
        fold(userId, FunnelState(st.viewUs, st.clickUs, st.purchaseUs), ripe)
      var out = folded
      val latestUs = Seq(fs.viewUs, fs.clickUs, fs.purchaseUs).max max
        (if (hold.nonEmpty) hold.map(_.ts_us).max else Unset)
      if (fs.purchaseUs != Unset) {
        if (state.exists) state.remove()
      } else if (hold.isEmpty && stageOf(fs) == 0) {
        if (state.exists) state.remove() // nothing to hold or expire
      } else if (hold.isEmpty && wmUs >= latestUs + idleGapUs) {
        state.remove() // abandoned: idle horizon passed in event time
        out :+= toOut(userId, fs, closed = true)
      } else {
        state.update(EventTimeFunnelState(fs.viewUs, fs.clickUs,
          fs.purchaseUs, hold))
        // wake when the watermark passes the next pending event, else at
        // the idle-expiry horizon; timestamps must sit above the watermark
        val wakeUs =
          if (hold.nonEmpty) hold.map(_.ts_us).min else latestUs + idleGapUs
        state.setTimeoutTimestamp(
          math.max(wakeUs / 1000L, state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }

    events
      .withColumn("__ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("__ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update _)
  }
}
