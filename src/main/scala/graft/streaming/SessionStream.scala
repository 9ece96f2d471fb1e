package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, max, min, session_window, unix_micros}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Stateful streaming sessionization — the streaming twin of the batch
  * window-based sessionizer (`ops.Relational.sessionize` / q17).
  *
  * State per key is O(1) (session start, last-seen timestamp, event
  * count), emitted sessions are closed on gap expiry via a processing-time
  * timer, so state size is bounded by live keys — the property that keeps
  * stateful streaming viable at 100 TB/day ingest.
  */
object SessionStream extends Serializable {

  final case class Event(user_id: Long, ts_us: Long, event_id: Long)
  /** Sessions are identified by (user_id, start_us) — a counter would
    * restart after state removal on timeout and collide with previously
    * emitted keys; the start timestamp cannot.
    */
  final case class SessionOut(
      user_id: Long, n_events: Long,
      start_us: Long, end_us: Long, closed: Boolean)

  /** Per-user sessionizer on `transformWithState`. The open session's
    * fields live in independently named stores ("start", "last", "n"), so
    * adding a counter later is a new named state, not a checkpoint-breaking
    * schema change. Per-batch events fold in (ts_us, event_id) order; a gap
    * larger than `gapUs` closes the running session and opens a new one.
    * The idle flush is an explicit per-key timer (re-armed on every batch
    * that touches the key) whose expiry emits the final closed row.
    */
  class SessionProcessor(gapUs: Long, timeoutMs: Long)
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var start: ValueState[Long] = _
    @transient private var last: ValueState[Long] = _
    @transient private var n: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      start = getHandle.getValueState[Long]("start", Encoders.scalaLong, TTLConfig.NONE)
      last = getHandle.getValueState[Long]("last", Encoders.scalaLong, TTLConfig.NONE)
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def clearAll(): Unit = { start.clear(); last.clear(); n.clear() }

    override def handleInputRows(userId: Long, events: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var out = Vector.empty[SessionOut]
      // resume the open session from the named stores
      var cur: Option[(Long, Long, Long)] =
        if (start.exists()) Some((start.get(), last.get(), n.get())) else None
      for (e <- sorted) {
        cur match {
          case Some((st, lt, cnt)) if e.ts_us - lt > gapUs =>
            out :+= SessionOut(userId, cnt, st, lt, closed = true)
            cur = Some((e.ts_us, e.ts_us, 1L))
          case Some((st, _, cnt)) =>
            cur = Some((st, e.ts_us, cnt + 1L))
          case None =>
            cur = Some((e.ts_us, e.ts_us, 1L))
        }
      }
      cur.foreach { case (st, lt, cnt) =>
        start.update(st); last.update(lt); n.update(cnt)
        // re-arm the idle flush: one live timer per key
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(
          timerValues.getCurrentProcessingTimeInMs() + timeoutMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!start.exists()) return Iterator.empty
      val outRow = SessionOut(userId, n.get(), start.get(), last.get(),
        closed = true)
      clearAll()
      Iterator(outRow)
    }
  }

  /** Wire the processor over a (possibly streaming) typed event Dataset.
    * `timeoutMs` bounds how long an idle session's state lives before the
    * session is force-closed (defaults to the gap, in processing time).
    * Requires [[RequiredStateStoreProvider]].
    */
  def sessionize(spark: SparkSession, events: Dataset[Event], gapUs: Long,
      timeoutMs: Long = -1L): Dataset[SessionOut] = {
    import spark.implicits._
    val t = if (timeoutMs > 0) timeoutMs else math.max(1L, gapUs / 1000L)
    startStateStoreCoordinator(spark)
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionProcessor(gapUs, t),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Event-time sessionization on Spark's built-in `session_window`
    * grouping: sessions close when the WATERMARK passes `last event + gap`
    * — the semantically exact closure (processing-time timers only
    * approximate it under lag). The engine owns session merge, state-store
    * layout, and watermark-driven closure — no hand-written state machine
    * to get wrong, and the streaming aggregation exchanges only on
    * (user_id, window), exactly like a batch groupBy would. Prefer this
    * whenever the requirement is "one row per closed session with
    * aggregates"; the custom [[sessionize]] processor exists for what this
    * cannot express — custom session identity, processing-time flushes
    * (see also [[FunnelStream]]). Output mirrors [[SessionOut]] minus
    * `closed` (append mode only ever emits closed sessions).
    */
  def sessionizeDeclarative(
      spark: SparkSession,
      events: Dataset[Event],
      gap: String = "1 minute",
      watermarkDelay: String = "10 seconds"): DataFrame = {
    events
      .withColumn("__ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("__ts"), gap).as("__sw"))
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("__ts"))).as("start_us"),
        unix_micros(max(col("__ts"))).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
  }
}
