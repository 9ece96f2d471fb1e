package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Relational
import graft.streaming.SessionStream
import graft.streaming.SessionStream.{Event, SessionOut}

class SessionStreamSpec extends SparkSpec {

  /** Processing-time sessionizer over `dir`, drained until `expectInput`
    * events have committed and the sink holds `expectRows` sessions (timer
    * flushes included).
    */
  private def run(dir: String, gapUs: Long, timeoutMs: Long,
      expectInput: Long, expectRows: Long): Seq[SessionOut] =
    withRocksDb {
      val s = spark
      import s.implicits._
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(dir).as[Event]
      val name = s"sessions_out_${System.nanoTime()}"
      val q = SessionStream.sessionize(spark, stream, gapUs, timeoutMs)
        .writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      drainThenStop(q, expectInput, expectRows,
        () => spark.table(name).count())
      spark.table(name).as[SessionOut].collect().toSeq
    }

  test("stateful streaming sessionization closes sessions on gap") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("sess").toString + "/events"
    // user 1: two events 10s apart, then a 120s gap, then one more;
    // user 2: a single event
    val minuteUs = 60L * 1000000L
    Seq(
      Event(1L, 0L, 1L), Event(1L, 10L * 1000000L, 2L),
      Event(1L, 10L * 1000000L + 2L * minuteUs, 3L),
      Event(2L, 0L, 4L))
      .toDS().coalesce(1).write.parquet(dir)
    // short processing-time flush so the test observes it
    val emitted = run(dir, gapUs = minuteUs, timeoutMs = 1000L,
      expectInput = 4L, expectRows = 3L)
    // user 1's first session closes on the observed 120s gap; the
    // remaining live sessions close on the timer flush at end of input.
    // Sessions are keyed by (user_id, start_us) — stable across state loss.
    assert(emitted.map(e => (e.user_id, e.start_us, e.n_events, e.closed)).toSet ==
      Set((1L, 0L, 2L, true),
        (1L, 10L * 1000000L + 2L * minuteUs, 1L, true),
        (2L, 0L, 1L, true)), emitted.toString)
    val first = emitted.find(e => e.user_id == 1L && e.start_us == 0L).get
    assert(first.end_us == 10L * 1000000L)
  }

  test("event-time sessionization closes sessions when the watermark passes the gap") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("sessET").toString + "/events"
    val minuteUs = 60L * 1000000L
    // user 1 finishes early (two events 10s apart, one session); user 2's
    // activity an hour later drives the watermark far past user 1's
    // last-event+gap, closing 1's session
    val base = 1000L * minuteUs // keep clear of the epoch==initial-watermark edge
    Seq(
      Event(1L, base, 1L), Event(1L, base + 10L * 1000000L, 2L),
      Event(2L, base + 60L * minuteUs, 3L), Event(2L, base + 61L * minuteUs, 4L))
      .toDS().coalesce(1).write.parquet(dir) // ONE file → one data batch
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .parquet(dir).as[Event]
    val out = SessionStream.sessionizeDeclarative(spark, stream,
      gap = "1 minute", watermarkDelay = "1 second")
    val q = out.writeStream
      .format("memory").queryName("sessions_sw")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    val emitted = spark.table("sessions_sw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // user 1's session (2 events, [base, base+10s]) is closed and emitted;
    // user 2's window end (last + gap) is past the final watermark → open
    assert(emitted == Set((1L, 2L, base, base + 10L * 1000000L)), emitted.toString)
  }

  test("batch semantics agree with the window-based sessionizer") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("sessBatch").toString + "/events"
    val gapUs = 1800L * 1000000L
    // user 7: a gap-split pair of sessions; user 8: three events, the last
    // exactly ON the gap (still the same session in both sessionizers);
    // user 9: one event
    val events = Seq(
      Event(7L, 0L, 1L), Event(7L, 1000000L, 2L),
      Event(7L, 1000000L + 3600L * 1000000L, 3L),
      Event(8L, 5000000L, 4L), Event(8L, 6000000L, 5L),
      Event(8L, 6000000L + gapUs, 6L),
      Event(9L, 42L, 7L))
    events.toDS().coalesce(1).write.parquet(dir)
    // q17's batch sessionizer: (user, session) → count, start, end
    val batch = Relational.sessionize(
        spark.read.parquet(dir).withColumn("ts", timestamp_micros(col("ts_us"))),
        "user_id", "ts", gapSeconds = gapUs / 1000000L, tieBreak = Seq("event_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)), min(col("ts_us")), max(col("ts_us")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // the streaming sessionizer over the same events, every session
    // closed by the gap or the end-of-input timer flush
    val streamed = run(dir, gapUs, timeoutMs = 1000L,
        expectInput = events.size.toLong, expectRows = batch.size.toLong)
      .map(o => (o.user_id, o.n_events, o.start_us, o.end_us)).toSet
    assert(batch.size == 4, batch.toString)
    assert(streamed == batch)
  }
}
