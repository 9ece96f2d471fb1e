package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.SessionStream
import graft.streaming.SessionStream.{Event, SessionOut}

/** The processing-time sessionizer beyond SessionStreamSpec's streaming
  * runs: its batch Dataset face and an open session recovered from a
  * checkpoint. Suite and test names date from when the processor had a
  * `flatMapGroupsWithState` twin (V1); the "V1 semantics" check pins the
  * rows that twin produced on a batch.
  */
class SessionStreamV2Spec extends SparkSpec {

  test("V2 sessionization matches V1 semantics on the same batch") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("sessV2").toString + "/events"
    val minuteUs = 60L * 1000000L
    Seq(
      Event(1L, 0L, 1L), Event(1L, 10L * 1000000L, 2L),
      Event(1L, 10L * 1000000L + 2L * minuteUs, 3L),
      Event(2L, 0L, 4L))
      .toDS().coalesce(1).write.parquet(dir)
    // the batch face: no idle flush fires, so only the session the 120s
    // gap closed is emitted — the row the V1 operator gave on this batch
    val got = withRocksDb {
      SessionStream.sessionize(spark, spark.read.parquet(dir).as[Event],
        gapUs = minuteUs, timeoutMs = 1000L).collect().toSeq
    }
    assert(got == Seq(SessionOut(1L, 2L, 0L, 10L * 1000000L, closed = true)),
      got.toString)
  }

  test("V2 open session survives a checkpointed RESTART and keeps counting") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("sessV2Cp").toString
    val dir = s"$base/events"; val cp = s"$base/cp"; val out = s"$base/out"
    val minuteUs = 60L * 1000000L
    def outRows(): Long =
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    def runCp(timeoutMs: Long, expectInput: Long, expectRows: Long): Unit = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(dir).as[Event]
      val q = SessionStream.sessionize(spark, stream, gapUs = minuteUs,
          timeoutMs = timeoutMs)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      drainThenStop(q, expectInput, expectRows, outRows _)
    }
    // run 1: two events, session stays open (long timeout)
    Seq(Event(5L, 0L, 1L), Event(5L, 1000000L, 2L))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(timeoutMs = 3600000L, expectInput = 2L, expectRows = 0L)
    // run 2 (fresh query, same checkpoint): one more in-gap event, then a
    // short timer so the flush emits — the session must count all THREE
    // events and keep the run-1 start, i.e. state came from the checkpoint
    Seq(Event(5L, 2000000L, 3L))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(timeoutMs = 500L, expectInput = 1L, expectRows = 1L)
    val got = spark.read.parquet(out).as[SessionOut].collect().toSeq
    assert(got.map(e => (e.user_id, e.start_us, e.n_events, e.closed)) ==
      Seq((5L, 0L, 3L, true)),
      s"session must chain across the restart from recovered state, got $got")
  }
}
