package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.FunnelStream
import graft.streaming.FunnelStream.{Event, FunnelOut}

class FunnelStreamSpec extends SparkSpec {

  /** Processing-time funnel over `dir`, drained until `expectInput` events
    * have committed and the sink holds `expectRows` rows (timer expiries
    * included). `filesPerTrigger` = 1 makes each file its own micro-batch.
    */
  private def run(dir: String, expectInput: Long, expectRows: Long,
      timeoutMs: Long = 1000L, filesPerTrigger: Int = Int.MaxValue): Seq[FunnelOut] =
    withRocksDb {
      val s = spark
      import s.implicits._
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(dir).as[Event]
      val name = s"funnel_out_${System.nanoTime()}"
      val q = FunnelStream.funnel(spark, stream, timeoutMs).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      drainThenStop(q, expectInput, expectRows,
        () => spark.table(name).count())
      spark.table(name).as[FunnelOut].collect().toSeq
    }

  test("funnel advances strictly ordered stages, one emission per advance") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("funnel").toString + "/ev"
    Seq(
      // user 1 converts fully; the out-of-order click BEFORE the view and
      // the duplicate second view must both be ignored
      Event(1L, 100L, 1L, "view"),
      Event(1L, 50L, 2L, "click"),   // before first view → not stage 2
      Event(1L, 200L, 3L, "view"),   // duplicate stage → ignored
      Event(1L, 300L, 4L, "click"),
      Event(1L, 400L, 5L, "purchase"),
      // user 2 clicks without ever viewing → never enters the funnel
      Event(2L, 100L, 6L, "click"),
      Event(2L, 200L, 7L, "purchase")
    ).toDS().coalesce(1).write.parquet(dir)
    val got = run(dir, expectInput = 7L, expectRows = 3L)
    assert(got.filter(_.user_id == 2L).isEmpty,
      "stage order is strict: no view → no funnel entry")
    val u1 = got.filter(_.user_id == 1L).sortBy(_.stage)
    assert(u1.map(_.stage) == Seq(1, 2, 3), s"one emission per advance: $u1")
    assert(u1.last ==
      FunnelOut(1L, 3, 100L, 300L, 400L, completed = true, closed = true))
  }

  test("abandoned funnels expire via timeout with completed=false") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("funnelTo").toString + "/ev"
    Seq(Event(3L, 100L, 1L, "view"), Event(3L, 200L, 2L, "click"))
      .toDS().coalesce(1).write.parquet(dir)
    val got = run(dir, expectInput = 2L, expectRows = 3L) // 2 advances + the timer expiry row
    assert(got.exists(o => o.stage == 2 && o.closed && !o.completed &&
      o.purchase_us == -1L), s"expected an expiry row, got $got")
  }

  test("funnel state survives a checkpointed RESTART: stages chain across runs") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("funnelCp").toString
    val dir = s"$base/ev"; val cp = s"$base/cp"; val out = s"$base/out"
    def outRows(): Long =
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    def runCp(expectInput: Long, expectRows: Long): Unit = withRocksDb {
      // parquet sink: memory sink can't recover from a checkpoint, and
      // checkpoint recovery is exactly what this spec exercises
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(dir).as[Event]
      val q = FunnelStream.funnel(spark, stream, timeoutMs = 3600000L)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      drainThenStop(q, expectInput, expectRows, outRows _)
    }
    // run 1: the user only views
    Seq(Event(7L, 100L, 1L, "view"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(expectInput = 1L, expectRows = 1L)
    // run 2 (fresh query, same checkpoint): click+purchase must gate on
    // the view recovered FROM the named "view" store, not reprocessed input
    Seq(Event(7L, 200L, 2L, "click"), Event(7L, 300L, 3L, "purchase"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(expectInput = 2L, expectRows = 3L)
    val got = spark.read.parquet(out).as[FunnelOut].collect().toSeq
      .filter(_.user_id == 7L)
    assert(got.map(_.stage).sorted == Seq(1, 2, 3),
      s"stages must chain across the restart, got $got")
    assert(got.exists(o => o.stage == 3 && o.completed && o.view_us == 100L),
      "the completed row must carry the pre-restart view timestamp from state")
  }

  private def runEventTime(dir: String, idleGapUs: Long): Seq[FunnelOut] = {
    val s = spark
    import s.implicits._
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch, so the
      .parquet(dir).as[Event]            // watermark advances between files
    val name = s"funnel_et_${System.nanoTime()}"
    val q = FunnelStream.funnelEventTime(spark, stream,
        watermarkDelay = "2 seconds", idleGapUs = idleGapUs).writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    spark.table(name).as[FunnelOut].collect().toSeq
  }

  test("event-time funnel: an in-watermark late click unblocks the buffered purchase") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("funnelEt").toString
    val dir = s"$base/ev"
    // batch 1: view + purchase — the purchase is PREMATURE (no click yet)
    Seq(Event(1L, 1000000L, 1L, "view"), Event(1L, 3000000L, 2L, "purchase"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    // batch 2: the click arrives LATE (one batch behind) but inside the
    // watermark (wm = 3s − 2s = 1s < 2s)
    Seq(Event(1L, 2000000L, 3L, "click"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    // batches 3-4: another user's events push the watermark past 3s so
    // user 1's buffer finalizes
    Seq(Event(999L, 10000000L, 4L, "view"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    Seq(Event(999L, 11000000L, 5L, "click"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    val et = runEventTime(dir, idleGapUs = 3600000000L)
    val u1 = et.filter(_.user_id == 1L).sortBy(_.stage)
    assert(u1.map(_.stage) == Seq(1, 2, 3),
      s"late click must retroactively chain the funnel, got $u1")
    assert(u1.last ==
      FunnelOut(1L, 3, 1000000L, 2000000L, 3000000L,
        completed = true, closed = true))
    // the processing-time variant on the SAME batches provably cannot: it
    // rejected the premature purchase on arrival and forgot it (user 1
    // reaches view and click, user 999 view and click: 4 rows)
    val pt = run(dir, expectInput = 5L, expectRows = 4L,
      timeoutMs = 3600000L, filesPerTrigger = 1).filter(_.user_id == 1L)
    assert(pt.map(_.stage).max == 2 && !pt.exists(_.completed),
      s"processing-time variant should stall at stage 2, got $pt")
  }

  test("event-time funnel: idle funnels expire on EVENT time with completed=false") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("funnelEtIdle").toString + "/ev"
    Seq(Event(5L, 1000000L, 1L, "view"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    // watermark jumps to 98s — far past view(1s) + idle gap (5s)
    Seq(Event(999L, 100000000L, 2L, "view"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    Seq(Event(999L, 101000000L, 3L, "click"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    val got = runEventTime(dir, idleGapUs = 5000000L)
    assert(got.exists(o => o.user_id == 5L && o.stage == 1 && o.closed &&
      !o.completed && o.purchase_us == -1L),
      s"expected an event-time expiry row for user 5, got $got")
  }

  test("state survives across micro-batches: stages split over batches still chain") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("funnelMb").toString + "/ev"
    // two files → two micro-batches with maxFilesPerTrigger=1
    Seq(Event(4L, 100L, 1L, "view"))
      .toDS().coalesce(1).write.parquet(dir)
    Thread.sleep(200) // file source orders batches by modTime
    Seq(Event(4L, 200L, 2L, "click"), Event(4L, 300L, 3L, "purchase"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    val got = run(dir, expectInput = 3L, expectRows = 3L,
      timeoutMs = 3600000L, filesPerTrigger = 1).filter(_.user_id == 4L)
    assert(got.map(_.stage).sorted == Seq(1, 2, 3))
    assert(got.exists(o => o.stage == 3 && o.completed))
  }
}
