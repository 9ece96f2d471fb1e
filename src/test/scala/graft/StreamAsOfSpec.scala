package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamAsOf
import graft.streaming.StreamAsOf.{AsOfMatch, Tick}

/** The streaming as-of join: one buffered right row per key in named
  * transformWithState state. Parity against the batch native operator,
  * checkpointed restart, late-data append semantics, and the tolerance
  * window.
  */
class StreamAsOfSpec extends SparkSpec {

  private def runAvailableNow(dir: String, toleranceUs: Long = -1L): Seq[AsOfMatch] =
    withRocksDb {
      val s = spark
      import s.implicits._
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
        .parquet(dir).as[Tick]
      val name = s"asof_stream_${System.nanoTime()}"
      val q = StreamAsOf.matches(spark, stream, toleranceUs).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      spark.table(name).as[AsOfMatch].collect().toSeq
    }

  test("streaming as-of matches the batch native operator on the events fixture") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), (col("event_type") === "click").as("is_right"))
      .as[Tick]
    val dir = Files.createTempDirectory("asofStream").toString + "/ticks"
    ev.coalesce(1).write.parquet(dir)
    val got = runAvailableNow(dir)
      .map(m => m.event_id -> (if (m.matched) m.right_ts_us else Long.MinValue))
      .toMap
    // batch reference: the native backward-strict as-of join (q76's shape)
    val evb = Tables.events(spark, sf0001)
    val purchases = evb.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = evb.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val expected = graft.plans.AsOfJoinPlan.asofJoin(purchases, clicks,
        keys = Seq("user_id" -> "user_id"),
        order = Seq("ts" -> "ts", "event_id" -> "event_id"), strict = true)
      .select(col("event_id"), unix_micros(col("ts_r")).as("click_us"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Long.MinValue else r.getLong(1))).toMap
    assert(got.nonEmpty && got == expected,
      "streaming as-of diverged from the batch operator on in-order replay")
  }

  test("buffered right row survives a checkpointed RESTART") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("asofStreamCp").toString
    val dir = s"$base/ticks"; val cp = s"$base/cp"; val out = s"$base/out"
    def run(): Unit = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
        .parquet(dir).as[Tick]
      val q = StreamAsOf.matches(spark, stream).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
    }
    // run 1: only a right row — nothing emits, but the buffer persists
    Seq(Tick(7L, 10L, 100L, is_right = true))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    // run 2 (fresh query, same checkpoint): a left row must match the
    // right buffered in run 1 — recovered state, not reprocessed input
    Seq(Tick(7L, 20L, 1L, is_right = false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    val got = spark.read.parquet(out).as[AsOfMatch].collect().toSeq
    assert(got.map(m => (m.event_id, m.matched, m.right_event_id)) ==
      Seq((1L, true, 100L)),
      s"left must match the right row recovered from the checkpoint, got $got")
  }

  test("late right rows upgrade the buffer but never revise emitted matches") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("asofStreamLate").toString
    val dir = s"$base/ticks"; val cp = s"$base/cp"; val out = s"$base/out"
    def run(): Unit = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
        .parquet(dir).as[Tick]
      val q = StreamAsOf.matches(spark, stream).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
    }
    // batch 1: right t=10, left t=20 → match (10, id 100)
    Seq(Tick(1L, 10L, 100L, is_right = true),
        Tick(1L, 20L, 1L, is_right = false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    // batch 2: a LATE right t=15 (newer than the buffer, older than the
    // emitted left) plus an even older right t=5 (ignored outright), then
    // a new left t=30 — it takes t=15; the t=20 left is NOT revised
    Seq(Tick(1L, 15L, 101L, is_right = true),
        Tick(1L, 5L, 99L, is_right = true),
        Tick(1L, 30L, 2L, is_right = false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    val got = spark.read.parquet(out).as[AsOfMatch].collect().toSeq
      .map(m => m.event_id -> m.right_event_id).toMap
    assert(got == Map(1L -> 100L, 2L -> 101L),
      s"late right must only affect subsequent lefts, got $got")
  }

  test("event-time as-of: an in-watermark late right matches the buffered left " +
    "exactly; sub-watermark arrivals drop") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("asofEt").toString
    val dir = s"$base/ticks"
    // batch 1: the LEFT (purchase, 3s) arrives first — event-time AFTER
    // the right that hasn't arrived yet
    Seq(Tick(1L, 3000000L, 1L, is_right = false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    // batch 2: the RIGHT (click, 2s) arrives one batch late but inside
    // the watermark (wm = 3s − 2s = 1s < 2s)
    Seq(Tick(1L, 2000000L, 100L, is_right = true))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    // batch 3: another key pushes the watermark to 98s → key 1's pending
    // ticks finalize via its timer
    Seq(Tick(999L, 100000000L, 500L, is_right = true))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(200)
    // batch 4: a sub-watermark left (1s ≤ 98s) — dropped outright
    Seq(Tick(1L, 1000000L, 2L, is_right = false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    val got = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
        .option("maxFilesPerTrigger", "1") // one file per micro-batch
        .parquet(dir).as[Tick]
      val name = s"asof_et_${System.nanoTime()}"
      val q = graft.streaming.StreamAsOf.matchesEventTime(spark, stream,
          watermarkDelay = "2 seconds").writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      spark.table(name).as[AsOfMatch].collect().toSeq
    }
    assert(got.exists(m => m.event_id == 1L && m.matched &&
      m.right_event_id == 100L),
      s"the late-but-in-watermark right must match the buffered left, got $got")
    assert(!got.exists(_.event_id == 2L),
      s"a sub-watermark arrival must drop, got $got")
    // the processing-time variant on the SAME per-batch arrival order
    // provably cannot: the left out-raced its right, so it emitted
    // unmatched on arrival — and the batch-4 left (1s) must not match
    // the 2s right from its event-time future either
    val pt = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir).as[Tick]
      val name = s"asof_pt_${System.nanoTime()}"
      val q = graft.streaming.StreamAsOf.matches(spark, stream).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      spark.table(name).as[AsOfMatch].collect().toSeq
    }
    assert(pt.exists(m => m.event_id == 1L && !m.matched),
      s"processing-time variant should have emitted the left unmatched, got $pt")
    assert(pt.exists(m => m.event_id == 2L && !m.matched),
      s"a right from the key's event-time future must never match, got $pt")
  }

  test("event-time FORWARD and NEAREST match the batch operator under " +
    "shuffled arrival, and waiters finalize by watermark deadline") {
    val s = spark
    import s.implicits._
    import graft.plans.{AsOfBroadcast, AsOfDirection, AsOfJoinPlan}
    // key 1 fixture (seconds): rights at 6/12/30, lefts at 10/13/40
    //   forward tol=5s: L1(10)→R(12); L2(13)→unmatched (next right 30s is
    //     17s ahead); L3(40)→unmatched (no right after — ONLY the
    //     watermark deadline can finalize it)
    //   nearest tol=5s: L1 b=6s(d4) f=12s(d2)→forward; L2 b=12s(d1)
    //     f=30s(d17,out)→backward; L3 b=30s(d10,out) f=none→unmatched
    val ticks = Seq(
      Tick(1L, 6000000L, 100L, is_right = true),
      Tick(1L, 12000000L, 101L, is_right = true),
      Tick(1L, 30000000L, 102L, is_right = true),
      Tick(1L, 10000000L, 1L, is_right = false),
      Tick(1L, 13000000L, 2L, is_right = false),
      Tick(1L, 40000000L, 3L, is_right = false))
    def batchExpected(dir: AsOfDirection): Map[Long, Long] =
      AsOfJoinPlan.asofJoin(
          ticks.filterNot(_.is_right).map(t => (t.user_id, t.ts_us, t.event_id))
            .toDF("k", "t", "id"),
          ticks.filter(_.is_right).map(t => (t.user_id, t.ts_us, t.event_id))
            .toDF("k", "t", "id"),
          keys = Seq("k" -> "k"), order = Seq("t" -> "t", "id" -> "id"),
          strict = true, tolerance = Some(5000000L), direction = dir,
          broadcast = AsOfBroadcast.Never)
        .select(col("id"), col("id_r"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    def streamed(dir: AsOfDirection, arrival: Seq[Tick]): Map[Long, Long] = {
      val dir0 = Files.createTempDirectory("asofEtDir").toString + "/ticks"
      // one file per tick, written in the given (shuffled) arrival order;
      // a 200s watermark delay keeps every shuffled arrival in-watermark
      // until the sentinel finalizes the world. TWO sentinels: the first
      // pushes the watermark past every deadline at its batch's END, the
      // second provides the subsequent batch in which key 1's timer
      // actually fires (timers are evaluated against the watermark at the
      // start of the NEXT micro-batch; AvailableNow would otherwise stop)
      (arrival ++ Seq(Tick(999L, 1000000000L, 500L, is_right = true),
        Tick(999L, 1001000000L, 501L, is_right = true)))
        .foreach { t =>
          Seq(t).toDS().coalesce(1).write.mode("append").parquet(dir0)
          Thread.sleep(150)
        }
      withRocksDb {
        val stream = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir0).as[Tick]
        val name = s"asof_et_dir_${System.nanoTime()}"
        val q = StreamAsOf.matchesEventTime(spark, stream,
            toleranceUs = 5000000L, watermarkDelay = "200 seconds",
            direction = dir).writeStream
          .format("memory").queryName(name)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(90000); q.stop()
        spark.table(name).as[AsOfMatch].collect()
          .filter(_.user_id == 1L)
          .map(m => m.event_id -> (if (m.matched) m.right_event_id else -1L))
          .toMap
      }
    }
    // an adversarial arrival order: lefts before the rights they match,
    // the far-future left first
    val shuffled = Seq(ticks(5), ticks(3), ticks(0), ticks(4), ticks(1), ticks(2))
    val fwdExpected = batchExpected(AsOfDirection.Forward)
    assert(fwdExpected == Map(1L -> 101L, 2L -> -1L, 3L -> -1L),
      s"fixture drifted: $fwdExpected")
    assert(streamed(AsOfDirection.Forward, shuffled) == fwdExpected,
      "event-time forward diverged from the batch operator")
    val nearExpected = batchExpected(AsOfDirection.Nearest)
    assert(nearExpected == Map(1L -> 101L, 2L -> 101L, 3L -> -1L),
      s"fixture drifted: $nearExpected")
    assert(streamed(AsOfDirection.Nearest, shuffled) == nearExpected,
      "event-time nearest diverged from the batch operator")
  }

  test("tolerance: a stale buffered right stops matching") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("asofStreamTol").toString + "/ticks"
    Seq(Tick(1L, 10L, 100L, is_right = true),
        Tick(1L, 14L, 1L, is_right = false),  // diff 4 <= 5 → match
        Tick(1L, 20L, 2L, is_right = false))  // diff 10 > 5 → aged out
      .toDS().coalesce(1).write.parquet(dir)
    val got = runAvailableNow(dir, toleranceUs = 5L)
      .map(m => m.event_id -> m.matched).toMap
    assert(got == Map(1L -> true, 2L -> false), s"tolerance window broken: $got")
    // the event-time variant enforces the same window at its (watermark-
    // delayed) emit; a watermark-driving key ripens key 1's ticks
    val dirEt = Files.createTempDirectory("asofEtTol").toString + "/ticks"
    Seq(Tick(1L, 10000000L, 100L, is_right = true),
        Tick(1L, 14000000L, 1L, is_right = false), // diff 4s <= 5s → match
        Tick(1L, 25000000L, 2L, is_right = false), // diff 15s > 5s → aged out
        Tick(999L, 100000000L, 500L, is_right = true))
      .toDS().coalesce(1).write.parquet(dirEt)
    val et = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Tick]].schema)
        .parquet(dirEt).as[Tick]
      val name = s"asof_et_tol_${System.nanoTime()}"
      val q = graft.streaming.StreamAsOf.matchesEventTime(spark, stream,
          toleranceUs = 5000000L, watermarkDelay = "2 seconds").writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      spark.table(name).as[AsOfMatch].collect().toSeq
    }
    val etGot = et.map(m => m.event_id -> m.matched).toMap
    assert(etGot == Map(1L -> true, 2L -> false),
      s"event-time tolerance window broken: $etGot")
  }
}
