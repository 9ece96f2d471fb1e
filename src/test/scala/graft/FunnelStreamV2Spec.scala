package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.FunnelStream
import graft.streaming.FunnelStream.{Event, FunnelOut}

/** The processing-time funnel beyond FunnelStreamSpec's single streaming
  * run: its batch Dataset face, per-key timer isolation, and each named
  * store recovered through two checkpointed restarts. Suite and test names
  * date from when the processor had a `flatMapGroupsWithState` twin (V1);
  * the "V1 semantics" check pins the rows that twin produced on a batch.
  */
class FunnelStreamV2Spec extends SparkSpec {

  test("V2 funnel matches V1 semantics on the same batch") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("funnelV2").toString + "/ev"
    Seq(
      Event(1L, 100L, 1L, "view"),
      Event(1L, 50L, 2L, "click"),   // before first view → not stage 2
      Event(1L, 200L, 3L, "view"),   // duplicate stage → ignored
      Event(1L, 300L, 4L, "click"),
      Event(1L, 400L, 5L, "purchase"),
      Event(2L, 100L, 6L, "click"),  // no view → never enters
      Event(2L, 200L, 7L, "purchase"),
      Event(3L, 100L, 8L, "view"))   // open at end of batch → no timer row
      .toDS().coalesce(1).write.parquet(dir)
    // the batch face: no timer fires, so an open funnel emits only its
    // advances — the rows the V1 operator gave on this batch
    val got = withRocksDb {
      FunnelStream.funnel(spark, spark.read.parquet(dir).as[Event],
        timeoutMs = 1000L).collect().toSet
    }
    assert(got == Set(
      FunnelOut(1L, 1, 100L, -1L, -1L, completed = false, closed = false),
      FunnelOut(1L, 2, 100L, 300L, -1L, completed = false, closed = false),
      FunnelOut(1L, 3, 100L, 300L, 400L, completed = true, closed = true),
      FunnelOut(3L, 1, 100L, -1L, -1L, completed = false, closed = false)),
      got.toString)
  }

  test("V2 abandoned funnels expire via the per-key timer with completed=false") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("funnelV2To").toString + "/ev"
    // user 3 abandons after the click; user 4 converts in the same batch,
    // which must clear ITS timer without touching user 3's
    Seq(Event(3L, 100L, 1L, "view"), Event(3L, 200L, 2L, "click"),
      Event(4L, 100L, 3L, "view"), Event(4L, 200L, 4L, "click"),
      Event(4L, 300L, 5L, "purchase"))
      .toDS().coalesce(1).write.parquet(dir)
    val got = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(dir).as[Event]
      val name = s"funnel_v2_${System.nanoTime()}"
      val q = FunnelStream.funnel(spark, stream, timeoutMs = 1000L).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      // 2 + 3 advances and user 3's expiry row; both users' timers were
      // registered by the same batch, so a stray expiry for user 4 would
      // land in the same commit as user 3's
      drainThenStop(q, expectInput = 5L, expectRows = 6L,
        () => spark.table(name).count())
      spark.table(name).as[FunnelOut].collect().toSeq
    }
    assert(got.filter(o => o.closed && !o.completed) ==
      Seq(FunnelOut(3L, 2, 100L, 200L, -1L, completed = false, closed = true)),
      s"exactly one expiry row, for the abandoned user: $got")
    assert(got.filter(_.user_id == 4L).map(_.stage).sorted == Seq(1, 2, 3))
  }

  test("V2 funnel state survives a checkpointed RESTART: stages chain across runs") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("funnelV2Cp").toString
    val dir = s"$base/ev"; val cp = s"$base/cp"; val out = s"$base/out"
    def outRows(): Long =
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    def runCp(expectInput: Long, expectRows: Long): Unit = withRocksDb {
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
    // one stage per run, so each named store is read back after a restart
    Seq(Event(8L, 100L, 1L, "view"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(expectInput = 1L, expectRows = 1L)
    // run 2: the click advances only if "view" came back from the checkpoint
    Seq(Event(8L, 200L, 2L, "click"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(expectInput = 1L, expectRows = 2L)
    // run 3: the purchase completes only if "click" came back too
    Seq(Event(8L, 300L, 3L, "purchase"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    runCp(expectInput = 1L, expectRows = 3L)
    val got = spark.read.parquet(out).as[FunnelOut].collect().toSet
    assert(got == Set(
      FunnelOut(8L, 1, 100L, -1L, -1L, completed = false, closed = false),
      FunnelOut(8L, 2, 100L, 200L, -1L, completed = false, closed = false),
      FunnelOut(8L, 3, 100L, 200L, 300L, completed = true, closed = true)),
      s"stages must chain across both restarts, got $got")
  }
}
