package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.HeavyHitterStream
import graft.streaming.HeavyHitterStream.{HHOut, Obs}

/** The heavy-hitter processor beyond HeavyHitterStreamSpec's streaming
  * runs: its batch Dataset face, and BOTH named stores (sketch and
  * candidate list) recovered from a checkpoint. Suite and test names date
  * from when the processor had a `flatMapGroupsWithState` twin (V1); the
  * "V1 output" check pins the rows that twin produced on a batch.
  */
class HeavyHitterStreamV2Spec extends SparkSpec {

  test("V2 hitters match V1 output on the same batch") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("hhV2").toString + "/obs"
    val obs = Seq.fill(10)(Obs("click", 7L)) ++ Seq.fill(4)(Obs("click", 3L)) ++
      (100L to 104L).map(Obs("click", _)) ++ Seq(Obs("view", 9L))
    obs.toDF().coalesce(1).write.parquet(dir)
    val got = withRocksDb {
      HeavyHitterStream.hitters(spark, spark.read.parquet(dir).as[Obs], k = 3)
        .collect().toSet
    }
    // exact estimates at this cardinality; the five singles tie at 1 and
    // the lowest id takes rank 3
    assert(got == Set(
      HHOut("click", 7L, 10L, 1), HHOut("click", 3L, 4L, 2),
      HHOut("click", 100L, 1L, 3), HHOut("view", 9L, 1L, 1)), got.toString)
  }

  test("V2 named stores survive a checkpointed RESTART: counts accumulate") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("hhV2Cp").toString
    val dir = s"$base/obs"; val cp = s"$base/cp"; val out = s"$base/out"
    def run(): Unit = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Obs]].schema)
        .parquet(dir).as[Obs]
      val q = HeavyHitterStream.hitters(spark, stream, k = 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
    }
    // run 1: top-2 is 5 (3x) and 8 (2x); item 6 (1x) is counted in the
    // sketch but falls out of the candidate list
    (Seq.fill(3)(Obs("g", 5L)) ++ Seq.fill(2)(Obs("g", 8L)) ++ Seq(Obs("g", 6L)))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    run()
    // run 2 observes only item 6: its estimate of 5 needs the recovered
    // sketch, and item 5 keeping rank 2 needs the recovered candidates
    Seq.fill(4)(Obs("g", 6L))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    run()
    val got = spark.read.parquet(out).as[HHOut].collect().toSet
    assert(got == Set(
      HHOut("g", 5L, 3L, 1), HHOut("g", 8L, 2L, 2),
      HHOut("g", 6L, 5L, 1), HHOut("g", 5L, 3L, 2)),
      s"run 2 must rank from both recovered stores, got $got")
  }
}
