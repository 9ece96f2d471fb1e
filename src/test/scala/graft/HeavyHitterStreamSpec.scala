package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.HeavyHitterStream
import graft.streaming.HeavyHitterStream.{HHOut, Obs}

class HeavyHitterStreamSpec extends SparkSpec {

  private def run(dir: String, k: Int): Seq[HHOut] = withRocksDb {
    val s = spark
    import s.implicits._
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Obs]].schema)
      .parquet(dir).as[Obs]
    val name = s"hh_out_${System.nanoTime()}"
    val q = HeavyHitterStream.hitters(spark, stream, k).writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    spark.table(name).as[HHOut].collect().toSeq
  }

  test("heaviest item ranks first with its exact-at-this-skew estimate") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("hh").toString + "/obs"
    // item 7 appears 10x, item 3 appears 4x, singles 100..104; k=3 keeps
    // the two hot items plus one single
    val obs = Seq.fill(10)(Obs("click", 7L)) ++ Seq.fill(4)(Obs("click", 3L)) ++
      (100L to 104L).map(Obs("click", _)) ++ Seq(Obs("view", 9L))
    obs.toDF().coalesce(1).write.parquet(dir)
    val got = run(dir, k = 3)
    val click = got.filter(_.group == "click").sortBy(_.rank)
    assert(click.map(_.item).take(2) == Seq(7L, 3L))
    // CMS overestimates only on collisions; at this cardinality the
    // estimates are exact
    assert(click.head.est_count === 10L)
    assert(click(1).est_count === 4L)
    assert(click.length === 3)
    val view = got.filter(_.group == "view")
    assert(view == Seq(HHOut("view", 9L, 1L, 1)))
  }

  test("sketch and candidates survive a checkpointed RESTART: counts accumulate") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("hhCp").toString
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
    // run 1: item 5 leads with 3 observations
    (Seq.fill(3)(Obs("g", 5L)) ++ Seq(Obs("g", 6L)))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    run()
    // run 2: item 6 gets 4 more — its TOTAL (5) must beat item 5's 3,
    // which only works if the sketch recovered run 1's counts from state
    Seq.fill(4)(Obs("g", 6L))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    run()
    val ranks = spark.read.parquet(out).as[HHOut].collect().toSeq
      .filter(_.group == "g")
    val lastTop = ranks.filter(o => o.rank == 1 && o.est_count == 5L)
    assert(lastTop.map(_.item) == Seq(6L),
      s"item 6 must lead with the CROSS-RUN total of 5, got $ranks")
  }
}
