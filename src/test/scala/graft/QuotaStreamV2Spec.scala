package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.QuotaStream
import graft.streaming.QuotaStream.{Admission, Doc}

/** The quota ledger beyond QuotaStreamSpec's streaming runs: its batch
  * Dataset face, and per-source ledgers kept apart through two
  * checkpointed restarts. Suite and test names date from when the
  * processor had a `flatMapGroupsWithState` twin (V1); the "V1 semantics"
  * check pins the rows that twin produced on a batch.
  */
class QuotaStreamV2Spec extends SparkSpec {

  test("V2 quota matches V1 semantics on the same batch") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("quotaV2").toString + "/docs"
    (Seq(5L, 1L, 4L, 2L, 3L).map(Doc(_, "hot")) ++
      Seq(Doc(10L, "cold"), Doc(11L, "cold")))
      .toDS().coalesce(1).write.parquet(dir)
    val got = withRocksDb {
      QuotaStream.admissions(spark, spark.read.parquet(dir).as[Doc],
        maxDocs = 3L).collect().toSet
    }
    assert(got == Set(
      Admission(1L, "hot", admitted = true, 1L),
      Admission(2L, "hot", admitted = true, 2L),
      Admission(3L, "hot", admitted = true, 3L),
      Admission(4L, "hot", admitted = false, 3L),
      Admission(5L, "hot", admitted = false, 3L),
      Admission(10L, "cold", admitted = true, 1L),
      Admission(11L, "cold", admitted = true, 2L)), got.toString)
  }

  test("V2 quota ledger survives a checkpointed RESTART: cap spans runs") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("quotaV2Cp").toString
    val dir = s"$base/docs"; val cp = s"$base/cp"; val out = s"$base/out"
    def run(): Unit = withRocksDb {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
        .parquet(dir).as[Doc]
      val q = QuotaStream.admissions(spark, stream, maxDocs = 3L)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
    }
    // run 1: "a" takes 2 of its 3 slots, "b" 1 of its 3
    Seq(Doc(1L, "a"), Doc(2L, "a"), Doc(10L, "b"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    // run 2: each source sees only ITS recovered count — "a" has one slot
    // left, "b" two
    Seq(Doc(3L, "a"), Doc(4L, "a"), Doc(11L, "b"), Doc(12L, "b"), Doc(13L, "b"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    // run 3: the saturated ledger stays saturated after a second restart
    Seq(Doc(5L, "a"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    val got = spark.read.parquet(out).as[Admission].collect().toSet
    assert(got == Set(
      Admission(1L, "a", admitted = true, 1L),
      Admission(2L, "a", admitted = true, 2L),
      Admission(10L, "b", admitted = true, 1L),
      Admission(3L, "a", admitted = true, 3L),
      Admission(4L, "a", admitted = false, 3L),
      Admission(11L, "b", admitted = true, 2L),
      Admission(12L, "b", admitted = true, 3L),
      Admission(13L, "b", admitted = false, 3L),
      Admission(5L, "a", admitted = false, 3L)),
      s"each source's cap spans all three runs, got $got")
  }
}
