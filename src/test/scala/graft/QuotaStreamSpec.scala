package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.QuotaStream
import graft.streaming.QuotaStream.{Admission, Doc}

class QuotaStreamSpec extends SparkSpec {

  private def run(dir: String, maxDocs: Long): Seq[Admission] = withRocksDb {
    val s = spark
    import s.implicits._
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .parquet(dir).as[Doc]
    val name = s"quota_out_${System.nanoTime()}"
    val q = QuotaStream.admissions(spark, stream, maxDocs).writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    spark.table(name).as[Admission].collect().toSeq
  }

  test("quota admits per source up to the cap, deterministically by doc_id") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("quota").toString + "/docs"
    // hot: 5 docs vs cap 3 (written out of id order — admission must sort);
    // cold: 2 docs, all admitted
    (Seq(5L, 1L, 4L, 2L, 3L).map(Doc(_, "hot")) ++
      Seq(Doc(10L, "cold"), Doc(11L, "cold")))
      .toDS().coalesce(1).write.parquet(dir)
    val got = run(dir, maxDocs = 3L)
    val hot = got.filter(_.source == "hot")
    assert(hot.filter(_.admitted).map(_.doc_id).sorted == Seq(1L, 2L, 3L),
      s"cap admits the LOWEST ids of the batch, got $hot")
    assert(hot.filter(!_.admitted).map(_.doc_id).sorted == Seq(4L, 5L))
    assert(got.filter(_.source == "cold").forall(_.admitted))
    assert(hot.filter(_.admitted).map(_.admitted_so_far).sorted == Seq(1L, 2L, 3L))
    assert(hot.filter(!_.admitted).forall(_.admitted_so_far == 3L),
      "rejected rows report the saturated quota")
  }

  test("quota ledger survives a checkpointed RESTART: cap spans runs") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("quotaCp").toString
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
    // run 1 admits 2 of the cap of 3
    Seq(Doc(1L, "src"), Doc(2L, "src"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    // run 2 (fresh query, same checkpoint): only ONE slot remains — the
    // ledger must come from recovered state, not reprocessed input
    Seq(Doc(3L, "src"), Doc(4L, "src"))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    run()
    val got = spark.read.parquet(out).as[Admission].collect().toSeq
      .filter(_.source == "src")
    assert(got.filter(_.admitted).map(_.doc_id).sorted == Seq(1L, 2L, 3L),
      s"exactly the cap admits across both runs, got $got")
    assert(got.filter(!_.admitted).map(_.doc_id) == Seq(4L))
  }
}
