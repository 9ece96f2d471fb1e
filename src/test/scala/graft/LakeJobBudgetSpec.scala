package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.WeatherLakeV2Sink

/** The job budget of the classic lake verbs: a `SparkListener` counts
  * the Spark jobs one call starts (tagged by a job group, so nothing
  * else running in the JVM is counted), on fixed tables of a few hundred
  * rows. Every job is a scheduler round trip, so these counts are the
  * driver-side cost of a commit and repeat exactly.
  */
class LakeJobBudgetSpec extends SparkSpec {
  private val cities = Seq("a", "b", "c")
  private val hours = Seq("00", "01", "02", "03")

  /** Jobs started by `f` on this thread. */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "lake job budget")
    try {
      f
      ListenerBusDrain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** (city, hour, k, v) rows in the sink Schema: k is the merge key. */
  private def rows(rs: Seq[(String, String, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rs.toDF("city", "hour", "k", "v").select(col("city"),
      lit("2024-01-01").as("ds"), col("hour"),
      to_json(struct(col("k"), col("v"))).as("raw_json"))
  }

  /** 300 rows over 12 partitions (3 cities x 4 hours), k = 0..299. */
  private def base: Seq[(String, String, Long, Long)] =
    (0 until 300).map { k =>
      (cities(k % 3), hours(k / 3 % 4), k.toLong, k.toLong)
    }

  private def lake(): String = {
    val lake = Files.createTempDirectory("jobbudget").toString + "/lake"
    rows(base).write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    lake
  }

  private def key(f: DataFrame) = get_json_object(f("raw_json"), "$.k")

  private def state(lake: String): Map[Long, Long] =
    WeatherLakeV2Sink.readCommitted(spark, lake).select(
        get_json_object(col("value"), "$.k").cast("long"),
        get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // the CDC batch: delete k%50==5 (plus one key that never existed),
  // double v where k%20==0, insert ten fresh keys
  private val deletes = base.filter(_._3 % 50 == 5) :+ (("z", "00", -1L, -1L))
  private val updates = base.filter(r => r._3 % 20 == 0).map(r => r.copy(_4 = r._4 * 2))
  private val inserts = (1000L until 1010L).map(k => ("d", "00", k, k))
  private def batch: DataFrame =
    rows(deletes).withColumn("op", lit("d"))
      .unionByName(rows(updates ++ inserts).withColumn("op", lit("u")))
  private val merged: Map[Long, Long] =
    base.map(r => r._3 -> r._4).toMap -- deletes.map(_._3) ++
      updates.map(r => r._3 -> r._4) ++ inserts.map(r => r._3 -> r._4)

  private def mergeFn(lake: String) =
    WeatherLakeV2Sink.mergeCommitted(spark, lake, batch, key,
      deleteMatched = Some(f => f("op") === "d"))

  test("append runs one job") {
    val l = lake()
    assert(jobsOf(rows(inserts).write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(l)) == 1)
    assert(state(l).size == 310)
  }

  test("classic MERGE (function) runs three jobs: the batch, the " +
      "touched files, the write") {
    val l = lake()
    assert(jobsOf(mergeFn(l)) == 3)
    assert(state(l) == merged)
  }

  test("classic MERGE INTO (SQL) runs three jobs") {
    val l = lake()
    batch.createOrReplaceTempView("budget_src")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW budget_lake
      USING graft.sources.WeatherLakeV2StreamSource OPTIONS (path '$l')""")
    val jobs = jobsOf(spark.sql("""MERGE INTO budget_lake t USING budget_src s
      ON get_json_object(t.value, '$.k') = get_json_object(s.raw_json, '$.k')
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET value = s.raw_json
      WHEN NOT MATCHED AND s.op != 'd' THEN
        INSERT (city, ds, hour, value) VALUES (s.city, s.ds, s.hour, s.raw_json)"""))
    assert(jobs == 3)
    assert(state(l) == merged)
  }

  test("a batch over the broadcast threshold merges distributed, to the " +
      "same table") {
    val l = lake()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try mergeFn(l)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(state(l) == merged)
  }

  test("classic DELETE runs four jobs") {
    val l = lake()
    assert(jobsOf(WeatherLakeV2Sink.deleteCommitted(spark, l,
      f => key(f).cast("long") % 50 === 5)) == 4)
    assert(state(l) == base.map(r => r._3 -> r._4).toMap --
      base.filter(_._3 % 50 == 5).map(_._3))
  }

  test("classic UPDATE runs four jobs") {
    val l = lake()
    assert(jobsOf(WeatherLakeV2Sink.updateCommitted(spark, l,
      f => key(f).cast("long") % 20 === 0,
      f => to_json(struct(key(f).cast("long").as("k"),
        (get_json_object(f("raw_json"), "$.v").cast("long") * 2).as("v"))))) == 4)
    assert(state(l) == base.map(r => r._3 -> r._4).toMap ++
      updates.map(r => r._3 -> r._4))
  }
}
