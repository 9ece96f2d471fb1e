package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.OpenMeteoV2Source
import graft.weather.{Weather, WeatherJobs}

class WeatherJobsSpec extends SparkSpec {

  test("Open-Meteo forecast and archive URLs are reference-shaped") {
    val url = OpenMeteoV2Source.forecastUrl(52.23, 21.01,
      "2025-10-31T10:00", "2025-10-31T12:00")
    assert(url.startsWith("https://api.open-meteo.com/v1/forecast?"))
    assert(url.contains("latitude=52.23&longitude=21.01"))
    assert(url.contains("hourly=temperature_2m,precipitation,wind_speed_10m"))
    assert(url.contains("timezone=Europe/Berlin"))
    assert(url.contains("start_hour=2025-10-31T10:00&end_hour=2025-10-31T12:00"))
    val archive = OpenMeteoV2Source.archiveUrl(52.23, 21.01,
      "2025-10-01", "2025-10-31")
    assert(archive.startsWith("https://archive-api.open-meteo.com/v1/archive?"))
    assert(archive.contains("latitude=52.23&longitude=21.01"))
    assert(archive.contains("hourly=temperature_2m,precipitation,wind_speed_10m"))
    assert(archive.contains("timezone=auto"))
    assert(archive.contains("start_date=2025-10-01&end_date=2025-10-31"))
  }

  test("loadIncremental is incremental and idempotent (EP2)") {
    val base = Files.createTempDirectory("ep2").toString
    val lake = s"$base/lake"; val staging = s"$base/staging"; val log = s"$base/log"
    def rawFixture(n: Int) = {
      val s = spark
      import s.implicits._
      Weather.fixturePayloads.take(n)
        .toDF("city", "_ingested_at_s", "raw_json")
        .select(col("city"),
          col("_ingested_at_s").cast("timestamp").as("_ingested_at"),
          from_json(col("raw_json"), Weather.RawWeatherSchema).as("p"))
        .select(col("city"), col("_ingested_at"), col("p.*"))
        .withColumn("ds", lit("2025-10-31")).withColumn("hour", lit("12"))
    }
    Weather.writeLake(rawFixture(4), lake)
    val n1 = WeatherJobs.loadIncremental(spark, lake, staging, log)
    assert(n1 == 4)
    assert(spark.read.parquet(staging).count() == 12) // 4 cities × 3 hours
    // second run with nothing new: no files processed, staging unchanged
    val n2 = WeatherJobs.loadIncremental(spark, lake, staging, log)
    assert(n2 == 0)
    assert(spark.read.parquet(staging).count() == 12)
    // the Warsaw re-ingest arrives: one new file, upsert keeps 12 rows but
    // the 12:00 temperature becomes the corrected 16.1
    Weather.writeLake(rawFixture(5).filter(col("_ingested_at") === "2025-10-31 13:05:00"), lake)
    val n3 = WeatherJobs.loadIncremental(spark, lake, staging, log)
    assert(n3 == 1)
    val after = spark.read.parquet(staging)
    assert(after.count() == 12)
    val warsawNoon = after.filter(col("city") === "Warsaw" &&
      col("timestamp") === lit("2025-10-31 12:00:00").cast("timestamp")).head()
    assert(warsawNoon.getAs[Double]("temperature_2m") == 16.1)
    // provenance column carried through (O11)
    assert(after.columns.contains("s3_uri"))
  }

  test("limitFiles caps the batch like the reference's limit_files knob") {
    val base = Files.createTempDirectory("ep2cap").toString
    val lake = s"$base/lake"; val staging = s"$base/staging"; val log = s"$base/log"
    val s = spark
    import s.implicits._
    val raw = Weather.fixturePayloads.take(4)
      .toDF("city", "_ingested_at_s", "raw_json")
      .select(col("city"), col("_ingested_at_s").cast("timestamp").as("_ingested_at"),
        from_json(col("raw_json"), Weather.RawWeatherSchema).as("p"))
      .select(col("city"), col("_ingested_at"), col("p.*"))
      .withColumn("ds", lit("2025-10-31")).withColumn("hour", lit("12"))
    Weather.writeLake(raw, lake)
    assert(WeatherJobs.loadIncremental(spark, lake, staging, log, Some(2)) == 2)
    assert(WeatherJobs.loadIncremental(spark, lake, staging, log) == 2)
    assert(WeatherJobs.loadIncremental(spark, lake, staging, log) == 0)
  }
}
