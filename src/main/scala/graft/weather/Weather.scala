package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Quality, Relational}

/** The reference pipeline's domain semantics (SURVEY.md §1-§3), Spark-first:
  * columnar JSON weather payloads → hourly staging rows → quality gate →
  * idempotent upsert → daily mart → analyst queries.
  *
  * Reference citations (all into /root/reference/):
  *  - payload shape: ingestion/extractor/s3_writer.py:34-67, run_once.py:39-49
  *  - staging DDL:   ingestion/loader/sql/create_staging.sql:3-11
  *  - upsert:        ingestion/loader/load_to_postgres.py:90-102
  *  - quality gate:  ge/validate_raw_weather.py:143-189
  *  - daily mart:    dbt/models/marts/fct_city_day.sql:2-11 (+ the
  *    documented superset, docs/dashboard.md:89-95 — SURVEY.md §2.6)
  */
object Weather {

  /** Struct-of-parallel-arrays raw payload (FIXTURES.md §1). */
  val RawWeatherSchema: StructType = StructType(Seq(
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("timezone", StringType),
    StructField("hourly", StructType(Seq(
      StructField("time", ArrayType(StringType)),
      StructField("temperature_2m", ArrayType(DoubleType)),
      StructField("precipitation", ArrayType(DoubleType)),
      StructField("wind_speed_10m", ArrayType(DoubleType)))))))

  /** O1/O2: pivot the struct-of-arrays to one row per hour. `arrays_zip`
    * pads ragged arrays with null (pad-then-gate policy, SURVEY.md §1.3).
    * Input needs `city` and `_ingested_at` alongside the payload columns.
    */
  def explodeHourly(raw: DataFrame): DataFrame = {
    // O11: provenance columns ride along when present (s3_uri ≡ the
    // validator's provenance field, validate_raw_weather.py:84)
    val extras = raw.columns.filter(Set("s3_uri").contains).toSeq
    val keep = Seq("city", "latitude", "longitude", "timezone", "_ingested_at") ++ extras
    raw.select(keep.map(col) :+
        explode(arrays_zip(
          col("hourly.time").as("time"),
          col("hourly.temperature_2m").as("temperature_2m"),
          col("hourly.precipitation").as("precipitation"),
          col("hourly.wind_speed_10m").as("wind_speed_10m"))).as("h"): _*)
      .select(keep.map(col) ++ Seq(
        col("h.time").as("time"),
        col("h.temperature_2m").as("temperature_2m"),
        col("h.precipitation").as("precipitation"),
        col("h.wind_speed_10m").as("wind_speed_10m")): _*)
  }

  /** O3/O6: ISO-8601 parse with the reference's `Z`→`+00:00` fixup
    * (run_once.py:36), defensive double casts (stg_weather_hourly.sql:4-6).
    * Session timezone is pinned UTC.
    */
  def clean(df: DataFrame): DataFrame = {
    val extras = df.columns.filter(Set("s3_uri").contains).toSeq
    df.select(Seq(
      col("city"),
      to_timestamp(regexp_replace(col("time"), "Z$", "+00:00")).as("timestamp"),
      col("temperature_2m").cast("double"),
      col("precipitation").cast("double"),
      col("wind_speed_10m").cast("double"),
      col("latitude"), col("longitude"), col("timezone"),
      col("_ingested_at")) ++ extras.map(col): _*)
  }

  /** O7: derived Hive partition keys `ds`/`hour` (s3_writer.py:59-61). */
  def withPartitionKeys(df: DataFrame, tsCol: String = "timestamp"): DataFrame =
    df.withColumn("ds", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("hour", date_format(col(tsCol), "HH"))

  /** O5: local-time cutoff — drop hours at/after `cutoffHour` local time on
    * `cutoffDate` and everything after that date, in `tz`
    * (fetch_october_2025.py:93-97). Timezone-aware predicate over UTC ts.
    */
  def localCutoff(df: DataFrame, tz: String, cutoffDate: String, cutoffHour: Int): DataFrame = {
    val local = from_utc_timestamp(col("timestamp"), tz)
    df.filter(
      to_date(local) < lit(cutoffDate).cast("date") ||
        (to_date(local) === lit(cutoffDate).cast("date") && hour(local) < cutoffHour))
  }

  /** Q1-Q8 (+dbt not_null): the GE suite (validate_raw_weather.py:143-168). */
  val weatherSuite: Seq[Quality.Expectation] = Seq(
    Quality.notNull("timestamp"),
    Quality.notNull("city"),
    Quality.notNull("latitude"),
    Quality.notNull("longitude"),
    Quality.notNull("timezone"),
    Quality.between("temperature_2m", -90, 60),
    Quality.between("precipitation", 0, 1000),
    Quality.between("wind_speed_10m", 0, 200))

  /** O12: last-write-wins upsert ≡ window dedup on the staging PK
    * (city, timestamp) ordered by `_ingested_at` desc. Idempotent:
    * re-applying over already-deduped data is a no-op.
    */
  def dedupUpsert(df: DataFrame): DataFrame =
    Relational.dedupLatest(df, Seq("city", "timestamp"),
      Seq(col("_ingested_at").desc))

  /** O13+O14: daily per-city mart — the shipped three AVGs plus the
    * documented min/max/sum superset (SURVEY.md §2.6 drift resolution).
    */
  def dailyMart(staging: DataFrame): DataFrame =
    staging
      .groupBy(col("city"), to_date(col("timestamp")).as("day"))
      .agg(
        avg(col("temperature_2m")).as("temperature_avg"),
        min(col("temperature_2m")).as("temperature_min"),
        max(col("temperature_2m")).as("temperature_max"),
        avg(col("precipitation")).as("precipitation_avg"),
        sum(col("precipitation")).as("precipitation_sum"),
        avg(col("wind_speed_10m")).as("wind_speed_avg"),
        max(col("wind_speed_10m")).as("wind_speed_max"),
        count(lit(1)).cast("long").as("n_hours"))

  /** O20: the README's "coldest day" report (README.md:308-313). */
  def coldestDay(mart: DataFrame): DataFrame =
    mart.orderBy(col("temperature_avg").asc, col("city").asc, col("day").asc).limit(1)

  /** O18: weekly gap detection (backfill_openmeteo.py:44-75) per city —
    * every (city, hour) pair expected in the global [min, max] hour span
    * that has no staging row.
    */
  def missingHours(staging: DataFrame): DataFrame = {
    val perCity = staging.select(col("city")).distinct()
    val bounds = staging.agg(
      date_trunc("hour", min(col("timestamp"))).as("b0"),
      date_trunc("hour", max(col("timestamp"))).as("b1"))
    val spine = bounds.select(
      explode(expr("sequence(b0, b1, interval 1 hour)")).as("bucket"))
    val present = staging.select(col("city"),
      date_trunc("hour", col("timestamp")).as("bucket")).distinct()
    perCity.crossJoin(spine).join(present, Seq("city", "bucket"), "left_anti")
  }

  /** O17: incremental skip — files already recorded in the ingest log
    * (load_to_postgres.py:164-168).
    */
  def newFiles(listing: DataFrame, ingestLog: DataFrame): DataFrame =
    listing.join(ingestLog, Seq("key"), "left_anti")

  /** S3 sink: Hive-partitioned raw-payload lake (s3_writer.py:59-61).
    * Input must carry `city`/`ds`/`hour` key columns (see
    * [[withPartitionKeys]] for deriving them from a timestamp).
    */
  def writeLake(raw: DataFrame, path: String): Unit =
    raw.write.partitionBy("city", "ds", "hour").mode("append").json(path)

  /** Batch read of the raw lake with partition discovery — `city`/`ds`/
    * `hour` materialize from the directory layout (SURVEY.md S5/S9).
    */
  def readLake(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(RawWeatherSchema.add("_ingested_at", "timestamp"))
      .option("basePath", path)
      .json(path)

  // ---- fixture pipeline (the driver's flagship `entry`) -----------------

  /** Canonical fixture payloads (FIXTURES.md §1/§4): 4 cities × 3 hours,
    * one ragged payload (pad-with-null), and one re-ingested city-hour with
    * a corrected temperature that must win the upsert.
    */
  def fixturePayloads: Seq[(String, String, String)] = {
    def payload(lat: Double, lon: Double, times: Seq[String], temps: Seq[String],
        precs: Seq[String], winds: Seq[String]): String =
      s"""{"latitude": $lat, "longitude": $lon, "timezone": "Europe/Berlin",
         |"hourly": {"time": [${times.map("\"" + _ + "\"").mkString(",")}],
         |"temperature_2m": [${temps.mkString(",")}],
         |"precipitation": [${precs.mkString(",")}],
         |"wind_speed_10m": [${winds.mkString(",")}]}}""".stripMargin
    val hours = Seq("2025-10-31T10:00", "2025-10-31T11:00", "2025-10-31T12:00")
    Seq(
      ("Warsaw", "2025-10-31 12:05:00",
        payload(52.23, 21.01, hours, Seq("15.5", "15.7", "15.9"),
          Seq("0.0", "0.2", "0.0"), Seq("5.2", "5.0", "4.8"))),
      ("Berlin", "2025-10-31 12:05:00",
        payload(52.52, 13.41, hours, Seq("16.8", "16.9", "17.0"),
          Seq("2.5", "1.0", "0.0"), Seq("8.1", "7.9", "7.7"))),
      // ragged: wind array shorter than time — arrays_zip pads with null
      ("London", "2025-10-31 12:05:00",
        payload(51.51, -0.13, hours, Seq("13.0", "13.2", "13.1"),
          Seq("0.0", "0.0", "0.1"), Seq("9.9", "9.8"))),
      ("Paris", "2025-10-31 12:05:00",
        payload(48.85, 2.35, hours, Seq("18.0", "18.2", "18.1"),
          Seq("0.0", "0.0", "0.0"), Seq("3.3", "3.1", "3.0"))),
      // re-ingest of Warsaw with corrected values — newer _ingested_at wins
      ("Warsaw", "2025-10-31 13:05:00",
        payload(52.23, 21.01, Seq("2025-10-31T12:00"), Seq("16.1"),
          Seq("0.0"), Seq("4.9"))))
  }

  /** The flagship end-to-end slice (SURVEY.md §7.1):
    * parse → explode → clean → gate → upsert → daily mart.
    */
  def runFixturePipeline(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = fixturePayloads
      .toDF("city", "_ingested_at_s", "raw_json")
      .select(
        col("city"),
        col("_ingested_at_s").cast("timestamp").as("_ingested_at"),
        from_json(col("raw_json"), RawWeatherSchema).as("p"))
      .select(col("city"), col("_ingested_at"), col("p.*"))
    val staged = clean(explodeHourly(raw))
    val gated = Quality.gate(staged, weatherSuite)
    dailyMart(dedupUpsert(gated))
  }

  /** Parquet export of the PARSED fixture payloads, hourly arrays
    * flattened to top-level columns — the bytes BOTH engines read for the
    * oracled w01 spine. A static path is safe here (unlike the model
    * exports): the fixture is constant, SF-independent data, so every run
    * writes identical content.
    */
  val FixtureLakePath = "/tmp/graft_weather_fixture"

  def exportFixtureLake(spark: SparkSession,
      path: String = FixtureLakePath): DataFrame = {
    import spark.implicits._
    val flat = fixturePayloads
      .toDF("city", "_ingested_at_s", "raw_json")
      .select(
        col("city"),
        col("_ingested_at_s").cast("timestamp").as("_ingested_at"),
        from_json(col("raw_json"), RawWeatherSchema).as("p"))
      .select(col("city"), col("_ingested_at"),
        col("p.latitude").as("latitude"),
        col("p.longitude").as("longitude"),
        col("p.timezone").as("timezone"),
        col("p.hourly.time").as("t"),
        col("p.hourly.temperature_2m").as("temp"),
        col("p.hourly.precipitation").as("prec"),
        col("p.hourly.wind_speed_10m").as("wind"))
    flat.coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The ORACLED flagship spine (w01): read the exported fixture lake
    * back (same bytes as the oracle), reassemble the hourly struct, and
    * run the composed zip-explode-pad → timestamp-parse → quality gate →
    * last-write-wins upsert → daily mart chain, with display rounding on
    * the float aggregates for cross-engine parity. `entry`'s
    * [[runFixturePipeline]] stays the smoke surface; this is the
    * hash-checkable twin.
    */
  def oracledFixturePipeline(spark: SparkSession): DataFrame = {
    val flat = exportFixtureLake(spark)
    val raw = flat.select(col("city"), col("_ingested_at"),
      col("latitude"), col("longitude"), col("timezone"),
      struct(col("t").as("time"), col("temp").as("temperature_2m"),
        col("prec").as("precipitation"), col("wind").as("wind_speed_10m"))
        .as("hourly"))
    val staged = clean(explodeHourly(raw))
    val gated = Quality.gate(staged, weatherSuite)
    dailyMart(dedupUpsert(gated))
      .select(col("city"), col("day"),
        round(col("temperature_avg"), 6).as("temperature_avg"),
        col("temperature_min"), col("temperature_max"),
        round(col("precipitation_avg"), 6).as("precipitation_avg"),
        round(col("precipitation_sum"), 6).as("precipitation_sum"),
        round(col("wind_speed_avg"), 6).as("wind_speed_avg"),
        col("wind_speed_max"), col("n_hours"))
  }
}
