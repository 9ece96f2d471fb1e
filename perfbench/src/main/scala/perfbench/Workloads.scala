package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import graft.SparkEntry
import graft.ops.Quality
import graft.sources.WeatherLakeV2Sink
import graft.weather.{Weather, WeatherJobs}

/** One workload of the closed loop: a single client runs the ops of a pass
  * one after another, each starting when the previous one has finished. */
trait Workload {
  /** Directories whose bytes count towards store amplification. */
  def lakeRoots: Seq[String]
  /** The ops of one pass, in the order the pass runs them. */
  def passOps(pass: Int): Seq[String]
  def runOp(pass: Int, op: String): Unit
  /** Run once after the timed region; the result goes into the raw record. */
  def check(outDir: String): Map[String, Any]
}

/** Registered queries through their public builders: the builder call is the
  * `build` span, the full materialisation through the `noop` sink is the
  * `action` span (the same sink `graft.Bench` times). */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, dataDir: String,
    ops: Seq[String], seed: Long, fixtureLakes: Boolean) extends Workload {
  def lakeRoots: Seq[String] =
    if (fixtureLakes) FixtureState.roots.map(_.getPath) else Seq.empty
  private val unknown = ops.filterNot(SparkEntry.queries.contains)
  require(unknown.isEmpty, s"unregistered ops: ${unknown.mkString(",")}")

  def passOps(pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(ops)

  def runOp(pass: Int, op: String): Unit = {
    val df = tracer.span("build") {
      val d = SparkEntry.queries(op)(spark, dataDir)
      // the built frame's own analysis; the write's listener event covers
      // only what Catalyst does after the action starts
      d match {
        case c: org.apache.spark.sql.classic.Dataset[_] =>
          c.queryExecution.tracker.phases.get("analysis")
            .foreach(p => tracer.annotate("analysis_ms", p.durationMs))
        case _ =>
      }
      d
    }
    tracer.span("action")(df.write.mode("overwrite").format("noop").save())
  }

  def check(outDir: String): Map[String, Any] = {
    val errors = ops.flatMap { op =>
      try {
        // no coalesce: it would run the op's last stage as one task
        SparkEntry.queries(op)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$op")
        None
      } catch { case e: Exception => Some(op -> String.valueOf(e.getMessage)) }
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.render(oracle))
    Map("kind" -> "oracle", "dir" -> outDir, "errors" -> errors)
  }
}

/** The reference's hourly spine. Each cycle lands the four cities' trailing
  * 6-hour payloads as one lake commit, reads the commits the cursor has not
  * consumed, gates them, upserts last-write-wins into day-partitioned
  * staging, and rebuilds the daily mart. At each simulated midnight it runs
  * gap detection and the lake's compact / checkpoint / vacuum maintenance.
  * A pass is `cyclesPerPass` consecutive cycles; history keeps growing
  * across passes. */
final class EtlWorkload(spark: SparkSession, tracer: Tracer, payloadFile: String,
    stateDir: String, cyclesPerPass: Int) extends Workload {
  import spark.implicits._

  private val byCycle: Map[Int, Seq[String]] =
    Files.readAllLines(Paths.get(payloadFile)).asScala.toSeq
      .filter(_.nonEmpty)
      .groupBy(l => ujson(l, "cycle").toInt)
  private val lake = s"$stateDir/lake"
  private val staging = s"$stateDir/staging"
  private val mart = s"$stateDir/mart"
  private val cursor = s"$stateDir/cursor"
  private var landed = Vector.empty[Int]
  var gateRejectedRows = 0L

  val lakeRoots: Seq[String] = Seq(lake)

  private val payloadSchema = Weather.RawWeatherSchema
    .add("city", StringType).add("_ingested_at", TimestampType)

  /** A top-level scalar field of one generated payload line. */
  private def ujson(line: String, key: String): String = {
    val i = line.indexOf("\"" + key + "\": ") + key.length + 4
    line.substring(i).takeWhile(c => c != ',' && c != '}').trim.stripPrefix("\"").stripSuffix("\"")
  }

  def passOps(pass: Int): Seq[String] =
    ((pass - 1) * cyclesPerPass until pass * cyclesPerPass).map(c => s"cycle$c")

  private def parsed(lines: DataFrame): DataFrame =
    Weather.clean(Weather.explodeHourly(
      lines.select(from_json(col("value"), payloadSchema).as("p")).select("p.*")))

  def runOp(pass: Int, op: String): Unit = {
    val c = op.stripPrefix("cycle").toInt
    val lines = byCycle(c)
    val fetched = ujson(lines.head, "_ingested_at")
    tracer.span("land") {
      lines.toDF("raw_json")
        .select(get_json_object(col("raw_json"), "$.city").as("city"),
          lit(fetched.take(10)).as("ds"), lit(fetched.slice(11, 13)).as("hour"),
          col("raw_json"))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("manifestId", f"cycle-$c%05d").mode("append").save(lake)
    }
    landed :+= c
    val (batch, fresh) = tracer.span("load") {
      val (frame, fresh) = WeatherLakeV2Sink.readNewCommits(spark, lake, cursor)
      val staged = parsed(frame)
      val report = Quality.validate(staged, Weather.weatherSuite)
      gateRejectedRows += report.results.map(_.violations).sum
      if (!report.passed) throw new Quality.ValidationException(report)
      (staged, fresh)
    }
    tracer.span("upsert") {
      WeatherJobs.mergeUpsertParquet(spark, batch, staging)
      WeatherLakeV2Sink.advanceCursor(cursor, fresh)
    }
    tracer.span("mart") {
      Weather.dailyMart(spark.read.parquet(staging))
        .write.mode("overwrite").parquet(mart)
    }
    if (fetched.slice(11, 13) == "00") {
      tracer.span("backfill") {
        Weather.missingHours(spark.read.parquet(staging))
          .write.mode("overwrite").format("noop").save()
      }
      tracer.span("maintenance") {
        WeatherLakeV2Sink.compact(spark, lake)
        WeatherLakeV2Sink.checkpointManifests(lake)
        WeatherLakeV2Sink.vacuum(lake, minAgeMs = 1, force = true)
      }
    }
  }

  /** The incremental mart against a one-shot
    * `dailyMart(dedupUpsert(gate(all landed payloads)))`. */
  def check(outDir: String): Map[String, Any] = {
    val all = landed.flatMap(byCycle).toDF("value")
    val expected = Weather.dailyMart(Weather.dedupUpsert(
      Quality.gate(parsed(all), Weather.weatherSuite)))
    def canon(df: DataFrame): DataFrame = df.select(df.columns.map { c =>
      if (df.schema(c).dataType == DoubleType) round(col(c), 6).as(c) else col(c)
    }: _*)
    val got = canon(spark.read.parquet(mart))
    val want = canon(expected)
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    Map("kind" -> "mart", "rows" -> want.count(), "missing" -> missing,
      "extra" -> extra, "cycles" -> landed.size)
  }
}
