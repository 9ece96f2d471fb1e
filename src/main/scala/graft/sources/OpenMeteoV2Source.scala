package graft.sources

import java.util
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The reference's HTTP sources (SURVEY.md S1/S2): Open-Meteo
  * `/v1/forecast` and `/v1/archive` URL construction, and a DataSource V2
  * forecast source whose fetch is a distributed scan — one input
  * partition per city, each executor-side `PartitionReader` fetching and
  * emitting its city's payload — instead of a driver-side loop. Usage:
  *
  * {{{
  * spark.read.format("graft.sources.OpenMeteoV2Source")
  *   .option("cities", "Warsaw:52.23:21.01;Berlin:52.52:13.41")
  *   .option("window", "2025-10-31T10:00/2025-10-31T12:00")
  *   .option("transport", "<registered transport name>")
  *   .load()                         // => (city string, raw_json string)
  * }}}
  *
  * Rows carry the raw payload; the schema-enforced parse
  * (`from_json(RawWeatherSchema)`) happens in the plan above, keeping this
  * connector tiny and the parsing codegen'd. Transports are looked up by
  * name in [[OpenMeteoV2Source.Transports]] on the executor — production
  * registers an HTTP client; tests register fixtures (this environment has
  * no egress, and the registry keeps the connector free of any socket
  * dependency).
  */
class OpenMeteoV2Source extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OpenMeteoV2Source.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // validate up front, on the driver: a missing/malformed option must
    // fail here naming the option, not as an NPE/MatchError deep in scan
    // planning or on an executor.
    def req(key: String): String = {
      val v = properties.get(key)
      if (v == null || v.trim.isEmpty) throw new IllegalArgumentException(
        s"OpenMeteoV2Source: required option '$key' is missing or empty")
      v
    }
    val cities = req("cities")
    val window = req("window")
    val transport = req("transport")
    OpenMeteoV2Source.parseCities(cities) // throws naming the bad segment
    if (window.split("/").length != 2) throw new IllegalArgumentException(
      s"OpenMeteoV2Source: option 'window' must be '<startIso>/<endIso>', got '$window'")
    new OpenMeteoV2Source.WeatherTable(cities, window, transport)
  }
}

object OpenMeteoV2Source {
  val Schema: StructType = StructType(Seq(
    StructField("city", StringType, nullable = false),
    StructField("raw_json", StringType, nullable = true)))

  /** Executor-visible transport registry (local mode shares the JVM; a
    * cluster deployment registers the transport in an executor plugin).
    */
  object Transports {
    private val registry = TrieMap.empty[String, String => String]
    def register(name: String, fn: String => String): Unit = registry(name) = fn
    def apply(name: String): String => String = registry(name)
  }

  final case class City(name: String, lat: Double, lon: Double)

  val HourlyVars = "temperature_2m,precipitation,wind_speed_10m"

  /** openmeteo_client.py:19-25 — forecast endpoint query (hourly variable
    * list, timezone parameter, ISO hour window).
    */
  def forecastUrl(lat: Double, lon: Double, startIso: String, endIso: String,
      tz: String = "Europe/Berlin"): String =
    s"https://api.open-meteo.com/v1/forecast?latitude=$lat&longitude=$lon" +
      s"&hourly=$HourlyVars&timezone=$tz" +
      s"&start_hour=$startIso&end_hour=$endIso"

  /** openmeteo_client.py:40-56 — archive endpoint query (ISO date window). */
  def archiveUrl(lat: Double, lon: Double, startDate: String, endDate: String,
      tz: String = "auto"): String =
    s"https://archive-api.open-meteo.com/v1/archive?latitude=$lat&longitude=$lon" +
      s"&hourly=$HourlyVars&timezone=$tz" +
      s"&start_date=$startDate&end_date=$endDate"

  def parseCities(spec: String): Seq[City] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { s =>
      s.split(":") match {
        case Array(n, lat, lon) =>
          try City(n, lat.toDouble, lon.toDouble)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"OpenMeteoV2Source: option 'cities' segment '$s' has non-numeric lat/lon")
          }
        case _ => throw new IllegalArgumentException(
          s"OpenMeteoV2Source: option 'cities' segment '$s' is not 'name:lat:lon'")
      }
    }

  class WeatherTable(cities: String, window: String, transport: String)
      extends Table with SupportsRead {
    override def name(): String = "open_meteo"
    override def schema(): StructType = Schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with Scan with Batch {
        override def build(): Scan = this
        override def readSchema(): StructType = Schema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          parseCities(cities).map(c => CityPartition(c, window, transport))
            .toArray[InputPartition]
        override def createReaderFactory(): PartitionReaderFactory =
          new CityReaderFactory
      }
  }

  final case class CityPartition(city: City, window: String,
      transport: String) extends InputPartition

  class CityReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[CityPartition]
      new PartitionReader[InternalRow] {
        private var done = false
        private var payload: String = _
        override def next(): Boolean =
          if (done) false
          else {
            val Array(start, end) = p.window.split("/")
            val url = forecastUrl(p.city.lat, p.city.lon, start, end)
            payload = Transports(p.transport)(url)
            done = true
            true
          }
        override def get(): InternalRow =
          InternalRow(UTF8String.fromString(p.city.name),
            UTF8String.fromString(payload))
        override def close(): Unit = ()
      }
    }
  }
}
