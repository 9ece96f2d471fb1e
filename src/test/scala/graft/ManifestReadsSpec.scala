package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{LakeIO, TypedLake, WeatherLakeV2Sink}

/** A local filesystem under its own scheme that counts opens of lake
  * manifest files (`_manifests/manifest-*`) and listings of `_manifests/`.
  */
class ManifestCountingFs extends RawLocalFileSystem {
  override def getScheme: String = "mcfs"
  override def getUri: java.net.URI = java.net.URI.create("mcfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getParent != null &&
        f.getParent.getName == WeatherLakeV2Sink.ManifestDir &&
        f.getName.startsWith("manifest-"))
      ManifestCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == WeatherLakeV2Sink.ManifestDir)
      ManifestCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object ManifestCountingFs {
  val opens = new AtomicInteger(0)
  val listings = new AtomicInteger(0)
}

/** Every commit operation reads the table's manifest log once: one
  * snapshot read (each manifest opened once) feeds its live set, entry
  * lines, `#mordelete` directives, payload check and supersede set. The
  * only other manifest opens are the publish step's own: the in-lock
  * re-read that validates the commit (N) and the payload gate before
  * the rename (1). So an operation over N manifests opens at most
  * 2N + 1.
  */
class ManifestReadsSpec extends SparkSpec {
  private lazy val scheme: String = {
    val impl = classOf[ManifestCountingFs].getName
    spark.sparkContext.hadoopConfiguration.set("fs.mcfs.impl", impl)
    LakeIO.conf.set("fs.mcfs.impl", impl)
    "mcfs"
  }

  private def tmp(prefix: String): String =
    s"$scheme:" + Files.createTempDirectory(prefix).toString + "/lake"

  /** Run `op` on a table of N ≥ 5 manifests, some superseded, and assert
    * it published one commit opening manifests at most 2N + 1 times.
    */
  private def assertOneRead(lake: String, what: String)(op: => Any): Unit = {
    val n = WeatherLakeV2Sink.manifestNames(lake).size
    val live = WeatherLakeV2Sink.liveManifests(lake).size
    assert(n >= 5 && live < n, s"$what: $n manifests, $live live")
    ManifestCountingFs.opens.set(0)
    op
    val opened = ManifestCountingFs.opens.get()
    assert(WeatherLakeV2Sink.manifestNames(lake).size == n + 1,
      s"$what published no commit")
    assert(opened <= 2 * n + 1,
      s"$what opened manifests $opened times over $n manifests " +
        s"(bound ${2 * n + 1})")
  }

  private def classicLake(): String = {
    val lake = tmp("mreads_classic")
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (c, i) =>
      payload(Seq((c, i.toLong, i * 10L)))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    }
    // supersedes the manifests of cities a and b
    WeatherLakeV2Sink.mergeCommitted(spark, lake,
      payload(Seq(("a", 0L, 1L), ("b", 1L, 2L))), key)
    lake
  }

  private def payload(rows: Seq[(String, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("city", "k", "v").select(col("city"),
      lit("2024-01-01").as("ds"), lit("00").as("hour"),
      to_json(struct(col("k"), col("v"))).as("raw_json"))
  }

  private def key(f: DataFrame) = get_json_object(f("raw_json"), "$.k")

  private def kv(lake: String): Map[Long, Long] =
    WeatherLakeV2Sink.readCommitted(spark, lake).select(
        get_json_object(col("value"), "$.k").cast("long"),
        get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("region", StringType)))
  private val pc = Seq("region")

  private def typedLake(): String = {
    val s = spark
    import s.implicits._
    val lake = tmp("mreads_typed")
    (0 until 4).foreach { i =>
      TypedLake.appendTyped(spark, lake,
        Seq((i.toLong, s"n-$i", s"r$i")).toDF("id", "name", "region"),
        schema, pc, manifestId = Some(s"base$i"))
    }
    // supersedes the manifest holding id 0
    TypedLake.deleteTyped(spark, lake, schema, pc,
      predicate = df => df("id") === 0L)
    lake
  }

  private def typedRows(lake: String): Set[(Long, String, String)] =
    TypedLake.readCommittedTyped(spark, lake, schema).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("classic MERGE reads each manifest once") {
    val lake = classicLake()
    assertOneRead(lake, "mergeCommitted") {
      WeatherLakeV2Sink.mergeCommitted(spark, lake,
        payload(Seq(("c", 2L, 99L), ("e", 7L, 70L))), key)
    }
    assert(kv(lake) == Map(0L -> 1L, 1L -> 2L, 2L -> 99L, 3L -> 30L,
      7L -> 70L))
  }

  test("classic DELETE reads each manifest once") {
    val lake = classicLake()
    assertOneRead(lake, "deleteCommitted") {
      WeatherLakeV2Sink.deleteCommitted(spark, lake,
        f => key(f).cast("long") === 3L)
    }
    assert(kv(lake) == Map(0L -> 1L, 1L -> 2L, 2L -> 20L))
  }

  test("typed copy-on-write UPDATE reads each manifest once") {
    val lake = typedLake()
    assertOneRead(lake, "updateTyped") {
      TypedLake.updateTyped(spark, lake, schema, pc,
        predicate = df => df("id") === 2L,
        assignments = Seq("name" -> (_ => lit("renamed"))))
    }
    assert(typedRows(lake) == Set((1L, "n-1", "r1"), (2L, "renamed", "r2"),
      (3L, "n-3", "r3")))
  }

  test("typed mor MERGE reads each manifest once") {
    val s = spark
    import s.implicits._
    val lake = typedLake()
    assertOneRead(lake, "mergeTypedMor") {
      TypedLake.mergeTypedMor(spark, lake, schema, pc,
        Seq((3L, "merged", "r3"), (9L, "fresh", "r9"))
          .toDF("id", "name", "region"),
        keyCols = Seq("id", "region"))
    }
    assert(typedRows(lake) == Set((1L, "n-1", "r1"), (2L, "n-2", "r2"),
      (3L, "merged", "r3"), (9L, "fresh", "r9")))
  }

  test("each classic read call lists _manifests once and opens each " +
      "manifest once") {
    val lake = classicLake()
    val n = WeatherLakeV2Sink.manifestNames(lake).size
    val asOf = WeatherLakeV2Sink.manifestNames(lake).take(3)
    def reads(what: String, listings: Int, opens: Int)(
        read: => DataFrame): Unit = {
      ManifestCountingFs.listings.set(0)
      ManifestCountingFs.opens.set(0)
      val df = read
      assert(ManifestCountingFs.listings.get() == listings,
        s"$what listed _manifests ${ManifestCountingFs.listings.get()} times")
      assert(ManifestCountingFs.opens.get() == opens,
        s"$what opened manifests ${ManifestCountingFs.opens.get()} times " +
          s"reading $opens")
      assert(df.count() > 0, what)
    }
    reads("readCommitted", 1, n)(WeatherLakeV2Sink.readCommitted(spark, lake))
    reads("readCommittedPruned", 1, n)(
      WeatherLakeV2Sink.readCommittedPruned(spark, lake)(_ => true))
    reads("readCommittedStatsPruned", 1, n)(
      WeatherLakeV2Sink.readCommittedStatsPruned(spark, lake)(_ => true))
    // a pinned read resolves its own members: no listing at all
    reads("readAsOf", 0, asOf.size)(
      WeatherLakeV2Sink.readAsOf(spark, lake, asOf))
  }

  test("rollbackTo resolves its as-of snapshot once") {
    val lake = tmp("mreads_rollback")
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (c, i) =>
      payload(Seq((c, i.toLong, i * 10L)))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    }
    val before = WeatherLakeV2Sink.snapshot(lake)
    WeatherLakeV2Sink.mergeCommitted(spark, lake,
      payload(Seq(("a", 0L, 1L), ("b", 1L, 2L))), key)
    val n = WeatherLakeV2Sink.manifestNames(lake).size
    assert(n == 5)
    ManifestCountingFs.opens.set(0)
    WeatherLakeV2Sink.rollbackTo(lake, before)
    // the op's snapshot (n), ONE as-of read, and the publish step's
    // in-lock re-read (n) and payload gate (1)
    val bound = 2 * n + 1 + before.size
    assert(ManifestCountingFs.opens.get() <= bound,
      s"rollbackTo opened manifests ${ManifestCountingFs.opens.get()} " +
        s"times (bound $bound)")
    assert(kv(lake) == Map(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L))
  }

  test("a classic append and the payload gate each list _manifests once") {
    val lake = tmp("mreads_listing")
    def append(city: String): Unit =
      payload(Seq((city, 0L, 0L))).write
        .format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    // a non-empty lake: the payload gate has a committed manifest to read
    append("a")
    ManifestCountingFs.listings.set(0)
    append("b")
    assert(ManifestCountingFs.listings.get() == 1,
      s"append listed _manifests ${ManifestCountingFs.listings.get()} times")
    ManifestCountingFs.listings.set(0)
    WeatherLakeV2Sink.requirePayload(lake, "json", "spec")
    assert(ManifestCountingFs.listings.get() == 1,
      s"requirePayload listed _manifests " +
        s"${ManifestCountingFs.listings.get()} times")
    assert(kv(lake) == Map(0L -> 0L) &&
      WeatherLakeV2Sink.manifestNames(lake).size == 2)
  }
}
