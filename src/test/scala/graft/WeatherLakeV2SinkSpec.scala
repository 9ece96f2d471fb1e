package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.weather.Weather

/** A local filesystem under its own scheme whose `create` of compaction
  * output (`part-compact-*`) fails once `FailingCreateFs.allow` such
  * creates have succeeded.
  */
class FailingCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fcfs"
  override def getUri: java.net.URI = java.net.URI.create("fcfs:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable):
      org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.getName.startsWith("part-compact-") &&
        FailingCreateFs.allow.getAndDecrement() <= 0)
      throw new java.io.IOException(s"injected create failure: $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingCreateFs {
  val allow = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
}

/** The DSv2 write path (WeatherLakeV2Sink) must be a drop-in twin of
  * Weather.writeLake: identical Hive partition directory layout, and
  * readLake parses both lakes into identical rows.
  */
class WeatherLakeV2SinkSpec extends SparkSpec {

  private def rawFixture: DataFrame = {
    val s = spark
    import s.implicits._
    Weather.fixturePayloads
      .toDF("city", "_ingested_at_s", "raw_json")
      .select(col("city"),
        col("_ingested_at_s").cast("timestamp").as("_ingested_at"),
        from_json(col("raw_json"), Weather.RawWeatherSchema).as("p"))
      .select(col("city"), col("_ingested_at"), col("p.*"))
      .withColumn("ds", lit("2025-10-31"))
      .withColumn("hour", date_format(col("_ingested_at"), "HH"))
  }

  private def partitionDirs(root: String): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f +: f.listFiles().toSeq.flatMap(walk) else Nil
    walk(new File(root))
      .filter(d => d.getName.startsWith("hour="))
      .map(_.getAbsolutePath.stripPrefix(new File(root).getAbsolutePath))
      .toSet
  }

  private def canon(lake: String): Set[(String, String, String, Double, Double, String, String, Long)] =
    Weather.readLake(spark, lake)
      .select(col("city"), col("ds").cast("string"), col("hour").cast("string"),
        col("latitude"), col("longitude"), col("timezone"),
        to_json(col("hourly")).as("hourly_json"),
        unix_micros(col("_ingested_at")).as("ing_us"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getDouble(4), r.getString(5), r.getString(6), r.getLong(7)))
      .toSet

  test("V2 sink layout and content match writeLake") {
    val base = Files.createTempDirectory("lakev2").toString
    val v1 = s"$base/v1"; val v2 = s"$base/v2"
    val raw = rawFixture
    Weather.writeLake(raw, v1)
    raw.select(col("city"), col("ds"), col("hour"),
        to_json(struct(col("latitude"), col("longitude"), col("timezone"),
          col("hourly"), col("_ingested_at"))).as("raw_json"))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(v2)
    // identical Hive partition directory tree
    val d1 = partitionDirs(v1)
    assert(d1.nonEmpty)
    assert(d1.map(_.replace("/v1", "")) ==
      partitionDirs(v2).map(_.replace("/v2", "")))
    // identical parsed content through the same reader
    val c1 = canon(v1)
    assert(c1.size == 5) // 5 fixture payload rows
    assert(c1 == canon(v2))
  }

  test("job commit publishes a manifest; the gated read path sees the files") {
    val lake = Files.createTempDirectory("lakev2m").toString
    rawFixture.select(col("city"), col("ds"), col("hour"),
        to_json(struct(col("latitude"), col("longitude"), col("timezone"),
          col("hourly"), col("_ingested_at"))).as("raw_json"))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val manifests = new File(s"$lake/_manifests").listFiles()
      .filter(_.getName.startsWith("manifest-"))
    assert(manifests.length == 1, "job commit must publish exactly one manifest")
    assert(new File(s"$lake/_manifests").listFiles()
      .forall(!_.getName.endsWith(".tmp")), "temp manifest must be renamed away")
    val committed = graft.sources.WeatherLakeV2Sink.committedFiles(lake)
    assert(committed.nonEmpty)
    // gated read returns every written line (5 fixture payload rows)
    assert(graft.sources.WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5)
  }

  test("a job that dies between task commit and job commit leaves no visible files") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val lake = Files.createTempDirectory("lakev2orphan").toString
    // first, a COMPLETED job (manifest published)
    rawFixture.limit(2).select(col("city"), col("ds"), col("hour"),
        to_json(struct(col("latitude"), col("longitude"))).as("raw_json"))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val visibleBefore = graft.sources.WeatherLakeV2Sink.readCommitted(spark, lake).count()
    assert(visibleBefore == 2)
    // now simulate the crash: drive the writer directly — the TASK commits
    // (files are on disk under final names) but the JOB never commits, so
    // no manifest for it is ever published
    val w = new graft.sources.WeatherLakeV2Sink.LakeWriterFactory(lake)
      .createWriter(partitionId = 0, taskId = 99L)
    w.write(InternalRow(
      UTF8String.fromString("Ghostville"), UTF8String.fromString("2025-10-31"),
      UTF8String.fromString("23"), UTF8String.fromString("{\"orphan\":true}")))
    w.commit() // task-level commit only; job dies here
    // the orphan file IS physically present...
    val orphanDir = new File(s"$lake/city=Ghostville/ds=2025-10-31/hour=23")
    assert(orphanDir.isDirectory && orphanDir.listFiles().nonEmpty,
      "orphan task file should exist on disk")
    // ...but the manifest-gated read path must not surface it
    assert(graft.sources.WeatherLakeV2Sink.committedFiles(lake)
      .forall(!_.contains("Ghostville")))
    assert(graft.sources.WeatherLakeV2Sink.readCommitted(spark, lake).count()
      == visibleBefore)
  }

  test("manifest-cursor incremental read consumes each job exactly once") {
    import graft.sources.WeatherLakeV2Sink
    val base = Files.createTempDirectory("lakev2cursor").toString
    val lake = s"$base/lake"; val cursor = s"$base/cursor.txt"
    def sink(df: DataFrame): Unit =
      df.select(col("city"), col("ds"), col("hour"),
          to_json(struct(col("latitude"), col("longitude"))).as("raw_json"))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    // job 1 commits 2 rows
    sink(rawFixture.limit(2))
    val (first, m1) = WeatherLakeV2Sink.readNewCommits(spark, lake, cursor)
    assert(first.count() == 2 && m1.length == 1)
    // an unadvanced cursor REPLAYS (at-least-once) — it never skips
    assert(WeatherLakeV2Sink.readNewCommits(spark, lake, cursor)._1.count() == 2)
    WeatherLakeV2Sink.advanceCursor(cursor, m1)
    // nothing new → empty batch, no manifests
    val (empty, m2) = WeatherLakeV2Sink.readNewCommits(spark, lake, cursor)
    assert(empty.count() == 0 && m2.isEmpty)
    // job 2 commits 3 more rows; only ITS rows surface
    sink(rawFixture.limit(3))
    val (second, m3) = WeatherLakeV2Sink.readNewCommits(spark, lake, cursor)
    assert(second.count() == 3 && m3.length == 1 && m3 != m1)
    WeatherLakeV2Sink.advanceCursor(cursor, m3)
    assert(WeatherLakeV2Sink.readNewCommits(spark, lake, cursor)._1.count() == 0)
    // the full gated read still sees both jobs
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5)
  }

  test("compaction collapses multi-file partitions; pre-compaction readers stay safe") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2compact").toString
    def sink(df: DataFrame): Unit =
      df.select(col("city"), col("ds"), col("hour"),
          to_json(struct(col("latitude"), col("longitude"))).as("raw_json"))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    // two committed jobs over the SAME partitions → ≥2 files per dir
    sink(rawFixture.limit(3))
    sink(rawFixture.limit(3))
    val before = WeatherLakeV2Sink.committedFiles(lake)
    val rowsBefore = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rowsBefore.size == 6)
    val dirsWithManyFiles = before.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .count(_._2.size > 1)
    assert(dirsWithManyFiles > 0, "fixture must produce multi-file partitions")

    val compacted = WeatherLakeV2Sink.compact(spark, lake)
    assert(compacted == dirsWithManyFiles)

    // committed view: same rows, now at most one file per partition dir
    val after = WeatherLakeV2Sink.committedFiles(lake)
    assert(after.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .forall(_._2.size == 1), "a partition dir still has multiple live files")
    assert(WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq == rowsBefore)

    // CONCURRENT-READER SAFETY: a reader that resolved the file list
    // before the compaction publish must still find every old file intact
    assert(before.forall(f => new File(f).isFile),
      "compaction must not delete superseded data files")
    assert(spark.read.text(before: _*).count() == 6)

    // idempotent: nothing left to compact
    assert(WeatherLakeV2Sink.compact(spark, lake) == 0)

    // a job committing AFTER compaction stays live alongside the
    // compacted view
    sink(rawFixture.limit(2))
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 8)

    // vacuum reclaims the superseded files (readers drained) and keeps
    // every live one; the committed view is unaffected
    val removed = WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true)
    assert(removed == before.size,
      s"expected ${before.size} superseded files reclaimed, got $removed")
    assert(WeatherLakeV2Sink.committedFiles(lake).forall(f => new File(f).isFile))
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 8)
  }

  test("pruned incremental read opens only matching files yet consumes " +
      "whole manifests") {
    import graft.sources.WeatherLakeV2Sink
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("lakev2curprune").toString
    val lake = s"$base/lake"; val cursor = s"$base/cursor.txt"
    def sink(rows: (String, String, String, String)*): Unit =
      rows.toSeq.toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    sink(("london", "2025-10-31", "03", """{"n":1}"""),
      ("paris", "2025-10-31", "03", """{"n":2}"""))
    sink(("london", "2025-10-31", "04", """{"n":3}"""))
    val (df, fresh) = WeatherLakeV2Sink.readNewCommitsPruned(
      spark, lake, cursor)(pv => pv.get("city").contains("london"))
    // only london rows are read... but BOTH manifests count as consumed
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("""{"n":1}""", """{"n":3}"""))
    assert(fresh.length == 2)
    WeatherLakeV2Sink.advanceCursor(cursor, fresh)
    // nothing new for ANY predicate afterwards — consumption is
    // manifest-granular, pruning never affects progress
    val (df2, fresh2) = WeatherLakeV2Sink.readNewCommitsPruned(
      spark, lake, cursor)(_ => true)
    assert(df2.count() == 0 && fresh2.isEmpty)
  }

  test("compaction rolls output at targetBytes and converges instead of churning") {
    import graft.sources.WeatherLakeV2Sink
    val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("lakev2roll").toString
    // 12 one-row jobs into ONE partition dir → 12 tiny files (~10 B each)
    def sink(i: Int): Unit =
      Seq(("london", "2025-10-31", "03", s"""{"n":$i}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    (0 until 12).foreach(sink)
    val rowsBefore = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rowsBefore.size == 12)
    // rows are ~8 bytes + newline; a 40-byte target forces rolling
    val target = 40L
    assert(WeatherLakeV2Sink.compact(spark, lake, targetBytes = target) == 1)
    val after = WeatherLakeV2Sink.committedFiles(lake)
    assert(after.size > 1, "a hot directory must compact to BOUNDED files, not one")
    assert(after.forall(f => new File(f).length() <= target + 16),
      "every rolled file must respect the target (+ one row of slack)")
    assert(WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq == rowsBefore)
    // convergence: the dir is multi-file but HEALTHY now (mean size >=
    // target/2) — a second maintenance run must be a no-op
    assert(WeatherLakeV2Sink.compact(spark, lake, targetBytes = target) == 0,
      "compaction must not churn an already-healthy directory")
  }

  test("snapshot-pinned reads: repeatable across appends AND compaction; " +
    "vacuum is the documented horizon") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2asof").toString
    def sink(df: DataFrame): Unit =
      df.select(col("city"), col("ds"), col("hour"),
          to_json(struct(col("latitude"), col("longitude"))).as("raw_json"))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.getString(0)).sorted.toSeq

    sink(rawFixture.limit(3))
    val snap1 = WeatherLakeV2Sink.snapshot(lake)
    val v1 = rows(WeatherLakeV2Sink.readCommitted(spark, lake))
    assert(v1.size == 3)

    sink(rawFixture.limit(3)) // same partitions again → multi-file dirs
    val snap2 = WeatherLakeV2Sink.snapshot(lake)
    val v2 = rows(WeatherLakeV2Sink.readCommitted(spark, lake))
    assert(v2.size == 6)

    // a held snapshot is a version pin: snap1 still reads exactly v1
    assert(rows(WeatherLakeV2Sink.readAsOf(spark, lake, snap1)) == v1)

    // compaction rewrites the CURRENT view; both held snapshots read
    // their original rows (their manifests aren't superseded within the
    // captured set, and the superseded files survive until vacuum)
    assert(WeatherLakeV2Sink.compact(spark, lake) > 0)
    assert(rows(WeatherLakeV2Sink.readAsOf(spark, lake, snap1)) == v1)
    assert(rows(WeatherLakeV2Sink.readAsOf(spark, lake, snap2)) == v2)

    // a snapshot taken AFTER compaction honors the supersedes directive
    // within its own set — no duplicates from old + replacement manifests
    val snap3 = WeatherLakeV2Sink.snapshot(lake)
    assert(rows(WeatherLakeV2Sink.readAsOf(spark, lake, snap3)) == v2)

    // later appends are invisible to every held snapshot
    sink(rawFixture.limit(2))
    assert(rows(WeatherLakeV2Sink.readAsOf(spark, lake, snap2)) == v2)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 8)

    // vacuum invalidates snapshots older than the compaction (their data
    // files are reclaimed) while post-compaction snapshots keep working:
    // snap3 resolves through the superseding manifest, snap1's manifests
    // are gone WITHOUT a replacement inside its captured set, so the read
    // fails loudly instead of returning a silently partial table — the
    // explicit durability horizon every lake format documents
    assert(WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true) > 0)
    assert(rows(WeatherLakeV2Sink.readAsOf(spark, lake, snap3)) == v2)
    val err = intercept[IllegalStateException] {
      WeatherLakeV2Sink.readAsOf(spark, lake, snap1)
    }
    assert(err.getMessage.contains("vacuum horizon"))
  }

  test("vacuum adversarial: a pre-compaction reader keeps the old set under " +
    "the age guard, or fails LOUDLY after reclaim — never a silent subset") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2vacuum").toString
    def sink(df: DataFrame): Unit =
      df.select(col("city"), col("ds"), col("hour"),
          to_json(struct(col("latitude"), col("longitude"))).as("raw_json"))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    sink(rawFixture.limit(3))
    sink(rawFixture.limit(3)) // same partitions again → multi-file dirs
    // the adversary: a reader resolves its file list BEFORE compaction
    val preList = WeatherLakeV2Sink.committedFiles(lake)
    assert(WeatherLakeV2Sink.compact(spark, lake) > 0)

    // age-guarded vacuum (readers may still be draining): nothing
    // reclaimed, the pre-compaction list stays fully readable
    assert(WeatherLakeV2Sink.vacuum(lake, minAgeMs = 3600000L, force = true) == 0)
    assert(spark.read.text(preList: _*).count() == 6,
      "age-guarded vacuum must leave the old snapshot fully scannable")
    // the age guard must NOT orphan the survivors: their superseded
    // manifests stay until the files are actually reclaimed, so a later
    // unguarded vacuum can still find and delete them
    val unreferencedYoung = new File(s"$lake/_inflight_orphan.json")
    Files.write(unreferencedYoung.toPath, "{}\n".getBytes)
    val removed = WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true)
    assert(removed == preList.size,
      s"expected the ${preList.size} superseded files reclaimed on the " +
        s"second (unguarded) pass, got $removed — age-guarded vacuum " +
        "orphaned them")
    // vacuum only ever touches manifest-referenced files: the unpublished
    // in-flight file is not its to delete
    assert(unreferencedYoung.isFile,
      "vacuum must never delete files no manifest references")

    // drained-readers precondition violated: the stale list now fails
    // LOUDLY at scan (missing input path) instead of silently returning
    // whichever subset survived
    val err = intercept[Throwable] {
      spark.read.text(preList: _*).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(t =>
        t.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(t.getMessage).contains("PATH_NOT_FOUND") ||
          String.valueOf(t.getMessage).contains("does not exist")),
      s"expected a loud missing-path failure, got: $err")
    // the live view is untouched throughout
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 6)
  }

  test("manifest-level partition pruning: predicate filters the file list " +
    "before any IO; un-partitioned files are never silently pruned") {
    val Sink = graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2p").toString
    rawFixture.select(col("city"), col("ds"), col("hour"),
        to_json(struct(col("latitude"), col("longitude"), col("timezone"),
          col("hourly"), col("_ingested_at"))).as("raw_json"))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val all = Sink.committedFiles(lake)
    val cities = all.map(f => Sink.partitionValues(lake, f)("city")).distinct
    assert(cities.size > 1, "fixture must span multiple cities")
    val target = cities.min
    // the predicate prunes the LIST itself — strictly fewer files, all
    // of the target city, before a single byte of data is opened
    val pruned = Sink.committedFilesPruned(lake)(_.get("city").contains(target))
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(pruned.forall(f => Sink.partitionValues(lake, f)("city") == target))
    // same rows as reading the pruned file set directly
    val prunedRows = Sink.readCommittedPruned(spark, lake)(
        _.get("city").contains(target))
      .collect().map(_.getString(0)).toSet
    val expected = spark.read.textFile(pruned: _*).collect().toSet
    assert(prunedRows.nonEmpty && prunedRows == expected)
    // and the scan really only touched the target city's files
    val touched = Sink.readCommittedPruned(spark, lake)(
        _.get("city").contains(target))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty &&
      touched.forall(_.contains(s"city=$target/")),
      s"pruned scan touched foreign files: ${touched.mkString(", ")}")
    // a committed file OUTSIDE any k=v directory must survive every
    // predicate — pruning on absent information would lose data
    val barePath = new java.io.File(s"$lake/stray.json")
    java.nio.file.Files.writeString(barePath.toPath, "{\"x\":1}\n")
    java.nio.file.Files.writeString(
      new java.io.File(s"$lake/_manifests/manifest-stray.txt").toPath,
      barePath.getAbsolutePath + "\n")
    val withBare = Sink.committedFilesPruned(lake)(_ => false)
    assert(withBare.exists(_.endsWith("stray.json")),
      "un-partitioned committed files must be kept under any predicate")
  }

  test("partition values are relative to the lake root: k=v in the base " +
      "path is not a partition, and bare files survive every predicate") {
    val Sink = graft.sources.WeatherLakeV2Sink
    val base = Files.createTempDirectory("lakev2eqbase").toString
    // a lake rooted under a directory that itself contains '='
    val lake = s"$base/env=prod/lake"
    rawFixture.limit(2).select(col("city"), col("ds"), col("hour"),
        to_json(struct(col("latitude"))).as("raw_json"))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val files = Sink.committedFiles(lake)
    assert(files.nonEmpty)
    files.foreach { f =>
      val pv = Sink.partitionValues(lake, f)
      assert(pv.keySet == Set("city", "ds", "hour"),
        s"base-path segments must not leak into partition values: $pv")
    }
    // a predicate keyed on exact partition-key sets must not be poisoned
    // by phantom env=prod entries
    val pruned = Sink.committedFilesPruned(lake)(pv =>
      pv.keySet == Set("city", "ds", "hour"))
    assert(pruned.toSet == files.toSet)
    // a bare file committed at the lake root has NO partition values and
    // survives any predicate (never pruned on absent information)
    val bare = new org.apache.hadoop.fs.Path(s"$lake/bare-file.json")
    val fs = bare.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(bare, false); out.write("{}\n".getBytes("UTF-8")); out.close()
    java.nio.file.Files.write(
      new File(s"$lake/${Sink.ManifestDir}/manifest-barejob.txt").toPath,
      (bare.toString + "\n").getBytes("UTF-8"))
    val prunedAll = Sink.committedFilesPruned(lake)(_ => false)
    assert(prunedAll == Seq(bare.toString),
      "the bare file must be the only survivor of an all-false predicate")
  }

  test("a sibling path sharing the base as a string prefix never " +
      "mis-relativizes into phantom partition values") {
    val Sink = graft.sources.WeatherLakeV2Sink
    // /tmp/…/lake vs /tmp/…/lake2: a bare startsWith would strip the
    // shorter base and misparse '2/city=x'; the true-descendant guard
    // must treat the sibling as outside the root entirely (empty map →
    // always survives pruning, never pruned on misparsed segments)
    val base = Files.createTempDirectory("lakev2sib").toString
    val lake = s"$base/lake"
    val sibling = s"$base/lake2/city=x/part-0.json"
    assert(Sink.partitionValues(lake, sibling).isEmpty,
      "a non-descendant file must carry no partition values")
    // and a path with an '=' straddling the boundary cannot invent keys
    val straddle = s"$base/lake=archive/ds=9/part-0.json"
    assert(Sink.partitionValues(lake, straddle).isEmpty)
    // true descendants still parse exactly their below-base segments
    assert(Sink.partitionValues(lake, s"$lake/city=a/ds=1/f.json") ==
      Map("city" -> "a", "ds" -> "1"))
  }

  test("sweepOrphans reclaims manifest-less files only, respects the age " +
      "guard, and never touches referenced or hidden files") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2orph").toString
    val s = spark
    import s.implicits._
    Seq(("a", "2024-01-01", "00", """{"k":1}"""))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    // an orphan: a data file no manifest references (died attempt / race
    // loser), plus a hidden in-progress file
    val orphan = new File(s"$lake/city=a/ds=2024-01-01/hour=00/part-lost.json")
    java.nio.file.Files.writeString(orphan.toPath, "{\"k\":9}\n")
    val hidden = new File(s"$lake/city=a/.inprogress-x.json")
    java.nio.file.Files.writeString(hidden.toPath, "{}\n")
    // too young: the age guard protects possible in-flight work
    assert(WeatherLakeV2Sink.sweepOrphans(lake, minAgeMs = 3600L * 1000) == 0)
    assert(orphan.exists())
    // old enough: the orphan goes, the referenced file and hidden file stay
    assert(orphan.setLastModified(System.currentTimeMillis() - 7200L * 1000))
    assert(WeatherLakeV2Sink.sweepOrphans(lake, minAgeMs = 3600L * 1000) == 1)
    assert(!orphan.exists() && hidden.exists())
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 1)
    // a zero/negative guard refuses loudly
    intercept[IllegalArgumentException] {
      WeatherLakeV2Sink.sweepOrphans(lake, minAgeMs = 0)
    }
  }

  test("snapshotAt reads the table at version N of the commit history " +
      "and refuses out-of-range versions") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2ver").toString
    val s = spark
    import s.implicits._
    def sink(tag: String): Unit = {
      Seq(("a", "2024-01-01", "00", s"""{"t":"$tag"}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
      Thread.sleep(5) // distinct mtimes: commit order must be observable
    }
    sink("v0"); sink("v1"); sink("v2")
    def tagsAt(n: Int): Set[String] =
      WeatherLakeV2Sink.readAsOf(spark, lake,
          WeatherLakeV2Sink.snapshotAt(lake, n))
        .collect().map(_.getString(0)).toSet
    assert(tagsAt(0) == Set("""{"t":"v0"}"""))
    assert(tagsAt(1) == Set("""{"t":"v0"}""", """{"t":"v1"}"""))
    assert(tagsAt(2) ==
      Set("""{"t":"v0"}""", """{"t":"v1"}""", """{"t":"v2"}"""))
    intercept[IllegalArgumentException] {
      WeatherLakeV2Sink.snapshotAt(lake, 3)
    }
    intercept[IllegalArgumentException] {
      WeatherLakeV2Sink.snapshotAt(lake, -1)
    }
  }

  test("incremental reads compose with BOTH pruning legs (partition + " +
      "stats) without changing progress semantics") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2incst").toString
    val cursor = s"$lake/../${new File(lake).getName}.cursor"
    val s = spark
    import s.implicits._
    def sink(city: String, v: Long): Unit =
      Seq((city, "2024-01-01", "00", s"""{"v":$v}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("statsFields", "v")
        .mode("append").save(lake)
    sink("a", 5); sink("a", 500); sink("b", 7)
    // consume with: partition = city a only, stats = v <= 100 only
    val (df, fresh) = WeatherLakeV2Sink.readNewCommitsPrunedBy(
        spark, lake, cursor)(
        _.get("city").forall(_ == "a"))(
        _.get("v").forall(_.overlaps(None, Some("100"))))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("""{"v":5}"""),
      "only the low-v city=a file may be opened")
    // ALL fresh manifests are consumed regardless of pruning
    assert(fresh.size == 3)
    WeatherLakeV2Sink.advanceCursor(cursor, fresh)
    val (df2, fresh2) = WeatherLakeV2Sink.readNewCommitsPrunedBy(
        spark, lake, cursor)(_ => true)(_ => true)
    assert(fresh2.isEmpty && df2.isEmpty)
  }

  test("mergeCommitted: copy-on-write upsert matches the functional " +
      "truth, rewrites only touched files, and old snapshots survive") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2merge").toString
    val s = spark
    import s.implicits._
    def payload(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("city", "k", "v").select(col("city"),
        lit("2024-01-01").as("ds"), lit("00").as("hour"),
        to_json(struct(col("k"), col("v"))).as("raw_json"))
    // base: two partitions (cities), keys 1..4
    payload(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L), ("b", 4L, 40L)))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val preMerge = WeatherLakeV2Sink.snapshot(lake)
    val filesBefore = WeatherLakeV2Sink.committedFiles(lake)
    // delta: update key 2 (city a), insert key 9 (city c)
    val delta = payload(Seq(("a", 2L, 999L))) unionByName
      payload(Seq(("c", 9L, 90L)))
    val stats = WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.k"))
    def kv(df: DataFrame): Map[Long, Long] = df.select(
        get_json_object(col("value"), "$.k").cast("long"),
        get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // functional dedupUpsert truth: delta wins on key overlap, new keys append
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) ==
      Map(1L -> 10L, 2L -> 999L, 3L -> 30L, 4L -> 40L, 9L -> 90L))
    // only city=a's file held key 2; city=b's file must be re-listed
    // verbatim, never rewritten
    assert(stats.touchedFiles == 1, stats.toString)
    val filesAfter = WeatherLakeV2Sink.committedFiles(lake)
    val bFiles = filesBefore.filter(_.contains("city=b/"))
    assert(bFiles.nonEmpty && bFiles.forall(filesAfter.contains),
      "untouched files must survive under their original paths")
    val replaced = filesBefore.toSet -- filesAfter.toSet
    assert(replaced.size == 1 && replaced.head.contains("city=a/"),
      s"exactly the one file holding key 2 must be replaced: $replaced")
    // a reader pinned before the merge still sees the old table
    // (old-or-new, never a mix; superseded data files await vacuum)
    assert(kv(WeatherLakeV2Sink.readAsOf(spark, lake, preMerge)) ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    // idempotent: re-merging the same delta changes nothing
    WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.k"))
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) ==
      Map(1L -> 10L, 2L -> 999L, 3L -> 30L, 4L -> 40L, 9L -> 90L))
  }

  test("deleteCommitted: copy-on-write delete removes exactly the " +
      "matching rows, keeps null-predicate rows, prunes candidates, " +
      "and a no-op publishes no manifest") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2del").toString
    val s = spark
    import s.implicits._
    def payload(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("city", "k", "v").select(col("city"),
        lit("2024-01-01").as("ds"), lit("00").as("hour"),
        to_json(struct(col("k"), col("v"))).as("raw_json"))
    // three partitions; city=c's row is missing the v field entirely,
    // so a predicate on v evaluates to NULL there
    payload(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    Seq(("c", "2024-01-01", "00", """{"k":9}"""))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val preDelete = WeatherLakeV2Sink.snapshot(lake)
    val filesBefore = WeatherLakeV2Sink.committedFiles(lake)
    def kv(df: DataFrame): Map[Long, Option[Long]] = df.select(
        get_json_object(col("value"), "$.k").cast("long"),
        get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // delete v >= 20: hits k=2 (city a) and k=3 (city b); k=9 has no v
    // (predicate NULL) and MUST be kept — SQL DELETE null semantics
    val vPred = (f: DataFrame) =>
      get_json_object(f("raw_json"), "$.v").cast("long") >= 20
    val stats = WeatherLakeV2Sink.deleteCommitted(spark, lake, vPred)
    assert(stats.touchedFiles == 2 && stats.deletedRows == 2L, stats.toString)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) ==
      Map(1L -> Some(10L), 9L -> None))
    // city=b's file lost its only row: it simply vanishes (no empty
    // rewrite); city=c was untouched and keeps its original path
    val filesAfter = WeatherLakeV2Sink.committedFiles(lake)
    assert(!filesAfter.exists(_.contains("city=b/")),
      s"a fully-deleted file must drop out of the view: $filesAfter")
    assert(filesBefore.filter(_.contains("city=c/")) ==
      filesAfter.filter(_.contains("city=c/")),
      "untouched files must survive under their original paths")
    // a reader pinned before the delete still sees every row
    assert(kv(WeatherLakeV2Sink.readAsOf(spark, lake, preDelete)).keySet ==
      Set(1L, 2L, 3L, 9L))
    // idempotent: re-deleting matches nothing AND publishes no manifest
    val manifestsBefore = WeatherLakeV2Sink.manifestNames(lake).size
    val again = WeatherLakeV2Sink.deleteCommitted(spark, lake, vPred)
    assert(again == WeatherLakeV2Sink.DeleteStats(0, 0, 0L))
    assert(WeatherLakeV2Sink.manifestNames(lake).size == manifestsBefore,
      "a no-op delete must not grow the manifest history")
    // driver-side candidate pruning: a partition prune that rules out
    // every remaining file reads nothing and changes nothing
    val pruned = WeatherLakeV2Sink.deleteCommitted(spark, lake,
      _ => lit(true), prune = (pv, _) => pv.get("city").contains("zzz"))
    assert(pruned == WeatherLakeV2Sink.DeleteStats(0, 0, 0L))
    // and a stats prune: tag city=a's survivor with stats via merge? —
    // simpler: prune on partition values keeps ONLY city=c, whose row
    // never matches vPred, so the view is unchanged but the candidate
    // walk was restricted (deleting with an always-true predicate
    // restricted to city=c removes exactly k=9)
    val scoped = WeatherLakeV2Sink.deleteCommitted(spark, lake,
      _ => lit(true), prune = (pv, _) => pv.get("city").forall(_ == "c"))
    assert(scoped.touchedFiles == 1 && scoped.deletedRows == 1L)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) ==
      Map(1L -> Some(10L)))
  }

  test("deleteCommitted re-lists untouched entry lines verbatim (stats " +
      "survive) and serializes on the maintenance lock") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2delstats").toString
    val s = spark
    import s.implicits._
    def sink(rows: Seq[(String, Long)]): Unit =
      rows.toDF("city", "v").select(col("city"),
          lit("2024-01-01").as("ds"), lit("00").as("hour"),
          to_json(struct(col("v"))).as("raw_json"))
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("statsFields", "v")
        .mode("append").save(lake)
    sink(Seq(("a", 1L), ("a", 2L)))
    sink(Seq(("b", 100L)))
    val bLine = WeatherLakeV2Sink.committedEntryLines(lake)
      .filter(_.contains("city=b"))
    assert(bLine.size == 1 && bLine.head.contains("\t"),
      s"fixture must carry a stats payload: $bLine")
    // stats-driven candidate pruning: v<=50 rules city=b out on the
    // DRIVER — its entry line survives verbatim, stats intact
    val st = WeatherLakeV2Sink.deleteCommitted(spark, lake,
      f => get_json_object(f("raw_json"), "$.v").cast("long") <= 50,
      prune = (_, stats) => stats.get("v").forall(_.overlaps(None, Some("50"))))
    assert(st.touchedFiles == 1 && st.deletedRows == 2L, st.toString)
    assert(WeatherLakeV2Sink.committedEntryLines(lake)
        .filter(_.contains("city=b")) == bLine,
      "untouched entries must be re-listed verbatim, stats intact")
    // the maintenance lock serializes delete against merge/compact
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val lock = new org.apache.hadoop.fs.Path(
      s"$lake/${WeatherLakeV2Sink.ManifestDir}/.maintenance.lock")
    val out = fs.create(lock, false)
    out.write("test 99999999999999\n".getBytes("UTF-8")); out.close()
    try intercept[java.util.ConcurrentModificationException] {
      WeatherLakeV2Sink.deleteCommitted(spark, lake, _ => lit(true))
    } finally fs.delete(lock, false)
  }

  test("per-file stats in the manifest: a range predicate shrinks the " +
      "touched-file list with row parity; stats survive maintenance") {
    import graft.sources.WeatherLakeV2Sink
    import graft.sources.WeatherLakeV2Sink.FieldStats
    val lake = Files.createTempDirectory("lakev2stats").toString
    val s = spark
    import s.implicits._
    def sink(rows: Seq[(String, String, Long)]): Unit =
      rows.toDF("city", "ts", "v").select(col("city"),
          lit("2024-01-01").as("ds"), lit("00").as("hour"),
          to_json(struct(col("ts"), col("v"))).as("raw_json"))
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("statsFields", "ts,v")
        .mode("append").save(lake)
    // two batches into the SAME partition, disjoint ts/v ranges — exactly
    // where partition pruning is blind and stats skipping is not
    sink(Seq(("a", "2024-01-01T00:00:00", 1L), ("a", "2024-01-02T00:00:00", 9L)))
    sink(Seq(("a", "2024-03-01T00:00:00", 100L), ("a", "2024-03-02T00:00:00", 110L)))
    // and a single-file partition compaction will never touch
    sink(Seq(("solo", "2024-06-01T00:00:00", 7L)))
    val all = WeatherLakeV2Sink.committedFiles(lake)
    assert(all.size == 3)
    // lexical range on the ISO ts: only the March file can match
    def tsFrom(lo: String)(st: Map[String, FieldStats]): Boolean =
      st.get("ts").forall(_.overlaps(Some(lo), None))
    val march = WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(tsFrom("2024-02-01"))
    assert(march.size == 2 && march.exists(_.contains("city=solo")),
      s"expected the March + solo files only: $march")
    // row parity with the unpruned read under the same predicate
    val prunedRows = WeatherLakeV2Sink.readCommittedStatsPruned(spark, lake)(
        tsFrom("2024-02-01"))
      .select(get_json_object(col("value"), "$.ts").as("ts"))
      .filter(col("ts") >= "2024-02-01").collect().map(_.getString(0)).sorted
    val fullRows = WeatherLakeV2Sink.readCommitted(spark, lake)
      .select(get_json_object(col("value"), "$.ts").as("ts"))
      .filter(col("ts") >= "2024-02-01").collect().map(_.getString(0)).sorted
    assert(prunedRows.sameElements(fullRows) && prunedRows.length == 3)
    // numeric range on v: only the first file holds v <= 50
    val low = WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(
      _.get("v").forall(_.overlaps(None, Some("50"))))
    assert(low.size == 2, s"v<=50 must keep the Jan + solo files: $low")
    assert(low.forall(f => !march.take(1).contains(f)) || low.size == 2)
    // a committed file with NO stats survives every stats predicate
    val bare = new File(s"$lake/nostats.json")
    java.nio.file.Files.writeString(bare.toPath, "{\"ts\":\"1999-01-01\"}\n")
    java.nio.file.Files.writeString(
      new File(s"$lake/${WeatherLakeV2Sink.ManifestDir}/manifest-ns.txt").toPath,
      bare.getAbsolutePath + "\n")
    assert(WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(_ => false)
      .exists(_.endsWith("nostats.json")),
      "stats-less files must never be pruned")
    // maintenance: compact rewrites the multi-file dir (its replacement
    // carries no stats — honest absence), but the untouched solo file
    // keeps its stats line verbatim
    assert(WeatherLakeV2Sink.compact(spark, lake, targetBytes = 4096) == 1)
    val soloStats = WeatherLakeV2Sink.committedEntryLines(lake)
      .filter(_.contains("city=solo"))
    assert(soloStats.size == 1 && WeatherLakeV2Sink.lineStats(soloStats.head)
        .get("v").exists(_.overlaps(Some("7"), Some("7"))),
      s"solo file must keep its stats through compaction: $soloStats")
    // merge: touching only city=a leaves solo's stats intact too
    val delta = Seq(("a", "2024-01-01", "00", """{"ts":"2024-01-01T00:00:00","v":2}"""))
      .toDF("city", "ds", "hour", "raw_json")
    WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.ts"))
    val soloAfter = WeatherLakeV2Sink.committedEntryLines(lake)
      .filter(_.contains("city=solo"))
    assert(soloAfter == soloStats,
      "merge must re-list untouched entries verbatim, stats intact")
  }

  test("native streaming sink: one manifest per epoch, exactly-once " +
      "under duplicate epoch delivery, restarts continue cleanly") {
    import graft.sources.WeatherLakeV2Sink
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = Files.createTempDirectory("lakev2streamsink").toString
    val lake = s"$base/lake"
    val input = MemoryStream[(String, String, String, String)]
    def run(ckpt: String): Unit = {
      val q = input.toDF().toDF("city", "ds", "hour", "raw_json")
        .writeStream.format("graft.sources.WeatherLakeV2Sink")
        .option("checkpointLocation", ckpt)
        .option("manifestId", "fixedq")
        .trigger(Trigger.AvailableNow())
        .start(lake)
      q.awaitTermination()
    }
    def ks: Seq[Long] = WeatherLakeV2Sink.readCommitted(spark, lake)
      .select(get_json_object(col("value"), "$.k").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    input.addData(("a", "2024-01-01", "00", """{"k":1}"""),
      ("a", "2024-01-01", "00", """{"k":2}"""))
    run(s"$base/ckpt1")
    assert(WeatherLakeV2Sink.manifestExists(lake, "fixedq-0"),
      "epoch 0 must publish under <id>-<epoch>")
    assert(ks == Seq(1L, 2L))
    // the SAME epoch re-delivered (a fresh checkpoint replays the memory
    // stream from offset 0): the replay's manifest name collides with
    // the committed one, publication short-circuits, rows do NOT double
    run(s"$base/ckpt2")
    assert(ks == Seq(1L, 2L),
      "a replayed epoch must short-circuit on the existing manifest")
    // ...and its data files are the documented orphan class
    Thread.sleep(10)
    assert(WeatherLakeV2Sink.sweepOrphans(lake, minAgeMs = 1) >= 1,
      "the replay's unreferenced files must be sweepable")
    assert(ks == Seq(1L, 2L))
    // a restart with NEW data continues on the original checkpoint:
    // epoch 1, fresh manifest, rows append exactly once
    input.addData(("b", "2024-01-01", "01", """{"k":3}"""))
    run(s"$base/ckpt1")
    assert(WeatherLakeV2Sink.manifestExists(lake, "fixedq-1"))
    assert(ks == Seq(1L, 2L, 3L))
  }

  test("checkpointManifests: metadata-only rollup — same rows, stats " +
      "verbatim, history collapses to one file after vacuum") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2ckpt").toString
    val s = spark
    import s.implicits._
    def sink(tag: String, v: Long): Unit =
      Seq((tag, v)).toDF("city", "v").select(col("city"),
          lit("2024-01-01").as("ds"), lit("00").as("hour"),
          to_json(struct(col("v"))).as("raw_json"))
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("statsFields", "v")
        .mode("append").save(lake)
    (1 to 5).foreach(i => sink(s"c$i", i.toLong * 10))
    assert(WeatherLakeV2Sink.liveManifests(lake).size == 5)
    val entriesBefore = WeatherLakeV2Sink.committedEntryLines(lake).sorted
    val dataFiles = WeatherLakeV2Sink.committedFiles(lake).toSet
    // the rollup: zero data IO — every data file survives under its path
    assert(WeatherLakeV2Sink.checkpointManifests(lake) == 5)
    assert(WeatherLakeV2Sink.liveManifests(lake).size == 1)
    assert(WeatherLakeV2Sink.committedEntryLines(lake).sorted == entriesBefore,
      "entry lines (incl. stats) must be re-listed verbatim")
    assert(WeatherLakeV2Sink.committedFiles(lake).toSet == dataFiles)
    // already-checkpointed lakes publish nothing
    val manifests = WeatherLakeV2Sink.manifestNames(lake).size
    assert(WeatherLakeV2Sink.checkpointManifests(lake) == 0)
    assert(WeatherLakeV2Sink.manifestNames(lake).size == manifests)
    // vacuum reclaims the superseded manifests but NO data files (all
    // live) — the metadata history is now one file
    WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true)
    assert(WeatherLakeV2Sink.manifestNames(lake).size == 1)
    assert(WeatherLakeV2Sink.committedFiles(lake).toSet == dataFiles)
    // appends after the checkpoint stack on top as usual
    sink("c9", 90L)
    assert(WeatherLakeV2Sink.liveManifests(lake).size == 2)
    assert(WeatherLakeV2Sink.committedFiles(lake).size == 6)
  }

  test("updateCommitted: copy-on-write transform hits exactly the " +
      "matching rows; null predicates and untouched files stay intact") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2upd").toString
    val s = spark
    import s.implicits._
    def payload(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("city", "k", "v").select(col("city"),
        lit("2024-01-01").as("ds"), lit("00").as("hour"),
        to_json(struct(col("k"), col("v"))).as("raw_json"))
    payload(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)))
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    // k=9 has no v: the v-predicate is NULL there and must leave it alone
    Seq(("c", "2024-01-01", "00", """{"k":9}"""))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    val preUpdate = WeatherLakeV2Sink.snapshot(lake)
    def kv(df: DataFrame): Map[Long, Option[Long]] = df.select(
        get_json_object(col("value"), "$.k").cast("long"),
        get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // redact v where v >= 20 (set to 0) — idempotent by construction
    val pred = (f: DataFrame) =>
      get_json_object(f("raw_json"), "$.v").cast("long") >= 20
    val redact = (f: DataFrame) => to_json(struct(
      get_json_object(f("raw_json"), "$.k").cast("long").as("k"),
      lit(0L).as("v")))
    val st = WeatherLakeV2Sink.updateCommitted(spark, lake, pred, redact)
    assert(st.touchedFiles == 2 && st.updatedRows == 2L, st.toString)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) ==
      Map(1L -> Some(10L), 2L -> Some(0L), 3L -> Some(0L), 9L -> None))
    // k=1 survives unchanged (verbatim if it shared k=2's file, untouched
    // otherwise); k=9's file is untouched and keeps its original path
    assert(WeatherLakeV2Sink.committedFiles(lake).exists(_.contains("city=c/")))
    // pinned pre-update snapshot still reads the old values
    assert(kv(WeatherLakeV2Sink.readAsOf(spark, lake, preUpdate))(2L) ==
      Some(20L))
    // idempotent redaction: second run matches nothing, publishes nothing
    val manifests = WeatherLakeV2Sink.manifestNames(lake).size
    assert(WeatherLakeV2Sink.updateCommitted(spark, lake, pred, redact) ==
      WeatherLakeV2Sink.UpdateStats(0, 0, 0L))
    assert(WeatherLakeV2Sink.manifestNames(lake).size == manifests)
  }

  test("changeLog = true: row-level ops publish classified change logs " +
      "atomically; GC protects live logs and reclaims superseded ones") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2chlog").toString
    val s = spark
    import s.implicits._
    def payload(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("city", "k", "v").select(col("city"),
        lit("2024-01-01").as("ds"), lit("00").as("hour"),
        to_json(struct(col("k"), col("v"))).as("raw_json"))
    val keyFn = (f: DataFrame) => get_json_object(f("raw_json"), "$.k")
    payload(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)))
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    def changesOf(manifestPrefix: String): Set[(String, Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
      val mdir = s"$lake/${WeatherLakeV2Sink.ManifestDir}"
      val names = new java.io.File(mdir).list().toSeq
        .filter(_.startsWith(manifestPrefix))
      assert(names.size == 1, s"$manifestPrefix: $names")
      val lines = scala.io.Source.fromFile(s"$mdir/${names.head}").getLines().toSeq
      val files = WeatherLakeV2Sink.changePaths(lines)
      assert(files.nonEmpty, s"$manifestPrefix must carry #changes: $lines")
      // parse without a Spark round-trip: split + a small regex
      spark.read.text(files: _*).collect().map(_.getString(0)).map { l =>
        val i = l.indexOf('\t')
        val json = l.drop(i + 1)
        def fld(f: String): Long =
          raw""""$f":(-?\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
            .getOrElse(Long.MinValue)
        (l.take(i), fld("k"), fld("v"))
      }.toSet
    }
    // merge with a change log: update k2 (differing), re-assert k1 with
    // the IDENTICAL value (suppressed), insert k9
    WeatherLakeV2Sink.mergeCommitted(spark, lake,
      payload(Seq(("a", 1L, 10L), ("a", 2L, 999L), ("c", 9L, 90L))), keyFn,
      changeLog = true)
    assert(changesOf("manifest-merge-") == Set(
      ("update_preimage", 2L, 20L), ("update_postimage", 2L, 999L),
      ("insert", 9L, 90L)))
    // update with a change log: k%3==0 -> v=k*100; k9 matches and
    // changes, k3 matches and changes; suppressions covered above
    WeatherLakeV2Sink.updateCommitted(spark, lake,
      predicate = f => get_json_object(f("raw_json"), "$.k").cast("long") % 3 === 0,
      transform = f => to_json(struct(
        get_json_object(f("raw_json"), "$.k").cast("long").as("k"),
        (get_json_object(f("raw_json"), "$.k").cast("long") * 100).as("v"))),
      changeLog = true)
    assert(changesOf("manifest-update-") == Set(
      ("update_preimage", 3L, 30L), ("update_postimage", 3L, 300L),
      ("update_preimage", 9L, 90L), ("update_postimage", 9L, 900L)))
    // delete with a change log
    WeatherLakeV2Sink.deleteCommitted(spark, lake,
      f => get_json_object(f("raw_json"), "$.k").cast("long") === 1,
      changeLog = true)
    assert(changesOf("manifest-delete-") == Set(("delete", 1L, 10L)))
    // GC: live change logs are neither orphans nor vacuum victims...
    Thread.sleep(10)
    WeatherLakeV2Sink.sweepOrphans(lake, minAgeMs = 1)
    WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true)
    assert(changesOf("manifest-delete-") == Set(("delete", 1L, 10L)),
      "the LIVE commit's change log must survive GC")
    // ...but a superseded commit's change log is reclaimed with its data
    val mergeLogs = new java.io.File(s"$lake/_changes").list()
      .count(_.startsWith("part-changes-merge-"))
    assert(mergeLogs == 0,
      "superseded change logs must be vacuumed with their commit")
  }

  test("readNewChanges: net row deltas since the cursor — no survivor " +
      "replay, maintenance commits net to zero") {
    import graft.sources.WeatherLakeV2Sink
    val base = Files.createTempDirectory("lakev2cdfinc").toString
    val lake = s"$base/lake"; val cursor = s"$base/cursor"
    val s = spark
    import s.implicits._
    def payload(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("city", "k", "v").select(col("city"),
        lit("2024-01-01").as("ds"), lit("00").as("hour"),
        to_json(struct(col("k"), col("v"))).as("raw_json"))
    val keyFn = (f: DataFrame) => get_json_object(f("raw_json"), "$.k")
    def feed(): (Set[(String, Long)], Seq[String]) = {
      val (df, fresh) = WeatherLakeV2Sink.readNewChanges(spark, lake, cursor, keyFn)
      (df.select(col("change"),
          get_json_object(col("value"), "$.k").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet, fresh)
    }
    payload(Seq(("a", 1L, 10L), ("a", 2L, 20L))).coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    payload(Seq(("b", 3L, 30L))).coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    // bootstrap: a fresh cursor classifies the whole table as inserts
    val (c0, f0) = feed()
    assert(c0 == Set(("insert", 1L), ("insert", 2L), ("insert", 3L)))
    WeatherLakeV2Sink.replaceCursor(cursor, f0)
    // steady state: nothing new, and the view-set is stable
    assert(feed() == (Set.empty, f0))
    // merge (update k2, insert k9) THEN delete (k3) before the next
    // read: the feed nets both commits; k1 shared k2's file and was
    // rewritten, but a survivor rewrite is NOT a change — the contrast
    // with readNewCommits, which would replay it
    WeatherLakeV2Sink.mergeCommitted(spark, lake,
      payload(Seq(("a", 2L, 999L), ("c", 9L, 90L))), keyFn)
    WeatherLakeV2Sink.deleteCommitted(spark, lake,
      f => get_json_object(f("raw_json"), "$.k").cast("long") === 3)
    val (c2, f2) = feed()
    assert(c2 == Set(("update_preimage", 2L), ("update_postimage", 2L),
      ("insert", 9L), ("delete", 3L)), c2.toString)
    // the returned cursor state is the LIVE resolution, not the raw
    // history — it never pins the vacuumable intermediates
    assert(f2 == WeatherLakeV2Sink.liveManifests(lake).sorted)
    WeatherLakeV2Sink.replaceCursor(cursor, f2)
    // a caught-up consumer SURVIVES routine vacuum: the superseded
    // intermediates (appends, the merge) are reclaimed, the feed
    // still resolves
    WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true)
    assert(feed() == (Set.empty, f2))
    // an append plus a compaction: the layout change nets to ZERO row
    // changes — only the genuinely new row surfaces
    payload(Seq(("a", 4L, 40L))).coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    assert(WeatherLakeV2Sink.compact(spark, lake) >= 1)
    val (c3, f3) = feed()
    assert(c3 == Set(("insert", 4L)),
      s"a compaction must net to zero row changes: $c3")
    WeatherLakeV2Sink.replaceCursor(cursor, f3)
    assert(feed() == (Set.empty, f3))
  }

  test("changesBetween: the change feed classifies insert/delete/update " +
      "from the file-set diff; survivor rewrites emit nothing") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2cdf").toString
    val s = spark
    import s.implicits._
    def payload(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("city", "k", "v").select(col("city"),
        lit("2024-01-01").as("ds"), lit("00").as("hour"),
        to_json(struct(col("k"), col("v"))).as("raw_json"))
    // base: one file holding k1+k2 (coalesce(1), same partition), one
    // file holding k3+k4 in another city
    payload(Seq(("a", 1L, 10L), ("a", 2L, 20L))).coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    payload(Seq(("b", 3L, 30L), ("b", 4L, 40L))).coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    val base = WeatherLakeV2Sink.snapshot(lake)
    val keyFn = (f: DataFrame) => get_json_object(f("raw_json"), "$.k")
    // merge: update k2, insert k9; delete k3
    WeatherLakeV2Sink.mergeCommitted(spark, lake,
      payload(Seq(("a", 2L, 999L), ("c", 9L, 90L))), keyFn)
    WeatherLakeV2Sink.deleteCommitted(spark, lake,
      f => get_json_object(f("raw_json"), "$.k").cast("long") === 3)
    val feed = WeatherLakeV2Sink.changesBetween(spark, lake,
        from = base, to = WeatherLakeV2Sink.liveManifests(lake),
        key = keyFn)
      .select(col("change"),
        get_json_object(col("value"), "$.k").cast("long").as("k"),
        get_json_object(col("value"), "$.v").cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // k1 survived a rewrite of its file (identical line, new path) and
    // k4 survived the delete rewrite — NEITHER is a change
    assert(feed == Set(
      ("update_preimage", 2L, 20L), ("update_postimage", 2L, 999L),
      ("insert", 9L, 90L), ("delete", 3L, 30L)), feed.toString)
    // identical snapshots diff to an empty feed
    val live = WeatherLakeV2Sink.liveManifests(lake)
    assert(WeatherLakeV2Sink.changesBetween(spark, lake, live, live, keyFn)
      .isEmpty)
    // one-sided diffs (pure append since base) classify without a join
    val appendOnly = Files.createTempDirectory("lakev2cdf2").toString
    payload(Seq(("a", 1L, 10L)))
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(appendOnly)
    val s0 = WeatherLakeV2Sink.snapshot(appendOnly)
    payload(Seq(("a", 2L, 20L)))
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(appendOnly)
    val ins = WeatherLakeV2Sink.changesBetween(spark, appendOnly,
      s0, WeatherLakeV2Sink.liveManifests(appendOnly), keyFn)
    assert(ins.select("change").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
    // and the reverse direction reads as pure deletes
    val del = WeatherLakeV2Sink.changesBetween(spark, appendOnly,
      WeatherLakeV2Sink.liveManifests(appendOnly), s0, keyFn)
    assert(del.select("change").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
  }

  test("clustered compaction (OPTIMIZE ZORDER): reclustering + refreshed " +
      "stats turn a useless skipping layer into a sharp one, row parity") {
    import graft.sources.WeatherLakeV2Sink
    import graft.sources.WeatherLakeV2Sink.FieldStats
    val lake = Files.createTempDirectory("lakev2zorder").toString
    val s = spark
    import s.implicits._
    // 4 batches into ONE partition, values INTERLEAVED mod 4 — every
    // file's [min,max] spans nearly the whole domain, so write-time
    // stats can prune nothing: the layout Delta's OPTIMIZE ZORDER exists
    // to repair
    (0 until 4).foreach { i =>
      (0 until 64 by 4).map(j => ("a", (j + i).toLong))
        .toDF("city", "v").select(col("city"),
          lit("2024-01-01").as("ds"), lit("00").as("hour"),
          to_json(struct(col("v"))).as("raw_json"))
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("statsFields", "v")
        .mode("append").save(lake)
    }
    def lowFiles: Seq[String] = WeatherLakeV2Sink.committedFilesPrunedByStats(
      lake)(_.get("v").forall(_.overlaps(None, Some("9"))))
    assert(WeatherLakeV2Sink.committedFiles(lake).size == 4)
    assert(lowFiles.size == 4,
      s"interleaved layout must defeat skipping entirely: $lowFiles")
    // recluster: sort by v, re-measure stats, roll into ~4 tight files
    val n = WeatherLakeV2Sink.compact(spark, lake, targetBytes = 170,
      clusterExpr = Some(df =>
        get_json_object(df("value"), "$.v").cast("long")),
      statsFields = Seq("v"))
    assert(n == 1, s"the one multi-file dir must be reclustered, got $n")
    val after = WeatherLakeV2Sink.committedFiles(lake)
    assert(after.size >= 3, s"rolling must split the sorted stream: $after")
    // fresh stats are tight: the v<=9 predicate now touches ONE file
    assert(lowFiles.size == 1,
      s"clustered stats must prune the out-of-range files: $lowFiles")
    // row parity under the predicate, pruned vs full
    def vals(df: DataFrame): Seq[Long] = df
      .select(get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    val pruned = vals(WeatherLakeV2Sink.readCommittedStatsPruned(spark, lake)(
      _.get("v").forall(_.overlaps(None, Some("9"))))
      .filter(get_json_object(col("value"), "$.v").cast("long") <= 9))
    assert(pruned == (0L to 9L) &&
      vals(WeatherLakeV2Sink.readCommitted(spark, lake)) == (0L to 63L))
    // merge with statsFields keeps the rewritten file's skipping stats
    // fresh instead of erasing them
    val delta = Seq(("a", "2024-01-01", "00", """{"v":5}"""))
      .toDF("city", "ds", "hour", "raw_json")
    WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.v"),
      statsFields = Seq("v"))
    val entries = WeatherLakeV2Sink.committedEntryLines(lake)
    assert(entries.forall(_.contains("\t")),
      s"every live entry must carry refreshed stats: $entries")
    assert(lowFiles.size < WeatherLakeV2Sink.committedFiles(lake).size,
      "skipping must stay sharp after a stats-refreshing merge")
  }

  test("two-field Morton clustering: compact(clusterExpr = graft_zorder) " +
      "tightens BOTH fields' per-file ranges for two-axis skipping") {
    import graft.sources.WeatherLakeV2Sink
    import graft.sources.WeatherLakeV2Sink.FieldStats
    val lake = Files.createTempDirectory("lakev2zorder2").toString
    val s = spark
    import s.implicits._
    // a 16x16 (x, y) grid scattered across 4 interleaved batches: every
    // file spans both full domains, so neither an x- nor a y-range
    // predicate can skip anything
    val grid = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    // scatter so every batch file spans BOTH full domains (a plain
    // index%4 correlates with y and accidentally tightens it)
    grid.groupBy { case (x, y) => (3 * x + 5 * y) % 4 }.values.foreach { chunk =>
      chunk.toSeq.toDF("x", "y").select(lit("a").as("city"),
          lit("2024-01-01").as("ds"), lit("00").as("hour"),
          to_json(struct(col("x"), col("y"))).as("raw_json"))
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("statsFields", "x,y")
        .mode("append").save(lake)
    }
    def kept(field: String, hi: String): Int =
      WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(
        (st: Map[String, FieldStats]) =>
          st.get(field).forall(_.overlaps(None, Some(hi)))).size
    val total = WeatherLakeV2Sink.committedFiles(lake).size
    assert(total == 4 && kept("x", "3") == 4 && kept("y", "3") == 4,
      "the interleaved layout must defeat skipping on both axes")
    // recluster by the Morton interleave of (x, y): rolling the z-order
    // sorted stream gives files that are tight on BOTH axes at once —
    // the property a single-field sort cannot provide
    val n = WeatherLakeV2Sink.compact(spark, lake, targetBytes = 256,
      clusterExpr = Some(df => graft.functions.ZOrderEncode(s,
        get_json_object(df("value"), "$.x").cast("long"),
        get_json_object(df("value"), "$.y").cast("long"))),
      statsFields = Seq("x", "y"))
    assert(n == 1)
    val after = WeatherLakeV2Sink.committedFiles(lake).size
    assert(after >= 4, s"rolling must split the z-ordered stream: $after")
    // z-order's trade: EACH axis skips some files (a single-field sort
    // perfects one axis and leaves the other at 100%), and the corner
    // CONJUNCTION (x<=1 AND y<=1) touches a strict minority — the
    // two-axis selectivity that justifies Morton over linear clustering
    assert(kept("x", "3") < after,
      s"x-range skipping must engage: ${kept("x", "3")} of $after")
    assert(kept("y", "3") < after,
      s"y-range skipping must engage: ${kept("y", "3")} of $after")
    val keptCorner = WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(st =>
      st.get("x").forall(_.overlaps(None, Some("3"))) &&
        st.get("y").forall(_.overlaps(None, Some("3")))).size
    assert(keptCorner * 2 < after,
      s"the corner query must touch a strict minority: $keptCorner of $after")
    // row parity under the corner predicate
    val corner = WeatherLakeV2Sink.readCommittedStatsPruned(spark, lake)(st =>
        st.get("x").forall(_.overlaps(None, Some("3"))) &&
          st.get("y").forall(_.overlaps(None, Some("3"))))
      .select(get_json_object(col("value"), "$.x").cast("long").as("x"),
        get_json_object(col("value"), "$.y").cast("long").as("y"))
      .filter(col("x") <= 3 && col("y") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(corner ==
      (for (x <- 0L to 3L; y <- 0L to 3L) yield (x, y)).toSet)
  }

  test("maintenance joins key on the full path: same-named files in " +
      "different directories never cross-contaminate (regression)") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2dupname").toString
    // two directories, SAME basename (what the pre-fix per-task uuid
    // writer produced): a basename-keyed join would fan each line into
    // both directories and double every row
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    def put(rel: String, lines: Seq[String]): String = {
      val p = new org.apache.hadoop.fs.Path(lake, rel)
      val out = fs.create(p, false)
      try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
      finally out.close()
      p.toString
    }
    val fls = Seq(
      put("city=a/ds=1/hour=0/part-x.json", Seq("""{"k":1}""", """{"k":2}""")),
      put("city=a/ds=1/hour=0/part-y.json", Seq("""{"k":3}""")),
      put("city=b/ds=1/hour=0/part-x.json", Seq("""{"k":4}""", """{"k":5}""")),
      put("city=b/ds=1/hour=0/part-y.json", Seq("""{"k":6}""")))
    val mdir = new File(s"$lake/${WeatherLakeV2Sink.ManifestDir}")
    mdir.mkdirs()
    java.nio.file.Files.writeString(
      new File(mdir, "manifest-j0.txt").toPath, fls.mkString("", "\n", "\n"))
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 6)
    // compact rewrites both small-file dirs; rows must be preserved 1:1
    assert(WeatherLakeV2Sink.compact(spark, lake, targetBytes = 1024) == 2)
    val after = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(after == (1 to 6).map(i => s"""{"k":$i}"""),
      s"compaction must not duplicate rows across same-named files: $after")
    // and a merge over the same layout touches only the file holding the
    // key, in the right directory
    val s = spark
    import s.implicits._
    val delta = Seq(("b", "1", "0", """{"k":4,"u":1}"""))
      .toDF("city", "ds", "hour", "raw_json")
    val stats = WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.k"))
    assert(stats.touchedFiles == 1)
    val merged = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(merged.count(_.contains("\"u\":1")) == 1 && merged.size == 6,
      s"merge must replace exactly key 4's row: $merged")
  }

  test("URL-encodable partition values survive maintenance: the scan-to-" +
      "manifest join keys on the ENCODED path input_file_name reports") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2enc").toString
    val s = spark
    import s.implicits._
    def sink(v: Long): Unit =
      Seq(("new york", "2024-01-01", "00", s"""{"k":$v}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .coalesce(1)
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    sink(1); sink(2) // two small files in city=new york/ (space → %20)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 2)
    // a decoded-path join would match NOTHING here and compact would
    // publish a superseding manifest with the city's rows silently gone
    assert(WeatherLakeV2Sink.compact(spark, lake, targetBytes = 1024) == 1)
    val after = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(after == Seq("""{"k":1}""", """{"k":2}"""),
      s"compaction must preserve rows under encodable paths: $after")
    // and merge must FIND the conflicting key in the encoded directory
    val delta = Seq(("new york", "2024-01-01", "00", """{"k":2,"u":1}"""))
      .toDF("city", "ds", "hour", "raw_json")
    val stats = WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.k"))
    assert(stats.touchedFiles == 1,
      "merge must detect the touched file under the encoded path")
    val merged = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(merged == Seq("""{"k":1}""", """{"k":2,"u":1}"""), merged.toString)
  }

  test("every spelling the engine reports for a scanned file resolves to " +
      "its manifest entry, AUTHORITY-bearing and URL-encoded ones included " +
      "(a key dropping the authority or the encoding would make the " +
      "maintenance join match zero rows)") {
    import graft.sources.PayloadCodec
    // (manifest entry string: literal characters, as the writer records
    //  them; the engine's _metadata.file_path report: scheme + authority +
    //  URL-encoded raw path)
    val cases = Seq(
      ("hdfs://nn:8020/warehouse/lake/city=a/part-1.json",
        "hdfs://nn:8020/warehouse/lake/city=a/part-1.json"),
      ("s3a://bucket/lake/city=new york/part-2.json",
        "s3a://bucket/lake/city=new%20york/part-2.json"),
      ("file:///tmp/lake/part-3.json", "file:/tmp/lake/part-3.json"),
      ("file:/tmp/lake/part-4.json", "file:/tmp/lake/part-4.json"),
      ("/tmp/lake/part-5.json", "file:/tmp/lake/part-5.json"))
    val spellings = PayloadCodec.entrySpellings(cases.map(_._1)).toMap
    cases.foreach { case (entry, reported) =>
      assert(spellings.get(reported).contains(entry),
        s"$reported must resolve to $entry: $spellings")
    }
  }

  test("a classic rewrite whose task fails after opening a file leaves " +
      "none of its files on disk (the failed task deletes what it wrote)") {
    import graft.sources.{LakeIO, WeatherLakeV2Sink}
    val impl = classOf[FailingCreateFs].getName
    spark.sparkContext.hadoopConfiguration.set("fs.fcfs.impl", impl)
    LakeIO.conf.set("fs.fcfs.impl", impl)
    val local = Files.createTempDirectory("lakev2abort").toString + "/lake"
    val lake = s"fcfs:$local"
    val s = spark
    import s.implicits._
    // four one-line files in one directory: a clustered-compaction candidate
    (1 to 4).foreach { k =>
      Seq(("a", "2024-01-01", "00", s"""{"k":$k}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    }
    def rows: Seq[String] = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    val before = rows
    val manifests = WeatherLakeV2Sink.manifestNames(lake)
    // a 1-byte target rolls after every line: the first output file opens
    // and takes a line, the roll's second create fails the task
    FailingCreateFs.allow.set(1)
    try intercept[Exception] {
      WeatherLakeV2Sink.compact(spark, lake, targetBytes = 1L,
        clusterExpr = Some(f => f("value")))
    } finally FailingCreateFs.allow.set(Int.MaxValue)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val left = walk(new File(local)).map(_.getName)
      .filter(_.startsWith("part-compact-"))
    assert(left.isEmpty, s"failed compaction left files on disk: $left")
    assert(WeatherLakeV2Sink.manifestNames(lake) == manifests)
    assert(rows == before)
  }

  test("reserved maintenance manifestId prefixes are rejected loudly on " +
      "append (a masquerading id would derail pre-directive CDC routing)") {
    val lake = Files.createTempDirectory("lakev2resv").toString
    val s = spark
    import s.implicits._
    val df = Seq(("a", "2024-01-01", "00", "{\"k\":1}"))
      .toDF("city", "ds", "hour", "raw_json")
    Seq("compact-x", "merge-x", "delete-1", "update-2", "checkpoint-z",
        "overwrite-w")
      .foreach { id =>
        val e = intercept[Exception] {
          df.write.format("graft.sources.WeatherLakeV2Sink")
            .option("manifestId", id).mode("append").save(lake)
        }
        def chain(t: Throwable): Seq[Throwable] =
          Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
        assert(chain(e).exists(t => Option(t.getMessage).exists(
          _.contains("reserved"))), s"$id: $e")
      }
    // non-reserved ids that merely CONTAIN a reserved word still work
    df.write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "nightly-merge-feed").mode("append").save(lake)
    assert(graft.sources.WeatherLakeV2Sink.readCommitted(spark, lake)
      .count() == 1)
  }

  test("manifest format versioning: new manifests carry '#format 1'; a " +
      "manifest declaring a FUTURE version fails every reader loudly") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2fmt").toString
    val s = spark
    import s.implicits._
    Seq(("a", "2024-01-01", "00", "{\"k\":1}"))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink").mode("append").save(lake)
    val mdir = java.nio.file.Path.of(lake, WeatherLakeV2Sink.ManifestDir)
    val manifest = java.nio.file.Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("manifest-")).toSeq.head
    val lines = java.nio.file.Files.readAllLines(
      mdir.resolve(manifest)).asScala.toSeq
    assert(lines.head == s"${WeatherLakeV2Sink.FormatPrefix}${WeatherLakeV2Sink.FormatVersion}",
      lines.toString)
    // directives stay invisible to data readers
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 1)
    // a future-format manifest (written by a newer writer) poisons the
    // lake for THIS reader — loudly, never silently misparsed (this
    // reader understands versions 1-2; 2 = the typed Parquet payload)
    java.nio.file.Files.write(mdir.resolve("manifest-future.txt"),
      "#format 3\nsome-unintelligible-v3-layout\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      WeatherLakeV2Sink.readCommitted(spark, lake).count()
    }
    assert(e.getMessage.contains("format version 3"), e.getMessage)
  }

  test("stats collection unescapes JSON string values correctly " +
      "(tab, unicode escapes) — corrupted min/max would misprune") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2esc").toString
    val s = spark
    import s.implicits._
    // to_json escapes the tab as \t and the bell as \u0007; the stats
    // accumulator must record the REAL characters
    Seq(("a", "2024-01-01", "00", "a\tb"), ("a", "2024-01-01", "00", "\u0007z"))
      .toDF("city", "ds", "hour", "sval")
      .select(col("city"), col("ds"), col("hour"),
        to_json(struct(col("sval").as("sv"))).as("raw_json"))
      .coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink")
      .option("statsFields", "sv")
      .mode("append").save(lake)
    val lines = WeatherLakeV2Sink.committedEntryLines(lake)
    assert(lines.size == 1)
    val st = WeatherLakeV2Sink.lineStats(lines.head)("sv")
    assert(st.min == "\u0007z" && st.max == "a\tb",
      s"escapes must decode to the real characters: min=${st.min.toList} " +
        s"max=${st.max.toList}")
  }

  test("publish lock: a held lock makes a commit lose LOUDLY at publish " +
      "(the rewrite runs lock-free), a no-op never conflicts, and an " +
      "abandoned lock is broken only past the lease age") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2lock").toString
    val s = spark
    import s.implicits._
    Seq(("a", "2024-01-01", "00", "{\"k\":1}"))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("append").save(lake)
    // simulate another publisher holding the (short) publish lock
    val lockFile = new File(s"$lake/${WeatherLakeV2Sink.ManifestDir}/.maintenance.lock")
    java.nio.file.Files.writeString(lockFile.toPath, "compact held-elsewhere\n")
    val delta = Seq(("a", "2024-01-01", "00", "{\"k\":1,\"v\":2}"))
      .toDF("city", "ds", "hour", "raw_json")
    intercept[java.util.ConcurrentModificationException] {
      WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
        f => get_json_object(f("raw_json"), "$.k"))
    }
    // optimistic discipline: an operation with NOTHING to publish never
    // reaches the lock at all — a no-op compact (single healthy file)
    // returns 0 instead of conflicting with the held lock
    assert(WeatherLakeV2Sink.compact(spark, lake) == 0)
    // the loser's rewrite files stayed unreferenced orphans: the view is
    // unchanged
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 1)
    // an abandoned lock (holder died) is broken once past the lease age;
    // content is re-checked before the delete (a racing breaker's fresh
    // token is never deleted out from under it)
    assert(lockFile.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val stats = WeatherLakeV2Sink.mergeCommitted(spark, lake, delta,
      f => get_json_object(f("raw_json"), "$.k"))
    assert(stats.touchedFiles == 1)
    assert(!lockFile.exists(), "the lock must be released after the merge")
  }

  test("optimistic concurrency: two merges over DISJOINT partitions both " +
      "commit; an overlapping one loses loudly at publish") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2occ").toString
    val s = spark
    import s.implicits._
    def rows(city: String, ks: Seq[Int]): DataFrame =
      ks.map(k => (city, "2024-01-01", "00", s"""{"k":"$city$k","v":$k}"""))
        .toDF("city", "ds", "hour", "raw_json")
    rows("a", Seq(1, 2)).write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "base-a").mode("append").save(lake)
    rows("b", Seq(1, 2)).write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "base-b").mode("append").save(lake)
    val key = (f: DataFrame) => get_json_object(f("raw_json"), "$.k")
    // interleave two merges by hand: both snapshot the same live set,
    // then publish one after the other — the DISJOINT pair (city=a vs
    // city=b: separate manifests, separate partition read domains) must
    // BOTH commit. mergeCommitted computes its snapshot internally, so
    // the interleaving is real: merge B's snapshot predates merge A's
    // publish? No — sequential calls here each re-snapshot; the
    // interleaved-snapshot case is exercised below via the conflict
    // check's own primitives. Sequential disjoint merges trivially both
    // commit; the REAL claim is overlap detection, pinned next.
    val sa = WeatherLakeV2Sink.mergeCommitted(spark, lake, rows("a", Seq(2, 3)), key)
    val sb = WeatherLakeV2Sink.mergeCommitted(spark, lake, rows("b", Seq(2, 3)), key)
    assert(sa.touchedFiles == 1 && sb.touchedFiles == 1)
    val view = WeatherLakeV2Sink.readCommitted(spark, lake)
      .select(get_json_object(col("value"), "$.k")).as[String].collect().toSet
    assert(view == Set("a1", "a2", "a3", "b1", "b2", "b3"))
    // TRUE interleaving: two threads race merges into the SAME partition
    // (overlapping read domains). Exactly one must win; the loser dies
    // with ConcurrentModificationException; the final view is one
    // winner's outcome applied to the pre-race state — never a blend.
    val before = WeatherLakeV2Sink.readCommitted(spark, lake).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(Seq("x", "y").map { tag =>
      Future {
        try Right(WeatherLakeV2Sink.mergeCommitted(spark, lake,
          rows("a", Seq(7, 8)).withColumn("raw_json",
            regexp_replace(col("raw_json"), "\"v\":", s""""tag":"$tag","v":""")),
          key))
        catch { case e: java.util.ConcurrentModificationException => Left(e) }
      }
    }), 5.minutes).toList
    val (losers, winners) = (results.collect { case Left(e) => e },
      results.collect { case Right(r) => r })
    // both may win only if they serialized (one finished before the
    // other snapshotted) — then the second's merge REPLACED the first's
    // keys (idempotent upsert), still consistent. But a loser, when one
    // exists, must be the loud kind, and the view must hold exactly one
    // tag for the raced keys either way.
    assert(winners.nonEmpty, "at least one racing merge must commit")
    val raced = WeatherLakeV2Sink.readCommitted(spark, lake)
      .select(col("value"))
      .filter(get_json_object(col("value"), "$.k").isin("a7", "a8"))
      .as[String].collect()
    assert(raced.length == 2, s"exactly one copy per raced key: ${raced.toSeq}")
    val tags = raced.map(v => v.substring(v.indexOf("tag"), v.indexOf("tag") + 8)).toSet
    assert(tags.size == 1, s"the raced keys must carry ONE winner's tag, got $tags")
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == before + 2)
  }

  test("optimistic concurrency: a commit whose touched manifest was " +
      "superseded mid-flight loses loudly (stale rewrite never publishes)") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2stale").toString
    val s = spark
    import s.implicits._
    def rows(ks: Seq[Int]): DataFrame =
      ks.map(k => ("a", "2024-01-01", "00", s"""{"k":$k,"v":$k}"""))
        .toDF("city", "ds", "hour", "raw_json")
    rows(Seq(1, 2, 3)).write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "base").mode("append").save(lake)
    val key = (f: DataFrame) => get_json_object(f("raw_json"), "$.k")
    // capture the pre-merge live set, run a merge (supersedes base),
    // then hand-publish a commit claiming to supersede base AGAIN — the
    // conflict check must refuse it
    WeatherLakeV2Sink.mergeCommitted(spark, lake, rows(Seq(2)), key)
    intercept[java.util.ConcurrentModificationException] {
      WeatherLakeV2Sink.publishForTest(lake, "delete",
        snapshot = Seq("manifest-base.txt"),
        supersedes = Seq("manifest-base.txt"), lines = Seq.empty)
    }
    // and a row-level commit publishing against a snapshot that misses a
    // NEW in-domain manifest conflicts too (write skew guard)
    val snapBeforeAppend = WeatherLakeV2Sink.liveManifests(lake)
    rows(Seq(9)).write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "late").mode("append").save(lake)
    intercept[java.util.ConcurrentModificationException] {
      WeatherLakeV2Sink.publishForTest(lake, "merge",
        snapshot = snapBeforeAppend, supersedes = Seq.empty,
        lines = Seq.empty, readDomain = Some(_ => true))
    }
  }

  test("exactly-once replay short-circuits on the superseded manifest " +
      "after a compaction; vacuum's age guard is the replay horizon") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2replay").toString
    val s = spark
    import s.implicits._
    def batch(n: Int): DataFrame = (0 until n)
      .map(i => ("a", "2024-01-01", "00", s"""{"k":$i}"""))
      .toDF("city", "ds", "hour", "raw_json")
    val writer = WeatherLakeV2Sink.exactlyOnceBatchWriter(lake, "st")
    writer(batch(3), 0L)
    writer(batch(3), 0L) // immediate replay: dedup on the manifest name
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 3)
    // a second batch makes the partition multi-file, then compaction
    // supersedes BOTH batch manifests
    writer(batch(2), 1L)
    assert(WeatherLakeV2Sink.compact(spark, lake) == 1)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5)
    // replay of batch 0 during/after the compact: its manifest is
    // superseded but PRESENT, so the replay still short-circuits —
    // no duplicate rows, no new manifest
    val manifestsBefore = WeatherLakeV2Sink.manifestNames(lake)
    writer(batch(3), 0L)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5)
    assert(WeatherLakeV2Sink.manifestNames(lake) == manifestsBefore)
    // vacuum with a minAge above the replay window KEEPS the token…
    WeatherLakeV2Sink.vacuum(lake, minAgeMs = 3600L * 1000, force = true)
    assert(WeatherLakeV2Sink.manifestExists(lake, "st-b000000000"))
    writer(batch(3), 0L)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5)
    // …and even past an age-0 vacuum (token manifest deleted), a replay's
    // re-published manifest is dead on arrival: the live compaction
    // manifest's #supersedes directive tombstones the NAME, so the
    // replayed rows stay invisible — no double count. (The tombstone is
    // one generation deep: it dies only when the compaction manifest is
    // itself superseded AND vacuumed, which is what the age guard is for.)
    WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true)
    assert(!WeatherLakeV2Sink.manifestExists(lake, "st-b000000000"))
    writer(batch(3), 0L)
    assert(WeatherLakeV2Sink.manifestExists(lake, "st-b000000000"),
      "the replay re-publishes its manifest name")
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5,
      "the superseding directive must tombstone the replayed manifest")
    // the replay's orphaned data files are reclaimable by the NEXT vacuum
    // (its manifest is superseded, so they are non-live)
    assert(WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true) > 0)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 5)
  }

  test("an append committed AFTER a maintenance snapshot stays live " +
      "through the superseding publish (old-or-new, appends never lost)") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2race").toString
    val s = spark
    import s.implicits._
    def sink(tag: String): Unit =
      Seq(("a", "2024-01-01", "00", s"""{"t":"$tag"}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .mode("append").save(lake)
    sink("base1"); sink("base2")
    // the maintenance job snapshots the live set…
    val snapshot = WeatherLakeV2Sink.liveManifests(lake)
    // …a concurrent append commits between snapshot and publish…
    sink("late")
    // …and the publish supersedes ONLY the snapshot (exactly what
    // compact/merge do): the late append's manifest is untouched
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val keep = WeatherLakeV2Sink.committedFiles(lake)
      .filter { f =>
        val src = scala.io.Source.fromFile(f); val txt = try src.mkString finally src.close()
        !txt.contains("late")
      }
    val replacement = new org.apache.hadoop.fs.Path(lake, "rewritten.json")
    val out = fs.create(replacement, false)
    out.write("{\"t\":\"base1+base2\"}\n".getBytes("UTF-8")); out.close()
    require(keep.size == 2)
    // publish the superseding manifest via the same API path
    val mdir = s"$lake/${WeatherLakeV2Sink.ManifestDir}"
    java.nio.file.Files.writeString(
      new File(s"$mdir/manifest-maint.txt").toPath,
      snapshot.map(n => s"${WeatherLakeV2Sink.SupersedesPrefix}$n")
        .mkString("", "\n", "\n") + replacement.toString + "\n")
    val tags = WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(tags == Seq("{\"t\":\"base1+base2\"}", "{\"t\":\"late\"}"),
      s"late append must remain visible next to the replacement: $tags")
  }

  test("full lakehouse lifecycle: ingest -> merge -> compact -> stream " +
      "-> time travel -> vacuum -> orphan sweep, rows conserved at every " +
      "step") {
    import graft.sources.WeatherLakeV2Sink
    val base = Files.createTempDirectory("lakecycle").toString
    val lake = s"$base/lake"
    val s = spark
    import s.implicits._
    def kv(df: DataFrame): Map[Long, Long] = df.select(
        get_json_object(col("value"), "$.k").cast("long"),
        get_json_object(col("value"), "$.v").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1. exactly-once streaming ingest: two batches, one replayed
    val writer = WeatherLakeV2Sink.exactlyOnceBatchWriter(lake, "cycle")
    def batchDf(rows: Seq[(Long, Long)]): DataFrame =
      rows.map { case (k, v) => ("a", "2024-01-01", "00", s"""{"k":$k,"v":$v}""") }
        .toDF("city", "ds", "hour", "raw_json").coalesce(1)
    writer(batchDf(Seq(1L -> 10L, 2L -> 20L)), 0L)
    writer(batchDf(Seq(3L -> 30L)), 1L)
    writer(batchDf(Seq(3L -> 30L)), 1L) // replay: no-op
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    val v0 = WeatherLakeV2Sink.snapshot(lake)
    // 2. merge: update k=2, insert k=9
    WeatherLakeV2Sink.mergeCommitted(spark, lake,
      batchDf(Seq(2L -> 222L, 9L -> 90L)),
      f => get_json_object(f("raw_json"), "$.k"))
    val truth = Map(1L -> 10L, 2L -> 222L, 3L -> 30L, 9L -> 90L)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) == truth)
    // 3. compact: same rows, fewer files
    assert(WeatherLakeV2Sink.compact(spark, lake) >= 1)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) == truth)
    // 4. a fresh stream over the maintained lake reads the current view
    //    exactly once
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream
      .format("graft.sources.WeatherLakeV2StreamSource").load(lake)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized { seen ++= b.collect().map(_.getString(0)) }; ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.size == truth.size)
    // 5. time travel: the pre-merge snapshot still reads the old table
    assert(kv(WeatherLakeV2Sink.readAsOf(spark, lake, v0)) ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // 6. vacuum reclaims the superseded generation; current view intact,
    //    the old snapshot is now loudly unreadable (documented horizon)
    assert(WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true) > 0)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) == truth)
    intercept[IllegalStateException] {
      WeatherLakeV2Sink.readAsOf(spark, lake, v0).collect()
    }
    // 7. orphan sweep finds nothing left to reclaim beyond an injected
    //    manifest-less straggler
    val orphan = new File(s"$lake/city=a/ds=2024-01-01/hour=00/lost.json")
    java.nio.file.Files.writeString(orphan.toPath, "{\"k\":99}\n")
    assert(orphan.setLastModified(System.currentTimeMillis() - 7200_000L))
    assert(WeatherLakeV2Sink.sweepOrphans(lake, minAgeMs = 3600_000L) == 1)
    assert(kv(WeatherLakeV2Sink.readCommitted(spark, lake)) == truth)
  }

  test("missing path option fails fast with the option named") {
    val e = intercept[IllegalArgumentException] {
      new graft.sources.WeatherLakeV2Sink()
        .getTable(graft.sources.WeatherLakeV2Sink.Schema,
          Array.empty, new java.util.HashMap[String, String]())
    }
    assert(e.getMessage.contains("path"))
  }

  private def payloadOf(df: DataFrame): DataFrame =
    df.select(col("city"), col("ds"), col("hour"),
      to_json(struct(col("latitude"), col("longitude"))).as("raw_json"))

  private def jsonFilesOnDisk(lake: String): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(lake))
      .filter(f => f.getName.endsWith(".json"))
      .map(_.getAbsolutePath).toSet
  }

  test("exactly-once: a replayed foreachBatch body publishes its batch once") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2once").toString + "/lake"
    val writer = WeatherLakeV2Sink.exactlyOnceBatchWriter(lake, "ingest-a")
    val batch = payloadOf(rawFixture.limit(3))
    writer(batch, 0L)
    val afterFirst = WeatherLakeV2Sink.readCommitted(spark, lake).count()
    val filesAfterFirst = jsonFilesOnDisk(lake)
    // the engine replays the batch (commit log lost the record): same
    // (streamId, batchId) → the manifest exists → NO data IO at all
    writer(batch, 0L)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == afterFirst)
    assert(jsonFilesOnDisk(lake) == filesAfterFirst,
      "fast path must skip the rewrite entirely")
    assert(WeatherLakeV2Sink.manifestNames(lake).length == 1)
    // a DIFFERENT batch id is new data and appends
    writer(payloadOf(rawFixture.limit(2)), 1L)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == afterFirst + 2)
    // a different STREAM never collides with this one's batch numbering
    WeatherLakeV2Sink.exactlyOnceBatchWriter(lake, "ingest-b")(
      payloadOf(rawFixture.limit(1)), 0L)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == afterFirst + 3)
  }

  test("exactly-once race path: one manifest publication wins, the loser's " +
      "files stay invisible orphans") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2race").toString + "/lake"
    def attempt(): Unit =
      payloadOf(rawFixture.limit(3))
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("manifestId", "stream-x-b000000000")
        .mode("append").save(lake)
    // two attempts of the SAME batch race past the existence check: both
    // write data files, one rename wins
    attempt()
    val winners = WeatherLakeV2Sink.committedFiles(lake).toSet
    attempt()
    assert(WeatherLakeV2Sink.manifestNames(lake).length == 1)
    assert(WeatherLakeV2Sink.committedFiles(lake).toSet == winners,
      "the committed view must still be the first attempt's files")
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 3)
    // the loser's files ARE on disk (append-only, no rename of data
    // files) but unreferenced — the same orphan class as a died job, and
    // no tmp manifest is left behind
    assert(jsonFilesOnDisk(lake).size == winners.size * 2)
    val mdir = new File(s"$lake/${WeatherLakeV2Sink.ManifestDir}")
    assert(!mdir.listFiles().exists(_.getName.endsWith(".tmp")),
      "failed publication must clean up its tmp manifest")
  }

  test("exactly-once end-to-end: a restarted AvailableNow stream appends " +
      "only new batches") {
    import graft.sources.WeatherLakeV2Sink
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("lakev2stream").toString
    val in = s"$base/in"; val lake = s"$base/lake"; val ckpt = s"$base/ckpt"
    new File(in).mkdirs()
    def addInput(name: String, rows: Seq[String]): Unit = {
      val f = new File(in, name)
      Files.write(f.toPath, rows.mkString("\n").getBytes("UTF-8"))
    }
    addInput("a.csv", Seq("london,2025-10-31,03,{\"t\":1}",
      "paris,2025-10-31,04,{\"t\":2}"))
    def runStream(): Unit = {
      val q = spark.readStream
        .schema("city STRING, ds STRING, hour STRING, raw_json STRING")
        .csv(in)
        .writeStream
        .foreachBatch(WeatherLakeV2Sink.exactlyOnceBatchWriter(lake, "e2e"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "stream must drain and stop")
    }
    runStream()
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 2)
    // restart with nothing new: no batch runs, nothing duplicates
    runStream()
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 2)
    // new file → exactly its rows append on the next run
    addInput("b.csv", Seq("tokyo,2025-10-31,05,{\"t\":3}"))
    runStream()
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 3)
    // every published manifest carries the e2e stream identity
    assert(WeatherLakeV2Sink.manifestNames(lake)
      .forall(_.startsWith("manifest-e2e-b")))
  }

  test("a changeLog commit with ZERO net changes stamps '#changelog " +
      "empty' — logged-and-empty, not un-logged: the change feed keeps " +
      "working instead of bricking on an idempotent replay") {
    import graft.sources.WeatherLakeV2Sink
    val base = Files.createTempDirectory("lakev2emptychg").toString
    val lake = s"$base/lake"
    val s = spark
    import s.implicits._
    val row = Seq(("a", "2024-01-01", "00", """{"k":1,"v":1}"""))
      .toDF("city", "ds", "hour", "raw_json")
    row.write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "base").mode("append").save(lake)
    // identical batch: identical-line suppression nets ZERO changes
    WeatherLakeV2Sink.mergeCommitted(spark, lake, row,
      f => get_json_object(f("raw_json"), "$.k"), changeLog = true)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val mergeManifest = WeatherLakeV2Sink.manifestNames(lake)
      .find(_.startsWith("manifest-merge-")).get
    val lines = scala.io.Source.fromInputStream(fs.open(
      new org.apache.hadoop.fs.Path(s"$lake/_manifests/$mergeManifest")),
      "UTF-8").getLines().toList
    assert(WeatherLakeV2Sink.hasEmptyChangeLog(lines), lines.mkString("|"))
    // the batch change feed routes it as contributing nothing — no
    // un-logged-commit failure
    val changes = spark.read
      .format("graft.sources.WeatherLakeV2StreamSource")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(lake)
    assert(changes.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("insert" -> 1L))
  }

  test("a racing LAYOUT-ONLY commit does not conflict a row-level " +
      "publish: re-listed rows are not new rows (a racing append still " +
      "conflicts)") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2layoutrace").toString
    val s = spark
    import s.implicits._
    def append(city: String, k: Long, id: String): Unit =
      Seq((city, "2024-01-01", "00", s"""{"k":$k}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("manifestId", id).mode("append").save(lake)
    append("p", 1L, "m1"); append("q", 2L, "m2")
    val snapshot = WeatherLakeV2Sink.liveManifests(lake)
    def inP(line: String): Boolean =
      WeatherLakeV2Sink.partitionValues(lake,
        line.split('\t').head).get("city").contains("p")
    // RACE 1: a checkpoint collapses the live set — its re-list covers
    // partition p, but adds no rows; an insert-only commit (supersedes
    // nothing) over p must still publish
    assert(WeatherLakeV2Sink.checkpointManifests(lake) == 2)
    WeatherLakeV2Sink.publishForTest(lake, "merge", snapshot = snapshot,
      supersedes = Seq.empty, lines = Seq.empty, readDomain = Some(inP))
    // RACE 2: an APPEND into p after the snapshot is a real conflict
    val snapshot2 = WeatherLakeV2Sink.liveManifests(lake)
    append("p", 9L, "m3")
    intercept[java.util.ConcurrentModificationException] {
      WeatherLakeV2Sink.publishForTest(lake, "merge", snapshot = snapshot2,
        supersedes = Seq.empty, lines = Seq.empty, readDomain = Some(inP))
    }
  }

  test("a layout-only commit that SWALLOWED a racing append still " +
      "conflicts a row-level publish: the exemption holds only when " +
      "everything it superseded was in the operation's snapshot") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2layoutskew").toString
    val s = spark
    import s.implicits._
    def append(city: String, k: Long, id: String): Unit =
      Seq((city, "2024-01-01", "00", s"""{"k":$k}"""))
        .toDF("city", "ds", "hour", "raw_json")
        .write.format("graft.sources.WeatherLakeV2Sink")
        .option("manifestId", id).mode("append").save(lake)
    append("p", 1L, "m1")
    val snapshot = WeatherLakeV2Sink.liveManifests(lake)
    def inP(line: String): Boolean =
      WeatherLakeV2Sink.partitionValues(lake,
        line.split('\t').head).get("city").contains("p")
    // the write-skew window the exemption must NOT cover: an append into
    // p lands after the snapshot, and a checkpoint swallows it before
    // the merge publishes — the append's manifest is no longer live, so
    // the plain fresh-append rule can't see it, and the checkpoint
    // re-lists its rows. Exempting that checkpoint would publish a merge
    // that never saw those rows (e.g. duplicate a key it decided to
    // INSERT).
    append("p", 9L, "racer")
    assert(WeatherLakeV2Sink.checkpointManifests(lake) == 2)
    intercept[java.util.ConcurrentModificationException] {
      WeatherLakeV2Sink.publishForTest(lake, "merge", snapshot = snapshot,
        supersedes = Seq.empty, lines = Seq.empty, readDomain = Some(inP))
    }
  }

  test("vacuum refuses below the retention floor without force — the " +
      "copy-pasted min_age_ms => 0 can no longer destroy a lagging " +
      "consumer's horizon silently") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2vacfloor").toString
    val s = spark
    import s.implicits._
    Seq(("a", "2024-01-01", "00", """{"k":1}"""))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "m1").mode("append").save(lake)
    // supersede m1's file so there is something reclaimable
    Seq(("a", "2024-01-01", "00", """{"k":2}"""))
      .toDF("city", "ds", "hour", "raw_json")
      .write.format("graft.sources.WeatherLakeV2Sink")
      .mode("overwrite").save(lake)
    val e = intercept[IllegalArgumentException] {
      WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L)
    }
    assert(e.getMessage.contains("retention floor"), e.getMessage)
    // nothing was reclaimed by the refused call
    assert(WeatherLakeV2Sink.manifestNames(lake).size == 2)
    // the default call runs (everything is younger than the floor → 0)
    assert(WeatherLakeV2Sink.vacuum(lake) == 0)
    // the explicit override still reclaims the superseded file
    assert(WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true) >= 1)
  }

  test("measureStats backfills per-file min/max WITHOUT rewriting data: " +
      "the skipping layer turns sharp, file paths are unchanged, other " +
      "fields' stats survive, and the feed ignores the layout-only commit") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2meas").toString
    val s = spark
    import s.implicits._
    // two files in distinct val ranges, written WITHOUT statsFields —
    // the pre-stats-era lake
    Seq(("a", "2024-01-01", "00", """{"k":1,"val":5}"""),
        ("a", "2024-01-01", "00", """{"k":2,"val":9}"""))
      .toDF("city", "ds", "hour", "raw_json").coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "lo").mode("append").save(lake)
    Seq(("a", "2024-01-01", "01", """{"k":3,"val":105}"""))
      .toDF("city", "ds", "hour", "raw_json").coalesce(1)
      .write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "hi").mode("append").save(lake)
    val before = WeatherLakeV2Sink.committedFiles(lake).sorted
    def above100(st: Map[String, WeatherLakeV2Sink.FieldStats]): Boolean =
      st.get("val").forall(_.overlaps(Some("100"), None))
    // un-measured: stats pruning keeps everything (fail-open)
    assert(WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(above100)
      .size == 2)
    val n = WeatherLakeV2Sink.measureStats(spark, lake, Seq("val"))
    assert(n == 2)
    // same files (no data rewrite), sharp pruning now
    assert(WeatherLakeV2Sink.committedFiles(lake).sorted == before)
    assert(WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(above100)
      .size == 1)
    assert(WeatherLakeV2Sink.readCommittedStatsPruned(spark, lake)(above100)
      .count() == 1)
    // re-measuring another field MERGES (val stats survive)
    WeatherLakeV2Sink.measureStats(spark, lake, Seq("k"))
    assert(WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(above100)
      .size == 1)
    assert(WeatherLakeV2Sink.committedFilesPrunedByStats(lake)(st =>
      st.get("k").forall(_.overlaps(Some("3"), None))).size == 1)
    // layout-only: a fresh CDC feed sees only the original inserts
    val out = spark.read
      .format("graft.sources.WeatherLakeV2StreamSource")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(lake)
    assert(out.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("insert" -> 3L))
  }

  test("SaveMode.Overwrite supersedes the whole snapshot in ONE commit: " +
      "the committed view flips to the new batch, the old snapshot still " +
      "time-travels, vacuum reclaims it, and the CDC feed refuses the " +
      "unrepresentable delta loudly") {
    import graft.sources.WeatherLakeV2Sink
    val lake = Files.createTempDirectory("lakev2ow").toString
    val s = spark
    import s.implicits._
    def batch(ks: Seq[Int]): DataFrame = ks
      .map(k => ("a", "2024-01-01", "00", s"""{"k":$k}"""))
      .toDF("city", "ds", "hour", "raw_json")
    batch(Seq(1, 2)).write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "base1").mode("append").save(lake)
    batch(Seq(3)).write.format("graft.sources.WeatherLakeV2Sink")
      .option("manifestId", "base2").mode("append").save(lake)
    val preOverwrite = WeatherLakeV2Sink.snapshot(lake)
    batch(Seq(7, 8)).write.format("graft.sources.WeatherLakeV2Sink")
      .mode("overwrite").save(lake)
    // one commit: the overwrite manifest supersedes both appends
    val live = WeatherLakeV2Sink.liveManifests(lake)
    assert(live.size == 1 && live.head.startsWith("manifest-overwrite-"))
    assert(WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("""{"k":7}""", """{"k":8}"""))
    // history is intact until vacuum: the pre-overwrite snapshot reads
    assert(WeatherLakeV2Sink.readAsOf(spark, lake, preOverwrite)
      .count() == 3)
    // a fresh CDC feed hits the overwrite commit and refuses loudly —
    // its delta (3 deletes + 2 inserts) is not in the manifest
    val e = intercept[Exception] {
      val q = spark.readStream
        .format("graft.sources.WeatherLakeV2StreamSource")
        .option("readChangeFeed", "true").load(lake)
        .writeStream.format("memory").queryName("ow_cdc")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      throw new IllegalStateException(
        s"stream should have failed: ${q.exception}")
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    val all = chain(e) ++ Option(e.getMessage).toSeq.map(m =>
      new RuntimeException(m))
    assert(all.exists(t => Option(t.getMessage).exists(
      _.contains("INSERT OVERWRITE"))), s"got: $e")
    // vacuum reclaims the superseded appends and their files
    assert(WeatherLakeV2Sink.vacuum(lake, minAgeMs = 0L, force = true) >= 2)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake).count() == 2)
    // a second overwrite of an already-overwritten lake works (snapshot
    // is now just the overwrite manifest)
    batch(Seq(9)).write.format("graft.sources.WeatherLakeV2Sink")
      .mode("overwrite").save(lake)
    assert(WeatherLakeV2Sink.readCommitted(spark, lake)
      .collect().map(_.getString(0)).toSeq == Seq("""{"k":9}"""))
  }
}
