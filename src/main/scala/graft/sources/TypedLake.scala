package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
import org.apache.spark.sql.types._

/** TYPED, Parquet-backed lake tables — the general form of the manifest
  * lake. The classic (v1) lake fixes the row shape to three path-encoded
  * partition keys plus one raw JSON line, which re-parses every payload
  * field per query (`get_json_object`) and prunes no payload columns; the
  * reference's staging relation, by contrast, is a TYPED table
  * (create_staging.sql:3-11). A typed lake table keeps the SAME manifest
  * layer — atomic rename commits, `#supersedes` partial superseding,
  * optimistic validate-at-publish, vacuum/checkpoint/time travel all
  * unchanged, because that layer deals in file paths and entry lines,
  * never in row bytes — and swaps the payload: data files are Parquet
  * with an arbitrary user schema, stamped `#format 2` + `#payload
  * parquet` so a v1 reader fails loudly instead of scanning Parquet
  * binaries as text lines (FORMAT.md §Versioning).
  *
  * Spark-first by construction:
  *  - READS delegate to the engine's own Parquet DSv2 machinery
  *    ([[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable]]
  *    over the committed file list): vectorized columnar decode, column
  *    pruning and filter pushdown to the Parquet scan, footer/row-group
  *    stats skipping, partition columns recovered from `k=v` directories
  *    — nothing reimplemented;
  *  - WRITES go through [[PayloadCodec.Parquet]], a task writer around
  *    the engine's `ParquetOutputWriter`, routing each row to its partition
  *    directory and accumulating per-file min/max for `statsFields`
  *    FROM THE TYPED COLUMN VALUES into the manifest entry lines — the
  *    same stats format the driver-side skipping layer already prunes
  *    on, now without a JSON scan;
  *  - row-level DML (merge/delete/update) keeps the classic ops' exact
  *    plan shape — driver-side candidate pruning over partition values +
  *    entry-line stats, ONE distributed pass to find touched files,
  *    survivors rewritten distributed, ONE partially-superseding manifest
  *    validated at publish — with the data legs on Parquet frames.
  *
  * Scale posture (100 TB): identical to the classic lake — everything
  * driver-side is O(committed files) or O(touched files) metadata, every
  * data pass is distributed and pruned before IO. The typed payload only
  * IMPROVES the data legs: columnar decode + predicate pushdown replace
  * whole-line JSON parsing.
  */
object TypedLake {
  import WeatherLakeV2Sink.{FieldStats, LakeSnapshot, entryPath, lineStats, loadSnapshot, partitionValues}

  val Payload = "parquet"

  // -----------------------------------------------------------------
  // hash bucketing (storage-partitioned joins)
  // -----------------------------------------------------------------

  /** The bucket id of one column value — Murmur3 (the engine's own hash
    * family) mod n, over the INTERNAL value representation. ONE
    * definition shared by the writer's file routing, the catalog's V2
    * `bucket` function ([[LakeCatalog]] implements FunctionCatalog), and
    * therefore both sides of every storage-partitioned join: rows with
    * equal keys land in equal buckets on every bucketed lake table, so
    * a bucket-co-partitioned join needs NO exchange.
    */
  def bucketId(value: Any, dt: DataType, numBuckets: Int): Int = {
    require(numBuckets > 0, "bucketId: numBuckets must be positive")
    if (value == null) 0
    else {
      val h = org.apache.spark.sql.catalyst.expressions
        .Murmur3HashFunction.hash(value, dt, 42L)
      (((h % numBuckets) + numBuckets) % numBuckets).toInt
    }
  }

  /** Bucket file-name marker: bucketed data files are
    * `part-b<id>c<count>-<op>-<uuid>.parquet` — bucket id AND bucket
    * count are STRUCTURAL (same move as the delete-file flavor marker),
    * so the scan groups files per bucket with no extra metadata and a
    * file that lacks the marker makes the scan fall back to unknown
    * partitioning (correct, just shuffles) instead of mis-grouping.
    * The count suffix is the file's bucket GENERATION — without it a
    * bucket(8) file and a bucket(16) file with the same id would be
    * indistinguishable, and a count evolution would silently mis-group
    * (a count-8 id-5 file holds keys that split across ids 5 and 13
    * under 16 buckets). Legacy `part-b<id>-` markers (pre-count-stamp
    * writers) resolve to the table's pre-evolution count — see
    * [[LakeCatalog.BucketPriorCountsProp]]. A pre-stamp READER parses a
    * stamped name as unmarked: fail-safe (falls back to shuffling),
    * never fail-wrong.
    */
  private[graft] def bucketOfFile(path: String): Option[Int] =
    bucketGenOfFile(path).map(_._1)

  /** (bucket id, explicit bucket count) of a marked file — count is
    * None for legacy pre-stamp markers (their generation is the table's
    * pre-evolution count), None overall for unmarked files.
    */
  private[graft] def bucketGenOfFile(path: String): Option[(Int, Option[Int])] = {
    val name = new Path(path).getName
    if (!name.startsWith("part-b")) None
    else {
      val id = name.stripPrefix("part-b").takeWhile(_.isDigit)
      if (id.isEmpty) None
      else if (name.startsWith(s"part-b$id-")) Some((id.toInt, None))
      else {
        val after = name.stripPrefix(s"part-b$id")
        val cnt = after.stripPrefix("c").takeWhile(_.isDigit)
        if (after.startsWith("c") && cnt.nonEmpty &&
            after.startsWith(s"c$cnt-"))
          Some((id.toInt, Some(cnt.toInt)))
        else None
      }
    }
  }

  /** Partition-column types with a canonical, unambiguous path rendering.
    * Floats/decimals/timestamps are refused (their string forms are
    * ambiguous or timezone-dependent — the same reason Delta discourages
    * them as partition columns).
    */
  private def partitionable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         DateType | BooleanType => true
    case _ => false
  }

  /** Validate a typed table's (schema, partition columns) at CREATE:
    * partition columns must be a SUFFIX of the declared schema (data
    * columns first — the Hive/Spark file-table convention, which keeps
    * the stored order identical to the scan's dataSchema-then-partitions
    * order) with path-renderable types.
    */
  def validateTyped(schema: StructType, partCols: Seq[String]): Unit = {
    require(schema.nonEmpty, "TypedLake: a table needs at least one column")
    val names = schema.fieldNames.toSeq
    require(names.map(_.toLowerCase).distinct.size == names.size,
      s"TypedLake: duplicate column names in (${names.mkString(", ")})")
    // "__" is the internal namespace of every DML/mor frame column
    // (__file/__path/__pos/__t/__s, __target_file/__row_pos in delete
    // files, __s_<col>/__d_<col> join renames): a user column there
    // would collide with the delete-file schema or a join rename and
    // corrupt the subtraction silently — refuse at CREATE/convert
    names.find(_.startsWith("__")).foreach { n =>
      throw new IllegalArgumentException(
        s"TypedLake: column name '$n' uses the reserved '__' prefix — " +
          "double-underscore names are internal to the DML/merge-on-read " +
          "machinery (__file, __target_file, __row_pos, __s_*, __d_*); " +
          "rename the column")
    }
    // name-mapping invariants (RENAME metadata): historical names must
    // not collide with any live column or each other — the widened scan
    // schema would be ambiguous
    val hist = historicalNames(schema)
    val allHist = hist.values.flatten.toSeq
    require(allHist.map(_.toLowerCase).distinct.size == allHist.size,
      s"TypedLake: duplicate historical names (${allHist.mkString(", ")})")
    allHist.find(h => names.exists(_.equalsIgnoreCase(h))).foreach { h =>
      throw new IllegalArgumentException(
        s"TypedLake: historical name '$h' collides with a live column — " +
          "the widened scan schema would be ambiguous")
    }
    hist.keys.find(partCols.contains).foreach { p =>
      throw new IllegalArgumentException(
        s"TypedLake: partition column '$p' carries rename history — " +
          "partition columns cannot be renamed (their values are path " +
          "segments under the old spelling)")
    }
    require(names.takeRight(partCols.size) == partCols,
      s"TypedLake: partition columns (${partCols.mkString(", ")}) must be " +
        s"the LAST columns of the schema, in order — got (${names.mkString(", ")}). " +
        "Data columns first keeps the declared order identical to the " +
        "scan's data-then-partition order")
    require(partCols.size < schema.size,
      "TypedLake: a table cannot consist of partition columns only")
    partCols.foreach { p =>
      val dt = schema(p).dataType
      require(partitionable(dt),
        s"TypedLake: partition column '$p' has type ${dt.simpleString} — " +
          "partition columns must be string/integral/date/boolean (their " +
          "values are path segments and need one canonical rendering)")
    }
  }

  /** The non-partition columns — what the Parquet data files store
    * (partition values live in the directory path, the Spark/Hive
    * convention, so the scan recovers them without reading a byte).
    */
  def dataSchema(schema: StructType, partCols: Seq[String]): StructType =
    StructType(schema.fields.filterNot(f => partCols.contains(f.name)))

  // -----------------------------------------------------------------
  // column RENAME via name mapping (schema-metadata-carried)
  // -----------------------------------------------------------------

  /** Column-metadata key listing a column's HISTORICAL physical names —
    * the Iceberg name-mapping move (`schema.name-mapping.default`)
    * carried INSIDE the schema, so every read path that already threads
    * the [[StructType]] becomes rename-aware with no signature change.
    * `ALTER TABLE … RENAME COLUMN a TO b` is a metadata-only commit: the
    * field becomes `b` with `a` appended here; files written before the
    * rename keep physical `a` and are never rewritten — the read widens
    * its scan schema with the historical names and COALESCEs each
    * logical column over (current, historical…) (exactly one is non-null
    * per file, types are identical — rename never retypes).
    *
    * At 100 TB this is the difference between a marker rewrite and a
    * petabyte rewrite. The trade documented with it: per-file stats and
    * parquet bloom filters written under the OLD name stop matching the
    * new one, so skipping over pre-rename files fails OPEN (kept) until
    * compaction naturally migrates them.
    */
  val HistoricalNamesKey = "graft.historicalNames"

  /** logical column name → its historical physical names (empty map =
    * no rename ever happened; the fast path everywhere).
    */
  def historicalNames(schema: StructType): Map[String, Seq[String]] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(HistoricalNamesKey)) {
        val hist = f.metadata.getStringArray(HistoricalNamesKey).toSeq
        if (hist.nonEmpty) Some(f.name -> hist) else None
      } else None
    }.toMap

  /** The scan schema a mapped read needs: the declared fields plus one
    * nullable twin per historical name (same type — the parquet reader
    * null-fills whichever spelling a file lacks).
    */
  private[sources] def widenedSchema(schema: StructType): StructType = {
    val hist = historicalNames(schema)
    if (hist.isEmpty) schema
    else StructType(schema.fields ++ hist.toSeq.sortBy(_._1).flatMap {
      case (logical, names) =>
        val dt = schema(logical).dataType
        names.map(n => StructField(n, dt, nullable = true))
    })
  }

  /** The projection that folds historical spellings back into each
    * logical column: `coalesce(current, hist…)` when mapped, the plain
    * column otherwise.
    */
  private[sources] def mappedCol(schema: StructType)(name: String): Column = {
    val hist = historicalNames(schema).getOrElse(name, Seq.empty)
    if (hist.isEmpty) col(name)
    else org.apache.spark.sql.functions
      .coalesce((name +: hist).map(col): _*).as(name)
  }

  /** The committed view (or any explicit file list) as a typed frame via
    * the engine's own Parquet source: `basePath` anchors `k=v` partition
    * recovery, the user schema pins partition-column TYPES, and the
    * result columns follow the DECLARED order (data-then-partition comes
    * back from the source; the select restores the table's order — a
    * no-op for schemas that follow [[validateTyped]]'s suffix rule).
    * Renamed columns resolve through the name mapping
    * ([[HistoricalNamesKey]]): pre-rename files stay readable in place.
    */
  def readTyped(spark: SparkSession, basePath: String, schema: StructType,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else DriverListing.parquetFrame(spark, files, widenedSchema(schema),
        Map("basePath" -> basePath))
      .select(schema.fieldNames.map(mappedCol(schema)).toSeq: _*)

  def readCommittedTyped(spark: SparkSession, basePath: String,
      schema: StructType): DataFrame = {
    // ONE snapshot for files AND delete rows: resolving them separately
    // could mix a racing commit's data with the old delete set
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, "readCommittedTyped")
    readResolvedSplit(spark, basePath, schema,
      snap.liveEntryLines.map(entryPath), snap.liveMorDeleteLines)
  }

  /** Append `df` as one manifest commit (the typed twin of the classic
    * batch append): files are invisible until the manifest renames in; a
    * deterministic `manifestId` gives exactly-once replay short-circuit.
    */
  def appendTyped(spark: SparkSession, basePath: String, df: DataFrame,
      schema: StructType, partCols: Seq[String],
      statsFields: Seq[String] = Nil, manifestId: Option[String] = None,
      maxRecordsPerFile: Long = 0L,
      bucketSpec: Option[(String, Int)] = None): Unit = {
    val id = manifestId.getOrElse(UUID.randomUUID().toString)
    WeatherLakeV2Sink.ReservedIdPrefixes.find(id.startsWith).foreach { p =>
      throw new IllegalArgumentException(
        s"TypedLake: manifestId '$id' uses the reserved maintenance " +
          s"prefix '$p' (see FORMAT.md); pick another id")
    }
    if (manifestId.exists(WeatherLakeV2Sink.manifestExists(basePath, _)))
      return // exactly-once replay: already published
    val entries = PayloadCodec.Parquet(basePath, schema, partCols, statsFields,
      maxRecordsPerFile, bucketSpec).write(df, "b")
    WeatherLakeV2Sink.writeManifest(basePath, id, entries,
      payload = Some(Payload))
  }

  /** Stage `df` on a BRANCH (the function-face twin of the catalog's
    * WAP staging path, [[WeatherLakeV2Sink.branchCommit]]): files land
    * in the data tree, the manifest lands in the branch's own staging
    * dir — invisible to main until `fast_forward` publishes it.
    */
  def appendTypedToBranch(spark: SparkSession, basePath: String,
      branch: String, df: DataFrame, schema: StructType,
      partCols: Seq[String], statsFields: Seq[String] = Nil,
      bucketSpec: Option[(String, Int)] = None): Unit = {
    // bucketed tables stage through the SAME bucket-routing writer as
    // main appends (the catalog's WAP path shares main's writer and
    // only swaps the commit destination) — staged files carry their
    // markers, so the zero-exchange layout survives fast_forward
    val entries = PayloadCodec.Parquet(basePath, schema, partCols, statsFields,
      bucketSpec = bucketSpec).write(df, "b")
    WeatherLakeV2Sink.branchCommit(basePath, branch,
      UUID.randomUUID().toString, entries, payload = Some(Payload))
  }

  /** A typed file's partition values as the LOGICAL (unescaped) values —
    * the typed writer path-escapes (`a b` → `a%20b`), so every typed
    * prune/domain comparison against batch or statement values must
    * unescape first; comparing the raw path segment would silently rule
    * out a file whose value needs escaping (and a merge that cannot see
    * its file duplicates the key). Classic lakes write values RAW and
    * keep using [[WeatherLakeV2Sink.partitionValues]] directly.
    */
  private[sources] def partitionValuesTyped(basePath: String,
      file: String): Map[String, String] =
    partitionValues(basePath, file).map { case (k, v) =>
      k -> ExternalCatalogUtils.unescapePathName(v)
    }

  /** Candidate files of a typed op as a frame carrying `__file` (the
    * manifest-joinable path) and — when `withPos` — `__pos`, the row's
    * ordinal within its data file (the engine's `_metadata.row_index`,
    * stable under pushed filters and row-group skipping: it is the
    * PHYSICAL position, which is what makes position-delete targeting
    * sound). Reads only `files`, typed. `__file` derives from
    * `_metadata.file_path` — a per-split CONSTANT — through the
    * driver-built spelling map ([[PayloadCodec.tiedToEntries]]): one hash
    * lookup per row, no path normalization and no Spark job.
    */
  private[graft] def framedTyped(spark: SparkSession, basePath: String,
      schema: StructType, files: Seq[String],
      withPos: Boolean = false): DataFrame = {
    // renamed columns fold their historical spellings in the same select
    PayloadCodec.tiedToEntries(
      DriverListing.parquetFrame(spark, files, widenedSchema(schema),
        Map("basePath" -> basePath)),
      (if (withPos) Seq(col("_metadata.row_index").as(PosFrameCol))
       else Seq.empty) ++ schema.fieldNames.toSeq.map(mappedCol(schema)),
      files)
  }

  // -----------------------------------------------------------------
  // merge-on-read deletion vectors (typed)
  // -----------------------------------------------------------------

  /** Where mor-delete files live under a table root. Underscore-prefixed
    * so plain directory listings (sweepOrphans' data walk, partition
    * discovery, `convert`'s adoption walk) skip it structurally.
    */
  val MorDeleteDir = "_mor_deletes"

  /** The delete-row column naming the ONE data file the deletion applies
    * to (the manifest entry path — file-scoped targeting, see
    * [[WeatherLakeV2Sink.MorDeletePrefix]]).
    */
  val MorTargetCol = "__target_file"

  /** A delete file's schema: the target-file column plus EVERY table
    * column (partition values materialized as plain columns — delete
    * files are unpartitioned).
    */
  def morDeleteSchema(schema: StructType): StructType =
    StructType(StructField(MorTargetCol, StringType, nullable = false) +:
      schema.fields)

  /** The POSITION-delete row-ordinal column: the deleted row's physical
    * index within its target file (the engine's `_metadata.row_index`).
    */
  val MorPosCol = "__row_pos"

  /** The framed-read ordinal column position deletes join against. */
  private[sources] val PosFrameCol = "__pos"

  /** A POSITION delete file's schema — (target file, row ordinal), the
    * Iceberg v2 position-delete / Delta deletion-vector shape: O(~16
    * bytes) per deleted row REGARDLESS of table width, where an equality
    * delete carries the full old image (on a wide `documents.text` row,
    * nearly the bytes it kills). Position deletes are the default mor
    * form; equality deletes remain the fallback (`morDeletes =
    * 'equality'`) and every reader subtracts BOTH — a table may hold a
    * mix across its history.
    */
  val MorPosSchema: StructType = StructType(Seq(
    StructField(MorTargetCol, StringType, nullable = false),
    StructField(MorPosCol, LongType, nullable = false)))

  /** Delete-file FLAVOR is structural: the typed task writer stamps its
    * op token into every file name (`part-<op>-<uuid>.parquet`), and
    * position-delete files are written with op `morpos` — so one
    * `#mordelete` directive kind covers both flavors and every
    * carry-over / vacuum / conflict rule in the manifest layer applies
    * unchanged (FORMAT.md §Merge-on-read).
    */
  private[graft] def isPosDelete(path: String): Boolean =
    new Path(path).getName.startsWith("part-morpos-")

  /** The live delete rows of `deleteFiles`, columns renamed `__d_<name>`
    * so they join against a framed data read without ambiguity.
    * Pre-rename equality delete files carry old-image columns under the
    * HISTORICAL spelling — the same widen-and-coalesce as every data
    * read, or the null-safe equality would silently miss (and
    * resurrect) their deletions.
    */
  private def readMorDeletesRenamed(spark: SparkSession, schema: StructType,
      deleteFiles: Seq[String]): DataFrame =
    DriverListing.parquetFrame(spark, deleteFiles,
        morDeleteSchema(widenedSchema(schema)))
      .select(col(MorTargetCol) +:
        schema.fieldNames.toSeq.map(n =>
          mappedCol(schema)(n).as(s"__d_$n")): _*)

  /** Subtract delete rows from a FRAMED read (table columns + `__file`,
    * plus `__pos` when any POSITION delete file is present).
    *
    * Position leg: a row dies iff some position-delete row names its
    * (file, ordinal) — an equi-anti-join on two narrow columns, so the
    * probe side needs NO table columns beyond the query's own
    * projection (column pruning survives) and the broadcast side is
    * O(16 bytes × deleted rows) regardless of row width.
    *
    * Equality leg (fallback / legacy files): a row dies iff some delete
    * row targets its file AND equals it on every column (null-safe).
    * For a deterministic delete predicate this is exactly `NOT(pred)`
    * semantics — any row equal to a deleted row matched the same
    * predicate — while file-scoped targeting keeps later re-insertions
    * (new files) alive.
    *
    * Both legs' delete sides are O(deleted rows); AQE elects a
    * broadcast when small, which is the whole point of merge-on-read.
    */
  private[graft] def applyMorDeletes(spark: SparkSession,
      schema: StructType, framed: DataFrame,
      deleteFiles: Seq[String]): DataFrame = {
    val (posFiles, eqFiles) = deleteFiles.partition(isPosDelete)
    val afterPos =
      if (posFiles.isEmpty) framed
      else {
        require(framed.columns.contains(PosFrameCol),
          "TypedLake: position-delete subtraction needs the framed " +
            s"read's $PosFrameCol ordinal column (framedTyped withPos)")
        val pd = DriverListing.parquetFrame(spark, posFiles, MorPosSchema)
          .select(col(MorTargetCol).as("__d_target"),
            col(MorPosCol).as("__d_pos"))
        framed.join(pd,
          framed("__file") === pd("__d_target") &&
            framed(PosFrameCol) === pd("__d_pos"), "left_anti")
      }
    if (eqFiles.isEmpty) afterPos
    else {
      val del = readMorDeletesRenamed(spark, schema, eqFiles)
      val cond = schema.fieldNames.toSeq
        .map(n => afterPos(n) <=> del(s"__d_$n"))
        .foldLeft(afterPos("__file") === del(MorTargetCol))(_ && _)
      afterPos.join(del, cond, "left_anti")
    }
  }

  /** The DISTINCT target data files named by a delete-file list (both
    * flavors). Bounded driver metadata: distinct targets ≤ touched
    * files, the manifest-read class.
    */
  private def morDeleteTargets(spark: SparkSession, schema: StructType,
      deleteFiles: Seq[String]): Array[String] = {
    val (posFiles, eqFiles) = deleteFiles.partition(isPosDelete)
    val sides = Seq(
      if (posFiles.isEmpty) None
      else Some(DriverListing.parquetFrame(spark, posFiles, MorPosSchema)
        .select(col(MorTargetCol))),
      if (eqFiles.isEmpty) None
      else Some(readMorDeletesRenamed(spark, schema, eqFiles)
        .select(col(MorTargetCol)))).flatten
    sides.reduce(_.unionByName(_)).distinct()
      .collect().map(_.getString(0))
  }

  /** Prune a delete-file ENTRY-LINE list to the files that can target
    * any of `dataFiles` — the delete-side skipping leg: delete files
    * carry min/max stats over [[MorTargetCol]] (written like any
    * statsFields), and a reader of a PRUNED data-file subset (a
    * partition-scoped DML candidate set, a CDF changed-file side) need
    * not open delete files whose whole target range lies outside it.
    * Fail-open like every prune here: no stats, non-ASCII values →
    * kept. Driver-side O(delete files × log data files).
    */
  private[graft] def pruneMorDeleteLines(deleteLines: Seq[String],
      dataFiles: Seq[String]): Seq[String] = {
    if (deleteLines.isEmpty) return Seq.empty
    val sorted = dataFiles.sorted.toIndexedSeq
    def ascii(s: String): Boolean = s.forall(_ < 128)
    val filesAscii = sorted.forall(ascii)
    def anyFileIn(lo: String, hi: String): Boolean = {
      // first path >= lo, then check it is <= hi
      var l = 0; var r = sorted.size
      while (l < r) {
        val m = (l + r) >>> 1
        if (sorted(m) < lo) l = m + 1 else r = m
      }
      l < sorted.size && sorted(l) <= hi
    }
    deleteLines.filter { line =>
      lineStats(line).get(MorTargetCol) match {
        case Some(fs) if !fs.numeric && filesAscii && ascii(fs.min) &&
            ascii(fs.max) =>
          anyFileIn(fs.min, fs.max)
        case _ => true // fail open
      }
    }.map(entryPath)
  }

  /** The delete FILES a resolution of `files` must subtract: the live
    * delete lines pruned by target range ([[pruneMorDeleteLines]]) and —
    * when the caller's read re-applies a predicate to every surviving
    * row — by the predicate's own stats domain (`lineKeep`, fail-open).
    * The second leg is SOUND only for reads whose output is filtered by
    * the same predicate the keep-function approximates (a skipped
    * file's unsubtracted ghost rows then never match); rewriting reads
    * (CoW survivors, reconcile, compaction) must keep the default.
    * Equality delete files carry data-column stats for exactly this
    * ([[writeMorDeleteFiles]]); position files have none and always
    * survive `lineKeep` — their broadcast is O(16 B/row) anyway.
    */
  private[graft] def applicableDeleteLines(deleteLines: Seq[String],
      files: Seq[String],
      lineKeep: String => Boolean = _ => true): Seq[String] =
    pruneMorDeleteLines(deleteLines.filter(l =>
      lineStats(l).isEmpty || lineKeep(l)), files)

  /** The data files any live delete file could TARGET, by the delete
    * entry lines' target-range stats — the inverse of
    * [[pruneMorDeleteLines]], and the driver-side split every
    * subtraction-only read uses: files OUTSIDE every range are CLEAN
    * and bypass the anti-join (and its file-key broadcast map)
    * entirely. Fail-SAFE toward "targeted": a delete line without
    * usable stats marks every file (the subtraction still runs —
    * correctness never rides the split). O((files + lines) log files)
    * driver metadata.
    */
  private[graft] def possiblyTargetedFiles(files: Seq[String],
      deleteLines: Seq[String]): Set[String] = {
    if (deleteLines.isEmpty) return Set.empty
    def ascii(s: String): Boolean = s.forall(_ < 128)
    val ranges = deleteLines.map(l => lineStats(l).get(MorTargetCol))
    if (ranges.exists(r => r.isEmpty || r.get.numeric ||
        !ascii(r.get.min) || !ascii(r.get.max)) ||
        !files.forall(ascii))
      return files.toSet // no usable range somewhere: everything targeted
    val rs = ranges.map(_.get)
    files.filter(f => rs.exists(r => r.min <= f && f <= r.max)).toSet
  }

  /** SPLIT-SCAN mor resolution for SUBTRACTION-ONLY reads (SELECT
    * faces, CDF sides, compaction inputs — anything that only needs the
    * resolved ROWS, not per-row `__file` bookkeeping): clean files read
    * PLAIN (no ordinals, no file-key broadcast map, no anti-join probe
    * per row) and union the resolved read of the targeted sliver. At
    * CDC rates deletes touch a small fraction of a 100 TB table's
    * files; the subtraction machinery now costs O(targeted files), not
    * O(table). DML ops keep [[resolvedFramed]] — they need `__file` on
    * every candidate row regardless.
    */
  private[graft] def readResolvedSplit(spark: SparkSession,
      basePath: String, schema: StructType, files: Seq[String],
      deleteLines: Seq[String]): DataFrame = {
    val names = schema.fieldNames.toSeq
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val deletes = pruneMorDeleteLines(deleteLines, files)
    if (deletes.isEmpty) return readTyped(spark, basePath, schema, files)
    val targeted = possiblyTargetedFiles(files,
      deleteLines.filter(l => deletes.contains(entryPath(l))))
    val clean = files.filterNot(targeted)
    val resolved = applyMorDeletes(spark, schema,
        framedTyped(spark, basePath, schema, targeted.toSeq.sorted,
          withPos = deletes.exists(isPosDelete)), deletes)
      .select(names.map(col): _*)
    if (clean.isEmpty) resolved
    else readTyped(spark, basePath, schema, clean).unionByName(resolved)
  }

  /** Resolve `files` through the PRUNED live delete set: one framed
    * read — ordinals included exactly when a position-delete file
    * survives the prune, or when the caller itself needs them (a mor op
    * about to WRITE position deletes) — minus both delete flavors.
    */
  private def resolvedFramed(spark: SparkSession, basePath: String,
      schema: StructType, files: Seq[String], deleteLines: Seq[String],
      needPos: Boolean = false,
      lineKeep: String => Boolean = _ => true): DataFrame = {
    val deletes = applicableDeleteLines(deleteLines, files, lineKeep)
    val withPos = needPos || deletes.exists(isPosDelete)
    applyMorDeletes(spark, schema,
      framedTyped(spark, basePath, schema, files, withPos), deletes)
  }

  /** Deletes at or under this row count collapse to ONE delete file —
    * high-rate CDC must not shed per-task confetti (reconcile/compaction
    * bounds the population either way).
    */
  private val MorDeleteCoalesceRows = 1000000L

  /** Write a frame of delete rows ([[morDeleteSchema]] shape) under
    * `_mor_deletes/` and return the entry lines to publish as
    * `#mordelete` directives — the one write path of both mor DELETE and
    * mor MERGE.
    */
  private def writeMorDeleteFiles(deleteRows: DataFrame, deletedRows: Long,
      basePath: String, schema: StructType,
      maxRecordsPerFile: Long, statsFields: Seq[String] = Nil): Seq[String] = {
    val routed = if (deletedRows <= MorDeleteCoalesceRows)
      deleteRows.coalesce(1) else deleteRows
    // each delete file's entry line carries min/max over its TARGET
    // paths — the delete-side skipping leg ([[pruneMorDeleteLines]]) —
    // plus the table's stats columns over the OLD IMAGES, so a
    // predicate-filtered read can skip whole delete files whose deleted
    // rows provably cannot match ([[applicableDeleteLines]])
    PayloadCodec.Parquet(s"$basePath/$MorDeleteDir", morDeleteSchema(schema),
      statsFields = MorTargetCol +: statsFields.filter(f =>
        schema.fieldNames.exists(_.equalsIgnoreCase(f))),
      maxRecordsPerFile = maxRecordsPerFile).write(routed, "mordelete")
  }

  /** Write a frame of POSITION delete rows ([[MorPosSchema]] shape)
    * under `_mor_deletes/` — the op token `morpos` in the file name IS
    * the flavor marker ([[isPosDelete]]); entry lines carry the same
    * target-range stats, published under the same `#mordelete`
    * directive.
    */
  private def writeMorPosDeleteFiles(deleteRows: DataFrame,
      deletedRows: Long, basePath: String,
      maxRecordsPerFile: Long): Seq[String] = {
    val routed = if (deletedRows <= MorDeleteCoalesceRows)
      deleteRows.coalesce(1) else deleteRows
    PayloadCodec.Parquet(s"$basePath/$MorDeleteDir", MorPosSchema,
      statsFields = Seq(MorTargetCol), maxRecordsPerFile = maxRecordsPerFile)
      .write(routed, "morpos")
  }

  /** MERGE-ON-READ DELETE — the rewrite-amplification answer (Delta
    * deletion vectors / Iceberg v2 equality-delete files): a small
    * DELETE publishes O(deleted rows) bytes of DELETE FILES plus one
    * directive-only manifest, rewrites NO data file and supersedes NO
    * manifest. Scans (the catalog face via [[graft.plans
    * .MorScanResolution]], every function-face read, and all typed DML
    * ops' own reads) subtract the delete rows with a file-scoped
    * null-safe anti-join; `CALL lake.system.reconcile` (or any
    * compaction of the affected directories) folds them back into clean
    * files. At CDC rates this is THE difference between O(deleted) and
    * O(touched-files) write amplification per statement.
    *
    * Semantics equal [[deleteTyped]] exactly (same predicate binding,
    * same SQL NULL row-keeping, same fail-open candidate prune, same
    * publish-time read-domain conflict); the matching pass reads the
    * MOR-RESOLVED view, so re-deleting already-deleted rows is a no-op
    * and reported counts stay true. A delete matching nothing publishes
    * nothing. Time travel is exact: directives resolve within the
    * pinned snapshot ([[WeatherLakeV2Sink.morDeleteFilesAsOf]]).
    */
  def deleteTypedMor(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      predicate: DataFrame => Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean =
        (_, _) => true,
      maxRecordsPerFile: Long = 0L,
      positionDeletes: Boolean = true,
      statsFields: Seq[String] = Nil): WeatherLakeV2Sink.DeleteStats = {
    def hit(df: DataFrame) = coalesce(predicate(df), lit(false))
    rewriteMor(spark, basePath, "delete", schema, partCols, hit, prune,
        positionDeletes, statsFields, maxRecordsPerFile, None)(_ => None)
      .map { case (m, files) =>
        WeatherLakeV2Sink.DeleteStats(m.perFile.length, files, m.count) }
      .getOrElse(WeatherLakeV2Sink.DeleteStats(0, 0, 0L))
  }

  /** The mor DELETE/UPDATE core: ONE snapshot read; the predicate pass
    * over the MOR-RESOLVED view (`matching` selects the rows the op
    * replaces, under SQL NULL semantics); the matches' delete rows
    * written in the chosen flavor, then `images(matches)` — the new
    * images, if any — appended as data files; ONE directive commit
    * superseding nothing. The predicate's own stats domain also prunes
    * DELETE files: a delete file whose old images provably cannot match
    * need not be opened or broadcast — sound because unsubtracted ghost
    * rows never match either, and a mor op rewrites nothing. None when
    * no row matched. Returns the matches and the files written.
    */
  private def rewriteMor(spark: SparkSession, basePath: String, op: String,
      schema: StructType, partCols: Seq[String],
      matching: DataFrame => Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean,
      positionDeletes: Boolean, statsFields: Seq[String],
      maxRecordsPerFile: Long, bucketSpec: Option[(String, Int)])(
      images: DataFrame => Option[DataFrame]):
      Option[(WeatherLakeV2Sink.Matches, Int)] = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, s"${op}TypedMor")
    def inReadDomain(l: String): Boolean =
      prune(partitionValuesTyped(basePath, entryPath(l)), lineStats(l))
    snap.matchPass(inReadDomain, "__file",
        resolvedFramed(spark, basePath, schema, _, snap.liveMorDeleteLines,
          needPos = positionDeletes, lineKeep = inReadDomain), matching)
      .map { m =>
        val deleteFiles =
          if (positionDeletes)
            writeMorPosDeleteFiles(m.rows.select(
              col("__file").as(MorTargetCol), col(PosFrameCol).as(MorPosCol)),
              m.count, basePath, maxRecordsPerFile)
          else writeMorDeleteFiles(m.rows.select(
            col("__file").as(MorTargetCol) +:
              schema.fieldNames.toSeq.map(col): _*),
            m.count, basePath, schema, maxRecordsPerFile, statsFields)
        val dataFiles = images(m.rows).toSeq.flatMap(PayloadCodec.Parquet(basePath,
          schema, partCols, statsFields, maxRecordsPerFile, bucketSpec)
          .write(_, s"mor$op"))
        publishMor(snap, s"mor$op", dataFiles, deleteFiles, inReadDomain)
        (m, dataFiles.size + deleteFiles.size)
      }
  }

  /** Publish a mor commit: appended data lines plus `#mordelete`
    * directives, superseding nothing. `fileIdentityDependent`: the delete
    * rows target data-file PATHS, so a racing compaction/reconcile (which
    * rewrites in-domain rows under new paths) must conflict — only
    * identity-preserving maintenance (checkpoint/measure) is exempt.
    */
  private def publishMor(snap: LakeSnapshot, op: String,
      dataLines: Seq[String], deleteLines: Seq[String],
      inReadDomain: String => Boolean): Unit =
    WeatherLakeV2Sink.publishCommit(snap.basePath, op,
      snapshot = snap.live, supersedes = Seq.empty,
      lines = dataLines ++ deleteLines.map(l =>
        s"${WeatherLakeV2Sink.MorDeletePrefix}$l"),
      readDomain = Some(inReadDomain), payload = Some(Payload),
      fileIdentityDependent = true)

  /** MERGE-ON-READ MERGE — the CDC-rate upsert without rewrite
    * amplification (the reference's whole loader contract is an hourly
    * ON-CONFLICT upsert, load_to_postgres.py:90-102 + etl_openmeteo
    * .py:14; at 100 TB a copy-on-write merge rewrites every touched file
    * per hour). Same action surface and dispatch semantics as
    * [[mergeTyped]], different commit shape: matched UPDATEs emit a
    * DELETE ROW for the old image plus an APPENDED new image (skipped
    * entirely when every column is unchanged — no churn on idempotent
    * re-merges), matched/full-sync DELETEs emit delete rows only,
    * INSERTs append — ONE manifest carries the appended files' entry
    * lines AND the `#mordelete` directives, supersedes NOTHING. Rows the
    * merge does not touch never move; reconcile/compaction folds the
    * delete rows back later.
    */
  def mergeTypedMor(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      batch: DataFrame, keyCols: Seq[String],
      actions: TypedMergeActions = TypedMergeActions(
        matchedUpdate = Some(None), insert = Some(None)),
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      positionDeletes: Boolean = true,
      bucketSpec: Option[(String, Int)] = None): WeatherLakeV2Sink.MergeStats = {
    import org.apache.spark.sql.functions.when
    val (snap, inReadDomain, touched) = mergeTouched(spark, basePath,
      "mergeTypedMor", schema, partCols, batch, keyCols,
      fullSync = actions.notMatchedBySourceDelete.isDefined)
    val names = schema.fieldNames.toSeq

    // ---- relational classification over ONE joined frame (tgt keeps
    // __file — and, for position deletes, __pos — so every old image
    // knows the (file, ordinal) its delete row targets)
    val mj = new MergeJoin(resolvedFramed(spark, basePath, schema, touched,
      snap.liveMorDeleteLines, needPos = positionDeletes), batch, keyCols,
      actions)
    import mj.{joined, matched, sourceOnly, targetOnly, updCond, insCond,
      updatedValue, insertedValue}

    val matchedDel = actions.matchedDelete.map(c =>
      coalesce(c(joined), lit(false))).getOrElse(lit(false))
    val nmbsDel = actions.notMatchedBySourceDelete.map(c =>
      mj.cond(Some(c.getOrElse(_ => lit(true))))).getOrElse(lit(false))

    // an UPDATE whose every column is unchanged neither deletes nor
    // appends (idempotent re-merges publish no churn; SQL-visible state
    // is identical, and CDF classifies by value either way)
    val updChanged = names.map(n => updatedValue(n) <=> joined(n))
      .reduce(_ && _).unary_!
    val updates = matched && !matchedDel && updCond &&
      lit(actions.matchedUpdate.isDefined) && updChanged

    val deleteMark =
      (matched && (matchedDel || updates)) || (targetOnly && nmbsDel)
    val appendMark = updates ||
      (sourceOnly && lit(actions.insert.isDefined) && insCond)

    val deleteRows =
      if (positionDeletes) joined.filter(deleteMark)
        .select(joined("__file").as(MorTargetCol),
          joined(PosFrameCol).as(MorPosCol))
      else joined.filter(deleteMark)
        .select(joined("__file").as(MorTargetCol) +:
          names.map(n => joined(n).as(n)): _*)
    val appendRows = joined.filter(appendMark)
      .select(names.map(n =>
        when(matched, updatedValue(n)).otherwise(insertedValue(n)).as(n)): _*)

    val perFile = deleteRows.groupBy(col(MorTargetCol))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val deletedRows = perFile.map(_._2).sum
    val newDeleteFiles =
      if (perFile.isEmpty) Seq.empty[String]
      else if (positionDeletes) writeMorPosDeleteFiles(deleteRows,
        deletedRows, basePath, maxRecordsPerFile)
      else writeMorDeleteFiles(deleteRows, deletedRows, basePath, schema,
        maxRecordsPerFile, statsFields)
    // appended data files carry the table's write-time stats like every
    // other append — mor-merged data must not quietly fall out of the
    // skipping/bloom layer until a compaction
    val newDataFiles = PayloadCodec.Parquet(basePath, schema, partCols, statsFields,
      maxRecordsPerFile, bucketSpec).write(appendRows, "mormerge")
    if (newDeleteFiles.isEmpty && newDataFiles.isEmpty)
      return WeatherLakeV2Sink.MergeStats(0, 0) // true no-op: no commit
    publishMor(snap, "mormerge", newDataFiles, newDeleteFiles, inReadDomain)
    WeatherLakeV2Sink.MergeStats(perFile.length,
      newDataFiles.size + newDeleteFiles.size)
  }

  /** MERGE-ON-READ UPDATE — the third mor DML verb: rows where
    * `predicate` is TRUE and at least one assignment actually CHANGES a
    * value emit a delete row (old image) plus an appended new image; no
    * data file is rewritten, nothing is superseded. Identical-value
    * updates publish nothing (idempotent re-runs are free). Semantics
    * otherwise equal [[updateTyped]] (same binding, SQL NULL row-keeping,
    * fail-open prune, partition-column assignments move rows across
    * directories via the appended image's routing).
    */
  def updateTypedMor(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      predicate: DataFrame => Column,
      assignments: Seq[(String, DataFrame => Column)],
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean =
        (_, _) => true,
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      positionDeletes: Boolean = true,
      bucketSpec: Option[(String, Int)] = None): WeatherLakeV2Sink.UpdateStats = {
    val names = schema.fieldNames.toSeq
    assignments.foreach { case (n, _) =>
      require(names.contains(n),
        s"TypedLake: UPDATE assigns unknown column '$n' (schema: " +
          s"${names.mkString(", ")})")
    }
    val assigned = assignments.toMap
    def newVal(df: DataFrame)(n: String): Column =
      assigned.get(n).map(_(df)).getOrElse(df(n))
    def hit(df: DataFrame) = coalesce(predicate(df), lit(false))
    def changed(df: DataFrame) = names.map(n => newVal(df)(n) <=> df(n))
      .reduce(_ && _).unary_!
    rewriteMor(spark, basePath, "update", schema, partCols,
        df => hit(df) && changed(df), prune, positionDeletes, statsFields,
        maxRecordsPerFile, bucketSpec)(
      rows => Some(rows.select(names.map(n => newVal(rows)(n).as(n)): _*)))
      .map { case (m, files) =>
        WeatherLakeV2Sink.UpdateStats(m.perFile.length, files, m.count) }
      .getOrElse(WeatherLakeV2Sink.UpdateStats(0, 0, 0L))
  }

  /** RECONCILE: fold every live delete row back into clean data files —
    * rewrite exactly the data files that have applicable delete rows
    * (deletions applied), supersede their manifests plus EVERY live
    * directive-carrying manifest, publish ONE view-preserving commit.
    * After reconcile + vacuum the table is pure copy-on-write again.
    * Returns the number of data files rewritten; a table with no live
    * delete rows publishes nothing. Dangling delete rows (target no
    * longer committed) are consumed without a rewrite.
    */
  def reconcileMor(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      bucketSpec: Option[(String, Int)] = None): Int = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, "reconcileMor")
    val liveDeletes = snap.liveMorDeleteLines.map(entryPath)
    if (liveDeletes.isEmpty) return 0
    val committedSet = snap.liveEntryLines.map(entryPath).toSet
    // targets still committed = the files to rewrite (bounded driver
    // metadata: distinct targets ≤ touched files) — both flavors
    val targets = morDeleteTargets(spark, schema, liveDeletes)
      .filter(committedSet).toSeq.sorted
    // EVERY directive-carrying manifest is superseded too, with its
    // untargeted DATA lines re-listed — a mor-merge manifest is MIXED
    // (appended files + directives): it is superseded for its
    // directives, but its data files live on
    val sup = snap.supersedeFiles(targets, also = snap.morManifests)
    val newFiles =
      if (targets.isEmpty) Seq.empty
      else {
        val resolved = applyMorDeletes(spark, schema,
          framedTyped(spark, basePath, schema, targets,
            withPos = liveDeletes.exists(isPosDelete)), liveDeletes)
          .select(schema.fieldNames.toSeq.map(col): _*)
        PayloadCodec.Parquet(basePath, schema, partCols, statsFields, maxRecordsPerFile,
          bucketSpec).write(resolved, "reconcile")
      }
    // every live directive is consumed (all applicable targets rewritten,
    // the rest dangling), so NOTHING is carried over — that is the point.
    // The empty read domain still arms the directive-conflict scan: a mor
    // delete/merge that published since this reconcile's snapshot holds
    // delete rows this rewrite never applied (and whose targets it may
    // have just replaced) — loud conflict, never a silent resurrection.
    WeatherLakeV2Sink.publishCommit(basePath, "reconcile",
      snapshot = snap.live, supersedes = sup.manifests,
      lines = sup.kept ++ newFiles,
      readDomain = Some(_ => false), payload = Some(Payload))
    targets.size
  }

  /** COMPACT DELETE FILES — rewrite DIRECTIVES, not data (Iceberg's
    * `rewrite_position_delete_files`): consolidate every live delete
    * file into AT MOST ONE position-flavor file (rolled at
    * `maxRecordsPerFile` when positive), CONVERTING equality rows to
    * position form on the way — each still-committed equality old image
    * is resolved to the (file, ordinal) set it kills with ONE bounded
    * framed read of the files it targets (O(targeted files), the
    * split-scan class — never the table). Post-compact a table holds
    * ONLY `part-morpos-*` files, so a read plans ONE anti-join leg no
    * matter how mixed the table's delete history was, and the
    * consolidated footprint is O(16 B/deleted row) even when the
    * equality history carried wide old images. Equality old images read
    * through the NAME MAPPING (widened + coalesced,
    * [[readMorDeletesRenamed]]) so pre-rename delete files convert
    * losslessly — a current-names-only read would null-fill the renamed
    * column and the consolidated subtraction would both resurrect those
    * deletions and kill unrelated null-valued rows. Dangling rows whose
    * target data file is no longer committed drop. ONE manifest
    * supersedes every directive-carrying manifest with its DATA lines
    * re-listed verbatim: ZERO data files rewritten, the committed VIEW
    * unchanged (position form subtracts exactly the rows the equality
    * images matched — the CDF across the commit is empty), data-file
    * identity preserved — concurrent mor publishers tolerate it exactly
    * like checkpoint/measure ([[WeatherLakeV2Sink.publishCommit]]'s
    * `compactdel` classification). At hourly CDC rates this bounds the
    * `_mor_deletes/` population without paying reconcile's data
    * rewrite; vacuum then reclaims the superseded delete files.
    *
    * Returns (live delete files before, after). A table already holding
    * ≤ 1 position-flavor file publishes nothing; ANY live equality file
    * triggers conversion.
    */
  def compactMorDeletes(spark: SparkSession, basePath: String,
      schema: StructType, maxRecordsPerFile: Long = 0L): (Int, Int) = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, "compactMorDeletes")
    val liveDeleteFiles = snap.liveMorDeleteLines.map(entryPath)
    val (posFiles, eqFiles) = liveDeleteFiles.partition(isPosDelete)
    if (eqFiles.isEmpty && posFiles.size <= 1)
      return (liveDeleteFiles.size, liveDeleteFiles.size)
    val session = spark
    import session.implicits._
    // targets resolve against THIS snapshot's committed set; a data file
    // cannot leave it without a commit that either conflicts here
    // (supersede-liveness) or has already applied the deletions
    val committedSet = snap.liveEntryLines.map(entryPath).toSet
    val committedDf = committedSet.toSeq.toDF("__live_file")
    // live position rows pass through, dangling targets dropped
    val posRows =
      if (posFiles.isEmpty) None
      else Some(DriverListing.parquetFrame(spark, posFiles, MorPosSchema)
        .join(broadcast(committedDf),
          col(MorTargetCol) === col("__live_file"), "left_semi"))
    // equality rows RESOLVE to ordinals: frame the still-committed
    // targets with their physical positions and keep exactly the rows
    // some old image kills (file-scoped null-safe equality — the same
    // condition every read's equality leg anti-joins on, so the
    // converted position set subtracts identically by construction)
    val eqRows =
      if (eqFiles.isEmpty) None
      else {
        val del = readMorDeletesRenamed(spark, schema, eqFiles)
        // bounded driver metadata: distinct targets ≤ touched files
        val targets = del.select(col(MorTargetCol)).distinct()
          .collect().map(_.getString(0)).filter(committedSet).toSeq.sorted
        if (targets.isEmpty) None
        else {
          val framed = framedTyped(spark, basePath, schema, targets,
            withPos = true)
          val cond = schema.fieldNames.toSeq
            .map(n => framed(n) <=> del(s"__d_$n"))
            .foldLeft(framed("__file") === del(MorTargetCol))(_ && _)
          Some(framed.join(broadcast(del), cond, "left_semi")
            .select(col("__file").as(MorTargetCol),
              col(PosFrameCol).as(MorPosCol)))
        }
      }
    // an equality image may name a row a live position delete already
    // kills — (target, ordinal) pairs dedup, the view cannot double-drop
    val allRows = (posRows.toSeq ++ eqRows.toSeq)
      .reduceOption(_.unionByName(_)).map(_.distinct())
    val newLines = allRows match {
      case None => Seq.empty
      case Some(rows) =>
        // O(deleted rows) — the artifact being compacted is small by
        // construction; the count sizes the coalesce like every mor write
        val n = rows.count()
        if (n == 0L) Seq.empty
        else writeMorPosDeleteFiles(rows, n, basePath, maxRecordsPerFile)
    }
    // every directive-carrying manifest is superseded with its DATA lines
    // re-listed verbatim; its directives are replaced, not carried
    val sup = snap.supersede(_ => false, also = snap.morManifests)
    WeatherLakeV2Sink.publishCommit(basePath, "compactdel",
      snapshot = snap.live, supersedes = sup.manifests,
      lines = sup.kept ++ newLines.map(l =>
        s"${WeatherLakeV2Sink.MorDeletePrefix}$l"),
      payload = Some(Payload))
    (liveDeleteFiles.size, newLines.size)
  }

  // -----------------------------------------------------------------
  // copy-on-write DELETE (typed)
  // -----------------------------------------------------------------

  /** Typed copy-on-write DELETE — [[WeatherLakeV2Sink.deleteCommitted]]'s
    * exact plan shape (driver-side fail-open candidate prune over
    * partition values + entry-line stats; ONE distributed pass counting
    * definite matches per file; survivors rewritten distributed;
    * ONE partially-superseding manifest validated at publish) with the
    * data legs on typed Parquet frames. `predicate` binds over the full
    * table schema; SQL NULL semantics (NULL keeps the row).
    */
  def deleteTyped(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      predicate: DataFrame => Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean =
        (_, _) => true,
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      bucketSpec: Option[(String, Int)] = None): WeatherLakeV2Sink.DeleteStats = {
    import org.apache.spark.sql.functions.not
    rewriteMatchesTyped(spark, basePath, "delete", schema, partCols,
        predicate, prune, statsFields, maxRecordsPerFile, bucketSpec)(
      (tf, hit) => tf.filter(not(hit(tf))))
      .map { case (m, newFiles) =>
        WeatherLakeV2Sink.DeleteStats(m.touched.size, newFiles, m.count) }
      .getOrElse(WeatherLakeV2Sink.DeleteStats(0, 0, 0L))
  }

  /** The typed copy-on-write DELETE/UPDATE core —
    * [[WeatherLakeV2Sink]]'s classic one with the data legs on typed
    * frames resolved through the snapshot's live delete rows
    * (merge-on-read: already-deleted rows neither count nor survive):
    * ONE snapshot read, the predicate pass, the touched files rewritten
    * as `rewrite(frame, hit)`, ONE partially-superseding publish. A
    * superseded MIXED manifest's mor directives ride along (their
    * untouched targets still need them; touched-target directives
    * dangle harmlessly). None when no row matched.
    */
  private def rewriteMatchesTyped(spark: SparkSession, basePath: String,
      op: String, schema: StructType, partCols: Seq[String],
      predicate: DataFrame => Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean,
      statsFields: Seq[String], maxRecordsPerFile: Long,
      bucketSpec: Option[(String, Int)])(
      rewrite: (DataFrame, DataFrame => Column) => DataFrame):
      Option[(WeatherLakeV2Sink.Matches, Int)] = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, s"${op}Typed")
    def inReadDomain(l: String): Boolean =
      prune(partitionValuesTyped(basePath, entryPath(l)), lineStats(l))
    def resolved(files: Seq[String]): DataFrame =
      resolvedFramed(spark, basePath, schema, files, snap.liveMorDeleteLines)
    def hit(df: DataFrame) = coalesce(predicate(df), lit(false))
    snap.matchPass(inReadDomain, "__file", resolved, hit).map { m =>
      val sup = snap.supersedeFiles(m.touched)
      val newFiles = PayloadCodec.Parquet(basePath, schema, partCols, statsFields,
        maxRecordsPerFile, bucketSpec).write(rewrite(resolved(m.touched), hit), op)
      WeatherLakeV2Sink.publishCommit(basePath, op, snapshot = snap.live,
        supersedes = sup.manifests, lines = sup.lines(newFiles),
        readDomain = Some(inReadDomain), payload = Some(Payload))
      (m, newFiles.size)
    }
  }

  // -----------------------------------------------------------------
  // copy-on-write UPDATE (typed)
  // -----------------------------------------------------------------

  /** Typed copy-on-write UPDATE: rows where `predicate` is TRUE get the
    * `assignments` applied (each maps the framed row to the column's new
    * value; unassigned columns keep their value). Assigning a PARTITION
    * column is supported — the rewrite routes every row by its (possibly
    * new) partition values, so updated rows MOVE directories, which the
    * classic single-payload update could not express.
    */
  def updateTyped(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      predicate: DataFrame => Column,
      assignments: Seq[(String, DataFrame => Column)],
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean =
        (_, _) => true,
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      bucketSpec: Option[(String, Int)] = None): WeatherLakeV2Sink.UpdateStats = {
    import org.apache.spark.sql.functions.when
    val names = schema.fieldNames.toSeq
    assignments.foreach { case (n, _) =>
      require(names.contains(n),
        s"TypedLake: UPDATE assigns unknown column '$n' (schema: " +
          s"${names.mkString(", ")})")
    }
    val assigned = assignments.toMap
    rewriteMatchesTyped(spark, basePath, "update", schema, partCols,
        predicate, prune, statsFields, maxRecordsPerFile, bucketSpec)(
      (tf, hit) => tf.select(names.map { n =>
        assigned.get(n) match {
          case Some(a) => when(hit(tf), a(tf)).otherwise(tf(n)).as(n)
          case None => tf(n)
        }
      }: _*))
      .map { case (m, newFiles) =>
        WeatherLakeV2Sink.UpdateStats(m.touched.size, newFiles, m.count) }
      .getOrElse(WeatherLakeV2Sink.UpdateStats(0, 0, 0L))
  }

  // -----------------------------------------------------------------
  // copy-on-write MERGE (typed)
  // -----------------------------------------------------------------

  /** What a typed MERGE does per action class; every condition/assignment
    * binds over the JOINED frame, where target columns appear under their
    * own names and source columns under [[srcCol]]'s `__s_`-prefixed
    * names (key columns are the coalesced join keys).
    *
    *  - `matchedDelete` — `WHEN MATCHED [AND cond] THEN DELETE`;
    *  - `matchedUpdate` — `WHEN MATCHED [AND cond] THEN UPDATE SET …`;
    *    `None` assignments = `UPDATE SET *` (replace every data column
    *    with the source's);
    *  - `insert` — `WHEN NOT MATCHED [AND cond] THEN INSERT …`; `None`
    *    assignments = `INSERT *`;
    *  - `notMatchedBySourceDelete` — `WHEN NOT MATCHED BY SOURCE [AND
    *    cond] THEN DELETE`, the full-sync clause: target rows with no
    *    source match are deleted where the condition holds (condition
    *    over TARGET columns only — there is no source row to reference).
    *
    * Action order is SQL's: for a matched row, delete-then-update in the
    * order given; conditions are evaluated with SQL three-valued logic
    * (NULL = action does not apply, the next one is tried).
    */
  final case class TypedMergeActions(
      matchedDelete: Option[DataFrame => Column] = None,
      matchedUpdate: Option[Option[Seq[(String, DataFrame => Column)]]] = None,
      matchedUpdateCond: Option[DataFrame => Column] = None,
      insert: Option[Option[Seq[(String, DataFrame => Column)]]] = None,
      insertCond: Option[DataFrame => Column] = None,
      notMatchedBySourceDelete: Option[Option[DataFrame => Column]] = None)

  /** Source-column name on the joined merge frame. */
  def srcCol(name: String): String = s"__s_$name"

  /** Typed copy-on-write MERGE. `keyCols` are the ON-equality columns
    * (same name both sides — the standard upsert key); `batch` must carry
    * every table column (for INSERT *) under the table's names and be
    * key-unique.
    *
    * Read domain and candidate pruning: when every partition column is a
    * key column and no NOT-MATCHED-BY-SOURCE action exists, candidates
    * prune to the batch's distinct partition tuples (the classic merge's
    * partition-immutability contract); otherwise the domain is the whole
    * table — full-sync semantics genuinely read everything, and a key
    * that does not determine the partition cannot rule any file out.
    */
  def mergeTyped(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      batch: DataFrame, keyCols: Seq[String],
      actions: TypedMergeActions = TypedMergeActions(
        matchedUpdate = Some(None), insert = Some(None)),
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      bucketSpec: Option[(String, Int)] = None): WeatherLakeV2Sink.MergeStats = {
    import org.apache.spark.sql.functions.when
    val (snap, inReadDomain, touched) = mergeTouched(spark, basePath,
      "mergeTyped", schema, partCols, batch, keyCols,
      fullSync = actions.notMatchedBySourceDelete.isDefined)
    val names = schema.fieldNames.toSeq
    val sup = snap.supersedeFiles(touched)

    // ---- relational rewrite: target rows of touched files ⟗ batch
    // (MOR-resolved: a delete-vectored row must not present as matched —
    // its key has to INSERT, not update a ghost)
    val mj = new MergeJoin(resolvedFramed(spark, basePath, schema, touched,
      snap.liveMorDeleteLines).drop("__file"), batch, keyCols, actions)
    import mj.{joined, matched, sourceOnly, targetOnly, updCond, insCond,
      updatedValue, insertedValue}

    // per-column value of the output row, action semantics in ONE
    // codegen'd when-chain per column (no per-action passes)
    val matchedDel = actions.matchedDelete.map(c =>
      matched && coalesce(c(joined), lit(false)))
    val nmbsDel = actions.notMatchedBySourceDelete.map(c =>
      targetOnly && mj.cond(Some(c.getOrElse(_ => lit(true)))))

    val keepRow =
      when(matched,
        matchedDel.map(d => !when(d, lit(true)).otherwise(lit(false)))
          .getOrElse(lit(true)))
      .when(sourceOnly, lit(actions.insert.isDefined) && insCond)
      .otherwise( // target only
        nmbsDel.map(d => !when(d, lit(true)).otherwise(lit(false)))
          .getOrElse(lit(true)))
    val outCols = names.map { n =>
      when(matched,
        when(matchedDel.getOrElse(lit(false)), joined(n)) // dropped anyway
          .when(updCond, updatedValue(n))
          .otherwise(joined(n)))
      .when(sourceOnly, insertedValue(n))
      .otherwise(joined(n))
      .as(n)
    }
    val rewrite = joined.filter(keepRow).select(outCols: _*)
    val newFiles = PayloadCodec.Parquet(basePath, schema, partCols, statsFields,
      maxRecordsPerFile, bucketSpec).write(rewrite, "merge")
    WeatherLakeV2Sink.publishCommit(basePath, "merge", snapshot = snap.live,
      supersedes = sup.manifests, lines = sup.lines(newFiles),
      readDomain = Some(inReadDomain), payload = Some(Payload))
    WeatherLakeV2Sink.MergeStats(touched.size, newFiles.size)
  }

  /** The typed MERGE's snapshot and touched files, shared by the
    * copy-on-write and mor merges. Candidates prune to the read domain
    * ([[WeatherLakeV2Sink.mergeReadDomain]]: partition-prunable when
    * every partition column is a key column and no NOT MATCHED BY SOURCE
    * clause exists — otherwise the domain is the whole table, since
    * full-sync semantics genuinely read everything and a key that does
    * not determine the partition cannot rule any file out); then ONE
    * distributed semi-join of the MOR-resolved candidates against the
    * batch keys names the files holding a batch key. A full-sync merge
    * touches its whole domain. Returns (snapshot, read domain, touched
    * files).
    */
  private def mergeTouched(spark: SparkSession, basePath: String,
      who: String, schema: StructType, partCols: Seq[String],
      batch: DataFrame, keyCols: Seq[String],
      fullSync: Boolean): (LakeSnapshot, String => Boolean, Seq[String]) = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, who)
    val names = schema.fieldNames.toSeq
    require(keyCols.nonEmpty && keyCols.forall(names.contains),
      s"TypedLake: merge key columns (${keyCols.mkString(", ")}) must be " +
        s"table columns (${names.mkString(", ")})")
    val inReadDomain = WeatherLakeV2Sink.mergeReadDomain(snap.basePath,
      WeatherLakeV2Sink.batchTuples(batch, partCols), partCols,
      prunable = partCols.nonEmpty && partCols.forall(keyCols.contains) &&
        !fullSync,
      decode = ExternalCatalogUtils.unescapePathName)
    val candidates = snap.liveEntryLines.filter(inReadDomain).map(entryPath)
    val touched =
      if (candidates.isEmpty) Seq.empty
      else if (fullSync) candidates
      else {
        // no broadcast hint: the merge source can be arbitrarily large
        // (CDC backfills), and a forced broadcast of its whole key set
        // would OOM the driver — AQE elects broadcast when small
        val batchKeys = batch.select(keyCols.map(col).toSeq: _*).distinct()
        resolvedFramed(spark, snap.basePath, schema, candidates,
            snap.liveMorDeleteLines)
          .join(batchKeys, keyCols, "left_semi")
          .select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSeq
      }
    (snap, inReadDomain, touched)
  }

  /** A typed MERGE's joined frame — target rows (`__t`) ⟗ the batch
    * (`__s`) on the key — and the action classification both merges
    * dispatch on. Target columns keep their names; EVERY non-key batch
    * column rides under [[srcCol]] (extra source columns — CDC op markers
    * etc. — are legal condition inputs in SQL MERGE).
    */
  private final class MergeJoin(tgt: DataFrame, batch: DataFrame,
      keyCols: Seq[String], actions: TypedMergeActions) {
    val joined: DataFrame = tgt.withColumn("__t", lit(true)).join(
      batch.select(keyCols.map(col) ++
        batch.columns.toSeq.filterNot(keyCols.contains)
          .map(n => col(n).as(srcCol(n))) :+
        lit(true).as("__s"): _*),
      keyCols, "full_outer")
    def cond(c: Option[DataFrame => Column]): Column =
      c.map(f => coalesce(f(joined), lit(false))).getOrElse(lit(true))
    val matched: Column = joined("__t").isNotNull && joined("__s").isNotNull
    val sourceOnly: Column = joined("__t").isNull
    val targetOnly: Column = joined("__s").isNull
    val updCond: Column = cond(actions.matchedUpdateCond)
    val insCond: Column = cond(actions.insertCond)

    def updatedValue(n: String): Column = actions.matchedUpdate match {
      case None => joined(n) // no update action: keep the target value
      case Some(None) => // UPDATE SET *: replace data cols by source
        if (keyCols.contains(n)) joined(n) else joined(srcCol(n))
      case Some(Some(assigns)) =>
        assigns.toMap.get(n).map(_(joined)).getOrElse(joined(n))
    }
    def insertedValue(n: String): Column = actions.insert match {
      case None => lit(null) // row dropped by the caller; placeholder
      case Some(None) =>
        if (keyCols.contains(n)) joined(n) else joined(srcCol(n))
      case Some(Some(assigns)) =>
        assigns.toMap.get(n).map(_(joined)).getOrElse(
          if (keyCols.contains(n)) joined(n) else joined(srcCol(n)))
    }
  }

  // -----------------------------------------------------------------
  // change-data feed (typed, snapshot-diff)
  // -----------------------------------------------------------------

  /** CHANGE DATA FEED between two captured snapshots of a typed table —
    * [[WeatherLakeV2Sink.changesBetween]]'s semantics on typed frames,
    * derived from the copy-on-write commit structure (no written change
    * files needed): rows are compared only inside the file-set
    * DIFFERENCE, so the cost is O(changed files), never O(table).
    * `keyCols` is the row identity (unique per snapshot). Returns the
    * table columns plus `_change` ∈ insert / delete / update_preimage /
    * update_postimage; a copy-on-write survivor rewrite (same key, all
    * columns equal) emits nothing.
    */
  def changesBetweenTyped(spark: SparkSession, basePath: String,
      schema: StructType, keyCols: Seq[String],
      from: Seq[String], to: Seq[String]): DataFrame =
    typedChanges(spark, schema, keyCols)(
      WeatherLakeV2Sink.resolvedAsOf(basePath, from),
      WeatherLakeV2Sink.resolvedAsOf(basePath, to))

  /** [[WeatherLakeV2Sink.changeDiff]] over typed frames. MERGE-ON-READ
    * widening: a mor delete changes NO file set — its effect lives in the
    * delete-file DIFFERENCE. Files present on BOTH sides whose applicable
    * delete rows changed are re-read on both sides (each side resolved
    * through ITS OWN delete set) and key-diffed like rewritten files;
    * cost stays O(changed files + delete bytes), never O(table).
    */
  private def typedChanges(spark: SparkSession, schema: StructType,
      keyCols: Seq[String])(from: LakeSnapshot, to: LakeSnapshot): DataFrame = {
    val names = schema.fieldNames.toSeq
    require(keyCols.nonEmpty && keyCols.forall(names.contains),
      s"TypedLake: CDF key columns (${keyCols.mkString(", ")}) must be " +
        s"table columns (${names.mkString(", ")})")
    WeatherLakeV2Sink.changeDiff(spark, from, to, Payload,
      "changesBetweenTyped",
      StructType(StructField("_change", StringType, nullable = false) +:
        schema.fields))(
      (files, side) => readResolvedSplit(spark, side.basePath, schema, files,
        side.liveMorDeleteLines),
      df => keyCols.map(df(_)),
      (fromFiles, toFiles) => {
        val fromDeletes = from.liveMorDeleteLines.map(entryPath).toSet
        val toDeletes = to.liveMorDeleteLines.map(entryPath).toSet
        val deleteDiff =
          ((fromDeletes -- toDeletes) ++ (toDeletes -- fromDeletes)).toSeq.sorted
        if (deleteDiff.isEmpty) Seq.empty
        else morDeleteTargets(spark, schema, deleteDiff)
          .filter(t => fromFiles(t) && toFiles(t)).toSeq.sorted
      })
  }

  /** Incremental typed CHANGE feed over a manifest cursor —
    * [[WeatherLakeV2Sink.readNewChanges]]' contract on typed frames: the
    * exact NET row deltas between the consumer's integrated view and the
    * view after the fresh commits (several commits collapse to their net
    * effect; layout-only rewrites emit nothing). Returns (changes frame,
    * the live resolution of the new view-set) — process, then
    * [[WeatherLakeV2Sink.replaceCursor]] with the returned set; an
    * unreplaced cursor re-derives the same delta (never skips), and a
    * caught-up consumer survives routine vacuum.
    */
  def readNewChangesTyped(spark: SparkSession, basePath: String,
      schema: StructType, keyCols: Seq[String], cursorPath: String):
      (DataFrame, Seq[String]) =
    WeatherLakeV2Sink.changesSinceCursor(basePath, cursorPath)(
      typedChanges(spark, schema, keyCols))

  // -----------------------------------------------------------------
  // maintenance (typed)
  // -----------------------------------------------------------------

  /** Typed stats backfill — [[WeatherLakeV2Sink.measureStats]]'s role
    * (ANALYZE: stats live in manifest entry lines, so re-measuring is a
    * metadata-only commit) with the measurement as ONE distributed
    * aggregation over the typed columns ([[PayloadCodec.Parquet.measure]]:
    * per-file min/max, numeric comparison domain decided by the column
    * TYPE, not per-value parsing — the typed schema already knows).
    */
  def measureStatsTyped(spark: SparkSession, basePath: String,
      schema: StructType, fields: Seq[String]): Int = {
    require(fields.nonEmpty,
      "measureStatsTyped needs at least one column name to measure")
    val names = schema.fieldNames.toSeq
    fields.foreach { f =>
      require(names.contains(f),
        s"TypedLake: measure of unknown column '$f' (schema: " +
          s"${names.mkString(", ")})")
    }
    WeatherLakeV2Sink.measureCommitted(spark,
      PayloadCodec.Parquet(basePath, schema), fields, "measureStatsTyped")
  }

  /** BUCKET-PRESERVING compaction for hash-bucketed tables: every
    * append lands one file per bucket, so after k inserts each bucket
    * holds k small files — exactly the population a log-structured
    * append table needs folded. Candidacy per BUCKET (more than one
    * file, or any unmarked stray); each candidate bucket's rows rewrite
    * through the bucket-routing writer (markers preserved — the
    * storage-partitioned join layout survives), one partially-
    * superseding commit. Unmarked files (pre-bucketing adoption,
    * foreign writers) are folded INTO their hash bucket, upgrading the
    * table back to the zero-exchange join layout. Bucketed tables take
    * the FULL DML surface including `dmlMode = 'mor'`, so victims are
    * read MOR-RESOLVED (live deletions applied — a bucket's compaction
    * doubles as its reconcile, same as [[compactTyped]]) and the touched
    * manifests' `#mordelete` directives ride the superseding commit
    * verbatim — deletions against UNTOUCHED buckets' files must stay
    * live, never silently dropped. Returns the number of compacted
    * buckets.
    */
  def compactTypedBucketed(spark: SparkSession, basePath: String,
      schema: StructType, bucketCol: String, numBuckets: Int,
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      priorCount: Option[Int] = None): Int = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, "compactTypedBucketed")
    val files = snap.liveEntryLines.map(entryPath)
    val tagged = files.map(f => f -> bucketGenOfFile(f))
    // a file's bucket GENERATION: the stamped count, else the table's
    // pre-evolution count (legacy markers), else the current count
    def genOf(cnt: Option[Int]): Int =
      cnt.orElse(priorCount).getOrElse(numBuckets)
    // candidates: unmarked strays (re-bucketing restores the layout),
    // WRONG-GENERATION files (a bucket-count evolution's migration —
    // the rewrite routes their rows by the CURRENT hash, so one compact
    // returns the table to a uniform generation and the zero-exchange
    // join layout), and current-generation buckets holding >1 file
    val strays = tagged.collect { case (f, None) => f }
    val wrongGen = tagged.collect {
      case (f, Some((_, cnt))) if genOf(cnt) != numBuckets => f
    }
    val multi = tagged.collect {
      case (f, Some((b, cnt))) if genOf(cnt) == numBuckets => b -> f
    }.groupBy(_._1).collect {
      case (b, fs) if fs.size > 1 => b -> fs.map(_._2)
    }
    if (strays.isEmpty && wrongGen.isEmpty && multi.isEmpty) return 0
    val victims = (multi.values.flatten ++ strays ++ wrongGen).toSeq
    // directives of TOUCHED manifests re-list verbatim (compactTyped's
    // rule): a delete may target an UNTOUCHED bucket's file whose only
    // live listing rides a manifest this rewrite supersedes — dropping
    // the directive would resurrect those deletions table-wide
    val sup = snap.supersedeFiles(victims)
    // victims read MOR-RESOLVED: a bucketed table with dmlMode='mor'
    // holds live delete files, and rewriting raw file bytes would bake
    // resurrected ghost rows into new files no delete targets
    val rows = readResolvedSplit(spark, basePath, schema, victims,
      snap.liveMorDeleteLines)
    // route through the bucket writer: one task per bucket, markers on
    val newFiles = PayloadCodec.Parquet(basePath, schema, statsFields = statsFields,
      maxRecordsPerFile = maxRecordsPerFile,
      bucketSpec = Some((bucketCol, numBuckets))).write(rows, "compact")
    WeatherLakeV2Sink.publishCommit(basePath, "compact",
      snapshot = snap.live, supersedes = sup.manifests,
      lines = sup.lines(newFiles),
      readDomain = Some(_ => false), payload = Some(Payload))
    multi.size + (if (strays.nonEmpty) 1 else 0) +
      (if (wrongGen.nonEmpty) 1 else 0)
  }

  /** Typed small-file compaction — the classic [[WeatherLakeV2Sink
    * .compact]] candidacy rule (directories with >1 file under half the
    * byte target; `clusterExpr` widens candidacy and sorts-within for
    * the OPTIMIZE ZORDER move) with the rewrite on typed frames. Rolls
    * at `maxRecordsPerFile` when positive.
    */
  def compactTyped(spark: SparkSession, basePath: String,
      schema: StructType, partCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      clusterExpr: Option[DataFrame => Column] = None,
      statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val snap = loadSnapshot(basePath)
    snap.requirePayload(Payload, "compactTyped")
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    // NAME-MAPPING STATS MIGRATION: post-rename, files written under a
    // historical spelling carry their per-file stats under the OLD key,
    // so predicate pruning on the renamed column fails open for them
    // forever. A file whose entry-line stats use a historical spelling
    // is a compaction candidate regardless of size — the rewrite lands
    // under the CURRENT schema with stats re-measured under the current
    // name, and pruning returns as maintenance proceeds (the rename
    // itself stays metadata-only; this is the lazy migration).
    val histSpellings = historicalNames(schema).values.flatten
      .map(_.toLowerCase).toSet
    def oldSpelling(line: String): Boolean =
      histSpellings.nonEmpty &&
        lineStats(line).keysIterator.exists(k => histSpellings(k.toLowerCase))
    val (multi, sup) = WeatherLakeV2Sink.compactionPlan(snap, targetBytes,
      clusterExpr.isDefined, force = oldSpelling)
    if (multi.isEmpty) return 0
    // compaction reads MOR-RESOLVED rows (deletions applied), so
    // compacting a directory doubles as its reconcile; the affected
    // delete rows dangle afterwards and vacuum/reconcile clears them
    val rows = readResolvedSplit(spark, basePath, schema,
      multi.values.flatten.toSeq, snap.liveMorDeleteLines)
    // honor targetBytes in the OUTPUT too, not only in candidacy: the
    // typed task writer rolls on maxRecordsPerFile alone, so without a
    // cap a clustered compaction would write ONE unbounded file per
    // partition per task — inert file-list pruning (one file spans the
    // whole key range) and an over-target file at scale. When the caller
    // set no explicit cap, derive one from the candidates' own
    // bytes-per-row (same format + compression in and out, so the
    // estimate tracks): cap = targetBytes / (inputBytes / inputRows).
    // Row counts come from the candidates' PARQUET FOOTERS — driver
    // metadata in the same class as the size stat, never a data pass
    // (a full count() would double compaction's dominant IO). Footer
    // counts ignore mor-resolved deletions, which only makes the cap
    // conservative (slightly larger files cannot result).
    val effectiveMrpf: Long =
      if (maxRecordsPerFile > 0) maxRecordsPerFile
      else {
        val inputBytes = multi.values.flatten
          .map(f => fs.getFileStatus(new Path(f)).getLen).sum
        if (inputBytes <= targetBytes) 0L // can't exceed the target anyway
        else {
          val conf = LakeIO.conf
          val inputRows = multi.values.flatten.map { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new Path(f), conf))
            try r.getRecordCount finally r.close()
          }.sum
          if (inputRows <= 0) 0L
          else math.max(1L,
            (targetBytes.toDouble / (inputBytes.toDouble / inputRows)).toLong)
        }
      }
    // clustered runs sort each partition directory's rows by the
    // expression after the route, so the sort survives into rolled files
    val newFiles = PayloadCodec.Parquet(basePath, schema, partCols,
        statsFields, effectiveMrpf)
      .write(rows, "compact", sortWithin = clusterExpr.map(e => e(rows)).toSeq)
    // the empty read domain arms the directive-conflict scan: a mor
    // delete/merge publishing since this compaction's snapshot targets
    // data-file paths this rewrite may have just replaced — loud
    // conflict instead of silently resurrecting its deletions
    WeatherLakeV2Sink.publishCommit(basePath, "compact", snapshot = snap.live,
      supersedes = sup.manifests, lines = sup.lines(newFiles),
      readDomain = Some(_ => false), payload = Some(Payload))
    multi.size
  }
}
