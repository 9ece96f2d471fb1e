package graft.sources

import java.util
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE face of the raw-payload lake (SURVEY.md S3) — the
  * `SupportsWrite` twin of [[OpenMeteoV2Source]]'s read connector, and the
  * V2 form of `Weather.writeLake`. The reference's S3 writer routes each
  * raw JSON payload to a Hive-style key
  * `city=<c>/ds=<yyyy-mm-dd>/hour=<hh>/` (s3_writer.py:59-61); here every
  * executor-side task writer ([[PayloadCodec.JsonLines]]) does that
  * routing for its partition of rows — fully distributed, no driver
  * involvement per row.
  *
  * {{{
  * df.select(col("city"), col("ds"), col("hour"),
  *     to_json(struct(...)).as("raw_json"))   // serialization stays codegen'd
  *   .write.format("graft.sources.WeatherLakeV2Sink")
  *   .mode("append").save(path)
  * }}}
  *
  * Each task writes files named `part-<taskId>-<uuid>.json` directly under
  * their final partition directories; `abort()` deletes the task's files,
  * so a failed task leaves nothing behind and a retried task writes fresh
  * names (append-only eventual-commit, the object-store-friendly layout the
  * reference uses — no directory rename on commit).
  */
class WeatherLakeV2Sink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WeatherLakeV2Sink.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    if (path == null || path.trim.isEmpty) throw new IllegalArgumentException(
      "WeatherLakeV2Sink: required option 'path' is missing (use .save(<path>))")
    new WeatherLakeV2Sink.LakeTable(path)
  }
}

object WeatherLakeV2Sink {
  /** Pre-serialized payload row: partition keys + the raw JSON line. */
  val Schema: StructType = StructType(Seq(
    StructField("city", StringType, nullable = false),
    StructField("ds", StringType, nullable = false),
    StructField("hour", StringType, nullable = false),
    StructField("raw_json", StringType, nullable = false)))

  class LakeTable(path: String) extends Table with SupportsWrite {
    override def name(): String = s"weather_lake($path)"
    override def schema(): StructType = Schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE,
        TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      // manifestId overrides the engine-assigned queryId as the manifest
      // name — a DETERMINISTIC id is what turns the at-least-once retries
      // of streaming foreachBatch into exactly-once publication (see
      // [[exactlyOnceBatchWriter]]): the first attempt's rename wins, a
      // retry's rename finds the destination present and its files stay
      // unreferenced orphans.
      val jobId = Option(info.options().get("manifestId"))
        .map { id =>
          // maintenance-op prefixes are format-level conventions (the
          // pre-directive CDC fallback still routes by them): an append
          // named like one would be misclassified by older readers, so
          // reserve them loudly rather than publish a masquerading commit
          ReservedIdPrefixes.find(id.startsWith).foreach { p =>
            throw new IllegalArgumentException(
              s"WeatherLakeV2Sink: manifestId '$id' uses the reserved " +
                s"maintenance prefix '$p' (see FORMAT.md); pick another id")
          }
          id
        }
        .getOrElse(info.queryId())
      // statsFields: comma-separated raw_json field names whose per-file
      // min/max are collected into the manifest entries (data skipping)
      val statsFields = Option(info.options().get("statsFields"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate
          with org.apache.spark.sql.connector.write.SupportsOverwrite
          with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
        // The OVERWRITE family, all publishing ONE superseding manifest
        // validated at publish like every superseding commit:
        //  - truncate (INSERT OVERWRITE / SaveMode.Overwrite): supersede
        //    the whole plan-time snapshot — a checkpoint whose re-listed
        //    lines are the NEW data;
        //  - overwrite(filters) (replaceWhere / INSERT OVERWRITE …
        //    PARTITION (k = v)): partition-equality filters choose the
        //    replaced region — manifests owning a matching file are
        //    superseded, their non-matching lines re-listed verbatim, so
        //    commits over disjoint partitions coexist; the filter domain
        //    is ALSO the publish-time read domain, so an append racing
        //    INTO the replaced partitions conflicts loudly (Delta's
        //    replaceWhere + ConcurrentAppend semantics) while appends
        //    elsewhere survive;
        //  - dynamic partition overwrite: the replaced region is the set
        //    of partition tuples the batch actually WROTE (known from
        //    the task commit messages — no extra pass).
        // Old files stay on disk for time travel until vacuum, exactly
        // like compaction.
        private var truncateFirst = false
        private var overwriteEq: Option[Map[String, String]] = None
        private var dynamicOverwrite = false
        override def truncate(): WriteBuilder = { truncateFirst = true; this }
        override def overwrite(
            filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
          import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo}
          val partCols = Schema.fieldNames.take(3).toSet
          if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncateFirst = true
          else overwriteEq = Some(filters.map {
            case EqualTo(a, v) if partCols(a.toLowerCase) =>
              a.toLowerCase -> String.valueOf(v)
            case EqualNullSafe(a, v) if partCols(a.toLowerCase) && v != null =>
              a.toLowerCase -> String.valueOf(v)
            case other => throw new IllegalArgumentException(
              "WeatherLakeV2Sink: overwrite supports only partition-" +
                s"equality conditions on city/ds/hour, got $other — use " +
                "mergeCommitted/deleteCommitted for row-level replacement")
          }.toMap)
          this
        }
        override def overwriteDynamicPartitions(): WriteBuilder = {
          dynamicOverwrite = true; this
        }
        override def build(): Write = new Write {
          // taken at BUILD time so the distributed write races nothing:
          // publish re-validates this exact set
          private val overwriting =
            truncateFirst || overwriteEq.isDefined || dynamicOverwrite
          private val overwriteSnapshot: Option[LakeSnapshot] =
            if (overwriting) Some(loadSnapshot(path)) else None
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
              new LakeWriterFactory(path, statsFields)
            // Files land under their final names during the task (no
            // directory rename — object-store-friendly, like the
            // reference). Job commit publishes a MANIFEST listing every
            // task-committed file, written to a temp name and renamed so
            // it appears atomically: readers that filter through
            // [[committedFiles]] never see files from a job that died
            // between task commits and job commit.
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              val files = messages.collect { case FilesWritten(ps) => ps }
                .flatten.toIndexedSeq
              overwriteSnapshot match {
                case Some(snap) if truncateFirst =>
                  publishCommit(path, "overwrite", snapshot = snap.live,
                    supersedes = snap.live, lines = files)
                case Some(snap) => commitPartitionOverwrite(snap, files,
                  overwriteEq, dynamicOverwrite)
                case None => writeManifest(path, jobId, files)
              }
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }

          /** NATIVE streaming sink face — `writeStream.format(...)` with
            * no foreachBatch shim: each epoch publishes ONE manifest
            * named `<queryId>-<epochId>`. Both components are
            * checkpoint-stable (the engine passes the streaming query's
            * persistent id, and epochId is the checkpointed batch id),
            * so a restart that replays a committed epoch re-publishes
            * the SAME name, [[writeManifest]]'s rename finds the
            * destination present and short-circuits, and the replay's
            * data files stay unreferenced orphans ([[sweepOrphans]]'
            * diet) — exactly-once publication, the same discipline
            * [[exactlyOnceBatchWriter]] builds by hand, now inside the
            * connector. `manifestId`, when given, overrides the query id
            * as the name PREFIX (epoch still appended — a fixed full
            * name would collapse all epochs into one token).
            */
          override def toStreaming: StreamingWrite = new StreamingWrite {
            require(!overwriting,
              "WeatherLakeV2Sink: streaming writes append per epoch — " +
                "outputMode('complete')/truncate/overwrite has no lake " +
                "semantics; use batch INSERT OVERWRITE")
            override def createStreamingWriterFactory(
                pi: PhysicalWriteInfo): StreamingDataWriterFactory =
              new LakeWriterFactory(path, statsFields)
            override def commit(epochId: Long,
                messages: Array[WriterCommitMessage]): Unit = {
              val files = messages.collect { case FilesWritten(ps) => ps }
                .flatten.toIndexedSeq
              writeManifest(path, s"$jobId-$epochId", files)
            }
            override def abort(epochId: Long,
                messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
    }
  }

  /** Directory of per-job manifests under the lake root. */
  val ManifestDir = "_manifests"

  /** Manifest-id prefixes reserved for maintenance commits — a
    * user-supplied append manifestId may not use them (loud rejection in
    * the write builder): the `#op` directive is the authoritative
    * routing key, but pre-directive readers fall back to the name
    * prefix, and a masquerading append would be misrouted there.
    */
  val ReservedIdPrefixes: Seq[String] =
    Seq("merge-", "delete-", "update-", "compact-", "checkpoint-",
      "overwrite-", "measure-", "mordelete-", "mormerge-", "morupdate-",
      "reconcile-", "compactdel-")

  /** Directive line marking another manifest as replaced by this one.
    * Lines starting with `#` are directives, never file paths; a manifest
    * named in any live manifest's supersedes directive contributes no
    * files to the committed view.
    */
  val SupersedesPrefix = "#supersedes "

  /** Directive line pointing at a CHANGE-LOG file of this commit (written
    * by merge/delete/update under the `changeLog = true` option): each
    * change file holds `<change>\t<raw line>` rows classifying the
    * commit's row-level effect. Directives are invisible to every DATA
    * reader (the `#` rule above) and atomic with the commit — the
    * manifest rename publishes data and changes together, which is what
    * lets a CDF stream trust them (the Delta change-file design).
    */
  val ChangesPrefix = "#changes "

  /** The change-log file paths a manifest's lines reference. A change
    * directive's payload is an ENTRY LINE (`path` or `path<TAB>stats`,
    * exactly like data lines), so per-change-file stats survive for the
    * CDC scan's pruning leg; this accessor strips to the path.
    */
  def changePaths(lines: Seq[String]): Seq[String] =
    changeEntryLines(lines).map(entryPath)

  /** The change directives' full payload lines (path + optional stats). */
  def changeEntryLines(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(ChangesPrefix))
      .map(_.stripPrefix(ChangesPrefix).trim)

  /** Directive pointing at a MERGE-ON-READ DELETE FILE of this commit
    * (typed tables only; FORMAT.md §Merge-on-read): the payload is an
    * ENTRY LINE (path, optionally + TAB + stats) of a Parquet file under
    * `_mor_deletes/` whose rows are EXACT deleted rows — every table
    * column (partition values materialized) plus `__target_file`, the
    * manifest-join key of the ONE data file each deletion applies to.
    * Scans subtract them with a null-safe anti-join on (target file +
    * all columns); a delete row whose target file is no longer committed
    * is dangling and matches nothing (harmless, vacuumed with its
    * manifest). File-scoped targeting is what makes the design sound
    * under re-insertion (a later append writes NEW files, so old delete
    * rows can never kill re-inserted equal rows) and under maintenance
    * (compact/checkpoint re-list data paths verbatim, so targets stay
    * valid). Like `#changes`, the directive is invisible to data readers
    * (the `#` rule) and atomic with its commit.
    */
  val MorDeletePrefix = "#mordelete "

  /** The mor-delete directives' full payload lines of a manifest. */
  def morDeleteEntryLines(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(MorDeletePrefix))
      .map(_.stripPrefix(MorDeletePrefix).trim)

  /** The mor-delete FILE paths a manifest's lines reference. */
  def morDeletePaths(lines: Seq[String]): Seq[String] =
    morDeleteEntryLines(lines).map(entryPath)

  /** The live mor-delete file paths of the CURRENT committed view. */
  def committedMorDeleteFiles(basePath: String): Seq[String] =
    loadSnapshot(basePath).liveMorDeleteLines.map(entryPath)

  /** The mor-delete file paths a captured snapshot resolves to — the
    * directive twin of [[filesAsOf]] (same within-set supersede
    * resolution and loud vacuum-horizon failure), so time-travel reads
    * subtract exactly the deletions that were live AT the snapshot.
    */
  def morDeleteFilesAsOf(basePath: String, snap: Seq[String]): Seq[String] =
    morDeleteLinesAsOf(basePath, snap).map(entryPath)

  /** [[morDeleteFilesAsOf]] keeping the full directive PAYLOAD lines
    * (path + target-range stats) — what the delete-side skipping leg
    * prunes on.
    */
  def morDeleteLinesAsOf(basePath: String, snap: Seq[String]): Seq[String] =
    survivingLinesAsOf(basePath, snap)
      .filter(_.startsWith(MorDeletePrefix))
      .map(_.stripPrefix(MorDeletePrefix).trim)

  /** Directive stamped when a row-level commit RAN with `changeLog =
    * true` but its net change set is EMPTY (an idempotent batch replay,
    * an identity transform): the commit is logged-and-empty, not
    * un-logged. Without it the CDC feed's loud un-logged-commit failure
    * would permanently brick every change-feed consumer on a harmless
    * no-change commit — exactly the replay [[applyChangesWriter]]'s
    * crash-between-merge-and-marker recovery produces.
    */
  val ChangeLogEmptyDirective = "#changelog empty"

  /** [[vacuum]]'s default retention and the floor below which it refuses
    * without `force` — Delta's 7-day `retentionDurationCheck` analogue.
    */
  val VacuumRetentionFloorMs: Long = 7L * 24 * 60 * 60 * 1000

  def hasEmptyChangeLog(lines: Seq[String]): Boolean =
    lines.exists(_.trim == ChangeLogEmptyDirective)

  /** Directive recording the manifest FORMAT VERSION (see FORMAT.md).
    * Readers fail loudly on a major version above [[FormatVersion]]
    * rather than misparsing a future layout; manifests without the
    * directive are implicit version 1 (pre-versioning writers).
    */
  val FormatPrefix = "#format "
  val FormatVersion = 1

  /** The highest manifest format version this READER understands. Version
    * 2 adds the `#payload <format>` directive (FORMAT.md §Versioning):
    * data files are no longer necessarily JSON text lines, which CHANGES
    * read semantics — a v1 reader must fail loudly on a v2 manifest
    * rather than scan Parquet binaries as text. Classic JSON-line lakes
    * keep writing version 1 (no gratuitous break for old readers).
    */
  val MaxReaderFormatVersion = 2

  /** Directive naming the PAYLOAD format of this manifest's data files
    * (`#payload parquet`). Absent = JSON text lines (the v1 payload). A
    * table's manifests are payload-uniform by construction: typed writes
    * stamp the directive on every commit, classic writes never do, and
    * [[writeManifest]] refuses a mixed publish.
    */
  val PayloadPrefix = "#payload "

  /** The declared payload format of a manifest's lines, if any. */
  def manifestPayload(lines: Seq[String]): Option[String] =
    lines.find(_.startsWith(PayloadPrefix))
      .map(_.stripPrefix(PayloadPrefix).trim)

  /** The table's payload format — "json" (v1 text lines, the default) or
    * "parquet" (typed tables). O(1): payload is uniform across a table's
    * manifests (enforced at publish), so ONE manifest answers for all.
    */
  def payloadFormat(basePath: String): String =
    payloadOf(basePath, manifestNames(basePath))

  /** [[payloadFormat]] decided from a listing already taken. */
  private def payloadOf(basePath: String, names: Seq[String]): String =
    if (names.isEmpty) "json"
    else {
      val fs = new Path(basePath).getFileSystem(LakeIO.conf)
      val lines = readLines(fs, new Path(new Path(basePath, ManifestDir), names.head))
      checkFormatVersion(names.head, lines)
      manifestPayload(lines).getOrElse("json")
    }

  /** Loud payload gate for format-specific data paths: the JSON-line
    * functions must never scan Parquet bytes as text (and vice versa) —
    * a misrouted read is garbage, not an error, so the route is checked.
    */
  private[graft] def requirePayload(basePath: String, expected: String,
      who: String): Unit = {
    // an EMPTY lake (no manifests yet) has no committed payload to
    // misread — any route may be its first writer (the first MERGE into
    // a fresh typed table is legitimate; the gate exists to stop a
    // mis-routed read of COMMITTED bytes, not first contact)
    val names = manifestNames(basePath)
    if (names.nonEmpty)
      checkPayload(basePath, expected, payloadOf(basePath, names), who)
  }

  private def checkPayload(basePath: String, expected: String,
      actual: String, who: String): Unit = {
    if (actual != expected) throw new IllegalStateException(
      s"WeatherLakeV2Sink: $who reads '$expected' payloads but the lake " +
        s"at $basePath holds '$actual' data files — use the " +
        (if (actual == "parquet") "TypedLake/catalog read path"
         else "JSON-line read path") + " for this table (see FORMAT.md)")
  }

  /** Directive recording the OPERATION that published the manifest
    * (`append`, `merge`, `delete`, `update`, `compact`, `checkpoint`) —
    * the change-feed's routing key. Name prefixes remain as a HUMAN
    * convention and a fallback for pre-directive manifests, but the
    * directive is authoritative: a user-supplied append manifestId can
    * no longer masquerade as (or hide) a maintenance commit.
    */
  val OpPrefix = "#op "

  /** The declared operation of a manifest's lines, if any. */
  def manifestOp(lines: Seq[String]): Option[String] =
    lines.find(_.startsWith(OpPrefix)).map(_.stripPrefix(OpPrefix).trim)

  /** Loud forward-compatibility gate: a manifest declaring a format
    * version above what this reader understands must fail, never be
    * silently misread as data/directive lines it can't interpret.
    */
  private[sources] def checkFormatVersion(name: String, lines: Seq[String]): Unit =
    lines.find(_.startsWith(FormatPrefix))
      .map(_.stripPrefix(FormatPrefix).trim)
      .foreach { v =>
        val n = v.toIntOption.getOrElse(Int.MaxValue)
        if (n > MaxReaderFormatVersion) throw new IllegalStateException(
          s"WeatherLakeV2Sink: manifest $name declares format version $v; " +
            s"this reader understands up to $MaxReaderFormatVersion — " +
            "upgrade the reader before touching this lake (see FORMAT.md)")
      }

  /** A manifest data line is `path` or `path<TAB>statsJson` — the stats
    * payload is per-file column min/max collected at write time (opt in
    * via the `statsFields` write option), the Delta/Iceberg
    * data-skipping move: a data predicate prunes the FILE LIST on the
    * driver before any IO. Older manifests without stats parse
    * unchanged; files without stats always survive pruning (never pruned
    * on absent information, the same keep-rule as partition pruning).
    * Jackson escapes control characters inside JSON strings, so the tab
    * separator is unambiguous.
    */
  private[sources] def entryPath(line: String): String =
    line.indexOf('\t') match {
      case -1 => line
      case i => line.take(i)
    }

  /** Per-file, per-field min/max. `numeric` picks the comparison domain:
    * every observed value parsed as a double (compare numerically) vs
    * lexical (ISO timestamps and other ordered strings compare
    * correctly lexically). Values absent/null in some rows don't widen
    * the range — sound for range predicates, which null rows never
    * satisfy.
    */
  final case class FieldStats(min: String, max: String, numeric: Boolean) {
    /** Could a value in [lo, hi] (inclusive, either side open when None)
      * exist in this file? The pruning test: keep the file iff true.
      */
    def overlaps(lo: Option[String], hi: Option[String]): Boolean =
      try {
        def le(a: String, b: String): Boolean =
          if (numeric) a.toDouble <= b.toDouble else a <= b
        lo.forall(l => le(l, max)) && hi.forall(h => le(min, h))
      } catch {
        // an unparsable numeric bound (e.g. a string literal compared to
        // a numeric-stats column) cannot rule the file out — fail OPEN,
        // the keep-rule of all pruning here, never throw out of a prune
        case _: NumberFormatException => true
      }
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[sources] def statsToJson(stats: Map[String, FieldStats]): String = {
    val root = jsonMapper.createObjectNode()
    stats.toSeq.sortBy(_._1).foreach { case (f, st) =>
      val n = root.putObject(f)
      n.put("min", st.min); n.put("max", st.max); n.put("numeric", st.numeric)
    }
    jsonMapper.writeValueAsString(root)
  }

  /** Stats of a manifest line; empty for plain-path lines and unparsable
    * payloads (fail-open: no stats → never pruned).
    */
  def lineStats(line: String): Map[String, FieldStats] = {
    val i = line.indexOf('\t')
    if (i < 0) Map.empty
    else try {
      val node = jsonMapper.readTree(line.drop(i + 1))
      val out = Map.newBuilder[String, FieldStats]
      node.properties().forEach { e =>
        val v = e.getValue
        if (v.hasNonNull("min") && v.hasNonNull("max"))
          out += e.getKey -> FieldStats(v.get("min").asText(),
            v.get("max").asText(), v.path("numeric").asBoolean(false))
      }
      out.result()
    } catch { case _: Exception => Map.empty }
  }

  private[sources] def writeManifest(basePath: String, jobId: String,
      files: Seq[String], op: Option[String] = None,
      payload: Option[String] = None): Unit = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    // payload-uniformity gate (O(1): one existing manifest answers for
    // the table, see [[payloadFormat]]) — a classic JSON-line append into
    // a typed Parquet lake (or the reverse) would poison every reader's
    // route, so the mixed publish is refused before the rename
    val existing = manifestNames(basePath)
    if (existing.nonEmpty) {
      val declared = payload.getOrElse("json")
      val actual = payloadOf(basePath, existing)
      if (declared != actual) throw new IllegalStateException(
        s"WeatherLakeV2Sink: refusing to publish a '$declared'-payload " +
          s"manifest into the lake at $basePath whose commits hold " +
          s"'$actual' data files — a table's payload format is fixed at " +
          "creation (FORMAT.md §Versioning)")
    }
    val mdir = new Path(basePath, ManifestDir)
    fs.mkdirs(mdir)
    // tmp name is per-ATTEMPT unique: with a deterministic jobId
    // (exactly-once streaming) two racing attempts must not share a tmp
    // path, or one attempt's create(overwrite) truncates the other's
    // half-written file and the rename publishes partial content — only
    // the DESTINATION name carries the deterministic identity
    val tmp = new Path(mdir,
      s".manifest-$jobId.${UUID.randomUUID().toString}.tmp")
    val out = LakeIO.newOutput(fs, tmp, true)
    try {
      // a non-default payload is a SEMANTIC change (data files are not
      // text lines), so such manifests stamp version 2 — v1 readers fail
      // loudly instead of misparsing (FORMAT.md §Versioning)
      val version = if (payload.isDefined) 2 else FormatVersion
      out.write(s"$FormatPrefix$version\n".getBytes("UTF-8"))
      payload.foreach(p => out.write(s"$PayloadPrefix$p\n".getBytes("UTF-8")))
      op.foreach(o => out.write(s"$OpPrefix$o\n".getBytes("UTF-8")))
      files.foreach(f => out.write((f + "\n").getBytes("UTF-8")))
    } finally out.close()
    val dest = new Path(mdir, s"manifest-$jobId.txt")
    // a silently failed rename would lose the manifest and hide every file
    // this job wrote from the gated read path — surface it as a commit
    // failure instead (Spark then aborts the job loudly). Rename refusing
    // an EXISTING destination is the opposite case and stays silent on
    // purpose: with a deterministic manifestId it means another attempt of
    // the SAME job already published — this attempt's files simply stay
    // unreferenced (exactly-once), and its tmp manifest is cleaned up.
    if (!fs.rename(tmp, dest)) {
      if (!fs.exists(dest))
        throw new java.io.IOException(
          s"WeatherLakeV2Sink: failed to publish manifest $dest")
      fs.delete(tmp, false)
    }
  }

  /** Manifests still contributing files to the committed view: every
    * published manifest minus those named in a `#supersedes` directive of
    * any other manifest (compaction publishes the directive and the
    * replacement file list in ONE atomic rename, so a concurrent reader
    * resolves either the old live set or the new one — never both).
    */
  def liveManifests(basePath: String): Seq[String] =
    loadSnapshot(basePath).live

  /** ONE read of a table's manifest log: `_manifests/` listed once, every
    * manifest opened once and version-checked. Every commit operation
    * takes its live set, entry lines, `#mordelete` directives, payload
    * check and supersede set from this value — never from a second
    * [[liveManifests]] pass, which would race a concurrent append: the
    * append's lines would be re-listed in the superseding manifest while
    * its manifest stayed live (not in the snapshot, so not superseded),
    * double-counting every row it wrote. Manifests are immutable per
    * name, so the value cannot go stale within the operation;
    * [[publishCommit]]'s in-lock re-read is the validation against
    * commits that landed after it.
    */
  private[sources] final class LakeSnapshot(val basePath: String,
      manifests: Seq[(String, Seq[String])]) {
    private val byName = manifests.toMap

    /** Every line of a manifest, directives included. */
    def lines(name: String): Seq[String] = byName(name)

    /** Every manifest read, in read order (sorted for a table read). */
    val names: Seq[String] = manifests.map(_._1)

    /** The names some read manifest's `#supersedes` directive names. */
    val superseded: Set[String] = manifests.flatMap(_._2
      .filter(_.startsWith(SupersedesPrefix))
      .map(_.stripPrefix(SupersedesPrefix).trim)).toSet

    /** The manifests still contributing files (see [[liveManifests]]). */
    val live: Seq[String] = names.filterNot(superseded)

    /** Superseded manifests vacuum has reclaimed, sorted — history a
      * commit-log reader can no longer reconstruct.
      */
    lazy val reclaimed: Seq[String] =
      superseded.filterNot(byName.contains).toSeq.sorted

    /** The table's payload format, decided like [[payloadFormat]]. */
    val payload: String =
      names.headOption.flatMap(n => manifestPayload(byName(n)))
        .getOrElse("json")

    /** The `#payload` declaration a table-wide rollup must carry. */
    def payloadDirective: Option[String] =
      if (payload == "json") None else Some(payload)

    /** [[WeatherLakeV2Sink.requirePayload]] decided from this read. */
    def requirePayload(expected: String, who: String): Unit =
      if (names.nonEmpty) checkPayload(basePath, expected, payload, who)

    /** The data ENTRY LINES (path, or path + tab + stats) of a manifest. */
    def entryLines(name: String): Seq[String] =
      byName(name).filter(l => l.nonEmpty && !l.startsWith("#"))

    /** The live manifests' entry lines — what maintenance re-lists
      * verbatim so untouched files keep their stats.
      */
    lazy val liveEntryLines: Seq[String] = live.flatMap(entryLines)

    /** The `#mordelete` directive lines (prefix kept, re-publishable
      * verbatim) of the named manifests.
      */
    def morDirectives(of: Seq[String]): Seq[String] =
      of.flatMap(n => byName(n).filter(_.startsWith(MorDeletePrefix)))

    /** The live manifests carrying `#mordelete` directives. */
    lazy val morManifests: Seq[String] =
      live.filter(n => morDirectives(Seq(n)).nonEmpty)

    /** The live mor-delete directive PAYLOAD lines (path + stats). */
    lazy val liveMorDeleteLines: Seq[String] =
      morDirectives(live).map(_.stripPrefix(MorDeletePrefix).trim)

    /** The partial-supersede rule every rewriting commit publishes by:
      * the live manifests owning a line `touches` selects — plus `also`,
      * manifests superseded for their directives — are superseded; their
      * other entry lines are re-listed verbatim (stats intact); their
      * `#mordelete` directives are carried, since dropping one would
      * resurrect its deleted rows. Every other live manifest stays live
      * untouched, which is what lets disjoint commits coexist.
      */
    def supersede(touches: String => Boolean,
        also: Seq[String] = Nil): Supersession = {
      val owners = live.filter(n => entryLines(n).exists(touches))
      val superseded = owners ++ also.filterNot(owners.toSet)
      val set = superseded.toSet
      Supersession(superseded,
        live.filter(set).flatMap(entryLines).filterNot(touches),
        morDirectives(superseded))
    }

    /** [[supersede]] for a rewrite of exactly the data `files`. */
    def supersedeFiles(files: Seq[String],
        also: Seq[String] = Nil): Supersession = {
      val set = files.toSet
      supersede(l => set(entryPath(l)), also)
    }

    /** The row-level predicate pass every DELETE and UPDATE shares: the
      * fail-open driver-side candidate prune (`inDomain` over each live
      * entry line — also the op's publish-time read domain), then ONE
      * distributed count of definite matches per candidate file.
      * `frame` reads candidate files into a frame carrying `fileCol`;
      * `matching` selects the rows the op changes. None when no file
      * holds a match — the op publishes nothing.
      */
    def matchPass(inDomain: String => Boolean, fileCol: String,
        frame: Seq[String] => org.apache.spark.sql.DataFrame,
        matching: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.Column): Option[Matches] = {
      import org.apache.spark.sql.functions.{col, count, lit}
      val candidates = liveEntryLines.collect {
        case l if inDomain(l) => entryPath(l)
      }
      if (candidates.isEmpty) None
      else {
        val cand = frame(candidates)
        val rows = cand.filter(matching(cand))
        val perFile = rows.groupBy(col(fileCol)).agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        if (perFile.isEmpty) None else Some(Matches(rows, perFile))
      }
    }
  }

  /** What a partially-superseding commit publishes about the manifests
    * it replaces ([[LakeSnapshot.supersede]]).
    */
  private[sources] final case class Supersession(manifests: Seq[String],
      kept: Seq[String], carried: Seq[String]) {
    /** The commit's lines: re-listed entries, then the commit's own
      * `fresh` lines, then the carried directives.
      */
    def lines(fresh: Seq[String]): Seq[String] = kept ++ fresh ++ carried
  }

  /** The outcome of [[LakeSnapshot.matchPass]]: the matched rows and
    * their count per touched file.
    */
  private[sources] final case class Matches(
      rows: org.apache.spark.sql.DataFrame, perFile: Seq[(String, Long)]) {
    def touched: Seq[String] = perFile.map(_._1)
    def count: Long = perFile.map(_._2).sum
  }

  /** Read `basePath`'s manifest log once (see [[LakeSnapshot]]). */
  private[sources] def loadSnapshot(basePath: String): LakeSnapshot =
    snapshotOf(basePath, manifestNames(basePath))

  /** A [[LakeSnapshot]] over exactly the named manifests, in the given
    * order — for readers holding a set other than the current log (a
    * branch base, a pinned mor context, a stream's fresh commits). Over
    * a captured set, `live` is the set's within-set supersede resolution.
    */
  private[sources] def snapshotOf(basePath: String,
      names: Seq[String]): LakeSnapshot = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    new LakeSnapshot(basePath, names.map { n =>
      val lines = readLines(fs, new Path(mdir, n))
      checkFormatVersion(n, lines)
      n -> lines
    })
  }

  /** [[snapshotOf]] the members of a captured set still on disk. */
  private def snapshotWithin(basePath: String, set: Seq[String]): LakeSnapshot = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    snapshotOf(basePath, set.distinct.filter(n => fs.exists(new Path(mdir, n))))
  }

  /** The MERGE read domain, classic and typed. When the partition
    * columns are determined by the merge key (`prunable`: the classic
    * partition-immutability contract, or every typed partition column a
    * key column) and no NOT MATCHED BY SOURCE clause reads the whole
    * table, a committed line is in the domain iff its partition tuple —
    * path segments mapped through `decode` to logical values — appears
    * among `batchParts`, the batch's distinct tuples (read only when
    * prunable); a file missing any partition segment cannot be ruled
    * out. Otherwise every line is in the domain. The domain prunes merge
    * candidates on the driver and is the publish-time conflict domain.
    */
  private[sources] def mergeReadDomain(basePath: String,
      batchParts: => Set[Seq[String]], partCols: Seq[String],
      prunable: Boolean,
      decode: String => String = identity): String => Boolean =
    if (!prunable) _ => true
    else {
      val parts = batchParts
      line => {
        val pv = partitionValues(basePath, entryPath(line))
        val tuple = partCols.map(pv.get)
        tuple.exists(_.isEmpty) || parts(tuple.map(v => decode(v.get)))
      }
    }

  /** A batch's distinct partition tuples (values cast to strings) — one
    * distributed distinct; the driver receives one row per tuple, never
    * the batch's rows.
    */
  private[sources] def batchTuples(batch: org.apache.spark.sql.DataFrame,
      partCols: Seq[String]): Set[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    batch.select(partCols.map(c => col(c).cast(StringType)): _*)
      .distinct().collect()
      .map(r => partCols.indices.map(i => r.getString(i)).toSeq).toSet
  }

  /** `df`'s rows on the driver when they fit Spark's broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`, the bound Spark itself puts
    * on a relation it collects to share). Attempted only when the
    * optimizer's size estimate fits; the ONE job that collects ships at
    * most the threshold's even share per task, and a task over its share
    * abandons the attempt — so the driver never holds more than the
    * threshold in row bytes. None when the estimate or the actual rows
    * do not fit, or broadcasting is off (threshold ≤ 0).
    */
  private def collectWithinBroadcast(df: org.apache.spark.sql.DataFrame):
      Option[Array[InternalRow]] = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit <= 0 || df.queryExecution.optimizedPlan.stats.sizeInBytes > limit)
      None
    else {
      val rdd = df.queryExecution.toRdd
      val share = limit / math.max(1, rdd.getNumPartitions)
      val schema = df.schema
      val parts = rdd.mapPartitions { it =>
        val toUnsafe = UnsafeProjection.create(schema)
        val rows = Array.newBuilder[InternalRow]
        var bytes = 0L
        while (bytes <= share && it.hasNext) {
          val r = toUnsafe(it.next()).copy()
          bytes += r.getSizeInBytes
          rows += r
        }
        Iterator.single(if (bytes > share) None else Some(rows.result()))
      }.collect()
      if (parts.exists(_.isEmpty)) None else Some(parts.flatMap(_.get))
    }
  }

  /** The live manifests' data ENTRY LINES (path, or path + tab + stats). */
  def committedEntryLines(basePath: String): Seq[String] =
    loadSnapshot(basePath).liveEntryLines

  /** Every file recorded by a COMPLETED job's live manifest — the
    * read-side filter that drops orphan files left by jobs that died
    * after some task commits but before job commit, and files whose
    * manifest a compaction superseded.
    */
  def committedFiles(basePath: String): Seq[String] =
    committedEntryLines(basePath).map(entryPath)

  /** The manifest-gated read path: only lines from files a completed job
    * committed. Returns (value: raw JSON line) rows; parse with the
    * caller's schema (Weather.RawWeatherSchema for the weather lake).
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
      basePath: String): org.apache.spark.sql.DataFrame =
    textFrame(spark, gatedEntryLines(basePath, "readCommitted").map(entryPath))

  /** The live entry lines of ONE manifest-log read, payload-gated from
    * that same read — the classic read calls' one snapshot.
    */
  private def gatedEntryLines(basePath: String, who: String): Seq[String] = {
    val snap = loadSnapshot(basePath)
    snap.requirePayload("json", who)
    snap.liveEntryLines
  }

  /** The `k=v` partition values encoded in a committed file's directory
    * path (`city=london/ds=2024-01-01/hour=03/part-….json` →
    * city/ds/hour), the same values the writer routed the row by.
    * Only segments BELOW `basePath` count: a lake rooted under a path
    * that itself contains `=` (env=prod/lake, a sig=<hash> fixture dir)
    * must not leak phantom partition values into every file's map — that
    * would defeat the "files without partition segments always survive
    * pruning" guarantee.
    */
  def partitionValues(basePath: String, file: String): Map[String, String] = {
    val base = new Path(basePath).toUri.getPath.stripSuffix("/")
    val dir = new Path(file).getParent.toUri.getPath
    // TRUE descendants only: a bare startsWith would mis-relativize a
    // sibling sharing the base as a string prefix (/tmp/lake vs
    // /tmp/lake2/city=x → phantom "city=x"). A file outside the root
    // carries no trustworthy partition values at all — empty map, so it
    // always survives pruning (the keep-rule above), never gets pruned on
    // misparsed path segments.
    val rel =
      if (dir == base) ""
      else if (dir.startsWith(base + "/")) dir.drop(base.length + 1)
      else return Map.empty
    rel.split('/')
      .filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.take(i) -> seg.drop(i + 1)
      }.toMap
  }

  /** MANIFEST-LEVEL partition pruning — the lake-format data-skipping
    * move (Iceberg/Delta's core read-side win): the committed file list
    * already carries every file's partition values in its path, so a
    * partition predicate filters the LIST on the driver in O(committed
    * files), before any object-store LIST or data IO happens. At 100 TB
    * the difference is not just bytes scanned — a path-glob read must
    * LIST every partition directory (the slow, rate-limited call on
    * object stores) while this touches only the manifest; files whose
    * directories carry no `k=v` segments are always kept (never silently
    * pruned on absent information).
    */
  /** The one pruning keep-rule: files without partition segments always
    * survive (never pruned on absent information).
    */
  private def survivesPruning(basePath: String,
      pred: Map[String, String] => Boolean)(f: String): Boolean = {
    val pv = partitionValues(basePath, f)
    pv.isEmpty || pred(pv)
  }

  def committedFilesPruned(basePath: String)(
      pred: Map[String, String] => Boolean): Seq[String] =
    committedFiles(basePath).filter(survivesPruning(basePath, pred))

  /** [[readCommitted]] restricted by a partition predicate via
    * [[committedFilesPruned]] — same rows as filtering after the read,
    * with the pruned files never opened (spec-asserted both ways).
    */
  def readCommittedPruned(spark: org.apache.spark.sql.SparkSession,
      basePath: String)(
      pred: Map[String, String] => Boolean): org.apache.spark.sql.DataFrame =
    textFrame(spark, gatedEntryLines(basePath, "readCommittedPruned")
      .map(entryPath).filter(survivesPruning(basePath, pred)))

  /** DATA skipping on the per-file stats collected at write time (the
    * `statsFields` option): a data predicate — typically a range test via
    * [[FieldStats.overlaps]] — filters the committed file list on the
    * driver in O(committed files), before any LIST or data IO, the
    * second leg of the Delta/Iceberg skipping story (partition pruning is
    * the first). Keep-rules, both fail-open: a file with NO stats always
    * survives, and so does a file whose stats lack the predicate's field
    * — the predicate sees only what was measured and must never prune on
    * absent information (enforce by probing `stats.get(field)` and
    * returning true on None).
    */
  def committedFilesPrunedByStats(basePath: String)(
      pred: Map[String, FieldStats] => Boolean): Seq[String] =
    statsSurvivors(committedEntryLines(basePath), pred)

  private def statsSurvivors(lines: Seq[String],
      pred: Map[String, FieldStats] => Boolean): Seq[String] =
    lines.filter { l =>
      val st = lineStats(l)
      st.isEmpty || pred(st)
    }.map(entryPath)

  /** [[readCommitted]] restricted by a stats predicate — same rows as
    * filtering after the read for range predicates over the measured
    * fields, with skipped files never opened.
    */
  def readCommittedStatsPruned(spark: org.apache.spark.sql.SparkSession,
      basePath: String)(
      pred: Map[String, FieldStats] => Boolean): org.apache.spark.sql.DataFrame =
    textFrame(spark, statsSurvivors(
      gatedEntryLines(basePath, "readCommittedStatsPruned"), pred))

  // -----------------------------------------------------------------
  // exactly-once streaming ingest
  // -----------------------------------------------------------------

  /** Whether a manifest with this id has been published. */
  def manifestExists(basePath: String, manifestId: String): Boolean = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    fs.exists(new Path(new Path(basePath, ManifestDir),
      s"manifest-$manifestId.txt"))
  }

  /** `foreachBatch` body that makes streaming ingestion into the lake
    * EXACTLY-ONCE: Structured Streaming replays a micro-batch whose
    * commit wasn't recorded (at-least-once delivery to any sink), so the
    * sink must deduplicate on the engine's (streamId, batchId) identity —
    * the same contract Delta's streaming writer keeps via its txn
    * version. Here the batch identity IS the manifest name:
    *
    *  - fast path: the manifest is already published → the whole rewrite
    *    is skipped (no data IO at all on a replayed batch);
    *  - race path (two attempts racing past the check): both write data
    *    files under fresh names, ONE manifest rename wins, the loser's
    *    files stay unreferenced — invisible to [[readCommitted]] and to
    *    every snapshot, the same orphan class as a died write job.
    *
    * `streamId` scopes batch ids so independent queries (or a restarted
    * query with a NEW checkpoint) never collide; pass something stable
    * per (checkpoint, destination), e.g. the checkpoint dir's basename.
    *
    * {{{
    * df.writeStream.foreachBatch(
    *     WeatherLakeV2Sink.exactlyOnceBatchWriter(lakePath, "ingest-a"))
    *   .option("checkpointLocation", ckpt)
    *   .trigger(Trigger.AvailableNow()).start()
    * }}}
    */
  def exactlyOnceBatchWriter(basePath: String, streamId: String):
      (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, batchId) => {
    val manifestId = f"$streamId-b$batchId%09d"
    if (!manifestExists(basePath, manifestId)) {
      batch.write.format("graft.sources.WeatherLakeV2Sink")
        .option("manifestId", manifestId)
        .mode("append").save(basePath)
    }
  }

  /** `APPLY CHANGES INTO` — the consuming half of the change-data feed
    * (the DLT/Delta medallion move): a `foreachBatch` body that merges a
    * `readChangeFeed` STREAM from a bronze lake into a downstream silver
    * lake, keyed last-write-wins with delete handling, exactly-once per
    * epoch.
    *
    * {{{
    * spark.readStream.format("graft.sources.WeatherLakeV2StreamSource")
    *   .option("readChangeFeed", "true").load(bronze)
    *   .writeStream.foreachBatch(
    *     WeatherLakeV2Sink.applyChangesWriter(silver, "bronze-to-silver",
    *       key = f => get_json_object(f("raw_json"), "$.k"),
    *       route = v => (get_json_object(v, "$.city"), lit("2024-01-01"),
    *         lit("00"))))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    *
    * Per epoch: preimages drop, the LAST change per key in commit order
    * (commit_ts, commit — the same axis the stream admits by) wins, and
    * the net inserts/updates/deletes apply as ONE [[mergeCommitted]]
    * commit with `deleteMatched` marking the delete rows — O(epoch
    * changes) work, one silver manifest, driver-side keys only within
    * [[mergeCommitted]]'s broadcast bound.
    * `route` derives the silver partition (city, ds, hour) from the
    * payload column — for delete rows it sees the preimage, which lands
    * the delete in the stored copy's own partition (the
    * partition-immutability contract).
    *
    * Exactly-once: a hidden per-epoch marker under the silver manifest
    * dir short-circuits replayed epochs; and even a replay that races
    * past the marker (crash between merge and marker) is harmless —
    * re-merging the same net changes is idempotent, and the identical-
    * line suppression means silver's OWN change log emits nothing on the
    * replay, so downstream consumers never see a duplicate epoch.
    */
  def applyChangesWriter(silverPath: String, streamId: String,
      key: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      route: org.apache.spark.sql.Column => (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column),
      targetBytes: Long = 128L * 1024 * 1024,
      statsFields: Seq[String] = Nil,
      changeLog: Boolean = false):
      (org.apache.spark.sql.DataFrame, Long) => Unit = (epoch, epochId) => {
    import org.apache.spark.sql.functions.{col, row_number}
    val fs = new Path(silverPath).getFileSystem(LakeIO.conf)
    val marker = new Path(new Path(silverPath, ManifestDir),
      f".apply-$streamId-b$epochId%09d")
    if (!fs.exists(marker)) {
      val tagged = epoch.filter(col("change") =!= "update_preimage")
        .withColumn("raw_json", col("value"))
      val keyed = tagged.withColumn("__k", key(tagged))
      val last = keyed.withColumn("__rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__k"))
            .orderBy(col("commit_ts").desc, col("commit").desc)))
        .filter(col("__rn") === 1)
      val (cityC, dsC, hourC) = route(col("value"))
      val batch = last.select(cityC.as("city"), dsC.as("ds"),
        hourC.as("hour"), col("value").as("raw_json"),
        (col("change") === "delete").as("__delete"))
      // an all-preimage (or empty) epoch publishes nothing — the marker
      // alone records progress, no empty manifest churn
      if (!batch.isEmpty)
        mergeCommitted(epoch.sparkSession, silverPath, batch, key,
          targetBytes = targetBytes, statsFields = statsFields,
          changeLog = changeLog,
          deleteMatched = Some(df => df("__delete")))
      fs.mkdirs(marker.getParent)
      val out = LakeIO.newOutput(fs, marker, true)
      try out.write("applied\n".getBytes("UTF-8")) finally out.close()
    }
  }

  // -----------------------------------------------------------------
  // manifest-cursor incremental reader
  // -----------------------------------------------------------------

  /** Names of every completed job's manifest under the lake root. */
  def manifestNames(basePath: String): Seq[String] = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("manifest-")).sorted
  }

  private def readLines(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Manifest names already consumed, per the cursor file (empty before
    * the first [[advanceCursor]]).
    */
  def consumedManifests(cursorPath: String): Set[String] = {
    val p = new Path(cursorPath)
    val fs = p.getFileSystem(LakeIO.conf)
    if (fs.exists(p)) readLines(fs, p).filter(_.nonEmpty).toSet else Set.empty
  }

  /** Incremental consumption of the lake — the manifest-cursor twin of
    * `WeatherJobs.loadIncremental`'s listing scan: return only the rows of
    * manifests not yet recorded at `cursorPath`, plus the manifest names
    * to pass to [[advanceCursor]] once the batch is durably processed.
    * Because the unit of progress is a whole job's manifest, a reader
    * never sees half a job, and an unadvanced cursor replays the full
    * manifest (at-least-once, idempotent for keyed upsert consumers).
    * O(new manifests) driver work — the data files themselves are read
    * distributed via `spark.read.text`.
    */
  /** Manifests not yet recorded at the cursor, and their committed data
    * files — the shared selection step of both incremental readers.
    * Live manifests only: a consumer that never saw the pre-compaction
    * manifests reads each row exactly once from the compacted view; one
    * that already consumed them sees the compaction manifest as a replay
    * of rows it processed (at-least-once, idempotent for keyed upserts).
    */
  /** Returns (fresh manifest names, their data ENTRY LINES) — the one
    * copy of the cursor/manifest-consumption logic all three incremental
    * readers share; derive paths with [[entryPath]].
    */
  private def freshCommits(basePath: String, cursorPath: String):
      (Seq[String], Seq[String]) = {
    val snap = loadSnapshot(basePath)
    // one guard covers all three incremental JSON-line readers
    snap.requirePayload("json", "the incremental commit reader")
    val fresh = snap.live.filterNot(consumedManifests(cursorPath))
    (fresh, fresh.flatMap(snap.entryLines))
  }

  private def textFrame(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String]): org.apache.spark.sql.DataFrame =
    if (files.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[String].toDF("value")
    } else DriverListing.textFrame(spark, files)

  def readNewCommits(spark: org.apache.spark.sql.SparkSession,
      basePath: String, cursorPath: String):
      (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val (fresh, lines) = freshCommits(basePath, cursorPath)
    (textFrame(spark, lines.map(entryPath)), fresh)
  }

  /** [[readNewCommits]] with manifest-level partition pruning — the
    * incremental consumer that only cares about some partitions (one
    * city's pipeline, a single day's repair) still CONSUMES whole
    * manifests (the returned names advance the cursor exactly as the
    * unpruned form, so progress semantics are untouched) but only OPENS
    * the matching files. Pruning composes with incrementality because
    * both operate on the manifest list: the predicate filters WHICH of a
    * new manifest's files are read, never which manifests count as
    * consumed. Files without `k=v` segments always survive, as in
    * [[committedFilesPruned]].
    */
  def readNewCommitsPruned(spark: org.apache.spark.sql.SparkSession,
      basePath: String, cursorPath: String)(
      pred: Map[String, String] => Boolean):
      (org.apache.spark.sql.DataFrame, Seq[String]) = {
    // shared manifest selection, ONE frame built — only the surviving
    // files ever reach a FileIndex, so the pruned-out partitions cost
    // zero object-store metadata calls (the point of pruning)
    val (fresh, lines) = freshCommits(basePath, cursorPath)
    val files = lines.map(entryPath).filter(survivesPruning(basePath, pred))
    (textFrame(spark, files), fresh)
  }

  /** [[readNewCommitsPruned]] with BOTH pruning legs: the partition
    * predicate over path values and the stats predicate over per-file
    * min/max ([[committedFilesPrunedByStats]]'s keep-rules — both fail
    * open). Progress semantics unchanged: whole manifests are consumed,
    * the predicates only choose which of a fresh manifest's files are
    * OPENED.
    */
  def readNewCommitsPrunedBy(spark: org.apache.spark.sql.SparkSession,
      basePath: String, cursorPath: String)(
      partitionPred: Map[String, String] => Boolean)(
      statsPred: Map[String, FieldStats] => Boolean):
      (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val (fresh, lines) = freshCommits(basePath, cursorPath)
    val files = lines.filter { l =>
      val st = lineStats(l)
      (st.isEmpty || statsPred(st)) &&
        survivesPruning(basePath, partitionPred)(entryPath(l))
    }.map(entryPath)
    (textFrame(spark, files), fresh)
  }

  /** Incremental CHANGE feed over the manifest cursor — [[readNewCommits]]
    * for consumers that maintain ROW-LEVEL state (an incremental
    * materialized view, a downstream index): where the commit reader
    * REPLAYS whole re-listed file sets after a maintenance commit
    * (at-least-once, upsert-keyed consumers required), this returns the
    * exact NET row deltas between the consumer's integrated view (the
    * consumed manifests, resolved as a snapshot) and the view after the
    * fresh commits — [[changesBetween]] classification: insert / delete /
    * update_preimage / update_postimage, copy-on-write survivor rewrites
    * emitting nothing. Several commits landing since the last advance
    * collapse to their net effect, which is exactly what a view
    * maintainer wants to apply.
    *
    * A fresh cursor (nothing consumed) classifies the whole table as
    * inserts — the bootstrap is the same code path as the steady state.
    * Progress: process the frame, then [[replaceCursor]] with the
    * returned view-set; an unreplaced cursor re-derives the same delta
    * (never skips). The returned set is the LIVE RESOLUTION of the new
    * view — not the raw consumed names — so the cursor stays O(live
    * manifests) and never references the superseded intermediates that
    * [[vacuum]] is free to reclaim between feeds: a caught-up consumer
    * survives routine vacuum, and a loud [[filesAsOf]] failure means
    * vacuum genuinely outpaced the consumer's lag (the documented
    * horizon — size vacuum's age guard above the feed interval).
    */
  def readNewChanges(spark: org.apache.spark.sql.SparkSession,
      basePath: String, cursorPath: String,
      key: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column):
      (org.apache.spark.sql.DataFrame, Seq[String]) =
    changesSinceCursor(basePath, cursorPath)(classicChanges(spark, key))

  /** The cursor step of both incremental change feeds: the consumer's
    * integrated view (the consumed manifests) and the view after every
    * manifest since, each resolved once as a captured snapshot; `diff`
    * classifies the rows between them. Returns the changes and the LIVE
    * resolution of the new view, the set [[replaceCursor]] records.
    */
  private[sources] def changesSinceCursor(basePath: String,
      cursorPath: String)(diff: (LakeSnapshot, LakeSnapshot) =>
        org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val consumed = consumedManifests(cursorPath).toSeq.sorted
    // fresh = EVERY manifest since the cursor, including ones already
    // superseded at read time (two maintenance commits in one window:
    // the later supersedes the earlier). The intermediates carry the
    // supersedes CHAIN that tombstones the consumer's old manifests
    // inside the `to` resolution — consuming only the live set would
    // leave the old manifests un-tombstoned in-set and double-count
    // every untouched row (spec-pinned).
    val fresh = manifestNames(basePath).filterNot(consumed.toSet)
    val to = resolvedAsOf(basePath, (consumed ++ fresh).distinct)
    (diff(resolvedAsOf(basePath, consumed), to), to.live.sorted)
  }

  /** Durably mark manifests consumed: rewrite the cursor with the union of
    * old and new names ([[replaceCursor]] mechanics). The commit readers'
    * progress primitive.
    */
  def advanceCursor(cursorPath: String, manifests: Seq[String]): Unit =
    if (manifests.nonEmpty)
      replaceCursor(cursorPath,
        (consumedManifests(cursorPath) ++ manifests).toSeq.sorted)

  /** Durably REPLACE the cursor's manifest set via tmp-then-rename, so a
    * torn write can't corrupt it (a lost rename surfaces as an exception,
    * and an unreplaced cursor only replays — never skips — data). The
    * change-feed's progress primitive: [[readNewChanges]] returns the new
    * view-set, which REPLACES the old one rather than accumulating, so
    * the cursor stays O(live manifests) and never pins vacuumable names.
    */
  def replaceCursor(cursorPath: String, manifests: Seq[String]): Unit = {
    val p = new Path(cursorPath)
    val fs = p.getFileSystem(LakeIO.conf)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = LakeIO.newOutput(fs, tmp, true)
    try manifests.sorted.foreach(n => out.write((n + "\n").getBytes("UTF-8")))
    finally out.close()
    // Hadoop rename refuses an existing destination: drop the old cursor
    // first. A crash inside this window loses only PROGRESS, not data.
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"WeatherLakeV2Sink: failed to advance manifest cursor $p")
  }

  // -----------------------------------------------------------------
  // snapshot-pinned (time-travel) reads
  // -----------------------------------------------------------------

  /** Capture the current snapshot: the set of published manifest names.
    * A snapshot is the lake's version handle — [[readAsOf]] over a held
    * snapshot returns the same rows forever (repeatable reads across
    * concurrent appends AND compactions), the manifest-set analog of a
    * Delta/Iceberg version pin.
    */
  def snapshot(basePath: String): Seq[String] = manifestNames(basePath)

  /** The manifest history in COMMIT order — (modification time, name)
    * ascending, name as the tiebreak. O(manifests) driver metadata; the
    * version axis [[snapshotAt]] indexes.
    */
  def manifestHistory(basePath: String): Seq[String] = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    manifestNames(basePath)
      .map(n => (fs.getFileStatus(new Path(mdir, n)).getModificationTime, n))
      .sortBy(identity)
      .map(_._2)
  }

  /** The snapshot AS OF version `n` (0-based index into
    * [[manifestHistory]]): the first n+1 manifests in commit order —
    * `readAsOf(spark, base, snapshotAt(base, n))` is "read the table at
    * version n", the Delta `VERSION AS OF` form of the pin that
    * [[snapshot]] captures by observation. Fails loudly on an
    * out-of-range version rather than returning a partial table.
    */
  def snapshotAt(basePath: String, n: Int): Seq[String] = {
    val h = manifestHistory(basePath)
    require(n >= 0 && n < h.size,
      s"snapshotAt: version $n out of range [0, ${h.size - 1}]")
    h.take(n + 1)
  }

  /** The snapshot AS OF a wall-clock instant (`TIMESTAMP AS OF`): every
    * commit whose publish mtime is at-or-before `tsMs`, in commit order —
    * ONE stat pass over the manifest set (the time axis IS the mtime
    * axis [[manifestHistory]] sorts by). Loud when the table had no
    * commit yet at that instant, rather than an empty table.
    */
  def snapshotAtTimestamp(basePath: String, tsMs: Long): Seq[String] = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    val timed = manifestNames(basePath)
      .map(n => (fs.getFileStatus(new Path(mdir, n)).getModificationTime, n))
      .sortBy(identity)
    val snap = timed.takeWhile(_._1 <= tsMs).map(_._2)
    require(snap.nonEmpty,
      s"snapshotAtTimestamp: no commit exists at or before ${tsMs}ms " +
        s"(earliest is ${timed.headOption.map(_._2).getOrElse("<none>")})")
    snap
  }

  /** Read the lake AS OF a captured snapshot: only the snapshot's
    * manifests contribute, and `#supersedes` directives are honored only
    * WITHIN the snapshot — a compaction published after the capture
    * neither hides nor duplicates anything, because its replacement
    * manifest is simply not in the set. Later appends are invisible.
    *
    * Durability bound (same contract as every lake format): a snapshot
    * taken BEFORE a compaction reads the original data files, which
    * survive until [[vacuum]] reclaims them — vacuum is the explicit
    * horizon that invalidates older snapshots. Readers that must outlive
    * vacuum pin the compacted snapshot instead.
    */
  def readAsOf(spark: org.apache.spark.sql.SparkSession, basePath: String,
      snap: Seq[String]): org.apache.spark.sql.DataFrame = {
    // payload-gated from the as-of read itself: a table's payload is
    // uniform across its manifests, so any member answers for it
    val within = resolvedAsOf(basePath, snap)
    within.requirePayload("json", "readAsOf")
    textFrame(spark, within.live.flatMap(within.entryLines).map(entryPath))
  }

  /** The data files a captured snapshot resolves to — [[readAsOf]]'s
    * resolution step, reusable wherever two snapshots are compared
    * ([[changesBetween]]). Supersedes directives are honored only WITHIN
    * the snapshot; a snapshot manifest that vacuum reclaimed WITHOUT a
    * superseding replacement inside the set is unrecoverable data and
    * fails loudly, never a silently partial file list.
    */
  def filesAsOf(basePath: String, snap: Seq[String]): Seq[String] =
    survivingLinesAsOf(basePath, snap)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(entryPath)

  /** ALL lines (data entries AND directives) of the manifests that
    * survive within-set supersede resolution of a captured snapshot --
    * the shared resolution step of [[filesAsOf]] and
    * [[morDeleteFilesAsOf]].
    */
  private def survivingLinesAsOf(basePath: String,
      snap: Seq[String]): Seq[String] = {
    val within = resolvedAsOf(basePath, snap)
    within.live.flatMap(within.lines)
  }

  /** A captured snapshot resolved within itself: supersedes honored only
    * inside the set, and a member vacuum reclaimed without a superseding
    * replacement in the set fails loudly.
    */
  private[sources] def resolvedAsOf(basePath: String,
      snap: Seq[String]): LakeSnapshot = {
    val within = snapshotWithin(basePath, snap)
    // vacuum reclaims superseded manifests with their files: a snapshot
    // manifest that is GONE but superseded within the snapshot is exactly
    // the compacted-away case — its rows live on in the replacement.
    // Gone and NOT superseded means the snapshot predates the vacuum
    // horizon and its data is unrecoverable — fail loudly, never return
    // a silently partial table.
    val lost = (snap.distinct.toSet -- within.names)
      .filterNot(within.superseded)
    if (lost.nonEmpty)
      throw new IllegalStateException(
        "WeatherLakeV2Sink.readAsOf: snapshot predates the vacuum horizon; " +
          s"manifests reclaimed without a superseding replacement: " +
          lost.toSeq.sorted.mkString(", "))
    within
  }

  /** CHANGE DATA FEED between two captured snapshots (the Delta CDF /
    * Iceberg changelog-scan move, derived from the copy-on-write commit
    * structure instead of written change files): rows are compared only
    * inside the file-set DIFFERENCE — files common to both snapshots are
    * untouched by construction and never read, so the cost is O(changed
    * files), not O(table).
    *
    * `key` is the row identity over the committed line (`raw_json`) —
    * unique per snapshot; duplicate keys would fan the join out. A key
    * only in `to` emits `insert`; only in `from` emits `delete`; in both
    * with a DIFFERENT line emits `update_preimage` + `update_postimage`;
    * in both with an identical line is a copy-on-write survivor rewrite,
    * NOT a change, and emits nothing (the file-diff CDF's one subtlety:
    * rewriting a touched file re-lists its untouched rows under a new
    * path).
    *
    * Returns (change, value): change ∈ insert / delete /
    * update_preimage / update_postimage; value is the raw committed
    * line. Classified by [[changeDiff]].
    */
  def changesBetween(spark: org.apache.spark.sql.SparkSession,
      basePath: String, from: Seq[String], to: Seq[String],
      key: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column):
      org.apache.spark.sql.DataFrame =
    classicChanges(spark, key)(resolvedAsOf(basePath, from),
      resolvedAsOf(basePath, to))

  /** [[changeDiff]] over JSON lines: the row is the raw line (`value`,
    * also readable as `raw_json`), keyed over that line alone — the diff
    * reads no file column, so the files are plain text reads, never tied
    * to their entries; classic tables carry no mor deletions.
    */
  private def classicChanges(spark: org.apache.spark.sql.SparkSession,
      key: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column)(
      from: LakeSnapshot, to: LakeSnapshot): org.apache.spark.sql.DataFrame =
    changeDiff(spark, from, to, "json", "changesBetween",
      StructType(Seq(StructField("change", StringType),
        StructField("value", StringType))))(
      (files, _) => {
        val lines = DriverListing.textFrame(spark, files)
        lines.select(lines("value"), lines("value").as("raw_json"))
      },
      df => Seq(key(df)))

  /** The snapshot-diff core of both change feeds, classic and typed:
    * rows are compared only inside the file-set DIFFERENCE of `from` and
    * `to` — files common to both are untouched by construction and never
    * read, so the cost is O(changed files), not O(table) — plus
    * `reread(fromFiles, toFiles)`, common files whose mor deletions
    * changed. `read(files, side)` frames a side's files (resolved through
    * that side's own deletions); `key` is the row identity over that
    * frame (unique per snapshot — duplicates would fan the join out).
    * `shape` is the output: the change column, then the row columns.
    *
    * A key only in `to` emits `insert`; only in `from`, `delete`; in both
    * with any row column different (null-safe), `update_preimage` +
    * `update_postimage`; in both with equal rows it is a copy-on-write
    * survivor rewrite, NOT a change, and emits nothing. One full-outer
    * equi-join on the key, then one codegen'd explode — no second pass,
    * no driver data. Both snapshots are payload-checked from their own
    * read.
    */
  private[sources] def changeDiff(spark: org.apache.spark.sql.SparkSession,
      from: LakeSnapshot, to: LakeSnapshot, payload: String, who: String,
      shape: StructType)(
      read: (Seq[String], LakeSnapshot) => org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.DataFrame => Seq[org.apache.spark.sql.Column],
      reread: (Set[String], Set[String]) => Seq[String] = (_, _) => Nil):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    from.requirePayload(payload, who)
    to.requirePayload(payload, who)
    val fromFiles = from.liveEntryLines.map(entryPath).toSet
    val toFiles = to.liveEntryLines.map(entryPath).toSet
    val again = reread(fromFiles, toFiles)
    val removed = (fromFiles -- toFiles).toSeq.sorted ++ again
    val added = (toFiles -- fromFiles).toSeq.sorted ++ again
    val changeCol = shape.fieldNames.head
    val out = shape.fieldNames.toSeq.tail
    def tagged(df: DataFrame, change: String): DataFrame =
      df.select(lit(change).as(changeCol) +: out.map(df(_)): _*)
    def side(files: Seq[String], snap: LakeSnapshot, as: String): DataFrame = {
      val df = read(files, snap)
      df.select(key(df).zipWithIndex.map { case (k, i) => k.as(s"__key$i") } :+
        struct(out.map(df(_)): _*).as(as): _*)
    }
    if (removed.isEmpty && added.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), shape)
    else if (removed.isEmpty) tagged(read(added, to), "insert")
    else if (added.isEmpty) tagged(read(removed, from), "delete")
    else {
      val olds = side(removed, from, "__old")
      val old = col("__old"); val neu = col("__new")
      val same = out.map(c => old(c) <=> neu(c)).reduce(_ && _)
      olds.join(side(added, to, "__new"),
          olds.columns.toSeq.filter(_.startsWith("__key")), "full_outer")
        .select(explode(
          when(old.isNull,
            array(struct(lit("insert").as("change"), neu.as("row"))))
          .when(neu.isNull,
            array(struct(lit("delete").as("change"), old.as("row"))))
          .when(!same, array(
            struct(lit("update_preimage").as("change"), old.as("row")),
            struct(lit("update_postimage").as("change"), neu.as("row"))))
          .otherwise(array())).as("c"))
        .select(col("c.change").as(changeCol) +:
          out.map(n => col(s"c.row.$n").as(n)): _*)
    }
  }

  // -----------------------------------------------------------------
  // optimistic concurrency: conflict-check-at-publish
  // -----------------------------------------------------------------

  /** Maintenance operations ([[mergeCommitted]], [[deleteCommitted]],
    * [[updateCommitted]], [[compact]], [[checkpointManifests]]) commit
    * OPTIMISTICALLY, the Delta/Iceberg discipline: snapshot the live set
    * up front, do ALL the expensive distributed work lock-free, then
    * validate-and-publish inside a short metadata-only critical section
    * ([[publishCommit]]). Two operations over DISJOINT data both commit;
    * conflicting ones produce exactly one winner and a LOUD
    * ConcurrentModificationException loser (never silent corruption,
    * never a silent wait). Plain appends and the exactly-once streaming
    * writer never supersede anything and never conflict; vacuum touches
    * only already-superseded manifests and needs no validation either.
    *
    * The publish lock below guards ONLY the validate+rename window
    * (milliseconds of driver metadata), not the copy-on-write rewrite —
    * a merge running for an hour holds nothing, so the stale-lease
    * problem of a long-held exclusive lock cannot arise. The lock file
    * carries a UNIQUE TOKEN; ownership is re-verified immediately before
    * the manifest rename, and a stale lock is broken only when its
    * content still matches what the breaker observed (a racing breaker
    * that already re-acquired writes a different token, so its fresh
    * lock is never deleted out from under it).
    *
    * Acquisition is `create(overwrite = false)`, NOT rename-to-dest:
    * Hadoop leaves rename-onto-an-existing-destination semantics to the
    * filesystem, and the stock RawLocalFileSystem silently OVERWRITES
    * (POSIX renameTo) — a rename-based lock would let a second
    * publisher steal a held lock without noticing. Exclusive create
    * throws when the path exists on every Hadoop filesystem (atomic on
    * HDFS/ABFS at the namenode; a narrow check-then-create window on the
    * raw local FS); object stores without atomic create-if-absent need a
    * real lock service, as every lakehouse documents.
    */
  private def withPublishLock[T](basePath: String, op: String,
      staleLockMs: Long = 60L * 1000)(body: (() => Unit) => T): T = {
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    fs.mkdirs(mdir)
    val lock = new Path(mdir, ".maintenance.lock")
    val token = s"$op ${UUID.randomUUID().toString} ${System.currentTimeMillis()}"
    def currentContent(): Option[String] =
      try readLines(fs, lock).headOption catch { case _: Exception => None }
    def tryAcquire(): Boolean =
      try {
        val out = LakeIO.newOutput(fs, lock, false) // throws if the lock exists
        try out.write((token + "\n").getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired && fs.exists(lock)) {
      val observed = currentContent()
      val stale =
        try fs.getFileStatus(lock).getModificationTime <
          System.currentTimeMillis() - staleLockMs
        catch { case _: java.io.FileNotFoundException => false }
      if (stale && currentContent() == observed) {
        // content-checked break: a racing breaker that re-acquired wrote
        // a fresh token, so this delete can only remove the ABANDONED
        // lock we observed, never a newly-taken one
        fs.delete(lock, false)
        acquired = tryAcquire()
      }
    }
    if (!acquired) {
      val holder = currentContent().getOrElse("?")
      throw new java.util.ConcurrentModificationException(
        s"WeatherLakeV2Sink: publish lock at $lock is held ($holder); " +
          "commits validate+publish one at a time — retry after the " +
          "holder's rename")
    }
    // ownership re-verify, handed to the body to call immediately before
    // the manifest rename: if a breaker stole the lease mid-section (the
    // narrow raw-local-FS window), abort BEFORE publishing rather than
    // double-publish
    val verifyHeld: () => Unit = () =>
      if (!currentContent().contains(token))
        throw new java.util.ConcurrentModificationException(
          s"WeatherLakeV2Sink: publish lock for '$op' was lost (lease " +
            "broken by another publisher) — aborting before the manifest " +
            "rename; no partial state was published")
    try body(verifyHeld)
    finally if (currentContent().contains(token)) fs.delete(lock, false)
  }

  /** Validate-and-publish, the whole optimistic-concurrency critical
    * section. Inside the (short) publish lock:
    *
    *  1. every manifest in `supersedes` must STILL be live — a
    *     concurrent commit that already superseded one rewrote (some of)
    *     the same files, and publishing on top would resurrect
    *     re-listed copies of rows the winner already moved
    *     (double-count). Loud conflict, caller retries on a fresh
    *     snapshot.
    *  2. when `readDomain` is given (the row-level ops), every manifest
    *     that appeared SINCE the snapshot is scanned (driver metadata,
    *     O(new manifests)): an entry line inside the operation's read
    *     domain means a concurrent commit added rows this operation's
    *     decisions never saw — a merge could duplicate a key a racing
    *     append just inserted (write skew), so it conflicts loudly
    *     (Delta's ConcurrentAppendException). New lines OUTSIDE the
    *     domain — the disjoint-partition case — pass.
    *  3. ownership re-verified, then ONE manifest renamed into place
    *     carrying the supersedes directives, the `#op` routing
    *     directive, and the surviving lines.
    */
  private[sources] def publishCommit(basePath: String, op: String,
      snapshot: Seq[String], supersedes: Seq[String], lines: Seq[String],
      readDomain: Option[String => Boolean] = None,
      payload: Option[String] = None,
      fileIdentityDependent: Boolean = false,
      requireLiveExactly: Option[Set[String]] = None): Unit = {
    // WAP fence: while the session stages on a branch, every main
    // publish except the publish step itself refuses — a DML rewrite or
    // maintenance op the user believes is staged must never silently
    // mutate main (appends are rerouted at the catalog layer; everything
    // else lands here)
    if (op != "fastforward") activeWapBranch().foreach { b =>
      throw new UnsupportedOperationException(
        s"WeatherLakeV2Sink: session is staging on WAP branch '$b' " +
          s"($WapBranchConf) — branches are APPEND-ONLY, and '$op' would " +
          s"commit to MAIN at $basePath. Unset the conf (and " +
          "fast_forward or drop_branch) first.")
    }
    withPublishLock(basePath, op) { verifyHeld =>
      // ONE read of the manifest set inside the lease (the lock window is
      // time-bounded; a second liveManifests pass would double the
      // critical-section IO at commit-log scale)
      val fs = new Path(basePath).getFileSystem(LakeIO.conf)
      val mdir = new Path(basePath, ManifestDir)
      val linesByName = manifestNames(basePath)
        .map(n => n -> readLines(fs, new Path(mdir, n))).toMap
      linesByName.foreach { case (n, ls) => checkFormatVersion(n, ls) }
      val supersededSet = linesByName.values.flatten
        .filter(_.startsWith(SupersedesPrefix))
        .map(_.stripPrefix(SupersedesPrefix).trim).toSet
      val live = linesByName.keys.toSeq.filterNot(supersededSet)
      requireLiveExactly.foreach { want =>
        if (live.toSet != want)
          throw new java.util.ConcurrentModificationException(
            s"WeatherLakeV2Sink: cannot publish '$op' on $basePath — the " +
              "live set advanced past this operation's snapshot (" +
              s"${(live.toSet -- want).toSeq.sorted.mkString(", ")} " +
              "appeared; " +
              s"${(want -- live.toSet).toSeq.sorted.mkString(", ")} " +
              s"gone). '$op' needs strict ancestry (the WHOLE live view " +
              "is its input): retry on the current state" +
              (if (op == "fastforward")
                " — re-create the branch from it (rebase)" else "") + ".")
      }
      val liveSet = live.toSet
      val gone = supersedes.filterNot(liveSet)
      if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"WeatherLakeV2Sink: concurrent commit conflict publishing '$op' — " +
          s"manifests ${gone.sorted.mkString(", ")} were superseded by " +
          "another commit after this operation's snapshot; its rewrite is " +
          "stale. Retry on a fresh snapshot.")
      readDomain.foreach { dom =>
        val snapSet = snapshot.toSet
        val fresh = live.filterNot(snapSet).sorted
        // the read domain asks whether NEW ROWS appeared inside the
        // operation's view of the data. A layout-only commit (compact/
        // checkpoint/measure) re-lists rows under new paths/stats —
        // counting its lines would abort genuinely disjoint commits
        // whenever routine maintenance races them. But the exemption is
        // sound ONLY when everything it superseded was already in THIS
        // operation's snapshot: a layout commit that superseded a
        // manifest we never saw (e.g. a compaction that swallowed a
        // racing append) re-lists that append's rows, and exempting it
        // would publish write skew — a merge could duplicate a key the
        // hidden append just inserted. Such a commit's lines are
        // scanned against the domain like any other fresh commit.
        // (A racing rewrite of one of OUR manifests is still caught by
        // the supersedes check above.)
        val conflicting = fresh.filter { n =>
          val ls = linesByName(n)
          val fop = WeatherLakeV2StreamSource.opOf(n, ls)
          // reconcile is view-preserving by construction (it re-lists
          // rows with deletions that were already committed applied) —
          // the same layout-only class as compact/checkpoint/measure
          val layoutOnly =
            fop == "compact" || fop == "checkpoint" || fop == "measure" ||
              fop == "reconcile" || fop == "compactdel"
          // a publisher whose artifact depends on FILE IDENTITY (mor
          // delete/merge: their delete rows target specific data-file
          // paths) can exempt only IDENTITY-PRESERVING maintenance —
          // checkpoint/measure re-list paths verbatim, but a compaction
          // or reconcile rewrites in-domain rows under NEW paths, which
          // would leave the publisher's file-scoped targets dangling
          // (silently resurrecting its deletions). View-level publishers
          // (the copy-on-write ops) keep the wider layout-only exemption.
          // compactdel rewrites DIRECTIVES only: every data path is
          // re-listed verbatim, so file-scoped delete targets stay valid
          val identityPreserving = fop == "checkpoint" || fop == "measure" ||
            fop == "compactdel"
          val exemptable =
            if (fileIdentityDependent) identityPreserving else layoutOnly
          val provablyPreSnapshot = exemptable && ls
            .filter(_.startsWith(SupersedesPrefix))
            .map(_.stripPrefix(SupersedesPrefix).trim)
            .forall(snapSet)
          // a fresh #mordelete directive CREATED by a mor commit is
          // ROW-LEVEL DELETION this operation never saw — it changes the
          // committed view without adding any data line, so it conflicts
          // with every domain-carrying op (conservative: delete rows
          // carry no partition path to prune against; mor deletes are
          // small and cheap to retry). Directives merely CARRIED OVER by
          // a superseding commit are old news: either the superseded
          // mixed manifest was in this op's snapshot (its directives
          // were already visible) or that manifest is itself fresh here
          // and conflicts directly as the creator.
          val createsDirectives = fop == "mordelete" || fop == "mormerge" ||
            fop == "morupdate"
          !provablyPreSnapshot && ls.exists(l =>
            (l.nonEmpty && !l.startsWith("#") && dom(l)) ||
              (createsDirectives && l.startsWith(MorDeletePrefix)))
        }
        if (conflicting.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"WeatherLakeV2Sink: concurrent commit conflict publishing " +
              s"'$op' — manifests ${conflicting.mkString(", ")} committed " +
              "rows inside this operation's read domain after its " +
              "snapshot (it may have missed keys/rows it needed to see). " +
              "Retry on a fresh snapshot.")
      }
      verifyHeld()
      writeManifest(basePath, s"$op-${UUID.randomUUID().toString}",
        supersedes.map(n => s"$SupersedesPrefix$n") ++ lines, op = Some(op),
        payload = payload)
    }
  }

  /** Test seam over [[publishCommit]] — lets specs interleave snapshots
    * and publishes by hand to pin the conflict rules.
    */
  private[graft] def publishForTest(basePath: String, op: String,
      snapshot: Seq[String], supersedes: Seq[String], lines: Seq[String],
      readDomain: Option[String => Boolean] = None,
      payload: Option[String] = None,
      fileIdentityDependent: Boolean = false): Unit =
    publishCommit(basePath, op, snapshot, supersedes, lines, readDomain,
      payload = payload, fileIdentityDependent = fileIdentityDependent)

  /** Partition-scoped overwrite (Delta's replaceWhere / dynamic partition
    * overwrite) — merge's partial-supersede skeleton applied to whole
    * partitions: manifests owning a file inside the replaced region are
    * superseded with their outside lines re-listed verbatim (stats
    * intact), every other live manifest stays live, ONE manifest flips
    * the view. The region is ALSO the publish-time read domain, so an
    * append racing INTO a replaced partition conflicts loudly while
    * appends elsewhere coexist. `eq` = the declared partition-equality
    * region (every written file must fall inside it — loud otherwise,
    * the statement's files stay unpublished sweepable orphans); `eq`
    * empty = dynamic mode, the region is the batch's own written
    * partition tuples. A committed file the region cannot be DECIDED for
    * (missing the filtered keys in its path) fails loudly in eq mode —
    * replacing it would be a guess, keeping it would leak stale rows;
    * in dynamic mode a partition-less file is genuinely outside every
    * written tuple and is kept.
    */
  private[sources] def commitPartitionOverwrite(snap: LakeSnapshot,
      newLines: Seq[String],
      eq: Option[Map[String, String]], dynamic: Boolean,
      payload: Option[String] = None,
      decodeValue: String => String = identity): Unit = {
    // `decodeValue` maps a path segment back to the LOGICAL partition
    // value — the typed writer Hive-escapes ('%'→'%25'), so its caller
    // passes unescapePathName; classic values are written raw (identity)
    def pvOf(line: String): Map[String, String] =
      partitionValues(snap.basePath, entryPath(line))
        .map { case (k, v) => k -> decodeValue(v) }
    val writtenParts = newLines.map(pvOf).toSet
    eq.foreach { m =>
      val outside = newLines.filterNot(l =>
        m.forall { case (k, v) => pvOf(l).get(k).contains(v) })
      if (outside.nonEmpty) throw new IllegalArgumentException(
        "WeatherLakeV2Sink: overwrite of PARTITION (" +
          m.map { case (k, v) => s"$k = '$v'" }.mkString(", ") +
          ") but the batch wrote files OUTSIDE that region: " +
          outside.map(entryPath).take(3).mkString(", ") +
          " — the statement would replace one region and write another")
    }
    def inDomain(line: String): Boolean = eq match {
      case Some(m) =>
        val pv = pvOf(line)
        m.forall { case (k, v) =>
          pv.get(k) match {
            case Some(x) => x == v
            case None => throw new IllegalStateException(
              s"WeatherLakeV2Sink: committed file ${entryPath(line)} " +
                s"carries no '$k=' path segment — membership in the " +
                "overwritten region cannot be decided (replacing it would " +
                "be a guess, keeping it would leak stale rows); compact " +
                "the foreign file into the partition layout first")
          }
        }
      case None => writtenParts.contains(pvOf(line))
    }
    // a superseded manifest's MOR-DELETE directives ride along:
    // deletions of out-of-region files it owned remain part of the view
    // (in-region targets are replaced and dangle harmlessly)
    val sup = snap.supersede(inDomain)
    // dynamic overwrite of nothing (empty batch) replaces nothing: a
    // no-op publishes NOTHING, like a no-op delete
    if (newLines.isEmpty && sup.manifests.isEmpty) return
    // the publish-time conflict check evaluates the domain over RACING
    // manifests' lines, which this op never vetted: one that cannot be
    // decided (no partition segments) counts as CONFLICTING — a
    // retryable ConcurrentModificationException naming the racing
    // commit, not the snapshot-side cannot-decide error above
    val conflictDomain: String => Boolean = l =>
      try inDomain(l) catch { case _: IllegalStateException => true }
    publishCommit(snap.basePath, "overwrite", snapshot = snap.live,
      supersedes = sup.manifests, lines = sup.lines(newLines),
      readDomain = Some(conflictDomain), payload = payload)
  }

  /** Write a commit's classified change rows — a (change, value) frame —
    * as rolled files under `_changes/` and return their manifest
    * DIRECTIVE lines ([[ChangesPrefix]]). The directives publish in the
    * SAME manifest rename as the commit's data, so a CDF reader can
    * never see one without the other. Line format `<change>\t<value>`:
    * Jackson escapes control characters inside JSON strings, so the
    * first tab is unambiguous (the same argument as stats entries).
    */
  private def writeChangeLog(rows: org.apache.spark.sql.DataFrame,
      op: String, basePath: String, targetBytes: Long,
      statsFields: Seq[String] = Nil): Seq[String] = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val routed = rows.select(
      lit(new Path(basePath, "_changes").toString).as("dir"),
      concat(col("change"), lit("\t"), col("value")).as("value"))
    // the directive payload keeps the FULL entry line (path + stats when
    // measured — extractJsonField finds the payload's top-level fields
    // through the change-kind prefix), so the CDC scan can stats-prune
    // change files exactly like data files
    val directives = PayloadCodec.JsonLines(basePath, statsFields, targetBytes)
      .write(routed, s"changes-$op")
      .map(l => s"$ChangesPrefix$l")
    // zero net changes still mark the commit as LOGGED (see
    // [[ChangeLogEmptyDirective]]) — an #op merge/update manifest with
    // neither directive reads as un-logged and bricks the change feed
    if (directives.isEmpty) Seq(ChangeLogEmptyDirective) else directives
  }

  /** Committed files re-framed to the write [[Schema]], shared by the
    * row-level operations and compaction: each line
    * rides with its manifest entry `file` (tied through
    * `_metadata.file_path` and the driver's spelling map —
    * [[PayloadCodec.tiedToEntries]]; basenames are NOT assumed unique
    * across directories), its directory `dir` (survivor routing), its
    * partition values recovered on the DRIVER via [[partitionValues]]
    * (raw strings, the true-descendant rule — nothing is inferred over
    * text), and the line itself as `raw_json`.
    */
  private def framedLines(spark: org.apache.spark.sql.SparkSession,
      basePath: String, files: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    PayloadCodec.tiedToEntries(DriverListing.textFrame(spark, files),
        Seq(col("value")), files, Seq("dir", "city", "ds", "hour"), f => {
          val pv = partitionValues(basePath, f)
          new Path(f).getParent.toString +:
            Seq("city", "ds", "hour").map(pv.get(_).orNull)
        })
      .select(col("__file").as("file"), col("dir"), col("value"),
        col("city"), col("ds"), col("hour"), col("value").as("raw_json"))
  }

  // -----------------------------------------------------------------
  // copy-on-write MERGE (row-level upsert into the committed lake)
  // -----------------------------------------------------------------

  /** Result of a [[mergeCommitted]]: how many committed files were
    * rewritten and how many replacement files were published.
    */
  final case class MergeStats(touchedFiles: Int, newFiles: Int)

  /** Copy-on-write MERGE of `batch` into the committed lake — the native
    * form of the one reference semantic previously only emulated: Postgres
    * `ON CONFLICT (city,timestamp) DO UPDATE` (load_to_postgres.py:90-102,
    * create_staging.sql:10). Rows of `batch` REPLACE committed rows that
    * share their merge key; keys seen for the first time append. `batch`
    * carries the sink [[Schema]] (city, ds, hour, raw_json) and must be
    * key-unique — collapse in-batch duplicates first
    * (`Weather.dedupUpsert`), exactly as the reference dedups staging
    * before its upsert.
    *
    * Partition-immutability contract (what makes step 1's pruning sound,
    * the same contract Delta's partition-pruned MERGE keeps): a batch row
    * must carry the SAME (city, ds, hour) as the committed row it
    * replaces. The reference's key is (city, timestamp) and ds/hour
    * derive from the timestamp, so this holds by construction there; a
    * key whose partition columns changed is treated as NEW (the old
    * partition's copy is not searched for). Files without partition
    * values in their path can never be ruled out and are always
    * candidates.
    *
    * `key(frame)` maps any frame with the Schema columns to the merge-key
    * Column — evaluated identically over the batch and over committed
    * lines re-framed to the Schema (partition values recovered from each
    * file's directory path; a committed file outside any `k=v` directory
    * surfaces nulls there, so key on `raw_json` fields to merge those).
    *
    * Plan shape, sized for 100 TB, with a fixed job budget:
    *  0. the batch is evaluated ONCE when it fits Spark's broadcast
    *     threshold: one job collects its routed rows, keys and delete
    *     flags to the driver ([[collectWithinBroadcast]] — at most the
    *     threshold in bytes, the bound a broadcast join would put on the
    *     same rows), and every later step reads that local copy. A batch
    *     that does not fit (by estimate or in fact) stays distributed
    *     and is re-read by each step below, with no driver key list;
    *  1. partition-prune candidates on the driver: only committed files
    *     whose (city, ds, hour) appears among the batch's distinct
    *     partition tuples can hold a conflicting key — O(committed files)
    *     driver metadata against the tuple set, taken from the collected
    *     rows (no job) or from one distributed distinct;
    *  2. ONE distributed pass finds the files actually touched: candidate
    *     lines probed against the batch keys — an `InSet` of the
    *     collected keys (one job, files deduplicated per task), or a join
    *     with the batch's distinct keys — the only data read before the
    *     rewrite, and only of candidate files;
    *  3. rewrite = surviving lines of touched files (the same probe,
    *     negated) unioned with the batch, rolled to `targetBytes` files
    *     per directory ([[PayloadCodec.write]]: no driver data). The
    *     collected batch needs no route shuffle — each touched file's
    *     survivors stay in the task that reads it, the batch rows in one
    *     task — so the rewrite is ONE write job; a distributed batch is
    *     routed by directory first;
    *  4. validate-and-publish ONE manifest by atomic rename
    *     ([[publishCommit]]), superseding ONLY the manifests owning a
    *     touched file and re-listing their untouched entries verbatim —
    *     a concurrent reader resolves the old committed view or the new
    *     one, never a mix; concurrent APPENDS land after the snapshot
    *     and stay live untouched. Superseded data files await [[vacuum]].
    * A collected batch costs three jobs (collect, touched pass, write);
    * the change log, when on, adds its own.
    *
    * Concurrency is OPTIMISTIC: the rewrite runs lock-free, and the
    * publish step conflicts loudly when a concurrent commit superseded a
    * touched manifest or committed new rows inside this merge's
    * partition read domain — disjoint-partition merges both commit (the
    * Delta discipline). Idempotent: re-merging the same batch rewrites the same
    * keys to the same values. `statsFields` re-collects per-file min/max
    * for the named raw_json fields on the REWRITTEN files (untouched
    * files keep their original entry lines either way), so merging never
    * erodes the stats-skipping layer.
    *
    * `deleteMatched` (evaluated over the BATCH frame) marks rows whose
    * key must be REMOVED instead of upserted — the MERGE delete action
    * (`WHEN MATCHED AND src.op = 'D' THEN DELETE`), which is what lets a
    * change-feed consumer apply an epoch's net inserts+updates+deletes
    * as ONE commit ([[applyChangesWriter]]). Delete rows participate in
    * touch detection (their keys find their files) and in the survivor
    * anti-join (the old copy goes away), but are excluded from the
    * rewrite union (nothing comes back); a delete row whose key does not
    * exist is a no-op. Driver-side key lists are bounded: the keys reach
    * the driver only inside the collected batch (step 0, at most the
    * broadcast threshold in bytes); a larger batch keeps them on the
    * executors.
    *
    * `deleteNotMatchedBySource` (evaluated over the TARGET frame — there
    * is no source row to reference) marks COMMITTED rows whose key is
    * absent from the batch for removal — `WHEN NOT MATCHED BY SOURCE
    * THEN DELETE [AND cond]`, the full-sync clause: one merge
    * synchronizes the table TO the batch. With it set the read domain is
    * honestly the WHOLE table (full-sync semantics read everything, so
    * candidate pruning is off and any concurrent commit conflicts at
    * publish), and touched files are those holding a batch key OR a
    * condition-matching survivor.
    */
  def mergeCommitted(spark: org.apache.spark.sql.SparkSession,
      basePath: String, batch: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      targetBytes: Long = 128L * 1024 * 1024,
      statsFields: Seq[String] = Nil,
      changeLog: Boolean = false,
      deleteMatched: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Column] = None,
      deleteNotMatchedBySource: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Column] = None): MergeStats = {
      import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, lit}
      require(targetBytes > 0, "targetBytes must be positive")
      val snap = loadSnapshot(basePath)
      snap.requirePayload("json", "the JSON-line row-level operation")
      val partCols = Seq("city", "ds", "hour")
      // the batch as every step reads it: routed line, key, delete flag
      // and partition tuple
      val routed = batch.select(Seq(
        concat_ws("/", lit(basePath) +:
          partCols.map(c => concat(lit(s"$c="), col(c))): _*).as("dir"),
        col("raw_json").as("value"), key(batch).as("__key"),
        deleteMatched.map(d => coalesce(d(batch), lit(false)))
          .getOrElse(lit(false)).as("__del")) ++
        partCols.map(c => col(c).cast(StringType).as(c)): _*)
      // 0. ONE evaluation of the batch when it fits the broadcast bound
      val collected = collectWithinBroadcast(routed)
      val source = collected.fold(routed) { rows =>
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils
              .toAttributes(routed.schema), rows.toSeq))
      }
      // 1. the merge's READ DOMAIN ([[mergeReadDomain]], bounded by the
      // batch's distinct partition tuples, never by batch rows), reused
      // twice: driver-side candidate pruning here, and publish-time
      // conflict detection against manifests that commit AFTER the
      // snapshot (a concurrent append inside the domain may hold a batch
      // key this merge decided to INSERT — committing would duplicate it)
      val inReadDomain = mergeReadDomain(basePath,
        collected.fold(batchTuples(routed, partCols)) { rows =>
          rows.map(r => partCols.indices.map(i =>
            if (r.isNullAt(4 + i)) null else r.getUTF8String(4 + i).toString)
            .toSeq).toSet
        }, partCols, prunable = deleteNotMatchedBySource.isEmpty)
      // the probe: each committed row flagged `__in` when its key is a
      // batch key — an InSet of the collected keys (no join, no job of
      // its own), else a join with the batch's distinct keys
      val keyType = routed.schema("__key").dataType
      val keySet = collected.map(_.collect {
        case r if !r.isNullAt(2) => r.get(2, keyType) }.toSet[Any])
      def probed(framed: org.apache.spark.sql.DataFrame) = {
        val keyed = framed.withColumn("__key", key(framed))
        keySet.filter(_ => keyed.schema("__key").dataType == keyType) match {
          case Some(keys) => keyed.withColumn("__in", coalesce(
            org.apache.spark.sql.GraftPlanBridge.columnOf(
              org.apache.spark.sql.catalyst.expressions.InSet(
                org.apache.spark.sql.GraftPlanBridge.expressionOf(
                  keyed("__key")), keys)), lit(false)))
          case None =>
            keyed.join(source.select(col("__key")).distinct()
                .withColumn("__in", lit(true)), Seq("__key"), "left")
              .withColumn("__in", coalesce(col("__in"), lit(false)))
        }
      }
      val candidates = snap.liveEntryLines.filter(inReadDomain).map(entryPath)
      // 2. committed candidate lines, re-framed to the write Schema
      // ([[framedLines]]) so `key` evaluates identically on both sides
      val touched: Seq[String] =
        if (candidates.isEmpty) Seq.empty
        else {
          val hits = probed(framedLines(spark, basePath, candidates))
          // a full-sync merge also touches files holding a survivor the
          // NOT MATCHED BY SOURCE condition deletes — the same pass
          val files = hits.filter(deleteNotMatchedBySource.fold(col("__in"))(
              nmbs => col("__in") || coalesce(nmbs(hits), lit(false))))
            .select(col("file")).as[String](
              org.apache.spark.sql.Encoders.STRING)
          // a collected batch's probe never shuffles the scan (an InSet,
          // or a broadcast of at most the threshold), so each file stays
          // in the tasks that scanned it and per-task dedup ships at most
          // one name per scanned split; else one distributed distinct
          (if (keySet.isDefined) files.mapPartitions(_.toSet.iterator)(
              org.apache.spark.sql.Encoders.STRING)
           else files.distinct())
            .collect().distinct.toSeq
        }
      val sup = snap.supersedeFiles(touched)
      // the touched files' lines, re-framed and probed once for the
      // rewrite and the change log
      lazy val tf = framedLines(spark, basePath, touched)
      lazy val notMatched = probed(tf).filter(!col("__in"))
      // 3. survivors of touched files + the batch's UPSERT rows (delete
      // rows removed their committed copy via the probe and bring nothing
      // back); a collected batch writes in place, its rows in one task
      val upserts = source.filter(!col("__del")).select(col("dir"), col("value"))
      val batchRows = if (collected.isDefined) upserts.coalesce(1) else upserts
      val rewrite =
        if (touched.isEmpty) batchRows
        else deleteNotMatchedBySource
          // full-sync: rows absent from the batch are DELETED where the
          // condition holds (SQL three-valued: NULL keeps the row)
          .map(nmbs => notMatched.filter(!coalesce(nmbs(notMatched), lit(false))))
          .getOrElse(notMatched)
          .select(col("dir"), col("value"))
          .unionByName(batchRows)
      val codec = PayloadCodec.JsonLines(basePath, statsFields, targetBytes)
      val newFiles =
        if (collected.isDefined) codec.writeInPlace(rewrite, "merge")
        else codec.write(rewrite, "merge")
      val changeLines =
        if (!changeLog) Seq.empty
        else {
          import org.apache.spark.sql.functions.{array, explode, struct, when}
          // classification mirrors changesBetween: a batch key with no
          // committed row is an insert; a differing line is a pre+post
          // pair; a batch row identical to the committed one is NOT a
          // change (the q89 doc_id-0 rule)
          val changes =
            if (touched.isEmpty)
              // no committed key matched: upsert rows are inserts, delete
              // rows were no-ops
              upserts.select(lit("insert").as("change"), col("value"))
            else {
              val oldKeyed = tf.withColumn("__key", key(tf))
                .select(col("__key"), col("value").as("__old"))
              val newKeyed = source.select(col("__key"),
                col("value").as("__new"), col("__del"))
              val batchChanges = oldKeyed
                .join(newKeyed, Seq("__key"), "right_outer")
                .select(explode(
                  when(col("__del") && col("__old").isNotNull, array(
                    struct(lit("delete").as("change"), col("__old").as("value"))))
                  .when(col("__del"), array()) // delete of an absent key
                  .when(col("__old").isNull, array(
                    struct(lit("insert").as("change"), col("__new").as("value"))))
                  .when(!(col("__old") <=> col("__new")), array(
                    struct(lit("update_preimage").as("change"),
                      col("__old").as("value")),
                    struct(lit("update_postimage").as("change"),
                      col("__new").as("value"))))
                  .otherwise(array())).as("c"))
                .select(col("c.change").as("change"), col("c.value").as("value"))
              // full-sync deletions are target-only rows — invisible to
              // the right_outer above, recorded separately
              deleteNotMatchedBySource match {
                case None => batchChanges
                case Some(nmbs) =>
                  batchChanges.unionByName(
                    notMatched.filter(coalesce(nmbs(notMatched), lit(false)))
                      .select(lit("delete").as("change"), col("value")))
              }
            }
          writeChangeLog(changes, "merge", basePath, targetBytes,
            statsFields)
        }
      // 4. validate-and-publish ONE manifest: old view or new view, never
      // a mix; conflicts with concurrent commits are loud, disjoint ones
      // coexist (see publishCommit)
      publishCommit(basePath, "merge", snapshot = snap.live,
        supersedes = sup.manifests, lines = sup.lines(newFiles ++ changeLines),
        readDomain = Some(inReadDomain))
      MergeStats(touched.size, newFiles.size)
    }

  // -----------------------------------------------------------------
  // copy-on-write DELETE (row-level delete from the committed lake)
  // -----------------------------------------------------------------

  /** Result of a [[deleteCommitted]]: committed files rewritten,
    * replacement files published, and rows removed.
    */
  final case class DeleteStats(touchedFiles: Int, newFiles: Int,
      deletedRows: Long)

  /** Copy-on-write DELETE of every committed row where `predicate` is
    * TRUE — the third row-level table operation next to append and
    * [[mergeCommitted]], and the one a data platform cannot ship
    * without (right-to-be-forgotten/GDPR erasure, bad-batch retraction,
    * retention enforcement). SQL DELETE null semantics: a row where the
    * predicate evaluates to NULL is KEPT — only definite matches are
    * removed (enforced with `coalesce(pred, false)` on both the count
    * and the survivor side, spec-pinned).
    *
    * `predicate(frame)` maps a frame with the [[Schema]] columns (city,
    * ds, hour recovered from each file's directory path — a file outside
    * any `k=v` directory surfaces nulls there — plus `raw_json`) to a
    * boolean Column, exactly [[mergeCommitted]]'s `key` contract.
    *
    * `prune` is the driver-side candidate filter, handed each committed
    * file's partition values AND its per-file [[FieldStats]] (both
    * possibly empty): return false only for files that can be RULED OUT.
    * A partition delete (drop one city/day) or a range delete over a
    * stats-tracked field then never reads unrelated files — the same
    * skipping legs the read path has, applied to maintenance. The
    * contract is fail-open like all pruning here: when in doubt, keep
    * the candidate; the distributed pass below decides the truth.
    *
    * Plan shape, sized for 100 TB:
    *  1. prune candidates on the driver — O(committed files) metadata;
    *  2. ONE distributed pass over candidate lines counts definite
    *     matches per file: files with any match are `touched`, the rest
    *     re-list their ORIGINAL manifest entry lines verbatim (per-file
    *     stats survive, exactly as merge/compact re-list);
    *  3. survivors of touched files (predicate not true) are rewritten
    *     into rolled files ([[PayloadCodec.write]] — distributed, no driver
    *     data); a file whose every row matched simply vanishes;
    *  4. ONE manifest validated-and-published by atomic rename
    *     ([[publishCommit]]) supersedes only the touched manifests —
    *     concurrent readers resolve the old view or the new one, never a
    *     mix; superseded files await [[vacuum]].
    *
    * A delete matching NOTHING publishes NO manifest (no churn: the
    * table version history only grows when the table changes).
    * Concurrency is optimistic, as in [[mergeCommitted]]: disjoint
    * concurrent commits coexist, a conflicting one loses loudly at
    * publish; plain appends and streaming never conflict. Idempotent:
    * re-deleting the same predicate is a metadata-only no-op.
    * `statsFields` re-collects per-file min/max on the survivor
    * rewrites, as in [[mergeCommitted]].
    */
  def deleteCommitted(spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      predicate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean =
        (_, _) => true,
      targetBytes: Long = 128L * 1024 * 1024,
      statsFields: Seq[String] = Nil,
      changeLog: Boolean = false): DeleteStats = {
    import org.apache.spark.sql.functions.{col, lit, not}
    rewriteMatches(spark, basePath, "delete", predicate, prune, targetBytes,
        statsFields, changeLog)(
      // survivors: predicate NOT TRUE (null keeps the row)
      (tf, hit) => tf.filter(not(hit(tf))).select(col("dir"), col("value")),
      (tf, hit) => tf.filter(hit(tf)).select(lit("delete").as("change"),
        col("value")))
      .map { case (m, newFiles) =>
        DeleteStats(m.touched.size, newFiles, m.count) }
      .getOrElse(DeleteStats(0, 0, 0L))
  }

  /** The copy-on-write DELETE/UPDATE core over the JSON-line payload:
    * ONE snapshot read; the predicate pass ([[LakeSnapshot.matchPass]]:
    * fail-open `prune` over each entry line's partition values and stats
    * — also the publish-time read domain, so a concurrent commit whose
    * new lines survive it conflicts loudly instead of being silently
    * missed — then one distributed count of definite matches per file);
    * the touched files re-framed ([[framedLines]]) and rewritten as
    * `rewrite(frame, hit)` through the rolled writer; the change log,
    * when on, from `changes(frame, hit)`; ONE partially-superseding
    * publish. `hit` is the predicate under SQL NULL semantics (NULL is
    * not a match). None when no row matched — nothing is published.
    * Returns the matches and the number of files written.
    */
  private def rewriteMatches(spark: org.apache.spark.sql.SparkSession,
      basePath: String, op: String,
      predicate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean,
      targetBytes: Long, statsFields: Seq[String], changeLog: Boolean)(
      rewrite: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column) =>
        org.apache.spark.sql.DataFrame,
      changes: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column) =>
        org.apache.spark.sql.DataFrame): Option[(Matches, Int)] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(targetBytes > 0, "targetBytes must be positive")
    val snap = loadSnapshot(basePath)
    snap.requirePayload("json", "the JSON-line row-level operation")
    def inReadDomain(l: String): Boolean =
      prune(partitionValues(basePath, entryPath(l)), lineStats(l))
    def hit(df: org.apache.spark.sql.DataFrame) =
      coalesce(predicate(df), lit(false))
    snap.matchPass(inReadDomain, "file", framedLines(spark, basePath, _), hit)
      .map { m =>
        val sup = snap.supersedeFiles(m.touched)
        val tf = framedLines(spark, basePath, m.touched)
        val newFiles = PayloadCodec.JsonLines(basePath, statsFields,
          targetBytes).write(rewrite(tf, hit), op)
        val changeLines =
          if (!changeLog) Seq.empty
          else writeChangeLog(changes(tf, hit), op, basePath, targetBytes,
            statsFields)
        publishCommit(basePath, op, snapshot = snap.live,
          supersedes = sup.manifests,
          lines = sup.lines(newFiles ++ changeLines),
          readDomain = Some(inReadDomain))
        (m, newFiles.size)
      }
  }

  // -----------------------------------------------------------------
  // manifest checkpointing (metadata-only history rollup)
  // -----------------------------------------------------------------

  /** Collapse the live manifest SET into ONE manifest — the Delta
    * checkpoint move, and the missing piece that keeps the metadata
    * layer itself O(1) at scale: every read-side operation
    * ([[liveManifests]] and everything above it) opens EVERY published
    * manifest, so a lake taking a commit a minute holds half a million
    * manifests after a year and pays an O(n) LIST+read per operation.
    * Checkpointing publishes a single manifest that re-lists every live
    * entry line VERBATIM (zero data IO, stats intact — this is
    * compaction of the METADATA, not the data) and supersedes the whole
    * snapshotted live set; once [[vacuum]] reclaims the superseded
    * manifests, the history is one file.
    *
    * Interactions, all inherited from the superseding-manifest protocol:
    *  - concurrent readers resolve the old live set or the checkpoint,
    *    never a mix (one atomic rename);
    *  - appends committing after the snapshot stay live untouched;
    *  - a caught-up [[WeatherLakeV2StreamSource]] stream sees the
    *    checkpoint as a NEW manifest and replays rows it already
    *    consumed — the same at-least-once contract as compaction
    *    (spec-pinned there); fresh streams read once;
    *  - superseded streaming manifests remain exactly-once replay
    *    tokens under vacuum's age guard + the one-generation tombstone.
    *
    * Returns the number of manifests collapsed; a live set of 0 or 1
    * manifests is already checkpointed and publishes NOTHING.
    * Optimistic like merge/delete/update/compact — it snapshots and
    * supersedes the live set, validated at publish (a concurrent commit
    * that superseded a snapshot manifest makes it lose loudly).
    */
  def checkpointManifests(basePath: String): Int = {
      val snap = loadSnapshot(basePath)
      val snapshot = snap.live
      if (snapshot.size <= 1) 0
      else {
        // resolve entry lines from the SNAPSHOT, never from a second
        // liveManifests() pass: an append committing between the two
        // reads would otherwise have its lines checkpointed while its
        // manifest stays live — every row double-counted. Change-log
        // directives are NOT carried forward: a checkpoint supersedes
        // the commits, and a CDC stream that hasn't drained them reads
        // the superseded manifests directly until vacuum's age guard —
        // the documented CDC/vacuum horizon.
        // MOR-DELETE directives are carried forward VERBATIM — unlike
        // change logs (a feed artifact), live delete rows are part of the
        // committed view itself; dropping a directive at checkpoint would
        // resurrect its deleted rows. Data paths are re-listed unchanged,
        // so every carried directive's target stays valid.
        val lines = snap.liveEntryLines ++ snap.morDirectives(snapshot)
        // the whole-set rollup: supersedes everything it snapshotted;
        // appends landing after the snapshot stay live untouched, and a
        // concurrent commit that superseded a snapshot member first
        // makes this publish lose loudly (its re-listing is stale).
        // Payload-format-agnostic (it re-lists lines, never reads data),
        // but the rollup manifest must CARRY the table's payload
        // declaration — dropping it would demote a typed table to v1.
        publishCommit(basePath, "checkpoint", snapshot = snapshot,
          supersedes = snapshot, lines = lines,
          payload = snap.payloadDirective)
        snapshot.size
      }
    }

  // -----------------------------------------------------------------
  // rollback (restore an earlier snapshot as a NEW commit)
  // -----------------------------------------------------------------

  /** Result of a [[rollbackTo]]: the file-set delta between the view
    * being restored and the view it replaced.
    */
  final case class RollbackStats(restoredFiles: Int, removedFiles: Int,
      restoredDeleteFiles: Int, removedDeleteFiles: Int) {
    def isNoop: Boolean = restoredFiles == 0 && removedFiles == 0 &&
      restoredDeleteFiles == 0 && removedDeleteFiles == 0
  }

  /** Restore the table's LIVE VIEW to a captured snapshot — the Delta
    * `RESTORE` / Iceberg `rollback_to_snapshot` move, as ONE superseding
    * commit (history preserved, never rewritten): the as-of surviving
    * entry lines (stats intact) and `#mordelete` directives are re-listed
    * VERBATIM in a manifest that supersedes the whole current live set,
    * exactly [[checkpointManifests]]'s rollup shape pointed at an older
    * resolution. Zero data IO — files never move; the view flips in one
    * atomic rename, and `VERSION AS OF` keeps resolving both the rolled-
    * away versions and the rollback itself until [[vacuum]] reclaims.
    *
    * Restores the DATA view only (file set + merge-on-read deletion
    * state): the typed SCHEMA lives in the catalog marker and stays
    * current, so as-of files read exactly as time travel reads them
    * (additive evolution null-fills, widening casts, renames map).
    * Per-file stats ride the as-of entry lines — as-of-correct for the
    * as-of files by construction.
    *
    * Fails loudly, never partially: past the vacuum horizon
    * ([[readAsOf]]'s contract), and on any resolved file missing from
    * disk (a crashed vacuum's half-reclaimed window — making THAT state
    * live again would plant missing-file failures in every later scan).
    * A rollback to a view identical to the current one publishes
    * NOTHING ([[RollbackStats.isNoop]]); per-file stats are not view
    * state. Optimistic like checkpoint: a concurrent commit makes the
    * publish lose loudly. The classic commit-log change feed refuses a
    * rollback commit like an overwrite (its delta is not representable
    * without a key); the typed snapshot-diff feed derives the exact
    * restore delta from the commit structure.
    */
  def rollbackTo(basePath: String, snap: Seq[String]): RollbackStats = {
    val cur = loadSnapshot(basePath)
    val live = cur.live
    // ONE as-of read holds both halves of the restored view
    val asOf = resolvedAsOf(basePath, snap)
    val asOfEntries = asOf.live.flatMap(asOf.entryLines)
    val asOfMor = asOf.morDirectives(asOf.live)
    val curEntries = cur.liveEntryLines
    val curMor = cur.morDirectives(live)
    val asOfFiles = asOfEntries.map(entryPath).toSet
    val curFiles = curEntries.map(entryPath).toSet
    def delPath(l: String): String =
      entryPath(l.stripPrefix(MorDeletePrefix).trim)
    val asOfDel = asOfMor.map(delPath).toSet
    val curDel = curMor.map(delPath).toSet
    if (asOfFiles == curFiles && asOfDel == curDel)
      return RollbackStats(0, 0, 0, 0)
    // belt over the manifest-chain argument: the files the restored view
    // references must exist NOW (a vacuum that crashed between file and
    // manifest reclamation leaves readable-looking metadata over missing
    // bytes — refuse to make that the live view). O(as-of files) driver
    // metadata, the detail-procedure class.
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val missing = ((asOfFiles -- curFiles) ++ (asOfDel -- curDel))
      .filterNot(f => fs.exists(new Path(f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"WeatherLakeV2Sink.rollbackTo: the target snapshot references " +
        s"files no longer on disk (partially vacuumed history): " +
        s"${missing.toSeq.sorted.take(5).mkString(", ")}" +
        (if (missing.size > 5) s" … (${missing.size} total)" else ""))
    // strict ancestry (requireLiveExactly): the restore's input is the
    // WHOLE live view — an append racing between this function's
    // snapshot and the publish must fail the rollback loudly, not
    // survive it (supersedes-only validation would let its rows ride
    // through a commit that claims to have restored version V)
    publishCommit(basePath, "rollback", snapshot = live, supersedes = live,
      lines = asOfEntries ++ asOfMor, payload = cur.payloadDirective,
      requireLiveExactly = Some(live.toSet))
    RollbackStats((asOfFiles -- curFiles).size, (curFiles -- asOfFiles).size,
      (asOfDel -- curDel).size, (curDel -- asOfDel).size)
  }

  // -----------------------------------------------------------------
  // copy-on-write UPDATE (row-level transform of the committed lake)
  // -----------------------------------------------------------------

  /** Result of an [[updateCommitted]]: committed files rewritten,
    * replacement files published, and rows transformed.
    */
  final case class UpdateStats(touchedFiles: Int, newFiles: Int,
      updatedRows: Long)

  /** Copy-on-write UPDATE: every committed row where `predicate` is TRUE
    * is replaced by `transform` of itself — `UPDATE t SET … WHERE …`,
    * completing the DML triple next to [[mergeCommitted]] (keyed upsert)
    * and [[deleteCommitted]]. Use MERGE when the new values arrive as a
    * batch; use UPDATE when they are a FUNCTION of the stored row
    * (backfill a derived field, redact a column, fix a unit error).
    *
    * `predicate` and `prune` follow [[deleteCommitted]]'s contracts
    * exactly (SQL NULL semantics — a NULL predicate keeps the row
    * unchanged; `prune` is fail-open driver-side candidate skipping over
    * partition values + per-file stats). `transform(frame)` maps the
    * [[Schema]]-framed row to the REPLACEMENT raw line (a Column; build
    * it from `raw_json` with JSON functions). The transform must keep
    * the row in its partition directory (same immutability contract as
    * merge — the rewrite routes survivors and updates by the file's own
    * directory, so a transform that changes city/ds/hour would lie about
    * its location). `statsFields` refreshes per-file min/max on the
    * rewritten files.
    *
    * Same plan shape and guarantees as delete: ONE distributed pass
    * counts definite matches per candidate file; touched files rewrite
    * (unchanged rows verbatim, matching rows transformed) through the
    * rolled writer; untouched files re-list their original entry lines;
    * ONE superseding manifest, no-op publishes nothing, optimistic
    * (validate-at-publish).
    * NOT generally idempotent — re-running applies the transform again
    * wherever the predicate still holds (document per use; a transform
    * that leaves the predicate false, like a redaction, IS idempotent).
    */
  def updateCommitted(spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      predicate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      prune: (Map[String, String], Map[String, FieldStats]) => Boolean =
        (_, _) => true,
      targetBytes: Long = 128L * 1024 * 1024,
      statsFields: Seq[String] = Nil,
      changeLog: Boolean = false): UpdateStats = {
    import org.apache.spark.sql.functions.{col, lit, not, when}
    rewriteMatches(spark, basePath, "update", predicate, prune, targetBytes,
        statsFields, changeLog)(
      (tf, hit) => tf.select(col("dir"),
        when(hit(tf), transform(tf)).otherwise(col("value")).as("value")),
      (tf, hit) => {
        // no-op transforms (new line == old line) are NOT changes, the
        // same suppression rule as changesBetween
        val tWith = tf.withColumn("__new", transform(tf))
        val changed = tWith.filter(hit(tWith) &&
          not(col("__new") <=> col("value")))
        changed.select(lit("update_preimage").as("change"), col("value"))
          .unionByName(changed.select(lit("update_postimage").as("change"),
            col("__new").as("value")))
      })
      .map { case (m, newFiles) =>
        UpdateStats(m.touched.size, newFiles, m.count) }
      .getOrElse(UpdateStats(0, 0, 0L))
  }

  // -----------------------------------------------------------------
  // manifest-driven small-file compaction
  // -----------------------------------------------------------------

  /** Rewrite every SMALL-FILE partition directory of the committed view
    * into files of ~`targetBytes`, publishing the result as a single
    * superseding manifest. The reference layout writes one object per
    * city-hour (s3_writer.py:59-61) — at 100 TB that is the classic
    * small-file killer, and this is the maintenance job that repairs it.
    *
    * Sizing discipline (the two failure modes a fixed rewrite has):
    *  - a directory is a candidate only when it has >1 file AND its mean
    *    file size is under `targetBytes / 2` — re-running compact over an
    *    already-healthy directory is a no-op, not a churn loop;
    *  - the rewriter ROLLS to a new file at `targetBytes`, so one hot
    *    directory holding a terabyte compacts to ~8k bounded objects,
    *    never one unreadably-large file (single-writer object uploads cap
    *    out, and downstream scans need split points).
    *
    * Safety under concurrency, in commit order:
    *  1. the live-manifest set is snapshotted up front; jobs that commit
    *     AFTER the snapshot are untouched (their manifests stay live);
    *  2. compacted replacement files are written under fresh names —
    *     until step 3 they are invisible (no manifest lists them), so a
    *     failed compaction leaves only manifest-less orphans, exactly
    *     like a died write job;
    *  3. one manifest is published by atomic rename carrying BOTH the
    *     `#supersedes` directives for every snapshotted manifest and the
    *     full surviving file list (untouched single files + compacted
    *     files). A concurrent reader resolves either the old live set or
    *     the new one — never a mix, never a double-read;
    *  4. superseded DATA files are NOT deleted — readers that listed
    *     before the publish keep reading them; reclaim space later with
    *     [[vacuum]] once in-flight readers have drained.
    *
    * The rewrite itself is distributed: committed lines are read with
    * `spark.read`, routed by partition directory (file basenames are
    * uuid-unique, so the mapping rides a broadcast equi-join — no UDF),
    * and each directory's rows land in one file via `mapPartitions`.
    * Returns the number of directories compacted (0 = nothing to do).
    *
    * OPTIMIZE ZORDER (`clusterExpr` + `statsFields`): when `clusterExpr`
    * is set, each rewritten directory's rows are SORTED by the
    * expression (over the `(dir, value)` frame — compose
    * `graft_zorder`/`get_json_object` for multi-field Morton
    * clustering) before the rolled write, so every output file covers a
    * tight, near-disjoint value range; with `statsFields` those ranges
    * are measured into fresh manifest entries and
    * [[committedFilesPrunedByStats]] then skips most files for a range
    * predicate — the Delta OPTIMIZE ZORDER move. Clustered candidacy
    * differs from the small-file rule: any multi-file directory
    * qualifies (reclustering is the point), and so does a single file
    * larger than `targetBytes` (rolling SPLITS it into range-disjoint
    * chunks). Reclustering is an explicit maintenance action, not a
    * convergent repair — re-running re-sorts (same content, fresh
    * files); schedule it like Delta OPTIMIZE, not like the small-file
    * loop. `statsFields` without `clusterExpr` keeps the convergent
    * small-file candidacy and simply refreshes stats on what it
    * rewrites.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, basePath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterExpr: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Column] = None,
      statsFields: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.col
    require(targetBytes > 0, "targetBytes must be positive")
    val snap = loadSnapshot(basePath)
    snap.requirePayload("json", "compact")
    val (multi, sup) = compactionPlan(snap, targetBytes, clusterExpr.isDefined)
    if (multi.isEmpty) 0
    else {
      // each line keeps its own file's directory (the candidacy key)
      val rows = framedLines(spark, basePath, multi.values.flatten.toSeq)
        .select(col("dir"), col("value"))
      val newFiles = PayloadCodec.JsonLines(basePath, statsFields, targetBytes)
        .write(rows, "compact", sortWithin = clusterExpr.map(e => e(rows)).toSeq)
      // no readDomain: compaction rewrites LAYOUT only — rows committed
      // after the snapshot live in manifests this commit never touches,
      // so a concurrent append can't invalidate it; the supersedes check
      // alone catches a racing rewrite of the same manifests
      publishCommit(basePath, "compact", snapshot = snap.live,
        supersedes = sup.manifests, lines = sup.lines(newFiles))
      multi.size
    }
  }

  /** Compaction candidacy, classic and typed: the live entry lines
    * grouped by directory; a directory is rewritten when `force` selects
    * one of its lines, or by the small-file rule — >1 file and mean size
    * under half `targetBytes`, so a healthy directory (however many
    * bounded files) is left alone and repeated maintenance converges
    * instead of churning. `clustered` runs widen candidacy to any
    * multi-file directory or a single file over the target (reclustering
    * and splitting are the point). O(candidate files) driver-side size
    * stats, the order of the manifest read itself. Returns the candidate
    * directories' files and the partial supersession rewriting them:
    * untouched directories re-list their lines verbatim, so per-file
    * stats survive compaction, and every other live manifest stays live.
    */
  private[sources] def compactionPlan(snap: LakeSnapshot, targetBytes: Long,
      clustered: Boolean, force: String => Boolean = _ => false):
      (Map[String, Seq[String]], Supersession) = {
    val fs = new Path(snap.basePath).getFileSystem(LakeIO.conf)
    def dirOf(l: String): String = new Path(entryPath(l)).getParent.toString
    val multi = snap.liveEntryLines.groupBy(dirOf).view.filter {
      case (_, ls) =>
        val fls = ls.map(entryPath)
        val sizes = fls.map(f => fs.getFileStatus(new Path(f)).getLen)
        ls.exists(force) || {
          if (clustered) fls.size > 1 || sizes.sum > targetBytes
          else fls.size > 1 && sizes.sum.toDouble / fls.size < targetBytes / 2.0
        }
    }.mapValues(_.map(entryPath)).toMap
    (multi, snap.supersede(l => multi.contains(dirOf(l))))
  }

  /** Backfill per-file min/max stats onto the CURRENT committed view
    * without rewriting a single data file — the retrofit that gives
    * pre-`statsFields` data (or a new query pattern's field) a sharp
    * skipping layer. Delta's ANALYZE/`delta.dataSkippingStatsColumns`
    * role: stats live in the MANIFEST entry lines, so re-measuring is a
    * metadata commit, not a data rewrite.
    *
    * One task per committed file runs the exact accumulator the writer
    * uses ([[PayloadCodec.JsonLines.measure]]), the driver collects
    * O(files x fields) stats (bounded metadata, the same class as the
    * manifest read itself), and ONE layout-only superseding manifest
    * re-lists every entry line with the merged stats ([[measureCommitted]]).
    * Returns the number of files measured.
    */
  def measureStats(spark: org.apache.spark.sql.SparkSession,
      basePath: String, fields: Seq[String]): Int = {
    require(fields.nonEmpty,
      "measureStats needs at least one raw_json field name to measure")
    measureCommitted(spark, PayloadCodec.JsonLines(basePath), fields,
      "measureStats")
  }

  /** The stats backfill, classic and typed: ONE snapshot read and payload
    * check; an empty lake measures nothing; otherwise `codec` measures
    * `fields` per live file and ONE layout-only commit superseding the
    * whole snapshot re-lists every live entry line with the measured
    * stats merged over its own (other fields survive, measured fields are
    * replaced). The live mor directives ride the rollup — dropping one
    * would resurrect its deleted rows — and so does the table's payload
    * declaration. Validated at publish like checkpoint: a racing append
    * stays live untouched, a racing rewrite of a snapshot manifest makes
    * this commit lose loudly; the change feed ignores it (layout-only
    * `#op measure`). Returns the number of files measured.
    */
  private[sources] def measureCommitted(
      spark: org.apache.spark.sql.SparkSession, codec: PayloadCodec,
      fields: Seq[String], who: String): Int = {
    val snap = loadSnapshot(codec.basePath)
    snap.requirePayload(codec.payload, who)
    val files = snap.liveEntryLines.map(entryPath)
    if (files.isEmpty) return 0
    val measured = codec.measure(spark, files, fields)
    val lines = snap.liveEntryLines.map { l =>
      val p = entryPath(l)
      val merged = lineStats(l) ++ measured.getOrElse(p, Map.empty)
      if (merged.isEmpty) p else s"$p\t${statsToJson(merged)}"
    }
    publishCommit(snap.basePath, "measure", snapshot = snap.live,
      supersedes = snap.live, lines = lines ++ snap.morDirectives(snap.live),
      payload = snap.payloadDirective)
    files.size
  }

  /** Reclaim space after [[compact]]: delete data files referenced ONLY
    * by superseded manifests, then the superseded manifests themselves.
    * Run this once readers that listed before the compaction publish have
    * drained — a reader mid-scan over a superseded file would lose it
    * (WeatherLakeV2SinkSpec's vacuum-adversarial test pins the failure
    * mode: such a reader fails LOUDLY on the missing path, never returns
    * a silent subset). Files younger than `minAgeMs` are kept even when
    * unreferenced: they may belong to an in-flight write job whose
    * manifest isn't published yet. A superseded manifest is deleted only
    * once every non-live file it references is gone from disk — deleting
    * it earlier would orphan the age-guarded survivors (no manifest left
    * to find them by, so no later vacuum could ever reclaim them).
    *
    * `minAgeMs` ALSO guards the manifest itself: a superseded manifest's
    * NAME is the exactly-once replay token of [[exactlyOnceBatchWriter]].
    * Deleting it is softened one generation deep by the superseding
    * manifest's `#supersedes` directive, which TOMBSTONES the name — a
    * replay that republishes it stays invisible (spec-pinned) and its
    * orphan files are reclaimed by the next vacuum. The tombstone dies
    * only when the superseding manifest is itself superseded and
    * vacuumed; run vacuum with `minAgeMs` above the maximum replay
    * window (Delta's vacuum-retention vs streaming contract) so that
    * two-generation window can never race a replay.
    */
  def vacuum(basePath: String, minAgeMs: Long = VacuumRetentionFloorMs,
      force: Boolean = false, cdfRetentionMs: Long = 0L): Int = {
    // Safety rail (Delta's retentionDurationCheck analogue): a
    // copy-pasted `min_age_ms => 0` maintenance call silently destroys
    // the horizon of every lagging reader — a pinned snapshot mid-scan,
    // a CDF consumer that hasn't drained, an exactly-once replay inside
    // its window. Reclaiming younger than the floor requires saying so.
    if (minAgeMs < VacuumRetentionFloorMs && !force)
      throw new IllegalArgumentException(
        s"vacuum: minAgeMs=$minAgeMs is below the retention floor " +
          s"(${VacuumRetentionFloorMs}ms = 7 days). Short retention " +
          "deletes files that pinned snapshots, change-feed consumers, " +
          "and streaming replays may still need. Pass force = true " +
          "(SQL: CALL lake.system.vacuum(t, min_age_ms => ..., force => " +
          "true)) only when no reader can be behind this table's head.")
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    val snap = loadSnapshot(basePath)
    val live = snap.live
    val liveFiles = snap.liveEntryLines.map(entryPath).toSet
    // the CHANGE-FEED RETENTION CONTRACT (`cdfRetentionMs` table
    // property, resolved by the CALL face): a declared bootstrap/replay
    // window that even a forced zero-age vacuum honors — history
    // younger than the window survives, so a change-feed consumer (or
    // an earliest-bootstrap restart) whose lag is inside the declared
    // window can never lose its horizon to maintenance; outside it the
    // existing loud vacuum-horizon failure stands. Age is a FLOOR over
    // the whole retention arithmetic (manifests and their files alike)
    // — retaining a manifest without its change/delete/data files would
    // be a horizon that resolves to missing paths.
    val cutoff = System.currentTimeMillis() -
      math.max(minAgeMs, cdfRetentionMs)
    val superseded = snap.names.filterNot(live.toSet)
    // live manifests' CHANGE-LOG and MOR-DELETE files are protected like
    // live data (a CDF stream that hasn't consumed the manifest still
    // needs its change files; live delete rows are part of the committed
    // VIEW); superseded manifests' auxiliary files are reclaimable with
    // their data
    val liveChanges = live.flatMap { n =>
      val ls = snap.lines(n)
      changePaths(ls) ++ morDeletePaths(ls)
    }.toSet
    // TAGGED snapshots are RETENTION ROOTS (Iceberg refs): every file a
    // tag's pinned read resolves — data, change-log and delete files —
    // plus the tag's manifests themselves are protected until the tag
    // is dropped, no matter the age. `VERSION AS OF '<tag>'` therefore
    // never hits the vacuum horizon; untagged history keeps the age
    // contract unchanged. BRANCH BASES pin identically: a branch's view
    // is base + staged commits, and main maintenance superseding a base
    // manifest must not let vacuum pull the snapshot out from under the
    // branch before fast_forward/drop_branch. (Staged branch files need
    // no protection here — no MAIN manifest references them, so this
    // walk can never reach them; sweepOrphans is their guard.)
    val tagSnaps = tagNames(basePath).map(n => readTag(basePath, n)) ++
      branchNames(basePath).map(n => readBranchBase(basePath, n))
    val taggedManifests = tagSnaps.flatten.toSet
    val taggedFiles = tagSnaps.flatMap { tagged =>
      filesAsOf(basePath, tagged) ++ tagged.flatMap { n =>
        val ls = readLines(fs, new Path(mdir, n))
        changePaths(ls) ++ morDeletePaths(ls)
      }
    }.toSet
    var removed = 0
    // manifest deletion is TWO-PHASE: a manifest's #supersedes lines are
    // the tombstones keeping its targets OUT of the live set, so a
    // superseder's manifest file may only be deleted together-with-or-
    // after everything it supersedes. Phase 1 reclaims data files and
    // collects deletion candidates; phase 2 retains (by fixpoint) any
    // candidate that supersedes a manifest remaining on disk — a tag
    // hold (or an age/straggler hold) on a target therefore retains its
    // whole superseder chain's manifest FILES, else the target would
    // resurrect into the live view the moment its tombstone vanished
    // (found by the model spec: tag → reconcile → zero-age vacuum
    // resurrected a checkpoint's superseded lines).
    val candidates = scala.collection.mutable.Set.empty[String]
    val supersedesOf = scala.collection.mutable.Map.empty[String, Seq[String]]
    superseded.foreach { n =>
      val lines = snap.lines(n)
      supersedesOf(n) = lines.filter(_.startsWith(SupersedesPrefix))
        .map(_.stripPrefix(SupersedesPrefix).trim)
      val present = (lines
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(entryPath) ++ changePaths(lines) ++ morDeletePaths(lines))
        .filterNot(f => liveFiles(f) || liveChanges(f) || taggedFiles(f))
        .map(new Path(_))
        .filter(fs.exists)
      val (old, young) =
        present.partition(p => fs.getFileStatus(p).getModificationTime < cutoff)
      old.foreach(fs.delete(_, false))
      removed += old.size
      // manifest deletion honors the age guard too: its NAME is the
      // exactly-once replay token (see above) — and a tag-pinned
      // manifest survives regardless
      val mPath = new Path(mdir, n)
      if (young.isEmpty && !taggedManifests(n) &&
          fs.getFileStatus(mPath).getModificationTime < cutoff)
        candidates += n
    }
    var changed = true
    while (changed) {
      changed = false
      candidates.toSeq.foreach { n =>
        val retainedTargets = supersedesOf.getOrElse(n, Seq.empty).exists {
          t => !candidates(t) && fs.exists(new Path(mdir, t))
        }
        if (retainedTargets) { candidates -= n; changed = true }
      }
    }
    // Deletion is ORDERED targets-first (reverse-topological over the
    // #supersedes edges): a superseder manifest — whose lines are the
    // tombstones keeping its targets dead — falls only after every
    // candidate it supersedes is confirmed gone from disk. A crash (or
    // a false-returning fs.delete) mid-sweep then strands at worst a
    // tombstone whose targets are already deleted, never a target
    // stripped of its tombstone: the resurrection the fixpoint above
    // prevents cannot reopen as a crash window. A failed delete keeps
    // its manifest in `remaining`, which blocks the whole dependent
    // superseder chain this pass (the next vacuum retries).
    val remaining = scala.collection.mutable.Set.empty[String] ++ candidates
    var progress = true
    while (progress) {
      progress = false
      remaining.toSeq.sorted.foreach { n =>
        val blocked = supersedesOf.getOrElse(n, Seq.empty)
          .exists(remaining)
        if (!blocked) {
          val p = new Path(mdir, n)
          if (fs.delete(p, false) || !fs.exists(p)) {
            remaining -= n
            progress = true
          }
        }
      }
    }
    removed
  }

  // -------------------------------------------------------------------
  // named refs: TAGS (immutable snapshot pins — Iceberg refs)
  // -------------------------------------------------------------------

  /** Where named refs live under a table root — underscore-prefixed so
    * data walks skip it structurally, sibling of [[ManifestDir]].
    */
  val RefsDir = "_refs"

  private def tagFile(basePath: String, name: String): Path = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name '$name' must be non-empty [A-Za-z0-9._-]")
    new Path(new Path(basePath, RefsDir), s"tag-$name")
  }

  /** The table's tag names, sorted. O(refs) driver metadata. */
  def tagNames(basePath: String): Seq[String] = {
    val refs = new Path(basePath, RefsDir)
    val fs = refs.getFileSystem(LakeIO.conf)
    if (!fs.exists(refs)) Seq.empty
    else fs.listStatus(refs).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("tag-")).map(_.stripPrefix("tag-")).sorted
  }

  /** Pin the CURRENT live snapshot under an immutable name (Iceberg
    * `create_tag`): one tiny JSON file of manifest names. The final file
    * is created with `overwrite = false` — the filesystem's atomic
    * fail-if-exists — NOT temp-then-rename: `RawLocalFileSystem` (and
    * several object-store connectors) overwrite on rename and return
    * true, so a rename-based guard would let a concurrent duplicate
    * create silently re-point an "immutable" tag. The cost is that a
    * reader racing the ~100-byte write can see a truncated file — which
    * fails [[readTag]]'s JSON parse LOUDLY and transiently, never
    * resolves to a wrong snapshot. Tags are retention roots — [[vacuum]]
    * keeps every file and manifest the tagged snapshot resolves until
    * [[dropTag]]. Re-creating an existing name refuses LOUDLY
    * (immutability is the point of a tag). All-digit names are rejected:
    * `VERSION AS OF` resolves numeric strings as commit versions FIRST,
    * so such a tag could never be read back. Returns the pinned set.
    */
  def createTag(basePath: String, name: String): Seq[String] = {
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF resolves numeric " +
        "strings as commit versions before tag names, so this tag could " +
        "never be read; pick a name with a non-digit character")
    val file = tagFile(basePath, name)
    val fs = file.getFileSystem(LakeIO.conf)
    if (fs.exists(file)) throw new IllegalArgumentException(
      s"tag '$name' already exists on $basePath — tags are IMMUTABLE; " +
        s"CALL lake.system.drop_tag first to re-point it")
    val snap = liveManifests(basePath)
    require(snap.nonEmpty, s"cannot tag $basePath before its first commit")
    writeRef(file, snap, s"tag '$name' already exists on $basePath (lost " +
      "a concurrent create) — tags are IMMUTABLE; drop it first")
    snap
  }

  /** Pin `snap` in a ref file (a JSON array of manifest names), atomic
    * fail-if-exists: losing a concurrent create fails with `lostRace`.
    */
  private def writeRef(file: Path, snap: Seq[String], lostRace: String): Unit = {
    val fs = file.getFileSystem(LakeIO.conf)
    fs.mkdirs(file.getParent)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    snap.sorted.foreach(arr.add)
    val out =
      try LakeIO.newOutput(fs, file, false)
      catch {
        // FileAlreadyExistsException is the spec'd signal; some
        // connectors throw plain IOException — re-classify only when
        // the file verifiably appeared (a real IO fault stays an error)
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new IllegalArgumentException(lostRace)
        case e: java.io.IOException if fs.exists(file) =>
          throw new IllegalArgumentException(lostRace, e)
      }
    try out.write(mapper.writeValueAsString(arr)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The manifest names a ref file pins ([[writeRef]]). */
  private def readRef(file: Path): Seq[String] = {
    val fs = file.getFileSystem(LakeIO.conf)
    val in = fs.open(file)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val names = Seq.newBuilder[String]
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      .forEach(n => names += n.asText())
    names.result()
  }

  /** The manifest set a tag pins — loud on an unknown name, listing the
    * table's tags (the typo answer a `VERSION AS OF '<tag>'` user needs).
    */
  def readTag(basePath: String, name: String): Seq[String] = {
    val file = tagFile(basePath, name)
    val fs = file.getFileSystem(LakeIO.conf)
    if (!fs.exists(file)) throw new IllegalArgumentException(
      s"unknown ref '$name' on $basePath — existing tags: " +
        s"[${tagNames(basePath).mkString(", ")}]; branches: " +
        s"[${branchNames(basePath).mkString(", ")}]")
    readRef(file)
  }

  /** Drop a tag: the snapshot stops being a retention root and the next
    * [[vacuum]] reclaims whatever only it was keeping. Returns whether
    * the tag existed.
    */
  def dropTag(basePath: String, name: String): Boolean = {
    val file = tagFile(basePath, name)
    file.getFileSystem(LakeIO.conf).delete(file, false)
  }

  // -------------------------------------------------------------------
  // named refs: BRANCHES (append-only staging heads — write-audit-publish)
  // -------------------------------------------------------------------

  /** Session conf that reroutes the CATALOG write/read surface of typed
    * lake tables onto a staging branch (Iceberg's `spark.wap.branch`):
    * V2 APPENDS land on the branch (auto-created at first write, base =
    * the live snapshot), reads of a table CARRYING the branch resolve
    * base + staged files, and every non-append publish (DML rewrites,
    * maintenance) refuses loudly while the conf is set — a statement the
    * user believes is staged must never silently mutate main. Publish =
    * `CALL lake.system.fast_forward(t, branch)`.
    */
  val WapBranchConf = "spark.graft.wap.branch"

  private def branchRefFile(basePath: String, name: String): Path = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"branch name '$name' must be non-empty [A-Za-z0-9._-]")
    require(!name.forall(_.isDigit),
      s"branch name '$name' is all digits — it would shadow numeric " +
        "commit versions; pick a name with a non-digit character")
    new Path(new Path(basePath, RefsDir), s"branch-$name")
  }

  /** Where a branch's staged manifests live — OUTSIDE [[ManifestDir]],
    * so main's liveness, conflict scans, history and vacuum never see
    * them; the branch read path composes them explicitly.
    */
  private def branchManifestDir(basePath: String, name: String): Path =
    new Path(new Path(new Path(basePath, RefsDir), "branches"), name)

  /** The table's branch names, sorted. O(refs) driver metadata. */
  def branchNames(basePath: String): Seq[String] = {
    val refs = new Path(basePath, RefsDir)
    val fs = refs.getFileSystem(LakeIO.conf)
    if (!fs.exists(refs)) Seq.empty
    else fs.listStatus(refs).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("branch-")).map(_.stripPrefix("branch-")).sorted
  }

  def branchExists(basePath: String, name: String): Boolean =
    try {
      val f = branchRefFile(basePath, name)
      f.getFileSystem(LakeIO.conf).exists(f)
    } catch { case _: IllegalArgumentException => false }

  /** Create a branch: pin the CURRENT live snapshot as its immutable
    * BASE (one JSON file, atomic fail-if-exists like [[createTag]]) and
    * open its empty staging area. The branch's view = base + staged
    * commits; staged commits are APPEND-ONLY (the WAP posture — row-level
    * rewrites stay on main). Branches are vacuum retention roots until
    * dropped. Returns the pinned base.
    */
  def createBranch(basePath: String, name: String): Seq[String] = {
    val file = branchRefFile(basePath, name)
    val fs = file.getFileSystem(LakeIO.conf)
    if (fs.exists(file)) throw new IllegalArgumentException(
      s"branch '$name' already exists on $basePath — drop_branch first " +
        "or fast_forward it")
    // an EMPTY base is legal (unlike a tag, which pins a snapshot): a
    // brand-new table's first commits are a legitimate thing to stage —
    // fast_forward then requires main to still be empty
    val snap = liveManifests(basePath)
    writeRef(file, snap,
      s"branch '$name' already exists on $basePath (lost a concurrent create)")
    snap
  }

  /** The MAIN manifest set a branch was forked from — loud on an unknown
    * name, listing the table's branches.
    */
  def readBranchBase(basePath: String, name: String): Seq[String] = {
    val file = branchRefFile(basePath, name)
    val fs = file.getFileSystem(LakeIO.conf)
    if (!fs.exists(file)) throw new IllegalArgumentException(
      s"unknown branch '$name' on $basePath — existing branches: " +
        s"[${branchNames(basePath).mkString(", ")}]")
    readRef(file)
  }

  /** Names of a branch's staged manifests (its own commit history). */
  def branchManifestNames(basePath: String, name: String): Seq[String] = {
    val dir = branchManifestDir(basePath, name)
    val fs = dir.getFileSystem(LakeIO.conf)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("manifest-")).sorted
  }

  /** The staged commits' data FILES — [[branchEntryLines]] sans stats. */
  def branchFiles(basePath: String, name: String): Seq[String] =
    branchEntryLines(basePath, name).map(entryPath)

  /** The staged commits' data ENTRY LINES (path, or path + tab + stats)
    * — what a branch read appends to its base's lines, stats intact.
    */
  def branchEntryLines(basePath: String, name: String): Seq[String] = {
    val dir = branchManifestDir(basePath, name)
    val fs = dir.getFileSystem(LakeIO.conf)
    branchManifestNames(basePath, name)
      .flatMap(n => readLines(fs, new Path(dir, n)))
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** Stage one append on a branch: the manifest publishes into the
    * branch's OWN directory (one atomic rename — invisible to main's
    * liveness by construction), creating the branch at the live
    * snapshot first if this is its first write (Iceberg's wap.branch
    * behavior). Payload uniformity gates exactly like a main publish.
    */
  def branchCommit(basePath: String, name: String, jobId: String,
      lines: Seq[String], payload: Option[String] = None): Unit = {
    if (!branchExists(basePath, name)) createBranch(basePath, name)
    val declared = payload.getOrElse("json")
    val names = manifestNames(basePath)
    lazy val actual = payloadOf(basePath, names)
    if (names.nonEmpty && declared != actual)
      throw new IllegalStateException(
        s"WeatherLakeV2Sink: refusing to stage a '$declared'-payload " +
          s"branch commit on the lake at $basePath whose commits hold " +
          s"'$actual' data files")
    val dir = branchManifestDir(basePath, name)
    val fs = dir.getFileSystem(LakeIO.conf)
    fs.mkdirs(dir)
    val tmp = new Path(dir,
      s".manifest-$jobId.${UUID.randomUUID().toString}.tmp")
    val out = LakeIO.newOutput(fs, tmp, true)
    try {
      val version = if (payload.isDefined) 2 else FormatVersion
      out.write(s"$FormatPrefix$version\n".getBytes("UTF-8"))
      payload.foreach(p => out.write(s"$PayloadPrefix$p\n".getBytes("UTF-8")))
      out.write(s"${OpPrefix}branchappend\n".getBytes("UTF-8"))
      lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    } finally out.close()
    val dest = new Path(dir, s"manifest-$jobId.txt")
    if (!fs.rename(tmp, dest)) {
      if (!fs.exists(dest))
        throw new java.io.IOException(
          s"WeatherLakeV2Sink: failed to stage branch manifest $dest")
      fs.delete(tmp, false) // same-jobId replay already published
    }
  }

  /** PUBLISH a branch (Iceberg `fast_forward('main', branch)`): ONE
    * atomic main commit re-lists every staged entry line verbatim
    * (stats intact). Inside the publish lock, main's live set must be
    * EXACTLY the branch's base — strict ancestry, the Iceberg
    * fast-forward contract: any main commit since the fork (data,
    * row-level DML, even layout-only maintenance, which rewrites
    * manifest identity) refuses loudly, and the fix is re-creating the
    * branch from the current state. A second fast_forward of the same
    * branch refuses the same way (the first one's commit advanced
    * main). Returns the number of published entry lines; a branch with
    * nothing staged publishes nothing.
    */
  def fastForward(basePath: String, name: String): Int = {
    val base = readBranchBase(basePath, name)
    val lines = branchEntryLines(basePath, name)
    if (lines.isEmpty) return 0
    val fmt = payloadFormat(basePath)
    publishCommit(basePath, "fastforward", snapshot = base,
      supersedes = Seq.empty, lines = lines,
      payload = if (fmt == "json") None else Some(fmt),
      requireLiveExactly = Some(base.toSet))
    lines.size
  }

  /** Drop a branch: delete its ref and staged manifests. The staged
    * DATA files (if never fast-forwarded) become true orphans —
    * [[sweepOrphans]]' age-guarded walk reclaims them. Returns whether
    * the branch existed.
    */
  def dropBranch(basePath: String, name: String): Boolean = {
    val file = branchRefFile(basePath, name)
    val fs = file.getFileSystem(LakeIO.conf)
    val existed = fs.delete(file, false)
    fs.delete(branchManifestDir(basePath, name), true)
    existed
  }

  /** The active WAP staging branch of `basePath`, when the session conf
    * names one — raw conf value, NOT gated on existence: the guard
    * sites must refuse even before the first staged write creates the
    * ref.
    */
  private[sources] def activeWapBranch(): Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get(WapBranchConf, null)))
      .map(_.trim).filter(_.nonEmpty)

  /** Reclaim TRUE orphans — data files referenced by NO manifest at all:
    * the attempts that died between task commit and job commit, the
    * exactly-once race losers, and failed rolling-writer tasks. [[vacuum]]
    * cannot reach these (it walks superseded manifests' file lists; an
    * orphan is in no list), so this is the complementary sweep: list the
    * lake tree, subtract every manifest-referenced path (live AND
    * superseded — superseded files are vacuum's job, with its own
    * age/tombstone discipline), delete unreferenced data files older than
    * `minAgeMs`. The age guard is MANDATORY here: a write job's files are
    * unreferenced until its job-commit rename, so sweeping younger than
    * the longest plausible job runtime would destroy in-flight work.
    * Hidden files (dot-prefixed: in-progress tmp, cursors) are never
    * touched. O(tree listing) driver metadata — run it with maintenance,
    * not per query.
    */
  def sweepOrphans(basePath: String, minAgeMs: Long): Int = {
    require(minAgeMs > 0,
      "sweepOrphans needs a positive age guard: unreferenced-but-young " +
        "files may belong to an in-flight write job")
    val fs = new Path(basePath).getFileSystem(LakeIO.conf)
    val mdir = new Path(basePath, ManifestDir)
    // branch-STAGED files are referenced by branch manifests only (they
    // live outside the main manifest dir) — an un-published branch's
    // data must survive the sweep until drop_branch orphans it for real
    val branchLines = branchNames(basePath)
      .flatMap(n => branchEntryLines(basePath, n))
    val referenced = (manifestNames(basePath)
      .flatMap(n => readLines(fs, new Path(mdir, n))) ++ branchLines)
      .flatMap(l =>
        // data entry lines, #changes and #mordelete directives all pin
        // their files (a live manifest's change log / delete file is not
        // an orphan)
        if (l.startsWith(ChangesPrefix)) changePaths(Seq(l))
        else if (l.startsWith(MorDeletePrefix)) morDeletePaths(Seq(l))
        else if (l.nonEmpty && !l.startsWith("#")) Seq(entryPath(l))
        else Seq.empty)
      .map(l => new Path(l).toUri.getPath)
      .toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // the underscore namespace is METADATA (manifests, named refs, the
    // catalog marker _lake_table.json): referenced by NAME, not by entry
    // lines, so the orphan rule does not apply — sweeping them would
    // destroy the table's registration or its refs. The two exceptions
    // hold data-like ARTIFACTS whose live members are directive-
    // referenced (change logs, mor delete files): their orphans (aborted
    // jobs' leftovers) are exactly what this sweep exists to reclaim.
    val artifactDirs = Set("_changes", TypedLake.MorDeleteDir)
    def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(".")) Seq.empty
        else if (name.startsWith("_") &&
          !(st.isDirectory && artifactDirs(name))) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    val victims = walk(new Path(basePath)).filter { st =>
      !referenced(st.getPath.toUri.getPath) &&
        st.getModificationTime < cutoff
    }
    victims.foreach(st => fs.delete(st.getPath, false))
    victims.size
  }

  final case class FilesWritten(paths: Seq[String]) extends WriterCommitMessage

  /** The DSv2 writer factory of every lake write face, batch and
    * streaming, classic and typed: each task drives one
    * [[PayloadCodec.TaskWriter]] of `codec`, commits its entry lines as
    * [[FilesWritten]], and deletes its files on abort.
    */
  class LakeWriterFactory private[sources] (codec: PayloadCodec)
      extends DataWriterFactory with StreamingDataWriterFactory {
    /** The classic (JSON-line) append factory. */
    def this(path: String, statsFields: Seq[String] = Seq.empty) =
      this(PayloadCodec.JsonLines(path, statsFields, byPartition = true))

    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val w = codec.taskWriter(codec.appendOp(partitionId, taskId))
        override def write(row: InternalRow): Unit = w.write(row)
        override def commit(): WriterCommitMessage = FilesWritten(w.closeAll())
        override def abort(): Unit = w.abortAll()
        override def close(): Unit = ()
      }

    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      createWriter(partitionId, taskId)
  }

  /** Per-file accumulator for one stats field: tracks lexical AND numeric
    * min/max; at flush the field is numeric iff every observed value
    * parsed as a double. Absent/null values don't widen the range (sound
    * for range predicates — null never satisfies one).
    */
  /** `forceDomain` pins the comparison domain by the DECLARED column type
    * (typed tables): Some(true) = numeric stats (falls back to lexical if
    * a value defensively fails to parse), Some(false) = lexical stats even
    * when every value happens to parse as a number — a STRING column
    * compares lexically at runtime, so numeric-ordered min/max endpoints
    * would be unsound for its pruning. None = infer by parsing (classic
    * JSON-field stats, where the stored value has no declared type).
    */
  private[sources] class FieldAcc(forceDomain: Option[Boolean] = None) {
    var seen = false
    var allNum = forceDomain.getOrElse(true)
    var poisoned = false
    var lexMin: String = _; var lexMax: String = _
    var numMin = 0.0; var numMax = 0.0
    def add(v: String): Unit = {
      if (!seen) { lexMin = v; lexMax = v } else {
        if (v < lexMin) lexMin = v
        if (v > lexMax) lexMax = v
      }
      if (allNum) v.toDoubleOption match {
        case Some(d) if d.isNaN =>
          // NaN poisons a numeric range BOTH ways: it never updates
          // min/max (every NaN comparison is false, so a NaN-first file
          // would freeze the range at NaN), yet in the ENGINE's ordering
          // NaN is greater than everything and NaN = NaN holds — a
          // predicate like `x >= 100` or `x = double('NaN')` matches NaN
          // rows that no finite min/max can witness. No sound endpoint
          // exists: emit NO stats for this field (fail open, the
          // keep-rule of all pruning here).
          poisoned = true
        case Some(d) =>
          if (!seen) { numMin = d; numMax = d } else {
            if (d < numMin) numMin = d
            if (d > numMax) numMax = d
          }
        case None => allNum = false
      }
      seen = true
    }
    def stats: Option[FieldStats] =
      if (!seen || (allNum && poisoned)) None
      else if (allNum) Some(FieldStats(numMin.toString, numMax.toString, numeric = true))
      else Some(FieldStats(lexMin, lexMax, numeric = false))
  }

  /** Minimal top-level scalar extraction from a JSON object line — the
    * stats collector's hot loop, deliberately allocation-light (no tree
    * parse per row). Returns the UNQUOTED string for string values, the
    * raw token for numbers/booleans, None for absent/null/structured
    * values. Nested objects may shadow a key textually; for the flat
    * payloads this sink carries (the reference's flattened weather rows)
    * top-level fields are found exactly.
    */
  private[sources] def extractJsonField(json: String, field: String): Option[String] = {
    val needle = "\"" + field + "\""
    var from = 0
    while (true) {
      val i = json.indexOf(needle, from)
      if (i < 0) return None
      var j = i + needle.length
      while (j < json.length && (json(j) == ' ' || json(j) == '\t')) j += 1
      if (j < json.length && json(j) == ':') {
        j += 1
        while (j < json.length && (json(j) == ' ' || json(j) == '\t')) j += 1
        if (j >= json.length) return None
        if (json(j) == '"') {
          val sb = new StringBuilder
          j += 1
          while (j < json.length && json(j) != '"') {
            if (json(j) == '\\' && j + 1 < json.length) {
              // full JSON escape set — a mangled \uXXXX (appending the
              // letter 'u' literally) would corrupt min/max and make
              // stats pruning silently drop files with matching rows
              json(j + 1) match {
                case 'n' => sb.append('\n'); j += 2
                case 't' => sb.append('\t'); j += 2
                case 'r' => sb.append('\r'); j += 2
                case 'b' => sb.append('\b'); j += 2
                case 'f' => sb.append('\f'); j += 2
                case 'u' if j + 5 < json.length =>
                  try {
                    sb.append(Integer.parseInt(json.substring(j + 2, j + 6), 16).toChar)
                    j += 6
                  } catch { case _: NumberFormatException =>
                    // malformed escape: give up on stats for this value
                    // rather than record a corrupted one
                    return None
                  }
                case 'u' => return None // truncated \uXXXX
                case c => sb.append(c); j += 2 // \" \\ \/
              }
            } else { sb.append(json(j)); j += 1 }
          }
          return Some(sb.toString)
        } else if (json(j) == '{' || json(j) == '[') return None
        else {
          val end0 = json.indexWhere(c => c == ',' || c == '}' || c == ' ', j)
          val end = if (end0 < 0) json.length else end0
          val tok = json.substring(j, end).trim
          return if (tok == "null" || tok.isEmpty) None else Some(tok)
        }
      } else from = i + needle.length // matched inside a value; keep looking
    }
    None
  }
}
