package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** READ face of the manifest lake — the lake as a Structured Streaming
  * source (the Delta-streaming-source shape) AND as a DSv2 batch table,
  * completing the connector triangle: [[WeatherLakeV2Sink]] writes it,
  * this reads it (batch = the manifest-gated committed view, exactly
  * `readCommitted`'s rows through the connector path — so SQL
  * `CREATE TEMPORARY VIEW … USING` works too), and streams it.
  *
  * {{{
  * spark.readStream.format("graft.sources.WeatherLakeV2StreamSource")
  *   .load(lakePath)                       // value: raw JSON line
  *   .writeStream...trigger(Trigger.AvailableNow())...
  *
  * spark.read.format("graft.sources.WeatherLakeV2StreamSource")
  *   .load(lakePath)                       // batch: committed view
  * }}}
  *
  * The unit of streaming progress is the COMMITTED MANIFEST, exactly like
  * the batch cursor reader (`readNewCommits`): an offset is the set of
  * manifest names already consumed, a micro-batch is the data files of
  * live manifests not yet in the offset, and a reader therefore never
  * sees half a write job. Layout-only maintenance (compact / checkpoint
  * / measure) re-lists rows the stream may already hold: when EVERY
  * manifest the commit superseded is in the stream's consumed set, the
  * re-list is exactly the delivered rows and contributes NOTHING
  * (exactly-once across maintenance for caught-up streams —
  * spec-pinned); a partially-caught-up stream receives the full re-list
  * (at-least-once, idempotent for keyed upsert consumers — the
  * fallback); a stream starting fresh reads each row exactly once from
  * the maintained view, because superseded manifests are excluded from
  * every batch.
  *
  * Set-valued offsets rather than an index into the history: vacuum
  * DELETES old manifests, so positional offsets would shift under a
  * restarted query, while name-sets stay stable (a consumed name that
  * vacuum reclaimed simply stays in the set). O(manifests) driver
  * metadata per trigger — the same planning cost class as the cursor
  * reader, with the data files themselves read distributed, one task per
  * file.
  */
class WeatherLakeV2StreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("readChangeFeed", false))
      WeatherLakeV2StreamSource.CdcSchema
    else WeatherLakeV2StreamSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    if (path == null || path.trim.isEmpty) throw new IllegalArgumentException(
      "WeatherLakeV2StreamSource: required option 'path' is missing " +
        "(use .load(<path>))")
    new WeatherLakeV2StreamSource.LakeStreamTable(path,
      cdc = java.lang.Boolean.parseBoolean(
        Option(properties.get("readChangeFeed")).getOrElse("false")))
  }
}

object WeatherLakeV2StreamSource {
  /** One raw lake line per row, like `readCommitted`. */
  val Schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))

  /** The `readChangeFeed` row shape: insert / delete / update_preimage /
    * update_postimage plus the raw line (matching `changesBetween`), and
    * the originating commit's identity — `commit` (manifest name) and
    * `commit_ts` (its publish mtime, millis). One micro-batch may carry
    * SEVERAL commits' deltas; a consumer applying per-key state orders
    * by (commit_ts, commit), the Delta `_commit_version` role.
    */
  val CdcSchema: StructType = StructType(Seq(
    StructField("change", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("commit_ts", org.apache.spark.sql.types.LongType,
      nullable = false)))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Driver-side scan pruning for the streaming and CDC read paths —
    * the same two fail-open skipping legs the batch face has
    * (`committedFilesPruned` / `committedFilesPrunedByStats`), expressed
    * as read OPTIONS so selective stream consumers (one city's pipeline,
    * a range-bounded CDC apply) never open files that cannot match:
    *
    *  - `prunePartition 'city=a,ds=2024-01-01'` — keep only files whose
    *    path-encoded partition values match every listed pair; files
    *    without partition values always survive;
    *  - `pruneField 'v'` + `pruneMin`/`pruneMax` — keep only files whose
    *    per-file stats for the field overlap [min, max]; files without
    *    stats (or without that field measured) always survive. Change-log
    *    files carry stats too (the `#changes` payload is a full entry
    *    line), so the CDC scan prunes them identically.
    *
    * Pruning only SKIPS what cannot match — progress semantics are
    * untouched (whole manifests are still consumed; the options choose
    * which of a commit's files are OPENED), and row parity holds: the
    * pruned stream equals the unpruned stream filtered by the same
    * predicate (spec-pinned).
    */
  final case class ScanPrune(partition: Map[String, String],
      field: Option[String], min: Option[String], max: Option[String]) {
    def keepLine(basePath: String, line: String): Boolean = {
      val p = WeatherLakeV2Sink.entryPath(line)
      val pv = WeatherLakeV2Sink.partitionValues(basePath, p)
      val pvOk = pv.isEmpty ||
        partition.forall { case (k, v) => pv.get(k).forall(_ == v) }
      val st = WeatherLakeV2Sink.lineStats(line)
      val stOk = field.forall(f => st.get(f).forall(_.overlaps(min, max)))
      pvOk && stOk
    }
    def isNoop: Boolean = partition.isEmpty && field.isEmpty
  }

  /** The streaming read options shared by the view face and the catalog
    * face: (maxManifestsPerTrigger, startingAt=latest). One parser so
    * the two faces cannot drift in accepted inputs or error text.
    */
  private[sources] def parseStreamOptions(
      options: CaseInsensitiveStringMap): (Option[Int], Boolean) = {
    val cap = Option(options.get("maxManifestsPerTrigger")).map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"maxManifestsPerTrigger must be a positive integer, got '$v'"))
    }
    val startLatest = Option(options.get("startingAt"))
      .getOrElse("earliest") match {
        case "earliest" => false
        case "latest" => true
        case other => throw new IllegalArgumentException(
          s"startingAt must be 'earliest' or 'latest', got '$other'")
      }
    (cap, startLatest)
  }

  private[sources] def parsePrune(options: CaseInsensitiveStringMap): ScanPrune = {
    val partition = Option(options.get("prunePartition"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i <= 0) throw new IllegalArgumentException(
          s"prunePartition expects 'k=v[,k=v...]', got '$kv'")
        kv.take(i) -> kv.drop(i + 1)
      }.toMap)
      .getOrElse(Map.empty[String, String])
    val field = Option(options.get("pruneField"))
    val min = Option(options.get("pruneMin"))
    val max = Option(options.get("pruneMax"))
    if (field.isEmpty && (min.nonEmpty || max.nonEmpty))
      throw new IllegalArgumentException(
        "pruneMin/pruneMax need pruneField to name the stats field")
    if (field.nonEmpty && min.isEmpty && max.isEmpty)
      throw new IllegalArgumentException(
        "pruneField needs pruneMin and/or pruneMax to bound the range")
    ScanPrune(partition, field, min, max)
  }

  /** The set of manifest names this stream has consumed. */
  final case class LakeOffset(consumed: Set[String]) extends Offset {
    override def json(): String = {
      val arr = mapper.createArrayNode()
      consumed.toSeq.sorted.foreach(arr.add)
      mapper.writeValueAsString(arr)
    }
  }

  private[sources] def offsetFromJson(json: String): LakeOffset = {
    val node = mapper.readTree(json)
    val names = Set.newBuilder[String]
    node.forEach(n => names += n.asText())
    LakeOffset(names.result())
  }

  class LakeStreamTable(val path: String, val cdc: Boolean = false)
      extends Table with SupportsRead {
    override def name(): String = s"weather_lake_stream($path)"
    override def schema(): StructType = if (cdc) CdcSchema else Schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with Scan {
        // the view face reads JSON text lines; a typed (Parquet-payload)
        // lake must be read through its catalog table, never as text
        WeatherLakeV2Sink.requirePayload(path, "json",
          "the lake view (WeatherLakeV2StreamSource)")
        override def build(): Scan = this
        override def readSchema(): StructType = if (cdc) CdcSchema else Schema
        // batch face: the manifest-gated committed view resolved at
        // PLANNING time (one task per committed file) — a job that dies
        // mid-commit stays invisible here exactly as in readCommitted.
        // TIME TRAVEL is a read option, so plain SQL reaches it through
        // CREATE TEMPORARY VIEW ... USING ... OPTIONS:
        //   snapshotVersion 'N'          — version N of the commit
        //                                  history (snapshotAt)
        //   asOfManifests 'a.txt,b.txt'  — an explicitly captured
        //                                  manifest set (filesAsOf)
        // Both honor supersedes within the pinned set and fail loudly
        // past the vacuum horizon, exactly like readAsOf.
        // batch CHANGE-FEED face — the `table_changes(tbl, start, end)`
        // role, reachable from plain SQL via CREATE TEMPORARY VIEW ...
        // OPTIONS (readChangeFeed 'true', startingVersion 'N'
        // [, endingVersion 'M']): per-commit classified changes of the
        // INCLUSIVE version range over the commit history (the same
        // axis as snapshotVersion), routed exactly like the streaming
        // feed — appends as inserts, row-level commits via their change
        // logs (loud without one), layout-only commits contributing
        // nothing. Only the range's commits are opened: O(changed
        // commits) IO, never O(table). Incoherent ranges fail loudly.
        private def cdcBatch(options: CaseInsensitiveStringMap): Batch = new Batch {
          private val partitions: Array[InputPartition] = {
            def version(name: String): Option[Int] =
              Option(options.get(name)).map { v =>
                v.toIntOption.getOrElse(throw new IllegalArgumentException(
                  s"$name must be an integer, got '$v'"))
              }
            val history = WeatherLakeV2Sink.manifestHistory(path)
            // the version axis is POSITIONAL over present manifests: once
            // vacuum reclaims a superseded commit, version numbers shift
            // and the reclaimed commit's changes are unrecoverable — a
            // range over such a history would silently misattribute or
            // drop changes. Same loud contract as the streaming feed's
            // earliest bootstrap.
            val log = WeatherLakeV2Sink.loadSnapshot(path)
            if (log.reclaimed.nonEmpty) throw new IllegalStateException(
              "batch readChangeFeed: the commit history was vacuumed " +
                s"(superseded commits ${log.reclaimed.mkString(", ")} were " +
                "reclaimed), so positional versions no longer denote " +
                "the original commits and the reclaimed changes are " +
                "unrecoverable. Read the live snapshot, or stream the " +
                "feed with startingAt = 'latest'.")
            val start = version("startingVersion").getOrElse(
              throw new IllegalArgumentException(
                "batch readChangeFeed requires startingVersion (the " +
                  "table_changes range start); streaming reads may omit it"))
            val end = version("endingVersion").getOrElse(history.size - 1)
            if (start < 0 || end >= history.size || start > end)
              throw new IllegalArgumentException(
                s"batch readChangeFeed: incoherent version range " +
                  s"[$start, $end] over a history of ${history.size} " +
                  s"commits (valid versions: 0..${history.size - 1}, " +
                  "start <= end)")
            val fs = new Path(path).getFileSystem(LakeIO.conf)
            val mdir = new Path(path, WeatherLakeV2Sink.ManifestDir)
            val prune = parsePrune(options)
            val keep: String => Boolean =
              if (prune.isNoop) _ => true else prune.keepLine(path, _)
            history.slice(start, end + 1).flatMap { n =>
              val commitTs = fs.getFileStatus(new Path(mdir, n))
                .getModificationTime
              cdcPartitions(n, commitTs, log.lines(n), keep)
            }.toArray
          }
          override def planInputPartitions(): Array[InputPartition] = partitions
          override def createReaderFactory(): PartitionReaderFactory =
            new LakeCdcFileReaderFactory
        }

        override def toBatch: Batch = if (cdc) cdcBatch(options) else new Batch {
          private val files = {
            val asOf = Option(options.get("asOfManifests"))
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .map(ns => WeatherLakeV2Sink.filesAsOf(path, ns))
            val atVersion = Option(options.get("snapshotVersion")).map { v =>
              val n = v.toIntOption.getOrElse(
                throw new IllegalArgumentException(
                  s"snapshotVersion must be an integer, got '$v'"))
              WeatherLakeV2Sink.filesAsOf(path,
                WeatherLakeV2Sink.snapshotAt(path, n))
            }
            require(asOf.isEmpty || atVersion.isEmpty,
              "asOfManifests and snapshotVersion are mutually exclusive")
            asOf.orElse(atVersion)
              .getOrElse(WeatherLakeV2Sink.committedFiles(path))
              .sorted.toArray
          }
          override def planInputPartitions(): Array[InputPartition] =
            files.map(LakeFilePartition(_): InputPartition)
          override def createReaderFactory(): PartitionReaderFactory =
            new LakeFileReaderFactory
        }
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val (cap, startLatest) = parseStreamOptions(options)
          new LakeMicroBatchStream(path, cap, cdc, startLatest,
            parsePrune(options))
        }
      }
  }

  /** Micro-batch stream over the lake's manifest history.
    *
    * Admission control: `maxManifestsPerTrigger` caps how many NEW
    * manifests each micro-batch admits (the Delta `maxFilesPerTrigger`
    * move) — without it a stream started over a year-old lake would plan
    * the entire backlog as one giant batch. The cap is surfaced through
    * [[getDefaultReadLimit]] so the engine's admission path sees it.
    *
    * `Trigger.AvailableNow` is supported natively: the live manifest set
    * is SNAPSHOTTED at [[prepareForTriggerAvailableNow]], the stream
    * drains to exactly that set (in cap-sized batches when a cap is set)
    * and terminates — commits landing after query start wait for the next
    * run, matching the trigger's contract instead of the engine's
    * single-batch fallback, which both ignores the cap and can miss a
    * batch published between planning and execution.
    */
  class LakeMicroBatchStream(path: String,
      maxManifestsPerTrigger: Option[Int] = None,
      cdc: Boolean = false,
      startLatest: Boolean = false,
      prune: ScanPrune = ScanPrune(Map.empty, None, None, None))
      extends MicroBatchStream with SupportsTriggerAvailableNow {
    /** `startingAt = latest` marks everything already committed as
      * consumed at FIRST start (the Delta `startingVersion = latest`
      * move — a change-feed consumer usually wants future commits, not
      * a genesis replay). The engine checkpoints this offset, so
      * restarts resume from it rather than re-evaluating "latest".
      *
      * A fresh EARLIEST change-feed bootstrap additionally requires the
      * COMPLETE commit chain: every manifest named in a `#supersedes`
      * directive must still be present, because the feed reconstructs
      * state from the original commits — a layout-only checkpoint or
      * compact manifest re-lists rows but contributes no changes, so if
      * vacuum already reclaimed the commits it superseded, a fresh
      * stream would silently deliver NOTHING (or a partial history) for
      * a non-empty table. Fail loudly instead (Delta's
      * CDF-start-before-retention error): start at `latest`, or
      * bootstrap from a snapshot read plus `startingAt = latest`.
      */
    override def initialOffset(): Offset = {
      if (cdc && !startLatest) {
        val missing = WeatherLakeV2Sink.loadSnapshot(path).reclaimed
        if (missing.nonEmpty) throw new IllegalStateException(
          "WeatherLakeV2StreamSource: readChangeFeed from 'earliest' " +
            "predates the vacuum horizon — superseded commits " +
            s"${missing.mkString(", ")} were reclaimed, so the feed " +
            "cannot reconstruct the table's history. Start with " +
            "startingAt = 'latest' (bootstrapping state from a snapshot " +
            "read) instead.")
      }
      LakeOffset(if (startLatest) targetSet else Set.empty)
    }

    // fixed at query start under AvailableNow: the drain target
    @volatile private var availableNowTarget: Option[Set[String]] = None

    /** The stream's progress axis. Plain reads follow the LIVE set
      * (superseded manifests never enter an offset, so a fresh stream
      * over a compacted lake reads each row once). The CHANGE FEED
      * follows EVERY manifest — the commit log: an append superseded by
      * a compaction before the stream saw it must still deliver its
      * inserts (the compact commit itself contributes nothing), exactly
      * Delta's version-ordered CDC axis. Its data files survive until
      * vacuum; size vacuum's age guard above the stream lag.
      */
    private def targetSet: Set[String] =
      if (cdc) WeatherLakeV2Sink.manifestNames(path).toSet
      else WeatherLakeV2Sink.liveManifests(path).toSet

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowTarget = Some(targetSet)

    override def getDefaultReadLimit: ReadLimit =
      maxManifestsPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

    override def latestOffset(): Offset = LakeOffset(targetSet)

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val consumed = start.asInstanceOf[LakeOffset].consumed
      val target = availableNowTarget.getOrElse(targetSet)
      // stable admission order so a capped drain's batch boundaries
      // reproduce across restarts: by name for plain reads; the change
      // feed admits in COMMIT order (publish mtime, name tiebreak) so
      // deltas never apply ahead of earlier commits they depend on
      val fresh =
        if (cdc) commitOrdered((target -- consumed).toSeq).map(_._1)
        else (target -- consumed).toSeq.sorted
      val admitted = limit match {
        case f: ReadMaxFiles => fresh.take(f.maxFiles())
        case _: ReadAllAvailable => fresh
        case other => throw new UnsupportedOperationException(
          s"WeatherLakeV2StreamSource: unsupported read limit $other")
      }
      LakeOffset(consumed ++ admitted)
    }

    /** (name, publish mtime) in commit order; a name vacuum reclaimed
      * mid-plan fails loudly below, not here.
      */
    private def commitOrdered(names: Seq[String]): Seq[(String, Long)] = {
      val fs = new Path(path).getFileSystem(LakeIO.conf)
      val mdir = new Path(path, WeatherLakeV2Sink.ManifestDir)
      names.map { n =>
        val p = new Path(mdir, n)
        (n, if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L)
      }.sortBy { case (n, ts) => (ts, n) }
    }

    override def deserializeOffset(json: String): Offset = offsetFromJson(json)

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val consumed = start.asInstanceOf[LakeOffset].consumed
      val fresh = end.asInstanceOf[LakeOffset].consumed -- consumed
      val fs = new Path(path).getFileSystem(LakeIO.conf)
      val mdir = new Path(path, WeatherLakeV2Sink.ManifestDir)
      fresh.toSeq.sorted.flatMap { n =>
        val commitTs = {
          val p = new Path(mdir, n)
          if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
        }
        val p = new Path(mdir, n)
        // a manifest in the batch window that vacuum reclaimed mid-plan
        // would silently lose data — surface it loudly instead
        if (!fs.exists(p)) throw new IllegalStateException(
          s"WeatherLakeV2StreamSource: manifest $n was reclaimed before " +
            "the stream consumed it — vacuum outpaced the reader")
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        WeatherLakeV2Sink.checkFormatVersion(n, lines)
        val keep: String => Boolean =
          if (prune.isNoop) _ => true else prune.keepLine(path, _)
        if (!cdc) {
          // a LAYOUT-ONLY commit (compact/checkpoint/measure) re-lists
          // rows the stream may already have delivered. When every
          // manifest it superseded is in this stream's consumed set, the
          // re-listed rows are EXACTLY the already-delivered ones —
          // contribute nothing (exactly-once across maintenance for
          // caught-up streams). A partially-caught-up stream still
          // receives the full re-list (at-least-once, keyed consumers
          // idempotent — the old contract as the fallback), and a fresh
          // stream reads the re-list as its one copy of the data.
          val op = opOf(n, lines)
          val layoutOnly =
            op == "compact" || op == "checkpoint" || op == "measure" ||
              op == "compactdel"
          val superseded = lines
            .filter(_.startsWith(WeatherLakeV2Sink.SupersedesPrefix))
            .map(_.stripPrefix(WeatherLakeV2Sink.SupersedesPrefix).trim)
          if (layoutOnly && superseded.nonEmpty &&
              superseded.forall(consumed)) Seq.empty
          else lines.filter(l => l.nonEmpty && !l.startsWith("#"))
            .filter(keep)
            .map(l => LakeFilePartition(
              WeatherLakeV2Sink.entryPath(l)): InputPartition)
        }
        else cdcPartitions(n, commitTs, lines, keep)
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      if (cdc) new LakeCdcFileReaderFactory else new LakeFileReaderFactory

    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  /** CHANGE-FEED routing of one commit, by the manifest's declared
    * operation (the `#op` directive — authoritative; the name prefix is
    * only the fallback for pre-directive manifests, so a user append
    * whose manifestId merely LOOKS like `compact-x` can no longer
    * silently contribute nothing, nor a `merge-x` one make the stream
    * throw). Shared by the streaming change feed and the batch
    * `table_changes`-style version-range face:
    *  - layout-only maintenance (compact/checkpoint re-list the same
    *    rows under new paths) contributes NO changes;
    *  - row-level maintenance ships its classified change log
    *    (#changes directives, atomic with the commit) — without one the
    *    delta is unrecoverable from the manifest alone, so fail loudly
    *    rather than replay re-listed survivors as phantom inserts;
    *  - anything else is an append: its data files ARE the inserts.
    */
  /** A manifest's operation: the `#op` directive (authoritative), the
    * name-prefix convention for pre-directive manifests, else append.
    */
  private[sources] def opOf(n: String, lines: Seq[String]): String =
    WeatherLakeV2Sink.manifestOp(lines).getOrElse {
      Seq("compact", "checkpoint", "measure", "merge", "delete", "update",
          "overwrite")
        .find(o => n.startsWith(s"manifest-$o-")).getOrElse("append")
    }

  private[sources] def cdcPartitions(n: String, commitTs: Long,
      lines: Seq[String],
      keep: String => Boolean = _ => true): Seq[InputPartition] = {
    val changeLines = WeatherLakeV2Sink.changeEntryLines(lines)
    val op = opOf(n, lines)
    val layoutOnly = op == "compact" || op == "checkpoint" ||
      op == "measure" || op == "compactdel"
    val rowLevel = op == "merge" || op == "delete" || op == "update"
    if (layoutOnly) Seq.empty
    else if (changeLines.nonEmpty)
      // the change-log presence check precedes pruning: a fully-pruned
      // logged commit contributes nothing, it does not become "un-logged"
      changeLines.filter(keep).map(l =>
        LakeCdcFilePartition(WeatherLakeV2Sink.entryPath(l),
          insertData = false, commit = n, commitTs = commitTs): InputPartition)
    else if (rowLevel && WeatherLakeV2Sink.hasEmptyChangeLog(lines))
      // logged-and-empty (idempotent replay, identity transform): the
      // commit contributes nothing — it is NOT un-logged
      Seq.empty
    else if (rowLevel) throw new IllegalStateException(
      s"WeatherLakeV2StreamSource: $n is a row-level maintenance " +
        "commit without a change log — run the operation with " +
        "changeLog = true, or consume readNewChanges instead")
    else if (op == "overwrite" || op == "rollback") throw new IllegalStateException(
      s"WeatherLakeV2StreamSource: $n replaced the table wholesale (" +
        (if (op == "rollback") "RESTORE of an earlier snapshot"
         else "INSERT OVERWRITE") +
        ") and carries no row-level change log — its " +
        "delta is not representable in the feed. Restart the feed with " +
        "startingAt = 'latest' (bootstrapping state from a snapshot " +
        "read), or diff snapshots with changesBetween.")
    else lines.filter(l => l.nonEmpty && !l.startsWith("#")).filter(keep)
      .map(l => LakeCdcFilePartition(WeatherLakeV2Sink.entryPath(l),
        insertData = true, commit = n, commitTs = commitTs): InputPartition)
  }

  final case class LakeFilePartition(file: String) extends InputPartition

  /** A change-feed task: one file, emitted as (change, value, commit,
    * commit_ts) rows. `insertData = true` reads a plain DATA file of an
    * append commit (every line is an insert); false reads a `_changes/`
    * log file (lines are `<change>\t<raw line>`).
    */
  final case class LakeCdcFilePartition(file: String, insertData: Boolean,
      commit: String, commitTs: Long) extends InputPartition

  class LakeCdcFileReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[LakeCdcFilePartition]
      new PartitionReader[InternalRow] {
        private val fs = new Path(p.file).getFileSystem(LakeIO.conf)
        private val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(new Path(p.file)), "UTF-8"))
        private val commit = UTF8String.fromString(p.commit)
        private var line: String = _
        override def next(): Boolean = {
          line = reader.readLine()
          line != null
        }
        override def get(): InternalRow =
          if (p.insertData)
            InternalRow(UTF8String.fromString("insert"),
              UTF8String.fromString(line), commit, p.commitTs)
          else {
            val i = line.indexOf('\t')
            if (i < 0) throw new IllegalStateException(
              s"WeatherLakeV2StreamSource: malformed change-log line in " +
                s"${p.file}: '$line'")
            InternalRow(UTF8String.fromString(line.take(i)),
              UTF8String.fromString(line.drop(i + 1)), commit, p.commitTs)
          }
        override def close(): Unit = reader.close()
      }
    }
  }

  class LakeFileReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val file = partition.asInstanceOf[LakeFilePartition].file
      new PartitionReader[InternalRow] {
        private val fs = new Path(file).getFileSystem(LakeIO.conf)
        private val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(new Path(file)), "UTF-8"))
        private var line: String = _
        override def next(): Boolean = {
          line = reader.readLine()
          line != null
        }
        override def get(): InternalRow =
          InternalRow(UTF8String.fromString(line))
        override def close(): Unit = reader.close()
      }
    }
  }
}
