package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, SafeProjection, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.functions.{coalesce, col, concat, hash, lit, pmod, raise_error, udf}
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructType}

import WeatherLakeV2Sink.{FieldAcc, FieldStats, extractJsonField, statsToJson}

/** The PAYLOAD of a lake's data files behind one face: JSON lines for
  * classic tables (format v1), Parquet for typed ones (format v2).
  * Manifests, snapshots, the commit skeleton, pruning and the change feed
  * deal in file paths and entry lines, never in row bytes; a codec is the
  * one place that does:
  *  - WRITING: one executor-side [[PayloadCodec.TaskWriter]] per task
  *    (`write` / `closeAll` / `abortAll`). The DSv2 append faces drive it
  *    through [[WeatherLakeV2Sink.LakeWriterFactory]]; every rewrite
  *    (merge, delete, update, compact, change logs, mor delete files)
  *    drives it through [[write]]. Files are invisible until a manifest
  *    lists them, and a failed task deletes what it wrote.
  *  - MEASURING: per-file min/max of named fields for the stats backfill
  *    ([[WeatherLakeV2Sink.measureCommitted]]).
  */
private[graft] sealed trait PayloadCodec extends Serializable {
  /** The root every written file lands under. */
  def basePath: String

  /** The payload name ([[WeatherLakeV2Sink.payloadFormat]]'s values). */
  def payload: String

  /** A fresh writer for one task; `op` is stamped into every file name. */
  def taskWriter(op: String): PayloadCodec.TaskWriter

  /** The op token of a DSv2 append task's file names. */
  def appendOp(partitionId: Int, taskId: Long): String

  /** Per-file min/max of `fields` over `files`, keyed by entry path. */
  def measure(spark: SparkSession, files: Seq[String],
      fields: Seq[String]): Map[String, Map[String, FieldStats]]

  /** `rows` projected to the writer's input shape. */
  protected def aligned(rows: DataFrame): DataFrame

  /** The expressions rows are shuffled by, so each directory's (or
    * bucket's) rows meet in few tasks, and the shuffle's width when the
    * routing fixes it.
    */
  protected def route: Seq[Column]
  protected def routeWidth: Option[Int] = None

  /** The one write driver: route `rows` (sorted within each task by
    * `sortWithin` after the route, the OPTIMIZE ZORDER move — rolling a
    * sorted stream gives each file a tight value range), run one
    * [[PayloadCodec.TaskWriter]] per task, and return the written files'
    * MANIFEST ENTRY LINES. A task that fails deletes every file it
    * opened, so a failed rewrite leaves nothing of itself on disk.
    */
  final def write(rows: DataFrame, op: String,
      sortWithin: Seq[Column] = Nil): Seq[String] = {
    val a = aligned(rows)
    val routed = (route, routeWidth) match {
      case (Nil, _) if sortWithin.isEmpty => a
      case (Nil, _) => a.repartition(1)
      case (r, Some(n)) => a.repartition(n, r: _*)
      case (r, None) => a.repartition(r: _*)
    }
    writeTasks(
      if (sortWithin.isEmpty) routed
      else routed.sortWithinPartitions(route ++ sortWithin: _*), op)
  }

  /** [[write]] for rows whose partitioning already keeps each
    * directory's rows in few tasks (a scan of existing files, a small
    * local batch): no route shuffle, each task writes the rows it holds.
    */
  final def writeInPlace(rows: DataFrame, op: String): Seq[String] =
    writeTasks(aligned(rows), op)

  private def writeTasks(arranged: DataFrame, op: String): Seq[String] = {
    val codec = this
    arranged.queryExecution.toRdd.mapPartitions { it =>
      val w = codec.taskWriter(op)
      try {
        it.foreach(w.write)
        w.closeAll().iterator
      } catch { case e: Throwable => w.abortAll(); throw e }
    }.collect().toSeq // bounded: entry lines, O(written files) metadata
  }
}

private[graft] object PayloadCodec {

  /** JSON text lines, one raw payload per line (format v1). Rows are
    * `(dir, value)` — each line lands in its directory — or, for the DSv2
    * append faces (`byPartition`), the sink [[WeatherLakeV2Sink.Schema]]
    * routed to `city=/ds=/hour=` under `basePath`. Files roll at `targetBytes`;
    * `statsFields` are raw_json fields measured into each entry line.
    */
  final case class JsonLines(basePath: String,
      statsFields: Seq[String] = Nil,
      targetBytes: Long = Long.MaxValue,
      byPartition: Boolean = false) extends PayloadCodec {
    def payload: String = "json"
    def taskWriter(op: String): TaskWriter = new JsonTaskWriter(this, op)
    def appendOp(partitionId: Int, taskId: Long): String =
      s"$partitionId-$taskId"

    protected def aligned(rows: DataFrame): DataFrame =
      rows.select(col("dir"), col("value"))
    protected def route: Seq[Column] = Seq(col("dir"))

    /** One task per file runs the writer's accumulator ([[FieldAcc]] over
      * [[extractJsonField]]), so a backfilled file prunes exactly like a
      * write-time-measured one.
      */
    def measure(spark: SparkSession, files: Seq[String],
        fields: Seq[String]): Map[String, Map[String, FieldStats]] = {
      val fieldsB = fields.toIndexedSeq
      spark.sparkContext.parallelize(files, files.size).map { f =>
        val fs = new Path(f).getFileSystem(LakeIO.conf)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(new Path(f)), "UTF-8"))
        val accs = Array.fill(fieldsB.length)(new FieldAcc)
        try {
          var line = in.readLine()
          while (line != null) {
            var k = 0
            while (k < fieldsB.length) {
              extractJsonField(line, fieldsB(k)).foreach(accs(k).add)
              k += 1
            }
            line = in.readLine()
          }
        } finally in.close()
        f -> fieldsB.zip(accs).flatMap { case (fd, a) =>
          a.stats.map(fd -> _) }.toMap
      }.collect().toMap
    }
  }

  /** Parquet data files of a typed table: rows carry the table's columns
    * in declared order; partition columns become `k=v` directories
    * (Hive-escaped) and a `bucketSpec` routes each row to its hash
    * bucket's marked file. Files roll at `maxRecordsPerFile` (0 = never);
    * `statsFields` are measured from the typed values.
    */
  final case class Parquet(basePath: String, schema: StructType,
      partCols: Seq[String] = Nil, statsFields: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      bucketSpec: Option[(String, Int)] = None) extends PayloadCodec {
    def payload: String = TypedLake.Payload
    def taskWriter(op: String): TaskWriter = new ParquetTaskWriter(this, op)
    def appendOp(partitionId: Int, taskId: Long): String = "b"

    protected def aligned(rows: DataFrame): DataFrame =
      rows.select(schema.fieldNames.map(col).toSeq: _*)
    protected def route: Seq[Column] = bucketSpec match {
      case Some((c, n)) => Seq(pmod(hash(col(c)), lit(n)))
      case None => partCols.map(col)
    }
    override protected def routeWidth: Option[Int] = bucketSpec.map(_._2)

    /** ONE distributed min/max aggregation per file over the typed
      * columns, the comparison domain decided by the column TYPE.
      * Native values are rendered on the driver with the writer's exact
      * cast (`Cast(x AS STRING)`, zone pinned to UTC): a DataFrame-level
      * cast renders timestamps in the SESSION zone, which would put
      * backfilled endpoints in a different domain than write-time stats
      * and every UTC-pinned pruning face. Measured from file bytes,
      * mor-unresolved — sound, a superset's range bounds the live rows.
      */
    def measure(spark: SparkSession, files: Seq[String],
        fields: Seq[String]): Map[String, Map[String, FieldStats]] = {
      import org.apache.spark.sql.functions.{max, min}
      val numericOf = fields.map(f =>
        f -> schema(f).dataType.isInstanceOf[NumericType]).toMap
      val aggs = fields.flatMap(f => Seq(
        min(col(f)).as(s"__min_$f"), max(col(f)).as(s"__max_$f")))
      def canon(v: Any): Option[String] = Option(v).flatMap { x =>
        val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(x)
        Option(Cast(lit, StringType, Some("UTC")).eval(null)).map(_.toString)
      }
      TypedLake.framedTyped(spark, basePath, schema, files)
        .groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          val stats = fields.zipWithIndex.flatMap { case (f, i) =>
            (canon(r.get(1 + 2 * i)), canon(r.get(2 + 2 * i))) match {
              // NaN poisons a numeric range (no finite endpoint witnesses
              // NaN rows): no stats for the field — FieldAcc's rule
              case (Some(lo), Some(hi))
                  if !(numericOf(f) && (lo == "NaN" || hi == "NaN")) =>
                Some(f -> FieldStats(lo, hi, numericOf(f)))
              case _ => None
            }
          }.toMap
          r.getString(0) -> stats
        }.toMap // O(files x fields) driver metadata, the manifest-read class
    }
  }

  /** Executor-side rolling writer for ONE task: one open file per routing
    * key, rolled when the codec says so, per-file min/max accumulators
    * for the stats fields. `closeAll()` returns the MANIFEST ENTRY LINES
    * (path, or path + TAB + stats JSON); `abortAll()` deletes every file
    * this task opened, rolled ones included.
    */
  abstract class TaskWriter {
    protected type Sink
    protected def statsFields: Seq[String]
    protected def openSink(path: String): Sink
    protected def closeSink(s: Sink): Unit
    protected def newAccs(): Array[FieldAcc]

    def write(row: InternalRow): Unit

    protected final class OpenFile(val path: String, val sink: Sink) {
      val accs: Array[FieldAcc] = newAccs()
      var rows = 0L
      var bytes = 0L
      def entryLine(): String = {
        val st = statsFields.zip(accs)
          .flatMap { case (f, a) => a.stats.map(f -> _) }.toMap
        if (st.isEmpty) path else s"$path\t${statsToJson(st)}"
      }
    }

    private val open = mutable.Map.empty[String, OpenFile]
    private val opened = mutable.ArrayBuffer.empty[String]
    private val entries = mutable.ArrayBuffer.empty[String]

    /** The open file for `key`, first rolling it when `due` holds — a
      * fresh one at `path` when none is open or the old one rolled.
      */
    protected final def fileOf(key: String, path: => String,
        due: OpenFile => Boolean): OpenFile =
      open.get(key) match {
        case Some(f) if !due(f) => f
        case prev =>
          prev.foreach(finish)
          val p = path
          opened += p
          val f = new OpenFile(p, openSink(p))
          open.update(key, f)
          f
      }

    private def finish(f: OpenFile): Unit = {
      closeSink(f.sink)
      entries += f.entryLine()
    }

    def closeAll(): Seq[String] = {
      open.values.foreach(finish)
      open.clear()
      entries.toSeq
    }

    def abortAll(): Unit = {
      open.values.foreach(f =>
        try closeSink(f.sink) catch { case _: Exception => () })
      open.clear()
      opened.foreach { p =>
        val path = new Path(p)
        try path.getFileSystem(LakeIO.conf).delete(path, false)
        catch { case _: Exception => () }
      }
    }
  }

  private final class JsonTaskWriter(c: JsonLines, op: String)
      extends TaskWriter {
    protected type Sink = java.io.OutputStream
    protected def statsFields: Seq[String] = c.statsFields
    private val fs = new Path(c.basePath).getFileSystem(LakeIO.conf)
    protected def openSink(path: String): Sink =
      LakeIO.newOutput(fs, new Path(path), false)
    protected def closeSink(s: Sink): Unit = s.close()
    protected def newAccs(): Array[FieldAcc] =
      Array.fill(statsFields.length)(new FieldAcc)
    private val valueAt = if (c.byPartition) 3 else 1

    /** The row's directory: absolute for `(dir, value)` rows, relative
      * to `basePath` for sink rows (made a path only when a file opens).
      */
    private def dirOf(row: InternalRow): String =
      if (!c.byPartition) row.getUTF8String(0).toString
      else {
        // the catalog face's read schema is nullable (partition values
        // are path-recovered), so the engine's write-side null check may
        // not fire — without this guard a NULL key would interpolate into
        // the path as the literal string "null"
        var k = 0
        while (k < 4) {
          if (row.isNullAt(k)) throw new IllegalArgumentException(
            "WeatherLakeV2Sink: NULL in write column " +
              s"'${WeatherLakeV2Sink.Schema.fieldNames(k)}' — the lake row " +
              "is three non-null partition keys plus one non-null payload line")
          k += 1
        }
        s"city=${row.getUTF8String(0)}/ds=${row.getUTF8String(1)}/" +
          s"hour=${row.getUTF8String(2)}"
      }

    def write(row: InternalRow): Unit = {
      val dir = dirOf(row)
      val json = row.getUTF8String(valueAt).toString
      val bytes = json.getBytes("UTF-8")
      // uuid per FILE: a task writing many directories must not reuse
      // one basename across them
      val f = fileOf(dir, {
          val name = s"part-$op-${UUID.randomUUID().toString}.json"
          (if (c.byPartition) new Path(c.basePath, s"$dir/$name")
           else new Path(dir, name)).toString
        },
        f => f.bytes > 0 && f.bytes + bytes.length + 1 > c.targetBytes)
      var k = 0
      while (k < statsFields.length) {
        extractJsonField(json, statsFields(k)).foreach(f.accs(k).add)
        k += 1
      }
      f.sink.write(bytes)
      f.sink.write('\n')
      f.bytes += bytes.length + 1
    }
  }

  /** Routes each row (full table schema) into its partition directory and
    * writes the DATA columns through the engine's [[ParquetOutputWriter]];
    * stats are rendered through `CAST(col AS STRING)`, the domain
    * [[FieldStats]] prunes in.
    */
  private final class ParquetTaskWriter(c: Parquet, op: String)
      extends TaskWriter {
    protected type Sink = ParquetOutputWriter
    protected def statsFields: Seq[String] = c.statsFields
    private val schema = c.schema
    private val partCols = c.partCols
    // (column index, type, bucket count) of a hash-bucketed table —
    // every row routes to the file of its bucket ([[TypedLake.bucketId]])
    private val bucket: Option[(Int, DataType, Int)] = c.bucketSpec.map {
      case (b, n) =>
        val i = schema.fieldIndex(b)
        (i, schema(i).dataType, n)
    }
    private val partIdx = partCols.map(schema.fieldIndex).toArray
    private val dataFields = schema.fields.zipWithIndex
      .filterNot { case (_, i) => partIdx.contains(i) }
    private val data = StructType(dataFields.map(_._1))
    private val dataProj = UnsafeProjection.create(dataFields.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable) }.toSeq)
    // one canonical rendering per partition value: CAST(col AS STRING)
    // (dates → yyyy-MM-dd), escaped with the engine's own path escaping
    // so read-side partition recovery (InMemoryFileIndex unescape)
    // round-trips exactly
    private val partProj = SafeProjection.create(partIdx.toSeq.map { i =>
      Cast(BoundReference(i, schema(i).dataType, schema(i).nullable),
        StringType, Some("UTC"))
    })
    private val statsIdx = statsFields.map(schema.fieldIndex).toArray
    private val statsProj = SafeProjection.create(statsIdx.toSeq.map { i =>
      Cast(BoundReference(i, schema(i).dataType, schema(i).nullable),
        StringType, Some("UTC"))
    })
    // stats-tracked DATA columns also get parquet bloom filters
    // (partition columns live in the path, not in the file). The conf
    // key must carry the data field's EXACT name — a statsField spelled
    // in different case (tolerated everywhere else) would otherwise
    // silently write no bloom filter
    private val conf = {
      // copy, not fresh: this conf is mutated below, but the copy
      // constructor clones the already-parsed properties instead of
      // re-reading the default XML resources per writer task. The
      // engine's ParquetWriteSupport reads these keys in `init` (normally
      // set by ParquetFileFormat.prepareWrite from the session conf —
      // here pinned to the modern defaults so tasks need no session)
      val conf = new org.apache.hadoop.conf.Configuration(LakeIO.conf)
      conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
      ParquetWriteSupport.setSchema(data, conf)
      conf.set("spark.sql.parquet.writeLegacyFormat", "false")
      conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
      conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
      conf.set("parquet.compression", "snappy")
      // BLOOM FILTERS for the stats-tracked columns: min/max prunes point
      // lookups on a high-cardinality key only when the layout is sorted
      // (post-ZORDER); the bloom filter prunes row groups regardless of
      // layout. The engine's parquet READER consults them automatically
      // (parquet.filter.bloom.enabled defaults true) for pushed equality
      // predicates
      statsFields.flatMap(f => data.fieldNames.find(_.equalsIgnoreCase(f)))
        .foreach(c => conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
      conf
    }
    private val ctx = {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID(new JobID("graft-typed", 0),
          TaskType.MAP, 0), 0))
    }

    protected def openSink(path: String): Sink = {
      val p = new Path(path)
      p.getFileSystem(conf).mkdirs(p.getParent)
      new ParquetOutputWriter(path, ctx)
    }
    protected def closeSink(s: Sink): Unit = s.close()
    // the stats comparison domain is pinned by the DECLARED column type
    // (numeric columns → numeric min/max, everything else → lexical) — a
    // string column of numeric-looking values must still carry LEXICAL
    // endpoints, because its runtime comparisons are lexical
    protected def newAccs(): Array[FieldAcc] = statsIdx.map(i => new FieldAcc(
      forceDomain = Some(schema(i).dataType.isInstanceOf[NumericType])))

    private def dirOf(row: InternalRow): String = {
      var k = 0
      while (k < partIdx.length) {
        if (row.isNullAt(partIdx(k))) throw new IllegalArgumentException(
          s"TypedLake: NULL in partition column '${partCols(k)}' — " +
            "partition values are path segments and cannot be null")
        k += 1
      }
      if (partIdx.isEmpty) c.basePath
      else {
        val rendered = partProj(row)
        val sb = new StringBuilder(c.basePath)
        var i = 0
        while (i < partIdx.length) {
          sb.append('/').append(partCols(i)).append('=')
            .append(ExternalCatalogUtils.escapePathName(
              rendered.getUTF8String(i).toString))
          i += 1
        }
        sb.toString
      }
    }

    def write(row: InternalRow): Unit = {
      val dir = dirOf(row)
      val b = bucket.map { case (i, dt, n) =>
        TypedLake.bucketId(if (row.isNullAt(i)) null else row.get(i, dt), dt, n)
      }
      // the count suffix stamps the file's bucket GENERATION — what a
      // later bucket-count evolution classifies files by
      val prefix = b.map(k => s"part-b${k}c${bucket.get._3}").getOrElse("part")
      val f = fileOf(b.map(k => s"$dir#$k").getOrElse(dir),
        new Path(dir, s"$prefix-$op-${UUID.randomUUID().toString}.parquet").toString,
        f => c.maxRecordsPerFile > 0 && f.rows >= c.maxRecordsPerFile)
      if (statsIdx.nonEmpty) {
        val rendered = statsProj(row)
        var k = 0
        while (k < statsIdx.length) {
          if (!row.isNullAt(statsIdx(k)))
            f.accs(k).add(rendered.getUTF8String(k).toString)
          k += 1
        }
      }
      f.sink.write(dataProj(row))
      f.rows += 1
    }
  }

  // -----------------------------------------------------------------
  // file identity: a scanned row's manifest entry
  // -----------------------------------------------------------------

  /** The spellings the engine's `_metadata.file_path` can report for a
    * manifest entry `file`, MOST AUTHORITATIVE FIRST — computed once per
    * file on the DRIVER, so the scan side carries no per-row path
    * normalization (`file_path` is constant per reader split). The engine
    * reports `scheme:` + authority + the URL-ENCODED raw path
    * (`file:/…%20…` for an escaped partition dir); the decoded qualified
    * string, the entry's own spelling and its bare raw path ride along as
    * aliases. Only scheme-less entries are qualified against their
    * filesystem, so an already-qualified entry never instantiates one.
    */
  private def spellingsOf(file: String,
      qualify: Path => Path): Seq[String] = {
    val p = new Path(file)
    val q = if (p.toUri.getScheme != null) p else qualify(p)
    val u = q.toUri
    val auth = Option(u.getAuthority).map("//" + _).getOrElse("")
    Seq(s"${u.getScheme}:$auth${u.getRawPath}", q.toString, file,
      p.toUri.getRawPath).distinct
  }

  /** The (reported spelling → manifest entry path) map of a framed read.
    * Alias spellings of one file can collide with another file's
    * authoritative form (a literal `%20` vs an escaped space): each
    * spelling keeps its HIGHEST-priority owner, and the engine always
    * reports the priority-0 form — a lookup never lands on a shadowed
    * alias. Scheme-less entries resolve against the default filesystem,
    * fetched once for the whole list.
    */
  private[graft] def entrySpellings(files: Seq[String]): Seq[(String, String)] = {
    lazy val fs = org.apache.hadoop.fs.FileSystem.get(LakeIO.conf)
    files
      .flatMap { f =>
        spellingsOf(f, p => fs.makeQualified(p)).zipWithIndex
          .map { case (s, pri) => (s, f, pri) }
      }
      .groupBy(_._1).valuesIterator
      .map(_.minBy(_._3)).map(t => (t._1, t._2)).toSeq
  }

  /** `scan` (a raw file relation) projected to `cols`, each row tied to
    * its manifest entry as `__file` — plus `fileCols`, the entry's
    * `fileValues` — through the [[entrySpellings]] map,
    * shipped as a broadcast VARIABLE: building it runs no Spark job (a
    * broadcast join's build side is a job of its own), and a row resolves
    * its constant-per-split spelling with one hash lookup. The lookup is
    * a loud per-row guard, not a filter: an engine spelling the driver
    * map did not anticipate (a Spark/Hadoop upgrade changing path
    * encoding) must FAIL the read, never silently drop that file's rows
    * from a DELETE/UPDATE/MERGE. A read that uses no entry column is
    * pruned of the lookup by the optimizer.
    */
  private[sources] def tiedToEntries(scan: DataFrame, cols: Seq[Column],
      files: Seq[String],
      fileCols: Seq[String] = Nil,
      fileValues: String => Seq[String] = _ => Nil): DataFrame = {
    val entry = files.distinct.map(f => f -> (f +: fileValues(f))).toMap
    val bySpelling = scan.sparkSession.sparkContext.broadcast(
      entrySpellings(files).map { case (s, f) => s -> entry(f) }.toMap)
    val entryOf = udf((p: String) => bySpelling.value.getOrElse(p, null))
    val path = col("_metadata.file_path")
    // ONE select over the raw relation: `_metadata` is a metadata column
    // and must be projected before any other Project hides it
    val tied = scan.select(cols :+ coalesce(entryOf(path), raise_error(concat(
      lit("lake scan: engine-reported file_path spelling not in the " +
        "driver spelling map (path-encoding drift?): "), path))).as("__entry"): _*)
    tied.select(tied.columns.toSeq.init.map(c =>
        tied.col("`" + c.replace("`", "``") + "`")) ++
      ("__file" +: fileCols).zipWithIndex.map { case (n, i) =>
        col("__entry")(i).as(n) }: _*)
  }
}
