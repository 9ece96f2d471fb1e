package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DSv2 TABLE CATALOG over the manifest lake — the identifier face that
  * removes the last piece of plumbing between a SQL-first user and the
  * lake (the reference's users address tables by NAME in Postgres,
  * load_to_postgres.py:90; ours so far needed a `CREATE TEMPORARY VIEW …
  * USING … OPTIONS (path …)` per table). With
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
  * spark.conf.set("spark.sql.catalog.lake.warehouse", "/data/lakes")
  * }}}
  *
  * the full lifecycle is plain SQL, the Delta/Iceberg catalog shape:
  *
  *  - `CREATE TABLE lake.t (city STRING, ds STRING, hour STRING,
  *    value STRING) USING lake TBLPROPERTIES (statsFields 'val')` — the
  *    CLASSIC JSON-line table (three Hive-style partition keys + one raw
  *    payload line). ANY OTHER schema creates a TYPED table (round 12):
  *    Parquet data files under the same manifest layer, user-chosen
  *    identity partition columns (declared LAST), full SQL DML with real
  *    column semantics, atomic CTAS/RTAS ([[StagingTableCatalog]]),
  *    metadata-only ADD/DROP COLUMN, per-epoch streaming writes, and
  *    manifest-stats FILE pruning in front of the engine's Parquet scan
  *    ([[LakeCatalog.StatsPrunedParquetScanBuilder]]);
  *  - `INSERT INTO lake.t SELECT …` — the existing DSv2 batch writer
  *    (one manifest per statement, exactly-once discipline), with
  *    `statsFields` defaulting from table properties so every insert
  *    feeds the data-skipping layer;
  *  - `SELECT … FROM lake.t` — one task per committed file; partition
  *    columns are recovered from the file path, equality predicates on
  *    them prune the FILE LIST on the driver before any data IO
  *    (manifest-level partition pruning), and column pruning reaches the
  *    reader;
  *  - `SELECT … FROM lake.t VERSION AS OF 3` / `TIMESTAMP AS OF …` —
  *    time travel through the engine's own syntax (`loadTable(ident,
  *    version)`), pinned to `snapshotAt`'s durability semantics;
  *  - `MERGE INTO lake.t` / `DELETE FROM lake.t` / `UPDATE lake.t` —
  *    [[graft.plans.LakeDmlParser]] resolves catalog tables exactly like
  *    lake views, reading `targetBytes`/`statsFields`/`changeLog` from
  *    table properties;
  *  - `CALL lake.system.vacuum('t')` (retention-floored; reclaiming
  *    younger than 7 days needs `min_age_ms => …, force => true`) and friends
  *    (compact / checkpoint / sweep_orphans / history) — maintenance as
  *    SQL procedures via Spark 4's ProcedureCatalog, the Iceberg `CALL`
  *    face; `history` is DESCRIBE HISTORY (version, manifest, op,
  *    commit_ts, live);
  *  - `readStream.table("lake.t")` — the manifest-set micro-batch source
  *    (admission control and AvailableNow included) emitting the table's
  *    four columns.
  *
  * A table is a directory under the warehouse carrying a
  * `_lake_table.json` marker (format-versioned, holds the properties);
  * `CREATE TABLE … LOCATION '<path>'` adopts an EXISTING lake directory
  * as an external table, so pre-catalog lakes migrate with one
  * statement. Catalog metadata operations are all O(1) driver-side file
  * ops — the scale story is the manifest layer's, unchanged.
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  import LakeCatalog._

  private var catalogName: String = _
  private[sources] var warehouse: String = _

  private var stageReclaimMs: Long = StageReclaimDefaultMs

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"LakeCatalog '$name' requires a warehouse directory: set " +
          s"spark.sql.catalog.$name.warehouse"))
    stageReclaimMs = Option(options.get("stageReclaimMs")).map(_.toLong)
      .getOrElse(StageReclaimDefaultMs)
  }

  override def name(): String = catalogName

  private def checkPart(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && part != ".." && part != ".",
      s"LakeCatalog: illegal identifier part '$part'")
    part
  }

  private[sources] def defaultDir(ident: Identifier): String =
    (warehouse +: ident.namespace.map(checkPart) :+ checkPart(ident.name))
      .mkString("/")

  private def fs = new Path(warehouse).getFileSystem(LakeIO.conf)

  /** Registration vs location: the REGISTRATION directory is always
    * `warehouse/<namespace>/<name>` and holds the marker (its presence IS
    * table existence); the LOCATION is the data directory the marker
    * points at. For a managed table they coincide; `CREATE … LOCATION`
    * (external) and RENAME (see below) make them differ. The split is
    * forced by the manifest format: entry lines carry ABSOLUTE file
    * paths, so a lake's data directory can never physically move —
    * everything that looks like moving a table moves its registration.
    */
  private def markerOf(dir: String) = new Path(dir, MarkerFile)

  /** A STAGED marker (in-flight CTAS/RTAS) is not a table: existence is
    * the un-staged marker. The staged claim still reserves the name — a
    * concurrent CREATE of it fails on the marker rename, exactly the
    * manifest discipline.
    */
  private def regDirOf(ident: Identifier): Option[String] = {
    val d = defaultDir(ident)
    if (fs.exists(markerOf(d)) && !markerStaged(fs.getConf, d)) Some(d)
    else None
  }

  override def tableExists(ident: Identifier): Boolean =
    regDirOf(ident).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.map(checkPart)).mkString("/"))
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).filter(_.isDirectory)
      .filter(st => fs.exists(new Path(st.getPath, MarkerFile)) &&
        !markerStaged(fs.getConf, st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  /** Route a loaded marker to the classic or typed table face. */
  private def tableOf(ident: Identifier, location: String,
      props: util.HashMap[String, String],
      pinned: Option[Seq[String]],
      pinnedExtra: Seq[String] = Nil): Table =
    Option(props.get(SchemaProp)) match {
      case Some(json) =>
        val schema = DataType.fromJson(json).asInstanceOf[StructType]
        val partCols = Option(props.get(PartitionColsProp))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        new TypedLakeCatalogTable(fullName(ident), location, schema,
          partCols, props, pinned, pinnedExtra = pinnedExtra)
      case None =>
        new LakeCatalogTable(fullName(ident), location, props, pinned)
    }

  override def loadTable(ident: Identifier): Table = {
    val dir = regDirOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val props = readMarker(fs.getConf, dir)
    val location = props.getOrDefault(TableCatalog.PROP_LOCATION, dir)
    tableOf(ident, location, props, pinned = None)
  }

  /** `VERSION AS OF n` — the engine routes the SQL clause here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = regDirOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val props = readMarker(fs.getConf, dir)
    val location = props.getOrDefault(TableCatalog.PROP_LOCATION, dir)
    // an integer is a commit version; anything else is a NAMED REF —
    // a TAG first (immutable pins win the namespace), then a BRANCH:
    // `VERSION AS OF 'audit'` reads the branch VIEW (base + staged),
    // the gate-query surface that needs no session conf. Typed tables
    // only for branches (the classic write path never stages).
    version.toIntOption match {
      case Some(v) =>
        tableOf(ident, location, props,
          pinned = Some(WeatherLakeV2Sink.snapshotAt(location, v)))
      case None =>
        val isTag = WeatherLakeV2Sink.tagNames(location).contains(version)
        if (!isTag && props.get(SchemaProp) != null &&
            WeatherLakeV2Sink.branchExists(location, version))
          tableOf(ident, location, props,
            pinned = Some(WeatherLakeV2Sink.readBranchBase(location, version)),
            pinnedExtra = WeatherLakeV2Sink.branchFiles(location, version))
        else tableOf(ident, location, props,
          pinned = Some(WeatherLakeV2Sink.readTag(location, version)))
    }
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): the greatest commit
    * published at-or-before t, resolved on the commit history's publish
    * mtimes — loud when the table had no commit yet at t.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = regDirOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val props = readMarker(fs.getConf, dir)
    val location = props.getOrDefault(TableCatalog.PROP_LOCATION, dir)
    val snap =
      try WeatherLakeV2Sink.snapshotAtTimestamp(location, timestampMicros / 1000L)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"LakeCatalog: no commit of '${fullName(ident)}' exists at or " +
            s"before timestamp ${timestampMicros}us: ${e.getMessage}")
      }
    tableOf(ident, location, props, pinned = Some(snap))
  }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val regDir = defaultDir(ident)
    reclaimCrashedStage(regDir)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // a MANAGED create over a directory that already holds lake data
    // (a renamed table's original directory — still owned by its
    // re-pointed registration) would silently ADOPT another table's live
    // files; external adoption must be explicit (CREATE … LOCATION)
    if (!info.properties().containsKey(TableCatalog.PROP_LOCATION) &&
        fs.exists(new Path(regDir, WeatherLakeV2Sink.ManifestDir)))
      throw new IllegalStateException(
        s"LakeCatalog: $regDir already holds lake data (_manifests) " +
          "owned by no registration here — adopting it implicitly would " +
          "capture another table's files; use CREATE TABLE … LOCATION " +
          s"'$regDir' to adopt it explicitly, or delete the directory")
    val (props, table) =
      prepareTable(ident, info.schema(), info.partitions(), info.properties())
    // the marker always lives in the REGISTRATION dir — an external
    // table's data directory stays exactly as the V2 sink wrote it
    // (adoption never mutates the adopted lake)
    writeMarker(fs.getConf, regDir, props)
    table
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = regDirOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val props = readMarker(fs.getConf, dir)
    val reserved = Set(TableCatalog.PROP_LOCATION, SchemaProp,
      PartitionColsProp)
    // typed tables support METADATA-ONLY column evolution: the Parquet
    // reader null-fills a column absent from old files (ADD) and simply
    // does not project a column the schema no longer names (DROP), so
    // neither verb rewrites a byte of data — the Delta/Iceberg
    // schema-evolution contract. RENAME is refused: old files keep the
    // old name and a rename would need name-mapping IDs to read them.
    def typedSchema: Option[(StructType, Seq[String])] =
      Option(props.get(SchemaProp)).map { json =>
        (DataType.fromJson(json).asInstanceOf[StructType],
          Option(props.get(PartitionColsProp))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty))
      }
    def putSchema(s: StructType): Unit = props.put(SchemaProp, s.json)
    changes.foreach {
      case s: TableChange.SetProperty =>
        require(!reserved(s.property()),
          s"LakeCatalog: property '${s.property()}' is immutable " +
            "(location/schema/partitioning never change under ALTER)")
        props.put(s.property(), s.value())
      case r: TableChange.RemoveProperty =>
        require(!reserved(r.property()),
          s"LakeCatalog: property '${r.property()}' is immutable " +
            "(location/schema/partitioning never change under ALTER)")
        props.remove(r.property())
      case a: TableChange.AddColumn =>
        val (schema, partCols) = typedSchema.getOrElse(
          throw new UnsupportedOperationException(
            "LakeCatalog: ADD COLUMN applies to typed tables only — the " +
              "classic lake row is fixed (city, ds, hour, value)"))
        require(a.fieldNames().length == 1,
          "LakeCatalog: ADD COLUMN supports top-level columns only")
        val name = a.fieldNames().head
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"LakeCatalog: column '$name' already exists")
        require(a.isNullable,
          s"LakeCatalog: ADD COLUMN '$name' must be nullable — rows in " +
            "already-committed files have no value for it (reads " +
            "null-fill), so a NOT NULL contract would be a lie")
        require(a.position() == null,
          "LakeCatalog: ADD COLUMN FIRST/AFTER is not supported — new " +
            "columns append after the existing data columns (before the " +
            "partition suffix)")
        // new data columns go BEFORE the partition suffix (the typed
        // shape rule: partition columns stay last)
        val dataFields = schema.fields.dropRight(partCols.size)
        val partFields = schema.fields.takeRight(partCols.size)
        putSchema(StructType((dataFields :+
          StructField(name, a.dataType(), nullable = true)) ++ partFields))
      case d: TableChange.DeleteColumn =>
        val (schema, partCols) = typedSchema.getOrElse(
          throw new UnsupportedOperationException(
            "LakeCatalog: DROP COLUMN applies to typed tables only"))
        require(d.fieldNames().length == 1,
          "LakeCatalog: DROP COLUMN supports top-level columns only")
        val name = d.fieldNames().head
        val resolved = schema.fieldNames.find(_.equalsIgnoreCase(name))
        if (resolved.isEmpty && d.ifExists()) {
          // SQL's DROP COLUMN IF EXISTS: absent column is a no-op
        } else {
        val field = resolved.getOrElse(throw new IllegalArgumentException(
            s"LakeCatalog: no column '$name' to drop"))
        require(!partCols.exists(_.equalsIgnoreCase(name)),
          s"LakeCatalog: '$name' is a partition column — the directory " +
            "layout depends on it; dropping it would orphan every path")
        require(schema.size - partCols.size > 1,
          "LakeCatalog: cannot drop the last data column")
        require(!Option(props.get("statsFields")).exists(
            _.split(",").map(_.trim).exists(_.equalsIgnoreCase(name))),
          s"LakeCatalog: '$name' is in statsFields — remove it from the " +
            "property first, or later writes would measure a dropped column")
        putSchema(StructType(schema.fields.filterNot(_.name == field)))
        }
      case r: TableChange.RenameColumn =>
        // RENAME via NAME MAPPING (the Iceberg move, carried as column
        // metadata — TypedLake.HistoricalNamesKey): metadata-only, zero
        // file rewrites. Old files keep the old physical name; every
        // read widens its scan schema with the historical spellings and
        // coalesces them back. Pre-rename per-file stats/bloom filters
        // stop matching the new name and fail OPEN until compaction
        // migrates the files; statsFields auto-follows the rename so
        // new writes measure under the new name.
        val (schema, partCols) = typedSchema.getOrElse(
          throw new UnsupportedOperationException(
            "LakeCatalog: RENAME COLUMN applies to typed tables only"))
        require(r.fieldNames().length == 1,
          "LakeCatalog: RENAME COLUMN supports top-level columns only")
        val from = r.fieldNames().head
        val to = r.newName()
        val field = schema.fields.find(_.name.equalsIgnoreCase(from))
          .getOrElse(throw new IllegalArgumentException(
            s"LakeCatalog: no column '$from' to rename"))
        require(!partCols.exists(_.equalsIgnoreCase(from)),
          s"LakeCatalog: '$from' is a partition column — its values are " +
            "path segments under the old spelling; partition columns " +
            "cannot be renamed")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"LakeCatalog: column '$to' already exists")
        require(!to.startsWith("__"),
          s"LakeCatalog: '$to' uses the reserved '__' prefix")
        val priorHist =
          if (field.metadata.contains(TypedLake.HistoricalNamesKey))
            field.metadata.getStringArray(TypedLake.HistoricalNamesKey)
              .toSeq
          else Seq.empty
        val clash = (schema.fields.filterNot(_.name == field.name)
          .flatMap(f =>
            if (f.metadata.contains(TypedLake.HistoricalNamesKey))
              f.metadata.getStringArray(TypedLake.HistoricalNamesKey)
            else Array.empty[String]) ++ priorHist)
          .exists(_.equalsIgnoreCase(to))
        require(!clash,
          s"LakeCatalog: '$to' is a historical name of some column — " +
            "re-using it would make old files ambiguous")
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(field.metadata)
          .putStringArray(TypedLake.HistoricalNamesKey,
            (priorHist :+ field.name).toArray)
          .build()
        putSchema(StructType(schema.fields.map { f =>
          if (f.name == field.name) f.copy(name = to, metadata = md) else f
        }))
        // stats follow the logical column: new writes measure under the
        // new name (old entry-line stats fail open against it)
        Option(props.get("statsFields")).foreach { sf =>
          val renamed = sf.split(",").map(_.trim).filter(_.nonEmpty)
            .map(f => if (f.equalsIgnoreCase(from)) to else f)
          props.put("statsFields", renamed.mkString(","))
        }
      case other => throw new UnsupportedOperationException(
        s"LakeCatalog: unsupported ALTER TABLE change " +
          s"${other.getClass.getSimpleName} — columns can be ADDed, " +
          "DROPped and RENAMEd on typed tables (metadata-only); retype " +
          "is not supported, and the classic lake shape is fixed at " +
          "CREATE")
    }
    writeMarker(fs.getConf, dir, props, overwrite = true)
    loadTable(ident)
  }

  /** DROP TABLE deletes the REGISTRATION directory. For a managed table
    * (registration == location) that is the data; for an external table
    * (CREATE … LOCATION) or a renamed one, the data directory stays
    * untouched — the Hive external-table contract, and what keeps
    * `DROP TABLE` on an adopted pre-catalog lake from destroying it.
    */
  override def dropTable(ident: Identifier): Boolean =
    regDirOf(ident) match {
      case None => false
      case Some(dir) => fs.delete(new Path(dir), true); true
    }

  /** RENAME moves the REGISTRATION, never the data: manifest entry lines
    * carry absolute file paths, so physically moving a lake directory
    * would corrupt every committed manifest. The new name's marker points
    * at the old location (for a previously managed table, its original
    * directory — which from now on behaves as external: a later DROP
    * removes the registration and leaves the data to be re-adopted or
    * deleted explicitly).
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val oldDir = regDirOf(oldIdent)
      .getOrElse(throw new NoSuchTableException(oldIdent))
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val props = readMarker(fs.getConf, oldDir)
    val location = props.getOrDefault(TableCatalog.PROP_LOCATION, oldDir)
    props.put(TableCatalog.PROP_LOCATION, location)
    writeMarker(fs.getConf, defaultDir(newIdent), props)
    fs.delete(markerOf(oldDir), false)
  }

  // ---- SupportsNamespaces: namespaces are plain warehouse subdirectories

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.map(checkPart)).mkString("/"))

  /** A directory is a NAMESPACE only if it is neither a registered table
    * (marker) nor a lake DATA directory (`_manifests/` — e.g. the
    * original directory of a renamed managed table, still owned by its
    * re-pointed registration): classifying a data dir as a namespace
    * would list its partition directories as phantom tables and expose
    * it to DROP NAMESPACE CASCADE.
    */
  private def isNamespaceDir(p: Path): Boolean =
    !fs.exists(new Path(p, MarkerFile)) &&
      !fs.exists(new Path(p, WeatherLakeV2Sink.ManifestDir))

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(new Path(warehouse))) Array.empty
    else fs.listStatus(new Path(warehouse)).filter(_.isDirectory)
      .filter(st => isNamespaceDir(st.getPath))
      .map(st => Array(st.getPath.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    else fs.listStatus(nsPath(namespace)).filter(_.isDirectory)
      .filter(st => isNamespaceDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fs.mkdirs(nsPath(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "LakeCatalog: namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    if (!isNamespaceDir(nsPath(namespace)))
      throw new IllegalStateException(
        s"LakeCatalog: ${namespace.mkString(".")} is not a namespace — it " +
          "holds table data; DROP the table (or delete the directory " +
          "explicitly) instead")
    // NOT-empty means ANY child — a nested namespace's tables live below
    // direct children, so checking only direct marker dirs would let a
    // non-cascade drop recursively destroy warehouse/<ns>/<sub>/<table>
    if (!cascade && fs.listStatus(nsPath(namespace)).nonEmpty)
      throw new IllegalStateException(
        s"LakeCatalog: namespace ${namespace.mkString(".")} is not empty")
    if (cascade) {
      // a lake DATA directory without a marker is owned by a registration
      // ELSEWHERE (RENAME moves only the registration — the original
      // directory of a renamed managed table stays put): cascading over
      // it would delete live data out from under the still-registered
      // table. Walk the subtree and refuse on any such orphan-marker dir.
      def findForeignData(p: Path): Option[Path] = {
        val hasMarker = fs.exists(new Path(p, MarkerFile))
        val hasData = fs.exists(new Path(p, WeatherLakeV2Sink.ManifestDir))
        if (hasData && !hasMarker) Some(p)
        else if (hasMarker || hasData) None // a registered table owns it
        else fs.listStatus(p).filter(_.isDirectory)
          .iterator.flatMap(st => findForeignData(st.getPath))
          .nextOption()
      }
      findForeignData(nsPath(namespace)).foreach { d =>
        throw new IllegalStateException(
          s"LakeCatalog: DROP NAMESPACE ${namespace.mkString(".")} CASCADE " +
            s"refused — $d holds lake data (_manifests) without a marker " +
            "in this namespace, i.e. data owned by a registration " +
            "elsewhere (a renamed table's original directory). DROP that " +
            "table first or delete the directory explicitly")
      }
    }
    fs.delete(nsPath(namespace), true)
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  // ---- FunctionCatalog: the V2 `bucket` function — what lets Spark
  // recognize two bucketed lake scans as CO-PARTITIONED (its
  // storage-partitioned-join machinery resolves each side's bucket
  // transform through the table's catalog and compares canonical
  // function identity + bucket count)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
        namespace.sameElements(Array(ProcedureNamespace)))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(catalogName, ident.name())

  // ---- ProcedureCatalog: maintenance as CALL statements (Iceberg's face)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array(ProcedureNamespace)))
      ProcedureNames.map(Identifier.of(Array(ProcedureNamespace), _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array(ProcedureNamespace)) ||
        !ProcedureNames.contains(ident.name()))
      throw new IllegalArgumentException(
        s"LakeCatalog: unknown procedure ${fullName(ident)} — available: " +
          ProcedureNames.map(n => s"$catalogName.$ProcedureNamespace.$n")
            .mkString(", "))
    new LakeProcedure(this, ident.name())
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS -----------------------

  /** Atomic `CREATE TABLE … AS SELECT`. The name is CLAIMED up front by a
    * marker carrying `staged: true` (create-only rename — a concurrent
    * CREATE/CTAS of the same name loses instantly), which existence
    * checks treat as NO table; the SELECT's write publishes its manifest
    * into the claimed directory (data invisible: no un-staged marker);
    * `commitStagedChanges` rewrites the marker WITHOUT the flag through
    * the atomic overwrite-rename — the table appears in one step with its
    * data already committed, and a reader can never observe the created-
    * but-empty intermediate state of a two-statement CREATE+INSERT.
    * Abort (query failure) deletes the claimed directory. A crash leaves
    * a staged marker: invisible to readers, reclaimed by the next
    * CREATE/CTAS of the name.
    */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val regDir = defaultDir(ident)
    reclaimCrashedStage(regDir)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val (props, table) = prepareTable(ident, schema, partitions, properties)
    // claim the name NOW: create-only rename, one winner. The claim
    // carries a per-stage UUID so commit/abort can verify the marker is
    // still THIS stage's — a concurrent CREATE/CTAS that somehow replaced
    // the claim must fail loudly, never be silently clobbered.
    val stageId = util.UUID.randomUUID().toString
    writeMarker(fs.getConf, regDir, props, staged = true,
      stageId = Some(stageId))
    new StagedLakeTable(table, fs.getConf, regDir, props,
      replaceMode = false, stageId = Some(stageId))
  }

  /** Atomic `REPLACE TABLE … AS SELECT`: the SELECT's write runs as a
    * truncating overwrite (ONE manifest superseding the plan-time
    * snapshot — a concurrent commit makes it lose loudly at publish), and
    * `commitStagedChanges` swaps the marker to the new schema/properties
    * atomically. The payload KIND may not change (classic JSON ↔ typed
    * Parquet): superseded history keeps its old payload and every reader
    * routes by one table-level format — migrate across kinds with a new
    * table + INSERT. Pre-replace versions remain pinned-readable but are
    * read through the replace-time schema (the documented overwrite/CDF
    * horizon class).
    */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val dir = regDirOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val old = readMarker(fs.getConf, dir)
    val oldTyped = old.containsKey(SchemaProp)
    val newTyped = !isClassicSchema(schema)
    if (oldTyped != newTyped) throw new IllegalArgumentException(
      s"LakeCatalog: REPLACE cannot change the payload kind of " +
        s"'${fullName(ident)}' (" +
        s"${if (oldTyped) "typed Parquet" else "classic JSON-line"} → " +
        s"${if (newTyped) "typed Parquet" else "classic JSON-line"}) — " +
        "superseded history keeps its payload and readers route by one " +
        "table-level format; create a new table and INSERT instead")
    val location = old.getOrDefault(TableCatalog.PROP_LOCATION, dir)
    val merged = new util.HashMap[String, String](properties)
    merged.put(TableCatalog.PROP_LOCATION, location)
    val (props, table) = prepareTable(ident, schema, partitions, merged)
    new StagedLakeTable(table, fs.getConf, dir, props,
      replaceMode = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    if (tableExists(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  /** A staged marker with no live publisher is a crashed CTAS: invisible
    * to every reader, reclaimable (the flag is OUR claim, never user
    * data) — but ONLY once it is old enough that no live CTAS can still
    * own it (`stageReclaimMs`, catalog option, default 24h). Reclaiming
    * any staged marker unconditionally would let a concurrent CREATE/CTAS
    * of the same name destroy an IN-FLIGHT stage's claim and data
    * mid-write; with the age gate, a young claim makes the newcomer lose
    * loudly on the create-only marker rename (the documented one-winner
    * rule), and only genuinely dead claims are swept.
    */
  private def reclaimCrashedStage(regDir: String): Unit = {
    val marker = markerOf(regDir)
    if (fs.exists(marker) && markerStaged(fs.getConf, regDir) &&
        fs.getFileStatus(marker).getModificationTime <
          System.currentTimeMillis() - stageReclaimMs)
      fs.delete(new Path(regDir), true)
  }

  /** The shared CREATE-shape validation of [[createTable]]/[[stageCreate]]:
    * classic vs typed routing, property preparation, and the table face
    * (not yet registered).
    */
  private def prepareTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]):
      (util.HashMap[String, String], Table) = {
    val regDir = defaultDir(ident)
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(_.stripSuffix("/")).getOrElse(regDir)
    val props = new util.HashMap[String, String](properties)
    props.put(TableCatalog.PROP_LOCATION, location)
    if (isClassicSchema(schema)) {
      validatePartitioning(partitions)
      (props, new LakeCatalogTable(fullName(ident), location, props))
    } else {
      val (partCols, bucketSpec) = parsePartitioning(partitions, schema)
      TypedLake.validateTyped(schema, partCols)
      require(!java.lang.Boolean.parseBoolean(
          Option(props.get("changeLog")).getOrElse("false")),
        "LakeCatalog: typed tables derive their change feed from the " +
          "copy-on-write snapshots (TypedLake.changesBetweenTyped / " +
          "readNewChangesTyped) — no written change files, so the " +
          "changeLog property has nothing to enable; drop it")
      props.put(SchemaProp, schema.json)
      props.put(PartitionColsProp, partCols.mkString(","))
      bucketSpec.foreach { case (c, n) =>
        props.put(BucketColProp, c)
        props.put(BucketCountProp, n.toString)
      }
      (props, new TypedLakeCatalogTable(fullName(ident), location, schema,
        partCols, props))
    }
  }

  /** (location, marker properties) of a procedure's table argument — the
    * properties carry the typed schema when present, so maintenance verbs
    * can route to the right payload's implementation.
    */
  private[sources] def resolveTableProps(tableName: String):
      (String, util.HashMap[String, String]) = {
    val parts = tableName.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    val dir = regDirOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val props = readMarker(fs.getConf, dir)
    (props.getOrDefault(TableCatalog.PROP_LOCATION, dir), props)
  }

  /** NAME-MAPPING RETIREMENT — the lazy migration's close: once NO file
    * any live snapshot can still read carries a historical physical
    * spelling, the mapping is dead weight (every read pays the widened
    * v1 rewrite, which costs the DSv2 scan faces: manifest-stats
    * pruning, parquet filter pushdown on the renamed column,
    * auto-broadcast stats, SPJ). Called by `CALL lake.system.compact`
    * after a typed rewrite: checks the parquet FOOTER schema of every
    * file referenced ANYWHERE in the manifest history that still exists
    * on disk (vacuumed files are unreadable regardless — the
    * vacuum-horizon contract already fails those time travels loudly),
    * plus every live equality delete file still on disk (their
    * old-image columns ride the mapping too). All clear → the marker
    * schema drops [[TypedLake.HistoricalNamesKey]] and reads return to
    * the plain DSv2 path; TIME TRAVEL stays exact because no reachable
    * snapshot references an old-spelling byte. O(history files) footer
    * GETs — maintenance-time cost, the compaction-candidacy class.
    * Returns whether the mapping was retired.
    */
  /** BUCKET-COUNT EVOLUTION (metadata-only): flip the marker's declared
    * bucket count and append the old count to the evolution history.
    * Existing files keep their generation — their count rides the
    * file-name marker (or, for legacy un-stamped markers, resolves to
    * the history HEAD, the count before the first evolution); new
    * writes route and stamp under the new count. Reads stay correct
    * over mixed generations (the bucket column is a data column; the
    * scan simply withholds its `KeyGroupedPartitioning` claim until
    * `compact` migrates every file — see the uniformity gate in
    * [[TypedLakeStreamableScan]]). Returns (old count, new count, the
    * generation legacy markers now resolve to).
    */
  private[sources] def evolveBucketing(tableName: String,
      newCount: Int): (Int, Int, Int) = {
    val parts = tableName.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    val regDir = regDirOf(ident).getOrElse(
      throw new NoSuchTableException(ident))
    val props = readMarker(fs.getConf, regDir)
    val cur = Option(props.get(BucketCountProp)).map(_.toInt).getOrElse(
      throw new UnsupportedOperationException(
        s"LakeCatalog: '$tableName' is not bucketed"))
    require(newCount > 0 && newCount <= 65536,
      s"LakeCatalog: bucket count $newCount out of range (1..65536)")
    require(newCount != cur,
      s"LakeCatalog: '$tableName' is already bucket($cur) — nothing to " +
        "evolve")
    val history = Option(props.get(BucketPriorCountsProp))
      .map(h => s"$h,$cur").getOrElse(cur.toString)
    props.put(BucketPriorCountsProp, history)
    props.put(BucketCountProp, newCount.toString)
    writeMarker(fs.getConf, regDir, props, overwrite = true)
    (cur, newCount, history.split(",").head.trim.toInt)
  }

  private[sources] def retireNameMappingIfClear(tableName: String): Boolean = {
    val parts = tableName.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    val regDir = regDirOf(ident).getOrElse(return false)
    val props = readMarker(fs.getConf, regDir)
    val location = props.getOrDefault(TableCatalog.PROP_LOCATION, regDir)
    val schema = Option(props.get(SchemaProp)).map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(return false)
    val hist = TypedLake.historicalNames(schema)
    if (hist.isEmpty) return false
    val spellings = hist.values.flatten.map(_.toLowerCase).toSet
    val conf = LakeIO.conf
    val dataFs = new Path(location).getFileSystem(conf)
    val log = WeatherLakeV2Sink.loadSnapshot(location)
    val candidates =
      (log.names.flatMap(log.entryLines).map(WeatherLakeV2Sink.entryPath) ++
        log.morDirectives(log.names).map(l => WeatherLakeV2Sink.entryPath(
          l.stripPrefix(WeatherLakeV2Sink.MorDeletePrefix).trim))
          .filterNot(TypedLake.isPosDelete))
        .distinct.filter(f => dataFs.exists(new Path(f)))
    val anyOld = candidates.exists { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(f), conf))
      try {
        val it = r.getFileMetaData.getSchema.getFields.iterator()
        var hit = false
        while (!hit && it.hasNext)
          hit = spellings(it.next().getName.toLowerCase)
        hit
      } finally r.close()
    }
    if (anyOld) return false
    val cleaned = StructType(schema.fields.map { fld =>
      if (fld.metadata.contains(TypedLake.HistoricalNamesKey))
        fld.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(fld.metadata)
          .remove(TypedLake.HistoricalNamesKey).build())
      else fld
    })
    props.put(SchemaProp, cleaned.json)
    writeMarker(fs.getConf, regDir, props, overwrite = true)
    true
  }
}

object LakeCatalog {
  /** Existence marker + property store of a catalog table. Versioned like
    * the manifest format (FORMAT.md): a future layout change must fail
    * loudly in old readers, never misparse.
    */
  val MarkerFile = "_lake_table.json"
  val MarkerFormatVersion = 1

  /** Typed (Parquet-payload) tables stamp marker format 2: their markers
    * carry `schemaJson`/`partitionColumns` properties an old reader would
    * silently ignore, reading the table as the fixed classic shape and
    * then scanning Parquet bytes as text — the same
    * loud-failure-over-misparse rule as manifest `#format 2`.
    */
  val TypedMarkerFormatVersion = 2
  val MaxMarkerFormatVersion = 2

  /** Marker properties of a typed table (never user-set directly). */
  val SchemaProp = "schemaJson"
  val PartitionColsProp = "partitionColumns"

  /** Default age before a STAGED marker (in-flight CTAS claim) may be
    * reclaimed by a later CREATE/CTAS of the same name — long enough that
    * no live stage can still own it (a CTAS write can legitimately run
    * for hours at scale). Catalog option `stageReclaimMs` overrides.
    */
  val StageReclaimDefaultMs: Long = 24L * 60 * 60 * 1000

  val ProcedureNamespace = "system"
  val ProcedureNames: Seq[String] =
    Seq("vacuum", "sweep_orphans", "checkpoint", "compact", "history",
      "measure_stats", "detail", "convert", "reconcile",
      "compact_deletes", "tag", "drop_tag", "tags",
      "create_branch", "fast_forward", "drop_branch", "branches",
      "rollback", "evolve_bucketing")

  /** The one row shape a lake table has: three path-encoded partition
    * keys plus the raw payload line. `value` (read face) and `raw_json`
    * (write face) are accepted as the payload column's name.
    */
  val TableSchema: StructType = StructType(Seq(
    StructField("city", StringType, nullable = true),
    StructField("ds", StringType, nullable = true),
    StructField("hour", StringType, nullable = true),
    StructField("value", StringType, nullable = false)))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Whether a declared schema is the CLASSIC fixed JSON-line shape
    * (three path-encoded string partition keys plus the raw payload
    * line). Anything else creates a TYPED Parquet-payload table.
    */
  private[sources] def isClassicSchema(schema: StructType): Boolean = {
    val names = schema.fields.map(_.name.toLowerCase).toSeq
    (names == Seq("city", "ds", "hour", "value") ||
      names == Seq("city", "ds", "hour", "raw_json")) &&
      schema.fields.forall(_.dataType == StringType)
  }

  private[sources] def validatePartitioning(partitions: Array[Transform]): Unit = {
    if (partitions.isEmpty) return
    val names = partitions.map(_.toString.toLowerCase).toSeq
    require(names == Seq("identity(city)", "identity(ds)", "identity(hour)") ||
        names == Seq("city", "ds", "hour"),
      "LakeCatalog: a classic lake table is partitioned by (city, ds, " +
        s"hour) — omit PARTITIONED BY or state exactly that; got " +
        names.mkString(", "))
  }

  /** Marker properties of a HASH-BUCKETED table (PARTITIONED BY
    * (bucket(n, col))): the bucket column and count. Bucketing is the
    * zero-exchange fact-fact join layout — see
    * [[TypedLakeStreamableScan]]'s storage-partitioned-join face.
    */
  val BucketColProp = "bucketColumn"
  val BucketCountProp = "bucketCount"

  /** Bucket-count EVOLUTION history (oldest first, csv): present iff
    * `CALL lake.system.evolve_bucketing` ever ran. Its head is what a
    * legacy un-stamped `part-b<id>-` marker's generation resolves to —
    * the count before the first evolution; every post-stamp file
    * carries its own count in the marker ([[TypedLake.bucketGenOfFile]]).
    */
  val BucketPriorCountsProp = "bucketPriorCounts"

  /** Identity partition-column names of a typed CREATE (bucket/days/etc.
    * transforms have no path-directory form here — loud).
    */
  private[sources] def identityPartCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      val s = t.toString
      if (s.startsWith("identity(")) s.stripPrefix("identity(").stripSuffix(")")
      else if (!s.contains("(")) s
      else throw new IllegalArgumentException(
        s"LakeCatalog: typed lake tables support only identity partition " +
          s"transforms (PARTITIONED BY (col, ...)), got $s")
    }

  /** Typed partitioning: identity columns, OR exactly one
    * `bucket(n, col)` transform (hash bucketing — the co-located-join
    * layout). Mixing the two is refused: a bucketed table is flat on
    * disk (bucket ids live in file names, not path segments).
    */
  private[sources] def parsePartitioning(partitions: Array[Transform],
      schema: StructType): (Seq[String], Option[(String, Int)]) = {
    val buckets = partitions.filter(_.name() == "bucket")
    if (buckets.isEmpty) (identityPartCols(partitions), None)
    else {
      require(partitions.length == 1,
        "LakeCatalog: bucket(n, col) must be the ONLY transform — " +
          "bucketed lake tables are flat on disk (bucket ids ride file " +
          "names), so identity partitions cannot combine with bucketing")
      val t = buckets.head
      val args = t.arguments()
      val n = args.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"LakeCatalog: cannot read bucket count from $t"))
      val colName = args.collectFirst {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames().mkString(".")
      }.getOrElse(throw new IllegalArgumentException(
        s"LakeCatalog: cannot read bucket column from $t"))
      require(n > 0 && n <= 65536,
        s"LakeCatalog: bucket count $n out of range (1..65536)")
      val resolved = schema.fieldNames.find(_.equalsIgnoreCase(colName))
        .getOrElse(throw new IllegalArgumentException(
          s"LakeCatalog: bucket column '$colName' is not a table column"))
      (Seq.empty, Some((resolved, n)))
    }
  }

  /** The catalog's V2 `bucket(numBuckets, col)` function — delegates to
    * [[TypedLake.bucketId]], the SAME hash the writer routes by, so the
    * reported scan partitioning is truthful by construction.
    */
  private[graft] object BucketFunction
      extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, col): Murmur3 hash bucket id (lake bucketing)"
    override def bind(inputType: StructType):
        org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.size == 2,
        s"bucket(numBuckets, col) takes 2 arguments, got $inputType")
      val dt = inputType.fields(1).dataType
      new org.apache.spark.sql.connector.catalog.functions
          .ScalarFunction[Integer] {
        override def inputTypes(): Array[DataType] =
          Array(IntegerType, dt)
        override def resultType(): DataType = IntegerType
        override def name(): String = "bucket"
        override def canonicalName(): String = "graft.lake.bucket"
        override def isResultNullable: Boolean = false
        override def produceResult(input: InternalRow): Integer = {
          val n = input.getInt(0)
          val v = if (input.isNullAt(1)) null else input.get(1, dt)
          Integer.valueOf(TypedLake.bucketId(v, dt, n))
        }
      }
    }
  }

  private[sources] def readMarker(conf: Configuration,
      dir: String): util.HashMap[String, String] = {
    val fs = new Path(dir).getFileSystem(conf)
    val in = fs.open(new Path(dir, MarkerFile))
    val node =
      try mapper.readTree(in)
      finally in.close()
    val fmt = node.path("format").asInt(-1)
    if (fmt < MarkerFormatVersion || fmt > MaxMarkerFormatVersion)
      throw new IllegalStateException(
        s"LakeCatalog: $dir/$MarkerFile declares format $fmt; this reader " +
          s"understands $MarkerFormatVersion..$MaxMarkerFormatVersion — " +
          "upgrade the library rather than risk misreading the table " +
          "metadata")
    val props = new util.HashMap[String, String]()
    val p = node.path("properties")
    p.fieldNames().forEachRemaining(k => props.put(k, p.path(k).asText()))
    props
  }

  /** Whether the marker at `dir` is a STAGED claim (in-flight CTAS) —
    * reserved name, not an existing table.
    */
  private[graft] def markerStaged(conf: Configuration, dir: String): Boolean = {
    val fs = new Path(dir).getFileSystem(conf)
    val in = fs.open(new Path(dir, MarkerFile))
    val node =
      try mapper.readTree(in)
      finally in.close()
    node.path("staged").asBoolean(false)
  }

  /** The per-stage UUID a staged marker carries (None for un-staged
    * markers and pre-stageId claims) — the ownership token
    * [[StagedLakeTable.commitStagedChanges]] verifies before un-staging.
    */
  private[graft] def markerStageId(conf: Configuration, dir: String): Option[String] = {
    val fs = new Path(dir).getFileSystem(conf)
    val in = fs.open(new Path(dir, MarkerFile))
    val node =
      try mapper.readTree(in)
      finally in.close()
    Option(node.path("stageId").asText(null)).filter(_.nonEmpty)
  }

  private[graft] def writeMarker(conf: Configuration, dir: String,
      props: util.Map[String, String], overwrite: Boolean = false,
      formatVersion: Int = 0, staged: Boolean = false,
      stageId: Option[String] = None): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(new Path(dir))) fs.mkdirs(new Path(dir))
    val root = mapper.createObjectNode()
    // version 0 = derive: typed markers (schemaJson present) are v2
    val v = if (formatVersion > 0) formatVersion
      else if (props.containsKey(SchemaProp)) TypedMarkerFormatVersion
      else MarkerFormatVersion
    root.put("format", v)
    if (staged) root.put("staged", true)
    stageId.foreach(root.put("stageId", _))
    val p = root.putObject("properties")
    props.forEach((k, v) => p.put(k, v))
    // write-temp-then-rename, the manifest discipline: the marker appears
    // atomically, and a concurrent CREATE TABLE of the same name loses
    // (rename onto an existing destination fails) instead of clobbering
    val tmp = new Path(dir, s"$MarkerFile.tmp-${util.UUID.randomUUID()}")
    val out = LakeIO.newOutput(fs, tmp, false)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    val dest = new Path(dir, MarkerFile)
    if (overwrite) {
      // ALTER path: the marker must never be absent mid-update (its
      // presence IS table existence — a delete-then-rename window would
      // make concurrent loadTable/tableExists see the table vanish, and
      // a crash inside it would leave the table unregistered). An
      // OVERWRITING atomic rename replaces the content in one step.
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dest.toUri, conf)
        fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case e: UnsupportedOperationException =>
          // a store without overwrite-rename gets the documented window
          // rather than a silent no-op; surface which store and why
          fs.delete(tmp, false)
          throw new IllegalStateException(
            s"LakeCatalog: the filesystem of $dest does not support " +
              "atomic overwrite-rename; ALTER TABLE needs it to update " +
              "the marker without an existence gap", e)
      }
    } else if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"LakeCatalog: concurrent table creation at $dir — marker exists")
    }
  }

  /** A catalog-resolved lake table: the read face recovers the partition
    * columns from each file's path (so the table has a REAL four-column
    * schema, not the view face's single `value` line), the write face is
    * [[WeatherLakeV2Sink]]'s manifest-committing writer with
    * `statsFields`/`manifestId` defaulting from table properties.
    * `pinned` carries a time-travel manifest set: reads resolve through
    * it, writes and streaming reads refuse loudly (history is immutable).
    */
  class LakeCatalogTable(ident: String, val path: String,
      props: util.Map[String, String],
      val pinned: Option[Seq[String]] = None)
      extends Table with SupportsRead with SupportsWrite {
    override def name(): String = ident
    override def schema(): StructType = TableSchema
    override def partitioning(): Array[Transform] = Array(
      Expressions.identity("city"), Expressions.identity("ds"),
      Expressions.identity("hour"))
    override def properties(): util.Map[String, String] = props

    override def capabilities(): util.Set[TableCapability] =
      if (pinned.isDefined)
        util.EnumSet.of(TableCapability.BATCH_READ)
      else util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)

    /** Table properties that parameterize the lake DML/maintenance ops
      * (read by [[graft.plans.LakeDmlSql.resolveTarget]]).
      */
    def targetBytes: Long = Option(props.get("targetBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    def statsFields: Seq[String] = Option(props.get("statsFields"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def changeLog: Boolean = java.lang.Boolean.parseBoolean(
      Option(props.get("changeLog")).getOrElse("false"))

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new LakeTableScanBuilder(path, pinned, options)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      // table properties are the write's DEFAULTS (SQL INSERT has no
      // per-statement options); explicit write options still win
      val merged = new util.HashMap[String, String]()
      Option(props.get("statsFields")).foreach(merged.put("statsFields", _))
      info.options().entrySet().forEach(e =>
        merged.put(e.getKey, e.getValue))
      val wrapped = new LogicalWriteInfo {
        override def queryId(): String = info.queryId()
        override def schema(): StructType = info.schema()
        override def options(): CaseInsensitiveStringMap =
          new CaseInsensitiveStringMap(merged)
      }
      new WeatherLakeV2Sink.LakeTable(path).newWriteBuilder(wrapped)
    }
  }

  /** A TYPED (Parquet-payload) catalog table. The READ face delegates to
    * the engine's own Parquet DSv2 table
    * ([[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable]])
    * constructed over the manifest-committed file list — vectorized
    * decode, column pruning and filter pushdown to the Parquet scan,
    * partition columns recovered from `k=v` directories with types pinned
    * by the stored schema, aggregate pushdown (COUNT/MIN/MAX from
    * footers) — nothing reimplemented; the manifest layer only decides
    * WHICH files exist. The WRITE face is the typed task writer
    * committing ONE manifest per statement (same exactly-once and
    * overwrite discipline as the classic table). Time travel pins the
    * manifest set exactly like the classic face. Streaming is not
    * advertised yet (the micro-batch reader is line-oriented).
    *
    * Snapshot semantics: the file list resolves ONCE per scan build, so a
    * query reads one committed view; the file-listing cost is O(committed
    * files) driver metadata — the same class as the manifest read itself.
    */
  class TypedLakeCatalogTable(ident: String, val path: String,
      val tableSchema: StructType, val partCols: Seq[String],
      props: util.Map[String, String],
      val pinned: Option[Seq[String]] = None,
      val morResolved: Boolean = false,
      val pinnedExtra: Seq[String] = Nil)
      extends Table with SupportsRead with SupportsWrite {
    override def name(): String = ident
    override def schema(): StructType = tableSchema
    override def partitioning(): Array[Transform] =
      bucketSpec.map { case (c, n) =>
        Array(Expressions.bucket(n, c): Transform)
      }.getOrElse(partCols.map(Expressions.identity).toArray)
    override def properties(): util.Map[String, String] = props

    /** Hash-bucket layout (bucket column, count) of a bucketed table —
      * see [[LakeCatalog.BucketColProp]].
      */
    def bucketSpec: Option[(String, Int)] =
      Option(props.get(BucketColProp)).map(c =>
        (c, props.get(BucketCountProp).toInt))

    /** The generation a legacy un-stamped bucket marker resolves to:
      * the count before the first `evolve_bucketing` (history head),
      * None when the table never evolved (legacy = current count).
      */
    def bucketPriorHead: Option[Int] =
      Option(props.get(BucketPriorCountsProp))
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)
          .headOption.map(_.toInt))

    override def capabilities(): util.Set[TableCapability] =
      if (pinned.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
      else util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)

    def statsFields: Seq[String] = Option(props.get("statsFields"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def maxRecordsPerFile: Long = Option(props.get("maxRecordsPerFile"))
      .map(_.toLong).getOrElse(0L)

    /** Whether row-level deletes run MERGE-ON-READ (`dmlMode = 'mor'`
      * table property): DELETE publishes delete files instead of
      * rewriting touched data files. Reads are mor-aware regardless —
      * a table switched back to copy-on-write still honors its live
      * delete files until `CALL lake.system.reconcile` folds them in.
      */
    def morDml: Boolean =
      Option(props.get("dmlMode")).map(_.trim.toLowerCase) match {
        case None | Some("cow") | Some("copy-on-write") => false
        case Some("mor") | Some("merge-on-read") => true
        case Some(other) => throw new IllegalArgumentException(
          s"LakeCatalog: unknown dmlMode '$other' — use 'cow' " +
            "(copy-on-write, default) or 'mor' (merge-on-read)")
      }

    /** Which delete-file FLAVOR mor DML writes (`morDeletes` table
      * property): POSITION deletes — (target file, row ordinal), O(16
      * bytes)/row regardless of table width — by default; 'equality'
      * keeps the full-old-image form as an explicit fallback. Reads
      * subtract BOTH regardless (a table may hold a mix).
      */
    def morPositionDeletes: Boolean =
      Option(props.get("morDeletes")).map(_.trim.toLowerCase) match {
        case None | Some("position") => true
        case Some("equality") => false
        case Some(other) => throw new IllegalArgumentException(
          s"LakeCatalog: unknown morDeletes form '$other' — use " +
            "'position' (default) or 'equality'")
      }

    /** The WAP staging branch this table instance reads/writes through —
      * the session conf names one AND this table carries it (or a write
      * is about to create it). Reads of a table WITHOUT the branch stay
      * on main (so a staged fact joins un-staged dims naturally); writes
      * create the branch on first append (Iceberg wap.branch). Pinned
      * (time-travel) reads ignore WAP — VERSION AS OF addresses MAIN
      * history by contract.
      */
    private[sources] lazy val wapBranch: Option[String] =
      if (pinned.isDefined) None
      else WeatherLakeV2Sink.activeWapBranch()
    private[graft] lazy val wapReadBranch: Option[String] =
      wapBranch.filter(WeatherLakeV2Sink.branchExists(path, _))

    /** The analysis-time merge-on-read context of this table instance:
      * None when no delete rows are live (the overwhelmingly common
      * case — one cached manifest read answers it), else the pinned
      * (snapshot, delete files) pair [[graft.plans.MorScanResolution]]
      * rewrites reads through. Lazy + cached per table instance so the
      * analyzer's fixpoint passes pay the filesystem once. A WAP-staged
      * read resolves mor debt AS OF the branch's base (the branch view
      * is base + appends; a main delete landed after the fork is not
      * part of it).
      */
    lazy val morContext: Option[(Seq[String], Seq[String])] = {
      val snap = pinned.orElse(
        wapReadBranch.map(WeatherLakeV2Sink.readBranchBase(path, _)))
        .getOrElse(WeatherLakeV2Sink.liveManifests(path))
      // the full directive PAYLOAD lines (path + target-range stats) —
      // the rewrite's split-scan leg prunes on the ranges
      val dels = WeatherLakeV2Sink.morDeleteLinesAsOf(path, snap)
      if (dels.isEmpty) None else Some((snap, dels))
    }

    /** Whether live mor debt subtracts INSIDE the DSv2 scan (per-file
      * sorted-ordinal skip sets in the partition reader — the
      * Iceberg/Delta deletion-vector read path) instead of demoting the
      * read to [[graft.plans.MorScanResolution]]'s v1 rewrite. Inline
      * subtraction keeps every DSv2 scan face the rewrite drops:
      * `SupportsReportStatistics` (a small mor dim still elects
      * auto-broadcast), `KeyGroupedPartitioning` (a CDC-rate bucketed
      * fact keeps its zero-exchange storage-partitioned join), and
      * manifest-stats file pruning. Eligible when EVERY live delete
      * file is POSITION flavor (ordinals carry no data columns, so no
      * name mapping applies on the delete side and a deletion can never
      * move a row across buckets — per-bucket subtraction preserves the
      * reported partitioning by construction), the schema carries no
      * name mapping (renamed DATA columns still need the widened v1
      * read), and the delete payload fits [[LakeCatalog
      * .MorInlineMaxBytes]] (the skip sets ride the planned partitions;
      * past the bound the v1 broadcast-anti-join rewrite is the better
      * physical shape anyway). Equality-flavor or over-bound tables
      * demote exactly as before — fail-safe, and `compact_deletes`
      * converts them back to position flavor.
      */
    lazy val morInline: Boolean = morContext match {
      case None => false
      case Some((_, lines)) =>
        TypedLake.historicalNames(tableSchema).isEmpty && {
          val paths = lines.map(WeatherLakeV2Sink.entryPath)
          paths.forall(TypedLake.isPosDelete) && {
            val conf = LakeIO.conf
            val bytes = paths.map { f =>
              val p = new Path(f)
              p.getFileSystem(conf).getFileStatus(p).getLen
            }.sum
            bytes <= MorInlineMaxBytes
          }
        }
    }

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val spark = SparkSession.active
      // live scans carry the manifest ENTRY LINES so the builder can
      // prune the file LIST on per-file stats before any footer IO;
      // pinned (time-travel) scans resolve files only — fail-open, no
      // stats pruning (history reads are not the hot path)
      val (files, statsOf) = pinned match {
        case Some(snap) =>
          // pinnedExtra = a BRANCH read's staged files (VERSION AS OF
          // '<branch>'): the view is base-snapshot + staged appends
          (WeatherLakeV2Sink.filesAsOf(path, snap) ++ pinnedExtra,
            Map.empty[String, Map[String, WeatherLakeV2Sink.FieldStats]])
        case None =>
          // inline-mor scans pin data files to the SAME snapshot the
          // delete lines resolved from — never a racing commit's data
          // against an older delete set. A WAP-staged read resolves the
          // branch's base (== morContext's snapshot when debt is live)
          // and appends the staged entry lines, stats intact.
          val mainLines =
            if (morInline)
              WeatherLakeV2Sink.snapshotOf(path, morContext.get._1)
                .liveEntryLines
            else wapReadBranch match {
              case Some(b) => WeatherLakeV2Sink.snapshotOf(path,
                WeatherLakeV2Sink.readBranchBase(path, b)).liveEntryLines
              case None => WeatherLakeV2Sink.committedEntryLines(path)
            }
          val lines = mainLines ++ wapReadBranch.toSeq.flatMap(b =>
            WeatherLakeV2Sink.branchEntryLines(path, b))
          (lines.map(l => l.split('\t').head),
            lines.map(l => l.split('\t').head ->
              WeatherLakeV2Sink.lineStats(l)).toMap)
      }
      if (files.isEmpty) {
        // zero committed files: nothing to infer partitions from — an
        // empty LocalScan with the declared schema keeps SELECTs over a
        // fresh table analyzable. Streaming from the empty table is legal
        // too (a fresh pipeline often starts its readStream before the
        // first write lands): the micro-batch stream plans per-batch
        // delegates over whatever files later commits bring.
        val s = tableSchema
        val tablePath = path
        val opts = {
          val m = new util.HashMap[String, String]()
          m.put("basePath", path)
          options.entrySet().forEach(e => m.put(e.getKey, e.getValue))
          new CaseInsensitiveStringMap(m)
        }
        new ScanBuilder with Scan with LocalScan {
          override def build(): Scan = this
          override def readSchema(): StructType = s
          override def rows(): Array[InternalRow] = Array.empty
          override def description(): String = s"lake_typed_empty($path)"
          override def toMicroBatchStream(
              checkpointLocation: String): MicroBatchStream =
            new TypedLakeMicroBatchStream(tablePath, s, None, opts)
        }
      } else {
        val merged = new util.HashMap[String, String]()
        merged.put("basePath", path)
        options.entrySet().forEach(e => merged.put(e.getKey, e.getValue))
        new StatsPrunedParquetScanBuilder(ident, spark, path, tableSchema,
          files.sorted, statsOf, new CaseInsensitiveStringMap(merged),
          pinnedTable = pinned.isDefined, bucketSpec = bucketSpec,
          morDeleteLines = if (morInline) morContext.get._2 else Nil,
          partCols = partCols, bucketPriorCount = bucketPriorHead)
      }
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val jobId = Option(info.options().get("manifestId"))
        .map { id =>
          WeatherLakeV2Sink.ReservedIdPrefixes.find(id.startsWith).foreach { p =>
            throw new IllegalArgumentException(
              s"LakeCatalog: manifestId '$id' uses the reserved " +
                s"maintenance prefix '$p' (see FORMAT.md); pick another id")
          }
          id
        }
        .getOrElse(info.queryId())
      val sf = Option(info.options().get("statsFields"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(statsFields)
      val mrpf = Option(info.options().get("maxRecordsPerFile"))
        .map(_.toLong).getOrElse(maxRecordsPerFile)
      val tbl = this
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate
          with org.apache.spark.sql.connector.write.SupportsOverwrite
          with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
        private var truncateFirst = false
        private var overwriteEq: Option[Map[String, String]] = None
        private var dynamicOverwrite = false
        override def truncate(): WriteBuilder = { truncateFirst = true; this }
        override def overwrite(
            filters: Array[Filter]): WriteBuilder = {
          import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe}
          val pcs = partCols.map(_.toLowerCase).toSet
          if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncateFirst = true
          else overwriteEq = Some(filters.map {
            case EqualTo(a, v) if pcs(a.toLowerCase) =>
              a.toLowerCase -> String.valueOf(v)
            case EqualNullSafe(a, v) if pcs(a.toLowerCase) && v != null =>
              a.toLowerCase -> String.valueOf(v)
            case other => throw new IllegalArgumentException(
              "LakeCatalog: typed overwrite supports only partition-" +
                s"equality conditions on (${partCols.mkString(", ")}), " +
                s"got $other")
          }.toMap)
          this
        }
        override def overwriteDynamicPartitions(): WriteBuilder = {
          dynamicOverwrite = true; this
        }
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.Write
              with org.apache.spark.sql.connector.write
                .RequiresDistributionAndOrdering {
            private val overwriting =
              truncateFirst || overwriteEq.isDefined || dynamicOverwrite
            private val overwriteSnapshot =
              if (overwriting) Some(WeatherLakeV2Sink.loadSnapshot(path))
              else None
            // bucketed tables CLUSTER the write by the bucket transform
            // (resolved through this catalog's own V2 bucket function)
            // with one task per bucket — each bucket lands in ONE file
            // per write instead of one per (task, bucket)
            override def requiredDistribution():
                org.apache.spark.sql.connector.distributions.Distribution =
              tbl.bucketSpec match {
                case Some((c, n)) =>
                  org.apache.spark.sql.connector.distributions.Distributions
                    .clustered(Array(Expressions.bucket(n, c)))
                case None =>
                  org.apache.spark.sql.connector.distributions.Distributions
                    .unspecified()
              }
            override def requiredNumPartitions(): Int =
              tbl.bucketSpec.map(_._2).getOrElse(0)
            override def requiredOrdering():
                Array[org.apache.spark.sql.connector.expressions.SortOrder] =
              Array.empty
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new org.apache.spark.sql.connector.write.BatchWrite {
                override def createBatchWriterFactory(
                    pi: org.apache.spark.sql.connector.write.PhysicalWriteInfo):
                    org.apache.spark.sql.connector.write.DataWriterFactory =
                  new WeatherLakeV2Sink.LakeWriterFactory(PayloadCodec.Parquet(
                    path, tbl.tableSchema, tbl.partCols, sf, mrpf, tbl.bucketSpec))
                override def commit(
                    messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
                  val entries = messages.collect {
                    case WeatherLakeV2Sink.FilesWritten(ls) => ls
                  }.flatten.toIndexedSeq
                  tbl.wapBranch match {
                    case Some(b) if overwriting =>
                      throw new UnsupportedOperationException(
                        s"LakeCatalog: session stages on WAP branch '$b' " +
                          s"(${WeatherLakeV2Sink.WapBranchConf}) and " +
                          "branches are APPEND-ONLY — INSERT INTO stages; " +
                          "run overwrites on main after fast_forward/" +
                          "drop_branch")
                    case Some(b) =>
                      // stage on the branch (created at the live snapshot
                      // on first write — Iceberg wap.branch behavior)
                      WeatherLakeV2Sink.branchCommit(path, b, jobId,
                        entries, payload = Some(TypedLake.Payload))
                    case None => overwriteSnapshot match {
                      case Some(snap) if truncateFirst =>
                        WeatherLakeV2Sink.publishCommit(path, "overwrite",
                          snapshot = snap.live, supersedes = snap.live,
                          lines = entries, payload = Some(TypedLake.Payload))
                      case Some(snap) =>
                        WeatherLakeV2Sink.commitPartitionOverwrite(snap,
                          entries, overwriteEq, dynamicOverwrite,
                          payload = Some(TypedLake.Payload),
                          decodeValue = org.apache.spark.sql.catalyst.catalog
                            .ExternalCatalogUtils.unescapePathName)
                      case None => WeatherLakeV2Sink.writeManifest(path, jobId,
                        entries, payload = Some(TypedLake.Payload))
                    }
                  }
                }
                override def abort(
                    messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
              }

            /** Native streaming sink face — per-epoch manifests named
              * `<queryId>-<epochId>` (both checkpoint-stable), so a
              * restart replaying a committed epoch re-publishes the SAME
              * name and the rename short-circuits: exactly-once
              * publication, the classic table's discipline on the typed
              * payload.
              */
            override def toStreaming:
                org.apache.spark.sql.connector.write.streaming.StreamingWrite =
              new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
                require(!overwriting,
                  "LakeCatalog: streaming writes append per epoch — " +
                    "outputMode('complete')/truncate/overwrite has no " +
                    "lake semantics; use batch INSERT OVERWRITE")
                override def createStreamingWriterFactory(
                    pi: org.apache.spark.sql.connector.write.PhysicalWriteInfo):
                    org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
                  new WeatherLakeV2Sink.LakeWriterFactory(PayloadCodec.Parquet(
                    path, tbl.tableSchema, tbl.partCols, sf, mrpf, tbl.bucketSpec))
                override def commit(epochId: Long,
                    messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
                  tbl.wapBranch.foreach { b =>
                    throw new UnsupportedOperationException(
                      s"LakeCatalog: session stages on WAP branch '$b' " +
                        s"(${WeatherLakeV2Sink.WapBranchConf}) — streaming " +
                        "epoch commits do not stage on branches; unset the " +
                        "conf for streaming sinks")
                  }
                  val entries = messages.collect {
                    case WeatherLakeV2Sink.FilesWritten(ls) => ls
                  }.flatten.toIndexedSeq
                  WeatherLakeV2Sink.writeManifest(path, s"$jobId-$epochId",
                    entries, payload = Some(TypedLake.Payload))
                }
                override def abort(epochId: Long,
                    messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
              }
          }
      }
    }
  }

  /** The typed scan builder: MANIFEST-STATS file pruning in front of the
    * engine's own ParquetScanBuilder. The engine's Parquet path skips
    * row groups on footer statistics — but the footer must be OPENED,
    * and at 100 TB on an object store, one GET per file to decide "no
    * rows here" is the cost the manifest's per-file min/max exists to
    * avoid. This builder intercepts the pushed catalyst filters, prunes
    * the committed FILE LIST driver-side against the entry-line stats
    * (range/equality conjuncts on measured columns; fail-open — a file
    * without stats or an unmeasured field always survives; strict
    * bounds widen to inclusive), and only then constructs the delegate
    * over the surviving files. Every pushdown face the delegate has is
    * forwarded (columns, catalyst filters, aggregates, variant
    * extractions), so nothing the engine could do is lost — the filters
    * still reach the Parquet scan for row-group skipping within the
    * survivors.
    *
    * Call-order note: the engine pushes filters before building; if a
    * caller ever builds first (no filters), the delegate covers ALL
    * files — pruning is an optimization, never a correctness gate.
    */
  class StatsPrunedParquetScanBuilder(ident: String,
      spark: SparkSession, path: String, tableSchema: StructType,
      files: Seq[String],
      statsOf: Map[String, Map[String, WeatherLakeV2Sink.FieldStats]],
      options: CaseInsensitiveStringMap,
      pinnedTable: Boolean = false,
      bucketSpec: Option[(String, Int)] = None,
      morDeleteLines: Seq[String] = Nil,
      partCols: Seq[String] = Nil,
      bucketPriorCount: Option[Int] = None)
      extends ScanBuilder
      with SupportsPushDownRequiredColumns
      with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast => CCast, EqualTo => CEq, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal => CLit}

    private var inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder = _
    // zero-RPC construction: the paths are the manifest's exact leaf
    // files, so the file index is seeded from batched directory listings
    // instead of the engine's per-file glob-check + re-stat
    // ([[DriverListing]])
    private def mkInner(fs: Seq[String]) =
      DriverListing.parquetScanBuilder(ident, spark, options, fs, tableSchema)
    private def ensure() = {
      if (inner == null) inner = mkInner(files)
      inner
    }

    /** One canonical string rendering of a literal — the SAME
      * `CAST(x AS STRING)` the typed writer used to collect the stats,
      * so comparisons live in one domain.
      */
    private def render(l: CLit): Option[String] =
      if (l.value == null) None
      else Option(CCast(l, StringType, Some("UTC")).eval(null)).map(_.toString)

    /** (field, lo, hi, numericDomain) bounds of one pushed conjunct, when
      * it is a simple comparison between a top-level column and a
      * literal. Strict bounds widen to inclusive (sound for pruning).
      * The conjunct's comparison DOMAIN follows the resolved column type
      * (these are engine-pushed, type-coerced expressions — a cross-type
      * comparison arrives wrapped in Cast and matches no pattern here, so
      * it fails open); pruning applies a bound only to stats flagged with
      * the SAME domain, never a numeric bound to lexical endpoints or the
      * reverse.
      */
    private def boundsOf(e: Expression): Option[(String, Option[String], Option[String], Boolean)] = {
      def num(a: AttributeReference): Boolean =
        a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      e match {
        case CEq(a: AttributeReference, l: CLit) =>
          render(l).map(v => (a.name, Some(v), Some(v), num(a)))
        case CEq(l: CLit, a: AttributeReference) =>
          render(l).map(v => (a.name, Some(v), Some(v), num(a)))
        case GreaterThan(a: AttributeReference, l: CLit) =>
          render(l).map(v => (a.name, Some(v), None, num(a)))
        case GreaterThanOrEqual(a: AttributeReference, l: CLit) =>
          render(l).map(v => (a.name, Some(v), None, num(a)))
        case LessThan(a: AttributeReference, l: CLit) =>
          render(l).map(v => (a.name, None, Some(v), num(a)))
        case LessThanOrEqual(a: AttributeReference, l: CLit) =>
          render(l).map(v => (a.name, None, Some(v), num(a)))
        case GreaterThan(l: CLit, a: AttributeReference) =>
          render(l).map(v => (a.name, None, Some(v), num(a)))
        case GreaterThanOrEqual(l: CLit, a: AttributeReference) =>
          render(l).map(v => (a.name, None, Some(v), num(a)))
        case LessThan(l: CLit, a: AttributeReference) =>
          render(l).map(v => (a.name, Some(v), None, num(a)))
        case LessThanOrEqual(l: CLit, a: AttributeReference) =>
          render(l).map(v => (a.name, Some(v), None, num(a)))
        case _ => None
      }
    }

    // the engine-pushed conjuncts, kept so the inline-mor targeted leg
    // can re-push the SAME filters into its own delegate (row-group and
    // page skipping on targeted files — the row-index column keeps
    // ordinal subtraction exact under skipping)
    private var pushedExprs: Seq[Expression] = Nil

    override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
      pushedExprs = filters
      if (inner == null && statsOf.nonEmpty) {
        val bounds = filters.flatMap(boundsOf)
        // lexical (non-numeric) stats compare in Java-string order while
        // the engine filters in UTF8-binary order; the two agree on
        // ASCII but can diverge on surrogate-pair code points — so
        // string pruning applies only when every compared value is
        // ASCII (else fail open, the keep-rule of all pruning here)
        def ascii(s: String): Boolean = s.forall(_ < 128)
        val pruned =
          if (bounds.isEmpty) files
          else files.filter { f =>
            val st = statsOf.getOrElse(f, Map.empty)
            bounds.forall { case (field, lo, hi, numericDomain) =>
              st.get(field).forall { fs =>
                if (fs.numeric != numericDomain) true // domain mismatch
                else if (!fs.numeric && !(ascii(fs.min) && ascii(fs.max) &&
                    lo.forall(ascii) && hi.forall(ascii))) true
                else fs.overlaps(lo, hi)
              }
            }
          }
        inner = mkInner(if (pruned.isEmpty) files.take(1) else pruned)
        // (an all-pruned list keeps one file: the delegate needs a
        // non-empty index to plan; the file's rows are filtered out
        // row-wise anyway — correctness never rides the prune)
      }
      ensure().pushFilters(filters)
    }
    override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
      ensure().pushedFilters
    // remembered so the STREAMING face's per-batch delegates plan with
    // the same projection the engine pushed into this builder
    private var prunedTo: Option[StructType] = None
    override def pruneColumns(requiredSchema: StructType): Unit = {
      prunedTo = Some(requiredSchema)
      ensure().pruneColumns(requiredSchema)
    }
    // aggregate pushdown reads parquet FOOTER counts — blind to mor
    // debt, so a pushed aggregate would see deleted rows. COUNT(*) with
    // no grouping is the one EXACTLY compensable case under position
    // debt (this builder only carries morDeleteLines when every live
    // delete file is position flavor — inline eligibility): each file's
    // footer count minus its skip-set size IS its live row count, so the
    // pushed partials stay per-file ([[MorCompensatedCountScan]]) and
    // the engine's final sum is exact. Everything else (MIN/MAX touch
    // values, grouped counts key on data) stays refused while debt is
    // live — reads remain correct through the skip sets.
    private var aggPushedUnderMor = false
    private def countStarOnly(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Boolean =
      agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
        agg.aggregateExpressions.forall(
          _.isInstanceOf[org.apache.spark.sql.connector.expressions
            .aggregate.CountStar])

    /** MANIFEST-STATS aggregate answering: an unfiltered, ungrouped,
      * debt-free MIN/MAX over columns whose per-file stats cover EVERY
      * live entry line is answered from the manifest alone — O(files)
      * driver metadata, zero file IO, not even a footer GET (the
      * Iceberg manifest-aggregate move; at 100 TB, `SELECT max(ts)
      * FROM t` is a metadata lookup, not a scan). Exactness rules:
      * values reduce in the COLUMN's own internal ordering after a
      * cast back from the writer's canonical string rendering (never
      * the pruning layer's double-compare — longs above 2^53 matter
      * for ANSWERS); lexical stats require all-ASCII endpoints (Java
      * vs UTF8-binary order agree on ASCII, and an ASCII extreme
      * bounds every value in both orders); a domain mismatch, a
      * missing per-file entry, an unparsable value, mor debt, pushed
      * filters or grouping all REFUSE — the ordinary scan answers.
      * Gated by the same conf as parquet aggregate pushdown.
      */
    private var statsAggAnswer: Option[(StructType, InternalRow)] = None
    private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }

    /** Whether the FOOTER aggregate path is safe to take: the engine's
      * footer reader crashes on a file missing an aggregated column
      * (metadata-only schema evolution leaves old files without it).
      * Per-file stats are a presence witness — a column whose stats
      * cover SOME but not ALL live files is the evolution signature,
      * so the footer path refuses (the ordinary scan answers, null-
      * filling old files correctly). Zero coverage (statsFields never
      * configured) keeps the pre-existing forwarding behavior.
      */
    private def aggFooterSafe(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Boolean = {
      import org.apache.spark.sql.connector.expressions.aggregate.{Count, Max, Min}
      val cols = agg.aggregateExpressions.toSeq.flatMap {
        case m: Min => fieldOf(m.column)
        case m: Max => fieldOf(m.column)
        case c: Count => fieldOf(c.column)
        case _ => Seq.empty
      }
      cols.forall { name =>
        val covered = files.count(f => statsOf.getOrElse(f, Map.empty)
          .keys.exists(_.equalsIgnoreCase(name)))
        covered == 0 || covered == files.size
      }
    }

    private def manifestStatsAnswer(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Option[(StructType, InternalRow)] = {
      import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
      if (!spark.sessionState.conf.getConf(org.apache.spark.sql.internal
          .SQLConf.PARQUET_AGGREGATE_PUSHDOWN_ENABLED)) return None
      if (agg.groupByExpressions.nonEmpty || pushedExprs.nonEmpty ||
          morDeleteLines.nonEmpty || files.isEmpty) return None
      val wants: Seq[(Boolean, String)] =
        agg.aggregateExpressions.toSeq.map {
          case m: Min => fieldOf(m.column) match {
            case Some(n) => (true, n)
            case None => return None
          }
          case m: Max => fieldOf(m.column) match {
            case Some(n) => (false, n)
            case None => return None
          }
          case _ => return None
        }
      if (wants.isEmpty) return None
      val answered = wants.map { case (isMin, name) =>
        val field = tableSchema.fields
          .find(_.name.equalsIgnoreCase(name)).getOrElse(return None)
        val numericDomain =
          field.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        val perFile: Seq[String] = files.map { f =>
          val fs = statsOf.getOrElse(f, Map.empty)
            .collectFirst { case (k, st)
                if k.equalsIgnoreCase(name) => st }
            .getOrElse(return None)
          if (fs.numeric != numericDomain) return None
          if (!fs.numeric &&
              !(fs.min.forall(_ < 128) && fs.max.forall(_ < 128)))
            return None
          if (isMin) fs.min else fs.max
        }
        import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, FloatType, IntegerType, ShortType, TimestampType}
        // the numeric-domain accumulator quantizes through DOUBLE, so
        // integral answers are exact only strictly below 2^53 and whole
        // (pruning stays sound either way — both prune sides quantize
        // monotonically — but an ANSWER must refuse past exactness);
        // decimals refuse outright (quantized), double/float endpoints
        // ARE the stored doubles, and the lexical domains (string/date/
        // timestamp/boolean) carry exact canonical renderings whose
        // order matches SQL order (ASCII-guarded for strings)
        val value: Any = field.dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            val ds = perFile.map(_.toDoubleOption.getOrElse(return None))
            if (!ds.forall(d => d.isWhole &&
                math.abs(d) < 9007199254740992.0)) return None
            val l = if (isMin) ds.map(_.toLong).min else ds.map(_.toLong).max
            field.dataType match {
              case LongType => l
              case IntegerType => l.toInt
              case ShortType => l.toShort
              case ByteType => l.toByte
              case _ => return None
            }
          case DoubleType =>
            val ds = perFile.map(_.toDoubleOption.getOrElse(return None))
            if (isMin) ds.min else ds.max
          case FloatType =>
            val ds = perFile
              .map(_.toDoubleOption.getOrElse(return None).toFloat)
            if (isMin) ds.min else ds.max
          case _: org.apache.spark.sql.types.DecimalType => return None
          case StringType | DateType | TimestampType | BooleanType =>
            val internal = perFile.map { s =>
              val v = CCast(org.apache.spark.sql.catalyst.expressions
                .Literal(org.apache.spark.unsafe.types.UTF8String
                  .fromString(s), StringType),
                field.dataType, Some("UTC")).eval(null)
              if (v == null) return None
              v
            }
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(field.dataType)
            if (isMin) internal.min(ord) else internal.max(ord)
          case _ => return None
        }
        (StructField(s"${if (isMin) "min" else "max"}(${field.name})",
          field.dataType, nullable = true), value)
      }
      Some((StructType(answered.map(_._1)),
        InternalRow.fromSeq(answered.map(_._2))))
    }

    override def pushAggregation(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
      if (morDeleteLines.isEmpty) {
        if (statsAggAnswer.isEmpty) statsAggAnswer = manifestStatsAnswer(agg)
        statsAggAnswer.isDefined ||
          (aggFooterSafe(agg) && ensure().pushAggregation(agg))
      } else if (countStarOnly(agg) && ensure().pushAggregation(agg)) {
        aggPushedUnderMor = true
        true
      } else false
    override def supportCompletePushDown(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
      // under debt the compensated counts are PER-FILE partials — the
      // engine must keep its final aggregation to sum them
      if (morDeleteLines.isEmpty) {
        statsAggAnswer = manifestStatsAnswer(agg)
        statsAggAnswer.isDefined ||
          (aggFooterSafe(agg) && ensure().supportCompletePushDown(agg))
      } else false
    override def pushVariantExtractions(
        extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction]): Array[Boolean] =
      ensure().pushVariantExtractions(extractions)
    /** One canonical rendering of a V2 literal — the same domain as
      * [[render]] (what the writer's stats and partition paths carry).
      */
    private def renderV2(
        l: org.apache.spark.sql.connector.expressions.Literal[_])
        : Option[String] =
      if (l.value == null) None
      else render(org.apache.spark.sql.catalyst.expressions.Literal
        .create(l.value, l.dataType))

    /** A runtime (DPP-delivered) predicate as (top-level field, rendered
      * candidate values) — IN and equality only; anything else is None
      * (fail open, the keep-rule of all pruning here). A null among the
      * values fails the whole predicate open (three-valued semantics).
      */
    private def parseRuntime(
        p: org.apache.spark.sql.connector.expressions.filter.Predicate)
        : Option[(String, Seq[String])] = {
      def field(e: org.apache.spark.sql.connector.expressions.Expression)
          : Option[String] = e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
            if f.fieldNames().length == 1 =>
          Some(f.fieldNames()(0))
        case _ => None
      }
      def lit(e: org.apache.spark.sql.connector.expressions.Expression)
          : Option[String] = e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          renderV2(l)
        case _ => None
      }
      val ch = p.children()
      p.name() match {
        case "IN" if ch.length >= 2 =>
          field(ch.head).flatMap { f =>
            val vals = ch.tail.toSeq.map(lit)
            if (vals.exists(_.isEmpty)) None else Some(f -> vals.flatten)
          }
        case "=" if ch.length == 2 =>
          field(ch(0)).flatMap(f => lit(ch(1)).map(v => f -> Seq(v)))
            .orElse(field(ch(1)).flatMap(f => lit(ch(0)).map(v => f -> Seq(v))))
        case _ => None
      }
    }

    /** RUNTIME FILE PRUNING (the scan-side half of
      * [[TypedLakeStreamableScan]]'s `SupportsRuntimeV2Filtering` face):
      * given the engine's join-driven runtime predicates, the surviving
      * file set — pruned on PARTITION VALUES (classic dynamic partition
      * pruning, against the typed writer's unescaped path values) and on
      * MANIFEST STATS (dynamic FILE pruning: a per-file min/max range no
      * candidate value overlaps rules the file out, with the same
      * domain/ASCII keep-rules as plan-time stats pruning). Every
      * unknown — unparseable predicate, missing partition segment,
      * missing stats, domain mismatch — fails OPEN.
      */
    private def runtimePrune(
        preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Option[Set[String]] = {
      val conds = preds.toSeq.flatMap(parseRuntime(_))
      if (conds.isEmpty) None
      else {
        def ascii(s: String): Boolean = s.forall(_ < 128)
        val pcs = partCols.map(_.toLowerCase).toSet
        Some(files.filter { f =>
          conds.forall { case (fieldName, vals) =>
            if (pcs(fieldName.toLowerCase)) {
              TypedLake.partitionValuesTyped(path, f)
                .collectFirst { case (k, v)
                    if k.equalsIgnoreCase(fieldName) => v }
                .forall(vals.contains)
            } else {
              val numericDomain = tableSchema.fields
                .find(_.name.equalsIgnoreCase(fieldName))
                .exists(_.dataType
                  .isInstanceOf[org.apache.spark.sql.types.NumericType])
              statsOf.getOrElse(f, Map.empty)
                .collectFirst { case (k, fs)
                    if k.equalsIgnoreCase(fieldName) => fs }
                .forall { fs =>
                  if (fs.numeric != numericDomain) true
                  else if (!fs.numeric && !(ascii(fs.min) && ascii(fs.max) &&
                      vals.forall(ascii))) true
                  else vals.exists(v => fs.overlaps(Some(v), Some(v)))
                }
            }
          }
        }.toSet)
      }
    }

    /** The attributes runtime filters may target: partition columns
      * (dynamic partition pruning) plus every stats-covered field
      * (dynamic file pruning). EMPTY for bucketed tables — their scans
      * report KeyGroupedPartitioning, and runtime-pruned buckets would
      * break the storage-partitioned join's partition alignment; the
      * zero-exchange join is worth more than the prune.
      */
    private def runtimeAttrs: Seq[String] =
      if (bucketSpec.isDefined) Seq.empty
      else {
        val statFields = statsOf.valuesIterator.flatMap(_.keysIterator)
          .toSet.toSeq
        (partCols ++ statFields).distinct
          .filter(n => tableSchema.fieldNames.exists(_.equalsIgnoreCase(n)))
      }

    override def build(): Scan = {
      statsAggAnswer.foreach { case (schema, row) =>
        return new ManifestStatsAggScan(ident, schema, row)
      }
      val primary = ensure().build()
      if (aggPushedUnderMor)
        return new MorCompensatedCountScan(primary, morDeleteLines)
      // inline-mor scans carry a SECOND delegate over the TARGETED files
      // only, built lazily by the Scan once the skip sets are loaded
      // (the targeted file list is the delete files' payload). Two
      // flavors: the ROW-INDEX delegate projects the engine's
      // `_tmp_metadata_row_index` column and re-pushes the same filters
      // — the parquet readers stamp each row's exact physical ordinal,
      // so row-group/page skipping stays ON for targeted files and
      // subtraction looks the ordinal up instead of counting emitted
      // rows. The LEGACY delegate (schemas the vectorized reader cannot
      // take — the row path generates no row indices) keeps the old
      // contract: no filters, whole-file reads, counted ordinals.
      val mkOrdinal: Option[(Seq[String], Boolean) => Scan] =
        if (morDeleteLines.isEmpty) None
        else Some { (targeted, withRowIdx) =>
          val b = mkInner(targeted)
          val base = prunedTo.getOrElse(tableSchema)
          if (withRowIdx) {
            // NULLABLE is load-bearing: the column is absent from every
            // data file, and the vectorized reader admits a missing
            // column only when OPTIONAL — it then recognizes the
            // row-index name and fills the vector from the generator
            // instead of nulls (a required field would throw
            // "Required column is missing" before the special case)
            b.pruneColumns(StructType(base.fields :+ StructField(
              org.apache.spark.sql.execution.datasources.parquet
                .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
              LongType, nullable = true)))
            b.pushFilters(pushedExprs)
          } else {
            b.pruneColumns(base)
          }
          b.build()
        }
      new TypedLakeStreamableScan(
        primary, path, tableSchema, prunedTo, options, pinnedTable,
        bucketSpec, morDeleteLines, mkOrdinal,
        runtimeAttrs = runtimeAttrs, runtimePruneFn = runtimePrune,
        bucketPriorCount = bucketPriorCount)
    }

    /** Test seam: the file list the delegate was (or would be) built
      * over — what a plan-level spec asserts stats pruning against.
      */
    private[graft] def plannedFiles(pushed: Seq[Expression]): Seq[String] = {
      pushFilters(pushed)
      // the delegate's scan plans its partitions from the pruned list
      ensure().build()
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
        .fileIndex.inputFiles.toSeq
    }
  }

  /** The typed scan the builder hands the engine: every BATCH face
    * forwards to the engine's own ParquetScan untouched (vectorized
    * decode, pruning, statistics, metadata, columnar mode), and on top
    * the scan is STREAMABLE — `readStream.table("lake.t")` plans
    * micro-batches over the manifest history ([[TypedLakeMicroBatchStream]]),
    * giving typed tables the classic source's full streaming contract
    * (manifest-set offsets, maxManifestsPerTrigger admission,
    * AvailableNow drain, layout-only exactly-once for caught-up streams,
    * loud vacuum-horizon failures) on the Parquet payload.
    */
  class TypedLakeStreamableScan(inner: Scan, path: String,
      tableSchema: StructType, prunedTo: Option[StructType],
      options: CaseInsensitiveStringMap, pinnedTable: Boolean,
      bucketSpec: Option[(String, Int)] = None,
      morDeleteLines: Seq[String] = Nil,
      mkOrdinal: Option[(Seq[String], Boolean) => Scan] = None,
      runtimeAttrs: Seq[String] = Nil,
      runtimePruneFn: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate] => Option[Set[String]] = _ => None,
      bucketPriorCount: Option[Int] = None)
      extends Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics
      with org.apache.spark.sql.connector.read.SupportsReportPartitioning
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
      with org.apache.spark.sql.internal.connector.SupportsMetadata {
    override def readSchema(): StructType = inner.readSchema()
    override def description(): String = inner.description()

    /** RUNTIME (join-driven) FILE PRUNING — `SupportsRuntimeV2Filtering`:
      * the engine evaluates the build side of a selective join first,
      * hands the probe-side scan the resulting IN/equality predicates
      * on any attribute this scan advertised, and re-plans partitions.
      * The prune drops whole FILES — on partition values (classic DPP)
      * and on manifest stats (dynamic file pruning, the Photon/Delta
      * "DFP" move: a dim-driven range can skip fact files no plan-time
      * literal could) — before a single footer is opened. The engine
      * re-evaluates the join itself, so pruning is an IO optimization,
      * never a correctness gate; every unknown fails open. Bucketed
      * scans advertise NO attributes (pruned buckets would break the
      * storage-partitioned join's alignment).
      */
    @volatile private var runtimeKeep: Option[Set[String]] = None
    /** Test seam: (kept, total planned) after a runtime filter fired. */
    @volatile private[graft] var runtimeKeptFiles: Option[(Int, Int)] = None
    override def filterAttributes():
        Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      // only columns surviving the scan's own column pruning: the
      // engine RESOLVES these against the pruned relation output and
      // fails hard (not open) on a miss
      runtimeAttrs
        .filter(n => readSchema().fieldNames.exists(_.equalsIgnoreCase(n)))
        .map(Expressions.column).toArray
    override def filter(predicates: Array[org.apache.spark.sql.connector
        .expressions.filter.Predicate]): Unit =
      runtimeKeep = runtimePruneFn(predicates)
    private def keepAfterRuntime(
        f: org.apache.spark.sql.execution.datasources.PartitionedFile)
        : Boolean =
      runtimeKeep.forall(_.contains(skipKeyOf(f)))

    /** The delegate Batch, planned ONCE — bucketGroups and toBatch both
      * consume it, and re-building would repeat the delegate's file
      * planning (and any listing IO) per query.
      */
    private lazy val delegateBatch: Batch = inner.toBatch

    /** INLINE MOR SUBTRACTION: per-target sorted deleted-ordinal arrays,
      * keyed by the target file's manifest join key — loaded once per
      * scan with one tiny job over the live position-delete files
      * (O(deleted rows), exactly the payload the v1 rewrite would
      * broadcast to every anti-join probe anyway, bounded by
      * [[MorInlineMaxBytes]] at eligibility). Each targeted file's array
      * rides ITS OWN planned partition — no broadcast plumbing, and a
      * clean file's partition carries nothing.
      */
    private lazy val morSkips: Map[String, Array[Long]] =
      if (morDeleteLines.isEmpty) Map.empty
      else {
        val spark = SparkSession.active
        val files = morDeleteLines.map(WeatherLakeV2Sink.entryPath)
        // keys live in the RAW DISK-PATH domain: delete-file targets ARE
        // manifest entry paths (raw, scheme-less by writer construction)
        DriverListing.parquetFrame(spark, files, TypedLake.MorPosSchema)
          .collect()
          .groupBy(_.getString(0))
          .map { case (k, rows) =>
            k -> rows.map(_.getLong(1)).distinct.sorted
          }
      }

    /** A planned split's path in the raw disk domain: the engine's
      * `SparkPath` string is scheme-qualified and URL-encoded exactly
      * ONCE relative to the entry path (an escaped partition dir's
      * literal `%` arrives as `%25`) — `URI.getPath` strips the scheme
      * and undoes that one encoding. Never key on the entry's raw URI
      * path here: it RE-encodes, and a literal-`%` path would double-encode
      * past the delete targets (resurrecting their rows).
      */
    private def skipKeyOf(
        f: org.apache.spark.sql.execution.datasources.PartitionedFile)
        : String =
      new java.net.URI(f.filePath.toString).getPath

    /** A targeted file re-planned as ONE whole-file split — the LEGACY
      * (counting) ordinal mode: the skip reader reconstructs each row's
      * physical ordinal by counting emitted rows, which is exact only
      * over a full filterless read from offset 0.
      */
    private def wholeFile(
        f: org.apache.spark.sql.execution.datasources.PartitionedFile)
        : org.apache.spark.sql.execution.datasources.PartitionedFile =
      f.copy(start = 0L, length = f.fileSize)

    /** The primary delegate's planned partitions when ALL are file-based
      * (the invariant every inline-mor and bucket path rides) — None on
      * a non-file delegate. Planned once.
      */
    private lazy val delegateFileParts:
        Option[Seq[org.apache.spark.sql.execution.datasources.FilePartition]] = {
      val parts = delegateBatch.planInputPartitions().toSeq
      val fileParts = parts.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp
      }
      if (fileParts.size != parts.size) None else Some(fileParts)
    }

    /** The inline-mor TARGETED leg, resolved once per scan:
      *
      *  - ROW-INDEX mode (vectorized-readable schemas — the common
      *    case): a second delegate over ONLY the targeted files projects
      *    the parquet readers' `_tmp_metadata_row_index` column and
      *    re-pushes the scan's filters. Each emitted row carries its
      *    exact PHYSICAL ordinal (the generator reads row-group/page
      *    offsets from the footer), so filters, row-group skipping and
      *    split planning all stay ON for targeted files; subtraction is
      *    a lookup, and the extra column projects away into the
      *    primary's column order. The delegate's vectorized reader also
      *    gives the leg a COLUMNAR face ([[RowIdxSkipColumnarReader]]),
      *    so one live delete file no longer demotes the whole scan's
      *    columnar handoff.
      *  - LEGACY (counting) mode (schemas the vectorized reader cannot
      *    take — the DSv2 parquet-mr row path generates no row
      *    indices): filterless whole-file reads with counted ordinals,
      *    row-based, exactly the r15 contract. Fail-safe, never
      *    fail-wrong.
      */
    private lazy val ordinalLeg: Option[MorOrdinalLeg] = {
      if (morSkips.isEmpty) None
      else {
        val fileParts = delegateFileParts.getOrElse(
          throw new IllegalStateException(
            "LakeCatalog: inline mor subtraction needs a file-based " +
              "delegate scan"))
        val skips = morSkips
        val targetedRaw = fileParts.flatMap(_.files)
          .map(skipKeyOf).distinct.filter(skips.contains).sorted
        if (targetedRaw.isEmpty) None
        else {
          val mk = mkOrdinal.getOrElse(throw new IllegalStateException(
            "LakeCatalog: inline mor scan without an ordinal delegate"))
          val sqlConf = SparkSession.active.sessionState.conf
          val rowIdxName = org.apache.spark.sql.execution.datasources
            .parquet.ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
          // a table column spelled like the temp row-index column would
          // collide with the generator — vanishingly unlikely; demote
          val rowIdxScan =
            if (tableSchema.fieldNames.contains(rowIdxName)) None
            else Some(mk(targetedRaw, true))
          val vectorized = rowIdxScan.exists(s =>
            org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
              .isBatchReadSupportedForSchema(sqlConf, s.readSchema()))
          if (vectorized) {
            val scan = rowIdxScan.get
            val schema = scan.readSchema()
            val rowIdxOrd = schema.fieldIndex(rowIdxName)
            val prim = inner.readSchema()
            val outOrdinals = prim.fields.map(f => schema.fieldIndex(f.name))
            val batch = scan.toBatch
            // regroup the delegate's planned splits ONE PARTITION PER
            // TARGETED FILE (splits sorted by offset, so row indices
            // stay monotonic per reader): each partition pairs with its
            // file's skip set
            val partsByFile = batch.planInputPartitions().toSeq
              .collect { case fp: org.apache.spark.sql.execution
                  .datasources.FilePartition => fp }
              .flatMap(_.files)
              .groupBy(skipKeyOf)
              .map { case (k, fs) =>
                k -> org.apache.spark.sql.execution.datasources
                  .FilePartition(0, fs.sortBy(_.start).toArray)
              }
            Some(MorOrdinalLeg(batch.createReaderFactory(), partsByFile,
              rowIdxOrd = rowIdxOrd, outOrdinals = outOrdinals,
              outSchema = prim, rowIndexMode = true))
          } else {
            val scan = mk(targetedRaw, false)
            require(scan.readSchema() == inner.readSchema(),
              "mor-inline ordinal delegate must project the same schema")
            val partsByFile = fileParts.flatMap(_.files)
              .filter(f => skips.contains(skipKeyOf(f)))
              .groupBy(skipKeyOf)
              .map { case (k, fs) =>
                k -> org.apache.spark.sql.execution.datasources
                  .FilePartition(0, Array(wholeFile(fs.head)))
              }
            Some(MorOrdinalLeg(scan.toBatch.createReaderFactory(),
              partsByFile, rowIdxOrd = -1, outOrdinals = Array.empty,
              outSchema = inner.readSchema(), rowIndexMode = false))
          }
        }
      }
    }

    /** The delegate's planned files grouped per bucket id (file-name
      * marker, [[TypedLake.bucketOfFile]]) — None when the table is not
      * bucketed OR any planned file lacks the marker (fail-safe: report
      * unknown partitioning and let the join shuffle, never mis-group).
      */
    private lazy val bucketGroups: Option[Seq[(Int,
        Seq[org.apache.spark.sql.execution.datasources.PartitionedFile])]] =
      bucketSpec.flatMap { case (_, n) =>
        delegateFileParts.flatMap { fileParts =>
          val tagged = fileParts.flatMap(_.files).map(f =>
            TypedLake.bucketGenOfFile(f.urlEncodedPath) -> f)
          // generation UNIFORMITY gates the co-partitioning claim: a
          // file written under a different bucket COUNT holds keys that
          // split across several current-count ids, so reporting
          // KeyGroupedPartitioning over mixed generations would
          // mis-group (wrong SPJ answers, not just a lost
          // optimization). A file's generation = its stamped count,
          // else the pre-evolution count (legacy markers), else the
          // current count. Mixed or unmarked → unknown partitioning
          // (correct, just shuffles); compact migrates and the SPJ
          // layout returns.
          def genOf(cnt: Option[Int]): Int =
            cnt.orElse(bucketPriorCount).getOrElse(n)
          if (tagged.exists(t => t._1.isEmpty ||
              genOf(t._1.get._2) != n)) None
          else Some(tagged.groupBy(_._1.get._1).toSeq
            .map { case (b, fs) => b -> fs.map(_._2) }
            .sortBy(_._1))
        }
      }

    /** STORAGE-PARTITIONED JOIN face: a bucketed table's scan reports
      * KeyGroupedPartitioning over its bucket transform, one input
      * partition per (non-empty) bucket carrying its key — with
      * `spark.sql.sources.v2.bucketing.enabled`, two lake tables
      * bucketed the same way join with ZERO exchange on either side
      * (and a following aggregate on the same key stays exchange-free
      * too). The transform resolves through [[LakeCatalog]]'s own V2
      * `bucket` function, whose hash IS the writer's routing hash —
      * the reported co-partitioning is truthful by construction.
      */
    override def outputPartitioning():
        org.apache.spark.sql.connector.read.partitioning.Partitioning =
      (bucketSpec, bucketGroups) match {
        case (Some((c, n)), Some(groups)) =>
          new org.apache.spark.sql.connector.read.partitioning
            .KeyGroupedPartitioning(
              Array(Expressions.bucket(n, c)), groups.size)
        case _ =>
          new org.apache.spark.sql.connector.read.partitioning
            .UnknownPartitioning(0)
      }

    override def toBatch: Batch = (bucketGroups, morSkips.isEmpty) match {
      case (None, true) if runtimeAttrs.isEmpty => delegateBatch
      case (None, true) =>
        // plain scan with runtime filtering advertised: pass through
        // untouched until a runtime filter actually fires, then re-plan
        // the delegate's own partitions minus the pruned files
        val delegate = delegateBatch
        new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            runtimeKeep match {
              case None => delegate.planInputPartitions()
              case Some(_) => delegateFileParts match {
                case None => delegate.planInputPartitions() // non-file
                case Some(fileParts) =>
                  val total = fileParts.map(_.files.length).sum
                  val kept = fileParts
                    .map(fp => fp.copy(files = fp.files.filter(keepAfterRuntime)))
                    .filter(_.files.nonEmpty)
                    .zipWithIndex.map { case (fp, i) => fp.copy(index = i) }
                  runtimeKeptFiles =
                    Some((kept.map(_.files.length).sum, total))
                  kept.toArray
              }
            }
          override def createReaderFactory(): PartitionReaderFactory =
            delegate.createReaderFactory()
        }
      case (None, false) =>
        // NON-BUCKETED inline mor: targeted files leave their delegate
        // splits and re-plan as per-file ordinal-leg partitions; clean
        // files keep the delegate's own split planning untouched. A
        // fired runtime filter prunes BOTH legs (a pruned targeted
        // file's skip set is simply never read).
        val delegate = delegateBatch
        val skips = morSkips
        val leg = ordinalLeg
        new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val fileParts = delegateFileParts.getOrElse(
              throw new IllegalStateException(
                "LakeCatalog: inline mor subtraction needs a file-based " +
                  "delegate scan"))
            val clean = fileParts
              .map(fp => fp.copy(
                files = fp.files.filterNot(f => skips.contains(skipKeyOf(f)))
                  .filter(keepAfterRuntime)))
              .filter(_.files.nonEmpty)
              .zipWithIndex.map { case (fp, i) => fp.copy(index = i) }
            val targeted = leg.map(_.partsByFile.toSeq
              .filter { case (k, _) => runtimeKeep.forall(_.contains(k)) }
              .sortBy(_._1)
              .zipWithIndex.map { case ((k, fp), i) =>
                TargetedMorFilePartition(fp.copy(index = clean.size + i),
                  skips(k))
              }).getOrElse(Seq.empty)
            if (runtimeKeep.isDefined)
              runtimeKeptFiles = Some((
                clean.map(_.files.length).sum + targeted.size,
                fileParts.map(_.files.length).sum))
            (clean ++ targeted).toArray
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new MorSkipReaderFactory(delegate.createReaderFactory(), leg)
        }
      case (Some(groups), noMor) =>
        val delegate = delegateBatch
        val skips = morSkips
        val leg = if (noMor) None else ordinalLeg
        new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            groups.zipWithIndex.map { case ((b, fs), i) =>
              // position deletes never move a row across buckets, so
              // per-bucket subtraction preserves the reported key: the
              // bucket keeps ONE partition holding its clean splits plus
              // its targeted files' ordinal-leg partitions + skip sets
              val (tg, clean) = fs.partition(f => skips.contains(skipKeyOf(f)))
              val targeted = tg.map(skipKeyOf).distinct.sorted.flatMap { k =>
                // a targeted file the ordinal delegate pruned entirely
                // (partition filters) has no surviving rows — no leg
                leg.flatMap(_.partsByFile.get(k)).map(fp => (fp, skips(k)))
              }
              BucketFilesPartition(
                org.apache.spark.sql.execution.datasources
                  .FilePartition(i, clean.toArray),
                InternalRow(b), targeted): InputPartition
            }.toArray
          override def createReaderFactory(): PartitionReaderFactory =
            new BucketReaderFactory(delegate.createReaderFactory(), leg)
        }
    }
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    override def supportedCustomMetrics():
        Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      inner.supportedCustomMetrics()
    override def reportDriverMetrics():
        Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      inner.reportDriverMetrics()
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
      inner.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    override def getMetaData(): scala.collection.immutable.Map[String, String] =
      inner match {
        case m: org.apache.spark.sql.internal.connector.SupportsMetadata =>
          m.getMetaData()
        case _ => scala.collection.immutable.Map.empty
      }
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      require(!pinnedTable,
        "LakeCatalog: cannot STREAM from a time-travel (VERSION/TIMESTAMP " +
          "AS OF) table — history is a snapshot, not a feed")
      new TypedLakeMicroBatchStream(path, tableSchema, prunedTo, options)
    }
  }

  /** Micro-batch stream over a TYPED table's manifest history: offsets,
    * admission control (`maxManifestsPerTrigger`), `startingAt`,
    * AvailableNow, layout-only exemptions and loud vacuum-horizon errors
    * all inherit from the classic [[WeatherLakeV2StreamSource
    * .LakeMicroBatchStream]]; only the DATA leg differs — each batch's
    * files are planned by the engine's own Parquet machinery (a fresh
    * delegate per batch: vectorized decode, `k=v` partition recovery
    * against `basePath`, the projection the engine pushed at scan build),
    * and the reader factory is the delegate's, stashed per planned batch.
    *
    * Merge-on-read interplay is refused LOUDLY, not silently wrong: an
    * append-only stream cannot express deletions, so a table with live
    * delete files refuses at stream start, and a `#mordelete` directive
    * entering a later window fails that batch — run
    * `CALL lake.system.reconcile` first (deletions fold into rewrites the
    * stream replays at-least-once, the same contract as compaction).
    */
  class TypedLakeMicroBatchStream(path: String, tableSchema: StructType,
      prunedTo: Option[StructType], options: CaseInsensitiveStringMap)
      extends WeatherLakeV2StreamSource.LakeMicroBatchStream(path,
        WeatherLakeV2StreamSource.parseStreamOptions(options)._1,
        cdc = false,
        startLatest = WeatherLakeV2StreamSource.parseStreamOptions(options)._2,
        prune = WeatherLakeV2StreamSource.parsePrune(options)) {
    locally {
      val live = WeatherLakeV2Sink.committedMorDeleteFiles(path)
      if (live.nonEmpty) throw new IllegalStateException(
        s"LakeCatalog: cannot stream from $path — the table has " +
          s"${live.size} live merge-on-read delete file(s), and an " +
          "append-only stream cannot express deletions; consume the " +
          "CHANGE feed instead (readStream.format(\"graft.sources." +
          "TypedLakeChangeFeed\") emits insert/update/delete rows over " +
          "live delete files), or run CALL lake.system.reconcile(" +
          "'<table>') first")
    }

    private def delegateBatch(files: Seq[String]): Batch = {
      val b = DriverListing.parquetScanBuilder(
        s"lake_typed_stream($path)", SparkSession.active, options,
        files, tableSchema)
      prunedTo.foreach(b.pruneColumns)
      b.build().toBatch
    }

    override def planInputPartitions(start: org.apache.spark.sql.connector.read.streaming.Offset,
        end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
      // refuse a window carrying row-level deletions (see class doc)
      val consumed = start.asInstanceOf[WeatherLakeV2StreamSource.LakeOffset].consumed
      val fresh = end.asInstanceOf[WeatherLakeV2StreamSource.LakeOffset]
        .consumed -- consumed
      val window = WeatherLakeV2Sink.snapshotOf(path, fresh.toSeq.sorted)
      if (window.morDirectives(window.names).nonEmpty)
        throw new IllegalStateException(
          s"LakeCatalog: the stream over $path reached a commit carrying " +
            "merge-on-read delete files — an append-only stream cannot " +
            "express deletions; switch to the CHANGE feed (readStream" +
            ".format(\"graft.sources.TypedLakeChangeFeed\")), or run " +
            "CALL lake.system.reconcile('<table>') and restart the stream")
      val fileParts = super.planInputPartitions(start, end)
      val batchFiles = fileParts.map(
        _.asInstanceOf[WeatherLakeV2StreamSource.LakeFilePartition].file)
        .distinct.sorted.toSeq
      if (batchFiles.isEmpty) Array.empty
      else {
        // each planned partition CARRIES its batch's reader factory —
        // plan-then-read pairing is structural, never a shared mutable
        // field that out-of-order planning or a retry could mispair
        // (wrong files/projection) without an error
        val b = delegateBatch(batchFiles)
        val factory = b.createReaderFactory()
        b.planInputPartitions().map(p =>
          TypedBatchPartition(p, factory): InputPartition)
      }
    }

    override def createReaderFactory(): PartitionReaderFactory =
      TypedBatchReaderFactory
  }

  /** A typed-stream input partition bound to the reader factory of the
    * batch that planned it (see [[TypedLakeMicroBatchStream
    * .planInputPartitions]]).
    */
  private[sources] final case class TypedBatchPartition(
      inner: InputPartition, factory: PartitionReaderFactory)
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** The cap on live position-delete bytes an inline-mor scan will
    * carry in its planned partitions (per-file sorted ordinal arrays,
    * ~16 B/deleted row → ~4 M deleted rows here). Past it the read
    * demotes to the v1 broadcast-anti-join rewrite, whose shuffle-free
    * broadcast is the better physical shape for heavy debt anyway —
    * and `compact_deletes`/reconcile is overdue at that point.
    */
  private[sources] val MorInlineMaxBytes: Long = 64L * 1024 * 1024

  /** One bucket's files as an input partition CARRYING ITS KEY — what
    * the engine's storage-partitioned-join machinery groups and aligns
    * across the two sides of a co-bucketed join. `targeted` holds the
    * bucket's mor-targeted files as ordinal-leg partitions with their
    * deleted-ordinal skip sets: subtraction happens inside the bucket's
    * own reader, so the reported KeyGroupedPartitioning stays truthful
    * under live position deletes.
    */
  private[sources] final case class BucketFilesPartition(
      inner: org.apache.spark.sql.execution.datasources.FilePartition,
      key: InternalRow,
      targeted: Seq[(org.apache.spark.sql.execution.datasources
        .FilePartition, Array[Long])] = Nil)
      extends InputPartition
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): InternalRow = key
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** A mor-targeted file of an UNBUCKETED inline scan: its ordinal-leg
    * splits (per-file, offset-sorted) plus the sorted deleted ordinals
    * its reader skips.
    */
  private[sources] final case class TargetedMorFilePartition(
      inner: org.apache.spark.sql.execution.datasources.FilePartition,
      skip: Array[Long])
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** The resolved targeted leg of an inline-mor scan (see
    * [[TypedLakeStreamableScan]].ordinalLeg): the ordinal delegate's
    * reader factory, its per-file planned partitions, and the projection
    * from the delegate's row layout back to the primary's.
    *
    * `rowIndexMode`: the delegate projects the parquet readers'
    * `_tmp_metadata_row_index` column (exact physical ordinals even
    * under pushed filters and row-group skipping — the generator reads
    * offsets from the footer), carries the scan's filters, and serves a
    * COLUMNAR face. Legacy mode (non-vectorizable schemas) reads whole
    * files filterless and counts ordinals, rows only.
    */
  private[sources] final case class MorOrdinalLeg(
      factory: PartitionReaderFactory,
      partsByFile: Map[String,
        org.apache.spark.sql.execution.datasources.FilePartition],
      rowIdxOrd: Int,
      outOrdinals: Array[Int],
      outSchema: StructType,
      rowIndexMode: Boolean) {

    def createRowReader(
        fp: org.apache.spark.sql.execution.datasources.FilePartition,
        skip: Array[Long]): PartitionReader[InternalRow] =
      if (rowIndexMode)
        new RowIdxSkipRowReader(factory.createReader(fp), skip,
          rowIdxOrd, outOrdinals, outSchema)
      else new MorSkipReader(factory.createReader(fp), skip)

    def createColumnarReader(
        fp: org.apache.spark.sql.execution.datasources.FilePartition,
        skip: Array[Long])
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
      require(rowIndexMode, "LakeCatalog: columnar mor subtraction " +
        "requires the row-index ordinal delegate")
      new RowIdxSkipColumnarReader(factory.createColumnarReader(fp), skip,
        rowIdxOrd, outOrdinals)
    }

    def supportsColumnar(
        fp: org.apache.spark.sql.execution.datasources.FilePartition)
        : Boolean =
      rowIndexMode && factory.supportColumnarReads(fp)
  }

  /** An ascending cursor over a sorted deleted-ordinal array: O(1)
    * amortized membership per (monotonically increasing) probe, with a
    * binary-search re-seat if a probe ever goes backwards (defensive —
    * per-file splits are offset-sorted, so ordinals only grow).
    */
  private[sources] final class SkipCursor(skip: Array[Long]) {
    private var si = 0
    def deleted(idx: Long): Boolean = {
      if (si > 0 && skip(si - 1) >= idx) si = lowerBound(idx)
      while (si < skip.length && skip(si) < idx) si += 1
      si < skip.length && skip(si) == idx
    }
    private def lowerBound(idx: Long): Int = {
      var lo = 0
      var hi = skip.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (skip(m) < idx) lo = m + 1 else hi = m
      }
      lo
    }
  }

  /** Subtract a sorted deleted-ordinal set while streaming a whole-file
    * read in physical order — the LEGACY counting mode (ordinals are
    * reconstructed by counting emitted rows, exact only filterless from
    * offset 0): O(1) amortized per row, no join, no per-row hashing.
    */
  private[sources] final class MorSkipReader(
      inner: PartitionReader[InternalRow], skip: Array[Long])
      extends PartitionReader[InternalRow] {
    private var pos = -1L
    private val cursor = new SkipCursor(skip)
    override def next(): Boolean = {
      while (inner.next()) {
        pos += 1
        if (!cursor.deleted(pos)) return true
      }
      false
    }
    override def get(): InternalRow = inner.get()
    override def close(): Unit = inner.close()
  }

  /** ROW-INDEX mode row face: each delegate row carries its physical
    * ordinal in the `_tmp_metadata_row_index` column — drop the row if
    * the ordinal is deleted, else project back to the primary's column
    * order (codegen'd UnsafeProjection, built once per reader).
    */
  private[sources] final class RowIdxSkipRowReader(
      inner: PartitionReader[InternalRow], skip: Array[Long],
      rowIdxOrd: Int, outOrdinals: Array[Int], outSchema: StructType)
      extends PartitionReader[InternalRow] {
    private val cursor = new SkipCursor(skip)
    private var current: InternalRow = _
    private lazy val proj = {
      val exprs = outOrdinals.toIndexedSeq.zipWithIndex.map {
        case (ord, i) =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(ord,
            outSchema.fields(i).dataType, outSchema.fields(i).nullable)
            : org.apache.spark.sql.catalyst.expressions.Expression
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(exprs)
    }
    override def next(): Boolean = {
      while (inner.next()) {
        val row = inner.get()
        if (!cursor.deleted(row.getLong(rowIdxOrd))) {
          current = row
          return true
        }
      }
      false
    }
    override def get(): InternalRow = proj(current)
    override def close(): Unit = inner.close()
  }

  /** ROW-INDEX mode COLUMNAR face: subtract deleted ordinals from each
    * delegate batch by reading the row-index vector, then re-expose the
    * surviving rows ZERO-COPY — when nothing in the batch is deleted the
    * output batch shares the delegate's vectors directly (minus the
    * row-index column); when something is, each column wraps in a
    * [[MorMappedColumnVector]] over the kept-position mapping (Iceberg's
    * vectorized position-delete shape). Either way parquet decode stays
    * vectorized AND the scan keeps its columnar handoff to codegen.
    */
  private[sources] final class RowIdxSkipColumnarReader(
      inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
      skip: Array[Long], rowIdxOrd: Int, outOrdinals: Array[Int])
      extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
    private val cursor = new SkipCursor(skip)
    private var current: org.apache.spark.sql.vectorized.ColumnarBatch = _
    override def next(): Boolean = {
      while (inner.next()) {
        val batch = inner.get()
        val n = batch.numRows()
        if (n > 0) {
          val idxVec = batch.column(rowIdxOrd)
          val mapping = new Array[Int](n)
          var kept = 0
          var i = 0
          while (i < n) {
            if (!cursor.deleted(idxVec.getLong(i))) {
              mapping(kept) = i
              kept += 1
            }
            i += 1
          }
          if (kept > 0) {
            val cols = new Array[org.apache.spark.sql.vectorized
              .ColumnVector](outOrdinals.length)
            var j = 0
            if (kept == n) {
              while (j < cols.length) {
                cols(j) = batch.column(outOrdinals(j)); j += 1
              }
            } else {
              val m = java.util.Arrays.copyOf(mapping, kept)
              while (j < cols.length) {
                cols(j) = new MorMappedColumnVector(
                  batch.column(outOrdinals(j)), m)
                j += 1
              }
            }
            current = new org.apache.spark.sql.vectorized.ColumnarBatch(
              cols, kept)
            return true
          }
        }
      }
      false
    }
    override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
      current
    override def close(): Unit = inner.close()
  }

  /** Chains readers within one input partition (a bucket's clean splits
    * followed by its targeted skip-reads), opening each lazily.
    */
  private[sources] final class ConcatReader[T](
      parts: Seq[() => PartitionReader[T]])
      extends PartitionReader[T] {
    private var cur: PartitionReader[T] = _
    private var idx = 0
    override def next(): Boolean = {
      while (true) {
        if (cur == null) {
          if (idx >= parts.size) return false
          cur = parts(idx)(); idx += 1
        }
        if (cur.next()) return true
        cur.close(); cur = null
      }
      false
    }
    override def get(): T = cur.get()
    override def close(): Unit = if (cur != null) cur.close()
  }

  /** Unwraps [[BucketFilesPartition]] for the delegate parquet reader;
    * buckets carrying mor-targeted files concatenate the delegate's
    * clean read with the targeted files' ordinal-leg skip reads — on
    * BOTH faces: in row-index mode the whole bucket partition stays
    * COLUMNAR (clean splits via the delegate's columnar reader, targeted
    * files via [[RowIdxSkipColumnarReader]]), so a live skip set no
    * longer demotes the scan's columnar handoff. Legacy (counting) legs
    * report row-based for every partition — the engine cannot mix modes
    * within one scan.
    */
  private[sources] final class BucketReaderFactory(
      delegate: PartitionReaderFactory,
      leg: Option[MorOrdinalLeg] = None) extends PartitionReaderFactory {
    private def unwrap(p: InputPartition): InputPartition = p match {
      case b: BucketFilesPartition => b.inner
      case other => other
    }
    private def legOf(b: BucketFilesPartition): MorOrdinalLeg =
      leg.getOrElse(throw new IllegalStateException(
        "LakeCatalog: targeted bucket partition without an ordinal leg"))
    override def createReader(p: InputPartition):
        PartitionReader[InternalRow] = p match {
      case b: BucketFilesPartition if b.targeted.nonEmpty =>
        val l = legOf(b)
        val parts =
          (if (b.inner.files.nonEmpty)
            Seq(() => delegate.createReader(b.inner))
          else Seq.empty) ++
            b.targeted.map { case (fp, skip) => () =>
              l.createRowReader(fp, skip)
            }
        new ConcatReader(parts)
      case other => delegate.createReader(unwrap(other))
    }
    override def createColumnarReader(p: InputPartition):
        PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      p match {
        case b: BucketFilesPartition if b.targeted.nonEmpty =>
          val l = legOf(b)
          val parts =
            (if (b.inner.files.nonEmpty)
              Seq(() => delegate.createColumnarReader(b.inner))
            else Seq.empty) ++
              b.targeted.map { case (fp, skip) => () =>
                l.createColumnarReader(fp, skip)
              }
          new ConcatReader(parts)
        case other => delegate.createColumnarReader(unwrap(other))
      }
    override def supportColumnarReads(p: InputPartition): Boolean =
      p match {
        case b: BucketFilesPartition if b.targeted.nonEmpty =>
          b.targeted.forall { case (fp, _) =>
            leg.exists(_.supportsColumnar(fp))
          } &&
            (b.inner.files.isEmpty ||
              delegate.supportColumnarReads(b.inner))
        case other =>
          // a LEGACY leg anywhere in the scan forces every partition
          // row-based (one scan, one mode)
          leg.forall(_.rowIndexMode) &&
            delegate.supportColumnarReads(unwrap(other))
      }
  }

  /** Routes an UNBUCKETED inline-mor scan's partitions: targeted files
    * read through the ordinal leg under a skip reader (columnar in
    * row-index mode), everything else through the delegate.
    */
  private[sources] final class MorSkipReaderFactory(
      delegate: PartitionReaderFactory,
      leg: Option[MorOrdinalLeg]) extends PartitionReaderFactory {
    private def legOrFail: MorOrdinalLeg =
      leg.getOrElse(throw new IllegalStateException(
        "LakeCatalog: targeted mor partition without an ordinal leg"))
    override def createReader(p: InputPartition):
        PartitionReader[InternalRow] = p match {
      case TargetedMorFilePartition(inner, skip) =>
        legOrFail.createRowReader(inner, skip)
      case other => delegate.createReader(other)
    }
    override def createColumnarReader(p: InputPartition):
        PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      p match {
        case TargetedMorFilePartition(inner, skip) =>
          legOrFail.createColumnarReader(inner, skip)
        case other => delegate.createColumnarReader(other)
      }
    override def supportColumnarReads(p: InputPartition): Boolean =
      p match {
        case TargetedMorFilePartition(inner, _) =>
          leg.exists(_.supportsColumnar(inner))
        case other =>
          leg.forall(_.rowIndexMode) &&
            delegate.supportColumnarReads(other)
      }
  }

  /** The manifest-answered MIN/MAX scan: one row computed on the driver
    * from per-file stats — the engine converts a [[LocalScan]] to a
    * local relation, so the "scan" never touches an executor.
    */
  private[sources] final class ManifestStatsAggScan(ident: String,
      schema: StructType, row: InternalRow)
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def rows(): Array[InternalRow] = Array(row)
    override def readSchema(): StructType = schema
    override def description(): String =
      s"$ident (manifest-stats aggregate)"
  }

  /** The compensated COUNT(*) scan of an inline-mor table (position-only
    * debt — the only flavor this builder carries): the delegate is the
    * engine's own footer-count pushed-aggregate scan, re-planned ONE
    * PARTITION PER FILE so each emitted partial row is attributable to
    * its file, and each targeted file's partial subtracts its skip-set
    * size (deleted ordinals are distinct per file, so the subtraction is
    * exact). `supportCompletePushDown` stays false under debt, so the
    * engine sums the partials — `SELECT COUNT(*)` on a mor table plans
    * the pushed aggregate and never opens a data page.
    */
  private[sources] final class MorCompensatedCountScan(
      inner: Scan, morDeleteLines: Seq[String]) extends Scan {
    override def readSchema(): StructType = inner.readSchema()
    override def description(): String =
      s"${inner.description()} (mor-compensated count)"
    locally {
      val s = inner.readSchema()
      require(s.fields.length >= 1 &&
        s.fields.forall(_.dataType == LongType),
        s"MorCompensatedCountScan: expected count(*) columns, got $s")
    }

    /** Per-target deleted-ordinal COUNTS (raw disk-path keys): one
      * distributed count of DISTINCT ordinals per target file (two delete
      * files may name the same row), so the driver receives one row per
      * targeted file, never the deleted rows themselves.
      */
    private lazy val skipCounts: Map[String, Long] = {
      import org.apache.spark.sql.functions.{col, countDistinct}
      val files = morDeleteLines.map(WeatherLakeV2Sink.entryPath)
      DriverListing.parquetFrame(SparkSession.active, files,
          TypedLake.MorPosSchema)
        .groupBy(col(TypedLake.MorTargetCol))
        .agg(countDistinct(col(TypedLake.MorPosCol)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    override def toBatch: Batch = {
      val delegate = inner.toBatch
      val counts = skipCounts
      new Batch {
        override def planInputPartitions(): Array[InputPartition] = {
          val parts = delegate.planInputPartitions()
          val fileParts = parts.collect {
            case fp: org.apache.spark.sql.execution.datasources
                .FilePartition => fp
          }
          require(fileParts.length == parts.length,
            "LakeCatalog: compensated count needs a file-based delegate")
          fileParts.flatMap(_.files).zipWithIndex.map { case (f, i) =>
            val sub = counts.getOrElse(
              new java.net.URI(f.filePath.toString).getPath, 0L)
            CompensatedCountPartition(
              org.apache.spark.sql.execution.datasources.FilePartition(
                i, Array(f)), sub): InputPartition
          }
        }
        override def createReaderFactory(): PartitionReaderFactory =
          new CompensatedCountReaderFactory(delegate.createReaderFactory())
      }
    }
  }

  /** One file's footer-count partition plus the deleted-row count its
    * partial must subtract.
    */
  private[sources] final case class CompensatedCountPartition(
      inner: org.apache.spark.sql.execution.datasources.FilePartition,
      subtract: Long)
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** Wraps the delegate's footer-aggregate reader: every emitted partial
    * row (one per file — each partition carries exactly one file) has
    * `subtract` taken off each count column.
    */
  private[sources] final class CompensatedCountReaderFactory(
      delegate: PartitionReaderFactory) extends PartitionReaderFactory {
    override def createReader(p: InputPartition):
        PartitionReader[InternalRow] = p match {
      case CompensatedCountPartition(inner, subtract) =>
        val reader = delegate.createReader(inner)
        new PartitionReader[InternalRow] {
          override def next(): Boolean = reader.next()
          override def get(): InternalRow = {
            val row = reader.get()
            val out = new Array[Any](row.numFields)
            var i = 0
            while (i < out.length) {
              out(i) = row.getLong(i) - subtract
              i += 1
            }
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(out)
          }
          override def close(): Unit = reader.close()
        }
      case other => delegate.createReader(other)
    }
    override def supportColumnarReads(p: InputPartition): Boolean = false
  }

  /** Stateless dispatcher: every partition knows its own factory. */
  private[sources] object TypedBatchReaderFactory
      extends PartitionReaderFactory {
    override def createReader(partition: InputPartition):
        PartitionReader[InternalRow] = partition match {
      case TypedBatchPartition(inner, factory) => factory.createReader(inner)
      case other => throw new IllegalStateException(
        s"TypedLakeMicroBatchStream: unexpected partition $other")
    }
    override def createColumnarReader(partition: InputPartition):
        PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      partition match {
      case TypedBatchPartition(inner, factory) =>
        factory.createColumnarReader(inner)
      case other => throw new IllegalStateException(
        s"TypedLakeMicroBatchStream: unexpected partition $other")
    }
    override def supportColumnarReads(partition: InputPartition): Boolean =
      partition match {
        case TypedBatchPartition(inner, factory) =>
          factory.supportColumnarReads(inner)
        case _ => false
      }
  }

  /** The staged face of an in-flight CTAS/RTAS (see
    * [[LakeCatalog.stageCreate]]/[[LakeCatalog.stageReplace]]).
    *
    * CREATE mode: the inner table's ordinary write publishes its manifest
    * into the claimed (staged-marker) directory — invisible until
    * `commitStagedChanges` un-stages the marker in one atomic
    * overwrite-rename. Abort deletes the claimed directory.
    *
    * REPLACE mode: the write's task-committed entry lines are BUFFERED
    * (no manifest at job commit); `commitStagedChanges` publishes ONE
    * overwrite manifest superseding the stage-time snapshot (validated —
    * a concurrent commit makes the replace lose loudly) and then swaps
    * the marker, so an aborted RTAS leaves the table byte-identical
    * (the write's files stay unreferenced orphans).
    */
  class StagedLakeTable(inner: Table, conf: Configuration, regDir: String,
      props: util.HashMap[String, String], replaceMode: Boolean,
      stageId: Option[String] = None)
      extends StagedTable with SupportsWrite {
    private val path: String =
      props.getOrDefault(TableCatalog.PROP_LOCATION, regDir)
    private val replaceSnapshot: Seq[String] =
      if (replaceMode) WeatherLakeV2Sink.liveManifests(path) else Seq.empty
    @volatile private var buffered: Option[Seq[String]] = None
    private def payload: Option[String] = inner match {
      case _: TypedLakeCatalogTable => Some(TypedLake.Payload)
      case _ => None
    }

    override def name(): String = inner.name()
    override def schema(): StructType = inner.schema()
    override def partitioning(): Array[Transform] = inner.partitioning()
    override def properties(): util.Map[String, String] = inner.properties()
    override def capabilities(): util.Set[TableCapability] =
      inner.capabilities()

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      if (!replaceMode) inner.asInstanceOf[SupportsWrite].newWriteBuilder(info)
      else new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate
          with org.apache.spark.sql.connector.write.SupportsOverwrite {
        // RTAS plans its write as truncate/overwrite-true of the staged
        // table; the REPLACE semantics (supersede the stage-time
        // snapshot) are published by commitStagedChanges, so the builder
        // only needs to ACCEPT the verb — anything narrower than the
        // whole table is not an RTAS plan
        override def truncate(): WriteBuilder = this
        override def overwrite(filters: Array[Filter]): WriteBuilder = {
          import org.apache.spark.sql.sources.AlwaysTrue
          require(filters.forall(_.isInstanceOf[AlwaysTrue]),
            "LakeCatalog: a staged REPLACE writes the whole table")
          this
        }
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.Write {
            private val innerBatch = inner.asInstanceOf[SupportsWrite]
              .newWriteBuilder(info).build().toBatch
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new org.apache.spark.sql.connector.write.BatchWrite {
                override def createBatchWriterFactory(
                    pi: org.apache.spark.sql.connector.write.PhysicalWriteInfo):
                    org.apache.spark.sql.connector.write.DataWriterFactory =
                  innerBatch.createBatchWriterFactory(pi)
                override def commit(
                    messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
                  buffered = Some(messages.collect {
                    case WeatherLakeV2Sink.FilesWritten(ls) => ls
                  }.flatten.toIndexedSeq)
                override def abort(
                    messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
              }
          }
      }

    /** Whether the staged marker at `regDir` is still THIS stage's claim
      * (staged flag + matching per-stage UUID). A missing/replaced/
      * un-staged marker means a concurrent operation interfered with the
      * claim — commit must fail LOUDLY (un-staging would clobber the
      * interloper's table), abort must not delete what isn't ours.
      */
    private def claimIsOurs: Boolean = {
      val f = fs(regDir)
      f.exists(new Path(regDir, MarkerFile)) &&
        markerStaged(conf, regDir) &&
        stageId.exists(markerStageId(conf, regDir).contains)
    }

    override def commitStagedChanges(): Unit = {
      if (replaceMode) {
        val entries = buffered.getOrElse(throw new IllegalStateException(
          "LakeCatalog: REPLACE … AS SELECT committed with no write — " +
            "the staged query never ran"))
        WeatherLakeV2Sink.publishCommit(path, "overwrite",
          snapshot = replaceSnapshot, supersedes = replaceSnapshot,
          lines = entries, payload = payload)
        writeMarker(conf, regDir, props, overwrite = true)
      } else {
        // CREATE mode: verify the claim is still ours before un-staging —
        // a concurrent CREATE/CTAS that reclaimed or replaced the marker
        // must surface as a loud loss, never a silent marker clobber
        if (!claimIsOurs) throw new IllegalStateException(
          s"LakeCatalog: CTAS commit of $regDir lost its staged claim — " +
            "a concurrent CREATE/CTAS (or a stage reclaim) replaced the " +
            "marker after this stage claimed the name; this statement's " +
            "data was never published. Retry under a fresh name or after " +
            "the winner finishes.")
        writeMarker(conf, regDir, props, overwrite = true)
      }
    }

    override def abortStagedChanges(): Unit =
      if (!replaceMode) {
        // reclaim the directory only when the claim is still OURS
        if (claimIsOurs) fs(regDir).delete(new Path(regDir), true)
      } // replace: nothing published — the table is untouched

    private def fs(dir: String) = new Path(dir).getFileSystem(conf)
  }

  /** Scan with the two standard pushdowns. Column pruning reaches the
    * reader (a projected read materializes only the requested columns);
    * partition-equality filters prune the committed FILE LIST driver-side
    * (manifest-level partition pruning — no LIST, no data IO for pruned
    * partitions). Filters are also all RETURNED as residuals: pruning
    * only skips files that cannot match, Spark re-applies the predicate
    * to the survivors, so a file without path-encoded partition values
    * is kept and filtered row-wise — never silently dropped.
    */
  class LakeTableScanBuilder(path: String, pinned: Option[Seq[String]],
      options: CaseInsensitiveStringMap)
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters {
    // a classic-marker registration pointed (via LOCATION adoption) at a
    // typed lake would scan Parquet bytes as text — loud, not garbage
    WeatherLakeV2Sink.requirePayload(path, "json",
      "the classic lake catalog table")
    // the CDC feed has a DIFFERENT schema (change/commit columns) than
    // the table the identifier names, and DSv2 pins a table() read to
    // the table's own schema — silently emitting plain rows for a
    // readChangeFeed request would be a wrong answer, so it is refused
    // (batch AND streaming) with the working alternative in the message
    if (java.lang.Boolean.parseBoolean(
        Option(options.get("readChangeFeed")).getOrElse("false")))
      throw new IllegalArgumentException(
        "LakeCatalog: readChangeFeed is not available through table(...) " +
          "reads — the change feed's schema (change, value, commit " +
          "columns) differs from the table's; use the view face instead: " +
          "CREATE TEMPORARY VIEW c USING " +
          "graft.sources.WeatherLakeV2StreamSource OPTIONS (path " +
          "'<location>', readChangeFeed 'true', startingVersion/" +
          "startingAt ...)")
    private var required: StructType = TableSchema
    private var partEq: Map[String, String] = Map.empty
    private var pushed: Array[Filter] = Array.empty

    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val partCols = Set("city", "ds", "hour")
      pushed = filters.filter {
        case EqualTo(a, _: String) => partCols(a.toLowerCase)
        case _ => false
      }
      partEq = pushed.collect {
        case EqualTo(a, v: String) => a.toLowerCase -> v
      }.toMap
      filters // all residual: pruning skips, Spark still verifies
    }

    override def pushedFilters(): Array[Filter] = pushed

    override def build(): Scan =
      new LakeTableScan(path, pinned, required, partEq, options)
  }

  class LakeTableScan(path: String, pinned: Option[Seq[String]],
      required: StructType, partEq: Map[String, String],
      options: CaseInsensitiveStringMap) extends Scan with Batch
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = required
    override def description(): String =
      s"lake_table_scan($path" +
        (if (partEq.nonEmpty) s", prune=$partEq" else "") +
        pinned.map(p => s", pinned=${p.size} manifests").getOrElse("") + ")"

    override def toBatch: Batch = this

    private def keep(f: String): Boolean = {
      val pv = WeatherLakeV2Sink.partitionValues(path, f)
      pv.isEmpty || partEq.forall { case (k, v) => pv.get(k).forall(_ == v) }
    }

    // ONE resolution per scan (scans are built per query execution):
    // estimateStatistics and planInputPartitions both consume it, so a
    // plan costs one manifest read, not three
    private lazy val plannedFiles: Seq[String] = {
      val files = pinned.map(WeatherLakeV2Sink.filesAsOf(path, _))
        .getOrElse(WeatherLakeV2Sink.committedFiles(path))
      files.filter(keep).sorted
    }

    override def planInputPartitions(): Array[InputPartition] =
      plannedFiles
        .map(WeatherLakeV2StreamSource.LakeFilePartition(_): InputPartition)
        .toArray

    /** Report the scan's size to the optimizer so a small lake table gets
      * AUTOMATIC broadcast election in joins (the typed face inherits
      * this from the engine's FileScan; the classic line scan must say it
      * itself — without it the relation defaults to "huge" and a 25-row
      * dim table shuffle-joins). Size = total bytes of the PRUNED
      * committed file list, gathered with one listStatus per directory
      * (O(dirs) driver RPCs, the manifest-read class), computed once per
      * scan. Row count is left unknown — lines are unparsed until read.
      */
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
      val fs = new Path(path).getFileSystem(LakeIO.conf)
      val wanted = plannedFiles.map(f => new Path(f).toUri.getPath).toSet
      val bytes = plannedFiles.map(f => new Path(f).getParent).distinct
        .flatMap { dir =>
          try fs.listStatus(dir).toSeq catch {
            case _: java.io.FileNotFoundException => Seq.empty
          }
        }
        .filter(st => wanted(st.getPath.toUri.getPath))
        .map(_.getLen).sum
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new LakeTableReaderFactory(path, required)

    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      require(pinned.isEmpty,
        "LakeCatalog: cannot STREAM from a time-travel (VERSION/TIMESTAMP " +
          "AS OF) table — history is a snapshot, not a feed")
      val (cap, startLatest) = WeatherLakeV2StreamSource.parseStreamOptions(options)
      val prune = WeatherLakeV2StreamSource.parsePrune(options)
      val schema = required
      val p = path
      new WeatherLakeV2StreamSource.LakeMicroBatchStream(p, cap,
          cdc = false, startLatest = startLatest, prune = prune) {
        override def createReaderFactory(): PartitionReaderFactory =
          new LakeTableReaderFactory(p, schema)
      }
    }
  }

  /** Emits the REQUESTED columns per line of one committed file: the
    * partition columns are constants recovered from the file path once
    * per task, the payload column is the line — a pruned-to-count scan
    * materializes nothing per row.
    */
  class LakeTableReaderFactory(basePath: String, schema: StructType)
      extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val file = partition match {
        case WeatherLakeV2StreamSource.LakeFilePartition(f) => f
        case other => throw new IllegalStateException(
          s"LakeTableReaderFactory: unexpected partition $other")
      }
      new PartitionReader[InternalRow] {
        private val pv = WeatherLakeV2Sink.partitionValues(basePath, file)
        // one slot per output column: partition constants precomputed,
        // -1 marks the payload slot filled per line
        private val payloadIdx = schema.fields.indexWhere { f =>
          val n = f.name.toLowerCase; n == "value" || n == "raw_json"
        }
        private val consts: Array[AnyRef] = schema.fields.map { f =>
          pv.get(f.name.toLowerCase)
            .map(v => UTF8String.fromString(v): AnyRef).orNull
        }.toArray
        private val fs = new Path(file).getFileSystem(LakeIO.conf)
        private val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(new Path(file)), "UTF-8"))
        private var line: String = _
        override def next(): Boolean = {
          line = reader.readLine()
          line != null
        }
        override def get(): InternalRow = {
          val vals = new Array[Any](schema.length)
          var i = 0
          while (i < vals.length) {
            vals(i) = if (i == payloadIdx) UTF8String.fromString(line)
              else consts(i)
            i += 1
          }
          InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
        override def close(): Unit = reader.close()
      }
    }
  }

  /** One maintenance verb behind Spark 4's `CALL` statement. Results come
    * back as rows through a [[LocalScan]] (the engine's
    * InvokeProcedures rule turns it into a local relation), so
    * `CALL lake.system.history('t')` composes like any query.
    */
  class LakeProcedure(catalog: LakeCatalog, procName: String)
      extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String = procName match {
      case "vacuum" => "reclaim superseded manifests and their files"
      case "sweep_orphans" => "reclaim manifest-less data files"
      case "checkpoint" => "collapse the live manifest set into one"
      case "compact" => "rewrite small/clustered files (OPTIMIZE)"
      case "history" => "the commit history (DESCRIBE HISTORY)"
      case "measure_stats" =>
        "backfill per-file min/max stats without rewriting data (ANALYZE)"
      case "detail" => "table health in one row (DESCRIBE DETAIL)"
      case "convert" =>
        "adopt a plain Parquet directory into the lake IN PLACE (no rewrite)"
      case "reconcile" =>
        "fold merge-on-read delete files back into clean data files"
      case "compact_deletes" =>
        "consolidate merge-on-read delete files (directives only, no " +
          "data rewrite)"
      case "tag" =>
        "pin the current snapshot under an immutable name (VERSION AS " +
          "OF '<tag>'); tags are vacuum retention roots"
      case "drop_tag" => "drop a named tag (its snapshot stops being " +
        "a retention root)"
      case "tags" => "list the table's tags and their pinned snapshots"
      case "create_branch" =>
        "open an append-only staging branch at the current snapshot " +
          "(write-audit-publish; stage via the spark.graft.wap.branch conf)"
      case "fast_forward" =>
        "publish a branch's staged appends to main in ONE atomic commit " +
          "(requires main unchanged since the fork)"
      case "drop_branch" => "drop a branch (staged files become " +
        "sweepable orphans)"
      case "branches" => "list the table's branches and their staged state"
      case "rollback" =>
        "restore the live view to an earlier version or tag as a NEW " +
          "commit (RESTORE / rollback_to_snapshot; history preserved)"
      case "evolve_bucketing" =>
        "change a bucketed table's bucket COUNT metadata-only: old " +
          "files keep their generation (reads stay correct; the zero-" +
          "exchange join layout pauses until compact migrates them)"
    }

    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = LakeProcedure.this.description()
      override def isDeterministic: Boolean = false

      private def p(n: String, dt: org.apache.spark.sql.types.DataType) =
        ProcedureParameter.in(n, dt).build()
      private def pd(n: String, dt: org.apache.spark.sql.types.DataType,
          default: String) =
        ProcedureParameter.in(n, dt).defaultValue(default).build()

      override def parameters(): Array[ProcedureParameter] = procName match {
        case "vacuum" =>
          Array(p("table", StringType),
            pd("min_age_ms", LongType,
              WeatherLakeV2Sink.VacuumRetentionFloorMs.toString),
            pd("force", BooleanType, "false"))
        case "sweep_orphans" =>
          Array(p("table", StringType), p("min_age_ms", LongType))
        case "checkpoint" => Array(p("table", StringType))
        case "compact" => Array(p("table", StringType),
          pd("target_bytes", LongType, (128L * 1024 * 1024).toString),
          pd("cluster_expr", StringType, "NULL"),
          pd("stats_fields", StringType, "NULL"))
        case "history" => Array(p("table", StringType))
        case "measure_stats" =>
          Array(p("table", StringType), p("fields", StringType))
        case "detail" => Array(p("table", StringType))
        case "convert" => Array(p("table", StringType),
          p("path", StringType), p("schema_ddl", StringType),
          pd("partition_cols", StringType, "NULL"),
          pd("stats_fields", StringType, "NULL"))
        case "reconcile" => Array(p("table", StringType),
          pd("stats_fields", StringType, "NULL"))
        case "compact_deletes" => Array(p("table", StringType))
        case "tag" | "drop_tag" =>
          Array(p("table", StringType), p("name", StringType))
        case "tags" => Array(p("table", StringType))
        case "create_branch" | "fast_forward" | "drop_branch" =>
          Array(p("table", StringType), p("name", StringType))
        case "branches" => Array(p("table", StringType))
        case "rollback" =>
          // an integer string is a commit version (history's axis);
          // anything else is a TAG name — the VERSION AS OF resolution
          Array(p("table", StringType), p("version", StringType))
        case "evolve_bucketing" =>
          Array(p("table", StringType), p("num_buckets", IntegerType))
      }

      private def resultSchema: StructType = procName match {
        case "vacuum" | "sweep_orphans" =>
          StructType(Seq(StructField("reclaimed", IntegerType, nullable = false)))
        case "checkpoint" =>
          StructType(Seq(StructField("collapsed", IntegerType, nullable = false)))
        case "compact" =>
          StructType(Seq(StructField("compacted_dirs", IntegerType, nullable = false)))
        case "history" => StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("manifest", StringType, nullable = false),
          StructField("op", StringType, nullable = false),
          StructField("commit_ts", LongType, nullable = false),
          StructField("live", BooleanType, nullable = false)))
        case "measure_stats" =>
          StructType(Seq(StructField("measured_files", IntegerType,
            nullable = false)))
        case "detail" => StructType(Seq(
          StructField("location", StringType, nullable = false),
          StructField("num_files", IntegerType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("num_partitions", IntegerType, nullable = false),
          StructField("live_manifests", IntegerType, nullable = false),
          StructField("total_manifests", IntegerType, nullable = false),
          StructField("stats_covered_files", IntegerType, nullable = false),
          StructField("live_delete_files", IntegerType, nullable = false),
          // appended (index-stable for older readers): flavor split of
          // the merge-on-read debt, and the files a resolved read must
          // actually anti-join (target-range classification — the
          // split-scan's own arithmetic)
          StructField("live_position_delete_files", IntegerType,
            nullable = false),
          StructField("mor_targeted_files", IntegerType, nullable = false),
          // appended round 15 (index-stable): named refs pinning vacuum
          // retention roots — a non-zero count explains "why didn't
          // vacuum reclaim my history"
          StructField("tags", IntegerType, nullable = false),
          // appended round 16 (index-stable): staging branches are
          // retention roots too, and their staged files are invisible
          // to main — a non-zero count explains both "why didn't
          // vacuum/sweep reclaim" and "where is my staged data"
          StructField("branches", IntegerType, nullable = false),
          // appended round 16 (index-stable): files NOT in the current
          // bucket generation (wrong count stamp, or unmarked) — a
          // non-zero count explains "why doesn't my bucketed join SPJ"
          // and sizes the pending compact migration; 0 for unbucketed
          StructField("stale_bucket_files", IntegerType, nullable = false)))
        case "convert" => StructType(Seq(
          StructField("adopted_files", IntegerType, nullable = false),
          StructField("measured_files", IntegerType, nullable = false)))
        case "reconcile" => StructType(Seq(
          StructField("reconciled_files", IntegerType, nullable = false)))
        case "compact_deletes" => StructType(Seq(
          StructField("delete_files_before", IntegerType, nullable = false),
          StructField("delete_files_after", IntegerType, nullable = false)))
        case "tag" => StructType(Seq(
          StructField("pinned_manifests", IntegerType, nullable = false)))
        case "drop_tag" => StructType(Seq(
          StructField("existed", BooleanType, nullable = false)))
        case "tags" => StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("pinned_manifests", IntegerType, nullable = false)))
        case "create_branch" => StructType(Seq(
          StructField("base_manifests", IntegerType, nullable = false)))
        case "fast_forward" => StructType(Seq(
          StructField("published_files", IntegerType, nullable = false)))
        case "drop_branch" => StructType(Seq(
          StructField("existed", BooleanType, nullable = false)))
        case "branches" => StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("base_manifests", IntegerType, nullable = false),
          StructField("staged_commits", IntegerType, nullable = false),
          StructField("staged_files", IntegerType, nullable = false)))
        case "rollback" => StructType(Seq(
          StructField("restored_files", IntegerType, nullable = false),
          StructField("removed_files", IntegerType, nullable = false),
          StructField("restored_delete_files", IntegerType, nullable = false),
          StructField("removed_delete_files", IntegerType, nullable = false)))
        case "evolve_bucketing" => StructType(Seq(
          StructField("prior_count", IntegerType, nullable = false),
          StructField("new_count", IntegerType, nullable = false),
          StructField("files_to_migrate", IntegerType, nullable = false)))
      }

      /** CONVERT TO LAKE: adopt an EXISTING plain Parquet directory into
        * the manifest layer IN PLACE — the Iceberg `snapshot`/`migrate` /
        * Delta `CONVERT TO DELTA` move, and the first thing a user with
        * pre-existing data runs. No data is rewritten: the directory is
        * listed once (O(files) driver metadata), ONE `#payload parquet`
        * manifest publishes the file list, the catalog marker registers
        * the name pointing at the directory (external-table semantics —
        * DROP never deletes the adopted data). After adoption every typed
        * face works: scans (vectorized, pruned), DML, maintenance,
        * time travel from this first commit onward. Guards: the name must
        * be free, the directory must not already be a lake (_manifests or
        * marker), every adopted file must be `.parquet` and — when
        * partition columns are declared — carry every `k=v` path segment;
        * one footer is opened to check the declared DATA columns actually
        * exist there (a wrong schema would otherwise null-fill silently).
        * `stats_fields` runs the measure pass after adoption so the
        * skipping layer starts populated.
        */
      private def convertToLake(input: InternalRow): Array[InternalRow] = {
        val table = input.getUTF8String(0).toString
        val dir = input.getUTF8String(1).toString.stripSuffix("/")
        val schema = StructType.fromDDL(input.getUTF8String(2).toString)
        val partCols = (if (input.isNullAt(3)) ""
          else input.getUTF8String(3).toString)
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val statsFields = (if (input.isNullAt(4)) ""
          else input.getUTF8String(4).toString)
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        TypedLake.validateTyped(schema, partCols)
        val parts = table.split('.')
        val ident = Identifier.of(parts.dropRight(1), parts.last)
        if (catalog.tableExists(ident))
          throw new TableAlreadyExistsException(ident)
        val regDir = catalog.defaultDir(ident)
        val fs = new Path(dir).getFileSystem(LakeIO.conf)
        if (!fs.exists(new Path(dir)))
          throw new IllegalArgumentException(
            s"LakeCatalog convert: $dir does not exist")
        if (fs.exists(new Path(dir, WeatherLakeV2Sink.ManifestDir)) ||
            fs.exists(new Path(dir, MarkerFile)) ||
            fs.exists(new Path(regDir, MarkerFile)))
          throw new IllegalStateException(
            s"LakeCatalog convert: $dir (or the registration at $regDir) " +
              "is already a lake — convert adopts PLAIN directories only; " +
              "use CREATE TABLE … LOCATION to re-register an existing lake")
        def walk(p: Path): Seq[Path] =
          fs.listStatus(p).toSeq.flatMap { st =>
            if (st.getPath.getName.startsWith(".") ||
                st.getPath.getName.startsWith("_")) Seq.empty
            else if (st.isDirectory) walk(st.getPath)
            else Seq(st.getPath)
          }
        val files = walk(new Path(dir)).map(_.toUri.getPath).sorted
        if (files.isEmpty) throw new IllegalArgumentException(
          s"LakeCatalog convert: $dir holds no data files")
        files.filterNot(_.endsWith(".parquet")) match {
          case Seq() => ()
          case bad => throw new IllegalArgumentException(
            s"LakeCatalog convert: non-Parquet files under $dir (" +
              bad.take(3).mkString(", ") + ") — the typed lake payload " +
              "is Parquet; move or delete them first")
        }
        if (partCols.nonEmpty) files.foreach { f =>
          val pv = WeatherLakeV2Sink.partitionValues(dir, f)
          val missing = partCols.filterNot(pv.contains)
          if (missing.nonEmpty) throw new IllegalArgumentException(
            s"LakeCatalog convert: $f carries no '${missing.head}=' path " +
              "segment — declared partition columns must be laid out " +
              "Hive-style (k=v directories) in the adopted directory")
        }
        // one footer: the declared DATA columns must exist in the files
        // (a misdeclared schema would otherwise read as silent nulls)
        val spark = SparkSession.active
        val footer = spark.read.parquet(files.head).schema
        val footerNames = footer.fieldNames.map(_.toLowerCase).toSet
        TypedLake.dataSchema(schema, partCols).fieldNames
          .filterNot(n => footerNames(n.toLowerCase)) match {
          case Array() => ()
          case missing => throw new IllegalArgumentException(
            s"LakeCatalog convert: declared data column(s) " +
              s"${missing.mkString(", ")} absent from ${files.head} " +
              s"(footer columns: ${footer.fieldNames.mkString(", ")}) — " +
              "fix schema_ddl; adopting would null-fill them silently")
        }
        WeatherLakeV2Sink.writeManifest(dir, "convert", files,
          payload = Some(TypedLake.Payload))
        val props = new util.HashMap[String, String]()
        props.put(TableCatalog.PROP_LOCATION, dir)
        props.put(SchemaProp, schema.json)
        props.put(PartitionColsProp, partCols.mkString(","))
        if (statsFields.nonEmpty)
          props.put("statsFields", statsFields.mkString(","))
        writeMarker(fs.getConf, regDir, props)
        val measured =
          if (statsFields.isEmpty) 0
          else TypedLake.measureStatsTyped(spark, dir, schema, statsFields)
        Array(InternalRow(files.size, measured))
      }

      override def call(input: InternalRow): util.Iterator[Scan] = {
        if (procName == "convert") {
          val converted = convertToLake(input)
          val schema = resultSchema
          val scan: Scan = new LocalScan {
            override def rows(): Array[InternalRow] = converted
            override def readSchema(): StructType = schema
            override def description(): String = "lake_convert"
          }
          return util.Collections.singletonList(scan).iterator()
        }
        val table = input.getUTF8String(0).toString
        val (path, tprops) = catalog.resolveTableProps(table)
        // typed tables route data-touching verbs to the Parquet twins
        val typed: Option[(StructType, Seq[String])] =
          Option(tprops.get(SchemaProp)).map { json =>
            (DataType.fromJson(json).asInstanceOf[StructType],
              Option(tprops.get(PartitionColsProp))
                .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
                .getOrElse(Seq.empty))
          }
        val spark = SparkSession.active
        val resultRows: Array[InternalRow] = procName match {
          case "vacuum" =>
            // `cdfRetentionMs` table property = the declared change-feed
            // bootstrap/replay window; a vacuum (even forced zero-age)
            // never reclaims history younger than it
            Array(InternalRow(WeatherLakeV2Sink.vacuum(path,
              minAgeMs = input.getLong(1), force = input.getBoolean(2),
              cdfRetentionMs = Option(tprops.get("cdfRetentionMs"))
                .map(_.trim.toLong).getOrElse(0L))))
          case "sweep_orphans" =>
            Array(InternalRow(WeatherLakeV2Sink.sweepOrphans(path,
              minAgeMs = input.getLong(1))))
          case "checkpoint" =>
            Array(InternalRow(WeatherLakeV2Sink.checkpointManifests(path)))
          case "compact" =>
            val clusterExpr = if (input.isNullAt(2)) None
              else Some(input.getUTF8String(2).toString)
            // default to the TABLE's own statsFields: a maintenance
            // rewrite must refresh (never silently drop) the per-file
            // stats the scan's pruning runs on — and post-rename it is
            // what migrates old-spelling stats to the current name
            val statsFields = if (input.isNullAt(3))
              Option(tprops.get("statsFields")).toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              else input.getUTF8String(3).toString
                .split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val fn = clusterExpr.map(text =>
              (_: org.apache.spark.sql.DataFrame) =>
                org.apache.spark.sql.functions.expr(text))
            Array(InternalRow(typed match {
              case Some((schema, partCols))
                  if tprops.containsKey(BucketColProp) =>
                // bucketed tables compact PER BUCKET with the routing
                // markers preserved (clusterExpr has no meaning there —
                // the layout IS the cluster)
                if (fn.isDefined) throw new UnsupportedOperationException(
                  "LakeCatalog: cluster_expr does not apply to a " +
                    "bucketed table — its layout is the bucket hash")
                val n = TypedLake.compactTypedBucketed(spark, path, schema,
                  bucketCol = tprops.get(BucketColProp),
                  numBuckets = tprops.get(BucketCountProp).toInt,
                  statsFields = statsFields,
                  priorCount = Option(tprops.get(BucketPriorCountsProp))
                    .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)
                      .headOption.map(_.toInt)))
                catalog.retireNameMappingIfClear(table)
                n
              case Some((schema, partCols)) =>
                val n = TypedLake.compactTyped(spark, path, schema, partCols,
                  targetBytes = input.getLong(1), clusterExpr = fn,
                  statsFields = statsFields)
                // post-rename lazy migration's close: drop the mapping
                // once nothing reachable still spells the old name
                catalog.retireNameMappingIfClear(table)
                n
              case None =>
                WeatherLakeV2Sink.compact(spark, path,
                  targetBytes = input.getLong(1), clusterExpr = fn,
                  statsFields = statsFields)
            }))
          case "reconcile" =>
            val (schema, partCols) = typed.getOrElse(
              throw new UnsupportedOperationException(
                "LakeCatalog: reconcile applies to typed tables only -- " +
                  "the classic JSON-line lake has no merge-on-read mode"))
            val sf = if (input.isNullAt(1)) Seq.empty[String]
              else input.getUTF8String(1).toString
                .split(",").map(_.trim).filter(_.nonEmpty).toSeq
            Array(InternalRow(TypedLake.reconcileMor(spark, path, schema,
              partCols, statsFields = sf,
              bucketSpec = Option(tprops.get(BucketColProp)).map(c =>
                (c, tprops.get(BucketCountProp).toInt)))))
          case "compact_deletes" =>
            val (schema, _) = typed.getOrElse(
              throw new UnsupportedOperationException(
                "LakeCatalog: compact_deletes applies to typed tables " +
                  "only -- the classic JSON-line lake has no " +
                  "merge-on-read mode"))
            val (before, after) =
              TypedLake.compactMorDeletes(spark, path, schema)
            Array(InternalRow(before, after))
          case "tag" =>
            Array(InternalRow(WeatherLakeV2Sink.createTag(path,
              input.getUTF8String(1).toString).size))
          case "drop_tag" =>
            Array(InternalRow(WeatherLakeV2Sink.dropTag(path,
              input.getUTF8String(1).toString)))
          case "tags" =>
            WeatherLakeV2Sink.tagNames(path).map(n => InternalRow(
              UTF8String.fromString(n),
              WeatherLakeV2Sink.readTag(path, n).size): InternalRow)
              .toArray
          case "create_branch" =>
            Array(InternalRow(WeatherLakeV2Sink.createBranch(path,
              input.getUTF8String(1).toString).size))
          case "fast_forward" =>
            Array(InternalRow(WeatherLakeV2Sink.fastForward(path,
              input.getUTF8String(1).toString)))
          case "drop_branch" =>
            Array(InternalRow(WeatherLakeV2Sink.dropBranch(path,
              input.getUTF8String(1).toString)))
          case "branches" =>
            WeatherLakeV2Sink.branchNames(path).map(n => InternalRow(
              UTF8String.fromString(n),
              WeatherLakeV2Sink.readBranchBase(path, n).size,
              WeatherLakeV2Sink.branchManifestNames(path, n).size,
              WeatherLakeV2Sink.branchEntryLines(path, n).size)
              : InternalRow).toArray
          case "rollback" =>
            val ref = input.getUTF8String(1).toString
            // resolution: integer = commit version, then an immutable
            // TAG (pins win the namespace, same precedence as VERSION
            // AS OF), then a TIMESTAMP (Delta's RESTORE TO TIMESTAMP —
            // ISO instant, or 'yyyy-MM-dd HH:mm:ss[.S]' read as UTC,
            // the zone every canonical rendering here pins); anything
            // else fails loudly listing the known tags. Branches are
            // staging heads, not main-history points — fast_forward is
            // their publish.
            def parseTsMs(s: String): Option[Long] =
              (try Some(java.time.Instant.parse(s))
              catch { case _: Exception =>
                try Some(java.time.LocalDateTime
                  .parse(s.trim.replace(' ', 'T'))
                  .toInstant(java.time.ZoneOffset.UTC))
                catch { case _: Exception => None }
              }).map(_.toEpochMilli)
            val snap = ref.toIntOption match {
              case Some(v) => WeatherLakeV2Sink.snapshotAt(path, v)
              case None
                  if WeatherLakeV2Sink.tagNames(path).contains(ref) =>
                WeatherLakeV2Sink.readTag(path, ref)
              case None => parseTsMs(ref) match {
                case Some(ms) =>
                  WeatherLakeV2Sink.snapshotAtTimestamp(path, ms)
                case None => WeatherLakeV2Sink.readTag(path, ref)
              }
            }
            val st = WeatherLakeV2Sink.rollbackTo(path, snap)
            Array(InternalRow(st.restoredFiles, st.removedFiles,
              st.restoredDeleteFiles, st.removedDeleteFiles))
          case "evolve_bucketing" =>
            if (typed.isEmpty || !tprops.containsKey(BucketColProp))
              throw new UnsupportedOperationException(
                s"LakeCatalog: evolve_bucketing applies to typed " +
                  "BUCKETED tables only — to bucket an unbucketed " +
                  "table, CTAS into one (the rows must be routed once " +
                  "regardless; there is no metadata-only shortcut)")
            // the WAP fence, manually (this is a marker rewrite, not a
            // manifest publish): a staging session re-routing MAIN's
            // writer would be exactly the silent-main-mutation the
            // fence exists to refuse
            WeatherLakeV2Sink.activeWapBranch().foreach { b =>
              throw new UnsupportedOperationException(
                s"LakeCatalog: session is staging on WAP branch '$b' — " +
                  "evolve_bucketing changes main's write routing; " +
                  "publish or drop the branch first")
            }
            val (prior, now, legacyGen) =
              catalog.evolveBucketing(table, input.getInt(1))
            val migrate = WeatherLakeV2Sink.committedFiles(path).count { f =>
              TypedLake.bucketGenOfFile(f) match {
                case Some((_, cnt)) => cnt.getOrElse(legacyGen) != now
                case None => true // unmarked strays migrate too
              }
            }
            Array(InternalRow(prior, now, migrate))
          case "measure_stats" =>
            val fields = input.getUTF8String(1).toString
              .split(",").map(_.trim).filter(_.nonEmpty).toSeq
            Array(InternalRow(typed match {
              case Some((schema, _)) =>
                TypedLake.measureStatsTyped(spark, path, schema, fields)
              case None =>
                WeatherLakeV2Sink.measureStats(spark, path, fields)
            }))
          case "detail" =>
            // one row of table health — all O(committed files) driver
            // metadata (the same class as the manifest read itself)
            val log = WeatherLakeV2Sink.loadSnapshot(path)
            val lines = log.liveEntryLines
            val fs = new Path(path).getFileSystem(LakeIO.conf)
            val files = lines.map(WeatherLakeV2Sink.entryPath)
            val bytes = files.map(f =>
              fs.getFileStatus(new Path(f)).getLen).sum
            val partitions = files.map(f =>
              WeatherLakeV2Sink.partitionValues(path, f)).distinct.size
            val withStats = lines.count(l =>
              WeatherLakeV2Sink.lineStats(l).nonEmpty)
            // live_delete_files > 0 = merge-on-read debt: reads pay an
            // anti-join over mor_targeted_files until reconcile (or a
            // compaction of those directories) folds it back;
            // compact_deletes bounds the delete-file count itself
            val delLines = log.liveMorDeleteLines
            val liveDel = delLines.map(WeatherLakeV2Sink.entryPath)
            val targeted =
              if (delLines.isEmpty) 0
              else TypedLake.possiblyTargetedFiles(files, delLines).size
            val staleBucket = (for {
              col <- Option(tprops.get(BucketColProp))
              n <- Option(tprops.get(BucketCountProp)).map(_.toInt)
            } yield {
              val prior = Option(tprops.get(BucketPriorCountsProp))
                .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)
                  .headOption.map(_.toInt))
              files.count(f => !TypedLake.bucketGenOfFile(f).exists {
                case (_, cnt) => cnt.orElse(prior).getOrElse(n) == n
              })
            }).getOrElse(0)
            Array(InternalRow(UTF8String.fromString(path), files.size,
              bytes, partitions, log.live.size, log.names.size, withStats,
              liveDel.size,
              liveDel.count(TypedLake.isPosDelete), targeted,
              WeatherLakeV2Sink.tagNames(path).size,
              WeatherLakeV2Sink.branchNames(path).size, staleBucket))
          case "history" =>
            val fs = new Path(path).getFileSystem(LakeIO.conf)
            val mdir = new Path(path, WeatherLakeV2Sink.ManifestDir)
            val history = WeatherLakeV2Sink.manifestHistory(path)
            val log = WeatherLakeV2Sink.loadSnapshot(path)
            val live = log.live.toSet
            history.zipWithIndex.map { case (n, i) =>
              val op = WeatherLakeV2Sink.manifestOp(log.lines(n))
                .getOrElse("append")
              InternalRow(i, UTF8String.fromString(n),
                UTF8String.fromString(op),
                fs.getFileStatus(new Path(mdir, n)).getModificationTime,
                live(n))
            }.toArray
        }
        val schema = resultSchema
        val scan: Scan = new LocalScan {
          override def rows(): Array[InternalRow] = resultRows
          override def readSchema(): StructType = schema
          override def description(): String = s"lake_$procName($table)"
        }
        util.Collections.singletonList(scan).iterator()
      }
    }
  }
}
