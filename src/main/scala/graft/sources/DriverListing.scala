package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Build relations over EXPLICIT manifest-enumerated files with ZERO
  * per-file filesystem calls on the driver.
  *
  * The engine's own construction pays O(files) metadata RPCs twice over:
  * `DataSource.checkAndGlobPathIfNecessary` existence-checks every path,
  * and `InMemoryFileIndex` re-stats each one — either distributed (above
  * `parallelPartitionDiscovery.threshold`, a 240–460-task near-empty
  * cluster job measured at 0.1–1.5 s per lake-DML query at sf0.1, removed
  * in round 16 by a scoped conf) or sequentially on the driver. Both are
  * pure overhead when the caller already holds the exact leaf-file list
  * from a committed manifest, and on a real object store at 100 TB the
  * per-file HEAD storm is the dominating cost of relation construction.
  *
  * Here the statuses come from ONE `listStatus` per parent DIRECTORY on
  * store schemes (the batched LIST call object stores page at ~1000 keys
  * per round trip, so RPCs drop from O(files) to O(directories)) or one
  * stat syscall per file on the local scheme (see [[statuses]] for why
  * local listing is the wrong call), and are pre-seeded into
  * a private [[FileStatusCache]], so the [[InMemoryFileIndex]] resolves
  * every root path from the cache: zero `getFileStatus`, zero `exists`,
  * zero `globStatus` (spec-asserted through a counting FileSystem in
  * ZeroRpcListingSpec). Manifests do not record byte sizes (entry lines
  * are `path[\tstatsJson]`, stats are per-field min/max), and split
  * planning needs EXACT lengths — an undersized length silently drops row
  * groups — so the one-LIST-per-directory batch is the honest zero-HEAD
  * construction, not a format change late in the table's life.
  *
  * Everything downstream is the engine's own machinery over the same
  * parameters (`basePath` partition recovery, user-schema partition
  * typing, vectorized scans, pushdown), so plan shapes are unchanged.
  */
object DriverListing {

  /** Pre-seeded cache: every root path IS a leaf file whose status is
    * already known, so the index's listing loop is all cache hits. Writes
    * are ignored (nothing should miss); never shared across relations.
    */
  private final class SeededCache(m: java.util.HashMap[Path, Array[FileStatus]])
      extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(m.get(path))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** FileStatus of every file in `files`. Non-local schemes: ONE
    * `listStatus` per distinct parent directory — the batched LIST an
    * object store pages at ~1000 keys per round trip, statuses included,
    * so metadata RPCs are O(directories) instead of O(files). Local
    * scheme: one stat SYSCALL per file — `RawLocalFileSystem.listStatus`
    * stats every directory child (plus `.crc` siblings), and lake
    * directories accumulate superseded files awaiting vacuum, so a local
    * listing costs O(dir contents), not O(wanted files); the same
    * local-vs-store split as [[LakeIO.newOutput]]. A manifest-listed file
    * missing either way is lake corruption (or a vacuum razed data a live
    * manifest still references) — fail loudly.
    */
  private def statuses(spark: SparkSession,
      files: Seq[String]): Seq[FileStatus] = {
    if (files.isEmpty) return Nil // empty relation, like spark.read.parquet()
    val conf = spark.sessionState.newHadoopConf()
    val paths = files.map(new Path(_))
    val found = new java.util.HashMap[Path, FileStatus]()
    // each path takes the branch of ITS OWN filesystem — a list may mix
    // schemes (a local file beside store paths)
    val byFs = paths.groupBy(p => (p.toUri.getScheme, p.toUri.getAuthority))
    byFs.values.foreach { group =>
      val fs = group.head.getFileSystem(conf)
      if (fs.getScheme == "file")
        group.foreach(p => found.put(p, fs.getFileStatus(p)))
      else group.groupBy(_.getParent).foreach { case (dir, wanted) =>
        val listed = fs.listStatus(dir).map(st => st.getPath.getName -> st).toMap
        wanted.foreach { p =>
          found.put(p, listed.getOrElse(p.getName,
            throw new java.io.FileNotFoundException(
              s"DriverListing: manifest-listed file absent from its " +
                s"directory listing: $p")))
        }
      }
    }
    paths.map(found.get)
  }

  /** An [[InMemoryFileIndex]] over exactly `files`, built from batched
    * directory listings (see object doc): construction performs no
    * per-file filesystem calls. `parameters` flow to the engine's own
    * partition recovery (`basePath`), `userSchema` pins partition-column
    * types exactly as `spark.read.schema(...)` would.
    */
  def index(spark: SparkSession, files: Seq[String],
      parameters: Map[String, String],
      userSchema: Option[StructType]): InMemoryFileIndex = {
    val sts = statuses(spark, files)
    val seeded = new java.util.HashMap[Path, Array[FileStatus]]()
    sts.foreach(st => seeded.put(st.getPath, Array(st)))
    new InMemoryFileIndex(spark, sts.map(_.getPath),
      parameters, userSchema, new SeededCache(seeded))
  }

  /** The v1 relation the engine would build for
    * `spark.read.options(parameters).schema(userSchema).<format>(files)`,
    * minus every per-file RPC: same [[HadoopFsRelation]], same
    * `FileSourceScanExec` plan shape, same partition-column recovery and
    * pushdown faces.
    */
  private def frame(spark: SparkSession, files: Seq[String],
      parameters: Map[String, String], userSchema: Option[StructType],
      format: org.apache.spark.sql.execution.datasources.FileFormat,
      inferredSchema: PartitioningAwareFileIndex => StructType): DataFrame = {
    val idx = index(spark, files, parameters, userSchema)
    val partitionSchema = idx.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = userSchema.map { s =>
      StructType(s.filterNot(f =>
        partitionSchema.exists(p => resolver(p.name, f.name))))
    }.getOrElse(inferredSchema(idx))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      idx, partitionSchema, dataSchema, None, format, parameters)(spark))
  }

  /** `spark.read.option("basePath", …).schema(schema).parquet(files)`
    * with zero per-file RPCs. Every lake parquet read passes a schema
    * (the typed table's declared schema or a delete-file schema), so no
    * footer-based inference path is needed here.
    */
  def parquetFrame(spark: SparkSession, files: Seq[String],
      schema: StructType,
      parameters: Map[String, String] = Map.empty): DataFrame =
    frame(spark, files, parameters, Some(schema),
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      _ => throw new IllegalStateException(
        "parquetFrame always receives a user schema"))

  /** `spark.read.text(files)` with zero per-file RPCs. */
  def textFrame(spark: SparkSession, files: Seq[String]): DataFrame =
    frame(spark, files, Map.empty,
      Some(StructType(Seq(org.apache.spark.sql.types.StructField(
        "value", org.apache.spark.sql.types.StringType, nullable = true)))),
      new org.apache.spark.sql.execution.datasources.text.TextFileFormat,
      _ => throw new IllegalStateException("text schema is fixed"))

  /** A [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable]]
    * whose lazy `fileIndex` is the zero-RPC index above instead of
    * `FileTable`'s glob-check + re-stat construction. Everything else —
    * schema assembly, scan-builder pushdown faces — inherits.
    */
  private final class ManifestParquetTable(ident: String,
      spark: SparkSession, options: CaseInsensitiveStringMap,
      files: Seq[String], tableSchema: StructType)
      extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
        ident, spark, options, files.toIndexedSeq, Some(tableSchema),
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]) {
    import scala.jdk.CollectionConverters._
    override lazy val fileIndex: PartitioningAwareFileIndex =
      DriverListing.index(spark, files,
        options.asCaseSensitiveMap().asScala.toMap, Some(tableSchema))
  }

  /** The DSv2 `ParquetScanBuilder` the engine would hand out for a
    * `ParquetTable` over `files`, with the zero-RPC file index.
    */
  def parquetScanBuilder(ident: String, spark: SparkSession,
      options: CaseInsensitiveStringMap, files: Seq[String],
      tableSchema: StructType):
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =
    new ManifestParquetTable(ident, spark, options, files, tableSchema)
      .newScanBuilder(options)
}
