package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Every call that resolves file metadata on this filesystem is counted,
  * so a spec can assert a relation was constructed with ZERO per-file
  * stats (`getFileStatus`, which also backs `exists`/`isFile`/`isDirectory`
  * and the globber) and exactly one directory listing per parent.
  */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def getFileStatus(f: Path): FileStatus = {
    // RawLocalFileSystem.listStatus stats each child internally — a local
    // implementation detail (an object-store LIST returns statuses in the
    // response); count only EXTERNAL per-file stats
    if (!CountingFs.inList.get()) CountingFs.stats.incrementAndGet()
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.lists.incrementAndGet()
    CountingFs.inList.set(true)
    try super.listStatus(f)
    finally CountingFs.inList.set(false)
  }
}

object CountingFs {
  val stats = new AtomicInteger(0)
  val lists = new AtomicInteger(0)
  val inList = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  def reset(): Unit = { stats.set(0); lists.set(0) }
}

/** Round-17 contract for [[graft.sources.DriverListing]]: building a
  * relation over a manifest-known file list makes ZERO per-file
  * filesystem metadata calls — statuses come from one batched
  * `listStatus` per parent directory. (The engine's own construction
  * existence-checks every path in `checkAndGlobPathIfNecessary` and
  * re-stats each one in `InMemoryFileIndex`; at object-store scale that
  * per-file HEAD storm dominates relation construction.)
  */
class ZeroRpcListingSpec extends SparkSpec {
  import graft.sources.DriverListing

  private lazy val prepared: (Seq[String], Seq[String]) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("zerorpc").toString
    // 40 single-row parquet files across two directories — above the 32-
    // path parallel-discovery threshold the old scoped-conf workaround
    // existed for, and > 1 parent so the per-directory batching shows
    spark.range(40).selectExpr("id", "id % 2 AS d")
      .repartition(40, org.apache.spark.sql.functions.col("id"))
      .write.partitionBy("d").parquet(s"$dir/p")
    spark.range(40).selectExpr("CAST(id AS STRING) AS value")
      .repartition(40, org.apache.spark.sql.functions.col("value"))
      .write.text(s"$dir/t")
    def files(sub: String): Seq[String] = {
      val fs = new Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf())
      def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
      }
      walk(new Path(s"$dir/$sub")).map(_.toUri.getPath)
        .filter(p => p.endsWith(".parquet") || p.endsWith(".txt"))
        .map(p => s"cfs:$p")
    }
    (files("p"), files("t"))
  }

  private def dirsOf(files: Seq[String]): Int =
    files.map(f => new Path(f).getParent).distinct.size

  test("parquetFrame constructs with zero getFileStatus, one list per dir") {
    val (pq, _) = prepared
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", LongType)))
    CountingFs.reset()
    val df = DriverListing.parquetFrame(spark, pq, schema,
      Map("basePath" -> new Path(pq.head).getParent.getParent.toString))
    // exactly ONE stat: the engine's own basePath-is-a-directory check in
    // PartitioningAwareFileIndex.basePaths — O(1) per RELATION, never per
    // file; every per-file call is gone
    assert(CountingFs.stats.get() <= 1,
      s"per-file getFileStatus during construction: ${CountingFs.stats.get()}")
    assert(CountingFs.lists.get() == dirsOf(pq),
      s"listStatus calls: ${CountingFs.lists.get()} != ${dirsOf(pq)} dirs")
    // the relation still reads every row correctly (executor-side data IO
    // is of course allowed — only driver metadata must be zero-RPC)
    assert(df.selectExpr("sum(id)").collect().head.getLong(0) == (0L until 40).sum)
    assert(df.columns.toSeq == Seq("id", "d"))
  }

  test("textFrame constructs with zero getFileStatus, one list per dir") {
    val (_, txt) = prepared
    CountingFs.reset()
    val df = DriverListing.textFrame(spark, txt)
    assert(CountingFs.stats.get() == 0,
      s"getFileStatus during construction: ${CountingFs.stats.get()}")
    assert(CountingFs.lists.get() == dirsOf(txt))
    assert(df.count() == 40)
  }

  test("parquetScanBuilder (DSv2) constructs and plans with zero getFileStatus") {
    val (pq, _) = prepared
    val schema = StructType(Seq(StructField("id", LongType)))
    CountingFs.reset()
    val builder = DriverListing.parquetScanBuilder("zerorpc_t", spark,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()), pq, schema)
    val batch = builder.build().toBatch
    assert(batch.planInputPartitions().nonEmpty)
    assert(CountingFs.stats.get() == 0,
      s"getFileStatus during DSv2 planning: ${CountingFs.stats.get()}")
    assert(CountingFs.lists.get() == dirsOf(pq))
  }

  test("a list mixing filesystems resolves each path through its own") {
    val (_, txt) = prepared
    val localHead = "file:" + new Path(txt.head).toUri.getPath
    CountingFs.reset()
    val df = DriverListing.textFrame(spark, localHead +: txt.tail)
    // the store paths still take the batched-listing branch
    assert(CountingFs.stats.get() == 0,
      s"getFileStatus during construction: ${CountingFs.stats.get()}")
    assert(CountingFs.lists.get() == dirsOf(txt.tail))
    assert(df.count() == 40)
  }

  test("a manifest-listed file missing from its directory fails loudly") {
    val (pq, _) = prepared
    val ghost = new Path(pq.head).getParent.toString + "/part-ghost.parquet"
    val e = intercept[java.io.FileNotFoundException] {
      DriverListing.parquetFrame(spark, pq :+ ghost,
        StructType(Seq(StructField("id", LongType))))
    }
    assert(e.getMessage.contains("part-ghost.parquet"))
  }
}
