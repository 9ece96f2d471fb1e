package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan}

import graft.sources.{TypedLake, WeatherLakeV2Sink}

/** Physics of the inline-mor read path (round-16 hardening):
  *
  *  1. COLUMNAR under live skip sets — one live position-delete file
  *     used to demote the WHOLE scan's columnar handoff (mixing modes
  *     within one DSv2 scan is illegal, so every partition went
  *     row-based). The row-index ordinal leg restores a columnar face
  *     for targeted files (kept rows re-exposed zero-copy through
  *     mapped column vectors), so the scan stays columnar end-to-end:
  *     `ColumnarToRow` sits above the BatchScan WITH live deletes.
  *  2. FILTERS on targeted files — the ordinal leg projects the parquet
  *     readers' `_tmp_metadata_row_index` column (exact physical
  *     ordinals straight from footer offsets) and re-pushes the scan's
  *     filters, so row-group skipping stays ON for targeted files and
  *     subtraction can never shift an ordinal (the multi-row-group test
  *     would delete the WRONG rows if ordinals were still counted).
  *  3. COMPENSATED COUNT pushdown — position-only debt is the one
  *     exactly-compensable aggregate case: footer count minus skip-set
  *     size per file. With parquet aggregate pushdown enabled,
  *     `SELECT count(*)` plans the pushed aggregate instead of refusing.
  */
class TypedLakeMorScanPhysicsSpec extends SparkSpec {

  private def freshCat(tag: String): String = {
    val w = Files.createTempDirectory(s"morphys$tag").toString
    spark.conf.set(s"spark.sql.catalog.mp$tag", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.mp$tag.warehouse", w)
    w
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children.flatMap(walk) ++ (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
      case _ => Seq.empty
    }))

  /** The scan is consumed COLUMNARLY: a ColumnarToRow whose input chain
    * bottoms out at a BatchScanExec.
    */
  private def columnarScan(df: DataFrame): Boolean = {
    df.collect()
    walk(df.queryExecution.executedPlan).exists {
      case c: ColumnarToRowExec =>
        def bottom(p: SparkPlan): Boolean = p match {
          case _: BatchScanExec => true
          case i: InputAdapter => bottom(i.child)
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            bottom(w.child)
          case _ => false
        }
        bottom(c.child)
      case _ => false
    }
  }

  test("live position deletes keep the scan COLUMNAR: ColumnarToRow over " +
      "the inline-mor BatchScan, correct answers, zero anti-join legs — " +
      "and the bucketed twin stays columnar too") {
    val w = freshCat("a")
    spark.sql("""CREATE TABLE mpa.t (id BIGINT, v BIGINT, region STRING)
      USING lake PARTITIONED BY (region)
      TBLPROPERTIES ('statsFields' = 'id', 'dmlMode' = 'mor')""")
    spark.sql("""INSERT INTO mpa.t
      SELECT id, id * 10, concat('r', id % 2) FROM range(100)""")
    spark.sql("DELETE FROM mpa.t WHERE id IN (3, 7, 90)")
    assert(WeatherLakeV2Sink.committedMorDeleteFiles(s"$w/t").nonEmpty)

    val q = spark.table("mpa.t")
    assert(columnarScan(q),
      s"inline-mor scan must stay columnar:\n${q.queryExecution.executedPlan}")
    assert(q.count() == 97)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM mpa.t")
      .head.getLong(0) == (0L until 100L).filterNot(Set(3L, 7L, 90L))
        .map(_ * 10).sum)
    // a filter overlapping a targeted file — pushed into the ordinal leg,
    // re-evaluated above, exact
    val filtered = spark.sql("SELECT id FROM mpa.t WHERE id < 10 ORDER BY id")
    assert(columnarScan(filtered))
    assert(filtered.collect().map(_.getLong(0)).toSeq ==
      (0L until 10L).filterNot(Set(3L, 7L)))

    // bucketed twin: the bucket partitions mix clean splits and targeted
    // files inside ONE partition — still columnar
    spark.sql("""CREATE TABLE mpa.b (k BIGINT, v BIGINT)
      USING lake PARTITIONED BY (bucket(4, k))
      TBLPROPERTIES ('dmlMode' = 'mor')""")
    spark.sql("INSERT INTO mpa.b SELECT id, id * 3 FROM range(200)")
    spark.sql("DELETE FROM mpa.b WHERE k IN (11, 44, 177)")
    assert(WeatherLakeV2Sink.committedMorDeleteFiles(s"$w/b")
      .forall(TypedLake.isPosDelete))
    val qb = spark.table("mpa.b")
    assert(columnarScan(qb),
      s"bucketed inline-mor scan must stay columnar:\n" +
        qb.queryExecution.executedPlan)
    assert(qb.count() == 197)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM mpa.b")
      .head.getLong(0) == (0L until 200L).filterNot(Set(11L, 44L, 177L))
        .map(_ * 3).sum)
    spark.sql("DROP TABLE mpa.t")
    spark.sql("DROP TABLE mpa.b")
  }

  test("row-index ordinals are EXACT under multi-row-group files, pushed " +
      "filters and row-group skipping: deletions land on the right " +
      "physical rows (counting would shift them)") {
    freshCat("b")
    // a plain parquet file with MANY row groups (tiny block size), then
    // adopted via convert — the typed writer pins its own conf, so the
    // multi-row-group fixture must come in through adoption
    val plain = Files.createTempDirectory("morphysplain").toString + "/d"
    spark.range(0, 4000, 1, 1).selectExpr("id", "id * 10 AS v")
      .write.option("parquet.block.size", "8192")
      .option("parquet.page.size", "2048").parquet(plain)
    val dataFile = new org.apache.hadoop.fs.Path(plain)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
      .listStatus(new org.apache.hadoop.fs.Path(plain))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        dataFile, new org.apache.hadoop.conf.Configuration()))
    val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
    assert(nGroups > 1, s"fixture must span row groups, got $nGroups")

    spark.sql(s"""CALL mpb.system.convert('t', path => '$plain',
      schema_ddl => 'id BIGINT, v BIGINT', stats_fields => 'id')""")
    spark.sql("ALTER TABLE mpb.t SET TBLPROPERTIES ('dmlMode' = 'mor')")
    // deletions scattered across row groups (physical ordinal == id:
    // range(..., 1 slice) wrote rows in order)
    spark.sql("DELETE FROM mpb.t WHERE id IN (5, 1999, 2001, 3777)")
    val dels = WeatherLakeV2Sink.committedMorDeleteFiles(plain)
    assert(dels.nonEmpty && dels.forall(TypedLake.isPosDelete), dels)

    // a selective filter deep into the file: with filters pushed into
    // the targeted leg, leading row groups are skippable — ordinals
    // must STILL name the right rows (row-index is physical, counting
    // emitted rows would restart at the first surviving group)
    val back = spark.sql(
      "SELECT id FROM mpb.t WHERE id >= 1990 AND id < 2010 ORDER BY id")
    assert(columnarScan(back))
    assert(back.collect().map(_.getLong(0)).toSeq ==
      (1990L until 2010L).filterNot(Set(1999L, 2001L)))
    assert(spark.table("mpb.t").count() == 3996)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM mpb.t")
      .head.getLong(0) ==
      (0L until 4000L).filterNot(Set(5L, 1999L, 2001L, 3777L))
        .map(_ * 10).sum)
    spark.sql("DROP TABLE mpb.t")
  }

  test("COUNT(*) pushdown under position-only debt is COMPENSATED, not " +
      "refused: the pushed aggregate plans (footer partials minus " +
      "skip-set sizes), matches the live view, and non-compensable " +
      "aggregates stay on the subtracting scan") {
    val w = freshCat("c")
    spark.sql("""CREATE TABLE mpc.t (id BIGINT, v BIGINT) USING lake
      TBLPROPERTIES ('dmlMode' = 'mor')""")
    spark.sql("INSERT INTO mpc.t SELECT id, id * 10 FROM range(100)")
    spark.sql("DELETE FROM mpc.t WHERE id IN (3, 7, 90)")
    assert(WeatherLakeV2Sink.committedMorDeleteFiles(s"$w/t")
      .forall(TypedLake.isPosDelete))
    // a second position-delete file naming the SAME (file, ordinal)s: the
    // compensation subtracts distinct ordinals per file, never delete rows
    val posFile = new java.io.File(new java.net.URI(
      WeatherLakeV2Sink.committedMorDeleteFiles(s"$w/t").head).getPath)
    val twin = new java.io.File(posFile.getParentFile,
      s"part-morpos-${java.util.UUID.randomUUID()}.parquet")
    Files.copy(posFile.toPath, twin.toPath)
    WeatherLakeV2Sink.publishForTest(s"$w/t", "mordelete",
      snapshot = WeatherLakeV2Sink.liveManifests(s"$w/t"), supersedes = Nil,
      lines = Seq(WeatherLakeV2Sink.MorDeletePrefix + twin.getPath),
      payload = Some(TypedLake.Payload))
    assert(WeatherLakeV2Sink.committedMorDeleteFiles(s"$w/t").size == 2)

    def scanDescs(df: DataFrame): Seq[String] = {
      df.collect()
      walk(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec => b.scan.description()
      }
    }

    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val c = spark.sql("SELECT count(*) FROM mpc.t")
      assert(c.head.getLong(0) == 97,
        "compensated count must subtract deleted ordinals")
      assert(scanDescs(c).exists(_.contains("mor-compensated count")),
        s"count(*) under position debt must plan the pushed aggregate:\n" +
          c.queryExecution.executedPlan)
      // a SECOND delete stacks another skip file — still exact
      spark.sql("DELETE FROM mpc.t WHERE id = 50")
      val c2 = spark.sql("SELECT count(*) FROM mpc.t")
      assert(c2.head.getLong(0) == 96)
      assert(scanDescs(c2).exists(_.contains("mor-compensated count")))
      // non-compensable shapes stay on the subtracting scan and answer
      // exactly: grouped count, min/max, filtered count
      val g = spark.sql(
        "SELECT id % 2 AS p, count(*) AS n FROM mpc.t GROUP BY id % 2")
      assert(g.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(0L -> 48L, 1L -> 48L))
      assert(scanDescs(g).forall(!_.contains("mor-compensated count")))
      val mn = spark.sql("SELECT min(id), max(id) FROM mpc.t").head
      assert(mn.getLong(0) == 0 && mn.getLong(1) == 99)
      assert(spark.sql("SELECT count(*) FROM mpc.t WHERE id < 10")
        .head.getLong(0) == 8)
      // after reconcile the debt is gone: the ORDINARY pushed aggregate
      // (complete pushdown, no compensation) takes over, same answer
      spark.sql("CALL mpc.system.reconcile('t')")
      val c3 = spark.sql("SELECT count(*) FROM mpc.t")
      assert(c3.head.getLong(0) == 96)
      assert(scanDescs(c3).forall(!_.contains("mor-compensated count")))
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
    spark.sql("DROP TABLE mpc.t")
  }
}
