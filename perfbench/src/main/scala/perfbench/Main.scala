package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up several times (session start,
  * clearing the program's fixed state roots, warm-up pass), run a fixed
  * number of closed-loop passes, check the outputs once, and write the raw
  * record (every sample and span; no statistics) for run.py.
  *
  * Arguments (all required): --workload --seed --passes N --trace 0|1
  * --ops a,b,c --profile-ops a,b (run once after the passes, traced runs
  * only) --data <input dir> --state <scratch dir> --out <record.json>
  * --cores N --setups N --cycles-per-pass N --warmup-ops N (0: a whole pass)
  * --fixture-lakes 0|1 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
    val profileOps = a("profile-ops").split(",").toSeq.filter(_.nonEmpty)
    val cores = a("cores").toInt
    val state = a("state")
    // traced runs count every local-filesystem call, the lake's shared
    // Hadoop conf included, so this precedes every Configuration
    if (traced) org.apache.hadoop.conf.Configuration
      .addDefaultResource("perfbench-counting-fs.xml")

    def session(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$state/spark-local")
        .config("spark.sql.warehouse.dir", s"$state/warehouse")
      if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def build(spark: SparkSession, tracer: Tracer, dir: String): Workload =
      if (workload == "etl_hourly")
        new EtlWorkload(spark, tracer, s"${a("data")}/weather_payloads.jsonl",
          dir, a("cycles-per-pass").toInt)
      else new QueryWorkload(spark, tracer, a("data"), ops, seed,
        fixtureLakes = a("fixture-lakes") == "1")

    val phase = mutable.LinkedHashMap.empty[String, Double]
    val jvm0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    phase("jvm_start") = (System.currentTimeMillis() - jvm0) / 1000.0
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      phase(name) = (System.nanoTime() - mark) / 1e9
      mark = System.nanoTime()
    }
    // ---- set-up, several times: the median is setup_s ------------------
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var wl: Workload = null
    for (rep <- 1 to a("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session()
      FixtureState.clear(state)
      tracer = new Tracer(spark.sparkContext)
      val warm = build(spark, tracer, s"$state/etl-warm")
      val warmOps = warm.passOps(1)
      val nWarm = a("warmup-ops").toInt
      (if (nWarm > 0) warmOps.take(nWarm) else warmOps).foreach { op =>
        val w0 = System.nanoTime()
        warm.runOp(0, op)
        System.err.println(f"[perfbench] setup $rep op $op ${(System.nanoTime() - w0) / 1e9}%.3f s")
      }
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    FixtureState.deleteTree(new File(s"$state/etl-warm"))
    tracer.spans.clear()
    wl = build(spark, tracer, s"$state/etl")

    val jobs = new JobListener
    val queries = new QueryListener
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(queries)
    }

    // one op execution, as an `op` span; traced runs also count the
    // filesystem calls and the lake files it made
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runOp(pass: Int, op: String): Unit = {
      val fs0 = if (traced) CountingLocalFs.snapshot() else Map.empty[String, Long]
      val files0 = if (traced) LakeTree.files(wl.lakeRoots) else Map.empty[String, Long]
      tracer.span("op", "op" -> op, "pass" -> pass) {
        try wl.runOp(pass, op)
        catch { case e: Exception =>
          tracer.annotate("error", String.valueOf(e.getMessage).take(500))
          failures += Map("op" -> op, "pass" -> pass,
            "error" -> String.valueOf(e.getMessage).take(500))
        }
      }
      val s = tracer.spans.reverseIterator.find(_.name == "op").get
      System.err.println(f"[perfbench] pass $pass op $op ${(s.end - s.start) / 1000}%.3f s")
      if (traced) {
        val fs1 = CountingLocalFs.snapshot()
        fs1.foreach { case (k, v) => s.attrs(k) = v - fs0(k) }
        val files1 = LakeTree.files(wl.lakeRoots)
        val created = files1.filter { case (p, _) => !files0.contains(p) }
        s.attrs("sources.files_created") = created.size
        s.attrs("sources.bytes_written") = created.values.sum
        s.attrs("sources.manifests_created") =
          created.keys.count(_.contains("/_manifests/manifest-"))
      }
    }

    // ---- timed region: a fixed number of whole passes --------------------
    val t0 = tracer.nowMs
    val passes = a("passes").toInt
    for (pass <- 1 to passes)
      tracer.span("pass", "pass" -> pass)(wl.passOps(pass).foreach(runOp(pass, _)))
    val measuredMs = tracer.nowMs - t0
    lap("setups_and_measure")

    // ---- outside the timed region --------------------------------------
    val store = if (wl.lakeRoots.isEmpty) Map.empty[String, Double] else LakeTree.store(wl.lakeRoots)
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    // traced runs only: ops kept out of the passes for their cost, run once
    // each for the per-op layer numbers of the regression report
    if (traced) tracer.span("profile")(profileOps.foreach(runOp(0, _)))
    val trace: Map[String, Any] =
      if (!traced) Map.empty
      else {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        val fns = if (workload == "curation") Functions.nsPerRow(spark, a("data")) else Map.empty
        Map("jobs" -> jobs.jobsJson, "stages" -> jobs.stagesJson,
          "queries" -> queries.json, "functions" -> fns)
      }
    if (traced) {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(queries)
    }
    val checkDir = s"$state/check"
    FixtureState.deleteTree(new File(checkDir))
    Files.createDirectories(Paths.get(checkDir))
    lap("trace_store_heap")
    val check = wl.check(checkDir)
    lap("check")
    val extra: Map[String, Any] = wl match {
      case e: EtlWorkload => Map("gate_rejected_rows" -> e.gateRejectedRows)
      case _ => Map.empty
    }

    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "measured_ms" -> measuredMs,
      "setup_s" -> setupSeconds.toSeq, "passes" -> passes,
      "spans" -> tracer.toJson, "failures" -> failures.toSeq,
      "heap_mb" -> heapMb, "store" -> store, "check" -> check,
      "extra" -> extra, "trace" -> trace, "phase_s" -> phase)
    Files.writeString(Paths.get(a("out") + ".tmp"), Json.render(record))
    Files.move(Paths.get(a("out") + ".tmp"), Paths.get(a("out")),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }
}

/** The fixed roots the program writes its fixtures and model exports under;
  * a run starts only after they are gone, so it never inherits an earlier
  * run's commits. */
object FixtureState {
  /** `graft_catalog_wh`, the `graft_*_lake` and `graft_*_sql_lake` tables,
    * the IVF/PQ exports, `graft_weather_fixture` and the other
    * `/tmp/graft_*` fixture roots of the registered queries. */
  def roots: Seq[File] = Option(new File("/tmp").listFiles).toSeq.flatten
    .filter(f => f.getName.startsWith("graft_") && f.isDirectory)

  def clear(state: String): Unit = {
    roots.foreach(deleteTree)
    deleteTree(new File(s"$state/etl"))
    deleteTree(new File(s"$state/etl-warm"))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
