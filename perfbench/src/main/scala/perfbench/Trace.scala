package perfbench

import java.nio.file.{Files, Path => JPath, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: pass, then op or cycle, then build/action or a cycle
  * stage. Times are epoch milliseconds with sub-millisecond precision, on
  * the same clock as Spark's job and stage events. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
    var end: Double, attrs: mutable.Map[String, Any])

/** Spans kept in memory and written out when the run ends. The innermost
  * open span's id rides on every Spark job as the `perfbench.span` local
  * property, so job and stage spans attach to the op that caused them. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = {
    val s = Span(spans.size, stack.head, name, nowMs, Double.NaN,
      mutable.Map(attrs: _*))
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try f
    finally {
      s.end = nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, stack.head.toString)
    }
  }

  def annotate(k: String, v: Any): Unit = spans(stack.head).attrs(k) = v

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs.toMap))
}

object Tracer { val SpanProperty = "perfbench.span" }

/** Jobs, stages and task times from the scheduler's events. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "span" -> span,
      "start" -> e.time.toDouble, "end" -> Double.NaN)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val sr = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead
    stages(i.stageId) = mutable.Map(
      "stage" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
      "start" -> i.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
      "end" -> i.completionTime.map(_.toDouble).getOrElse(Double.NaN),
      "tasks" -> i.numTasks,
      "task_ms" -> (if (m == null) 0L else m.executorRunTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_read_bytes" -> sr,
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "task_durations_ms" -> taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Seq.empty))
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)
  def stagesJson: Seq[Map[String, Any]] = synchronized(stages.values.map(_.toMap).toSeq)
}

/** Catalyst phase times and final-plan shape of every executed query. */
final class QueryListener extends QueryExecutionListener {
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs.toDouble, "end" -> p.endTimeMs.toDouble)
    }
    val nodes = PlanShape.nodes(qe.executedPlan)
    val joins = nodes.collect { case j: BaseJoinExec => PlanShape.rowsOut(j) }
    val row = Map[String, Any](
      "func" -> funcName, "ok" -> ok, "phases" -> phases,
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "custom_nodes" -> nodes.count(_.getClass.getName.startsWith("graft.")),
      "widest_join_rows" -> (if (joins.isEmpty) 0L else joins.max),
      "result_rows" -> nodes.iterator.map(PlanShape.rowsOut).find(_ >= 0).getOrElse(-1L))
    synchronized(queries += row)
  }

  def json: Seq[Map[String, Any]] = synchronized(queries.toSeq)
}

object PlanShape {
  /** Every node of the final plan: AQE's final plan, the plan inside each
    * query stage, and subqueries. A reused exchange counts once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Seq.empty
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def rowsOut(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
}

/** Sizes of the files under the lake roots, and the live share of them. */
object LakeTree {
  def files(roots: Seq[String]): Map[String, Long] =
    roots.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap

  /** Table roots: directories that hold a `_manifests` child. */
  def tables(roots: Seq[String]): Seq[JPath] =
    roots.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator.asScala
        .filter(p => p.getFileName.toString == "_manifests" && Files.isDirectory(p))
        .map(_.getParent).toList
      finally s.close()
    }

  private def local(path: String, root: JPath): JPath = {
    val p = path.stripPrefix("file://").stripPrefix("file:")
    if (p.startsWith("/")) Paths.get(p) else root.resolve(p)
  }

  /** Total bytes under the tables found below the roots, bytes of the
    * files their live manifests reference, and the live manifest count. */
  def store(roots: Seq[String]): Map[String, Double] = {
    import graft.sources.WeatherLakeV2Sink
    val tbls = tables(roots)
    val all = files(tbls.map(_.toString))
    var live = 0L
    var manifests = 0L
    tbls.foreach { t =>
      val base = t.toString
      val refs = (WeatherLakeV2Sink.committedFiles(base) ++
        WeatherLakeV2Sink.committedMorDeleteFiles(base)).distinct
      live += refs.map(local(_, t)).map(p => all.getOrElse(p.toString, 0L)).sum
      manifests += WeatherLakeV2Sink.liveManifests(base).size
    }
    Map("total_bytes" -> all.values.sum.toDouble, "live_bytes" -> live.toDouble,
      "live_manifests" -> manifests.toDouble)
  }
}
