package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.util.sketch.CountMinSketch

/** Streaming heavy hitters — qa5's streaming twin: per group (event
  * type), a count-min sketch absorbs every observation across
  * micro-batches and restarts, and a bounded CANDIDATE set (the
  * space-saving companion CMS needs, since a sketch alone can estimate
  * but not enumerate) tracks the current top-k. Emits the top-k with
  * estimated counts after each batch that touches the group.
  *
  * State per group is O(sketch + k): the serialized CMS (a few KB at
  * eps=0.001, fixed regardless of stream length or user cardinality)
  * plus k candidate ids — the bounded-memory property that makes
  * frequency tracking viable on an unbounded stream where an exact
  * per-user count table would grow without limit. CMS merge/update is
  * exact arithmetic (Cormode & Muthukrishnan 2005), and the fixed seed
  * makes every estimate deterministic, so replayed batches reproduce
  * identical output.
  *
  * The candidate set admits any id seen in the current batch, so a
  * newly-hot key enters as soon as it out-estimates the incumbent #k —
  * the standard space-saving admission rule; ties break on the lower id
  * for determinism.
  */
object HeavyHitterStream extends Serializable {

  final case class Obs(group: String, item: Long)
  final case class HHOut(group: String, item: Long, est_count: Long, rank: Int)

  private val Seed = 42

  private def newSketch(eps: Double, confidence: Double): CountMinSketch =
    CountMinSketch.create(eps, confidence, Seed)

  private def deserialize(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))

  private def serialize(cms: CountMinSketch): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    cms.writeTo(out)
    out.toByteArray
  }

  /** Sketch-plus-candidates processor on `transformWithState`; k/eps/
    * confidence fixed at wiring. The sketch and the candidate set are two
    * independently named stores — the serialized CMS in a
    * `ValueState[Array[Byte]]` ("cms") and the top-k candidate ids in a
    * `ListState[Long]` ("candidates") — each evolvable (or TTL-able) on
    * its own.
    */
  class HitterProcessor(k: Int, eps: Double, confidence: Double)
      extends StatefulProcessor[String, Obs, HHOut] {
    @transient private var sketch: ValueState[Array[Byte]] = _
    @transient private var candidates: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sketch = getHandle.getValueState[Array[Byte]](
        "cms", Encoders.BINARY, TTLConfig.NONE)
      candidates = getHandle.getListState[Long](
        "candidates", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Fold one group's batch into its sketch + candidate state; emit the
      * group's current top-k (rank 1 = heaviest).
      */
    override def handleInputRows(group: String, obs: Iterator[Obs],
        timerValues: TimerValues): Iterator[HHOut] = {
      val cms =
        if (sketch.exists()) deserialize(sketch.get())
        else newSketch(eps, confidence)
      val batchItems = scala.collection.mutable.LinkedHashSet.empty[Long]
      obs.foreach { o =>
        cms.addLong(o.item)
        batchItems += o.item
      }
      // incumbents ++ batch ids, re-estimated against the updated sketch,
      // top-k by (-est, id)
      val top = (candidates.get().toSeq ++ batchItems)
        .distinct
        .map(item => item -> cms.estimateCount(item))
        .sortBy { case (item, est) => (-est, item) }
        .take(k)
      sketch.update(serialize(cms))
      candidates.clear()
      candidates.appendList(top.map(_._1).toArray)
      top.iterator.zipWithIndex.map { case ((item, est), i) =>
        HHOut(group, item, est, i + 1)
      }
    }
  }

  /** Wire the processor over a (possibly streaming) typed observation
    * Dataset. No timers: the sketch IS the durable frequency ledger.
    * Requires [[RequiredStateStoreProvider]].
    */
  def hitters(spark: SparkSession, obs: Dataset[Obs], k: Int = 3,
      eps: Double = 0.001, confidence: Double = 0.99): Dataset[HHOut] = {
    import spark.implicits._
    startStateStoreCoordinator(spark)
    obs
      .groupByKey(_.group)
      .transformWithState(
        new HitterProcessor(k, eps, confidence), TimeMode.None(), OutputMode.Append())
  }
}
