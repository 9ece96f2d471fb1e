package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming per-source admission quota — the streaming twin of the batch
  * per-source document cap (`Relational.capPerGroup`, t14): admit at most
  * `maxDocs` documents per source ACROSS micro-batches and restarts, then
  * reject the overflow at the door. This is the ingestion-side shape of
  * web-corpus curation: a hot domain must not flood the corpus between two
  * batch re-balances, and the decision has to survive a restart (state
  * lives in the checkpoint, not the executor).
  *
  * State per source is ONE long (admitted-so-far) — O(|sources|) total
  * regardless of stream length, the smallest possible stateful footprint
  * (compare the funnel's per-user rows). Admission within a batch is
  * deterministic: a batch's candidates sort by (doc_id) before the
  * remaining quota applies, so a retry of the same micro-batch admits the
  * same documents — idempotent under Spark's batch-replay recovery.
  *
  * Unlike the batch cap (which keeps a hash-ranked uniform SAMPLE of each
  * group), the streaming quota is first-come-first-served by necessity —
  * an unbounded stream has no final population to sample uniformly from;
  * run t14's re-rank over the admitted archive when a batch re-balance is
  * due.
  */
object QuotaStream extends Serializable {

  final case class Doc(doc_id: Long, source: String)
  final case class Admission(doc_id: Long, source: String, admitted: Boolean,
      admitted_so_far: Long)

  /** Per-source quota ledger on `transformWithState`: one named long
    * ("admitted") per key, individually evolvable. Emits an admit/reject
    * row per doc; `admitted_so_far` carries the post-decision count so
    * downstream can see quota pressure without re-aggregating.
    *
    * MEMORY: the deterministic sort materializes ONE source's share of ONE
    * micro-batch on the executor (`docs.toSeq`) — and the hot source this
    * operator exists to throttle is exactly the group most likely to
    * dominate a batch. Bound the batch at the source
    * (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`) so a single group's
    * slice fits in executor heap; when strict replay-determinism isn't
    * required, admit in iterator order instead and the fold is O(1).
    */
  class QuotaProcessor(maxDocs: Long)
      extends StatefulProcessor[String, Doc, Admission] {
    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long](
        "admitted", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(source: String, docs: Iterator[Doc],
        timerValues: TimerValues): Iterator[Admission] = {
      var n = if (admitted.exists()) admitted.get() else 0L
      // sort the batch's candidates so a replayed micro-batch admits
      // identically
      val out = docs.toSeq.sortBy(_.doc_id).map { d =>
        val admit = n < maxDocs
        if (admit) n += 1
        Admission(d.doc_id, source, admit, n)
      }
      admitted.update(n)
      out.iterator
    }
  }

  /** Wire the processor over a (possibly streaming) typed doc Dataset. No
    * timers: a source's one-long state is the durable quota ledger.
    * Requires [[RequiredStateStoreProvider]].
    */
  def admissions(spark: SparkSession, docs: Dataset[Doc],
      maxDocs: Long): Dataset[Admission] = {
    import spark.implicits._
    startStateStoreCoordinator(spark)
    docs
      .groupByKey(_.source)
      .transformWithState(
        new QuotaProcessor(maxDocs), TimeMode.None(), OutputMode.Append())
  }
}
