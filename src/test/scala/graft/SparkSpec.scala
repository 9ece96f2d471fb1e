package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (guide: one session per
  * suite; sharing across suites is fine since config is identical).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `f` under the RocksDB state store provider that
    * `transformWithState` operators require, restoring the session's
    * provider afterwards.
    */
  def withRocksDb[T](f: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, graft.streaming.RequiredStateStoreProvider)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  /** Drain a streaming query whose trigger cannot self-terminate — an
    * AvailableNow query in `transformWithState`'s ProcessingTime time-mode
    * keeps scheduling batches while any per-key timer is registered (that
    * is what lets timers fire), so `awaitTermination` blocks its full
    * timeout and even `processAllAvailable` never unblocks. Poll the
    * query's own progress until `expectInput` source rows have committed
    * AND the sink holds `expectRows` rows (timer emissions included), then
    * stop explicitly.
    */
  def drainThenStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      expectInput: Long, expectRows: Long, rowCount: () => Long): Unit = {
    try {
      def inputSeen: Long = q.recentProgress.map(_.numInputRows).sum
      val deadline = System.currentTimeMillis() + 30000
      while ((inputSeen < expectInput || rowCount() < expectRows) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally q.stop()
  }
}
