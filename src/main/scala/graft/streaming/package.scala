package graft

import org.apache.spark.sql.SparkSession

package object streaming {

  /** `transformWithState` only runs on RocksDB-backed state; set
    * `spark.sql.streaming.stateStore.providerClass` to this before
    * starting a query built on one of this package's stateful processors.
    * Spark rejects the HDFS-backed default at query start.
    */
  val RequiredStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A BATCH `transformWithState` loads its state store through the
    * session's StateStoreCoordinator, which Spark starts only with the
    * streaming query manager; before the session's first streaming query
    * the batch run fails with CANNOT_LOAD_STATE_STORE. Touching
    * `spark.streams` starts the coordinator, so the operators' batch face
    * works in any session.
    */
  private[streaming] def startStateStoreCoordinator(spark: SparkSession): Unit =
    spark.streams
}
