package org.apache.spark

import org.apache.spark.status.AppStatusStore

/** The Spark-internal reads `graft.Profile` needs: the app status store
  * (per-job and per-stage metrics) and draining the listener bus, so the
  * store holds every event of a finished action before it is read.
  */
object GraftStatusBridge {
  def store(sc: SparkContext): AppStatusStore = sc.statusStore

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
