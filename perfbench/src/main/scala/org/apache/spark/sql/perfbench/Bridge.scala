package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark-internal reads the benchmark needs: draining the listener bus
  * (instead of sleeping until events arrive), the query execution an
  * end-of-SQL-execution event carries (for its planning phases) and
  * whether a stage writes shuffle output.
  */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
