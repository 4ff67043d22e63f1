package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two things the traced run needs that Spark keeps package-private:
  * draining the listener bus, so every event posted so far has reached
  * the benchmark's listeners, and the query behind a SQL execution, which
  * ties a `QueryExecutionListener` record to the jobs of that execution.
  */
object TraceAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
