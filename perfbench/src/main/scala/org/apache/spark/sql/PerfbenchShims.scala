package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** Bridges to package-private engine hooks the benchmark needs: running a
  * plan under an SQL execution id (as a Dataset action does) and waiting
  * for the listener bus so counters are complete when read.
  */
object PerfbenchShims {
  def withExecution[T](qe: QueryExecution, name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(qe, Some(name))(body)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
