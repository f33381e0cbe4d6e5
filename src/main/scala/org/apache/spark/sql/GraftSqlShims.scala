package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-package-private Column ⇄ Expression converters —
  * the standard escape hatch third-party engines/connectors use to expose
  * custom Catalyst expressions through the public Column API — and to the
  * spark-private listener bus, so a profiler can read its listeners'
  * counters once every posted event has been delivered.
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
