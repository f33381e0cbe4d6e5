package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, Predicate}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}

/** Bridge to the sql-package-private Column ⇄ Expression converters —
  * the standard escape hatch third-party engines/connectors use to expose
  * custom Catalyst expressions through the public Column API — to the
  * spark-private listener bus, so a profiler can read its listeners'
  * counters once every posted event has been delivered, to Catalyst's
  * interpreted predicate evaluator, and to the name rule file listings
  * follow.
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a file index leaves a file or dir of this name out of its
    * listing: `_` and `.` names, except `_metadata`, `_common_metadata`
    * and `_k=v` partition dirs.
    */
  def hiddenFromFileIndex(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** `cond` over each row of `local`, a frame over a `LocalRelation`:
    * analysed once (a non-boolean `cond` fails analysis, as in `filter`),
    * then evaluated row by row by Spark's interpreted predicate. The
    * optimizer's local fold would instead generate and compile a predicate
    * for every new literal. No Spark job; NULL counts as false.
    */
  def evalLocalFilter(local: DataFrame, cond: Column): IndexedSeq[Boolean] =
    ReplaceExpressions(local.filter(cond).asInstanceOf[classic.Dataset[Row]]
        .queryExecution.analyzed) match {
      case Filter(c, l: LocalRelation) =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(c, l.output))
        p.initialize(0)
        l.data.map(p.eval).toIndexedSeq
    }
}
