// Lives under org.apache.spark.sql for ExpressionUtils, which is private[sql].
package org.apache.spark.sql.graftfns

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

/** Building blocks for probes that run their small steps on the driver. */
object Probes {

  /** `c IN values` as one `InSet` node. `Column.isin(values: _*)` builds one
    * literal per value, and the analyzer and optimizer walk all of them on
    * every pass before `OptimizeIn` folds them into this same node: about
    * half a second of planning for 8,000 values. The values must already
    * be in `c`'s Catalyst form (`Long` for a bigint column, `Int` for an
    * int column).
    */
  def inSet(c: Column, values: Iterable[Any]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c), values.toSet))

  /** `df`'s rows from one Spark job, or `None` when it holds more than
    * `cap` rows. Each task returns at most `cap + 1` rows, and the driver
    * keeps at most `cap + 1` of those it receives, so an oversized result
    * costs bounded driver memory and never an out-of-memory error. A plain
    * `limit(cap + 1).collect()` would scan the partitions in growing waves,
    * one job per wave. The job runs as a SQL execution, so query listeners
    * and the UI see its plan and scan metrics.
    */
  def collectAtMost(df: DataFrame, cap: Int): Option[Array[Row]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"cap must be in [0, Int.MaxValue), got $cap")
    val qe = df.queryExecution
    val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var over = false
    SQLExecution.withNewExecutionId(qe, Some("collectAtMost")) {
      df.sparkSession.sparkContext.runJob(qe.executedPlan.execute(),
        (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
        (_: Int, part: Array[InternalRow]) =>
          if (!over) {
            kept ++= part
            if (kept.size > cap) { over = true; kept.clear() }
          })
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    if (over) None else Some(kept.map(r => toRow(r).asInstanceOf[Row]).toArray)
  }
}
