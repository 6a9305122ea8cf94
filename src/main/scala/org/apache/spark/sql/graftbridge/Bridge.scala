package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 wraps Columns around ColumnNodes, and the Expression↔Column
  * converters live in `sql.classic` with private[sql] visibility — the
  * standard extension-point bridge for registering custom Catalyst
  * expressions from library code (same pattern OSS connector libraries
  * use).
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Frees the executor-storage blocks of an eager `localCheckpoint()`
    * Dataset once nothing references it anymore. `Dataset.unpersist` only
    * talks to the cache manager and leaves checkpoint RDD blocks pinned
    * until the driver GCs the RDD — for iterative algorithms that
    * checkpoint per round (near-dup grouping) that pins round-count ×
    * table-size of executor storage for the session. The checkpointed
    * Dataset's plan is a `LogicalRDD` over the materialized RDD; unpersist
    * that RDD directly.
    */
  def releaseLocalCheckpoint(df: Dataset[_]): Unit = df match {
    case d: classic.Dataset[_] =>
      d.queryExecution.logical match {
        case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    case _ => ()
  }

  /** Copy a SMALL result into a self-contained LocalRelation Dataset
    * without the external-Row round trip. The streaming scaffold's sink
    * drain (StreamScaffold.run) was `collect()` + `createDataFrame(rows,
    * schema)`, which converts every value InternalRow→Row on collect
    * and then re-encodes Row→InternalRow (with per-field validation)
    * on re-creation — measured ~0.4 s for the 13k-row inference gate
    * (r17). `executeCollect()` hands back the plan's already-converted
    * UnsafeRow copies; wrapping them in a LocalRelation skips both
    * conversions. Caller contract is unchanged: the result owns its
    * rows (safe after the memory sink is dropped) and is bounded by
    * the oracle-compare contract.
    */
  def localCopy(df: Dataset[_]): DataFrame = df match {
    case d: classic.Dataset[_] =>
      val qe = d.queryExecution
      val rows = qe.executedPlan.executeCollect()
      val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
        .toAttributes(qe.analyzed.schema)
      classic.Dataset.ofRows(d.sparkSession,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs, rows.toIndexedSeq))
    case other => other.sparkSession.createDataFrame(
      java.util.Arrays.asList(other.toDF().collect(): _*), other.schema)
  }
}
