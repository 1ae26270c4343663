package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** graft's bridge into Spark's `private[sql]` surfaces: Column ⇄
  * Expression for its Catalyst expressions, and persisted plan leaves.
  *
  * Spark 4 made `Column` wrap a `ColumnNode` and gated the expression
  * constructors behind `private[sql]` (`classic.ExpressionUtils`), as it
  * gates building a Dataset from a plan (`classic.Dataset.ofRows`), so a
  * library that uses them needs this one-file bridge in the
  * `org.apache.spark.sql` package — the same technique Spark-native
  * libraries use in the wild. Everything else in graft stays outside
  * Spark's namespace.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` as a persisted plan leaf: its rows computed once, and a
    * DataFrame whose plan is a single `LogicalRDD` over them.
    *
    * A query over the leaf analyses, optimizes, plans and describes only
    * its own operators, where a query over `df.persist()` carries `df`'s
    * whole plan as the cache's inner child. The executed plan runs inside
    * its own SQL execution, as `Dataset.checkpoint` does, so its stages see
    * the session's SQL conf. The rows persist `MEMORY_AND_DISK` with their
    * lineage kept: a lost block is recomputed, not a failed query (unlike
    * `localCheckpoint`). The leaf carries `df`'s estimated statistics, not
    * the persisted size. Callers `unpersist` the returned RDD. */
  def persistedLeaf(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("persistedLeaf")) {
      qe.executedPlan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    }
    (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rdd)
  }
}
