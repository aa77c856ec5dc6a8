package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * required since Spark 4 made `Column` wrap a `ColumnNode` instead of an
  * `Expression`. Lives under `org.apache.spark.sql` for package-private
  * access; the public engine API is [[graft.functions.expressions]].
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (custom operators). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `ds` re-rooted on its cache-substituted plan: after `ds.persist()`
    * that plan IS the `InMemoryRelation`, so the result is a plan leaf.
    *
    * Why: `union`/`unionByName` apply `CombineUnions` while BUILDING the
    * plan, splicing a persisted Union's branches into the new Union. The
    * CacheManager then finds no subtree equal to the cached plan, and
    * every query over the union re-runs the whole derivation from its
    * sources. A leaf cannot be spliced, so filters, unions and joins on
    * top of it keep an `InMemoryTableScan` with its column and batch
    * pruning and its size statistics. The leaf shares the cache entry's
    * buffers but not its identity: `unpersist` must go through `ds`.
    */
  def cachedLeaf[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    org.apache.spark.sql.classic.Dataset(
      ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      ds.queryExecution.withCachedData)(ds.encoder)

  /** Free the persisted RDDs behind a `localCheckpoint()`ed DataFrame
    * (including checkpoints under projections/filters) —
    * `Dataset.unpersist` only covers CacheManager entries, so iterative
    * algorithms that checkpoint per round would otherwise leak storage
    * until the session dies.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
