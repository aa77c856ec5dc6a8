package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.{BlockStatus, RDDBlockId, StorageLevel}

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
    *
    * The leaf reports no logical output ordering. `InMemoryRelation`'s
    * `newInstance` (a self-join's second side) renames the output but
    * keeps the ordering's old attribute ids, and a later `withOutput`
    * then fails on an id it cannot find. The scan still reports the
    * cached plan's ordering to the physical planner.
    */
  def cachedLeaf[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val leaf = ds.queryExecution.withCachedData match {
      case r: InMemoryRelation => r.makeCopy(Array(r.output, r.cacheBuilder, Nil))
      case p => p
    }
    org.apache.spark.sql.classic.Dataset(
      ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], leaf)(ds.encoder)
  }

  /** `ds` executed now and persisted at `level` behind a lineage-cut leaf
    * that keeps the partitioning and ordering the rows were written in,
    * and reports the size they were stored at.
    *
    * Spark's own `localCheckpoint` gives the leaf the partitioning of the
    * plan as planned, and an adaptive plan reports `UnknownPartitioning`
    * until it has run, so every consumer would shuffle the rows again.
    * Here the checkpoint runs first and the leaf takes the partitioning
    * and ordering of the adaptive plan's final form, which are those of
    * the rows as stored: a join or aggregate keyed the same way reads
    * the leaf without an Exchange. A `PartitioningCollection` (a join's
    * output) keeps its first member. Constraints stay as Spark computed
    * them.
    *
    * The leaf's `sizeInBytes` is the bytes its blocks hold per the
    * driver's `BlockManagerMaster` ([[storedSize]]), not the optimizer's
    * estimate, which is wrong both ways below a join or an `explode`.
    * Block reports are synchronous asks to that master, so its record is
    * complete when the job returns; the listener-fed store behind
    * `SparkContext.getRDDStorageInfo` can lag and read 0. So
    * `spark.sql.autoBroadcastJoinThreshold` is the one join rule over
    * checkpoint leaves: under it a leaf broadcasts, over it the join
    * sort-merges, exchanging only the side that is not `keyed`.
    */
  def partitionKeepingCheckpoint[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val checkpointed = ds.localCheckpoint(true, level)
    val leaf = checkpointed.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    // the checkpoint ran `ds`'s own QueryExecution, so its adaptive plan is final
    val ran = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val partitioning = ran.outputPartitioning match {
      case PartitioningCollection(first +: _) => first
      case p => p
    }
    val session = ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val master = session.sparkContext.env.blockManager.master
    val blocks = leaf.rdd.partitions.indices.map(i =>
      master.getBlockStatus(RDDBlockId(leaf.rdd.id, i), askStorageEndpoints = false).values)
    val size = storedSize(blocks, session.sessionState.conf.defaultSizeInBytes)
    val kept = LogicalRDD(leaf.output, leaf.rdd, partitioning, ran.outputOrdering,
      leaf.isStreaming)(session, Some(Statistics(sizeInBytes = size)), Some(leaf.constraints))
    org.apache.spark.sql.classic.Dataset(session, kept)(ds.encoder)
  }

  /** The bytes a checkpoint stored, from the block statuses the master
    * holds for each of its partitions (one entry per replica). A
    * partition counts its largest replica once. When any partition has
    * no block, the size is unknown and the result is `default`
    * (`spark.sql.defaultSizeInBytes`, which never broadcasts).
    */
  def storedSize(partitions: Seq[Iterable[BlockStatus]], default: Long): BigInt =
    if (partitions.exists(_.isEmpty)) BigInt(default)
    else partitions.map(replicas => BigInt(replicas.map(b => b.memSize + b.diskSize).max)).sum

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
