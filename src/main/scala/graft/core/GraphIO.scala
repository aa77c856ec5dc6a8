package graft.core

import graft.model.{EdgeRow, NodeRow}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S1–S6 — storage layer.
  *
  * The reference persists one JSON file per graph atom plus a JSON index
  * (`Storage.fs:32-56,124-154`). That layout is pathological at scale (one
  * file per node); the Spark-native layout is two parquet datasets
  * partitioned by `nodeType` — the same partition key the reference groups
  * by on every load (`Storage.fs:188-193,211-213`) — so type-filtered scans
  * prune to a directory, and key probes push a predicate into one partition.
  */
object GraphIO {

  /** S5/S6 — persist the graph: nodes and edges parquet, partitioned by
    * `nodeType` / `relType`, plus the sorted-distinct index (reference
    * `Storage.fs:160-171`).
    */
  def save(g: GraphState, dir: String): Unit = {
    g.nodes.write.mode(SaveMode.Overwrite).partitionBy("nodeType").parquet(s"$dir/nodes")
    g.edges.write.mode(SaveMode.Overwrite).partitionBy("relType").parquet(s"$dir/edges")
    g.index().coalesce(1).write.mode(SaveMode.Overwrite).json(s"$dir/atom-index")
  }

  /** S1/S2 — load a persisted graph. */
  def load(spark: SparkSession, dir: String): GraphState = {
    import spark.implicits._
    val nodes = spark.read.parquet(s"$dir/nodes")
      .select("key", "nodeType", "prettyName", "payload").as[NodeRow]
    val edges = spark.read.parquet(s"$dir/edges")
      .select("src", "dst", "weight", "relType", "relPayload").as[EdgeRow]
    GraphState(nodes, edges)
  }

  /** Bucketed table layout for co-located joins: nodes bucketed by
    * `key`, edges bucketed by `src`, same bucket count — a sort-merge
    * join of `edges.src == nodes.key` then needs NO shuffle on either
    * side (the 100 TB answer to repeated traversal joins; asserted in
    * BucketedIOSpec). Requires a catalog table (`saveAsTable`), not a
    * bare path.
    */
  def saveBucketed(g: GraphState, buckets: Int, prefix: String = "graft"): Unit = {
    val spark = g.nodes.sparkSession
    // drop any prior table AND its on-disk location: with an in-memory
    // catalog, files from a previous session outlive the table entry and
    // Overwrite then fails with LOCATION_ALREADY_EXISTS
    Seq(s"${prefix}_nodes", s"${prefix}_edges").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val loc = new java.io.File(warehouse, t)
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    g.nodes.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "key").sortBy("key")
      .saveAsTable(s"${prefix}_nodes")
    g.edges.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(s"${prefix}_edges")
  }

  def loadBucketed(spark: SparkSession, prefix: String = "graft"): GraphState = {
    import spark.implicits._
    GraphState(
      spark.table(s"${prefix}_nodes").as[NodeRow],
      spark.table(s"${prefix}_edges").as[EdgeRow])
  }

  /** S7 — integrity sweep (reference `Storage.fs:175-185`): recompute
    * display names map-side and report rows whose stored `prettyName`
    * drifted. Naturally parallel — the reference needed
    * `Array.Parallel.map` for this; here it is one narrow stage.
    */
  def staleIndexRows(g: GraphState, recompute: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    g.nodes
      .withColumn("recomputed", recompute)
      .filter(!(col("recomputed") <=> col("prettyName"))) // null-safe: null↔value IS drift
      .select("key", "nodeType", "prettyName", "recomputed")
}
