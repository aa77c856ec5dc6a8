package perfbench

import org.apache.spark.sql.SparkSession

/** The engine session as `graft.Bench` builds it: `Masters.configure`,
  * shuffle partitions = cpus, and the same synthetic warm-up shapes, so
  * fixed JVM/codegen start-up cost is not charged to the first call.
  * Warehouse and local dirs are per run, so no state survives a run.
  */
object Session {
  def build(cpus: String, warehouse: String, localDir: String): SparkSession = {
    val s = graft.core.Masters.configure(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = s.range(1000).select(col("id"), (col("id") % 7).as("g"))
    a.join(a.withColumnRenamed("id", "id2"), "g")
      .groupBy("g").agg(count(lit(1)), sum("id"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("g"))))
      .filter(col("rn") >= 0).count()
    s
  }
}
