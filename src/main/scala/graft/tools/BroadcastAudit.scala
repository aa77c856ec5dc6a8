package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: the p118 failure CLASS, audited statically. Catalyst
  * estimates the size of a side below an explode from the compressed
  * parquet bytes, so a corpus-sized stream can read broadcast-small and
  * the planner builds a broadcast hash join whose build side
  * materializes at corpus scale — the mem2g×sf4.0 sweep saw exactly one
  * 512 MB `UnsafeHashedRelation` allocation kill a 2 GiB executor. AQE
  * can safely PROMOTE a shuffle join to broadcast from REAL runtime
  * sizes; the dangerous direction is the static choice from a bad
  * estimate, which is what this prints: every join line of each query's
  * pre-execution physical plan at the given SF dir, so broadcast
  * choices over corpus-derived subtrees can be reviewed at a realistic
  * scale. Printing a plan is not free: every `lckpt` is eager, so each
  * loop and checkpointed pipeline runs its rounds while its plan is
  * built, and artifact-backed queries build their stores. One sweep of
  * every query at a 10-tile (sf1.0) dir took about 50 min on 4 vCPUs
  * with a 5 GB heap; the default 40-tile sf4.0 dir needs the 24 GB
  * heap, which a 15 GB machine cannot give it.
  * Checkpoint leaves report the bytes they stored, so a broadcast chosen
  * over one is sized from a measurement, not an estimate.
  *
  * `runMain graft.tools.BroadcastAudit <sfDir> <name1,name2,...|ALL>`
  */
object BroadcastAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-sf4.0")
    val sel = if (args.length > 1) args(1) else "ALL"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (sel == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else sel.split(",").toSeq.flatMap(p =>
        graft.SparkEntry.queries.keys.filter(_.startsWith(p.trim)))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val joins = df.queryExecution.executedPlan.toString
          .split("\n").map(_.trim.dropWhile(c => c == '+' || c == '-' || c == ':' || c == ' '))
          .filter(l => l.startsWith("BroadcastHashJoin") || l.startsWith("BroadcastNestedLoopJoin")
            || l.startsWith("SortMergeJoin") || l.startsWith("ShuffledHashJoin")
            || l.startsWith("CartesianProduct"))
        val counts = joins.groupBy(_.split(" ")(0).split("\\[")(0)).map { case (k, v) => s"$k=${v.size}" }
        println(s"[bcast-audit] $name ${counts.toSeq.sorted.mkString(" ")}")
        // expr ids (#1234) and plan ids vary run to run — strip BEFORE
        // truncating so the gate's baseline diff is stable across runs
        joins.filter(_.startsWith("Broadcast"))
          .map(_.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
            .replaceAll("\\s+", " "))
          .distinct
          .foreach(l => println(s"[bcast-audit]   $name BCAST: ${l.take(170)}"))
      } catch {
        case e: Throwable =>
          println(s"[bcast-audit] $name PLAN_ERROR: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
