package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Dev run harness: time registered queries or dump their plans in ONE
  * session built the way [[graft.Bench]] builds its own (`Masters`,
  * width = `SPARK_GRAFT_CPUS`, UI off, WARN, Bench's warm-up shapes), on
  * the data at `SPARK_GRAFT_SF_DIR`. Not part of the driver contract.
  *
  * Usage:
  *   runMain graft.tools.Run time <q1,q2,...> [reps]
  *   runMain graft.tools.Run plan <q1,q2,...> [outTemplate]
  *
  * `time` runs each query `reps` times (default 5) into the noop sink and
  * prints one min / med / runs line — the bench's min-of-2 is too coarse
  * for optimization A/Bs on a rig whose run-to-run spread routinely hits
  * 1.5–3× (BENCH_NOTES). `plan` prints the formatted plan before
  * execution, executes that same dataframe, then prints the final
  * adaptive plan and an exchange summary — `df.explain` before an action
  * shows `isFinalPlan=false` with none of AQE's runtime decisions
  * (broadcast demotions, skew splits, ReusedExchange dedup of repeated
  * subtrees). `outTemplate` contains `%s` (e.g. `plans/r16/%s_before.txt`);
  * when given, each query's dump is written there instead of stdout.
  * Query names resolve by [[resolve]].
  */
object Run extends AdaptiveSparkPlanHelper {
  private val usage =
    "usage: Run time <q1,q2,...> [reps] | Run plan <q1,q2,...> [outTemplate]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).map(resolve).toSeq
    val one: (SparkSession, String, String) => Any = args(0) match {
      case "time" => time(_, _, _, args.lift(2).fold(5)(_.toInt))
      case "plan" => plan(_, _, _, args.lift(2))
      case m => throw new IllegalArgumentException(s"unknown mode '$m'; $usage")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try names.foreach(one(spark, sfDir, _)) finally spark.stop()
  }

  private def session(cpus: String): SparkSession = {
    val s = graft.core.Masters.configure(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // same warmup shapes as Bench
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = s.range(1000).select(col("id"), (col("id") % 7).as("g"))
    a.join(a.withColumnRenamed("id", "id2"), "g")
      .groupBy("g").agg(count(lit(1)), sum("id"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("g"))))
      .filter(col("rn") >= 0).count()
    s
  }

  /** Exact name, else unique prefix. Ambiguous prefixes and unknown names
    * fail naming the candidates (an unknown name's are the queries sharing
    * its longest matching prefix) — never resolve arbitrarily, so a dump
    * cannot silently be written for the wrong query.
    */
  def resolve(name: String): String = {
    val all = graft.SparkEntry.queries.keySet
    if (all(name)) name
    else all.filter(_.startsWith(name)).toSeq.sorted match {
      case Seq(one) => one
      case Seq() =>
        val near = (name.length - 1 to 1 by -1).iterator
          .map(n => all.filter(_.startsWith(name.take(n)))).find(_.nonEmpty)
          .getOrElse(Set.empty).toSeq.sorted
        throw new IllegalArgumentException(
          s"unknown query '$name'; candidates: ${near.mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"ambiguous query prefix '$name': ${many.mkString(", ")}")
    }
  }

  /** Run query `name` `reps` times into the noop sink; the wall seconds. */
  def time(spark: SparkSession, sfDir: String, name: String, reps: Int): Seq[Double] = {
    require(reps >= 1, s"reps must be positive: $reps")
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[time] $name min=${times.min}%.3f med=${times.sorted.apply(reps / 2)}%.3f " +
      times.map(t => f"$t%.2f").mkString("runs=[", ",", "]"))
    times
  }

  /** Dump query `name`'s plans (see the object doc); the summary line. */
  def plan(spark: SparkSession, sfDir: String, name: String, outTemplate: Option[String]): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // the formatted plan BEFORE execution (the judge-readable operator
    // list with PushedFilters/ReadSchema per scan)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // execute THIS dataframe's own plan — df.count() builds a separate
    // aggregate plan and would leave this one un-finalized
    val n = df.collect().length
    val executed = df.queryExecution.executedPlan
    val p = executed.toString
    val (reused, exchanges) = exchangeCounts(executed)
    val summary = s"[plandump] $name rows=$n ReusedExchange=$reused Exchange=$exchanges " +
      s"isFinalPlan=${p.contains("isFinalPlan=true")}"
    outTemplate match {
      case Some(t) =>
        val path = java.nio.file.Paths.get(t.format(name))
        if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path,
          (s"== $name @ $sfDir ==\n\n$formatted\n\n== FINAL ADAPTIVE EXECUTED PLAN ==\n\n$p\n\n$summary\n").getBytes("UTF-8"))
        println(s"[plandump] wrote $path")
      case None =>
        println(summary)
        println(formatted)
        println(p)
    }
    summary
  }

  /** (ReusedExchange, Exchange) node counts of an executed plan, AQE
    * stages and subqueries included. Exchange counts every non-reused
    * exchange, shuffle or broadcast. Counted on the tree, not the plan
    * text: the text also prints each cached relation's build plan under
    * its `InMemoryRelation` and AQE's initial plan next to the final one,
    * neither of which this query executes.
    */
  def exchangeCounts(plan: SparkPlan): (Int, Int) =
    (collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size,
     collectWithSubqueries(plan) { case e: Exchange => e }.size)
}
