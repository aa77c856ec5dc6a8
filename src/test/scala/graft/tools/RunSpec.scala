package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RunSpec extends SparkSpec {

  private val g01 = graft.SparkEntry.queries.keys.filter(_.startsWith("g01_")).toSeq match {
    case Seq(one) => one
    case many => fail(s"expected one g01 query: $many")
  }

  test("resolve: exact name, unique prefix; ambiguous or unknown names fail naming candidates") {
    assert(Run.resolve(g01) == g01)
    assert(Run.resolve("g01") == g01)
    val amb = intercept[IllegalArgumentException](Run.resolve("g1"))
    assert(amb.getMessage.contains(Run.resolve("g10")), amb.getMessage)
    assert(amb.getMessage.contains(Run.resolve("g19")), amb.getMessage)
    val unknown = intercept[IllegalArgumentException](Run.resolve("g01_no_such_query"))
    assert(unknown.getMessage.contains(g01), unknown.getMessage)
  }

  test("time returns one timing per rep") {
    val t = Run.time(spark, sf, Run.resolve("q02"), 1)
    assert(t.size == 1 && t.head > 0, t)
  }

  test("plan writes the pre-execution plan plus the final adaptive plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-run-plan")
    val name = Run.resolve("q02")
    val summary = Run.plan(spark, sf, name, Some(s"$dir/%s_plan.txt"))
    val text = new String(
      java.nio.file.Files.readAllBytes(dir.resolve(s"${name}_plan.txt")), "UTF-8")
    assert(text.startsWith(s"== $name @ $sf =="), text)
    assert(text.contains("== FINAL ADAPTIVE EXECUTED PLAN =="), text)
    assert(text.contains("isFinalPlan=true"), text)
    assert(text.trim.endsWith(summary), text)
  }

  test("the exchange summary counts ReusedExchange apart from Exchange") {
    val agg = spark.range(1000).groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("c"))
    val df = agg.join(agg.withColumnRenamed("c", "c2"), "k")
    df.collect()
    val p = df.queryExecution.executedPlan
    val (reused, exchanges) = Run.exchangeCounts(p)
    assert(reused >= 1 && exchanges >= 1, p)
  }

  test("a query over a persisted input reports the same exchange counts as its unpersisted twin") {
    // the input's own build plan shuffles; the twin holds the same rows
    // in a local relation, so both queries execute the same operators
    val input = spark.range(1000).groupBy((col("id") % 100).as("k")).agg(count(lit(1)).as("c"))
    def query(in: DataFrame): DataFrame =
      in.groupBy((col("k") % 7).as("g")).agg(sum("c").as("s"))
        .groupBy((col("g") % 2).as("h")).agg(sum("s").as("s"))
    def executed(df: DataFrame) = { df.collect(); df.queryExecution.executedPlan }
    val twin = executed(query(spark.createDataFrame(
      java.util.Arrays.asList(input.collect(): _*), input.schema)))
    val persisted = input.persist()
    try {
      persisted.count()
      val hit = executed(query(persisted))
      // the plan text prints the cached relation's build plan, exchange included
      assert(hit.toString.contains("InMemoryRelation"), hit)
      assert("Exchange".r.findAllIn(hit.toString).length >
        "Exchange".r.findAllIn(twin.toString).length, hit)
      assert(Run.exchangeCounts(hit) == Run.exchangeCounts(twin), s"$hit\n$twin")
      assert(Run.exchangeCounts(twin)._2 >= 2, twin)
    } finally persisted.unpersist()
  }
}
