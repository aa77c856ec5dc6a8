package graft.core

import graft.SparkSpec
import graft.plans.Matching.CoarsenLevel
import graft.sources.TpchGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** [[SessionMemo]]'s one lifetime rule: an entry serves only the session
  * that built it; any other session's lookup releases it and rebuilds.
  */
class SessionMemoSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDDs behind a coarsening's five local checkpoints. */
  private def checkpointIds(l: CoarsenLevel): Set[Int] =
    Seq(l.e, l.sel, l.superOf, l.rek, l.coarse)
      .flatMap(_.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }).toSet

  private def persisted(s: SparkSession): DataFrame =
    SessionMemo.withRelease(s, "spec:persisted", "spec") {
      val df = s.range(100).toDF().persist()
      df.count()
      df
    }(_.unpersist())

  test("the same session gets the same instance, and the build runs once") {
    var builds = 0
    def look(): AnyRef = SessionMemo(spark, "spec:same", "spec") { builds += 1; new Object }
    val first = look()
    assert(look() eq first)
    assert(builds == 1)
    assert(TpchGraph.cachedGraph(spark, sf) eq TpchGraph.cachedGraph(spark, sf))
  }

  test("a lookup from a new session releases the old entry, then rebuilds") {
    val s1 = spark.newSession()
    val before = persistentIds
    val df1 = persisted(s1)
    val own = persistentIds -- before
    assert(own.size == 1, s"new persists: $own")
    val l1 = TpchGraph.coarsenLevelOne(s1, sf)
    val ckpts = checkpointIds(l1)
    assert(ckpts.size == 5 && ckpts.subsetOf(persistentIds), s"checkpoints: $ckpts")

    val s2 = spark.newSession()
    val df2 = persisted(s2)
    assert(df2 ne df1)
    assert(df2.sparkSession eq s2)
    assert((own & persistentIds).isEmpty, s"left persisted: ${own & persistentIds}")
    val l2 = TpchGraph.coarsenLevelOne(s2, sf)
    assert(l2 ne l1)
    assert(l2.e.sparkSession eq s2)
    assert((ckpts & persistentIds).isEmpty, s"left persisted: ${ckpts & persistentIds}")
    assert(l2.coarse.count() > 0)
  }

  test("after lookups from three sessions each key holds one entry, owned by the last") {
    def lookups(s: SparkSession): Seq[AnyRef] = {
      val g = TpchGraph.cachedGraph(s, sf)
      g.nodes.count(); g.edges.count()
      val l = TpchGraph.coarsenLevelOne(s, sf)
      l.coarse.count()
      Seq(g, TpchGraph.copurchaseEdges(s, sf), l, persisted(s))
    }
    val sessions = Seq.fill(3)(spark.newSession())
    // hold every value, so only a release (not the context cleaner) frees it
    val held = sessions.map { s =>
      val before = persistentIds
      val values = lookups(s)
      values.foreach { case df: DataFrame => df.count(); case _ => () }
      (values, persistentIds -- before)
    }
    held.init.foreach { case (_, own) =>
      assert(own.nonEmpty && (own & persistentIds).isEmpty, s"left persisted: ${own & persistentIds}")
    }
    assert(held.last._2.subsetOf(persistentIds))
    val touched = Seq("cachedGraph", "copurchaseEdges", "weightedCopurchaseEdges",
      "coarsenLevelOne", "table:lineitem").map(_ -> sf) :+ ("spec:persisted" -> "spec")
    touched.foreach { case (name, dir) =>
      assert(SessionMemo.owner(name, dir).exists(_ eq sessions.last), name)
    }
  }

  test("a release that throws does not fail the lookup") {
    val s1 = spark.newSession()
    SessionMemo.withRelease(s1, "spec:throws", "spec")(1)(_ => throw new IllegalStateException("release"))
    assert(SessionMemo.withRelease(spark, "spec:throws", "spec")(2)(_ => ()) == 2)
    assert(SessionMemo.owner("spec:throws", "spec").exists(_ eq spark))
  }
}
