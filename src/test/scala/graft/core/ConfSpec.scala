package graft.core

import graft.SparkSpec
import graft.plans.{DensestSubgraph, DfConnectedComponents, GraphGen, KCore,
  LabelPropagation, SccLabels}
import graft.streaming.{EventStream, RestartRecovery}

/** Session-state hygiene: [[Conf.scoped]] puts every key back as it found
  * it, and the engine sites that override conf through it (the iterative
  * loops, the streaming drains) leave the session conf unchanged.
  */
class ConfSpec extends SparkSpec {
  import spark.implicits._

  private val Width = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Unregistered = "spark.graft.confspec.unset"
  // a registered SQL conf nothing in the engine or the suites sets
  private val Registered = "spark.sql.optimizer.maxIterations"

  private def isSet(key: String): Boolean = spark.conf.getAll.contains(key)

  test("scoped sets the overrides inside and restores them on normal exit") {
    val before = spark.conf.getAll
    val seen = Conf.scoped(spark)(Width -> "13", Aqe -> "false") {
      (spark.conf.get(Width), spark.conf.get(Aqe))
    }
    assert(seen == ("13", "false"))
    assert(spark.conf.getAll == before)
  }

  test("scoped restores when the body throws") {
    val before = spark.conf.getAll
    val thrown = intercept[IllegalStateException] {
      Conf.scoped(spark)(Width -> "13", Unregistered -> "x") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(spark.conf.getAll == before)
  }

  test("a key absent before the scope is absent after it") {
    assert(!isSet(Unregistered))
    assert(!isSet(Registered))
    val default = spark.conf.get(Registered)
    Conf.scoped(spark)(Unregistered -> "x", Registered -> "7") {
      assert(spark.conf.get(Unregistered) == "x")
      assert(spark.conf.get(Registered) == "7")
    }
    assert(!isSet(Unregistered))
    // left at its default, not pinned to an explicit copy of it
    assert(!isSet(Registered))
    assert(spark.conf.get(Registered) == default)
  }

  test("nested scopes unwind innermost first") {
    val before = spark.conf.get(Width)
    Conf.scoped(spark)(Width -> "11") {
      Conf.scoped(spark)(Width -> "12", Unregistered -> "inner") {
        assert(spark.conf.get(Width) == "12")
      }
      assert(spark.conf.get(Width) == "11")
      assert(!isSet(Unregistered))
    }
    assert(spark.conf.get(Width) == before)
  }

  test("loopWidth is a quarter of the session width, floor 8") {
    val widths = Seq(4, 8, 32, 35, 36, 200).map { p =>
      p -> Conf.scoped(spark)(Width -> p.toString)(IterPlan.loopWidth(spark))
    }
    assert(widths == Seq(4 -> "8", 8 -> "8", 32 -> "8", 35 -> "8", 36 -> "9", 200 -> "50"))
  }

  test("iterative loops leave the session conf as they found it") {
    val g = GraphGen.randGraph(17L, 40, 120)
    val uv = g.toDF("u", "v")
    val srcDst = g.toDF("src", "dst")
    val sites: Seq[(String, () => Unit)] = Seq(
      "KCore.peel" -> (() => KCore.peel(uv, 2).collect()),
      "SccLabels.trajectory" -> (() => SccLabels.trajectory(srcDst, 4).collect()),
      "DensestSubgraph.peelSummary" -> (() => DensestSubgraph.peelSummary(uv).collect()),
      "DfConnectedComponents.run" -> (() => DfConnectedComponents.run(srcDst).collect()),
      "LabelPropagation.run" -> (() => LabelPropagation.run(
        g.map { case (u, v) => (s"n$u", s"n$v") }.toDF("u", "v"), 3).collect()))
    for ((site, call) <- sites) {
      val before = spark.conf.getAll
      call()
      val after = spark.conf.getAll
      assert(after == before, s"$site changed ${(after.toSet diff before.toSet).toMap}")
    }
  }

  test("streaming drains restore the shuffle width and the AQE switch") {
    // spark.sql.legacy.parquet.nanosAsLong is the known unrestored key:
    // the parquet reader reads it when the query executes, after a scope
    // around the schema read would have closed
    def watched = Seq(Width, Aqe).map(k => k -> spark.conf.getOption(k))
    // a session width other than the state width, so a leaked set shows
    Conf.scoped(spark)(Width -> "6") {
      val before = watched
      assert(EventStream.runStreamStaticJoin(spark, sf).collect().nonEmpty)
      assert(watched == before)
      assert(RestartRecovery.run(spark, sf, interrupt = false)(identity)
        .collect().nonEmpty)
      assert(watched == before)
    }
  }
}
