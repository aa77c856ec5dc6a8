package graft.core

import graft.SparkSpec
import graft.plans.{GraphGen, LabelPropagation}
import java.util.concurrent.CountDownLatch

/** Two queries on one session do not change each other's plans: while
  * an iterative loop runs on one thread, another thread on the same
  * session sees the session's AQE switch and shuffle width unchanged and
  * plans a relational query exactly as it does alone.
  */
class SessionIsolationSpec extends SparkSpec {
  import spark.implicits._

  private val Watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  private def confNow: Seq[String] = Watched.map(spark.conf.get)

  private def q03Plan = graft.SparkEntry.queries("q03_top_orders")(spark, sf)
    .queryExecution.executedPlan.canonicalized

  test("a label-propagation run leaves a concurrent q03's conf view and plan unchanged") {
    val soloConf = confNow
    val soloPlan = q03Plan
    val edges = GraphGen.randGraph(23L, 60, 200)
      .map { case (u, v) => (s"n$u", s"n$v") }.toDF("u", "v")

    @volatile var loopDone = false
    val started = new CountDownLatch(1)
    val seenConf = scala.collection.mutable.Set[Seq[String]]()
    var plans = 0
    var differingPlans = 0
    var readerError: Option[Throwable] = None
    val reader = new Thread(() =>
      try {
        started.countDown()
        while (!loopDone || plans == 0) {
          seenConf += confNow
          if (q03Plan != soloPlan) differingPlans += 1
          plans += 1
        }
      } catch { case t: Throwable => readerError = Some(t) })
    reader.start()
    started.await()
    try assert(LabelPropagation.run(edges, 4).collect().nonEmpty)
    finally loopDone = true
    reader.join()

    readerError.foreach(t => throw t)
    assert(seenConf.toSet == Set(soloConf) && differingPlans == 0,
      s"conf views ${seenConf.toSet} (alone: $soloConf); " +
        s"$differingPlans of $plans concurrent q03 plans differ from its plan alone")
  }
}
