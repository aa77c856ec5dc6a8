package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}

/** Counts the Spark jobs or tasks a block runs. Waiting until the listener
  * bus has delivered every posted event is private to Spark, hence this
  * package.
  */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) =
    counting(sc)(n => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)

  /** Tasks started by `body`: one per partition each of its stages computes. */
  def tasksOf[T](sc: SparkContext)(body: => T): (T, Int) =
    counting(sc)(n => new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit = n.incrementAndGet()
    })(body)

  private def counting[T](sc: SparkContext)(listener: AtomicInteger => SparkListener)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = listener(n)
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, n.get)
    } finally sc.removeSparkListener(l)
  }
}
