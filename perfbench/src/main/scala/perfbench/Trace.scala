package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the traced run. Counters are added by the listeners
  * while the span is the innermost open one.
  */
final class Span(val id: Int, val parent: Option[Span], val name: String,
                 val attrs: Map[String, Any]) {
  val start: Long = System.nanoTime()
  var end: Long = start
  var childNs: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val batchMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = synchronized { counters(k) += v }
  def seconds: Double = (end - start) / 1e9
  def selfSeconds: Double = (end - start - childNs) / 1e9
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent.map(_.id).getOrElse(-1), "name" -> name,
    "start_s" -> start / 1e9, "end_s" -> end / 1e9,
    "seconds" -> seconds, "self_s" -> selfSeconds,
    "counters" -> synchronized(counters.toMap),
    "batch_ms" -> batchMs.toList) ++ attrs
}

/** Spans kept in memory and written out at the end of the run.
  *
  * Attribution: the client issues every call from one thread, and the bus
  * is drained when a span opens and before it closes. So every listener
  * event caused inside a span is delivered while that span is the
  * innermost open one, and its counters land on it exactly; there are no
  * before/after deltas of global counters.
  */
object Trace {
  @volatile private var enabledNow = false
  @volatile private var current: Option[Span] = None
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var session: SparkSession = _

  def spans: Seq[Span] = done.toSeq

  /** Whether calls from now on are traced (per pass in a traced run). */
  def enable(on: Boolean): Unit = enabledNow = on

  def span[T](name: String, attrs: (String, Any)*)(body: Span => T): T =
    if (!enabledNow || session == null) body(null)
    else {
      drain()
      val s = new Span(nextId, current, name, attrs.toMap)
      nextId += 1
      current = Some(s)
      try body(s)
      finally {
        drain()
        s.end = System.nanoTime()
        s.parent.foreach(p => p.childNs += s.end - s.start)
        current = s.parent
        done += s
      }
    }

  private def drain(): Unit = PerfbenchBus.drain(session.sparkContext)

  private def onCurrent(f: Span => Unit): Unit = current.foreach(f)

  /** Sum of one SQL metric over the plan's leaves (scans of files, caches
    * and local relations): `numOutputRows` gives the rows a query examined,
    * `filesSize` the file bytes it scanned.
    */
  def leafMetric(p: SparkPlan, metric: String): Long = p match {
    case a: AdaptiveSparkPlanExec => leafMetric(a.executedPlan, metric)
    case q: QueryStageExec        => leafMetric(q.plan, metric)
    case _: ReusedExchangeExec    => 0L
    case l if l.children.isEmpty  => l.metrics.get(metric).map(_.value).getOrElse(0L)
    case other                    => other.children.map(leafMetric(_, metric)).sum
  }

  private class Counters extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = onCurrent(_.add("jobs", 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = onCurrent(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onCurrent { s =>
      s.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("run_ms", m.executorRunTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = onCurrent { s =>
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) s.add("block_write_b", (b.memSize + b.diskSize).toDouble)
    }
  }

  private class Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onCurrent { s =>
      s.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      s.add("leaf_rows", leafMetric(qe.executedPlan, "numOutputRows").toDouble)
      s.add("input_b", leafMetric(qe.executedPlan, "filesSize").toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private class Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = onCurrent { s =>
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      s.add("stream_batches", 1)
      s.add("stream_rows", e.progress.numInputRows.toDouble)
      s.add("stream_trigger_ms", ms("triggerExecution"))
      s.add("stream_plan_ms", ms("queryPlanning"))
      s.add("stream_commit_ms", ms("walCommit") + ms("commitOffsets"))
      s.synchronized(s.batchMs += ms("triggerExecution"))
    }
  }

  /** Registers the listeners on a session; traced runs call this once. */
  def install(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(new Counters)
    spark.listenerManager.register(new Plans)
    spark.streams.addListener(new Streams)
  }
}
