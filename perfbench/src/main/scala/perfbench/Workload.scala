package perfbench

import org.apache.spark.sql.SparkSession

/** One client call as the run records it. `kind` is "read" or "write";
  * `ok` is false when the call threw or its output check failed.
  */
final case class Call(pass: Int, op: String, kind: String, module: String,
                      seconds: Double, ok: Boolean, error: String)

/** A closed-loop, single-client workload. `prepare` is part of set-up;
  * `oracle` runs once after it, outside every timed window.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def oracle(spark: SparkSession): Unit
  /** One pass of calls in a seeded order; every output is checked outside
    * the call's timed window.
    */
  def pass(spark: SparkSession, passNo: Int, rng: scala.util.Random): Seq[Call]
  /** Measured warm reads a run makes at least; a Harrell-Davis median
    * over fewer moves with a single slow call.
    */
  def minWarmReads: Int = 12
  /** Workload-specific numbers for the run record. */
  def extra: Map[String, Any] = Map.empty
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** Registry queries run through the noop sink, as `graft.Bench` runs them.
  * Members are selected by exact name. Every output is checked against its
  * recorded fingerprint, which executes the query again after its timed
  * call. `record` collects fingerprints instead.
  */
final class RegistryWorkload(dataDir: String, members: Seq[(String, String)],
                             expected: Map[String, String], record: Boolean) extends Workload {
  private val fns = {
    val all = graft.operators.Registry.queries
    val missing = members.map(_._1).filterNot(all.contains)
    require(missing.isEmpty, s"unknown Registry members: ${missing.mkString(",")}")
    members.map { case (n, _) => n -> all(n) }.toMap
  }
  val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def prepare(spark: SparkSession): Unit = ()
  def oracle(spark: SparkSession): Unit = ()

  // three measured passes: a pass is 4-6 s, and the median pass rate
  // leaves out one that a host stall slowed
  override def minWarmReads: Int = 3 * members.size

  def pass(spark: SparkSession, passNo: Int, rng: scala.util.Random): Seq[Call] =
    rng.shuffle(members).map { case (name, module) =>
      val t0 = System.nanoTime()
      val res = try {
        Right(Trace.span("operators.call", "op" -> name, "module" -> module, "pass" -> passNo) { _ =>
          val df = Trace.span("operators.build", "op" -> name, "module" -> module, "pass" -> passNo)(_ =>
            fns(name)(spark, dataDir))
          Trace.span("operators.exec", "op" -> name, "module" -> module, "pass" -> passNo)(_ =>
            df.write.format("noop").mode("overwrite").save())
          df
        })
      } catch { case e: Throwable => Left(Workload.message(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val verdict: Either[String, Unit] = res.flatMap { df =>
        try {
          val fp = Fingerprint.of(df)
          if (record) { recorded(name) = fp; Right(()) }
          else expected.get(name) match {
            case Some(`fp`) => Right(())
            case Some(want) => Left(s"fingerprint $fp, expected $want")
            case None       => Left("no recorded fingerprint")
          }
        } catch { case e: Throwable => Left("check failed: " + Workload.message(e)) }
      }
      Call(passNo, name, "read", module, secs, verdict.isRight, verdict.left.toOption.orNull)
    }

  override def extra: Map[String, Any] =
    if (record) Map("fingerprints" -> recorded.toMap) else Map.empty
}
