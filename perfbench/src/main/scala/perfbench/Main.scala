package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set-up from JVM start, a cold pass,
  * then warm passes for `--seconds`. Writes the raw record (set-up time,
  * calls, passes, spans) as JSON to `--out`; `perfbench/run.py` turns it
  * into metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * data, work (per-run scratch root), out, members (`name=module,...`),
  * expect (`name=fingerprint,...`), record (0|1).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def pairs(k: String): Seq[(String, String)] =
      a.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
      }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val record = a.get("record").contains("1")
    val dataDir = a("data")
    val work = a("work")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

    val wl: Workload = workload match {
      case "coding_session" => new CodingSession(dataDir, s"$work/atoms")
      case _ => new RegistryWorkload(dataDir, pairs("members"), pairs("expect").toMap, record)
    }

    // set-up, from JVM start: session and workload preparation. Trace
    // listeners go in before preparation, so the traced graph build is seen.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Trace.enable(traced)
    val spark = Session.build(cpus, s"$work/warehouse", s"$work/spark-local")
    if (traced) Trace.install(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    wl.prepare(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    Trace.enable(false)
    System.err.println(f"[perfbench] set-up: session ready $sessionS%.3f s after JVM start, " +
      f"preparation ${setupS - sessionS}%.3f s")
    wl.oracle(spark)

    val rng = new scala.util.Random(seed)
    val calls = mutable.ArrayBuffer.empty[Call]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(p: Int, tracedPass: Boolean): Unit = {
      val (gc0, jit0) = (gcMs(), jitMs())
      Trace.enable(tracedPass)
      val cs = wl.pass(spark, p, rng)
      val wall = cs.map(_.seconds).sum
      Trace.enable(false)
      val (gc, jit) = (gcMs() - gc0, jitMs() - jit0)
      calls ++= cs
      val settle = p >= 1 && p <= SettlePasses
      passes += Map("pass" -> p, "cold" -> (p == 0), "settle" -> settle, "traced" -> tracedPass, "wall_s" -> wall)
      System.err.println(f"[perfbench] pass $p ${if (p == 0) "cold" else if (settle) "settle" else "warm"}%s" +
        f"${if (tracedPass) " traced" else ""}%s: $wall%.3f s, ${cs.size} calls, ${cs.count(!_.ok)} failed, " +
        f"JVM GC $gc ms, JIT $jit ms")
    }
    // cold pass: the first calls of a fresh session
    runPass(0, tracedPass = traced)
    if (!record) {
      // a settle pass, then measured warm passes until the window closes
      // and at least the workload's minimum of measured reads was made, so
      // every run of a workload has the same shape. A traced run makes at
      // least four warm passes: the settle pass, then traced, untraced,
      // traced, so the trace's own cost can be read off without a linear
      // warm-up trend.
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val minPasses = if (traced) 4 else 1 + SettlePasses
      def warmReads = calls.count(c => c.pass > SettlePasses && c.kind == "read")
      var p = 1
      while (p <= minPasses || System.nanoTime() < deadline || warmReads < wl.minWarmReads) {
        runPass(p, tracedPass = traced && (p == 2 || p == 4))
        p += 1
      }
    }
    val peakRssMb = vmHwmMb()
    val spans = Trace.spans.map(_.toMap)
    spark.stop()

    val record0 = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "master" -> graft.core.Masters.resolve(cpus),
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb,
      "passes" -> passes.toList, "calls" -> calls.toList,
      "spans" -> spans.toList) ++ wl.extra
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), mapper.writeValueAsString(record0))
  }

  /** Warm passes after the cold pass that are checked but left out of the
    * end-to-end metrics. The first warm pass still runs 15-25% slower than
    * later ones while the JIT compiles 10-20 s of CPU in it, by an amount
    * that varies by run.
    */
  private val SettlePasses = 1

  /** Collection time of all JVM collectors so far, in ms. */
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).sum

  /** JIT compiler time so far, in ms. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** VmHWM of this process, in MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}
