package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One cold benchmark run: one JVM, one `local[cpus]` session, one driver
  * thread issuing operations in a closed loop (one client).
  *
  * Phases (see [[RowLoop]]):
  *  1. setup: the session, then the corpus op's day-0 warehouse;
  *  2. timed: exactly one round, every op once;
  *  3. untimed: results are dumped as parquet next to their DuckDB oracle
  *     SQL, for `tools/check.py`.
  *
  * Writes `<out>/run.json` with raw timings (and, when tracing, the
  * per-span/per-job ledger); `perfbench/run.py` turns it into metrics.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <trace 0|1> <launchEpochMs> <layer/op,...>
  */
object Harness {
  final case class Op(row: String, layer: String, startMs: Long, sec: Double,
                      cpuSec: Double, jitSec: Double, error: Option[String])

  /** What a workload hands back: set-up failures, the frozen-build ledger,
    * the timed ops, and extra already-rendered JSON fields. */
  final case class Outcome(setupErrors: Seq[(String, String)],
                           builds: Seq[graft.ops.FrozenCaches.BuildEvent],
                           setupEndMs: Long, setupCpuSec: Double, setupJitSec: Double, ops: Seq[Op],
                           lastOpEndMs: Long, peakRssMb: Double,
                           extra: Seq[(String, String)] = Nil)

  /** The session, the tracer and the run's directories, shared by the
    * workloads. */
  final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val data: String,
                  val out: String) {
    def span[T](layer: String, name: String)(body: => T): T =
      tracer.fold(body)(_.span(layer, name)(body))

    /** Drops the blocks a call cached; registry queries expect this
      * between calls (the SparkEntry cache contract). */
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val vmThreads = sun.management.ManagementFactoryHelper.getHotspotThreadMBean

  /** CPU seconds this JVM has used so far, on all its threads. */
  def processCpuSec(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far. */
  def jitCpuSec(): Double = {
    var ns = 0L
    vmThreads.getInternalThreadCpuTimes.forEach((name, t) => if (name.contains("CompilerThread")) ns += t)
    ns / 1e9
  }

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, traceArg, launchArg, opsArg) = args
    val ops = opsArg.split(",").toSeq.map { op =>
      val i = op.lastIndexOf('/')
      (op.take(i), op.drop(i + 1))
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = if (traceArg == "1") Some(new Tracer) else None
    val spark = tracer.fold(session(out, cpus))(_.span("spark.driver", "session")(session(out, cpus)))
    tracer.foreach(_.install(spark))
    val o = RowLoop.run(new Ctx(spark, tracer, data, out), ops)

    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cpus" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "launch_ms" -> launchArg,
      "setup_end_ms" -> o.setupEndMs.toString,
      "setup_cpu_s" -> o.setupCpuSec.toString,
      "setup_jit_s" -> o.setupJitSec.toString,
      "last_op_end_ms" -> o.lastOpEndMs.toString,
      "peak_rss_mb" -> o.peakRssMb.toString,
      "setup_errors" -> Json.obj(o.setupErrors.map { case (r, m) => r -> Json.str(m) }),
      "builds" -> Json.arr(o.builds.map(b => Json.obj(Seq(
        "artifact" -> Json.str(b.artifact), "sec" -> b.sec.toString)))),
      "ops" -> Json.arr(o.ops.map(op => Json.obj(Seq(
        "row" -> Json.str(op.row), "layer" -> Json.str(op.layer),
        "start_ms" -> op.startMs.toString,
        "sec" -> op.sec.toString, "cpu_s" -> op.cpuSec.toString, "jit_s" -> op.jitSec.toString,
        "error" -> op.error.map(Json.str).getOrElse("null"))))),
    ) ++ o.extra ++ tracer.map(t => "trace" -> t.json).toSeq)
    write(s"$out/run.json", record)
    spark.stop()
  }

  /** The session `graft.Bench` builds, with every directory it writes
    * under the run's `out`. */
  private def session(out: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions().apply(_))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$out/checkpoint")
    s
  }

  /** Runs `body` as one timed op: its result or failure message, wall
    * seconds, process CPU seconds and JIT compiler CPU seconds. */
  def timed[T](body: => T): (Either[String, T], Double, Double, Double) = {
    val (cpu0, jit0) = (processCpuSec(), jitCpuSec())
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(describe(e)) }
    ((res, (System.nanoTime() - t0) / 1e9, processCpuSec() - cpu0, jitCpuSec() - jit0))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Writes the oracle SQL map `tools/check.py` reads next to the dumped
    * results. */
  def writeOracles(out: String, oracles: Seq[(String, String)]): Unit =
    write(s"$out/results/oracle_sql.json", Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering: values passed in are already rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
