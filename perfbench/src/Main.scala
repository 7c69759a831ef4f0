package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Bookkeeping shared by every workload: operations attempted and failed,
  * the scratch root, and the Spark session's lifecycle.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val scratch: String, traces: String) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  private var session: Option[SparkSession] = None
  private var sessions = 0

  def spark: SparkSession = session.get

  /** Session size, heap and versions: printed next to every result and
    * written into every trace, so results from differently sized sessions
    * are never compared unawares.
    */
  def env: String = Stats.obj(Seq(
    "cpus" -> Stats.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "?")),
    "shuffle_partitions" -> Stats.str(session.map(_.conf.get("spark.sql.shuffle.partitions"))
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "?"))),
    "driver_heap_mb" -> Stats.num((Runtime.getRuntime.maxMemory >> 20).toDouble),
    "jdk" -> Stats.str(System.getProperty("java.version")),
    "spark" -> Stats.str(org.apache.spark.SPARK_VERSION),
    "workload" -> Stats.str(workload),
    "seed" -> Stats.num(seed.toDouble)))

  /** Run an operation's correctness check, untimed; a throw or a mismatch
    * marks the operation failed. The operation itself was counted by
    * [[timed]].
    */
  def verify(what: String)(check: => Option[String]): Unit = {
    val bad = try check catch {
      case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    bad.foreach(fail(what, _))
  }

  /** A check that is an operation of its own (a final-state read). */
  def checkOp(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    verify(what)(check)
  }

  def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += s"$what: $why"
  }

  /** Count one operation and time `f` in seconds; an exception marks the
    * operation failed and yields None.
    */
  def timed[T](what: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime
    try {
      val r = f
      Some((r, (System.nanoTime - t0) / 1e9))
    } catch {
      case e: Exception =>
        fail(what, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Stop the current session (if any) and start a fresh one with its own
    * local dirs under the scratch root, as a new spark-submit would.
    */
  def newSession(): SparkSession = {
    stopSession()
    sessions += 1
    val local = dir(s"spark-local-$sessions")
    System.setProperty("spark.local.dir", local)
    val s = graft.Graft.session(appName = s"perfbench-$workload")
    session = Some(s)
    s
  }

  def stopSession(): Unit = {
    session.foreach(_.stop())
    session = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Where the traced run writes its spans: outside the scratch root,
    * which is removed when the run ends.
    */
  def traceFile: String = s"$traces/$workload-seed$seed.jsonl"

  def dir(name: String): String = {
    val d = new File(scratch, name)
    d.mkdirs()
    d.getPath
  }
}

/** Benchmark driver entry point. Usage:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --scratch <dir> [--traces <dir>]
  * }}}
  * Prints informational lines, then one JSON result object as the last
  * line of standard output. `run.py` builds the classpath, sets the
  * session size and cleans the scratch root.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val ctx = new Ctx(workload, opts("seed").toLong, opts("seconds").toInt,
      opts("scratch"), opts.getOrElse("traces", opts("scratch")))
    val traced = opts.get("trace").contains("1")
    val bootS = (enteredMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl: Workload = workload match {
      case "hh_deep" | "hh_wide" => new Household(ctx, Gen.Shapes(workload))
      case "table_churn" => new Churn(ctx)
      case other =>
        System.err.println(s"perfbench: unknown workload '$other'")
        sys.exit(2)
    }
    val metrics =
      try {
        wl.prepare()
        if (traced) wl.traced()
        else {
          // set-up, once per process as for a spark-submit user: JVM start,
          // session start and the workload's set-up with its cold pass
          val t0 = System.nanoTime
          ctx.newSession()
          wl.setUp()
          val setupS = bootS + (System.nanoTime - t0) / 1e9
          println(f"perfbench: set-up $setupS%.3f s, of which JVM start $bootS%.3f s")
          wl.measure() ++ Seq(
            "setup_s" -> (setupS, "s"),
            "peak_rss_mb" -> (peakRssMb(), "MB"))
        }
      } finally ctx.stopSession()
    println(Stats.obj(Seq("env" -> ctx.env)))
    ctx.failures.foreach(f => println(s"perfbench: FAILED $f"))
    val frac = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    println(s"perfbench: failed_frac = ${Stats.num(frac)} (1) of ${ctx.attempted} operations")
    metrics.foreach { case (k, (v, u)) => println(s"perfbench: $k = ${Stats.num(v)} $u") }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    println(Stats.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(ctx.attempted, 1L).toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Stats.obj(metrics.map { case (k, (v, u)) =>
        k -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(u)))
      }))))
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** A workload: inputs are generated in `prepare` (never timed), `setUp`
  * runs once on the first session and ends with the cold pass, then
  * `measure` runs the closed loop for `ctx.seconds` on the same session.
  * `traced` is the separate per-layer run.
  */
trait Workload {
  def prepare(): Unit
  def setUp(): Unit
  def measure(): Seq[(String, (Double, String))]
  def traced(): Seq[(String, (Double, String))]
}
