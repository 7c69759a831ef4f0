package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer's public function, made by the benchmark.
  * `op` numbers the benchmark operation (root span) it belongs to. Times
  * are wall-clock milliseconds, as Spark's own events carry them; `durMs`
  * is measured with the monotonic clock.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Long, endMs: Long, durMs: Double,
                      gcMs: Long, codegenMs: Double) {
  def contains(t: Long): Boolean = startMs <= t && t <= endMs
  def layer: String = name.takeWhile(_ != '.')
}

/** Keeps spans in memory; [[Tracer.write]] writes them out at the end. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = 0

  def span[T](name: String)(f: => T): T = {
    // keeps consecutive span boundaries > 1 ms apart, so that Spark's
    // millisecond event times attribute to exactly one span
    Thread.sleep(2)
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (parent < 0) op += 1
    val myOp = op
    stack = id :: stack
    val (gc0, cg0) = (Tracer.gcMs(), Tracer.codegenMs())
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try f
    finally {
      val durMs = (System.nanoTime() - ns0) / 1e6
      val ms1 = System.currentTimeMillis()
      stack = stack.tail
      spans += Span(id, parent, myOp, name, ms0, ms1, durMs,
        Tracer.gcMs() - gc0, Tracer.codegenMs() - cg0)
    }
  }

  def roots: Seq[Span] = spans.filter(_.parent < 0).sortBy(_.startMs).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part covered by child spans. */
  def selfMs(s: Span): Double = s.durMs - children(s).map(_.durMs).sum

  def write(path: String, extra: Seq[(String, String)]): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      extra.foreach { case (k, v) => w.println(Stats.obj(Seq(k -> v))) }
      spans.sortBy(_.id).foreach(s => w.println(Stats.obj(Seq(
        "span" -> Stats.str(s.name), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "dur_ms" -> Stats.num(s.durMs), "gc_ms" -> s.gcMs.toString,
        "codegen_ms" -> Stats.num(s.codegenMs)))))
    } finally w.close()
  }
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Total codegen compile time so far: Spark's running sum of compile
    * durations, in nanoseconds (the codegen metric's histogram drops old
    * samples, so its sum can fall).
    */
  def codegenMs(): Double = CodeGenerator.compileTime / 1e6
}

/** Spark job, stage, task and query events, recorded with their times so
  * they can be attributed to the span that was open when they started.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector._
  val jobs = ArrayBuffer[JobEv]()
  val stages = ArrayBuffer[StageEv]()
  val tasks = ArrayBuffer[(Long, Long)]()
  val queries = ArrayBuffer[QueryEv]()
  private val seenCaches = new java.util.IdentityHashMap[AnyRef, Unit]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs += JobEv(e.jobId, e.time, -1L, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.indexWhere(_.id == e.jobId) match {
      case -1 =>
      case i => jobs(i) = jobs(i).copy(endMs = e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages += StageEv(
      si.stageId, si.submissionTime.getOrElse(-1L),
      si.completionTime.getOrElse(-1L), si.numTasks,
      m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
      m.inputMetrics.bytesRead.toDouble, m.outputMetrics.bytesWritten.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      si.rddInfos.exists(_.name == "FileScanRDD"))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases.values
      val nodes = walk(qe.executedPlan).toSeq
      queries += QueryEv(
        phases.map(_.startTimeMs).minOption.getOrElse(-1L),
        phases.map(_.durationMs).sum,
        nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] ||
          n.isInstanceOf[BroadcastExchangeLike]),
        nodes.collect {
          case s: FileSourceScanExec
              if !s.relation.location.rootPaths.exists(_.toString.contains("/_dv")) =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Every node of an executed plan: through adaptive plans (their final
    * plan), query stages, and, once per cached relation, the plan that
    * built the cache.
    */
  private def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Iterator(a) ++ walk(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ walk(q.plan)
    case i: InMemoryTableScanExec =>
      val builder = i.relation.cacheBuilder
      val first = !seenCaches.containsKey(builder)
      seenCaches.put(builder, ())
      Iterator(i) ++ (if (first) walk(i.relation.cachedPlan) else Iterator.empty)
    case other => Iterator(other) ++ other.children.iterator.flatMap(walk)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)

  // ---- attribution -------------------------------------------------------

  def jobsIn(s: Span): Seq[JobEv] = synchronized(jobs.filter(j => s.contains(j.startMs)).toSeq)
  def stagesIn(s: Span): Seq[StageEv] = synchronized(stages.filter(x => s.contains(x.submitMs)).toSeq)
  def queriesIn(s: Span): Seq[QueryEv] = synchronized(queries.filter(q => s.contains(q.startMs)).toSeq)

  /** Span wall time during which no task of this process was running. */
  def idleMs(s: Span): Double = synchronized {
    val iv = tasks.iterator
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => a < b }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, (s.endMs - s.startMs) - covered.toDouble)
  }
}

object Collector {
  final case class JobEv(id: Int, startMs: Long, endMs: Long, desc: String)
  // amounts are doubles (exact for integers below 2^53) so they sum and
  // average without conversions
  final case class StageEv(id: Int, submitMs: Long, doneMs: Long, tasks: Int,
                           runMs: Double, cpuMs: Double, inBytes: Double,
                           outBytes: Double, shuffleBytes: Double,
                           spillBytes: Double, scansFiles: Boolean)
  final case class QueryEv(startMs: Long, planMs: Long, exchanges: Int,
                           dataFilesScanned: Long)
}
