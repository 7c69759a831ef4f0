package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sources.Loader

/** Snapshot-table churn: a bucketed table seeded through
  * `Loader.streamUpsertSink` with all four metadata kinds maintained, then
  * a closed loop of commits (upsert, deletion-vector delete, periodic
  * compaction and vacuum) with point, range and dictionary lookups through
  * `Loader.readSnapshot` between them. Every lookup and the final snapshot
  * are checked against an in-memory model of the applied operations.
  */
final class Churn(ctx: Ctx) extends Workload {
  import Churn._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("score", LongType),
    StructField("cents", LongType), StructField("tag", StringType),
    StructField("ver", LongType)))

  private val filesPerBucket = 4
  private val maintain = Loader.Maintain(
    zoneCols = Seq("score"), statCols = Seq("cents", "score"),
    clusterBy = Some("score"),
    maxRecordsPerFile = Some((SeedRows + Buckets * filesPerBucket - 1) /
      (Buckets * filesPerBucket).toLong),
    dictCols = Seq("tag"), dictMax = 64,
    bloomCols = Seq("id"),
    bloomBits = math.min(((32L * SeedRows / (Buckets * filesPerBucket) + 63) / 64 * 64)
      .toInt, 1 << 26),
    bloomHashes = 5)

  private var tr: Option[Tracer] = None
  private def span[T](name: String)(f: => T): T = tr.fold(f)(_.span(name)(f))

  private var seedCsv: String = _
  private var seedRows: Array[Rec] = _
  private var tables = 0
  private var st: State = _

  // ---- the model -------------------------------------------------------

  /** Table state on both sides: the table root and its latest version
    * dir, and the model of what it must hold.
    */
  final class State(val base: String, var latest: String, val rnd: java.util.SplittableRandom) {
    val rows = mutable.LongMap[Rec]()
    val byScore = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    var nextId = SeedRows + 1L
    var nextScore = ScoreSpace + 1L
    var ver = 1L
    var deltaRows = 0L
    var upserted = 0L
    var lookups = 0
    def put(r: Rec): Unit = {
      rows.get(r.id).foreach(o => byScore.remove(o.score))
      rows(r.id) = r
      byScore.put(r.score, r.id)
    }
    def remove(id: Long): Unit =
      rows.remove(id).foreach(o => byScore.remove(o.score))
    def randomLive(): Rec = {
      // ids are dense up to nextId; probe until a live one is found
      var r: Option[Rec] = None
      while (r.isEmpty) r = rows.get(1L + rnd.nextLong(nextId - 1))
      r.get
    }
  }

  def prepare(): Unit = {
    val t0 = System.nanoTime
    seedRows = Array.tabulate(SeedRows)(i => seedRec(ctx.seed, i + 1L))
    seedCsv = ctx.dir("seed")
    val w = new BufferedWriter(new FileWriter(s"$seedCsv/seed.csv"), 1 << 20)
    w.write("id,score,cents,tag,ver\n")
    seedRows.foreach(r => w.write(s"${r.id},${r.score},${r.cents},${r.tag},0\n"))
    w.close()
    println(f"perfbench: generated table_churn seed: $SeedRows rows, " +
      f"${new File(s"$seedCsv/seed.csv").length / 1e6}%.1f MB in " +
      f"${(System.nanoTime - t0) / 1e9}%.1f s")
  }

  /** Seed a fresh table through the streaming upsert sink. */
  private def seed(): State = {
    tables += 1
    val base = s"${ctx.dir(s"table-$tables")}/t"
    val spark = ctx.spark
    val (q, handle) = Loader.streamUpsertSink(
      spark.readStream.option("header", "true").schema(schema).csv(seedCsv),
      base, key = "id", orderCols = Seq("ver"),
      checkpointDir = Some(s"${ctx.dir(s"ckpt-$tables")}"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = Buckets,
      maintain = Some(maintain))
    q.awaitTermination()
    val s = new State(base, handle.currentDir.get,
      new java.util.SplittableRandom(ctx.seed * 7919L + 17L))
    seedRows.foreach(s.put)
    s
  }

  // ---- operations --------------------------------------------------------

  /** Upsert ~1% of the rows: half updates of live keys, half inserts. */
  def upsert(s: State): Option[Double] = {
    val n = SeedRows / 100
    val recs = (0 until n).map { i =>
      if (i % 2 == 0) s.randomLive() else {
        s.nextId += 1; Rec(s.nextId - 1, 0L, 0L, "")
      }
    }.distinctBy(_.id).map { r =>
      s.nextScore += 1 + s.rnd.nextInt(3)
      Rec(r.id, s.nextScore, s.rnd.nextLong(1000000L), tagFor(s.nextScore))
    }
    s.ver += 1
    val ver = s.ver
    val df = ctx.spark.createDataFrame(
      java.util.Arrays.asList(recs.map(r =>
        Row(r.id, r.score, r.cents, r.tag, ver)): _*), schema)
    ctx.timed("upsertBatch") {
      span("table.upsertBatch")(
        Loader.upsertBatch(ctx.spark, s.base, df, "id", Seq("ver"), Some(maintain)))
    }.map { case (dir, t) =>
      s.latest = dir
      recs.foreach(s.put)
      s.deltaRows += recs.length
      s.upserted += recs.length
      t
    }
  }

  /** Deletion-vector delete of a few live keys. */
  def delete(s: State): Option[Double] = {
    val keys = Seq.fill(5)(s.randomLive().id).distinct
    ctx.timed("deleteWhereVectors") {
      span("table.deleteWhereVectors")(
        Loader.deleteWhereVectors(ctx.spark, s.base, col("id").isin(keys: _*),
          Some(maintain)))
    }.map { case (res, t) =>
      ctx.verify("deleteWhereVectors")(res match {
        case Some((dir, n)) if n == keys.length =>
          s.latest = dir; None
        case other => Some(s"expected ${keys.length} tombstones, got $other")
      })
      keys.foreach(s.remove)
      s.deltaRows += keys.length
      t
    }
  }

  def compact(s: State): Option[Double] =
    ctx.timed("compactSnapshot") {
      span("table.compactSnapshot")(
        Loader.compactSnapshot(ctx.spark, s.base, Some(maintain)))
    }.map { case (res, t) => res.foreach(s.latest = _); t }

  def vacuum(s: State): Option[Double] =
    ctx.timed("vacuumSnapshots") {
      span("table.vacuumSnapshots")(Loader.vacuumSnapshots(ctx.spark, s.base))
    }.map(_._2)

  /** One lookup, in turn key equality (Blooms), a score range (zones) and
    * the rare tag (dictionaries). Returns its seconds.
    */
  def lookup(s: State): Option[Double] = {
    s.lookups += 1
    val (what, filter, expect) = s.lookups % 3 match {
      case 0 =>
        val r = if (s.rnd.nextInt(8) == 0) Rec(s.nextId + 5, 0, 0, "")
                else s.randomLive()
        ("point lookup", col("id") === r.id, s.rows.get(r.id).toSeq)
      case 1 =>
        val lo = s.rnd.nextLong(s.nextScore)
        val hi = lo + ScoreSpace / 2000
        val ids = s.byScore.subMap(lo, true, hi, true).values()
        ("range lookup", col("score").between(lo, hi),
          ids.toArray.toSeq.map(i => s.rows(i.asInstanceOf[java.lang.Long])))
      case _ =>
        ("tag lookup", col("tag") === RareTag,
          s.byScore.headMap(RareScores, false).values().toArray.toSeq
            .map(i => s.rows(i.asInstanceOf[java.lang.Long])))
    }
    ctx.timed(what) {
      span("lookup") {
        val snap = span("table.readSnapshot")(Loader.readSnapshot(ctx.spark, s.latest))
        span("zoneskip.collect")(snap.filter(filter).select(Cols.map(col): _*).collect())
      }
    }.map { case (rows, t) =>
      ctx.verify(what)(same(rows, expect))
      if (tr.isDefined) lookupTotals += Loader.readSnapshot(ctx.spark, s.latest)
        .inputFiles.count(f => !f.contains("/_dv/")).toDouble
      t
    }
  }

  private def same(rows: Array[Row], expect: Seq[Rec]): Option[String] = {
    val got = rows.map(r => Rec(r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3))).sortBy(_.id).toSeq
    val want = expect.sortBy(_.id)
    if (got == want) None
    else Some(s"${got.length} rows (first ${got.take(2)}), expected " +
      s"${want.length} (first ${want.take(2)})")
  }

  /** The whole live snapshot against the model, untimed. */
  def checkSnapshot(s: State): Unit =
    ctx.checkOp("final snapshot")(
      same(Loader.readSnapshot(ctx.spark, s.latest)
        .select(Cols.map(col): _*).collect(),
        s.rows.values.toSeq))

  // ---- workload ------------------------------------------------------------

  def setUp(): Unit = {
    st = seed()
    // the cold pass: the first delete and lookup of each kind (seeding ran
    // the upsert path)
    delete(st)
    (0 until 3).foreach(_ => lookup(st))
  }

  /** One period of the closed loop: three cycles, each an upsert followed
    * by lookups; the second cycle adds a delete, the third a compaction and
    * a vacuum. Upserts are the most frequent commit, and `commit_s_p50` is
    * taken over them alone, as the other verbs cost differently. Vacuum
    * publishes no version, so it is not a commit. The loop runs whole
    * periods, so every run samples the same mix of table states.
    */
  private val period: Seq[Char] = {
    val reads = Seq.fill(LookupsPerGap)('L')
    Seq('U') ++ reads ++
      Seq('U') ++ reads ++ Seq('D') ++ reads ++
      Seq('U') ++ reads ++ Seq('C', 'V') ++ reads
  }

  /** Run one period; returns each operation's kind and seconds. After each
    * write, `onWrite` sees the table.
    */
  private def runPeriod(s: State, onWrite: State => Unit = _ => ()
                       ): Seq[(Char, Double)] = period.flatMap { op =>
    (op match {
      case 'U' => upsert(s)
      case 'D' => delete(s)
      case 'C' => compact(s)
      case 'V' => vacuum(s)
      case _ => lookup(s)
    }).map { t =>
      if (op != 'L') onWrite(s)
      op -> t
    }
  }

  def measure(): Seq[(String, (Double, String))] = {
    val s = st
    // untimed warm-up: the first batch upsert after seeding is still slow,
    // and lookup times fall for some dozens of lookups, after a delete too
    upsert(s)
    (1 to LookupsPerGap).foreach(_ => lookup(s))
    delete(s)
    (1 to LookupsPerGap).foreach(_ => lookup(s))
    val rows0 = s.upserted
    // table-root bytes per live row after every write, so that files that
    // pile up between compactions count as well as the compacted table
    val bytes = ArrayBuffer[Double]()
    val deadline = System.nanoTime + ctx.seconds * 1000000000L
    val ops = ArrayBuffer[(Char, Double)]()
    var periods = 0
    while ((System.nanoTime < deadline || periods == 0) && ctx.failed <= 3) {
      periods += 1
      ops ++= runPeriod(s, t => bytes += du(new File(t.base)).toDouble / t.rows.size)
    }
    val upserts = ops.collect { case ('U', t) => t }
    val lookups = ops.collect { case ('L', t) => t }
    checkSnapshot(s)
    println(s"perfbench: $periods periods; ${upserts.length} upserts (s): " +
      upserts.map(x => f"$x%.3f").mkString(" ") + "; other writes (s): " +
      ops.collect { case (c, t) if "DCV".contains(c) => f"$c $t%.3f" }.mkString(" ") +
      s"; ${lookups.length} lookups (ms): " + lookups.map(x => f"${x * 1000}%.0f").mkString(" ") +
      s"; ${s.rows.size} live rows; bytes per row: " +
      bytes.map(x => f"$x%.1f").mkString(" "))
    Seq(
      "rows_per_s" -> ((s.upserted - rows0) / upserts.sum, "1/s"),
      "commit_s_p50" -> (Stats.median(upserts.toSeq), "s"),
      "lookup_s_p50" -> (Stats.median(lookups.toSeq), "s"),
      "lookup_s_p90" -> (Stats.quantile(lookups.toSeq, 0.9), "s"),
      "bytes_per_row" -> (Stats.mean(bytes.toSeq), "B"))
  }

  /** Data files in the snapshot each traced lookup read: the base of the
    * skip ratio.
    */
  private val lookupTotals = ArrayBuffer[Double]()

  private def files(s: State, meta: Boolean): Int = {
    def walk(f: File, inMeta: Boolean): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c =>
        walk(c, inMeta || MetaDirs.contains(c.getName))).sum
      else if (f.getName.startsWith("part-") && inMeta == meta) 1 else 0
    walk(new File(s.base), inMeta = false)
  }

  /** The per-layer run: one untraced period, then two traced ones, each
    * on a freshly seeded table; the traced rounds' deterministic counters
    * must agree.
    */
  def traced(): Seq[(String, (Double, String))] = {
    ctx.newSession()
    setUp()
    upsert(st)
    val spark = ctx.spark
    val untraced = runPeriod(seed()).map(_._2)
    val tracer = new Tracer
    val col = new Collector
    val ends = ArrayBuffer[(Int, Int, Int)]()
    val deltas = ArrayBuffer[Long]()
    val tracedSecs = ArrayBuffer[Double]()
    for (_ <- 1 to 2) {
      val s = seed()
      col.install(spark)
      tr = Some(tracer)
      tracedSecs ++= runPeriod(s).map(_._2)
      tr = None
      col.uninstall(spark)
      checkSnapshot(s)
      ends += ((tracer.roots.length, files(s, meta = true), files(s, meta = false)))
      deltas += s.deltaRows
    }
    val ops = tracer.roots
    val commits = ops.filter(o => CommitVerbs.contains(o.name))
    val lookups = ops.filter(_.name == "lookup")
    def named(n: String) = ops.filter(_.name == n)
    def inner(ss: Seq[Span], n: String) = ss.flatMap(tracer.children).filter(_.name == n)
    def mean(ss: Seq[Span])(f: Span => Double) = Stats.mean(ss.map(f))
    val maint = (s: Span) => col.jobsIn(s).filter(_.desc.startsWith("maintenance: "))
    val scanned = (s: Span) => inner(Seq(s), "zoneskip.collect")
      .flatMap(col.queriesIn).map(_.dataFilesScanned).sum.toDouble
    val collects = inner(lookups, "zoneskip.collect")
    val values = Layers.sparkPerOp(tracer, col, ops) ++ Map(
      "table.upsert_ms" -> mean(named("table.upsertBatch"))(_.durMs),
      "table.delete_ms" -> mean(named("table.deleteWhereVectors"))(_.durMs),
      "table.compact_ms" -> mean(named("table.compactSnapshot"))(_.durMs),
      "table.vacuum_ms" -> mean(named("table.vacuumSnapshots"))(_.durMs),
      "table.self_ms" -> (commits ++ inner(lookups, "table.readSnapshot"))
        .map(tracer.selfMs).sum / ops.length,
      "table.commit_jobs" -> mean(commits)(col.jobsIn(_).length),
      "table.commit_idle_ms" -> mean(commits)(col.idleMs),
      "table.maint_jobs" -> mean(commits)(maint(_).length),
      "table.maint_ms" -> mean(commits)(maint(_).map(j => j.endMs - j.startMs).sum.toDouble),
      "table.meta_files" -> ends.last._2.toDouble,
      "table.data_files" -> ends.last._3.toDouble,
      "table.write_amp" -> commits.flatMap(col.stagesIn).map(_.outBytes).sum.toDouble /
        deltas.sum,
      "table.read_snapshot_ms" -> mean(inner(lookups, "table.readSnapshot"))(_.durMs),
      "zoneskip.collect_ms" -> mean(collects)(_.durMs),
      "zoneskip.self_ms" -> mean(collects)(tracer.selfMs),
      "zoneskip.files_scanned" -> mean(lookups)(scanned),
      "zoneskip.bytes_read" -> mean(collects)(col.stagesIn(_).map(_.inBytes).sum.toDouble),
      "zoneskip.skip_ratio" -> (1.0 - lookups.map(scanned).sum / lookupTotals.sum),
      "trace.overhead_ms" -> 1000 * (Stats.mean(tracedSecs.toSeq) - Stats.mean(untraced)))
    // deterministic counters per operation: traced round 1 against round 2
    val n = ends.head._1
    val counters = ops.map(o => Seq(
      s"${o.name} jobs" -> col.jobsIn(o).length,
      s"${o.name} exchanges" -> col.queriesIn(o).map(_.exchanges).sum,
      s"${o.name} maintenance jobs" -> maint(o).length,
      s"${o.name} files scanned" -> scanned(o)))
    Layers.sameCounters(ctx,
      counters.take(n).flatten ++ Seq("meta files" -> ends(0)._2, "data files" -> ends(0)._3),
      counters.drop(n).flatten ++ Seq("meta files" -> ends(1)._2, "data files" -> ends(1)._3))
    tracer.write(ctx.traceFile, Seq("env" -> ctx.env))
    Layers.report(values)
  }
}

object Churn {
  val SeedRows = 20000
  val Buckets = 4
  val LookupsPerGap = 6
  val ScoreSpace = 4L * SeedRows
  /** Rows whose score is below this carry the rare tag. */
  val RareScores: java.lang.Long = ScoreSpace / 2000
  val RareTag = "rare"
  val Cols = Seq("id", "score", "cents", "tag")
  val MetaDirs = Set("_zones", "_stats", "_dicts", "_blooms")
  /** The verbs that publish a table version; vacuum publishes none. */
  val CommitVerbs = Set("table.upsertBatch", "table.deleteWhereVectors",
    "table.compactSnapshot")

  final case class Rec(id: Long, score: Long, cents: Long, tag: String)

  def tagFor(score: Long): String =
    if (score < RareScores) RareTag else s"t${(score * 2654435761L >>> 7) % 24}"

  /** Seed row `id`. Scores are distinct: id -> id * 1000003 + c is a
    * bijection modulo ScoreSpace (2^8 * 5^5 * k with 1000003 coprime to
    * it), so ids 1..SeedRows land on distinct points of [0, ScoreSpace).
    */
  def seedRec(seed: Long, id: Long): Rec = {
    val score = Math.floorMod(id * 1000003L + seed * 7777L, ScoreSpace)
    Rec(id, score, Math.floorMod(id * 2862933555777941757L + seed, 1000000L),
      tagFor(score))
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()
}
