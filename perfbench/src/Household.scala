package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.operators.{FeatureQuery, Processor}
import graft.pipeline.HouseholdPipeline
import graft.sources.{Extractor, Loader}

/** The paper's batch job, CSVs in to one household-feature CSV out, timed
  * through its CLI entry `HouseholdPipeline.run`, one pass after another.
  * After each pass, a few point lookups read the output back the way a
  * consumer of the feature file would.
  */
final class Household(ctx: Ctx, shape: Gen.Shape) extends Workload {

  val LookupsPerPass = 8
  val WarmupPasses = 3

  private var in: Gen.HhInputs = _
  private var passes = 0
  private val rnd = new java.util.SplittableRandom(ctx.seed)

  private val outSchema = StructType(
    Seq(StructField("hhid", LongType), StructField("num_inds", IntegerType)) ++
    Seq("children_ind", "hh_income_ind", "age_ind", "home_value_ind",
      "state").map(StructField(_, StringType)) ++
    Seq(StructField("total_amount_before_campaign", DoubleType),
      StructField("total_amount_during_campaign", DoubleType),
      StructField("total_transactions", LongType)))

  def prepare(): Unit = {
    val t0 = System.nanoTime
    in = Gen.generate(shape, ctx.seed, ctx.dir("in"))
    println(f"perfbench: generated ${shape.name}: ${in.inputRows} input rows, " +
      f"${in.inputBytes / 1e6}%.1f MB, ${in.expected.length} expected output rows " +
      f"in ${(System.nanoTime - t0) / 1e9}%.1f s")
  }

  private def nextOut(): String = {
    passes += 1
    s"${ctx.dir("out")}/pass-$passes.csv"
  }

  /** One timed pass plus its untimed check; returns (seconds, out path). */
  private def pass(label: String): Option[(Double, String)] = {
    val out = nextOut()
    val r = ctx.timed(label) {
      HouseholdPipeline.run(ctx.spark, in.dem, in.hhInd, in.trans, out)
    }
    // a batch process exits after its pass; drop the persisted join so the
    // next pass recomputes it, as the next spark-submit would
    ctx.spark.catalog.clearCache()
    r.map { case (ok, s) =>
      ctx.verify(label)(
        if (!ok) Some("run returned false") else Gen.checkOutput(out, in.expected))
      (s, out)
    }
  }

  /** Point lookup of one household's features in an output file. */
  private def lookup(out: String): Option[Double] = {
    val e = in.expected(rnd.nextInt(in.expected.length))
    ctx.timed("lookup") {
      Extractor.readCsv(ctx.spark, out, outSchema)
        .filter(col("hhid") === e.hhid).collect()
    }.map { case (rows, s) =>
      ctx.verify("lookup")(rows match {
        case Array(r) =>
          val line = (0 until 10).map(i => r.get(i) match {
            case d: java.lang.Double => BigDecimal(d.doubleValue).setScale(2,
              BigDecimal.RoundingMode.HALF_EVEN).toString
            case v => String.valueOf(v)
          }).mkString(",")
          if (Gen.checkRow(e, line)) None else Some(s"got '$line' for $e")
        case other => Some(s"${other.length} rows for hhid ${e.hhid}")
      })
      s
    }
  }

  def setUp(): Unit =
    pass("cold pass").foreach { case (_, out) =>
      Files.deleteIfExists(Paths.get(out))
    }

  def measure(): Seq[(String, (Double, String))] = {
    // untimed warm-up: pass and lookup times still fall for a few passes
    // and some dozens of lookups after set-up while the JIT compiles the hot
    // paths
    for (_ <- 1 to WarmupPasses) pass("warm-up pass").foreach { case (_, out) =>
      for (_ <- 1 to LookupsPerPass) lookup(out)
      Files.deleteIfExists(Paths.get(out))
    }
    val passS = ArrayBuffer[Double]()
    val lookupS = ArrayBuffer[Double]()
    var outBytes = Double.NaN
    val deadline = System.nanoTime + ctx.seconds * 1000000000L
    while ((System.nanoTime < deadline || passS.length < 3) && ctx.failed <= 3) {
      pass("pass").foreach { case (s, out) =>
        passS += s
        outBytes = new java.io.File(out).length().toDouble
        for (_ <- 1 to LookupsPerPass) lookup(out).foreach(lookupS += _)
        Files.deleteIfExists(Paths.get(out))
      }
    }
    if (passS.isEmpty) return Nil
    val p50 = Stats.median(passS.toSeq)
    println(s"perfbench: ${passS.length} warm passes (s): " +
      passS.map(x => f"$x%.3f").mkString(" ") + s"; ${lookupS.length} lookups (ms): " + lookupS.map(x => f"${x * 1000}%.0f").mkString(" "))
    Seq(
      "rows_per_s" -> (in.inputRows / p50, "1/s"),
      "commit_s_p50" -> (p50, "s"),
      "lookup_s_p50" -> (Stats.median(lookupS.toSeq), "s"),
      "lookup_s_p90" -> (Stats.quantile(lookupS.toSeq, 0.9), "s"),
      "bytes_per_row" -> (outBytes / in.expected.length, "B"))
  }

  /** `HouseholdPipeline.run`'s body, call for call with the same
    * arguments, each call in its own span.
    */
  private def tracedPass(tr: Tracer, out: String): Boolean = {
    import HouseholdPipeline._
    val spark = ctx.spark
    tr.span("pipeline.pass") {
      val dem = tr.span("extractor.readCsv")(
        Extractor.readCsv(spark, in.dem, demographicsSchema))
      val hh = tr.span("extractor.readCsv")(
        Extractor.readCsv(spark, in.hhInd, hhIndSchema))
      val trans = tr.span("extractor.readCsv")(
        Extractor.readCsv(spark, in.trans, transactionsSchema))
      val start = tr.span("transform.parseTimestampLiteral")(
        Processor.parseTimestampLiteral(CampaignStart))
      val end = tr.span("transform.parseTimestampLiteral")(
        Processor.parseTimestampLiteral(CampaignEnd))
      val feats = tr.span("transform.householdFeatures")(
        FeatureQuery.householdFeatures(dem, hh, trans, "individual_id", "hhid",
          "date", "transaction_amount", start, end))
      tr.span("loader.writeCsvSingle")(Loader.writeCsvSingle(feats, out))
    }
  }

  private def cachedBytes(): Double =
    ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  /** The per-layer run: two rounds, the second on freshly regenerated
    * inputs, each alternating untraced and traced passes (the listener is
    * installed for the traced ones only), then one traced `runFused` pass.
    * Every traced output must equal the untraced one byte for byte.
    */
  def traced(): Seq[(String, (Double, String))] = {
    ctx.newSession()
    val spark = ctx.spark
    setUp()
    val tr = new Tracer
    val col = new Collector
    val untraced = ArrayBuffer[Double]()
    val cache = ArrayBuffer[Double]()
    val hashes = ArrayBuffer[String]()
    for (round <- 1 to 2) {
      if (round == 2) in = Gen.generate(shape, ctx.seed, ctx.dir("in-again"))
      hashes += in.hash
      for (i <- 1 to 2) {
        // alternate which of the pair runs first, so that warm-up drift
        // does not bias the tracing overhead
        val out = nextOut()
        def tracedRun() = {
          col.install(spark)
          val r = try ctx.timed("traced pass")(tracedPass(tr, out))
                  finally col.uninstall(spark)
          cache += cachedBytes()
          spark.catalog.clearCache()
          r
        }
        val first = if ((round + i) % 2 == 0) Some(tracedRun()) else None
        val reference = pass("untraced pass").map { case (s, ref) =>
          untraced += s * 1000
          ref
        }
        first.getOrElse(tracedRun()).foreach { case (ok, _) =>
          ctx.verify("traced pass")(
            if (!ok) Some("writeCsvSingle returned false")
            else if (!reference.exists(ref =>
                Files.mismatch(Paths.get(out), Paths.get(ref)) == -1L))
              Some("traced output differs from the untraced output")
            else None)
        }
        Files.deleteIfExists(Paths.get(out))
        reference.foreach(ref => Files.deleteIfExists(Paths.get(ref)))
      }
    }
    col.install(spark)
    val fusedOut = nextOut()
    ctx.timed("fused pass")(tr.span("pipeline.runFused")(
      HouseholdPipeline.runFused(spark, in.dem, in.hhInd, in.trans, fusedOut)))
      .foreach { case (ok, _) =>
        spark.catalog.clearCache()
        ctx.verify("fused pass")(
          if (!ok) Some("runFused returned false") else Gen.checkOutput(fusedOut, in.expected))
      }
    col.uninstall(spark)

    val passes = tr.roots.filter(_.name == "pipeline.pass")
    val fused = tr.roots.filter(_.name == "pipeline.runFused")
    def kids(p: Span, layer: String) = tr.children(p).filter(_.layer == layer)
    def csvSpan(p: Span) = tr.children(p).find(_.name == "loader.writeCsvSingle").get
    // stages by what they do: reading files -> extractor; writing the
    // output -> loader.csv; the rest (shuffles) -> transform
    def stages(p: Span, layer: String) = col.stagesIn(p).filter { st =>
      val l = if (st.scansFiles) "extractor" else if (st.outBytes > 0) "loader" else "transform"
      l == layer
    }
    def per(f: Span => Double): Double = Stats.mean(passes.map(f))
    val exchanges = (p: Span) => col.queriesIn(p).map(_.exchanges).sum
    val bytesRead = (p: Span) => stages(p, "extractor").map(_.inBytes).sum
    val values = Layers.sparkPerOp(tr, col, passes) ++ Map(
      "pipeline.pass_ms" -> per(_.durMs),
      "pipeline.self_ms" -> per(tr.selfMs),
      "pipeline.fused_ms" -> Stats.mean(fused.map(_.durMs)),
      "pipeline.fused_jobs" -> Stats.mean(fused.map(col.jobsIn(_).length.toDouble)),
      "pipeline.fused_exchanges" -> Stats.mean(fused.map(exchanges(_).toDouble)),
      "extractor.call_ms" -> per(kids(_, "extractor").map(_.durMs).sum),
      "extractor.self_ms" -> per(kids(_, "extractor").map(tr.selfMs).sum),
      "extractor.bytes_read" -> per(bytesRead(_).toDouble),
      "extractor.scan_task_ms" -> per(stages(_, "extractor").map(_.runMs).sum),
      "extractor.read_amp" -> per(bytesRead(_).toDouble / in.inputBytes),
      "transform.call_ms" -> per(kids(_, "transform").map(_.durMs).sum),
      "transform.self_ms" -> per(kids(_, "transform").map(tr.selfMs).sum),
      "transform.exchanges" -> per(exchanges(_).toDouble),
      "transform.shuffle_bytes" -> per(col.stagesIn(_).map(_.shuffleBytes).sum),
      "transform.spill_bytes" -> per(col.stagesIn(_).map(_.spillBytes).sum),
      "transform.task_ms" -> per(stages(_, "transform").map(_.runMs).sum),
      "transform.cache_bytes" -> Stats.mean(cache.toSeq),
      "loader.csv_ms" -> per(csvSpan(_).durMs),
      "loader.csv_self_ms" -> per(p => tr.selfMs(csvSpan(p))),
      "loader.csv_jobs" -> per(p => col.jobsIn(csvSpan(p)).length),
      "loader.csv_write_task_ms" -> per(stages(_, "loader").map(_.runMs).sum),
      "loader.csv_bytes" -> per(stages(_, "loader").map(_.outBytes).sum),
      "loader.csv_finalize_ms" -> per { p =>
        val s = csvSpan(p)
        s.endMs - col.jobsIn(s).map(_.endMs).maxOption.getOrElse(s.startMs).toDouble
      },
      "trace.overhead_ms" -> (per(_.durMs) - Stats.mean(untraced.toSeq)))
    // deterministic counters, per traced pass: round 1 against round 2
    val counters = passes.map(p => Seq(
      "spark.jobs" -> col.jobsIn(p).length,
      "transform.exchanges" -> exchanges(p),
      "loader.csv_jobs" -> col.jobsIn(csvSpan(p)).length,
      "extractor.bytes_read" -> bytesRead(p)))
    Layers.sameCounters(ctx, counters.take(2).flatten :+ ("input hash" -> hashes(0)),
      counters.drop(2).flatten :+ ("input hash" -> hashes(1)))
    tr.write(ctx.traceFile, Seq("env" -> ctx.env))
    Layers.report(values)
  }
}
