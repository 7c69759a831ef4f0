package graft

import org.apache.spark.sql.functions._
import graft.operators.{StatsPlanner, TableStats, ColStats}
import graft.plans.StatsRegistry

/** Contract for the stats→planner loop: the ANALYZE manifest parses
  * back exactly, the decision functions are the pure replayable
  * arithmetic the q212/q213 oracles encode, and the injected
  * [[graft.plans.StatsBroadcastRule]] flips an UNMODIFIED join to a
  * broadcast when (and only when) the registry says a side is small —
  * with answer identity under both strategies.
  */
class StatsPlannerSpec extends SparkSpec {

  test("analyze → tableStats round-trips exact counts and bounded NDV") {
    val sup = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey"))
    val st = StatsPlanner.analyzeStats(sup, Seq("s_suppkey"))
    assert(st.rows == sup.count())
    val cs = st.cols("s_suppkey")
    assert(cs.nNulls == 0L)
    val exact = sup.select(countDistinct("s_suppkey")).head.getLong(0)
    if (cs.kUsed < 256L) assert(cs.ndvEst == exact)
    else assert(math.abs(cs.ndvEst - exact).toDouble / exact < 0.32)
    assert(cs.minRepr ==
      sup.agg(min("s_suppkey")).head.getLong(0).toString)
    // bytes estimate: rows × (BIGINT 8 + INTEGER 4)
    assert(st.estimatedBytes(sup.schema) == st.rows * 12)
  }

  test("the driver-side KMV estimate equals the SQL ndvEstimate") {
    val rnd = new scala.util.Random(11)
    def sketch(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextLong()).distinct
      .sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
    val cases = (for (k <- Seq(2, 16, 256); n <- Seq(0, 1, k - 1, k))
      yield k -> sketch(n)) ++ Seq(
        3 -> Seq(1L << 40, 1L << 50, Long.MinValue + 5L), // k-th reads unsigned
        3 -> Seq(1L << 40, 1L << 50, 1L << 60))
    cases.foreach { case (k, sk) =>
      val sql = spark.range(1).select(typedLit(sk).as("sk"))
        .select(expr(graft.Queries83.ndvEstimate("sk", k))).head().getLong(0)
      assert(graft.functions.Kmv.ndvEstimate(sk, k) === sql, s"k=$k $sk")
    }
  }

  test("decideBroadcast is the q212 oracle's arithmetic") {
    assert(StatsPlanner.decideBroadcast(1000, 10, 100) == "broadcast_right")
    assert(StatsPlanner.decideBroadcast(10, 1000, 100) == "broadcast_left")
    assert(StatsPlanner.decideBroadcast(500, 600, 100) == "defer_runtime")
    // ties build right, matching Spark's BuildRight preference
    assert(StatsPlanner.decideBroadcast(50, 50, 100) == "broadcast_right")
    // a side over threshold never broadcasts even if smaller
    assert(StatsPlanner.decideBroadcast(200, 150, 100) == "defer_runtime")
  }

  test("orderDims is greedy Selinger: ascending reduction factor, " +
       "name tiebreak") {
    // factors: a = 100/1000 = 0.1, b = 500/1000 = 0.5 → a first
    val fact = TableStats(1000000,
      Map("ka" -> ColStats(0, "", "", 0, 1000L),
          "kb" -> ColStats(0, "", "", 0, 1000L)))
    val a = StatsPlanner.Dim("a", Tables.nation(spark, sf), "ka", "k",
      TableStats(100, Map("k" -> ColStats(0, "", "", 0, 100L))))
    val b = StatsPlanner.Dim("b", Tables.nation(spark, sf), "kb", "k",
      TableStats(500, Map("k" -> ColStats(0, "", "", 0, 500L))))
    assert(StatsPlanner.orderDims(fact, Seq(b, a)).map(_.name) ==
      Seq("a", "b"))
    // equal factors → alphabetical
    val b2 = b.copy(stats = a.stats, name = "z")
    assert(StatsPlanner.orderDims(fact, Seq(b2, a)).map(_.name) ==
      Seq("a", "z"))
  }

  test("q213's fold order matches exact-arithmetic recomputation") {
    // the filtered-part join must order before the filtered-supplier
    // join: 206/2000 < 55/100 at every fixture scale (construction)
    val li = Tables.lineitem(spark, sf)
    val rowsP = Tables.part(spark, sf).filter(col("p_size") <= 5).count()
    val rowsS = Tables.supplier(spark, sf)
      .filter(col("s_nationkey") < 13).count()
    val ndvLp = li.select(countDistinct("l_partkey")).head.getLong(0)
    val ndvLs = li.select(countDistinct("l_suppkey")).head.getLong(0)
    // filtered dim keys are unique → ndv(dim) = rows(dim)
    val fP = rowsP.toDouble / math.max(ndvLp, rowsP)
    val fS = rowsS.toDouble / math.max(ndvLs, rowsS)
    assert(fP < fS, s"fixture drifted: $fP !< $fS")
    val order = SparkEntry.queries("q213_stats_join_order")(spark, sf)
      .select("join_order").head.getString(0)
    assert(order == "part,supplier")
  }

  test("SideEst rational arithmetic: selectivity discounts compare exactly") {
    import StatsPlanner.SideEst
    // 1000 rows × 10 B = 10000 B raw; /ndv 100 → 100 B effective
    val filtered = SideEst(BigInt(1000), 10L, selDen = BigInt(100))
    assert(!SideEst(BigInt(1000), 10L).fitsUnder(5000))
    assert(filtered.fitsUnder(5000))
    assert(filtered.lte(SideEst(BigInt(20), 10L))) // 100 ≤ 200
    assert(!SideEst(BigInt(20), 10L).lte(filtered))
    // decideBroadcastEst: only the filtered side fits → broadcast it
    assert(StatsPlanner.decideBroadcastEst(
      filtered, SideEst(BigInt(1000), 10L), 5000) == "broadcast_left")
    assert(StatsPlanner.decideBroadcastEst(
      SideEst(BigInt(1000), 10L), filtered, 5000) == "broadcast_right")
  }

  test("predSelectivity: interval arithmetic on exact manifest min/max") {
    val st = TableStats(1000, Map("k" ->
      ColStats(0, "1", "2000", 256, 2000L)))
    // 99 of 2000 integers satisfy k < 100
    assert(StatsPlanner.predSelectivity(st, "k", "<", 100) ==
      (BigInt(99), BigInt(2000)))
    assert(StatsPlanner.predSelectivity(st, "k", "<=", 100) ==
      (BigInt(100), BigInt(2000)))
    assert(StatsPlanner.predSelectivity(st, "k", ">", 1900) ==
      (BigInt(100), BigInt(2000)))
    assert(StatsPlanner.predSelectivity(st, "k", ">=", 1900) ==
      (BigInt(101), BigInt(2000)))
    // out-of-range predicates clamp to empty / full
    assert(StatsPlanner.predSelectivity(st, "k", "<", -5) ==
      (BigInt(0), BigInt(2000)))
    assert(StatsPlanner.predSelectivity(st, "k", "<", 99999) ==
      (BigInt(2000), BigInt(2000)))
    // equality = 1/ndv; unknown column / non-integer repr → (1, 1)
    assert(StatsPlanner.predSelectivity(st, "k", "=", 7) ==
      (BigInt(1), BigInt(2000)))
    assert(StatsPlanner.predSelectivity(st, "zz", "<", 7) ==
      (BigInt(1), BigInt(1)))
    val strSt = TableStats(10, Map("s" -> ColStats(0, "a", "z", 5, 5)))
    assert(StatsPlanner.predSelectivity(strSt, "s", "<", 7) ==
      (BigInt(1), BigInt(1)))
  }

  test("registry rule applies RANGE selectivity from manifest min/max") {
    val liPath = s"$sf/lineitem.parquet"
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevGraft = spark.conf.getOption(
      graft.plans.StatsBroadcastRule.ThresholdConf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, "65536")
      def q() = spark.read.parquet(liPath)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .filter(col("l_partkey") < 20) // ~19/200 of the key range
        .join(Tables.orders(spark, sf)
                .select(col("o_orderkey"), col("o_orderstatus")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      StatsRegistry.clear()
      assert(!q().queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      StatsRegistry.register(liPath, StatsPlanner.analyzeStats(
        spark.read.parquet(liPath)
          .select(col("l_orderkey"), col("l_partkey")),
        Seq("l_orderkey", "l_partkey")))
      // raw 6000×24 = 144 kB fails 64 KiB; ×19/200 ≈ 13.7 kB passes —
      // only the interval arithmetic finds this broadcast
      val p = q().queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p.take(1200))
    } finally {
      StatsRegistry.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      prevGraft match {
        case Some(v) =>
          spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, v)
        case None =>
          spark.conf.unset(graft.plans.StatsBroadcastRule.ThresholdConf)
      }
    }
  }

  test("registry rule applies equality selectivity: a FILTERED big side flips") {
    val liPath = s"$sf/lineitem.parquet"
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevGraft = spark.conf.getOption(
      graft.plans.StatsBroadcastRule.ThresholdConf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, "65536")
      def q() = spark.read.parquet(liPath)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .filter(col("l_partkey") === 10)
        .join(Tables.orders(spark, sf)
                .select(col("o_orderkey"), col("o_orderstatus")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      StatsRegistry.clear()
      val before = q()
      assert(!before.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val beforeRows = before.collect().map(_.toSeq).sortBy(_.toString)

      // raw lineitem (6000 rows × 24 B = 144 kB) fails the 64 KiB
      // threshold; the l_partkey=10 equality (ndv 200) discounts it to
      // ~720 B — only the selectivity arithmetic finds this broadcast
      StatsRegistry.register(liPath, StatsPlanner.analyzeStats(
        spark.read.parquet(liPath)
          .select(col("l_orderkey"), col("l_partkey")),
        Seq("l_orderkey", "l_partkey")))
      val after = q()
      assert(after.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        after.queryExecution.executedPlan.toString.take(1200))
      assert(after.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
        beforeRows.toSeq)
    } finally {
      StatsRegistry.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      prevGraft match {
        case Some(v) =>
          spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, v)
        case None =>
          spark.conf.unset(graft.plans.StatsBroadcastRule.ThresholdConf)
      }
    }
  }

  test("registry rule applies STRING-equality selectivity: " +
       "flag = 'R' discounts by 1/ndv and flips the broadcast") {
    val liPath = s"$sf/lineitem.parquet"
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevGraft = spark.conf.getOption(
      graft.plans.StatsBroadcastRule.ThresholdConf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, "65536")
      def q() = spark.read.parquet(liPath)
        .select(col("l_orderkey"), col("l_returnflag"))
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(spark, sf)
                .select(col("o_orderkey"), col("o_orderstatus")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      StatsRegistry.clear()
      val before = q()
      assert(!before.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val beforeRows = before.collect().map(_.toSeq).sortBy(_.toString)
      // raw 6000 × 28 B = 168 kB fails 64 KiB; the string equality on
      // l_returnflag (KMV ndv 3, exact below k) discounts to 56 kB —
      // only the string-predicate pricing finds this broadcast
      StatsRegistry.register(liPath, StatsPlanner.analyzeStats(
        spark.read.parquet(liPath)
          .select(col("l_orderkey"), col("l_returnflag")),
        Seq("l_orderkey", "l_returnflag")))
      val after = q()
      assert(after.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        after.queryExecution.executedPlan.toString.take(1200))
      assert(after.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
        beforeRows.toSeq)
    } finally {
      StatsRegistry.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      prevGraft match {
        case Some(v) =>
          spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, v)
        case None =>
          spark.conf.unset(graft.plans.StatsBroadcastRule.ThresholdConf)
      }
    }
  }

  test("registry rule prices ranges by HISTOGRAM mass: a Zipf column " +
       "flips only when the registered stats carry the histogram") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-histsel").toString
    val path = s"$base/zipf"
    // half the INTERVAL holds ~0.2% of the ROWS
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"),
        expr("1000000L div (1L + l_orderkey % 1000L)").as("v"))
      .write.mode("overwrite").parquet(path)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevGraft = spark.conf.getOption(
      graft.plans.StatsBroadcastRule.ThresholdConf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, "4096")
      def q() = spark.read.parquet(path)
        .filter(col("v") >= 500001L)
        .join(Tables.orders(spark, sf)
                .select(col("o_orderkey"), col("o_orderstatus")),
              col("k") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val df = spark.read.parquet(path)
      val flat = StatsPlanner.analyzeStats(df, Seq("k", "v"))
      // uniform interval pricing says ~50% of 96 kB — fails 4 KiB
      StatsRegistry.clear()
      StatsRegistry.register(path, flat)
      val before = q()
      assert(!before.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val beforeRows = before.collect().map(_.toSeq).sortBy(_.toString)
      // measured bucket mass says ~0.15% — fits with room to spare
      StatsRegistry.register(path,
        StatsPlanner.withHistogram(flat, df, "v", 128))
      val after = q()
      assert(after.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        after.queryExecution.executedPlan.toString.take(1200))
      assert(after.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
        beforeRows.toSeq)
      // persistence round-trip: the hist manifest reloads onto parsed
      // stats and prices identically
      val hm = StatsPlanner.histManifest(df, Seq("v" -> "v"), 128)
      hm.write.mode("overwrite").parquet(s"$base/hist")
      val reloaded = StatsPlanner.tableStatsWithHists(
        flat, spark.read.parquet(s"$base/hist"))
      assert(StatsPlanner.predSelectivity(reloaded, "v", ">=", 500001L) ==
        StatsPlanner.predSelectivity(
          StatsPlanner.withHistogram(flat, df, "v", 128),
          "v", ">=", 500001L))
    } finally {
      StatsRegistry.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      prevGraft match {
        case Some(v) =>
          spark.conf.set(graft.plans.StatsBroadcastRule.ThresholdConf, v)
        case None =>
          spark.conf.unset(graft.plans.StatsBroadcastRule.ThresholdConf)
      }
    }
  }

  test("catalog table: spark.table(...) flips to broadcast via the " +
       "table-name registration, zero graft calls in the query") {
    val tbl = "graft_scat_sup"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
      .write.mode("overwrite").saveAsTable(tbl)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def q() = Tables.lineitem(spark, sf)
        .select(col("l_suppkey"), col("l_quantity"))
        .join(spark.table(tbl), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
      StatsRegistry.clear()
      val before = q()
      assert(!before.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val beforeRows = before.collect().map(_.toSeq).sortBy(_.toString)
      StatsRegistry.registerTable(spark, tbl,
        StatsPlanner.analyzeStats(spark.table(tbl), Seq("s_suppkey")))
      val after = q()
      assert(after.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        after.queryExecution.executedPlan.toString.take(1200))
      assert(after.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
        beforeRows.toSeq)
    } finally {
      StatsRegistry.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      ()
    }
  }

  test("q214 zone-map skip: the scan touches only surviving files, " +
       "decision replayed") {
    val df = SparkEntry.queries("q214_stats_file_skip")(spark, sf)
    val row = df.head()
    // predicate [1997-03-01, 1997-09-01) intersects exactly the 1997
    // zone of the 7 year-files (fixture: shipdates span 1995-2001)
    assert(row.getAs[Long]("n_files_kept") == 1L)
    assert(row.getAs[Long]("n_files_total") == 7L)
    // the pruning must be visible in the PHYSICAL read set, not just
    // the counters: every input file of the plan is a 1997 zone file
    val files = df.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("y=1997")),
      files.take(3).mkString(","))
  }

  test("registry rule flips the SAME unmodified join to broadcast; " +
       "answers identical under both strategies") {
    val supPath = s"$sf/supplier.parquet"
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // disable Spark's own size-based broadcast so the ONLY way this
      // join can become a BroadcastHashJoin is our stats decision
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def q() = Tables.lineitem(spark, sf)
        .select(col("l_suppkey"), col("l_quantity"))
        .join(spark.read.parquet(supPath)
                .select(col("s_suppkey"), col("s_nationkey")),
              col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"))
      StatsRegistry.clear()
      val before = q()
      val pBefore = before.queryExecution.executedPlan.toString
      assert(pBefore.contains("SortMergeJoin") &&
        !pBefore.contains("BroadcastHashJoin"), pBefore.take(1200))
      val beforeRows = before.collect().map(_.toSeq).sortBy(_.toString)

      // register the ANALYZE manifest for supplier: 100 rows × 12 B —
      // far under the 10 MiB default threshold → broadcast
      val manifest = StatsPlanner.analyze(
        spark.read.parquet(supPath)
          .select(col("s_suppkey"), col("s_nationkey")),
        Seq("s_suppkey"))
      StatsRegistry.register(supPath, StatsPlanner.tableStats(manifest))
      val after = q()
      val pAfter = after.queryExecution.executedPlan.toString
      assert(pAfter.contains("BroadcastHashJoin"), pAfter.take(1200))
      val afterRows = after.collect().map(_.toSeq).sortBy(_.toString)
      assert(afterRows.toSeq == beforeRows.toSeq)

      // a registered-but-LARGE side must not flip (threshold respected)
      StatsRegistry.clear()
      StatsRegistry.register(supPath,
        TableStats(100000000L, Map.empty)) // 100M rows × 12 B >> 10 MiB
      val big = q().queryExecution.executedPlan.toString
      assert(!big.contains("BroadcastHashJoin"), big.take(1200))
    } finally {
      StatsRegistry.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
