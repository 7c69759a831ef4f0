package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-12 queries: the maintained snapshot sink grows the two
  * multi-writer/lifecycle contracts a shared 100-TB table cannot live
  * without, each closed end-to-end with a first-principles oracle.
  *
  * q240 — OPTIMISTIC CONCURRENCY: two writers race on one baseDir.
  * Every commit stages privately under `_attempt/<uuid>` and publishes
  * with ONE atomic no-overwrite rename onto its version slot
  * ([[graft.sources.Loader]]): the winner's version survives intact,
  * the loser fails TYPED ([[graft.sources.ConcurrentCommitException]])
  * with its staged data discarded, and the standard OCC recovery —
  * re-read the latest snapshot, recompute, retry — lands on the next
  * slot. The race is forced deterministically through the commit-window
  * seam (`Loader.testRaceHook`); the oracle replays the final state
  * from first principles, so the hash match proves the lost attempt
  * leaked NOTHING (no rows, no slot) and both writers' intents landed
  * exactly once.
  *
  * q243 — TIME-TRAVEL RETENTION: a version can survive vacuum (the
  * CURRENT manifest still points into it) while an OLDER version it
  * references did not — an AS-OF read of it must fail loudly, not
  * return silently-partial data.
  * [[graft.sources.Loader.snapshotVersionsDetailed]] surfaces the
  * retention verdict per committed version without paying a failed
  * read, and [[graft.sources.Loader.readSnapshot]] throws the typed
  * [[graft.sources.VacuumedVersionException]] on both reclaimed shapes
  * (manifest gone; manifest alive but a referenced bucket dir gone).
  * The fixture engineers the partial-survivor chain on a 2-bucket
  * layout: v0 seeds both buckets, v1 rewrites only bucket 0, v2 only
  * bucket 1 — vacuum reclaims v0, leaving v1 listed-but-unreadable and
  * v2 current. The oracle replays the FNV bucket split and both bumps.
  *
  * Oracle-parity conventions follow [[Queries]]' scaladoc.
  */
object Queries98 {
  import Queries.Q

  private val qtyCents =
    "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)"
  private val NRes = 3      // q241 residue files
  private val DictCap = 64  // q241: provably past the dictionary cap

  private def bucketCol(n: Int) =
    pmod(functions.Expressions.fnv_hash(col("user_id").cast("string")),
      lit(n.toLong))

  /** Seed a fresh one-commit snapshot sink from the latest-per-key
    * events state (the oracle's QUALIFY convention): one arrival file,
    * one stream batch, v0 = the whole state. `mkMaintain` sees the
    * user count so size-derived knobs (roll bounds, Bloom bits) can be
    * computed before the sink is built. Returns (baseDir, v0 dir).
    */
  // Seeded-sink MASTERS, built once per (process, tag, sfDir) and
  // hardlink-cloned per call (Queries95.copyTree): the seed window +
  // stream startup is ~3-6 s of pure fixture wall that a bench rep
  // must not re-pay — the rep should time the OPERATOR (commit,
  // vacuum, probe), not the fixture (VERDICT r12 task 2). The clone
  // keeps per-call isolation for the mutating consumers.
  private val seededMasters = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, Option[sources.Loader.Maintain])]()

  private[graft] def seedSnapshotSink(
      s: org.apache.spark.sql.SparkSession, d: String, tag: String,
      nBuckets: Int,
      mkMaintain: Long => Option[sources.Loader.Maintain],
      centsType: String = "long"): (String, String) = {
    val (mbase, mv0, mt) = seededMasters.computeIfAbsent(s"$tag|$d",
      _ => buildSeedSink(s, d, s"${tag}_master", nBuckets, mkMaintain,
        centsType))
    val work = Scratch.fresh(tag, d)
    val dst = java.nio.file.Paths.get(work, "sink")
    Queries95.copyTree(java.nio.file.Paths.get(mbase), dst)
    val nv0 = dst.resolve(
      java.nio.file.Paths.get(mv0).getFileName.toString).toString
    mt.foreach(m => sources.Loader.registerSnapshot(s, nv0, m))
    (dst.toString, nv0)
  }

  private def buildSeedSink(
      s: org.apache.spark.sql.SparkSession, d: String, tag: String,
      nBuckets: Int,
      mkMaintain: Long => Option[sources.Loader.Maintain],
      centsType: String)
      : (String, String, Option[sources.Loader.Maintain]) = {
    val work = Scratch.fresh(tag, d)
    val raw = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("cents").cast(centsType).as("cents"))
      .coalesce(1).write.mode("overwrite").parquet(s"$work/seed")
    val seed = s.read.parquet(s"$work/seed")
    val maintain = mkMaintain(seed.count())
    val (q, handle) = sources.Loader.streamUpsertSink(
      s.readStream.schema(seed.schema).parquet(s"$work/seed"),
      s"$work/sink", key = "user_id", orderCols = Seq("user_id"),
      checkpointDir = Some(s"$work/ckpt"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = nBuckets,
      maintain = maintain)
    q.awaitTermination()
    (s"$work/sink", handle.currentDir.get, maintain)
  }

  private val q241Fixture = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long)]()

  /** Build + premise-check + register q241's flat residue layout: three
    * parquet files whose l_orderkey residues interleave so every file's
    * [min, max] straddles the mid-domain probe (ranges prune nothing)
    * and per-file NDV exceeds the dictionary cap (dictionaries are
    * absent) — ONLY the per-file Blooms can prune the point lookup.
    * Built and registered ONCE per (process, sfDir): it is read-only,
    * so consumers share it. Returns (layout dir, probe key).
    */
  private def buildQ241Fixture(
      s: org.apache.spark.sql.SparkSession, d: String): (String, Long) = {
    val work = Scratch.fresh("q241_bloom", d)
    val layout = s"$work/table"; val stage = s"$work/stage"
    val meta = s"$work/meta"; val blooms = s"$work/blooms"
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"),
        expr(qtyCents).as("qty_cents"))
      .withColumn("fid", pmod(col("l_orderkey"), lit(NRes)))
      .repartition(col("fid"))
      .write.mode("overwrite").partitionBy("fid").parquet(stage)
    new java.io.File(layout).mkdirs()
    for (r <- 0 until NRes) {
      val parts = new java.io.File(s"$stage/fid=$r").listFiles()
        .filter(f => f.getName.startsWith("part-") &&
                     f.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"q241: expected one file for residue $r, got ${parts.length}")
      java.nio.file.Files.move(parts(0).toPath,
        java.nio.file.Paths.get(s"$layout/r$r.parquet"))
    }
    val flat = s.read.parquet(layout)
    // premise 1: PAST the dictionary cap — no file earns a dictionary
    require(graft.plans.Zones.analyzeDictFiles(flat,
        Seq("l_orderkey"), DictCap).isEmpty,
      "q241: some file's NDV fit the dictionary cap — the fixture " +
      "no longer isolates the Bloom path")
    // Bloom sized to the data: 32 bits per distinct value of the
    // largest file (~1e-4 per-file FP at 5 hashes), scale-adaptive
    val maxNdv = flat
      .groupBy(pmod(col("l_orderkey"), lit(NRes)))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    val mBits = math.min((32L * maxNdv + 63) / 64 * 64, 1L << 26).toInt
    graft.plans.Zones.writeMetadata(
      graft.plans.Zones.analyzeFiles(flat, Seq("l_orderkey")), meta)
    graft.plans.Zones.writeMetadata(
      graft.plans.Zones.analyzeBloomFiles(flat, Seq("l_orderkey"),
        mBits, 5), blooms)
    graft.plans.Zones.registerFromMetadataRoots(s, Seq(layout),
      Seq(meta), Nil, Seq(blooms))
    // mid-domain probe: the smallest key above the midpoint, so every
    // file's range straddles it
    val bounds = flat.agg(
      min(col("l_orderkey")).cast("long").as("mn"),
      max(col("l_orderkey")).cast("long").as("mx")).head()
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val probe = flat.filter(col("l_orderkey") > mid)
      .agg(min(col("l_orderkey")).cast("long")).head().getLong(0)
    // premise 2: every file's [min, max] RANGE contains the probe —
    // min/max zones alone would keep all three files
    val mm = s.read.parquet(meta)
      .select(col("min_repr").cast("long").as("mn"),
        col("max_repr").cast("long").as("mx")).collect()
    require(mm.length == NRes &&
      mm.forall(r => r.getLong(0) <= probe && probe <= r.getLong(1)),
      s"q241: ranges do not all straddle $probe — the fixture no " +
      "longer isolates Bloom pruning")
    (layout, probe)
  }

  val sparkQueries: Map[String, Q] = Map(
    "q240_concurrent_writers" -> ((s, d) => {
      val (vdir, _, maintain) =
        Queries95.mutableMaintainedSink(s, d, "q240_sink")
      val baseDir = new java.io.File(vdir).getParent
      def bump(src: DataFrame, m: Int, by: Long): DataFrame =
        src.filter(col("user_id") % m === 0)
          .select(col("user_id"), (col("cents") + by).as("cents"))
      // writer B (the winner) commits INSIDE writer A's commit window —
      // the deterministic seam sits exactly between A's manifest
      // staging and A's publish rename
      sources.Loader.testRaceHook = Some(() => {
        sources.Loader.upsertBatch(s, baseDir,
          bump(sources.Loader.readSnapshot(s, vdir), 7, 1000L),
          key = "user_id", orderCols = Seq("user_id"), Some(maintain))
        ()
      })
      val deltaA0 = bump(sources.Loader.readSnapshot(s, vdir), 5, 7L)
      // finally-reset: if A's upsert dies BEFORE its commit consumes
      // the hook (any error ahead of the publish rename), a stale hook
      // must not survive to fire inside an unrelated sink query's next
      // commit in this process
      val lost =
        try {
          sources.Loader.upsertBatch(s, baseDir, deltaA0,
            key = "user_id", orderCols = Seq("user_id"), Some(maintain))
          false
        } catch {
          case _: sources.ConcurrentCommitException => true
        } finally sources.Loader.testRaceHook = None
      require(lost,
        "q240: the injected race did not surface as a typed loss")
      // standard OCC recovery: re-read the (new) latest, recompute,
      // retry — B's bump is visible to A's recomputed delta
      val latestV = sources.Loader.snapshotVersions(s, baseDir)
        .map(_._1).max
      val ndir = sources.Loader.upsertBatch(s, baseDir,
        bump(sources.Loader.readSnapshot(s, s"$baseDir/v$latestV"),
          5, 7L),
        key = "user_id", orderCols = Seq("user_id"), Some(maintain))
      val nVersions = sources.Loader.snapshotVersions(s, baseDir).length
      val after = sources.Loader.readSnapshot(s, ndir)
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      cust.join(after, col("c_custkey") === col("user_id"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
             sum(col("cents")).as("cents_sum"))
        .withColumn("loser_typed", lit(if (lost) 1L else 0L))
        .withColumn("n_versions", lit(nVersions.toLong))
        .orderBy(col("c_mktsegment"))
    }),

    // q241 — BLOOM point-lookup skipping PAST the dictionary cap
    // (round-11's one real pruning hole, VERDICT task 5): the layout
    // interleaves l_orderkey residues across three files, so every
    // file's [min, max] straddles the mid-domain probe (range zones
    // prune nothing — pinned from the metadata table) and per-file NDV
    // provably exceeds the dictionary cap (analyzeDictFiles at the cap
    // is EMPTY — pinned). Only the per-file Bloom (32 bits/value, 5
    // seeded FNV probes) prunes the plain equality read — down to
    // exactly the ONE file whose residue class contains the probe,
    // which the query requires loudly (a false positive would surface
    // as kept > 1, never as a wrong answer).
    "q241_bloom_point_skip" -> ((s, d) => {
      // read-only residue layout: built + premise-checked ONCE per
      // (process, sfDir) — a bench rep must time the pruned point
      // probe, not the two lineitem staging passes (VERDICT r12
      // task 2). Registration happens in the builder; the registry
      // survives across calls in one session.
      val (layout, probe) = q241Fixture.computeIfAbsent(d,
        _ => buildQ241Fixture(s, d))
      val flat = s.read.parquet(layout)
      val res = flat.filter(col("l_orderkey") === probe)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty_cents")).as("qty_cents_sum"))
      val kept = res.queryExecution.optimizedPlan.collectLeaves()
        .collect { case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation => lr.relation }
        .collect { case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h.location.inputFiles.length }
        .sum.toLong
      require(kept == 1L,
        s"q241: Bloom pruning kept $kept of $NRes files (1 expected; " +
        ">1 = a false positive or a dead rule)")
      res.withColumn("n_files_kept", lit(kept))
        .withColumn("n_files_total", lit(NRes.toLong))
        .orderBy(col("l_returnflag"))
    }),

    // q242 — SCHEMA WIDENING through the batch writer (VERDICT task
    // 7): the stream era wrote `cents` as INT; a batch commit carries
    // values past the int ceiling as LONG. upsertEvolve widens the
    // column along the lossless int→long chain (narrow-era values cast
    // up exactly), the manifest records the widened type, and the
    // MULTI-ERA read resolves era-A's untouched int files and era-B's
    // long files under one long schema. Time travel across the
    // widening still reads the old version in its own era-A shape.
    "q242_sink_type_widening" -> ((s, d) => {
      // era A: latest-per-key, cents deliberately INT (values fit)
      val (base, v0) = seedSnapshotSink(s, d, "q242_widen", 4,
        _ => None, centsType = "int")
      val pre = sources.Loader.readSnapshot(s, v0)
      require(pre.schema("cents").dataType ==
        org.apache.spark.sql.types.IntegerType,
        "q242: the stream era did not land as int")
      // era B: every 5th user's cents bumped PAST the int ceiling —
      // only a widened column can hold it
      val delta = pre.filter(col("user_id") % 5 === 0)
        .select(col("user_id"),
          (col("cents").cast("long") + 5000000000L).as("cents"))
      val ndir = sources.Loader.upsertBatch(s, base, delta,
        key = "user_id", orderCols = Seq("user_id"))
      val after = sources.Loader.readSnapshot(s, ndir)
      require(after.schema("cents").dataType ==
        org.apache.spark.sql.types.LongType,
        "q242: the batch commit did not widen cents to long")
      // time travel ACROSS the widening: era A keeps its own shape
      require(sources.Loader.readSnapshot(s, v0).schema("cents")
        .dataType == org.apache.spark.sql.types.IntegerType,
        "q242: history changed type")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      cust.join(after, col("c_custkey") === col("user_id"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("cents_sum"),
          sum((col("cents") > 2147483647L).cast("long")).as("n_big"))
        .orderBy(col("c_mktsegment"))
    }),

    // e46 — the sink's BLOOM half closes the point-lookup path where
    // its dictionaries cannot go (e44's sibling, q241's sink-integrated
    // form): a high-NDV hash-bucketed key column carries no per-file
    // dictionary (past the cap by construction — none authored) and no
    // min/max zones on the key (bucket files all straddle), so a plain
    // `readSnapshot().filter(user_id = X)` can only be pruned by the
    // self-maintained per-file Blooms — down to exactly ONE file,
    // required loudly (a false positive surfaces as kept > 1, never as
    // a wrong answer). Bloom sized 64 bits/row at 5 probes (~2e-6
    // per-file FP).
    "e46_sink_bloom_lookup" -> ((s, d) => {
      val (base, v0) = seedSnapshotSink(s, d, "e46_sink", 4, nUsers => {
        val m = (nUsers + Queries95.TargetFiles - 1) /
          Queries95.TargetFiles
        val bits = math.min((64L * m + 63) / 64 * 64, 1L << 26).toInt
        Some(sources.Loader.Maintain(clusterBy = Some("cents"),
          maxRecordsPerFile = Some(m), bloomCols = Seq("user_id"),
          bloomBits = bits, bloomHashes = 5))
      })
      val snap = sources.Loader.readSnapshot(s, v0)
      val total = snap.inputFiles.length
      require(total > 1, s"e46: unfragmented fixture ($total files)")
      val probe = snap.agg(min(col("user_id"))).head().getLong(0)
      val res = sources.Loader.readSnapshot(s, v0)
        .filter(col("user_id") === probe)
        .select(col("user_id"), col("cents"))
      val kept = res.queryExecution.optimizedPlan.collectLeaves()
        .collect { case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation => lr.relation }
        .collect { case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h.location.inputFiles.length }
        .sum.toLong
      require(kept == 1L,
        s"e46: Bloom point lookup touched $kept of $total files")
      res.withColumn("n_files_kept", lit(kept))
        .withColumn("n_files_total", lit(total.toLong))
        .orderBy(col("user_id"))
    }),

    // q244 — CHECK constraints on the maintained table: a declared
    // row invariant rejects a violating commit TYPED
    // ([[graft.sources.ConstraintViolationException]]) before anything
    // is staged — no version slot consumed, table untouched — while
    // NULL rows pass (the SQL CHECK rule) and valid commits proceed.
    "q244_sink_constraints" -> ((s, d) => {
      val mt = Some(sources.Loader.Maintain(
        check = Some(("cents_nonneg", "cents >= 0"))))
      val (base, v0) = seedSnapshotSink(s, d, "q244_sink", 4, _ => mt)
      val pre = sources.Loader.readSnapshot(s, v0)
      val bad = pre.filter(col("user_id") % 3 === 0)
        .select(col("user_id"), (-col("cents") - 1).as("cents"))
      val violated =
        try {
          sources.Loader.upsertBatch(s, base, bad, key = "user_id",
            orderCols = Seq("user_id"), mt)
          false
        } catch {
          case _: sources.ConstraintViolationException => true
        }
      require(violated, "q244: the violating commit was not rejected")
      require(sources.Loader.snapshotVersions(s, base).map(_._1) ==
        Seq(0L), "q244: the rejected commit left state behind")
      // NULL passes the CHECK (SQL semantics) — committed on a key
      // that joins nothing, so the aggregate stays replayable
      val ss = s
      import ss.implicits._
      sources.Loader.upsertBatch(s, base,
        Seq((-1L, Option.empty[Long])).toDF("user_id", "cents"),
        key = "user_id", orderCols = Seq("user_id"), mt)
      val good = pre.filter(col("user_id") % 3 === 0)
        .select(col("user_id"), (col("cents") + 3).as("cents"))
      val ndir = sources.Loader.upsertBatch(s, base, good,
        key = "user_id", orderCols = Seq("user_id"), mt)
      val nVersions = sources.Loader.snapshotVersions(s, base).length
      val after = sources.Loader.readSnapshot(s, ndir)
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      cust.join(after, col("c_custkey") === col("user_id"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("cents_sum"))
        .withColumn("violated_typed", lit(if (violated) 1L else 0L))
        .withColumn("n_versions", lit(nVersions.toLong))
        .orderBy(col("c_mktsegment"))
    }),

    // q245 — DESCRIBE HISTORY: the audit surface every table format
    // exposes, from one manifest read per version — which commits were
    // data vs maintenance (txn ≥ 0 vs −1), how many buckets each
    // wrote, and how many of each commit's buckets the LATEST manifest
    // still resolves to it (the copy-on-write survival count). The
    // oracle replays every count from the FNV bucket assignment of the
    // two batch deltas' key sets — nothing is hardcoded but the
    // version/txn skeleton the fixture constructs.
    "q245_sink_history" -> ((s, d) => {
      val (base, v0) = seedSnapshotSink(s, d, "q245_sink", 4, _ => None)
      val pre = sources.Loader.readSnapshot(s, v0)
      def bump(m: Int, by: Long): DataFrame =
        pre.filter(col("user_id") % m === 0)
          .select(col("user_id"), (col("cents") + by).as("cents"))
      sources.Loader.upsertBatch(s, base, bump(3, 1L),
        key = "user_id", orderCols = Seq("user_id"))
      sources.Loader.upsertBatch(s, base, bump(5, 2L),
        key = "user_id", orderCols = Seq("user_id"))
      sources.Loader.describeHistory(s, base).orderBy(col("version"))
    }),

    "q243_time_travel_retention" -> ((s, d) => {
      // seed = the global latest-per-key state (the oracle's QUALIFY)
      val (base, v0) = seedSnapshotSink(s, d, "q243_sink", 2, _ => None)
      // v1 rewrites ONLY bucket 0 (+10), v2 ONLY bucket 1 (+100): the
      // chain where v1 survives vacuum for bucket 0 yet references
      // bucket 1 in v0, which does not
      def ofBucket(df: DataFrame, b: Int): DataFrame =
        df.filter(bucketCol(2) === b)
          .select(col("user_id"), col("cents"))
      val d1 = ofBucket(sources.Loader.readSnapshot(s, v0), 0)
        .select(col("user_id"), (col("cents") + 10).as("cents"))
      require(d1.limit(1).count() == 1L, "q243: bucket 0 is empty")
      val v1 = sources.Loader.upsertBatch(s, base, d1,
        key = "user_id", orderCols = Seq("user_id"))
      val d2 = ofBucket(sources.Loader.readSnapshot(s, v1), 1)
        .select(col("user_id"), (col("cents") + 100).as("cents"))
      require(d2.limit(1).count() == 1L, "q243: bucket 1 is empty")
      val v2 = sources.Loader.upsertBatch(s, base, d2,
        key = "user_id", orderCols = Seq("user_id"))
      val removed = sources.Loader.vacuumSnapshots(s, base)
      require(removed == Seq(0L),
        s"q243: vacuum reclaimed $removed, expected Seq(0)")
      // the retention index: v1 listed but unreadable, v2 readable
      val detail = sources.Loader.snapshotVersionsDetailed(s, base)
      require(detail.map(t => (t._1, t._3)) == Seq(1L -> false,
        2L -> true), s"q243: unexpected retention verdicts $detail")
      // both reclaimed shapes fail TYPED: manifest gone (v0) and
      // manifest alive with a vacuumed bucket reference (v1)
      val typed0 =
        try { sources.Loader.readSnapshot(s, s"$base/v0"); false }
        catch { case _: sources.VacuumedVersionException => true }
      val typed1 =
        try { sources.Loader.readSnapshot(s, v1); false }
        catch { case _: sources.VacuumedVersionException => true }
      require(typed0 && typed1,
        s"q243: untyped AS-OF failure (v0=$typed0, v1=$typed1)")
      val after = sources.Loader.readSnapshot(s, v2)
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      cust.join(after, col("c_custkey") === col("user_id"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
             sum(col("cents")).as("cents_sum"))
        .withColumn("n_listed", lit(detail.length.toLong))
        .withColumn("n_readable", lit(detail.count(_._3).toLong))
        .withColumn("asof_typed", lit(1L))
        .orderBy(col("c_mktsegment"))
    }))

  val oracleSql: Map[String, String] = Map(
    // both writers' intents applied exactly once to the latest-per-key
    // state: +1000 for every 7th user (the winner), +7 for every 5th
    // (the loser's RETRY, recomputed off the winner's state); versions
    // = 3 stream commits + winner + retry — the lost attempt consumed
    // no slot
    "q240_concurrent_writers" ->
      s"""WITH snap AS MATERIALIZED (
         |  SELECT user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |fin AS MATERIALIZED (
         |  SELECT user_id, cents
         |    + (CASE WHEN user_id % 7 = 0 THEN 1000 ELSE 0 END)
         |    + (CASE WHEN user_id % 5 = 0 THEN 7 ELSE 0 END) AS cents
         |  FROM snap)
         |SELECT c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
         |  CAST(1 AS BIGINT) AS loser_typed,
         |  CAST(5 AS BIGINT) AS n_versions
         |FROM fin JOIN customer ON c_custkey = user_id
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the probe lives in exactly its own residue class's file — kept
    // is 1 by exact membership (the query itself pins that the Bloom's
    // might-contain agreed); the aggregate replays the unpruned answer
    "q241_bloom_point_skip" ->
      s"""WITH prm AS MATERIALIZED (
         |  SELECT MIN(l_orderkey) AS probe FROM lineitem
         |  WHERE l_orderkey > (SELECT (MIN(l_orderkey) + MAX(l_orderkey)) // 2
         |                      FROM lineitem))
         |SELECT l_returnflag,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM($qtyCents) AS BIGINT) AS qty_cents_sum,
         |  CAST(1 AS BIGINT) AS n_files_kept,
         |  CAST($NRes AS BIGINT) AS n_files_total
         |FROM lineitem
         |WHERE l_orderkey = (SELECT probe FROM prm)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // every count replayed from the FNV-4 bucket sets of the deltas'
    // key classes: written(v) = |buckets(delta keys)|, current(v0) =
    // buckets untouched by both batches, current(v1) = b3 \ b5,
    // current(v2) = b5; txn 0 = the stream commit, -1 = batch commits
    "q245_sink_history" -> {
      val fnv = ExtensionQueries.FnvSql("CAST(user_id AS VARCHAR)")
      s"""WITH snap AS MATERIALIZED (
         |  SELECT user_id FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |bk AS MATERIALIZED (
         |  SELECT user_id,
         |    ((((CASE WHEN fu >= 9223372036854775808::HUGEINT
         |         THEN fu - 18446744073709551616::HUGEINT
         |         ELSE fu END) % 4) + 4) % 4) AS b
         |  FROM (SELECT user_id, $fnv AS fu FROM snap)),
         |b3 AS MATERIALIZED (
         |  SELECT DISTINCT b FROM bk WHERE user_id % 3 = 0),
         |b5 AS MATERIALIZED (
         |  SELECT DISTINCT b FROM bk WHERE user_id % 5 = 0),
         |ball AS MATERIALIZED (SELECT DISTINCT b FROM bk)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS txn,
         |    CAST(0 AS BIGINT) AS is_maintenance,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ball)
         |      AS n_buckets_written,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ball
         |     WHERE b NOT IN (SELECT b FROM b3)
         |       AND b NOT IN (SELECT b FROM b5)) AS n_buckets_current,
         |    'user_id,cents' AS schema_cols
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), CAST(-1 AS BIGINT),
         |    CAST(1 AS BIGINT),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM b3),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM b3
         |     WHERE b NOT IN (SELECT b FROM b5)),
         |    'user_id,cents'
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(-1 AS BIGINT),
         |    CAST(1 AS BIGINT),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM b5),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM b5),
         |    'user_id,cents')
         |ORDER BY version""".stripMargin
    },

    // identical replay to e44: the snapshot holds one row per key in
    // one file, every file carries a Bloom, so kept = 1; total = the
    // cluster-sorted roll arithmetic over FNV buckets (same constants)
    "e46_sink_bloom_lookup" ->
      Queries97.oracleSql("e44_sink_point_lookup"),

    // the rejected commit contributes NOTHING (no slot, no rows); the
    // NULL-pass row lives on a key outside customer; the valid commit
    // bumps every 3rd user by 3 — versions = seed + null-pass + good
    "q244_sink_constraints" ->
      s"""WITH snap AS MATERIALIZED (
         |  SELECT user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |fin AS MATERIALIZED (
         |  SELECT user_id, cents + (CASE WHEN user_id % 3 = 0
         |    THEN 3 ELSE 0 END) AS cents
         |  FROM snap)
         |SELECT c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
         |  CAST(1 AS BIGINT) AS violated_typed,
         |  CAST(3 AS BIGINT) AS n_versions
         |FROM fin JOIN customer ON c_custkey = user_id
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the era-A int cast is lossless (values fit int), so the replay
    // is the latest-per-key state with every 5th user bumped past the
    // int ceiling; n_big counts exactly the widened rows
    "q242_sink_type_widening" ->
      s"""WITH snap AS MATERIALIZED (
         |  SELECT user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |fin AS MATERIALIZED (
         |  SELECT user_id, cents + (CASE WHEN user_id % 5 = 0
         |    THEN 5000000000 ELSE 0 END) AS cents
         |  FROM snap)
         |SELECT c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
         |  CAST(SUM(CASE WHEN cents > 2147483647 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_big
         |FROM fin JOIN customer ON c_custkey = user_id
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the FNV 2-bucket split decides which bump each user got (+10 for
    // bucket 0, +100 for bucket 1 — every user is in exactly one);
    // 2 versions listed, 1 readable, both AS-OF failures typed
    "q243_time_travel_retention" -> {
      val fnv = ExtensionQueries.FnvSql("CAST(user_id AS VARCHAR)")
      s"""WITH snap AS MATERIALIZED (
         |  SELECT user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1),
         |fin AS MATERIALIZED (
         |  SELECT user_id,
         |    cents + (CASE WHEN ((((CASE WHEN fu >=
         |        9223372036854775808::HUGEINT
         |      THEN fu - 18446744073709551616::HUGEINT
         |      ELSE fu END) % 2) + 2) % 2) = 0 THEN 10 ELSE 100 END)
         |      AS cents
         |  FROM (SELECT user_id, cents, $fnv AS fu FROM snap))
         |SELECT c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
         |  CAST(2 AS BIGINT) AS n_listed,
         |  CAST(1 AS BIGINT) AS n_readable,
         |  CAST(1 AS BIGINT) AS asof_typed
         |FROM fin JOIN customer ON c_custkey = user_id
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    })
}
