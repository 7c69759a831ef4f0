package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.StatsPlanner
import graft.plans.{StatsRegistry, ZoneRegistry, Zones}
import graft.sources.Loader

/** A maintained commit registers the version it publishes from the
  * metadata rows it just computed, not from a read-back of its own
  * metadata dirs. For every bucket-rewriting verb, that registration must
  * equal, field for field, the one [[Loader.registerSnapshot]] builds
  * from disk on a fresh driver; and each of the version's metadata dirs
  * must hold exactly the rows the public analyzers compute over that
  * version's own data files. The write tasks fold those rows; the edge
  * cases of the fold (rolled files, dictionary overflow, all-NULL
  * files, a non-UTC session time zone, write tasks without rows) are
  * extra inputs to the same check. The from-disk registration reads
  * the metadata dirs under their known schemas, so it infers none from
  * Parquet footers.
  */
class CommitRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val maintain = Loader.Maintain(
    zoneCols = Seq("score"), statCols = Seq("cents", "score"),
    clusterBy = Some("score"), maxRecordsPerFile = Some(50L),
    dictCols = Seq("tag"), dictMax = 16,
    bloomCols = Seq("id"), bloomBits = 1024, bloomHashes = 3)

  private def rows(ids: Seq[Long], ver: Long): DataFrame =
    ids.map(id => (id, (id * 7919L + ver * 31L) % 4000L,
      (id * 104729L + ver) % 100000L, s"t${id % 5}", ver))
      .toDF("id", "score", "cents", "tag", "ver")

  private def latest(sink: String): String =
    s"$sink/v${Loader.snapshotVersions(spark, sink).map(_._1).max}"

  private def registries = (ZoneRegistry.entries, StatsRegistry.entries)

  private def clearRegistries(): Unit = {
    ZoneRegistry.clear()
    StatsRegistry.clear()
  }

  /** The data files the version dir itself holds (its bucket dirs). */
  private def ownFiles(vdir: String): DataFrame = {
    val buckets = new java.io.File(vdir).listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map(_.getPath).sorted
    spark.read.option("basePath", vdir).parquet(buckets.toSeq: _*)
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size }

  /** Jobs of one from-disk [[Loader.registerSnapshot]] on this table: 4
    * in every case below — one scan of the holders' `_stats` rows and
    * one each of their `_zones`, `_dicts` and `_blooms`; the stats merge
    * runs on the driver. It was 5 while the merge ran as two Spark jobs,
    * and 9–10 while each metadata read inferred its schema from footers. */
  private val MaxRegisterJobs = 4

  /** Run `verb` on empty registries, then check what it registered
    * against a from-disk registration and its metadata dirs against the
    * public analyzers. */
  private def checkCommit(sink: String, what: String,
                          mt: Loader.Maintain = maintain)
                         (verb: => Unit): Unit = {
    clearRegistries()
    val before = latest(sink)
    verb
    val vdir = latest(sink)
    assert(vdir !== before, s"$what published no version")
    val fresh = registries
    clearRegistries()
    val (_, rec) = JobRecorder.recorded(spark)(
      Loader.registerSnapshot(spark, vdir, mt))
    assert(rec.footerJobs.isEmpty,
      s"$what: ${rec.footerJobs.size} footer-inference jobs: ${rec.listing}")
    assert(rec.jobs.size <= MaxRegisterJobs,
      s"$what: ${rec.jobs.size} jobs (bound $MaxRegisterJobs): ${rec.listing}")
    val disk = registries
    assert(fresh._1.size === 1 && fresh._2.size === 1, what)
    assert(fresh._1 === disk._1, s"$what: zone registry differs")
    assert(fresh._2 === disk._2, s"$what: stats registry differs")

    val own = ownFiles(vdir)
    def meta(kind: String) = bag(spark.read.parquet(s"$vdir/$kind"))
    assert(meta("_zones") === bag(Zones.analyzeFiles(own, mt.zoneCols)),
      s"$what: _zones")
    assert(meta("_stats") === bag(StatsPlanner.analyzeWideBy(own,
      "graft_bucket", mt.statCols.map(c => c -> c))), s"$what: _stats")
    assert(meta("_dicts") === bag(Zones.analyzeDictFiles(own,
      mt.dictCols, mt.dictMax)), s"$what: _dicts")
    assert(meta("_blooms") === bag(Zones.analyzeBloomFiles(own,
      mt.bloomCols, mt.bloomBits, mt.bloomHashes)),
      s"$what: _blooms")
  }

  test("every maintained verb registers exactly what registerSnapshot " +
       "loads from disk") {
    val base = Files.createTempDirectory("graft-commit-registry").toString
    val src = s"$base/src"
    rows(1L to 400L, 0L).coalesce(1).write.parquet(src)
    val sink = s"$base/sink"
    val (q, _) = Loader.streamUpsertSink(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      sink, key = "id", orderCols = Seq("ver"),
      checkpointDir = Some(s"$base/ckpt"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = 4,
      maintain = Some(maintain))
    q.awaitTermination()
    try {
      checkCommit(sink, "full-bucket upsert") {
        Loader.upsertBatch(spark, sink, rows((1L to 60L) ++ (501L to 540L), 1L),
          "id", Seq("ver"), Some(maintain))
      }
      assert(new java.io.File(latest(sink)).list()
        .count(_.startsWith("graft_bucket=")) === 4)
      // one key: one bucket rewritten, three still held by older versions
      checkCommit(sink, "partial-bucket upsert") {
        Loader.upsertBatch(spark, sink, rows(Seq(7L), 2L), "id", Seq("ver"),
          Some(maintain))
      }
      assert(new java.io.File(latest(sink)).list()
        .count(_.startsWith("graft_bucket=")) === 1)
      assert(Loader.deleteWhereVectors(spark, sink, col("id") === 11L,
        Some(maintain)).isDefined)
      checkCommit(sink, "mergeInto") {
        Loader.mergeInto(spark, sink, rows(Seq(3L, 4L, 900L), 3L), "id",
          maintain = Some(maintain))
      }
      checkCommit(sink, "deleteWhere") {
        assert(Loader.deleteWhere(spark, sink, col("id").between(20L, 30L),
          Some(maintain)).isDefined)
      }
      checkCommit(sink, "updateWhereVectors") {
        assert(Loader.updateWhereVectors(spark, sink,
          col("id").isin(40L, 41L, 42L), Map("cents" -> lit(5L)), "id",
          Some(maintain)).isDefined)
      }
      checkCommit(sink, "compactSnapshot") {
        assert(Loader.compactSnapshot(spark, sink, Some(maintain)).isDefined)
      }
      checkCommit(sink, "rebucket") {
        Loader.rebucket(spark, sink, 3, "id", Some(maintain))
      }
      assert(Loader.readSnapshot(spark, latest(sink)).count() ===
        400L + 40L + 1L - 1L - 11L)
    } finally clearRegistries()
  }

  test("the write-task fold equals the public analyzers on rolled files, " +
       "dictionary overflow, all-NULL files, a non-UTC session time zone " +
       "and write tasks without rows") {
    // a date and a timestamp column, zoned and (the date) analyzed, and a
    // nullable tag both dictionary-mapped and Bloom-filtered
    val mt = maintain.copy(zoneCols = Seq("score", "day", "at"),
      statCols = Seq("cents", "score", "day"), bloomCols = Seq("id", "tag"))
    def typed(df: DataFrame): DataFrame = df
      .withColumn("day", date_add(lit("2024-01-01").cast("date"),
        (col("id") % 400).cast("int")))
      .withColumn("at", timestamp_seconds(col("id") * 3607L + 1700000000L))
    val base = Files.createTempDirectory("graft-commit-fold").toString
    val src = s"$base/src"
    typed(rows(1L to 400L, 0L)).coalesce(1).write.parquet(src)
    val sink = s"$base/sink"
    val (q, _) = Loader.streamUpsertSink(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      sink, key = "id", orderCols = Seq("ver"),
      checkpointDir = Some(s"$base/ckpt"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = 4,
      maintain = Some(mt))
    q.awaitTermination()
    try {
      // 300 new keys with NULL score and tag: NULLs sort first under
      // clusterBy score, so each bucket's first rolled file holds only
      // NULLs; 100 new keys with the top scores and a tag each, so each
      // bucket's last file holds more distinct tags than dictMax
      val nulls = typed(rows(1001L to 1300L, 1L))
        .withColumn("score", lit(null).cast("long"))
        .withColumn("tag", lit(null).cast("string"))
      val distinct = typed(rows(2001L to 2100L, 1L))
        .withColumn("score", col("score") + 10000L)
        .withColumn("tag", concat(lit("u"), col("id").cast("string")))
      checkCommit(sink, "NULL files and dictionary overflow", mt) {
        Loader.upsertBatch(spark, sink, nulls.unionByName(distinct), "id",
          Seq("ver"), Some(mt))
      }
      val vdir = latest(sink)
      val files = ownFiles(vdir).inputFiles.length
      assert(new java.io.File(vdir).list()
        .count(_.startsWith("graft_bucket=")) === 4)
      assert(files > 4, "no bucket rolled into several files")
      val zones = spark.read.parquet(s"$vdir/_zones")
      assert(!zones.filter(col("col_name") === "score" &&
        col("min_repr").isNull).isEmpty, "no all-NULL file")
      val tagged = spark.read.parquet(s"$vdir/_dicts")
        .filter(col("col_name") === "tag").count()
      assert(tagged > 0 && tagged < files - 4,
        s"$tagged of $files files carry a tag dictionary")
      assert(spark.read.parquet(s"$vdir/_blooms")
        .filter(col("col_name") === "tag").select("file").distinct()
        .count() < files, "every file carries tag Bloom words")
      // the driver merge of the version's stats rows (it holds every
      // bucket) equals the SQL merge of the same rows
      val exprs = mt.statCols.map(c => c -> c)
      assert(StatsRegistry.entries.values.head._1 ===
        StatsPlanner.tableStatsFromWide(StatsPlanner.mergeWide(
          spark.read.parquet(s"$vdir/_stats"), exprs.length), exprs))

      // one key: one bucket rewritten, and without partition coalescing
      // the other shuffle partitions reach the writer with no rows
      val conf = Seq("spark.sql.session.timeZone" -> "America/Los_Angeles",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try checkCommit(sink, "non-UTC zones and empty write tasks", mt) {
        Loader.upsertBatch(spark, sink, typed(rows(Seq(7L), 2L)), "id",
          Seq("ver"), Some(mt))
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(new java.io.File(latest(sink)).list()
        .count(_.startsWith("graft_bucket=")) === 1)
    } finally clearRegistries()
  }

  test("vacuum forgets the registry entries of the versions it reclaims") {
    val base = Files.createTempDirectory("graft-vacuum-registry").toString
    val src = s"$base/src"
    rows(1L to 400L, 0L).coalesce(1).write.parquet(src)
    val sink = s"$base/sink"
    clearRegistries()
    val (q, _) = Loader.streamUpsertSink(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      sink, key = "id", orderCols = Seq("ver"),
      checkpointDir = Some(s"$base/ckpt"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = 4,
      maintain = Some(maintain))
    q.awaitTermination()
    try {
      for (ver <- 1L to 3L)
        Loader.upsertBatch(spark, sink, rows(1L to 400L by 3L, ver), "id",
          Seq("ver"), Some(maintain))
      val reclaimed = Loader.vacuumSnapshots(spark, sink)
      assert(reclaimed.nonEmpty)
      val deadDirs = reclaimed.map(v => s"$sink/v$v")
      def namesDead(key: String): Boolean = key.split('\n').exists(p =>
        deadDirs.exists(d => p == d || p.startsWith(d + "/")))
      val (zones, stats) = registries
      assert(zones.nonEmpty && stats.nonEmpty)
      assert(!zones.keys.exists(namesDead), zones.keys.mkString("; "))
      assert(!stats.keys.exists(namesDead), stats.keys.mkString("; "))
      // the latest version still zone-prunes a point read
      val snap = Loader.readSnapshot(spark, latest(sink))
      def files(df: DataFrame): Int =
        df.queryExecution.optimizedPlan.collectLeaves()
          .collect { case lr: org.apache.spark.sql.execution.datasources
              .LogicalRelation => lr.relation }
          .collect { case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => h.location.inputFiles.length }.sum
      val score = snap.select(col("score")).head().getLong(0)
      val hit = snap.filter(col("score") === score)
      assert(files(hit) < files(snap), s"${files(hit)} of ${files(snap)}")
    } finally clearRegistries()
  }
}
