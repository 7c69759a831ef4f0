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
  * version's own data files. The from-disk registration reads those
  * dirs under their known schemas, so it infers none from Parquet
  * footers.
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

  /** Jobs of one from-disk [[Loader.registerSnapshot]] on this table: 5
    * in every case below, metadata collects and the stats merge. Reading
    * the metadata dirs without their schema added a footer-inference job
    * per read: 9–10. */
  private val MaxRegisterJobs = 5

  /** Run `verb` on empty registries, then check what it registered
    * against a from-disk registration and its metadata dirs against the
    * public analyzers. */
  private def checkCommit(sink: String, what: String)(verb: => Unit): Unit = {
    clearRegistries()
    val before = latest(sink)
    verb
    val vdir = latest(sink)
    assert(vdir !== before, s"$what published no version")
    val fresh = registries
    clearRegistries()
    val (_, rec) = JobRecorder.recorded(spark)(
      Loader.registerSnapshot(spark, vdir, maintain))
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
    assert(meta("_zones") === bag(Zones.analyzeFiles(own, maintain.zoneCols)),
      s"$what: _zones")
    assert(meta("_stats") === bag(StatsPlanner.analyzeWideBy(own,
      "graft_bucket", maintain.statCols.map(c => c -> c))), s"$what: _stats")
    assert(meta("_dicts") === bag(Zones.analyzeDictFiles(own,
      maintain.dictCols, maintain.dictMax)), s"$what: _dicts")
    assert(meta("_blooms") === bag(Zones.analyzeBloomFiles(own,
      maintain.bloomCols, maintain.bloomBits, maintain.bloomHashes)),
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
