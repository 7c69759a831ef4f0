package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Loader

/** The Spark jobs of one warm, maintained `upsertBatch` that rewrites
  * every bucket. The commit computes its zones, stats, dictionaries and
  * Blooms once and registers the published version from those rows, so
  * no job reads back the `_zones` / `_stats` / `_dicts` / `_blooms` dirs
  * it just wrote; and every parquet dir the engine wrote is read under
  * its known schema, so no job infers a schema from Parquet footers.
  * The other maintained verbs have job budgets of their own.
  */
class CommitJobCountSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs of a warm full-bucket upsert on this table shape: 8 for the
    * merge and the staged write, whose tasks also fold the zones, stats,
    * dictionaries and Blooms, and 1 for the carried-DV probe; the
    * metadata files are written and the stats merged on the driver.
    * Six runs agreed. Analyzing the written files again took 16 more
    * jobs and merging the stats 2, so the bound was 27 (AQE stage timing
    * moved the analysis by a job); reading back the version's own
    * metadata made it 38. */
  private val CommitJobs = 9

  private val maintain = Loader.Maintain(
    zoneCols = Seq("score"), statCols = Seq("cents", "score"),
    clusterBy = Some("score"), maxRecordsPerFile = Some(50L),
    dictCols = Seq("tag"), dictMax = 16,
    bloomCols = Seq("id"), bloomBits = 1024, bloomHashes = 3)

  private def rows(ids: Seq[Long], ver: Long): DataFrame =
    ids.map(id => (id, (id * 7919L + ver * 31L) % 4000L,
      (id * 104729L + ver) % 100000L, s"t${id % 5}", ver))
      .toDF("id", "score", "cents", "tag", "ver")

  /** A maintained table under `base`: 400 rows in 4 buckets, seeded by
    * the stream sink. */
  private def seed(base: String): String = {
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
    sink
  }

  private def upsert(sink: String, ver: Long): String =
    Loader.upsertBatch(spark, sink,
      rows((1L to 40L).map(_ * 10L) ++ (1L to 20L).map(_ + 1000L * ver), ver),
      "id", Seq("ver"), Some(maintain))

  test("a warm full-bucket maintained upsert reads back none of its own " +
       "metadata and infers no Parquet schema") {
    val sink = seed(Files.createTempDirectory("graft-commit-jobs").toString)
    // a deletion-vector delete first, so the measured commit also reads
    // (and purges) a prior DV set
    upsert(sink, 1L)
    assert(Loader.deleteWhereVectors(spark, sink,
      org.apache.spark.sql.functions.col("id") === 5L,
      Some(maintain)).isDefined)

    val (vdir, rec) = JobRecorder.recorded(spark)(upsert(sink, 2L))
    assert(new java.io.File(vdir).list()
      .count(_.startsWith("graft_bucket=")) === 4, "not a full-bucket commit")

    val ownMeta = Seq("_zones", "_stats", "_dicts", "_blooms")
      .map(k => s"${new java.io.File(vdir).getName}/$k")
    val readBack = rec.scanned.filter(p => ownMeta.exists(p.endsWith))
    assert(readBack.isEmpty, s"read back its own metadata: $readBack")
    assert(rec.footerJobs.isEmpty,
      s"${rec.footerJobs.size} footer-inference jobs: ${rec.listing}")
    assert(rec.jobs.size === CommitJobs,
      s"${rec.jobs.size} jobs (pinned $CommitJobs): ${rec.listing}")
  }

  /** Jobs of each warm maintained verb on this table, equal in each of
    * six runs now that no aggregate is left in commit maintenance: the
    * write tasks fold the metadata, and the driver writes it. While the
    * commit analyzed its written files (16 jobs, 3 or 4 of them for the
    * stats as AQE stage timing fell) and merged stats in 2 more, only
    * maxima could be pinned: update vectors 33, compaction 24,
    * copy-on-write delete 29, MERGE INTO 34. The DV delete writes no
    * data file and registers nothing. */
  private val VerbJobs = Map("deleteWhereVectors" -> 6,
    "updateWhereVectors" -> 11, "compactSnapshot" -> 6, "deleteWhere" -> 8,
    "mergeInto" -> 13)

  test("every warm maintained verb runs no more jobs than its pinned count") {
    import org.apache.spark.sql.functions.col
    val sink = seed(Files.createTempDirectory("graft-verb-jobs").toString)
    upsert(sink, 1L)
    // the same five verbs, each on a key of its own; the first round warms
    // up, the second is counted
    def round(k: Long): Seq[(String, JobRecorder)] = {
      def jobs(verb: String)(f: => Option[Any]): (String, JobRecorder) = {
        val (r, rec) = JobRecorder.recorded(spark)(f)
        assert(r.isDefined, s"$verb committed nothing")
        verb -> rec
      }
      Seq(
        jobs("deleteWhereVectors")(Loader.deleteWhereVectors(spark, sink,
          col("id") === k, Some(maintain))),
        jobs("updateWhereVectors")(Loader.updateWhereVectors(spark, sink,
          col("id") === k + 10L, Map("score" -> (col("score") + 1L)), "id",
          Some(maintain))),
        jobs("compactSnapshot")(Loader.compactSnapshot(spark, sink,
          Some(maintain))),
        jobs("deleteWhere")(Loader.deleteWhere(spark, sink,
          col("id") === k + 20L, Some(maintain))),
        jobs("mergeInto")(Some(Loader.mergeInto(spark, sink,
          rows(Seq(k + 30L, k + 2000L), 9L), "id", maintain = Some(maintain)))))
    }
    round(1L)
    val counted = round(2L)
    counted.foreach { case (verb, rec) =>
      assert(rec.jobs.size === VerbJobs(verb),
        s"$verb ran ${rec.jobs.size} jobs (pinned ${VerbJobs(verb)}): " +
        rec.listing)
    }
  }
}
