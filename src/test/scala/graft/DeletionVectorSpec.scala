package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Loader

/** Merge-on-read DELETE contracts (deletion vectors — the Delta DV /
  * Iceberg v2 position-delete shape):
  *
  * - [[Loader.deleteWhereVectors]] removes rows WITHOUT touching a
  *   single data file: the new version's manifest and resolved file
  *   set are identical to the prior version's; only `_dv` tombstones
  *   are published.
  * - SQL DELETE semantics (TRUE removes, NULL keeps); double-delete is
  *   idempotent on live rows; tombstoning the whole table refuses.
  * - Time travel keeps era semantics: the pre-delete version still
  *   shows the rows.
  * - Rewrites PURGE: an upsert touching a DV'd bucket physically drops
  *   its tombstoned rows and removes them from the carried set, while
  *   untouched buckets stay masked; compaction treats "has DVs" as
  *   fragmentation and leaves NO `_dv` behind.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def seedSink(base: String): String = {
    val rows = (1L to 40L).map(u =>
      (u, java.sql.Timestamp.valueOf(f"2026-01-01 00:${u % 60}%02d:00"),
        u * 100L))
    val stage = Files.createTempDirectory("graft-dv-stage").toString
    rows.toDF("user_id", "ts", "cents")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") &&
                 f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $stage"))
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    Files.move(part.toPath, Paths.get(src, "f0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src).schema
    val (q, _) = Loader.streamUpsertSink(
      spark.readStream.schema(schema).parquet(src),
      s"$base/sink", key = "user_id", orderCols = Seq("ts"),
      checkpointDir = Some(s"$base/ckpt"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = 4)
    q.awaitTermination()
    s"$base/sink"
  }

  private def latestDir(sink: String): String =
    s"$sink/v${Loader.snapshotVersions(spark, sink).map(_._1).max}"

  private def snap(sink: String): Map[Long, Long] =
    Loader.readSnapshot(spark, latestDir(sink))
      .select(col("user_id"), col("cents")).as[(Long, Long)]
      .collect().toMap

  test("DV delete removes rows with ZERO data-file churn; NULL keeps; " +
       "time travel shows the pre-delete era") {
    val base = Files.createTempDirectory("graft-dv").toString
    val sink = seedSink(base)
    val v0 = latestDir(sink)
    val filesBefore = Loader.readSnapshot(spark, v0).inputFiles.toSet
    // cents % 300 == 0 hits users 3, 6, ..., 39 (13 rows)
    val Some((v1, deleted)) = Loader.deleteWhereVectors(spark, sink,
      col("cents") % 300 === 0)
    assert(deleted === 13L)
    val after = snap(sink)
    assert(after.size === 27 && !after.contains(3L) && after.contains(1L))
    // merge-on-read: the resolved DATA file set is IDENTICAL — only
    // tombstones were published (inputFiles also lists the _dv table
    // the anti-join reads; that is metadata, not churn)
    assert(Loader.readSnapshot(spark, v1).inputFiles
      .filterNot(_.contains("/_dv/")).toSet === filesBefore)
    // the DV version dir holds no bucket data at all
    assert(!new java.io.File(v1).listFiles()
      .exists(_.getName.startsWith("graft_bucket=")))
    // time travel: the pre-delete version still shows every row
    assert(Loader.readSnapshot(spark, v0).count() === 40L)
    // NULL cond keeps rows (SQL DELETE): tombstone nothing
    assert(Loader.deleteWhereVectors(spark, sink,
      lit(null).cast("boolean")).isEmpty)
    // no-match → None, no commit
    val nV = Loader.snapshotVersions(spark, sink).length
    assert(Loader.deleteWhereVectors(spark, sink,
      col("cents") === -999L).isEmpty)
    assert(Loader.snapshotVersions(spark, sink).length === nV)
    // tombstoning everything refuses loudly
    val e = intercept[IllegalArgumentException] {
      Loader.deleteWhereVectors(spark, sink, lit(true))
    }
    assert(e.getMessage.contains("refusing"))
  }

  test("a copy-on-write delete of every row refuses typed and leaves " +
       "no staged attempt behind") {
    val base = Files.createTempDirectory("graft-cow-all").toString
    val sink = seedSink(base)
    val e = intercept[IllegalArgumentException] {
      Loader.deleteWhere(spark, sink, col("user_id") > 0L)
    }
    assert(e.getMessage.contains("refusing"))
    assert(Loader.snapshotVersions(spark, sink).map(_._1) === Seq(0L))
    assert(snap(sink).size === 40)
    val attempts = Option(new java.io.File(s"$sink/_attempt").listFiles())
      .getOrElse(Array.empty)
    assert(attempts.isEmpty, attempts.mkString(","))
  }

  test("compaction of a bucket whose every live row is tombstoned keeps " +
       "it as an empty dir; the step emits no change event") {
    val base = Files.createTempDirectory("graft-dv-empty").toString
    val sink = seedSink(base)
    // the users of one bucket, read off the seed version's file paths
    val byBucket = Loader.readSnapshot(spark, latestDir(sink))
      .select(col("user_id"),
        regexp_extract(input_file_name(), "graft_bucket=([0-9]+)", 1)
          .as("b"))
      .as[(Long, String)].collect().groupBy(_._2)
    assert(byBucket.size === 4)
    val (b, members) = byBucket.minBy(_._1)
    val gone = members.map(_._1).toSet
    val model = snap(sink) -- gone
    val Some((vDel, deleted)) = Loader.deleteWhereVectors(spark, sink,
      col("user_id").isin(gone.toSeq: _*))
    assert(deleted === gone.size.toLong && snap(sink) === model)
    val Some(vc) = Loader.compactSnapshot(spark, sink)
    assert(snap(sink) === model)
    // the emptied bucket stays in the layout as an empty dir of its own
    val dir = new java.io.File(s"$vc/graft_bucket=$b")
    assert(dir.isDirectory && dir.list().forall(_.startsWith(".")))
    assert(!new java.io.File(s"$vc/_dv").exists())
    def seqOf(d: String) = new java.io.File(d).getName.drop(1).toLong
    assert(Loader.tableChanges(spark, sink, "user_id", seqOf(vDel),
      seqOf(vc)).isEmpty)
    assert(Loader.compactSnapshot(spark, sink).isEmpty)
  }

  test("second DV delete composes; already-tombstoned rows are not " +
       "re-counted") {
    val base = Files.createTempDirectory("graft-dv2").toString
    val sink = seedSink(base)
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id") <= 10L).map(_._2) === Some(10L))
    // overlaps users 6..15: 6..10 are already tombstoned — only 11..15
    // count, and the final state reflects both deletes
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id").between(6L, 15L)).map(_._2) === Some(5L))
    val after = snap(sink)
    assert(after.keySet === (16L to 40L).toSet)
  }

  test("an upsert PURGES the touched bucket's tombstones and keeps the " +
       "others masked; deleted rows never resurrect") {
    val base = Files.createTempDirectory("graft-dv3").toString
    val sink = seedSink(base)
    val Some((_, d0)) = Loader.deleteWhereVectors(spark, sink,
      col("user_id") % 4 === 0) // 10 rows across buckets
    assert(d0 === 10L)
    // bump ONE surviving user: rewrites exactly that user's bucket —
    // its tombstoned rows are physically dropped, other buckets stay
    // masked by the carried DV set
    Loader.upsertBatch(spark, sink,
      Seq((1L, 111L)).toDF("user_id", "cents"),
      key = "user_id", orderCols = Seq("user_id"))
    val after = snap(sink)
    assert(after(1L) === 111L)
    assert(after.size === 30 && (4L to 40L by 4L).forall(u =>
      !after.contains(u)))
    // compaction applies every remaining tombstone physically: the new
    // latest version carries NO _dv and the data is unchanged
    val before = snap(sink)
    assert(Loader.compactSnapshot(spark, sink).isDefined)
    assert(snap(sink) === before)
    assert(!new java.io.File(s"${latestDir(sink)}/_dv").exists())
    // and the copy-on-write deleteWhere still agrees post-DV: removing
    // one more user via full rewrite of its bucket
    val Some((_, d1)) = Loader.deleteWhere(spark, sink,
      col("user_id") === 7L)
    assert(d1 === 1L && !snap(sink).contains(7L))
  }

  test("update vectors: zero existing-file churn, appendix files in " +
       "the commit's own dir; SQL UPDATE semantics; typed refusals") {
    val base = Files.createTempDirectory("graft-uv").toString
    val sink = seedSink(base)
    val v0 = latestDir(sink)
    val filesBefore = Loader.readSnapshot(spark, v0).inputFiles.toSet
    // cents % 300 == 0 hits users 3, 6, ..., 39 (13 rows)
    val Some((v1, updated)) = Loader.updateWhereVectors(spark, sink,
      col("cents") % 300 === 0,
      Map("cents" -> (col("cents") + 1L)), key = "user_id")
    assert(updated === 13L)
    val after = snap(sink)
    assert(after.size === 40 && after(3L) === 301L && after(1L) === 100L)
    // merge-on-read: every pre-existing data file survives; the only
    // new data files are the appendices under the update commit's dir
    val filesAfter = Loader.readSnapshot(spark, v1).inputFiles
      .filterNot(_.contains("/_dv/")).toSet
    assert(filesBefore.subsetOf(filesAfter))
    val appended = filesAfter -- filesBefore
    assert(appended.nonEmpty && appended.forall(_.contains(
      new java.io.File(v1).getName + "/")))
    // time travel: the pre-update era still shows the old values
    assert(Loader.readSnapshot(spark, v0)
      .filter(col("user_id") === 3L).select(col("cents"))
      .as[Long].head() === 300L)
    // NULL cond updates nothing (SQL UPDATE); no-match → None
    assert(Loader.updateWhereVectors(spark, sink,
      lit(null).cast("boolean"),
      Map("cents" -> lit(0L)), key = "user_id").isEmpty)
    assert(Loader.updateWhereVectors(spark, sink,
      col("cents") === -999L,
      Map("cents" -> lit(0L)), key = "user_id").isEmpty)
    // SET touching the key refuses (a key change is delete+insert)
    val eKey = intercept[IllegalArgumentException] {
      Loader.updateWhereVectors(spark, sink, lit(true),
        Map("user_id" -> lit(0L)), key = "user_id")
    }
    assert(eKey.getMessage.contains("key"))
    // a SECOND update composes — including re-updating rows whose
    // current image lives in an appendix file (tombstone the appendix
    // position, append a fresh image)
    val Some((_, u2)) = Loader.updateWhereVectors(spark, sink,
      col("user_id") === 3L,
      Map("cents" -> (col("cents") * 10L)), key = "user_id")
    assert(u2 === 1L && snap(sink)(3L) === 3010L)
  }

  test("update vectors: rewrites purge appendices, compaction " +
       "discharges them, CHECK gates the post-update images") {
    val base = Files.createTempDirectory("graft-uv2").toString
    val sink = seedSink(base)
    val Some((updDir, _)) = Loader.updateWhereVectors(spark, sink,
      col("user_id") % 4 === 0,
      Map("cents" -> (col("cents") + 7L)), key = "user_id")
    // an upsert rewriting one bucket folds that bucket's appendix in;
    // the rest stay masked+appended — the merged view must agree with
    // plain arithmetic either way
    Loader.upsertBatch(spark, sink,
      Seq((4L, 999L)).toDF("user_id", "cents"),
      key = "user_id", orderCols = Seq("user_id"))
    val after = snap(sink)
    assert(after(4L) === 999L && after(8L) === 807L &&
      after(1L) === 100L && after.size === 40)
    // compaction treats appendices as fragmentation: afterwards the
    // data is unchanged, no _dv remains, and no appendix file is
    // consulted any more (nothing reads from the update commit's dir;
    // a second compaction finds nothing left to do)
    assert(Loader.compactSnapshot(spark, sink).isDefined)
    assert(snap(sink) === after)
    val vc = latestDir(sink)
    assert(!new java.io.File(s"$vc/_dv").exists())
    assert(!Loader.readSnapshot(spark, vc).inputFiles
      .exists(_.contains(new java.io.File(updDir).getName + "/")))
    assert(Loader.compactSnapshot(spark, sink).isEmpty)
    // CHECK constraint validates the POST-update images: an update
    // that drives a value negative rejects typed, no slot consumed
    val mt = Some(Loader.Maintain(check = Some(("nonneg", "cents >= 0"))))
    val nV = Loader.snapshotVersions(spark, sink).length
    intercept[graft.sources.ConstraintViolationException] {
      Loader.updateWhereVectors(spark, sink, col("user_id") === 1L,
        Map("cents" -> lit(-5L)), key = "user_id", maintain = mt)
    }
    assert(Loader.snapshotVersions(spark, sink).length === nV)
  }
}
