package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Loader

/** Schema/layout lifecycle contracts:
  *
  * - [[Loader.dropColumn]] is METADATA-ONLY (no data file rewritten);
  *   readers project the column away; time travel keeps pre-drop eras;
  *   the very next upsert must NOT resurrect the column from old files
  *   (the mergeSchema regression the recorded-schema prior read
  *   prevents); compaction purges the bytes physically; the key
  *   refuses; deletion vectors carry across the drop.
  * - [[Loader.rebucket]] rewrites the live snapshot into a new FNV
  *   bucket count under one OCC commit: same rows, new layout, old
  *   versions keep their own layout, writes work against the new
  *   modulus, tombstones are applied (never carried) through the
  *   rewrite.
  */
class SchemaLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def seedSink(base: String, nBuckets: Int = 4): String = {
    val rows = (1L to 40L).map(u =>
      (u, java.sql.Timestamp.valueOf(f"2026-01-01 00:${u % 60}%02d:00"),
        u * 100L))
    val stage = Files.createTempDirectory("graft-sl-stage").toString
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
      trigger = Some(Trigger.AvailableNow()), nBuckets = nBuckets)
    q.awaitTermination()
    s"$base/sink"
  }

  private def latestDir(sink: String): String =
    s"$sink/v${Loader.snapshotVersions(spark, sink).map(_._1).max}"

  test("dropColumn is metadata-only, sticky across upserts, purged by " +
       "compaction, era-scoped under time travel") {
    val base = Files.createTempDirectory("graft-drop").toString
    val sink = seedSink(base)
    // era 2: evolve a score column in
    Loader.upsertBatch(spark, sink,
      Seq((1L, 10), (2L, 20)).toDF("user_id", "score"),
      key = "user_id", orderCols = Seq("user_id"))
    val vScore = latestDir(sink)
    assert(Loader.readSnapshot(spark, vScore).columns.contains("score"))
    // metadata-only drop: file set identical, column gone
    val filesBefore = Loader.readSnapshot(spark, vScore).inputFiles.toSet
    Loader.dropColumn(spark, sink, "score", key = "user_id")
    val dropped = Loader.readSnapshot(spark, latestDir(sink))
    assert(!dropped.columns.contains("score"))
    assert(dropped.inputFiles.toSet === filesBefore)
    // time travel: the pre-drop era still shows it
    assert(Loader.readSnapshot(spark, vScore).columns.contains("score"))
    // the NEXT upsert must not resurrect the column from old files
    // (maxRecordsPerFile=1 fragments the touched bucket so the
    // compaction below has work to purge)
    Loader.upsertBatch(spark, sink,
      Seq((1L, java.sql.Timestamp.valueOf("2026-03-01 00:00:00"), 111L))
        .toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("user_id"),
      Some(Loader.Maintain(maxRecordsPerFile = Some(1L))))
    val afterUp = Loader.readSnapshot(spark, latestDir(sink))
    assert(!afterUp.columns.contains("score"),
      "dropped column resurrected by the post-drop upsert")
    assert(afterUp.filter(col("user_id") === 1L)
      .head().getAs[Long]("cents") === 111L)
    // compaction purges the bytes: the compacted bucket files no
    // longer carry the column even on a raw (footer-schema) read
    assert(Loader.compactSnapshot(spark, sink).isDefined)
    val vComp = latestDir(sink)
    val compactedDirs = new java.io.File(vComp).listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map(_.toString)
    assert(compactedDirs.nonEmpty)
    compactedDirs.foreach { d =>
      assert(!spark.read.parquet(d).columns.contains("score"),
        s"compacted $d still carries the dropped column")
    }
    // refusals
    val e1 = intercept[IllegalArgumentException] {
      Loader.dropColumn(spark, sink, "user_id", key = "user_id")
    }
    assert(e1.getMessage.contains("upsert key"))
    val e2 = intercept[IllegalArgumentException] {
      Loader.dropColumn(spark, sink, "nope", key = "user_id")
    }
    assert(e2.getMessage.contains("no column"))
  }

  test("dropColumn carries deletion vectors across the drop") {
    val base = Files.createTempDirectory("graft-drop2").toString
    val sink = seedSink(base)
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id") <= 5L).map(_._2) === Some(5L))
    Loader.upsertBatch(spark, sink,
      Seq((7L, 7)).toDF("user_id", "score"),
      key = "user_id", orderCols = Seq("user_id"))
    Loader.dropColumn(spark, sink, "score", key = "user_id")
    val after = Loader.readSnapshot(spark, latestDir(sink))
      .select(col("user_id")).as[Long].collect().toSet
    assert((1L to 5L).forall(u => !after.contains(u)) &&
      after.size >= 30, "tombstones lost across the metadata-only drop")
  }

  test("rebucket rewrites the live snapshot into a new FNV modulus: " +
       "same rows, new layout, old eras keep theirs, writes continue") {
    val base = Files.createTempDirectory("graft-rebucket").toString
    val sink = seedSink(base, nBuckets = 4)
    // tombstone a few rows first: the migration must apply, not carry
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id") % 10 === 0).map(_._2) === Some(4L))
    val before = Loader.readSnapshot(spark, latestDir(sink))
      .select(col("user_id"), col("cents")).as[(Long, Long)]
      .collect().toMap
    val vOld = latestDir(sink)
    val vNew = Loader.rebucket(spark, sink, newBuckets = 7,
      key = "user_id")
    // identical rows, no carried tombstones
    val after = Loader.readSnapshot(spark, vNew)
      .select(col("user_id"), col("cents")).as[(Long, Long)]
      .collect().toMap
    assert(after === before)
    assert(!new java.io.File(s"$vNew/_dv").exists())
    // the new version's dirs use the new modulus domain
    val bs = new java.io.File(vNew).listFiles()
      .filter(_.getName.startsWith("graft_bucket="))
      .map(_.getName.stripPrefix("graft_bucket=").toInt).toSet
    assert(bs.nonEmpty && bs.forall(b => b >= 0 && b < 7))
    // the pre-migration era still reads under ITS layout
    assert(Loader.readSnapshot(spark, vOld).count() === 36L)
    // and batch writes pick up the new modulus from the manifest
    Loader.upsertBatch(spark, sink,
      Seq((41L, java.sql.Timestamp.valueOf("2026-03-01 00:00:00"),
        4100L)).toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("user_id"))
    val fin = Loader.readSnapshot(spark, latestDir(sink))
    assert(fin.count() === 37L)
    assert(fin.filter(col("user_id") === 41L).head()
      .getAs[Long]("cents") === 4100L)
    // rebucketing to the same count refuses
    val e = intercept[IllegalArgumentException] {
      Loader.rebucket(spark, sink, newBuckets = 7, key = "user_id")
    }
    assert(e.getMessage.contains("already"))
  }

  test("clusterBy and zorderBy refuse to coexist — both decide the " +
       "within-bucket file order") {
    val e = intercept[IllegalArgumentException] {
      Loader.Maintain(clusterBy = Some("cents"),
        zorderBy = Some(("user_id", "cents")))
    }
    assert(e.getMessage.contains("exclusive"))
  }

  test("renameColumn is metadata-only; old eras read under the new " +
       "name; upserts merge under it; chains compose; time travel " +
       "keeps era names; typed refusals") {
    val base = Files.createTempDirectory("graft-ren").toString
    val sink = seedSink(base)
    val vPre = latestDir(sink)
    val filesBefore = Loader.readSnapshot(spark, vPre).inputFiles.toSet
    Loader.renameColumn(spark, sink, "cents", "amount")
    val renamed = Loader.readSnapshot(spark, latestDir(sink))
    // metadata-only: not one data file moved; the DATA reads through
    // the rename log (old physical name 'cents' resolves as 'amount')
    assert(renamed.inputFiles.toSet === filesBefore)
    assert(renamed.columns.toSeq === Seq("user_id", "ts", "amount"))
    assert(renamed.filter(col("user_id") === 5L)
      .select(col("amount")).as[Long].head() === 500L)
    // an upsert under the NEW name: touched buckets land physically
    // renamed, untouched buckets keep old-name files — both read
    // uniformly and the old name never resurrects
    Loader.upsertBatch(spark, sink,
      Seq((5L, 555L)).toDF("user_id", "amount"),
      key = "user_id", orderCols = Seq("user_id"))
    val after = Loader.readSnapshot(spark, latestDir(sink))
    assert(after.columns.contains("amount") &&
      !after.columns.contains("cents"))
    assert(after.select(sum(col("amount"))).as[Long].head() ===
      (1L to 40L).map(_ * 100L).sum - 500L + 555L)
    // rename CHAIN: amount -> total composes across eras (v0 files
    // still carry 'cents' physically; the two-hop log resolves them)
    Loader.renameColumn(spark, sink, "amount", "total")
    val chained = Loader.readSnapshot(spark, latestDir(sink))
    assert(chained.columns.contains("total"))
    assert(chained.filter(col("user_id") === 7L)
      .select(col("total")).as[Long].head() === 700L)
    // time travel keeps each era's own names
    assert(Loader.readSnapshot(spark, vPre).columns.contains("cents"))
    // compaction lands files physically under the CURRENT name and
    // the data is unchanged
    val sumBefore = chained.select(sum(col("total"))).as[Long].head()
    assert(Loader.compactSnapshot(spark, sink).isDefined)
    assert(Loader.readSnapshot(spark, latestDir(sink))
      .select(sum(col("total"))).as[Long].head() === sumBefore)
    // typed refusals: unknown column, duplicate target, whitespace
    assert(intercept[RuntimeException] {
      Loader.renameColumn(spark, sink, "nope", "x")
    }.getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException] {
      Loader.renameColumn(spark, sink, "total", "user_id")
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      Loader.renameColumn(spark, sink, "total", "bad name")
    }.getMessage.contains("whitespace"))
  }

  test("deletion vectors survive a rename: tombstones keep masking " +
       "rows whose files predate the new name") {
    val base = Files.createTempDirectory("graft-ren2").toString
    val sink = seedSink(base)
    val Some((_, d)) = Loader.deleteWhereVectors(spark, sink,
      col("user_id") <= 5L)
    assert(d === 5L)
    Loader.renameColumn(spark, sink, "cents", "amount")
    val v = Loader.readSnapshot(spark, latestDir(sink))
    assert(v.count() === 35L &&
      v.filter(col("user_id") <= 5L).isEmpty)
    // and a post-rename DV delete targets the renamed column
    val Some((_, d2)) = Loader.deleteWhereVectors(spark, sink,
      col("amount") === 600L)
    assert(d2 === 1L && Loader.readSnapshot(spark, latestDir(sink))
      .count() === 34L)
  }

  test("commitTimestamps are strictly monotone; timestampAsOf resolves " +
       "boundaries; a manifest without #ts or #schema is refused") {
    val base = Files.createTempDirectory("graft-ts").toString
    val sink = seedSink(base)
    Loader.upsertBatch(spark, sink,
      Seq((1L, 111L)).toDF("user_id", "cents"),
      key = "user_id", orderCols = Seq("user_id"))
    Loader.upsertBatch(spark, sink,
      Seq((2L, 222L)).toDF("user_id", "cents"),
      key = "user_id", orderCols = Seq("user_id"))
    val times = Loader.commitTimestamps(spark, sink)
    assert(times.map(_._1) === Seq(0L, 1L, 2L))
    assert(times.sliding(2).forall(p => p(0)._2 < p(1)._2),
      s"not strictly monotone: $times")
    val t1 = times(1)._2
    assert(Loader.timestampAsOf(spark, sink, t1).endsWith("/v1"))
    assert(Loader.timestampAsOf(spark, sink, t1 - 1).endsWith("/v0"))
    assert(Loader.timestampAsOf(spark, sink, times(2)._2 + 99999L)
      .endsWith("/v2"))
    intercept[graft.sources.VacuumedVersionException] {
      Loader.timestampAsOf(spark, sink, times(0)._2 - 1)
    }
    // a manifest that lacks its commit time or its schema is refused,
    // naming the manifest, rather than read under a guessed layout
    val mf = Paths.get(s"$sink/v1/graft_manifest")
    val txt = new String(Files.readAllBytes(mf), "UTF-8")
    def strip(prefix: String): Unit = {
      Files.write(mf, txt.linesIterator
        .filterNot(_.startsWith(prefix)).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      // the local FS keeps a sidecar checksum; the manual rewrite above
      // must drop it or the read fails ChecksumException
      Files.deleteIfExists(Paths.get(s"$sink/v1/.graft_manifest.crc"))
    }
    strip("#ts")
    val noTs = intercept[IllegalArgumentException] {
      Loader.commitTimestamps(spark, sink)
    }
    assert(noTs.getMessage.contains(s"$sink/v1/graft_manifest") &&
      noTs.getMessage.contains("#ts"), noTs.getMessage)
    strip("#schema")
    val noSchema = intercept[IllegalArgumentException] {
      Loader.readSnapshot(spark, s"$sink/v1")
    }
    assert(noSchema.getMessage.contains(s"$sink/v1/graft_manifest") &&
      noSchema.getMessage.contains("#schema"), noSchema.getMessage)
  }

  test("snapshotVersionsDetailed: a listed version is readable exactly " +
       "when readSnapshot of it succeeds") {
    val base = Files.createTempDirectory("graft-svd").toString
    val sink = seedSink(base)
    // two users in different buckets, read off the seed's file paths
    val bucketOf = Loader.readSnapshot(spark, latestDir(sink))
      .select(col("user_id"),
        regexp_extract(input_file_name(), "graft_bucket=([0-9]+)", 1))
      .as[(Long, String)].collect().toMap
    val u1 = 1L
    val u2 = bucketOf.keys.toSeq.sorted.find(u => bucketOf(u) != bucketOf(u1))
      .getOrElse(fail("every user in one bucket"))
    def bump(u: Long, cents: Long): Unit =
      Loader.upsertBatch(spark, sink, Seq((u, cents)).toDF("user_id", "cents"),
        key = "user_id", orderCols = Seq("user_id"))
    // v1 holds u1's bucket; v2 holds u2's and still points at v1 for
    // u1's; v3 rewrites u1's bucket again, so v1 is no longer live
    bump(u1, 1L); bump(u2, 2L); bump(u1, 3L)
    assert(Loader.vacuumSnapshots(spark, sink) === Seq(1L))
    val detail = Loader.snapshotVersionsDetailed(spark, sink)
    assert(detail.map(_._1) === Seq(0L, 2L, 3L))
    assert(detail.map(_._3) === Seq(true, false, true))
    detail.foreach { case (v, _, readable) =>
      val read = scala.util.Try(
        Loader.readSnapshot(spark, s"$sink/v$v").count())
      assert(read.isSuccess === readable, s"v$v: $read")
      read.failed.foreach(e =>
        assert(e.isInstanceOf[graft.sources.VacuumedVersionException], e))
    }
  }

  test("time-based retention vacuum protects retained versions' " +
       "holder closures; outside the window reads fail typed") {
    val base = Files.createTempDirectory("graft-rv").toString
    val sink = seedSink(base)
    Loader.rebucket(spark, sink, newBuckets = 3, key = "user_id")
    Loader.rebucket(spark, sink, newBuckets = 5, key = "user_id")
    val t = Loader.commitTimestamps(spark, sink).toMap
    // window since v1: the seed era alone falls out; v1 reads FULLY
    assert(Loader.vacuumSnapshots(spark, sink, Some(t(1L))) ===
      Seq(0L))
    assert(Loader.readSnapshot(spark, s"$sink/v1").count() === 40L)
    // window since v2: v1 falls out; v2 (the latest) stays
    assert(Loader.vacuumSnapshots(spark, sink, Some(t(2L))) ===
      Seq(1L))
    intercept[graft.sources.VacuumedVersionException] {
      Loader.readSnapshot(spark, s"$sink/v1").count()
    }
    assert(Loader.readSnapshot(spark, s"$sink/v2").count() === 40L)
  }
}
