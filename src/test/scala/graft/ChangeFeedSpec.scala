package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{Loader, VacuumedVersionException}

/** Change-data-feed contracts ([[Loader.tableChanges]]): typed
  * per-commit events derived read-side from one live-vs-live diff of
  * exactly the buckets whose pointer, appendices or tombstones changed;
  * unchanged rows of rewritten buckets emit nothing; layout migrations
  * emit nothing; a vacuumed window fails typed.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def seedSink(base: String): String = {
    val rows = (1L to 40L).map(u =>
      (u, java.sql.Timestamp.valueOf(f"2026-01-01 00:${u % 60}%02d:00"),
        u * 100L))
    val stage = Files.createTempDirectory("graft-cf-stage").toString
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

  private val ts1 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")

  test("upsert, DV delete, and CoW delete each emit exactly their " +
       "typed events; unchanged rows of rewritten buckets emit nothing") {
    val base = Files.createTempDirectory("graft-cf").toString
    val sink = seedSink(base)
    // v1: update users 1..5 (+1000), insert 41
    Loader.upsertBatch(spark, sink,
      ((1L to 5L).map(u => (u, ts1, u * 100L + 1000L)) :+
        ((41L, ts1, 4100L))).toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("ts"))
    // v2: DV-tombstone users 6..8
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id").between(6L, 8L)).map(_._2) === Some(3L))
    // v3: copy-on-write delete of user 9
    assert(Loader.deleteWhere(spark, sink,
      col("user_id") === 9L).map(_._2) === Some(1L))
    val ch = Loader.tableChanges(spark, sink, "user_id", 0L, 3L)
      .select(col("_commit_version"), col("_change_type"),
        col("user_id"), col("cents"))
      .as[(Long, String, Long, Long)].collect().toSet
    val want: Set[(Long, String, Long, Long)] =
      (1L to 5L).flatMap(u => Seq(
        (1L, "update_preimage", u, u * 100L),
        (1L, "update_postimage", u, u * 100L + 1000L))).toSet ++
      Set((1L, "insert", 41L, 4100L)) ++
      (6L to 8L).map(u => (2L, "delete", u, u * 100L)).toSet ++
      Set((3L, "delete", 9L, 900L))
    assert(ch === want)
    // sub-windows slice cleanly
    assert(Loader.tableChanges(spark, sink, "user_id", 1L, 2L)
      .select(col("_change_type")).as[String].collect().toSeq ===
      Seq("delete", "delete", "delete"))
  }

  test("a rebucket migration emits no events; a vacuumed window " +
       "throws typed") {
    val base = Files.createTempDirectory("graft-cf2").toString
    val sink = seedSink(base)
    Loader.rebucket(spark, sink, newBuckets = 7, key = "user_id")
    assert(Loader.tableChanges(spark, sink, "user_id", 0L, 1L)
      .count() === 0L)
    // post-migration writes still feed the stream of changes
    Loader.upsertBatch(spark, sink,
      Seq((1L, ts1, 111L)).toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("ts"))
    val ev = Loader.tableChanges(spark, sink, "user_id", 1L, 2L)
      .select(col("_change_type"), col("user_id"), col("cents"))
      .as[(String, Long, Long)].collect().toSet
    assert(ev === Set(("update_preimage", 1L, 100L),
      ("update_postimage", 1L, 111L)))
    // vacuum away v0 (rebucket left nothing referencing it), then ask
    // for the reclaimed window
    assert(Loader.vacuumSnapshots(spark, sink).contains(0L))
    intercept[VacuumedVersionException] {
      Loader.tableChanges(spark, sink, "user_id", 0L, 2L).count()
    }
  }

  test("an update-vector commit emits update pre/post pairs (appendix " +
       "diff), never doubled by its own tombstones; a rename step " +
       "emits nothing and later diffs align by the new name") {
    val base = Files.createTempDirectory("graft-cf3").toString
    val sink = seedSink(base)
    // v1: merge-on-read UPDATE of users 1..3 (+9)
    assert(Loader.updateWhereVectors(spark, sink,
      col("user_id") <= 3L, Map("cents" -> (col("cents") + 9L)),
      key = "user_id").map(_._2) === Some(3L))
    val ev1 = Loader.tableChanges(spark, sink, "user_id", 0L, 1L)
      .select(col("_change_type"), col("user_id"), col("cents"))
      .as[(String, Long, Long)].collect().toSet
    assert(ev1 === (1L to 3L).flatMap(u => Seq(
      ("update_preimage", u, u * 100L),
      ("update_postimage", u, u * 100L + 9L))).toSet)
    // v2: metadata-only rename — NO events
    Loader.renameColumn(spark, sink, "cents", "amount")
    assert(Loader.tableChanges(spark, sink, "user_id", 1L, 2L)
      .count() === 0L)
    // v3: a post-rename upsert — the step's diff reads the pre-rename
    // era under the new name (pre/post pair on `amount`)
    Loader.upsertBatch(spark, sink,
      Seq((10L, 1234L)).toDF("user_id", "amount"),
      key = "user_id", orderCols = Seq("user_id"))
    val ev3 = Loader.tableChanges(spark, sink, "user_id", 2L, 3L)
      .select(col("_change_type"), col("user_id"), col("amount"))
      .as[(String, Long, Long)].collect().toSet
    assert(ev3 === Set(("update_preimage", 10L, 1000L),
      ("update_postimage", 10L, 1234L)))
  }

  test("a DV delete of an updated key emits exactly one delete " +
       "carrying the post-image values") {
    val base = Files.createTempDirectory("graft-cf4").toString
    val sink = seedSink(base)
    // v1: merge-on-read UPDATE of users 1..3 (+9) — appendix images
    assert(Loader.updateWhereVectors(spark, sink,
      col("user_id") <= 3L, Map("cents" -> (col("cents") + 9L)),
      key = "user_id").map(_._2) === Some(3L))
    // v2: DV-tombstone user 2, whose live row is its appendix image
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id") === 2L).map(_._2) === Some(1L))
    val ev = Loader.tableChanges(spark, sink, "user_id", 1L, 2L)
      .select(col("_commit_version"), col("_change_type"),
        col("user_id"), col("cents"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(ev === Seq((2L, "delete", 2L, 209L)))
  }

  test("a RESTORE emits honest change events: un-deleted rows insert, " +
       "reverted updates pair, rolled-back inserts delete — and the " +
       "restore itself is metadata-only") {
    val base = Files.createTempDirectory("graft-cf5").toString
    val sink = seedSink(base)
    // v1: update user 1 (+1000), insert 41
    Loader.upsertBatch(spark, sink,
      Seq((1L, ts1, 1100L), (41L, ts1, 4100L))
        .toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("ts"))
    // v2: DV-tombstone user 2
    assert(Loader.deleteWhereVectors(spark, sink,
      col("user_id") === 2L).map(_._2) === Some(1L))
    // v3: roll the table back to the seed
    val v3 = Loader.restoreSnapshot(spark, sink, 0L)
    assert(!new java.io.File(v3).listFiles()
      .exists(_.getName.startsWith("graft_bucket=")))
    val restored = Loader.readSnapshot(spark, v3)
      .select(col("user_id"), col("cents")).as[(Long, Long)]
      .collect().toMap
    assert(restored === (1L to 40L).map(u => u -> u * 100L).toMap)
    val ev = Loader.tableChanges(spark, sink, "user_id", 2L, 3L)
      .select(col("_change_type"), col("user_id"), col("cents"))
      .as[(String, Long, Long)].collect().toSet
    assert(ev === Set(
      ("update_preimage", 1L, 1100L), ("update_postimage", 1L, 100L),
      ("delete", 41L, 4100L), ("insert", 2L, 200L)))
    // refusals: restoring to the current head, or to a missing version
    assert(intercept[IllegalArgumentException] {
      Loader.restoreSnapshot(spark, sink, 3L)
    }.getMessage.contains("already"))
    intercept[VacuumedVersionException] {
      Loader.restoreSnapshot(spark, sink, 99L)
    }
    // the chain continues past the restore
    Loader.upsertBatch(spark, sink,
      Seq((5L, ts1, 555L)).toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("ts"))
    assert(Loader.readSnapshot(spark,
        s"$sink/v${Loader.snapshotVersions(spark, sink).map(_._1).max}")
      .filter(col("user_id") === 5L).select(col("cents"))
      .as[Long].head() === 555L)
  }

  test("changeFeedView folds increments with cross-batch carry: " +
       "versioned publishes, replay no-ops, restart from the cursor") {
    val base = Files.createTempDirectory("graft-cf4").toString
    val sink = seedSink(base)
    val viewDir = s"$base/view"
    def advance(): Unit = graft.streaming.Streams
      .advanceChangeFeedView(spark, sink, "user_id", "cents",
        "user_id % 4", viewDir)
    def view(v: Long): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$viewDir/v$v")
        .select(col("grp"), col("n"), col("cents_sum"))
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    // wave 1: one commit, first activation seeds v0 then folds to v1
    Loader.upsertBatch(spark, sink,
      Seq((1L, ts1, 1100L), (41L, ts1, 4100L))
        .toDF("user_id", "ts", "cents"),
      key = "user_id", orderCols = Seq("ts"))
    advance()
    assert(new java.io.File(viewDir).list().sorted.toSeq ===
      Seq("v0", "v1"))
    // replay (foreachBatch at-least-once): target already published
    // → no-op, nothing double-folded
    advance()
    assert(new java.io.File(viewDir).list().sorted.toSeq ===
      Seq("v0", "v1"))
    // wave 2: two more commits, the fold resumes FROM v1
    Loader.deleteWhereVectors(spark, sink, col("user_id") % 10 === 0)
    Loader.deleteWhere(spark, sink, col("user_id") === 7L)
    advance()
    assert(new java.io.File(viewDir).list().sorted.toSeq ===
      Seq("v0", "v1", "v3"))
    // the folded view equals a from-scratch aggregate of the live state
    val fromScratch = Loader.readSnapshot(spark,
        s"$sink/v${Loader.snapshotVersions(spark, sink).map(_._1).max}")
      .groupBy((col("user_id") % 4).as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
      .select(col("grp"), col("n"), col("cents_sum"))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(view(3L) === fromScratch)
  }
}
