package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{ConstraintViolationException, Loader}

/** MERGE INTO contracts for the snapshot sink ([[Loader.mergeInto]]):
  * SQL-standard clause semantics (matched DELETE first, then UPDATE,
  * else the target row stands; unmatched target survives; unmatched
  * source inserts), three-valued condition logic (NULL = clause not
  * taken), the cardinality-violation refusal, the schema-identity
  * refusal, the CHECK gate on the raw source, and composition with
  * deletion vectors (tombstones applied on read, purged on rewrite).
  */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def seedSink(base: String): String = {
    val rows = (1L to 40L).map(u =>
      (u, java.sql.Timestamp.valueOf(f"2026-01-01 00:${u % 60}%02d:00"),
        u * 100L))
    val stage = Files.createTempDirectory("graft-mg-stage").toString
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

  private val ts0 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")

  private def snap(sink: String): Map[Long, Long] = {
    val latest = Loader.snapshotVersions(spark, sink).map(_._1).max
    Loader.readSnapshot(spark, s"$sink/v$latest")
      .select(col("user_id"), col("cents")).as[(Long, Long)]
      .collect().toMap
  }

  test("default MERGE is an upsert: matched rows replaced, unmatched " +
       "source inserted, unmatched target survives") {
    val base = Files.createTempDirectory("graft-mg1").toString
    val sink = seedSink(base)
    val source = Seq((1L, ts0, 111L), (41L, ts0, 4100L))
      .toDF("user_id", "ts", "cents")
    Loader.mergeInto(spark, sink, source, "user_id")
    val after = snap(sink)
    assert(after(1L) === 111L && after(41L) === 4100L)
    assert(after.size === 41 && after(2L) === 200L)
  }

  test("conditional DELETE/UPDATE/INSERT follow SQL clause order and " +
       "three-valued logic") {
    val base = Files.createTempDirectory("graft-mg2").toString
    val sink = seedSink(base)
    // source matches users 1..10 and brings one new user 50
    val source = ((1L to 10L).map(u => (u, ts0, u * 1000L)) :+
      ((50L, ts0, 5000L))).toDF("user_id", "ts", "cents")
    Loader.mergeInto(spark, sink, source, "user_id",
      // DELETE matched rows whose TARGET cents is divisible by 300
      deleteWhen = Some(col("t_cents") % 300 === 0),
      // UPDATE the rest only when the source value is LARGER
      updateWhen = Some(col("s_cents") > col("t_cents")),
      // INSERT only sub-10000 values
      insertWhen = Some(col("s_cents") < 10000L))
    val after = snap(sink)
    // users 3, 6, 9 deleted (cents 300/600/900)
    assert(Seq(3L, 6L, 9L).forall(u => !after.contains(u)))
    // the rest of 1..10 updated to u*1000 (always > u*100)
    assert(Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L).forall(u =>
      after(u) === u * 1000L))
    // insert condition held
    assert(after(50L) === 5000L)
    // unmatched targets untouched
    assert(after(40L) === 4000L && after.size === 40 - 3 + 1)
    // three-valued logic: a NULL delete condition is NOT taken — the
    // matched row falls through to UPDATE
    val s2 = Seq((1L, ts0, 1L)).toDF("user_id", "ts", "cents")
    Loader.mergeInto(spark, sink, s2, "user_id",
      deleteWhen = Some(lit(null).cast("boolean")))
    assert(snap(sink)(1L) === 1L)
  }

  test("a MERGE that deletes every row of one bucket drops the bucket " +
       "from the layout; deleting every row of the table refuses") {
    val base = Files.createTempDirectory("graft-mg-empty").toString
    val sink = seedSink(base)
    // the rows of one bucket, read off the seed version's file paths
    val byBucket = Loader.readSnapshot(spark, s"$sink/v0")
      .select(col("user_id"), col("ts"), col("cents"),
        regexp_extract(input_file_name(), "graft_bucket=([0-9]+)", 1)
          .as("b"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect().groupBy(_._4)
    val (b, members) = byBucket.minBy(_._1)
    val gone = members.map(_._1).toSet
    val model = snap(sink) -- gone
    val v = Loader.mergeInto(spark, sink,
      members.map(m => (m._1, m._2, m._3)).toSeq.toDF("user_id", "ts", "cents"),
      "user_id", deleteWhen = Some(lit(true)))
    assert(snap(sink) === model)
    assert(!new java.io.File(s"$v/graft_bucket=$b").exists())
    val all = snap(sink).toSeq.map { case (u, c) => (u, ts0, c) }
      .toDF("user_id", "ts", "cents")
    assert(intercept[IllegalArgumentException] {
      Loader.mergeInto(spark, sink, all, "user_id",
        deleteWhen = Some(lit(true)))
    }.getMessage.contains("refusing"))
    assert(snap(sink) === model)
  }

  test("cardinality violation, schema mismatch, and CHECK all refuse " +
       "typed with no slot consumed") {
    val base = Files.createTempDirectory("graft-mg3").toString
    val sink = seedSink(base)
    val nV = Loader.snapshotVersions(spark, sink).length
    val dup = Seq((1L, ts0, 1L), (1L, ts0, 2L))
      .toDF("user_id", "ts", "cents")
    val e1 = intercept[IllegalArgumentException] {
      Loader.mergeInto(spark, sink, dup, "user_id")
    }
    assert(e1.getMessage.contains("cardinality"))
    val wrong = Seq((1L, 1L)).toDF("user_id", "cents") // missing ts
    val e2 = intercept[IllegalArgumentException] {
      Loader.mergeInto(spark, sink, wrong, "user_id")
    }
    assert(e2.getMessage.contains("schema-evolution"))
    val neg = Seq((1L, ts0, -5L)).toDF("user_id", "ts", "cents")
    intercept[ConstraintViolationException] {
      Loader.mergeInto(spark, sink, neg, "user_id",
        maintain = Some(Loader.Maintain(
          check = Some(("cents_nonneg", "cents >= 0")))))
    }
    assert(Loader.snapshotVersions(spark, sink).length === nV)
  }

  test("MERGE composes with deletion vectors: tombstoned rows neither " +
       "match nor resurrect; touched buckets purge") {
    val base = Files.createTempDirectory("graft-mg4").toString
    val sink = seedSink(base)
    val Some((_, d0)) = Loader.deleteWhereVectors(spark, sink,
      col("user_id") <= 5L)
    assert(d0 === 5L)
    // user 3 is tombstoned: the merge must treat it as NOT MATCHED and
    // re-insert it fresh rather than resurrect/patch the dead row
    val source = Seq((3L, ts0, 42L), (6L, ts0, 66L))
      .toDF("user_id", "ts", "cents")
    Loader.mergeInto(spark, sink, source, "user_id")
    val after = snap(sink)
    assert(after(3L) === 42L && after(6L) === 66L)
    // 40 seeded − 5 tombstoned + 1 re-inserted (user 3) = 36
    assert(!after.contains(1L) && after.size === 36)
  }
}
