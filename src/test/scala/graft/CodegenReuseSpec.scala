package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Loader

/** A steady-state snapshot-table commit compiles nothing: once one cycle
  * of upsert, deletion-vector delete, upsert, compaction and lookups has
  * run, a second cycle of the same shape (new keys and values, the same
  * predicates) finds every generated class in Spark's cache.
  *
  * Two things make a warm cycle recompile: a class cache smaller than the
  * engine's working set (see [[Graft.CodegenCacheEntries]]), and
  * `limit(n).count()` existence probes, whose generated code names its
  * counter from a JVM-global sequence and so differs on every call.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val maintain = Loader.Maintain(
    zoneCols = Seq("score"), statCols = Seq("cents", "score"),
    clusterBy = Some("score"), maxRecordsPerFile = Some(50L),
    dictCols = Seq("tag"), dictMax = 16,
    bloomCols = Seq("id"), bloomBits = 1024, bloomHashes = 3)

  private def rows(ids: Seq[Long], ver: Long, tag: Long => String): DataFrame =
    ids.map(id => (id, (id * 7919L + ver * 31L) % 4000L,
      (id * 104729L + ver) % 100000L, tag(id), ver))
      .toDF("id", "score", "cents", "tag", "ver")

  private def tagOf(id: Long): String = s"t${id % 5}"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second commit cycle of the same shape compiles no new classes") {
    val base = Files.createTempDirectory("graft-codegen").toString
    val src = s"$base/src"
    rows(1L to 400L, 0L, tagOf).coalesce(1).write.parquet(src)
    val sink = s"$base/sink"
    val (q, _) = Loader.streamUpsertSink(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      sink, key = "id", orderCols = Seq("ver"),
      checkpointDir = Some(s"$base/ckpt"),
      trigger = Some(Trigger.AvailableNow()), nBuckets = 4,
      maintain = Some(maintain))
    q.awaitTermination()

    // upsert (updates plus inserts, some rows tagged for deletion) → DV
    // delete → upsert → compaction → lookups with fixed predicates
    def cycle(c: Long): Unit = {
      val updates = (1L to 20L).map(_ + 20L * c)
      val inserts = (1L to 20L).map(_ + 1000L * c)
      Loader.upsertBatch(spark, sink,
        rows(updates ++ inserts, 2 * c - 1,
          id => if (id % 4 == 0) "gone" else tagOf(id)),
        "id", Seq("ver"), Some(maintain))
      val (_, deleted) = Loader.deleteWhereVectors(spark, sink,
        col("tag") === "gone", Some(maintain)).get
      assert(deleted === 10L)
      Loader.upsertBatch(spark, sink,
        rows((1L to 20L).map(_ + 1000L * c + 500L), 2 * c, tagOf),
        "id", Seq("ver"), Some(maintain))
      assert(Loader.compactSnapshot(spark, sink, Some(maintain)).isDefined)
      val snap = Loader.readSnapshot(spark,
        s"$sink/v${Loader.snapshotVersions(spark, sink).map(_._1).max}")
      assert(snap.filter(col("id") === 7L).collect().length === 1)
      snap.filter(col("score").between(100L, 900L)).collect()
      assert(snap.filter(col("tag") === "gone").isEmpty)
      assert(snap.count() === 400L + 40L * c - 10L * c)
    }

    cycle(1L)
    val warm = compiles
    cycle(2L)
    assert(compiles - warm === 0L,
      "generated classes compiled in a steady-state commit cycle")
  }
}
