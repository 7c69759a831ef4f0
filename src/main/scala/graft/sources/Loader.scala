package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Thrown when a snapshot commit loses the optimistic-concurrency race:
  * another writer claimed the same commit slot between this
  * transaction's read of the latest manifest and its publish. The
  * losing attempt's data is discarded before the throw — the table is
  * left exactly as the winner committed it. Callers retry by re-reading
  * the (new) latest snapshot and re-applying their change against it.
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Thrown when a commit's delta violates the table's declared CHECK
  * constraint ([[Loader.Maintain.check]]): the transaction is rejected
  * BEFORE anything is staged or written — no version slot is consumed,
  * the table is untouched. SQL CHECK semantics: a row violates iff the
  * predicate evaluates to FALSE (NULL/UNKNOWN passes). The message
  * carries the constraint name and the violating-row count.
  */
final class ConstraintViolationException(msg: String)
  extends RuntimeException(msg)

/** Thrown by [[Loader.readSnapshot]] when an AS-OF read targets a
  * version that is no longer fully readable: either the version dir
  * (with its manifest) was reclaimed by [[Loader.vacuumSnapshots]], or
  * the version survives but some bucket it references lived in an
  * older version that was vacuumed. Time-travel retention is the
  * vacuum cadence; [[Loader.snapshotVersionsDetailed]] reports which
  * committed versions are still fully readable without paying a failed
  * read.
  */
final class VacuumedVersionException(msg: String)
  extends RuntimeException(msg)

/** Sink layer. Mirrors the reference `Loader` contract (`main.py:261-281`):
  * suffix validation, refusal to write an empty result, header row, no
  * synthetic index column. Spark-first difference: large results are written
  * as a partitioned directory (the scalable path); `writeCsvSingle` exists
  * for reference parity where a single `.csv` file is the contract.
  */
object Loader {

  /** Scalable CSV sink: one part file per partition. */
  def writeCsvDir(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)

  /** Scalable parquet sink (engine-native). */
  def writeParquet(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir)

  /** Size-bounded parquet sink — the small-files / giant-files guard a
    * 100 TB pipeline needs: `numPartitions` bounds the file COUNT (one
    * writer task each), `maxRecordsPerFile` bounds each file's size (a
    * task rolls to a new file at the limit). Downstream scans then see
    * uniformly-sized row groups instead of a mix of KB-stragglers and
    * multi-GB monoliths.
    */
  def writeParquetSized(df: DataFrame, dir: String, numPartitions: Int,
                        maxRecordsPerFile: Long): Unit = {
    require(numPartitions >= 1 && maxRecordsPerFile >= 1)
    df.repartition(numPartitions)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(dir)
  }

  /** Scalable ORC sink (columnar alternative when the downstream reader
    * is ORC-native; zlib default like Spark's).
    */
  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(dir)

  /** Z-ORDER clustered parquet sink — the write half of q205's layout
    * audit (Delta/Iceberg "OPTIMIZE ZORDER BY", as a plain Spark
    * write): both columns are normalized to [0, 2^16) by exact integer
    * div against their broadcast maxes, interleaved into a Morton key,
    * and the rows are RANGE-partitioned by that key into `numFiles`
    * writer tasks (sorted within each), so every produced file's
    * parquet min/max footer is tight on BOTH columns and predicates on
    * EITHER column skip files. The helper key is dropped before the
    * bytes hit disk. Caller contract: both columns numeric and
    * non-negative (dates go through datediff first). RangePartitioner
    * samples the key distribution, so file BOUNDARIES are approximate
    * — the guarantee is per-file extent tightness, which
    * ExtractorLoaderSpec asserts by reading the files back
    * individually.
    */
  def writeParquetZordered(df: DataFrame, dir: String, numFiles: Int,
                           xCol: String, yCol: String): Unit = {
    require(numFiles >= 1)
    import org.apache.spark.sql.functions._
    val mx = df.agg(max(expr(s"CAST($xCol AS BIGINT)")).as("__mx"),
                    max(expr(s"CAST($yCol AS BIGINT)")).as("__my"))
    // the v >= 0 contract makes 0 each column's lower bound
    df.crossJoin(broadcast(mx))
      .withColumn("__zk", graft.functions.Expressions.morton16(
        expr(mortonCell(xCol, "0L", "__mx")),
        expr(mortonCell(yCol, "0L", "__my"))))
      .drop("__mx", "__my")
      .repartitionByRange(numFiles, col("__zk"))
      .sortWithinPartitions(col("__zk"))
      .drop("__zk")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The 16-bit Morton cell of column `c` within its bounds `[n, x]`
    * (SQL expressions), as a SQL expression — the one cell encoder of
    * both Z-order writers ([[writeParquetZordered]], [[writeBuckets]]).
    *
    * Overflow-safe: the classic `(v - n) * 65536 div (x - n + 1)`
    * overflows Long both in the numerator (values past ~2^47) and in
    * the range itself (full-domain columns), yielding garbage keys. So
    * the cell forms in two exact stages. First a coarse divide-first
    * cell: the width w ≈ range/65536 + 1 is formed without ever
    * subtracting the bounds (`(x div 2^16) - (n div 2^16) + 1` —
    * quotients first), and the cell is `v div w - n div w` (for w = 1
    * the true difference is < 2^17, so it fits; for larger w both
    * quotients shrink below Long.Max/w), clamped to 65535 to absorb the
    * ±1 drift of the quotient-first approximation. Then an upscale to
    * the full 16-bit range (cell * 65536 ≤ 2^32 — safe), so both
    * dimensions occupy the same bit width and the interleave alternates
    * them evenly (an unnormalized small domain would sit in the low bits
    * and degenerate to a one-dimension sort). Truncating division keeps
    * the cell MONOTONE in the value — all a space-filling layout needs.
    * With `n` = 0 and a domain below 2^16 this is exactly
    * `v * 65536 div (x + 1)`.
    */
  private def mortonCell(c: String, n: String, x: String): String = {
    val w = s"((($x div 65536L) - ($n div 65536L)) + 1L)"
    val cc = s"least(65535L, (CAST($c AS BIGINT) div $w) - ($n div $w))"
    val cm = s"least(65535L, ($x div $w) - ($n div $w))"
    s"(($cc) * 65536L div (($cm) + 1L))"
  }

  /** JDBC sink — the write half of `Extractor.readJdbc` (reference
    * `README:38` muses about a database backend; this realizes it). Each
    * partition opens one connection and writes its rows in `batchsize`d
    * inserts, so the write parallelism is the DataFrame's partitioning —
    * repartition before calling to match what the database can absorb
    * (N executor connections hammering one primary is a DBA incident, not
    * a fast load).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: SaveMode = SaveMode.ErrorIfExists,
                batchSize: Int = 1000,
                options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .mode(mode)
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(options)
      .save()

  /** Streaming UPSERT sink: maintains a parquet "current state" snapshot
    * from a stream via foreachBatch — each micro-batch's latest row per
    * key (by `orderCols`, descending) merges into the snapshot with
    * [[graft.operators.Upsert.upsert]]. Semantics are ARRIVAL-ORDER
    * (CDC-changelog): a later batch's row replaces the snapshot row even
    * if it is older by event time — that is the upsert contract. For
    * event-time "latest wins, late data never regresses" semantics, run
    * [[graft.streaming.Streams.latestPerKey]] upstream of this sink
    * instead.
    *
    * Copy-on-write layout (the pruning every table format does): the
    * snapshot is partitioned into `nBuckets` key-hash buckets; a batch
    * reads and rewrites ONLY the buckets its keys touch, so the
    * per-batch cost is O(touched buckets + delta), not O(snapshot) —
    * at a 100×-scale keyed snapshot an untouched bucket's files are
    * never read, never rewritten, and never copied. Versions are
    * directories `v<id>/<bucket dirs>` plus a MANIFEST mapping every
    * bucket to the version whose directory holds its current files
    * (untouched buckets point at older versions); the manifest is
    * written LAST and doubles as the commit marker. Read a snapshot
    * back with [[readSnapshot]] — the version dir alone holds only the
    * buckets that batch rewrote. Size `nBuckets` so a bucket fits a
    * comfortable rewrite unit (the bucket count is the granularity of
    * copy-on-write, exactly a table format's file-group sizing).
    */
  final class SnapshotHandle {
    @volatile private[Loader] var dir: Option[String] = None
    def currentDir: Option[String] = dir
  }

  /** Self-maintaining metadata for [[streamUpsertSink]] snapshots — the
    * piece that makes the sink's own table a first-class citizen of the
    * stats/zone planning loop: after each batch, the rewritten buckets
    * (and ONLY those — one pass over the delta the batch just wrote,
    * never a rescan) contribute per-file zone rows to
    * `v<seq>/_zones` and one per-bucket mergeable wide-stats row to
    * `v<seq>/_stats`, published atomically WITH the data and the
    * manifest commit marker (one staged-attempt rename); the current
    * registries are then refreshed from the manifest so a plain
    * `readSnapshot(...).filter(...)` zone-prunes and its joins plan
    * from fresh statistics with zero graft calls in the query.
    *
    * @param zoneCols  columns zone-mapped per file
    * @param statCols  columns ANALYZEd per bucket (mergeable: counts
    *        add, native min/max combine, KMV sketches union — the
    *        merged stats equal a full re-ANALYZE bit-for-bit, q211's
    *        proof)
    * @param clusterBy sort each bucket's rewrite by this column so file
    *        zones are TIGHT on it (the liquid-clustering half: bucket
    *        by key for upsert locality, cluster by query column for
    *        skipping)
    * @param maxRecordsPerFile roll bucket rewrites to a new file at
    *        this many rows — with `clusterBy`, each file covers a
    *        contiguous value range, so range predicates skip files
    *        within a bucket
    * @param dictCols columns dictionary-mapped per file
    *        ([[graft.plans.Zones.analyzeDictFiles]]): EQUALITY
    *        predicates then prune to exactly the files containing the
    *        probe value — the point-lookup path min/max zones cannot
    *        provide on hash-bucketed keys (every bucket's key range
    *        overlaps every other's)
    * @param dictMax per-file distinct cap for `dictCols` — files above
    *        it carry no dictionary (kept conservatively); bounds
    *        metadata size
    * @param bloomCols columns Bloom-filtered per file
    *        ([[graft.plans.Zones.analyzeBloomFiles]]): the point-lookup
    *        pruning for key columns whose per-file NDV exceeds
    *        `dictMax` — a Bloom stays `bloomBits/8` bytes however many
    *        distinct values a file holds; equality/IN prunes on
    *        might-contain (false positives keep, never hide)
    * @param bloomBits bits per (file, column) Bloom — size ≈ 32× the
    *        largest per-file NDV for a ~1e-4 per-file FP rate
    * @param bloomHashes seeded FNV probes per value
    * @param check optional table CHECK constraint (name, boolean SQL
    *        expression over the delta's columns): every incoming
    *        commit's RAW delta is validated in one bounded pass BEFORE
    *        anything is staged — including rows superseded by a newer
    *        row for the same key in the same batch (each intermediate
    *        update must satisfy the constraint, not just the per-key
    *        winner). A row violating (predicate FALSE; NULL passes,
    *        the SQL CHECK rule) rejects the whole transaction with a
    *        typed [[graft.sources.ConstraintViolationException]] and
    *        no slot is consumed; a constraint referencing a column the
    *        delta lacks rejects the same typed way, up front.
    *        Enforcement is on writes; existing history is never
    *        re-validated (declare constraints at table birth, or
    *        audit history explicitly before adding one)
    */
  final case class Maintain(zoneCols: Seq[String] = Nil,
                            statCols: Seq[String] = Nil,
                            clusterBy: Option[String] = None,
                            maxRecordsPerFile: Option[Long] = None,
                            dictCols: Seq[String] = Nil,
                            dictMax: Int = 2048,
                            bloomCols: Seq[String] = Nil,
                            bloomBits: Int = 1 << 16,
                            bloomHashes: Int = 5,
                            check: Option[(String, String)] = None,
                            zorderBy: Option[(String, String)] = None) {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "Maintain: clusterBy and zorderBy are exclusive — both decide " +
      "the within-bucket file order")
  }

  private val BucketCol = "graft_bucket"
  private val ManifestName = "graft_manifest"
  private val DvDirName = "_dv" // merge-on-read deletion vectors
  private[sources] val HashName = "fnv1a64" // the layout's bucket hash

  /** DELETION VECTORS — merge-on-read DELETE (the Delta DV / Iceberg v2
    * position-delete shape). A DV commit removes rows by publishing a
    * (file, position) tombstone table instead of rewriting buckets:
    * O(matched rows) metadata instead of O(touched buckets) data — the
    * right trade for selective deletes (GDPR single-key erasure, spot
    * corrections) on a 100 TB table, where copy-on-write
    * [[deleteWhere]] would rewrite terabytes to drop kilobytes.
    *
    * Layout: each version dir may carry `_dv/` parquet rows
    * (file: STRING, pos: BIGINT) — `file` is the LOCATION-INDEPENDENT
    * `v<seq>/graft_bucket=<b>/<name>` suffix (relocation-safe: clones,
    * restores, renames — the lesson the zone metadata learned the hard
    * way), `pos` the row's `_metadata.row_index` in that immutable
    * parquet file. A version's `_dv` holds the COMPLETE applicable set
    * as of that commit (copy-forward), so a reader consults exactly
    * one table; history versions keep their own era's set — time
    * travel shows pre-delete rows, the DV version hides them.
    *
    * Readers apply the set as a BROADCAST left-anti join on
    * (file-suffix, row_index): no shuffle of the data side — the scan
    * stays a scan. Writers PURGE: any operation that rewrites a bucket
    * ([[upsertBatch]]'s merge, [[compactSnapshot]], [[deleteWhere]])
    * reads prior files DV-filtered and drops the rewritten buckets'
    * entries from the carried-forward set, so DVs never apply to a
    * file twice and the set shrinks as the table churns; compaction
    * treats "has DVs" as fragmentation and purges eagerly.
    */
  private def dvSuffix(pathCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(pathCol,
      "(v[0-9]+/" + BucketCol + "=[0-9]+/[^/]+)$", 1)

  /** The bucket dir of a layout file path or DV suffix
    * (`.../graft_bucket=<b>/<name>`): [[BucketDir]] on the driver,
    * [[pathBucket]] in a plan. */
  private val BucketDir = (BucketCol + "=([0-9]+)/").r

  private def pathBucket(path: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(path,
      BucketDir.regex, 1).cast("int")

  /** A version's deletion-vector set plus its on-disk parquet size —
    * the O(1) metadata that decides broadcast vs shuffle application
    * (see [[dvAnti]]). */
  private[sources] final case class DvSet(df: DataFrame, bytes: Long)

  /** Past this many bytes of DV parquet (~millions of tombstones) the
    * set no longer belongs in a driver broadcast: readers fall back to
    * a shuffle anti-join. Accumulating this much merge-on-read debt is
    * itself the signal to run [[compactSnapshot]], which applies and
    * purges the tombstones physically.
    */
  private val DvBroadcastMaxBytes = 64L << 20

  /** The layout of every `_dv` dir (only this file writes them). */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, pos BIGINT")

  /** The applicable DV set recorded at `versionDir`, if any:
    * (file suffix, pos) plus its size. One listing RPC — no data read,
    * and no footer-inference job: the read carries [[DvSchema]]. It
    * reads the listed part files ([[graft.plans.Zones.partFiles]]),
    * not the dir. Every `_dv` read goes through here. */
  private def readDv(spark: org.apache.spark.sql.SparkSession,
                     fs: org.apache.hadoop.fs.FileSystem,
                     versionDir: String): Option[DvSet] = {
    val p = new org.apache.hadoop.fs.Path(versionDir, DvDirName)
    if (!fs.exists(p)) None
    else {
      val parts = graft.plans.Zones.partFiles(fs, p)
      val df =
        if (parts.isEmpty) emptyFrame(spark, DvSchema)
        else spark.read.schema(DvSchema)
          .parquet(parts.map(_.getPath.toString): _*)
      Some(DvSet(df, parts.map(_.getLen).sum))
    }
  }

  /** Anti-join `withPos` (which already carries the __dv_f/__dv_p
    * identity columns) against a DV set: BROADCAST while the set is
    * bounded (the common case — the scan side stays a scan, no
    * shuffle), a plain shuffle anti-join once the accumulated set
    * outgrows [[DvBroadcastMaxBytes]] — at '100 TB / GDPR' scale an
    * unbounded tombstone broadcast would exhaust the driver first.
    */
  private def dvAnti(withPos: DataFrame, d: DvSet): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val keyed = d.df.select(col("file").as("__dv_f"),
      col("pos").as("__dv_p"))
    val right = if (d.bytes <= DvBroadcastMaxBytes) broadcast(keyed)
                else keyed
    withPos.join(right, Seq("__dv_f", "__dv_p"), "left_anti")
  }

  /** The carried-forward DV set after `rewritten` buckets' files were
    * rewritten (their tombstones are now physically applied). None if
    * nothing survives.
    */
  private def dvMinusBuckets(dv: Option[DvSet],
                             rewritten: Set[Int]): Option[DataFrame] =
    dv.map { d =>
      if (rewritten.isEmpty) d.df
      else d.df.filter(!pathBucket(d.df("file")).isin(rewritten.toSeq: _*))
    }.filter(d => !d.isEmpty)

  /** A committed version's manifest: bucket → version holding its
    * current files, plus the LAYOUT parameters (bucket count and hash —
    * a restart with different values would rehash keys into different
    * buckets and silently miss prior rows, so they are persisted and
    * `require`d to match), the source batch id `txn` that produced
    * the version (-1 for maintenance commits like compaction) — the
    * idempotence marker an at-least-once replay checks before
    * re-applying a batch — and the snapshot SCHEMA as of this commit
    * (the Delta-log trick: schema evolution means bucket files span
    * eras, and reading 10⁶ files with parquet mergeSchema pays a
    * footer pass the manifest already knows the answer to; files that
    * predate a column null-fill it under a schema-specified read).
    *
    * Every manifest on disk records its schema, its commit time and
    * its bucket hash; [[readManifest]] refuses one that lacks any of
    * them rather than guess at an older layout. Also carried:
    *  - `ts`: the commit's wall-clock millis, stamped STRICTLY
    *    MONOTONE by [[commit]] ([[nextCommitTs]]) — the TIMESTAMP AS
    *    OF index ([[timestampAsOf]]); -1 only on a staged manifest
    *    the commit has not stamped yet.
    *  - `renames`: the cumulative RENAME COLUMN log as
    *    (commit seq, old, new) — files written before a rename carry
    *    the old physical name, and [[eraRead]] projects each era
    *    forward through exactly the renames committed after it.
    *  - `extras`: merge-on-read appendices (bucket, version) — a
    *    bucket's current rows live in its base pointer's dir PLUS
    *    every extra dir ([[updateWhereVectors]] appends post-update
    *    images without moving the base pointer; the superseded
    *    pre-images are deletion-vector tombstoned). Purged, like DVs,
    *    whenever the bucket rewrites.
    */
  private[sources] final case class Manifest(
      buckets: Map[Int, Long], nBuckets: Int, txn: Long,
      schema: org.apache.spark.sql.types.StructType,
      ts: Long = -1L,
      renames: Seq[(Long, String, String)] = Nil,
      extras: Seq[(Int, Long)] = Nil)

  /** All (bucket, holding-version) pairs of a manifest — the base
    * copy-on-write pointers plus the merge-on-read `extras`
    * appendices. The unit every full-snapshot reader and liveness
    * computation iterates. */
  private def bucketHolders(man: Manifest): Seq[(Int, Long)] =
    man.buckets.toSeq ++ man.extras

  /** The bucket dirs (base + extras) of `man` under `base`, optionally
    * restricted to a bucket subset, sorted for deterministic listings. */
  private def holderDirs(base: String, man: Manifest,
                         subset: Option[Set[Int]] = None): Seq[String] =
    bucketHolders(man)
      .filter(p => subset.forall(_.contains(p._1)))
      .distinct.sorted
      .map { case (b, v) => s"$base/v$v/$BucketCol=$b" }

  /** The next commit's wall-clock stamp: strictly greater than the
    * prior commit's (two commits inside one millisecond must still
    * resolve unambiguously under TIMESTAMP AS OF), never behind the
    * clock. */
  private def nextCommitTs(prior: Option[Manifest]): Long =
    math.max(System.currentTimeMillis(),
      prior.map(_.ts + 1).getOrElse(Long.MinValue))

  /** Scan `buckets` of the snapshot described by `man` under its
    * CURRENT recorded names/types (or `target` when the caller wants a
    * specific projection schema, e.g. deleteWhere's bucket rewrites
    * under the global snapshot schema).
    *
    * FAST PATH (no renames in the log — almost every table): ONE
    * schema-specified scan of all holding dirs (base pointers + extras
    * appendices); files that predate a column null-fill it and
    * narrow-era files upcast, exactly the historical behavior.
    *
    * RENAME PATH: files written before a RENAME COLUMN carry the OLD
    * physical name, which a uniform by-name scan would silently
    * null-fill — so dirs group by HOLDING VERSION (whose surviving
    * manifest records that era's physical schema: a live dir implies a
    * live manifest, vacuum reclaims whole version dirs), each era
    * scans under its own schema, projects era-name → current-name
    * through exactly the renames committed AFTER it, casts to the
    * current type, and the eras union by name. Bounded driver work:
    * one manifest read per distinct live holding version.
    *
    * `withPos` adds the __dv_f/__dv_p tombstone-identity columns,
    * captured from each scan's _metadata BEFORE any union/join makes
    * the struct unresolvable.
    */
  private def eraRead(spark: org.apache.spark.sql.SparkSession,
                      fs: org.apache.hadoop.fs.FileSystem,
                      base: String, man: Manifest, buckets: Seq[Int],
                      withPos: Boolean,
                      target: Option[org.apache.spark.sql.types.StructType]
                        = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val subset = Some(buckets.toSet)
    val dirs = holderDirs(base, man, subset)
    require(dirs.nonEmpty, s"eraRead: no dirs under $base for " +
      s"buckets ${buckets.sorted.mkString(",")}")
    def addPos(df: DataFrame): DataFrame =
      if (!withPos) df
      else df.withColumn("__dv_f", dvSuffix(col("_metadata.file_path")))
             .withColumn("__dv_p", col("_metadata.row_index"))
    val tgt = target.getOrElse(man.schema)
    if (man.renames.isEmpty)
      addPos(spark.read.schema(tgt).parquet(dirs: _*))
    else {
      def currentName(eraSeq: Long, name: String): String =
        man.renames.sortBy(_._1).foldLeft(name) {
          case (n, (sq, o, nw)) => if (sq > eraSeq && n == o) nw else n
        }
      val posCols =
        if (withPos) Seq(col("__dv_f"), col("__dv_p")) else Nil
      val eras = bucketHolders(man)
        .filter(p => subset.forall(_.contains(p._1)))
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (v, bs) =>
          val eraSchema = readManifest(fs, s"$base/v$v").schema
          val eraDirs = bs.map(_._1).distinct.sorted
            .map(b => s"$base/v$v/$BucketCol=$b")
          val scan =
            addPos(spark.read.schema(eraSchema).parquet(eraDirs: _*))
          // this era's physical name of each CURRENT column
          val physOf = eraSchema
            .map(f => currentName(v, f.name) -> f.name).toMap
          scan.select(tgt.map(tf =>
            physOf.get(tf.name)
              .map(phys => col(phys).cast(tf.dataType))
              .getOrElse(lit(null).cast(tf.dataType))
              .as(tf.name)) ++ posCols: _*)
        }
      eras.reduce(_ unionByName _)
    }
  }

  /** [[eraRead]] with the deletion vectors `dv` already subtracted —
    * the LIVE rows every snapshot consumer reads; no verb pairs
    * [[eraRead]] with [[dvAnti]] itself. The anti-join runs on
    * per-scan-captured positions, so it composes with the rename path's
    * union. `withPos` keeps the __dv_f/__dv_p tombstone-identity
    * columns (a probe that tombstones rows, or a rewrite that takes
    * each row's bucket from its source file). */
  private def eraReadLive(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          base: String, man: Manifest,
                          buckets: Seq[Int], dv: Option[DvSet],
                          target: Option[org.apache.spark.sql.types
                            .StructType] = None,
                          withPos: Boolean = false): DataFrame = {
    val r = eraRead(spark, fs, base, man, buckets,
      withPos = withPos || dv.nonEmpty, target)
    val live = dv.fold(r)(dvAnti(r, _))
    if (withPos || dv.isEmpty) live else live.drop("__dv_f", "__dv_p")
  }

  /** An empty frame of `schema`. */
  private def emptyFrame(spark: org.apache.spark.sql.SparkSession,
                         schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** The distinct values of the int bucket column `bucket` of `df`,
    * ascending: one small collect, bounded by the bucket count. */
  private def bucketsIn(df: DataFrame,
                        bucket: org.apache.spark.sql.Column): IndexedSeq[Int] =
    df.select(bucket).distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq

  private def fsFor(path: String,
                    spark: org.apache.spark.sql.SparkSession) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Test seam for the optimistic-concurrency spec: invoked exactly
    * once, immediately before the next commit's publish rename, then
    * cleared — a spec injects a competing committer here to force a
    * deterministic lost race. Never set in production code.
    */
  private[graft] var testRaceHook: Option[() => Unit] = None

  /** A table as a verb finds it: its filesystem, its committed versions
    * (ascending) and the latest one's manifest, None before the first
    * commit. Read once per verb; [[commit]] publishes onto the slot
    * after the latest version of THIS listing. */
  private final case class Head(fs: org.apache.hadoop.fs.FileSystem,
                                base: String, versions: Seq[Long],
                                man: Option[Manifest]) {
    /** The latest committed version; -1 before the first commit. */
    def seq: Long = versions.lastOption.getOrElse(-1L)
    /** The slot the next commit publishes onto. */
    def next: Long = seq + 1
    def dir: String = s"$base/v$seq"
    /** The latest version's deletion vectors. */
    def dv(spark: org.apache.spark.sql.SparkSession): Option[DvSet] =
      man.flatMap(_ => readDv(spark, fs, dir))
    /** The latest manifest of a table `verb` needs one of. */
    def layout(verb: String): Manifest = {
      require(man.nonEmpty, s"$verb: no committed layout under $base — " +
        "seed the table with streamUpsertSink first")
      man.get
    }
    /** The manifest of committed version `v`. */
    def at(v: Long): Manifest =
      if (v == seq) man.get else readManifest(fs, s"$base/v$v")
    /** Every committed version with its manifest, ascending: the
      * version log (one manifest read per version). */
    def log: Seq[(Long, Manifest)] = versions.map(v => v -> at(v))
  }

  private def head(spark: org.apache.spark.sql.SparkSession,
                   baseDir: String): Head = {
    val fs = fsFor(baseDir, spark)
    val versions = committedVersions(fs, baseDir)
    Head(fs, baseDir, versions,
      versions.lastOption.map(v => readManifest(fs, s"$baseDir/v$v")))
  }

  /** What [[writeBuckets]] wrote: the frame's schema (data columns plus
    * the int bucket column), the buckets it wrote a dir for (a bucket
    * with no row writes none) and, when the write maintained metadata,
    * the per-file partials its tasks folded ([[MetaFold]]). */
  private final case class Written(
      schema: org.apache.spark.sql.types.StructType,
      buckets: Set[Int],
      partials: Seq[MetaFold.FilePartial])

  /** What a verb's stage function leaves in the attempt dir, and what
    * the commit path must add: the new manifest (its `ts` is stamped by
    * [[commit]]), the `_dv` set the version carries (the complete
    * applicable set — see the DV note above [[dvSuffix]]), and the
    * bucket data the stage wrote, if it wrote any ([[writeBuckets]]'s
    * result — what the maintenance metadata is built from).
    */
  private final case class Staged(
      manifest: Manifest,
      dv: Option[DataFrame],
      written: Option[Written] = None)

  /** The one commit path of every snapshot-table verb. `stage` writes
    * the verb's data files into a private attempt dir
    * (`_attempt/<uuid>`: racing writers never scribble on each other's
    * files); then, inside the same dir, this writes the maintenance
    * metadata of ONLY the files the stage wrote, from the partials the
    * write tasks folded ([[writeMaintenance]]: driver work, no job),
    * the `_dv` set, and the manifest with its strictly monotone commit
    * time ([[nextCommitTs]] against the head), and publishes the whole
    * dir as slot `v<h.next>` in ONE atomic no-overwrite rename — the
    * optimistic-concurrency commit point. The slot comes from the same
    * listing the verb read its state from, so any writer that committed
    * since occupies it: the rename fails and the commit surfaces as a
    * typed [[graft.sources.ConcurrentCommitException]] — the caller
    * re-reads the latest snapshot and retries. Any throw before the
    * publish completes (a lost race, a failed write, a verb's own
    * guard) deletes the attempt and rethrows, so a refused or lost
    * commit leaves no residue; a crashed process leaves an orphan under
    * `_attempt/` ([[vacuumSnapshots]] reclaims it) and the slot EMPTY,
    * so a replayed batch stages afresh onto the same slot — a committed
    * `v<seq>` appears atomically complete or not at all.
    *
    * After the publish the driver registries are refreshed for the new
    * version — from the metadata rows just built when the stage wrote
    * data (a commit never reads back what it wrote), from disk when it
    * wrote none, and not at all without `maintain`; holder versions
    * other than the new one are read from disk ([[registerSnapshot]]).
    * Returns the committed version dir.
    */
  private def commit(spark: org.apache.spark.sql.SparkSession, h: Head,
                     maintain: Option[Maintain])
                    (stage: String => Staged): String = {
    val fs = h.fs
    val next = s"${h.base}/v${h.next}"
    val attempt = new org.apache.hadoop.fs.Path(
      s"${h.base}/_attempt/${java.util.UUID.randomUUID()}")
    fs.mkdirs(attempt)
    val meta =
      try {
        val staged = stage(attempt.toString)
        val fresh = (for (mt <- maintain; w <- staged.written)
          yield writeMaintenance(spark, mt, attempt.toString, next, w))
          .getOrElse(Map.empty[String, MetaFold.MetaRows])
        staged.dv.foreach(_.write.mode(SaveMode.Overwrite)
          .parquet(s"$attempt/$DvDirName"))
        writeManifest(fs, attempt.toString,
          staged.manifest.copy(ts = nextCommitTs(h.man)))
        testRaceHook.foreach { hook => testRaceHook = None; hook() }
        val dst = new org.apache.hadoop.fs.Path(next)
        val lost =
          try {
            org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri,
              spark.sessionState.newHadoopConf())
              .rename(attempt, dst) // Options.Rename.NONE: fails if dst exists
            false
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
            case e: java.io.IOException =>
              // classify: slot materialized under us → lost race; anything
              // else is a real I/O failure and must surface as itself
              if (fs.exists(dst)) true else throw e
          }
        if (lost)
          throw new ConcurrentCommitException(
            s"commit slot v${h.next} under ${h.base} was claimed by a " +
            "concurrent writer; this attempt's staged data was discarded " +
            "— re-read the latest snapshot and retry the transaction")
        fresh
      } catch {
        case t: Throwable => fs.delete(attempt, true); throw t
      }
    maintain.foreach(mt => registerSnapshot(spark, next, mt, meta))
    next
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            versionDir: String,
                            m: Manifest): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(versionDir, ManifestName), true)
    // rename log lines are space-delimited: renameColumn refuses
    // whitespace in column names to keep the format unambiguous
    val renameLines = m.renames.sortBy(_._1)
      .map { case (sq, o, n) => s"#rename $sq $o $n\n" }.mkString
    val extraLines = m.extras.distinct.sorted
      .map { case (b, v) => s"#extra $b $v\n" }.mkString
    // DataType.json is one line — the parser splits on newlines
    val header =
      s"#buckets ${m.nBuckets} $HashName\n#txn ${m.txn}\n" +
        s"#ts ${m.ts}\n#schema ${m.schema.json}\n" +
        renameLines + extraLines
    try out.write((header + m.buckets.toSeq.sorted
      .map { case (b, v) => s"$b $v" }
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
  }

  /** Parse `versionDir`'s manifest. One without a hashed `#buckets`
    * line, a `#ts` line or a `#schema` line is refused with an
    * IllegalArgumentException naming it and the missing line: no
    * writer of this engine produces one, so a reader does not guess
    * at what it meant. */
  private[sources] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                                    versionDir: String): Manifest = {
    val path = new org.apache.hadoop.fs.Path(versionDir, ManifestName)
    val in = fs.open(path)
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString("UTF-8")
    } finally in.close()
    var nBuckets = -1; var txn = -1L
    var ts: Option[Long] = None
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    val renames = scala.collection.mutable
      .ListBuffer.empty[(Long, String, String)]
    val extras = scala.collection.mutable.ListBuffer.empty[(Int, Long)]
    val buckets = text.linesIterator.filter(_.nonEmpty).flatMap { l =>
      val parts = l.split(' ')
      parts(0) match {
        case "#buckets" =>
          require(parts.length >= 3,
            s"readManifest: $path has no bucket hash on its #buckets " +
            s"line; this engine buckets with '$HashName'")
          require(parts(2) == HashName,
            s"readManifest: layout $versionDir was written with bucket " +
            s"hash '${parts(2)}'; this engine buckets with '$HashName'")
          nBuckets = parts(1).toInt
          None
        case "#txn" => txn = parts(1).toLong; None
        case "#ts" => ts = Some(parts(1).toLong); None
        case "#rename" =>
          renames += ((parts(1).toLong, parts(2), parts(3))); None
        case "#extra" =>
          extras += ((parts(1).toInt, parts(2).toLong)); None
        case "#schema" =>
          schema = Some(org.apache.spark.sql.types.DataType
            .fromJson(l.substring("#schema ".length))
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          None
        case b      => Some(b.toInt -> parts(1).toLong)
      }
    }.toMap
    def missing(line: String) =
      s"readManifest: $path has no $line line; this engine reads only " +
      "manifests that record their bucket hash, commit time and schema"
    require(nBuckets >= 0, missing("#buckets"))
    require(ts.nonEmpty, missing("#ts"))
    require(schema.nonEmpty, missing("#schema"))
    Manifest(buckets, nBuckets, txn, schema.get, ts.get,
      renames.toList, extras.toList)
  }

  /** The version ids of the `v<seq>` dirs listed under `baseDir`
    * (none when it does not exist): one listing. */
  private def listedVersions(fs: org.apache.hadoop.fs.FileSystem,
                             baseDir: String): Seq[Long] = {
    (try fs.listStatus(new org.apache.hadoop.fs.Path(baseDir)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(_.drop(1).toLongOption)
  }

  /** Committed (manifest-present) version ids under `baseDir`, sorted. */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
                                baseDir: String): Seq[Long] =
    listedVersions(fs, baseDir).filter(j => fs.exists(
      new org.apache.hadoop.fs.Path(s"$baseDir/v$j", ManifestName))).sorted

  /** The layout's bucket of a key column: FNV-1a of the key's canonical
    * string rendering, mod `n`. Deliberately the engine's own hash, not
    * `hash()` (Murmur3): a persisted layout must survive engine
    * upgrades, and the graft FNV chain is also exactly replayable in
    * external SQL (the oracle convention). NULL keys render as '' —
    * a bucket collision, not an identity collision (upsert matches on
    * the key VALUE; the bucket only scopes which files a batch reads).
    */
  private def bucketOf(key: String, nBuckets: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(graft.functions.Expressions.fnv_hash(
      coalesce(col(key).cast("string"), lit(""))), lit(nBuckets.toLong))
      .cast("int")
  }

  /** The typed refusal of a read of `man` (of `buckets` only, when
    * given) — what `what` names — when vacuum reclaimed a holder dir it
    * needs: the one retention check of [[readSnapshot]],
    * [[restoreSnapshot]], [[snapshotVersionsDetailed]] and
    * [[tableChanges]]. One exists() per holder dir. */
  private def reclaimed(fs: org.apache.hadoop.fs.FileSystem, base: String,
                        man: Manifest, what: String,
                        buckets: Option[Set[Int]] = None)
      : Option[VacuumedVersionException] = {
    val gone = holderDirs(base, man, buckets)
      .filterNot(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    gone.headOption.map(g => new VacuumedVersionException(
      s"$what references ${gone.length} bucket dir(s) reclaimed by " +
      s"vacuumSnapshots (first: $g) — it is no longer fully readable"))
  }

  /** Resolve a [[streamUpsertSink]] version directory through its
    * manifest to the full current snapshot (bucket dirs may live in
    * older versions — copy-on-write never copies untouched buckets).
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   versionDir: String): DataFrame = {
    val fs = fsFor(versionDir, spark)
    val base = new org.apache.hadoop.fs.Path(versionDir)
      .getParent.toString
    // typed retention contract: an AS-OF read of a reclaimed version
    // fails as [[VacuumedVersionException]], never as a raw
    // FileNotFound deep inside a parquet scan
    if (!fs.exists(new org.apache.hadoop.fs.Path(versionDir,
        ManifestName)))
      throw new VacuumedVersionException(
        s"readSnapshot: $versionDir has no committed manifest — the " +
        "version was never committed or was reclaimed by " +
        "vacuumSnapshots (retention is the vacuum cadence; " +
        "snapshotVersionsDetailed lists what is still readable)")
    val man = readManifest(fs, versionDir)
    require(man.buckets.nonEmpty,
      s"readSnapshot: $versionDir has an empty manifest")
    // a SURVIVING manifest can still reference a bucket whose holding
    // version was vacuumed (it was live for the CURRENT manifest, not
    // for this historical one) — bounded check, one exists() per
    // bucket. Probed ONLY for historical (AS-OF) reads: the latest
    // manifest's buckets are vacuum-protected by invariant, so the hot
    // latest-snapshot path must not pay nBuckets metadata RPCs per
    // query just to improve the error type of a case that cannot
    // occur. Latest-ness costs ONE raw listing of the base dir (the
    // cheap op on object stores) instead of nBuckets HEADs — no
    // per-version manifest probes: publish is an atomic rename of a
    // fully-staged dir (manifest written before the rename), so every
    // listed v<seq> dir is a committed version and max(listed) is the
    // latest.
    val thisSeq = new org.apache.hadoop.fs.Path(versionDir).getName
      .stripPrefix("v").toLongOption
    val latestListed = listedVersions(fs, base).maxOption
    if (thisSeq.isEmpty || thisSeq != latestListed)
      reclaimed(fs, base, man, s"readSnapshot: $versionDir")
        .foreach(throw _)
    // schema evolution means bucket files can span eras: the manifest's
    // recorded schema reads them uniformly (files that predate a column
    // null-fill it) with NO footer pass; renamed layouts read
    // era-by-era — and merge-on-read subtracts this version's deletion
    // vectors (one bounded anti-join; identity when the version has
    // none). All of that is [[eraReadLive]].
    eraReadLive(spark, fs, base, man, man.buckets.keys.toSeq,
      readDv(spark, fs, versionDir))
  }

  /** Committed snapshot versions under a [[streamUpsertSink]] base
    * directory, ascending, as (seq, txn) pairs — the TIME-TRAVEL index:
    * every listed `v<seq>` has a durable manifest, so
    * `readSnapshot(spark, s"$baseDir/v$seq")` resolves the table AS OF
    * that commit (until [[vacuumSnapshots]] reclaims versions the
    * CURRENT manifest no longer references — retention is the vacuum
    * cadence, exactly a table format's time-travel window). `txn` is
    * the source batch id for data commits, -1 for maintenance commits
    * (compaction). Bounded driver work: one listing + one manifest
    * read per committed version.
    */
  def snapshotVersions(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String): Seq[(Long, Long)] =
    head(spark, baseDir).log.map { case (v, m) => v -> m.txn }

  /** [[snapshotVersions]] plus the RETENTION verdict per version:
    * (seq, txn, readable) where readable means every bucket dir the
    * version's manifest references still exists — i.e. an AS-OF
    * `readSnapshot` of it would succeed rather than throw
    * [[VacuumedVersionException]]. A version can be listed yet
    * unreadable: it survived vacuum because the CURRENT manifest still
    * points into it, while an OLDER version it references did not.
    * Bounded driver work: one manifest read + ≤ nBuckets exists()
    * probes per committed version — never a data scan.
    */
  def snapshotVersionsDetailed(spark: org.apache.spark.sql.SparkSession,
                               baseDir: String)
      : Seq[(Long, Long, Boolean)] = {
    val h = head(spark, baseDir)
    h.log.map { case (v, m) =>
      (v, m.txn, reclaimed(h.fs, baseDir, m, s"v$v").isEmpty)
    }
  }

  /** The TIMESTAMP AS OF index: every committed version's commit
    * wall-clock millis, ascending by version — the manifests' `#ts`
    * stamps, written strictly monotone ([[nextCommitTs]]), so
    * resolution is unambiguous. Bounded driver work: one manifest read
    * per committed version.
    */
  def commitTimestamps(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String): Seq[(Long, Long)] =
    head(spark, baseDir).log.map { case (v, m) => v -> m.ts }

  /** Resolve a wall-clock timestamp to the snapshot version current AS
    * OF that instant — the `TIMESTAMP AS OF` verb every table format
    * pairs with its version-number time travel: the LATEST commit
    * whose effective time ([[commitTimestamps]]) is <= `tsMillis`.
    * A timestamp at or past the last commit resolves to the latest
    * version (the table's current state as of then); a timestamp
    * BEFORE the oldest retained commit throws the typed
    * [[VacuumedVersionException]] — that history was either never
    * written or has been reclaimed, and retention is the vacuum
    * cadence here exactly as for version-number reads (the returned
    * dir can itself still fail typed on read if a bucket it
    * references was vacuumed — [[readSnapshot]]'s contract).
    * Returns the version directory, ready for [[readSnapshot]].
    */
  def timestampAsOf(spark: org.apache.spark.sql.SparkSession,
                    baseDir: String, tsMillis: Long): String = {
    val h = head(spark, baseDir)
    h.layout("timestampAsOf")
    val times = h.log.map { case (v, m) => v -> m.ts }
    times.filter(_._2 <= tsMillis).lastOption match {
      case Some((v, _)) => s"$baseDir/v$v"
      case None =>
        throw new VacuumedVersionException(
          s"timestampAsOf: $tsMillis predates the oldest retained " +
          s"commit of $baseDir (${times.head._2} at v${times.head._1})" +
          " — that history was never committed or was reclaimed by " +
          "vacuumSnapshots (retention is the vacuum cadence)")
    }
  }

  /** RESTORE TABLE ... TO VERSION AS OF — the rollback verb every
    * table format pairs with time travel: publish a NEW commit whose
    * state is exactly the historical version's, WITHOUT copying a
    * byte of data — the manifest simply points every bucket back at
    * the restored era's holders (base pointers, extras appendices,
    * deletion vectors, schema, and rename log all copy forward from
    * the target). History stays intact: the rolled-back commits
    * remain time-travelable until vacuum reclaims them, and because
    * the restore is itself a commit, the change feed re-derives it
    * honestly (reverted updates emit pre/post pairs, un-deleted rows
    * emit inserts, rolled-back inserts emit deletes). The restored
    * version must still be fully readable — a vacuumed target throws
    * the typed [[VacuumedVersionException]] up front. Works across a
    * [[rebucket]] (each manifest pins its own nBuckets; streams must
    * restart with the restored count, the persisted-layout guard).
    * Maintenance commit (txn -1), OCC-protected, single writer.
    * Returns the committed version dir.
    */
  def restoreSnapshot(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String, toSeq: Long): String = {
    val h = head(spark, baseDir)
    h.layout("restoreSnapshot")
    require(toSeq != h.seq,
      s"restoreSnapshot: v$toSeq is already the latest version")
    if (!h.versions.contains(toSeq))
      throw new VacuumedVersionException(
        s"restoreSnapshot: version v$toSeq of $baseDir is not " +
        "committed or was reclaimed by vacuumSnapshots")
    val man = h.at(toSeq)
    reclaimed(h.fs, baseDir, man, s"restoreSnapshot: v$toSeq")
      .foreach(throw _)
    // the restored ERA's tombstone set defines its live rows; the commit
    // time stays monotone against the CURRENT head
    commit(spark, h, None)(_ => Staged(man.copy(txn = -1L),
      readDv(spark, h.fs, s"$baseDir/v$toSeq").map(_.df)))
  }

  /** DESCRIBE HISTORY for a [[streamUpsertSink]] layout: one row per
    * committed version — (version, txn, is_maintenance,
    * n_buckets_written = buckets whose current files this commit
    * wrote, n_buckets_current = buckets the LATEST manifest still
    * resolves to this version, schema_cols = the schema recorded at
    * the commit). The audit surface every table format exposes:
    * which commits were data vs maintenance, how much of the table
    * each rewrote, and how much of each survives. Bounded driver
    * work — one manifest read per version, never a data scan.
    */
  def describeHistory(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String): DataFrame = {
    val h = head(spark, baseDir)
    val latest = h.man.map(bucketHolders).getOrElse(Nil)
    val rows = h.log.map { case (v, man) =>
      // merge-on-read appendices count as written/current holders too
      (v, man.txn, if (man.txn < 0) 1L else 0L,
        bucketHolders(man).count(_._2 == v).toLong,
        latest.count(_._2 == v).toLong,
        man.schema.fieldNames.mkString(","))
    }
    import spark.implicits._
    rows.toDF("version", "txn", "is_maintenance", "n_buckets_written",
      "n_buckets_current", "schema_cols")
  }

  /** Remove [[streamUpsertSink]] snapshot versions the retention
    * policy no longer protects — the VACUUM every copy-on-write table
    * format pairs with its writer.
    *
    * Default (`retainAfterTs` = None): only the latest committed
    * version is protected — a version survives iff it is the latest
    * or some bucket of the latest manifest still points into it
    * (everything older is unreachable; future batches chain only off
    * the latest). Time-travel retention is then the vacuum cadence.
    *
    * With `retainAfterTs` = Some(cutoff): TIME-BASED RETENTION (the
    * `VACUUM ... RETAIN` contract) — every version whose effective
    * commit time ([[commitTimestamps]]) is >= the cutoff is protected
    * TOGETHER WITH ITS HOLDER CLOSURE (the version dirs its manifest
    * references), so an AS-OF read of any retained version — by
    * number or by [[timestampAsOf]] — keeps working FULLY inside the
    * window, not just "happens to survive partially". Versions older
    * than the window that no retained manifest references are
    * reclaimed.
    *
    * Returns the removed version ids. Run it while the stream is
    * STOPPED — an in-flight batch may be writing the next
    * (uncommitted) version, which this deliberately never touches.
    */
  def vacuumSnapshots(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String,
                      retainAfterTs: Option[Long] = None): Seq[Long] = {
    val h = head(spark, baseDir)
    val fs = h.fs
    h.versions.lastOption match {
      case None => Seq.empty
      case Some(current) =>
        val retained: Seq[Long] = retainAfterTs match {
          case None => Seq(current)
          case Some(cut) =>
            (h.log.filter(_._2.ts >= cut).map(_._1) :+ current).distinct
        }
        val live = retained.flatMap(v => bucketHolders(h.at(v)).map(_._2))
          .toSet ++ retained
        val dead = h.versions.filterNot(live.contains)
        // in-version maintenance metadata dies with the version dir
        dead.foreach(v =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$baseDir/v$v"), true))
        // a reclaimed version's root set can never be read again
        // (readSnapshot of it throws VacuumedVersionException): its
        // registry entries would only pin driver memory
        val deadDirs = dead.map(v => s"$baseDir/v$v")
        graft.plans.ZoneRegistry.forgetUnder(deadDirs)
        graft.plans.StatsRegistry.forgetUnder(deadDirs)
        // orphaned staging attempts (a crashed or lost-race writer's
        // leftovers): with every writer stopped — the vacuum contract —
        // any dir still under _attempt/ was never published
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$baseDir/_attempt"), true)
        dead
    }
  }

  /** Restart/replay contract (foreachBatch is AT-LEAST-ONCE — Spark
    * replays the last uncommitted batch with the SAME batch id after a
    * crash, so idempotence is this sink's burden, discharged by
    * construction): versions are a SEQUENCE of commit slots `v<seq>`
    * decoupled from batch ids; each committed manifest carries the
    * source batch id as a `txn` marker (the Delta/Iceberg transaction-
    * identifier pattern), so maintenance commits (compaction, txn -1)
    * can interleave without ever colliding with a future replayed
    * batch. The prior snapshot is recovered DURABLY as the latest
    * committed manifest — never from driver memory, listed through the
    * Hadoop FileSystem API so recovery works on any scheme (hdfs://,
    * s3a://). A replayed batch whose txn is already committed is
    * SKIPPED (it fully applied; only the checkpoint commit was lost);
    * a half-written attempt is an orphan under `_attempt/` that never
    * reached its slot (commits are one atomic staged-dir rename — see
    * [[ConcurrentCommitException]]), so the retry stages afresh and
    * publishes onto the same still-empty slot — the snapshot chain a
    * restarted run produces equals an uninterrupted run's
    * version-for-version (pinned by CheckpointRestartSpec's fifth
    * shape). The layout's bucket count
    * and hash are persisted in every manifest and `require`d to match
    * on restart — a different bucketing would silently miss prior
    * rows. Pass `checkpointDir` for restartable sources; without it a
    * restarted query renumbers batches from 0 and needs a fresh
    * `baseDir`.
    */
  def streamUpsertSink(stream: DataFrame, baseDir: String, key: String,
                       orderCols: Seq[String],
                       checkpointDir: Option[String] = None,
                       trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
                       nBuckets: Int = 8,
                       maintain: Option[Maintain] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery, SnapshotHandle) = {
    require(stream.isStreaming, "streamUpsertSink: batch input")
    require(orderCols.nonEmpty, "streamUpsertSink: empty orderCols")
    require(nBuckets >= 1, "streamUpsertSink: nBuckets must be >= 1")
    require(!stream.columns.contains(BucketCol),
      s"streamUpsertSink: reserved column name $BucketCol collides " +
      "with an input column")
    val handle = new SnapshotHandle
    val spark = stream.sparkSession
    val writer0 = stream.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        val h = head(spark, baseDir)
        // the layout guard runs before anything else: a different
        // bucketing would rehash keys into different buckets and
        // silently miss existing rows on every subsequent merge
        h.man.foreach { pm =>
          require(pm.nBuckets == nBuckets,
            s"streamUpsertSink: layout $baseDir was written with " +
            s"nBuckets=${pm.nBuckets}; restarting with $nBuckets " +
            "would rehash keys into different buckets and miss " +
            "existing rows — pass the layout's bucket count")
        }
        // idempotent replay (the txn marker): walk committed versions
        // from the tail to the newest DATA version — if it already
        // carries this batch id, the batch fully applied and only the
        // checkpoint commit was lost; re-applying would double it.
        // Data txns are the stream's strictly increasing batch ids, so
        // one data version decides; maintenance commits (txn -1,
        // compaction) in between are skipped over.
        val lastData = h.versions.reverseIterator.map(v => v -> h.at(v))
          .find(_._2.txn >= 0)
        lastData.filter(_._2.txn == id) match {
          case Some((v, _)) =>
            handle.dir = Some(s"$baseDir/v$v")
            // a restarted driver has empty registries — refresh them
            // from the durable metadata even on the skip path
            maintain.foreach(mt =>
              registerSnapshot(spark, s"$baseDir/v$v", mt))
          case None =>
            handle.dir = Some(applyDelta(spark, h, batch, key,
              orderCols, nBuckets, maintain, txn = id))
        }
        ()
    }
    val writer1 = checkpointDir.fold(writer0)(d =>
      writer0.option("checkpointLocation", d))
    val writer = trigger.fold(writer1)(t => writer1.trigger(t))
    val q = writer.start()
    (q, handle)
  }

  /** The table-CHECK gate shared by every incoming-data commit (upsert
    * delta, MERGE source): see [[Maintain]]'s `check` scaladoc for the
    * contract (raw rows validated pre-staging; TRUE/NULL pass, FALSE
    * rejects typed; unknown column references reject typed up front).
    */
  private def checkGate(spark: org.apache.spark.sql.SparkSession,
                        incoming: DataFrame,
                        maintain: Option[Maintain],
                        opName: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    maintain.flatMap(_.check).foreach { case (cname, sql) =>
      // pre-resolution, `s.a` (struct access) and `t.a` (qualified
      // ref) are both a 2-part UnresolvedAttribute — testing only the
      // LAST segment spuriously rejected struct-field constraints. A
      // reference is accepted when ANY segment names a delta column
      // (head = the struct/qualifier, last = a plain column); only a
      // reference NO segment of which resolves rejects typed up front.
      val unknown = spark.sessionState.sqlParser.parseExpression(sql)
        .collect {
          case u: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute => u
        }.filterNot(_.nameParts.exists(n =>
          incoming.columns.exists(_.equalsIgnoreCase(n))))
        .map(_.nameParts.mkString(".")).distinct
      if (unknown.nonEmpty)
        throw new ConstraintViolationException(
          s"$opName: CHECK constraint '$cname' ($sql) references " +
          s"column(s) ${unknown.mkString(", ")} absent from the " +
          s"incoming rows (has: ${incoming.columns.mkString(", ")}) — " +
          "transaction rejected, no version written")
      val bad = incoming.filter(!coalesce(expr(sql), lit(true))).count()
      if (bad > 0L)
        throw new ConstraintViolationException(
          s"$opName: $bad row(s) of the incoming commit violate " +
          s"CHECK constraint '$cname' ($sql) — transaction rejected, " +
          "no version written")
    }
  }

  /** One delta applied to the snapshot layout under `baseDir` as
    * commit slot `txn` — the shared core of the streaming sink's
    * foreachBatch and the batch writer [[upsertBatch]]: latest row per
    * key within the delta (by `orderCols` descending), copy-on-write
    * merge into ONLY the touched buckets, static-overwrite write with
    * optional clustering/rolling, maintenance metadata before the
    * manifest commit marker, registries refreshed after. Returns the
    * committed version dir.
    *
    * Schema EVOLUTION happens here: the merge is
    * [[graft.operators.Upsert.upsertEvolve]] over prior buckets read
    * under the recorded schema, so a delta carrying NEW columns
    * widens the snapshot (old rows read back NULL) and a delta missing
    * an old column nulls it on the rows it replaces — the ADD COLUMN
    * semantics every table format provides, with type changes refused
    * loudly.
    */
  private def applyDelta(spark: org.apache.spark.sql.SparkSession,
                         h: Head, delta: DataFrame, key: String,
                         orderCols: Seq[String], nBuckets: Int,
                         maintain: Option[Maintain], txn: Long)
      : String = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val dataCols = delta.columns.toIndexedSeq
    val latest = delta
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn(BucketCol, bucketOf(key, nBuckets))
      .persist()
    try {
      // CHECK constraint gate: one bounded pass over the RAW delta
      // (pre-dedup — a violating row superseded by a newer row for the
      // same key in the same batch still rejects, matching the
      // "every incoming commit's delta is validated" contract: each
      // intermediate update must satisfy the constraint, not just the
      // per-key winner), before anything is staged — a violating
      // commit consumes no slot and leaves the table untouched. SQL
      // semantics: violation iff the predicate is FALSE (NULL passes).
      // Column references are validated up front so a constraint
      // naming a column absent from the delta surfaces as the typed
      // exception, not an untyped AnalysisException at count() time.
      checkGate(spark, delta, maintain, "applyDelta")
      // the buckets this delta touches: bounded by nBuckets
      val touched = bucketsIn(latest, col(BucketCol))
      // durable prior-version lookup (see restart contract): the
      // latest committed manifest IS the current state — data or
      // maintenance commit alike. The commit lands on the slot after
      // it, independent of the batch id ([[commit]]).
      val priorMap = h.man.map(_.buckets).getOrElse(Map.empty[Int, Long])
      // copy-on-write: read ONLY the touched buckets' current files
      // (base pointers + merge-on-read extras appendices)
      val priorBuckets = touched.toIndexedSeq.filter(priorMap.contains)
      val batchData = latest.select(dataCols.map(col): _*)
      // prior files read DV-FILTERED: a tombstoned row must not
      // resurrect through the rewrite, and the rewrite PURGES the
      // touched buckets' tombstones (their files are replaced)
      val priorDv = h.dv(spark)
      // prior files read under the manifest's RECORDED schema: (a) no
      // per-commit footer pass, (b) columns dropped by dropColumn stay
      // dropped (a mergeSchema read would resurrect them from old files
      // on the very next upsert), (c) narrow-era files upcast to the
      // recorded widened type, (d) renamed columns read era-by-era
      // under their physical names. All [[eraReadLive]].
      val merged = h.man match {
        case Some(pm) if priorBuckets.nonEmpty =>
          graft.operators.Upsert.upsertEvolve(
            eraReadLive(spark, h.fs, h.base, pm, priorBuckets, priorDv),
            batchData, key)
        case _ => batchData
      }
      stageAndPublish(spark, h, merged, touched, priorMap,
        priorDv, nBuckets, key, maintain, txn)
    } finally { latest.unpersist(); () }
  }

  /** The one bucket-partitioned write of every bucket-writing commit
    * (upsert merge, MERGE INTO, rebucket, compaction, copy-on-write
    * delete, update-vector appendices): `df` carries the int bucket
    * column; each bucket's rows land in one task, are sorted by the
    * declared within-bucket file order, and roll to a new file at
    * `maxRecordsPerFile`, so every rolled file covers a contiguous range
    * of that order — tight zones within the bucket. With any metadata
    * kind maintained, the write goes through [[FoldingParquetFormat]]:
    * each write task folds its files' zones, stats, dictionaries and
    * Blooms as it writes them. Returns the schema of the frame written
    * (data columns plus the bucket column) and those partials.
    *
    * The file order: clusterBy sorts one dimension tight; zorderBy sorts
    * by the 16-bit-per-dim Morton interleave of TWO dimensions (linear
    * [[mortonCell]]s against THIS write's min/max — one 1-row broadcast
    * agg, so per-bucket rewrites get per-bucket bounds, i.e. tighter
    * boxes), so each rolled file covers a small BOUNDING BOX and zone
    * maps prune RANGE predicates on EITHER column (the OPTIMIZE ZORDER BY
    * shape; q205 measures why: a concatenated sort answers one dimension
    * and touches every file for the other). Skewed dimensions should be
    * pre-transformed — linear cells, not equi-depth, is the deliberate
    * cheap trade. The bucket column leads the sort, so the writer's
    * required partition ordering is already satisfied (no re-sort).
    */
  private def writeBuckets(df: DataFrame, attempt: String,
                           maintain: Option[Maintain]): Written = {
    import org.apache.spark.sql.functions.{broadcast, col, expr,
      max => fmax, min => fmin}
    val bucketed = df.repartition(col(BucketCol))
    val sorted = maintain.flatMap(_.zorderBy) match {
      case Some((c1, c2)) =>
        val bounds = bucketed.agg(
          fmin(col(c1).cast("long")).as("__n1"),
          fmax(col(c1).cast("long")).as("__x1"),
          fmin(col(c2).cast("long")).as("__n2"),
          fmax(col(c2).cast("long")).as("__x2"))
        bucketed.crossJoin(broadcast(bounds))
          .withColumn("__z", graft.functions.Expressions.morton16(
            expr(mortonCell(c1, "__n1", "__x1")),
            expr(mortonCell(c2, "__n2", "__x2"))))
          .sortWithinPartitions(col(BucketCol), col("__z"))
          .drop("__z", "__n1", "__x1", "__n2", "__x2")
      case None => maintain.flatMap(_.clusterBy).fold(bucketed)(
        c => bucketed.sortWithinPartitions(col(BucketCol), col(c)))
    }
    val plain = sorted.write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
    val w = maintain.flatMap(_.maxRecordsPerFile)
      .fold(plain)(m => plain.option("maxRecordsPerFile", m.toString))
    val partials = maintain.filter(MetaFold.maintains).fold {
      w.parquet(attempt); Seq.empty[MetaFold.FilePartial]
    }(mt => MetaFold.folding(df.sparkSession, mt)(opts =>
      w.format(MetaFold.Format).options(opts).save(attempt)))
    // the attempt holds nothing but this write's bucket dirs yet
    Written(sorted.schema, fsFor(attempt, df.sparkSession)
      .listStatus(new org.apache.hadoop.fs.Path(attempt))
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).toSet, partials)
  }

  /** Commit of every bucket-REWRITING transaction with a keyed
    * replacement (upsert merge, MERGE INTO, rebucket): `merged` is the
    * complete replacement content of `touched` buckets, withOUT the
    * bucket column. Records the MONOTONE snapshot schema, carries
    * forward the untouched buckets' deletion vectors and extras, and
    * commits. Returns the committed version dir.
    */
  private def stageAndPublish(spark: org.apache.spark.sql.SparkSession,
                              h: Head, merged: DataFrame,
                              touched: Seq[Int],
                              priorMap: Map[Int, Long],
                              priorDv: Option[DvSet],
                              nBuckets: Int, key: String,
                              maintain: Option[Maintain],
                              txn: Long): String = {
    // the recorded snapshot schema must be MONOTONE across
    // partial-bucket commits: `merged` covers only the TOUCHED
    // buckets, so a column evolved earlier into buckets this commit
    // does not touch would vanish from the record — and readSnapshot's
    // schema-specified read would then silently drop it for EVERY row,
    // including rows whose files carry it. Union with the prior
    // manifest's schema; prior-only fields append nullable, since the
    // touched buckets' files null-fill them. Same-name fields must be
    // monotone in TYPE too, not just in column set: after a
    // partial-bucket int→long widening the manifest records long, and
    // a later commit that touches only int-era buckets with an int
    // delta produces merged=int — if the record followed merged,
    // readSnapshot would read the UNTOUCHED buckets' long files with
    // an int-specified schema (fail or corrupt). So same-name fields
    // take the WIDER of merged vs prior along Upsert.widened's
    // lossless lattice.
    val mergedSchema = org.apache.spark.sql.types.StructType(
      merged.schema.filterNot(_.name == BucketCol))
    val recordedSchema = h.man.map(_.schema).fold(mergedSchema) { ps =>
      val priorByName = ps.map(f => f.name -> f).toMap
      val have = mergedSchema.map(_.name).toSet
      val monotone = mergedSchema.map { f =>
        priorByName.get(f.name).fold(f) { pf =>
          val wide = graft.operators.Upsert
            .widened(f.dataType, pf.dataType).getOrElse(f.dataType)
          f.copy(dataType = wide,
                 nullable = f.nullable || pf.nullable)
        }
      }
      org.apache.spark.sql.types.StructType(monotone ++
        ps.filterNot(f => have.contains(f.name))
          .map(_.copy(nullable = true)))
    }
    commit(spark, h, maintain) { attempt =>
      val written = writeBuckets(
        merged.withColumn(BucketCol, bucketOf(key, nBuckets)), attempt,
        maintain)
      // a touched bucket left without rows (a MERGE that deletes all of
      // them) wrote no dir: it leaves the manifest
      rewriteStaged(h, priorMap, priorDv, written.buckets,
        touched.toSet -- written.buckets, nBuckets, txn, recordedSchema,
        Some(written))
    }
  }

  /** The manifest rule of every bucket rewrite: the `rewritten` buckets
    * point at this commit's slot and the `dropped` (emptied) ones leave
    * the layout; both lose their extras appendices and tombstones,
    * which the rewrite applied physically. Every other bucket of
    * `prior` keeps its pointer, appendices and tombstones, and the
    * rename log carries over. `prior` is empty for a rebucket: its full
    * rewrite under a new modulus carries no appendix forward. */
  private def rewriteStaged(h: Head, prior: Map[Int, Long],
                            priorDv: Option[DvSet], rewritten: Set[Int],
                            dropped: Set[Int], nBuckets: Int, txn: Long,
                            schema: org.apache.spark.sql.types.StructType,
                            written: Option[Written]): Staged = {
    val gone = rewritten ++ dropped
    val buckets = (prior -- dropped) ++ rewritten.map(_ -> h.next)
    require(buckets.nonEmpty, s"every row of ${h.base} would be gone — " +
      "refusing to commit an empty snapshot (drop the table instead)")
    Staged(Manifest(buckets, nBuckets, txn, schema,
        renames = h.man.map(_.renames).getOrElse(Nil),
        extras = h.man.map(_.extras).getOrElse(Nil)
          .filter(e => prior.contains(e._1) && !gone(e._1))),
      dvMinusBuckets(priorDv, gone), written)
  }

  /** The bucket-rewrite stage of [[compactSnapshot]] and
    * [[deleteWhere]]: the head's live rows of `buckets` (read under
    * `target`, tombstones applied, extras appendices folded in), each
    * row's bucket taken from its source file path — no key column is
    * needed — and those `keep` passes written in ONE partitioned write
    * under the declared file order ([[writeBuckets]]). A bucket with no
    * row left writes no dir, and each caller decides from
    * [[Written.buckets]] what an emptied bucket becomes. */
  private def rewriteBuckets(spark: org.apache.spark.sql.SparkSession,
                             h: Head, priorDv: Option[DvSet],
                             buckets: Set[Int], attempt: String,
                             maintain: Option[Maintain],
                             target: Option[org.apache.spark.sql.types
                               .StructType] = None,
                             keep: Option[org.apache.spark.sql.Column] = None)
      : Written = {
    import org.apache.spark.sql.functions.col
    val live = eraReadLive(spark, h.fs, h.base, h.man.get,
        buckets.toSeq.sorted, priorDv, target, withPos = true)
      .withColumn(BucketCol, pathBucket(col("__dv_f")))
      .drop("__dv_f", "__dv_p")
    writeBuckets(keep.fold(live)(live.filter), attempt, maintain)
  }

  /** BATCH writer for a [[streamUpsertSink]] layout — stream and batch
    * writers share one table, the lakehouse norm (backfills, GDPR
    * fixes, and SCHEMA EVOLUTION arrive as batch commits, since a
    * streaming source's schema is pinned by its checkpoint). Applies
    * `delta` (latest row per key by `orderCols`) as a maintenance
    * commit (`txn` -1 — the stream's replay skip only consults data
    * txns, so interleaved batch commits never collide with it). Run
    * with the stream STOPPED, like every maintenance op here. The
    * bucket count comes from the persisted layout. Returns the
    * committed version dir.
    */
  def upsertBatch(spark: org.apache.spark.sql.SparkSession,
                  baseDir: String, delta: DataFrame, key: String,
                  orderCols: Seq[String],
                  maintain: Option[Maintain] = None): String = {
    require(!delta.isStreaming, "upsertBatch: streaming input — use " +
      "streamUpsertSink")
    val h = head(spark, baseDir)
    applyDelta(spark, h, delta, key, orderCols,
      h.layout("upsertBatch").nBuckets, maintain, txn = -1L)
  }

  /** SQL MERGE INTO for the snapshot sink — the general conditional
    * write verb every table format provides, of which upsert is the
    * unconditional special case:
    *
    * {{{
    *   MERGE INTO snapshot t USING source s ON t.<key> = s.<key>
    *   WHEN MATCHED AND <deleteWhen>     THEN DELETE
    *   WHEN MATCHED AND <updateWhen>     THEN UPDATE SET *  -- source row
    *   WHEN NOT MATCHED AND <insertWhen> THEN INSERT *      -- source row
    * }}}
    *
    * Clause semantics follow the SQL standard: for a matched pair
    * DELETE evaluates first, then UPDATE, else the target row stands;
    * an unmatched target row always survives; an unmatched source row
    * inserts when `insertWhen` holds. A NULL condition value means the
    * clause is NOT taken (SQL three-valued logic). Conditions are
    * Columns over the joined view, where target columns appear as
    * `t_<name>` and source columns as `s_<name>` — both sides carry
    * the key. Defaults make the call an upsert: no delete clause,
    * update/insert unconditional.
    *
    * Contracts: the source must be KEY-UNIQUE (two source matches for
    * one target row are ambiguous — the standard's cardinality
    * violation — and refuse loudly); source columns must equal the
    * snapshot's data columns (MERGE is not the schema-evolution path —
    * that is [[upsertBatch]]); `maintain.check` validates the raw
    * source like every incoming commit. Copy-on-write on exactly the
    * buckets holding a source key; deletion vectors are applied on
    * read and purged/carried by [[stageAndPublish]]; OCC like every
    * commit; `txn` -1 (maintenance — never collides with stream
    * replay). Single-writer contract: run with the stream stopped.
    * Returns the committed version dir.
    */
  def mergeInto(spark: org.apache.spark.sql.SparkSession,
                baseDir: String, source: DataFrame, key: String,
                deleteWhen: Option[org.apache.spark.sql.Column] = None,
                updateWhen: Option[org.apache.spark.sql.Column] = None,
                insertWhen: Option[org.apache.spark.sql.Column] = None,
                maintain: Option[Maintain] = None): String = {
    import org.apache.spark.sql.functions._
    require(!source.isStreaming, "mergeInto: streaming source")
    val h = head(spark, baseDir)
    val man = h.layout("mergeInto")
    val snapSchema = man.schema
    require(source.columns.toSet == snapSchema.fieldNames.toSet,
      s"mergeInto: source columns (${source.columns.sorted.mkString(",")}) " +
      s"must equal the snapshot's (${snapSchema.fieldNames.sorted
        .mkString(",")}) — MERGE is not the schema-evolution path")
    checkGate(spark, source, maintain, "mergeInto")
    val src = source.persist()
    try {
      require(src.groupBy(col(key)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).isEmpty,
        s"mergeInto: the source has multiple rows for one $key — " +
        "ambiguous MATCHED actions (the standard's cardinality " +
        "violation); de-duplicate the source first")
      val touched = bucketsIn(src, bucketOf(key, man.nBuckets))
      val priorBuckets = touched.filter(man.buckets.contains)
      val priorDv = h.dv(spark)
      val dataCols = snapSchema.fieldNames.toIndexedSeq
      val target =
        if (priorBuckets.isEmpty) emptyFrame(spark, snapSchema)
        else eraReadLive(spark, h.fs, baseDir, man, priorBuckets, priorDv,
          target = Some(snapSchema))
      val t = target.select(dataCols.map(c => col(c).as(s"t_$c")): _*)
      val sp = src.select(dataCols.map(c => col(c).as(s"s_$c")): _*)
      val j = t.join(sp, col(s"t_$key") === col(s"s_$key"), "full_outer")
      val matched = col(s"t_$key").isNotNull && col(s"s_$key").isNotNull
      // NULL condition = clause not taken (SQL three-valued logic)
      def taken(c: Option[org.apache.spark.sql.Column],
                default: Boolean) =
        coalesce(c.getOrElse(lit(default)), lit(false))
      val doDelete = matched && taken(deleteWhen, default = false)
      val doUpdate = matched && !doDelete && taken(updateWhen, true)
      val doInsert = col(s"t_$key").isNull && taken(insertWhen, true)
      val takeSource = doUpdate || doInsert
      val keepTarget = (matched && !doDelete && !doUpdate) ||
        col(s"s_$key").isNull // unmatched target rows always survive
      val merged = j.filter(takeSource || keepTarget)
        .select(dataCols.map(c =>
          when(takeSource, col(s"s_$c")).otherwise(col(s"t_$c"))
            .as(c)): _*)
      stageAndPublish(spark, h, merged, touched, man.buckets, priorDv,
        man.nBuckets, key, maintain, txn = -1L)
    } finally { src.unpersist(); () }
  }

  /** CHANGE DATA FEED — typed per-commit row changes between two
    * committed versions (the `table_changes(from, to)` surface every
    * table format exposes for incremental downstream consumers):
    * one row per change, data columns plus
    * `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} and `_commit_version`.
    *
    * READ-SIDE derivation, O(churn) not O(table): each step diffs
    * the live rows of ONLY the buckets that changed at that commit —
    * its base pointer, its merge-on-read appendices or its
    * deletion-vector tombstones differ (copy-on-write means every
    * other bucket is bit-identical) — and that one diff yields every
    * event, deletion-vector deletes and restores included. Rows of a
    * changed bucket that did not change produce no events (prev/cur
    * null-safe struct comparison). Layout migrations ([[rebucket]]:
    * nBuckets changes) rewrite every file while changing no visible
    * row — those steps are skipped outright instead of paying a
    * full-table self-diff.
    * Schema evolution across the range is handled per era (each side
    * reads under its own manifest schema; events union by name,
    * missing columns null). A write-time CDF file would avoid the
    * changed-bucket re-read on heavy-churn tables — this read-side
    * derivation is the zero-write-amplification trade, correct for
    * any history the vacuum window still holds (reclaimed versions
    * throw [[VacuumedVersionException]] via the historical reads).
    *
    * `key` is the layout's upsert key (manifests do not record it).
    * Bounded driver work per step: two manifest reads + the changed
    * bucket set; all data work is distributed. Each version's
    * deletion vectors are read once per window.
    */
  def tableChanges(spark: org.apache.spark.sql.SparkSession,
                   baseDir: String, key: String,
                   fromSeq: Long, toSeq: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromSeq < toSeq,
      s"tableChanges: fromSeq $fromSeq must precede toSeq $toSeq")
    val h = head(spark, baseDir)
    val fs = h.fs
    ((fromSeq to toSeq) filterNot h.versions.toSet).headOption.foreach(v =>
      throw new VacuumedVersionException(
        s"tableChanges: version v$v of $baseDir is not committed or " +
        "was reclaimed by vacuumSnapshots — the change window is gone"))
    // each version's manifest and DV set read ONCE for the whole
    // window: adjacent steps share a version (step n's cur is step
    // n+1's prev)
    val manByVer = (fromSeq to toSeq).map(v => v -> h.at(v)).toMap
    val dvByVer = (fromSeq to toSeq).map(v =>
      v -> readDv(spark, fs, s"$baseDir/v$v")).toMap
    // the live rows of version `v`'s `buckets` (none it holds: empty)
    def readVersionBuckets(v: Long, buckets: Seq[Int]): DataFrame = {
      val man = manByVer(v)
      reclaimed(fs, baseDir, man, s"tableChanges: v$v of $baseDir",
        Some(buckets.toSet)).foreach(throw _)
      val held = buckets.filter(b => man.buckets.contains(b) ||
        man.extras.exists(_._1 == b))
      if (held.isEmpty) emptyFrame(spark, man.schema)
      else eraReadLive(spark, fs, baseDir, man, held, dvByVer(v))
    }
    def extrasOf(man: Manifest): Map[Int, Set[Long]] =
      man.extras.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the buckets of the tombstones present in exactly one of the two
    // sets — added by a DV delete or an update, or removed by a restore
    // or a rewrite: one plan over both sets, whatever their size
    def dvChangedBuckets(prev: Option[DvSet],
                         cur: Option[DvSet]): Set[Int] =
      Seq(prev, cur).zipWithIndex.collect { case (Some(d), i) =>
        d.df.select(col("file"), col("pos"), lit(i).as("__side"))
      }.reduceOption(_ union _).fold(Set.empty[Int])(tagged =>
        bucketsIn(tagged.groupBy(col("file"), col("pos"))
          .agg(min(col("__side")).as("__lo"), max(col("__side")).as("__hi"))
          .filter(col("__lo") === col("__hi")), pathBucket(col("file"))).toSet)
    val steps = (fromSeq + 1 to toSeq).map { seq =>
      val manPrev = manByVer(seq - 1)
      val manCur = manByVer(seq)
      if (manCur.nBuckets != manPrev.nBuckets) {
        // layout migration: every file rewritten, no visible row change
        None
      } else {
        // a bucket changed at this step when its base pointer differs
        // (a rewrite points it at this commit; a RESTORE points it
        // BACK at an older version — pointer INEQUALITY catches both;
        // so does a bucket that vanished or appeared), its merge-on-read
        // extras set changed, or its tombstone set changed. Every event
        // of the step comes from one live-vs-live diff of those buckets:
        // a new tombstone is a delete, a removed one an insert, and an
        // update commit's appendix plus tombstones a pre/post pair.
        val exPrev = extrasOf(manPrev); val exCur = extrasOf(manCur)
        val changed = ((manPrev.buckets.keySet ++ manCur.buckets.keySet)
          .filter(b => manPrev.buckets.get(b) != manCur.buckets.get(b)) ++
          (exPrev.keySet ++ exCur.keySet).filter(b =>
            exPrev.getOrElse(b, Set.empty) !=
              exCur.getOrElse(b, Set.empty)) ++
          dvChangedBuckets(dvByVer(seq - 1), dvByVer(seq))).toSeq.sorted
        Option.when(changed.nonEmpty) {
          // align eras across a RENAME COLUMN boundary: the prev
          // side reads under ITS manifest's names; renames recorded
          // AT this step project them to the cur side's names so
          // the by-name diff compares the same logical column
          val prev0 = readVersionBuckets(seq - 1, changed)
          val prev = manCur.renames.filter(_._1 == seq)
            .foldLeft(prev0) { case (df, (_, o, n)) =>
              df.withColumnRenamed(o, n) }
          val cur = readVersionBuckets(seq, changed)
          val pCols = prev.columns.toIndexedSeq
          val cCols = cur.columns.toIndexedSeq
          val all = (pCols ++ cCols).distinct
          def side(df: DataFrame, have: Seq[String], p: String) =
            df.select(all.map(c =>
              (if (have.contains(c)) col(c)
               else lit(null)).as(s"$p$c")): _*)
          val j = side(prev, pCols, "p_")
            .join(side(cur, cCols, "c_"),
              col(s"p_$key") === col(s"c_$key"), "full_outer")
          val pStruct = struct(all.map(c => col(s"p_$c")): _*)
          val cStruct = struct(all.map(c => col(s"c_$c")): _*)
          val isIns = col(s"p_$key").isNull
          val isDel = col(s"c_$key").isNull
          val isUpd = !isIns && !isDel && !(pStruct <=> cStruct)
          val evts = j
            .withColumn("__types",
              when(isIns, array(lit("insert")))
              .when(isDel, array(lit("delete")))
              .when(isUpd, array(lit("update_preimage"),
                                 lit("update_postimage")))
              .otherwise(array()))
            .withColumn("_change_type", explode(col("__types")))
          evts.select(all.map(c =>
            when(col("_change_type").isin("delete", "update_preimage"),
              col(s"p_$c")).otherwise(col(s"c_$c")).as(c)) :+
            col("_change_type") :+ lit(seq).as("_commit_version"): _*)
        }
      }
    }.flatten
    steps.reduceOption((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
      .getOrElse(emptyFrame(spark, manByVer(toSeq).schema
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType,
          nullable = false)))
  }

  /** Metadata-only ALTER TABLE DROP COLUMN for the snapshot sink —
    * the Delta column-mapping shape: the commit rewrites NO data file,
    * it records a manifest schema without `column`, and every reader
    * projects the column away (readSnapshot's schema-specified read
    * never touches its pages — columnar formats make an unread column
    * free). The bytes linger in old files until their bucket next
    * rewrites: upsert's prior read and compaction both read under the
    * recorded schema, so the next churn of a bucket purges the column
    * physically. Time travel keeps era semantics — pre-drop versions
    * still show it. `key` is the layout's upsert key and cannot be
    * dropped. Maintenance commit (txn -1), OCC-protected, single
    * writer. Returns the committed version dir.
    */
  def dropColumn(spark: org.apache.spark.sql.SparkSession,
                 baseDir: String, column: String, key: String): String = {
    val h = head(spark, baseDir)
    val man = h.layout("dropColumn")
    val sc = man.schema
    require(column != key,
      s"dropColumn: $column is the layout's upsert key")
    require(sc.fieldNames.contains(column),
      s"dropColumn: no column '$column' in " +
      s"(${sc.fieldNames.mkString(", ")})")
    // the full applicable DV set carries forward untouched — no file
    // was rewritten, so no tombstone was applied
    commit(spark, h, None)(_ => Staged(man.copy(txn = -1L,
        schema = org.apache.spark.sql.types.StructType(
          sc.filterNot(_.name == column))),
      h.dv(spark).map(_.df)))
  }

  /** Metadata-only ALTER TABLE RENAME COLUMN for the snapshot sink —
    * the Delta column-mapping sibling of [[dropColumn]]: the commit
    * rewrites NO data file; it records a manifest schema carrying the
    * new name plus a cumulative rename-log entry
    * (commit seq, old, new), and [[eraRead]] projects every file era
    * written BEFORE this commit from its old physical name to the
    * current one on read — so prior eras keep reading, later upserts
    * merge under the new name, and the next rewrite of a bucket
    * (upsert, compaction, CoW delete) lands its files physically
    * under the new name, amortizing the mapping away. Time travel
    * keeps era semantics: pre-rename versions still show the old
    * name. Renaming the upsert key is allowed — bucket residency
    * follows the key VALUE, not its name; callers pass the new name
    * to subsequent verbs. Maintenance commit (txn -1), OCC-protected,
    * single writer. Returns the committed version dir.
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession,
                   baseDir: String, oldName: String,
                   newName: String): String = {
    val h = head(spark, baseDir)
    val man = h.layout("renameColumn")
    val sc = man.schema
    require(sc.fieldNames.contains(oldName),
      s"renameColumn: no column '$oldName' in " +
      s"(${sc.fieldNames.mkString(", ")})")
    require(!sc.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"renameColumn: column '$newName' already exists")
    require(newName != BucketCol,
      s"renameColumn: '$newName' is the layout's reserved bucket column")
    // the manifest rename log is space-delimited
    require(!oldName.exists(_.isWhitespace) &&
            !newName.exists(_.isWhitespace) && newName.nonEmpty,
      "renameColumn: column names must be non-empty and whitespace-free")
    // no file was rewritten — tombstones carry forward untouched
    commit(spark, h, None)(_ => Staged(man.copy(txn = -1L,
        schema = org.apache.spark.sql.types.StructType(sc.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f)),
        renames = man.renames :+ ((h.next, oldName, newName))),
      h.dv(spark).map(_.df)))
  }

  /** Bucket-count evolution (ALTER TABLE CLUSTER BY — the re-shard
    * migration): rewrite the WHOLE live snapshot into `newBuckets`
    * FNV buckets under one OCC commit. The honest cost is a full-table
    * shuffle — there is no metadata trick that re-homes keys across a
    * different modulus — so this is the deliberate, explicit verb for
    * "the table outgrew its layout", not a maintenance routine.
    * Deletion vectors are applied during the rewrite (nothing carries
    * forward — every file is new); the recorded schema is unchanged;
    * time travel across the migration keeps each era's own layout
    * (manifests pin nBuckets per version). Streams writing the old
    * layout must be restarted with the new bucket count — the
    * persisted-layout require refuses a mismatch loudly, by design.
    * Returns the committed version dir.
    */
  def rebucket(spark: org.apache.spark.sql.SparkSession,
               baseDir: String, newBuckets: Int, key: String,
               maintain: Option[Maintain] = None): String = {
    val h = head(spark, baseDir)
    val man = h.layout("rebucket")
    require(newBuckets >= 1, s"rebucket: $newBuckets < 1")
    require(newBuckets != man.nBuckets,
      s"rebucket: layout already has $newBuckets buckets")
    // the live snapshot (DV-applied), full rewrite
    val merged = readSnapshot(spark, h.dir)
    stageAndPublish(spark, h, merged,
      bucketsIn(merged, bucketOf(key, newBuckets)), priorMap = Map.empty,
      priorDv = None, nBuckets = newBuckets, key = key,
      maintain = maintain, txn = -1L)
  }

  /** Compaction (OPTIMIZE) for [[streamUpsertSink]] snapshots — the
    * other half of every table format's maintenance pair (vacuum
    * removes dead VERSIONS; this bin-packs accumulated small FILES).
    * Buckets whose current directory holds more than one data file are
    * rewritten — each into a single sorted file (or several, when
    * `maintain.maxRecordsPerFile` bounds file size) under a NEW commit
    * slot with `txn = -1`; untouched buckets keep their manifest
    * pointers, so the cost is O(fragmented buckets), never O(snapshot).
    * The new version's zone/stats metadata comes from one pass over the
    * COMPACTED files only (the incremental-maintenance rule), written
    * before the manifest commit marker; registries refresh afterward.
    * Because versions are sequence slots with txn markers, a compaction
    * commit can never collide with a future replayed batch id — but run
    * it while the stream is STOPPED (like [[vacuumSnapshots]]): an
    * in-flight batch may be writing the next slot. Pair with
    * [[vacuumSnapshots]] to drop the superseded versions.
    *
    * Returns the new version directory, or None when nothing is
    * fragmented.
    */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String,
                      maintain: Option[Maintain] = None)
      : Option[String] = {
    import org.apache.spark.sql.functions.col
    val h = head(spark, baseDir)
    val fs = h.fs
    val man = h.man.getOrElse(return None)
    // a bucket is compaction-worthy when its dir fragments into
    // multiple files OR it carries merge-on-read debt of either kind:
    // deletion-vector tombstones or extras appendices — compaction is
    // exactly where both get physically applied and purged
    val priorDv = h.dv(spark)
    val dvBuckets: Set[Int] = priorDv.fold(Set.empty[Int])(d =>
      bucketsIn(d.df, pathBucket(col("file"))).toSet)
    val extraBuckets = man.extras.map(_._1).toSet
    val fragmented = man.buckets.toSeq.sorted.filter { case (b, v) =>
      dvBuckets.contains(b) || extraBuckets.contains(b) ||
      // physical-name debt: a bucket whose files predate a RENAME
      // COLUMN reads through the per-era mapping (one scan per era) —
      // compacting it re-lands the files under the CURRENT names,
      // restoring the single-scan fast path and letting the rename
      // log prune below
      man.renames.exists(_._1 > v) ||
      graft.plans.Zones.partFiles(fs,
        new org.apache.hadoop.fs.Path(s"$baseDir/v$v/$BucketCol=$b"))
        .lengthCompare(1) > 0
    }
    if (fragmented.isEmpty) return None
    val compacted = fragmented.map(_._1).toSet
    Some(commit(spark, h, maintain) { attempt =>
      // ONE partitioned write for every fragmented bucket, bin-packing
      // each into one file (maxRecordsPerFile still rolls).
      // Recorded-schema era read: columns dropped by dropColumn are
      // PHYSICALLY purged here, renamed columns land under their
      // CURRENT physical name, extras appendices fold in, tombstones
      // apply (compaction is where merge-on-read debt of every kind gets
      // discharged). writeBuckets re-applies the declared layout
      // (clusterBy OR the Morton zorderBy) — compaction must not trade
      // fragmentation for a destroyed sort order.
      val written =
        rewriteBuckets(spark, h, priorDv, compacted, attempt, maintain)
      // a bucket whose live rows were ALL tombstoned wrote no dir, but
      // it stays in the layout at this slot — materialize the empty dir
      (compacted -- written.buckets).foreach(b =>
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$attempt/$BucketCol=$b")))
      // compaction never evolves the schema; every DV'd bucket was
      // rewritten, so the carried DV set is empty by construction
      val staged = rewriteStaged(h, man.buckets, priorDv, compacted,
        Set.empty, man.nBuckets, -1L, man.schema, Some(written))
      // prune rename-log entries no surviving era needs: an era at
      // holding version v consults renames with seq > v, so once every
      // holder postdates a rename it is dead weight (historical
      // manifests keep their own logs — time travel is untouched)
      val m = staged.manifest
      val minHolder = bucketHolders(m).map(_._2).foldLeft(h.next)(math.min)
      staged.copy(manifest =
        m.copy(renames = m.renames.filter(_._1 > minHolder)))
    })
  }

  /** Row-level DELETE for [[streamUpsertSink]] snapshots — the missing
    * sibling of upsert (add/replace), compaction (bin-pack), and
    * vacuum (reclaim): rows matching `cond` are removed under a new
    * maintenance commit (`txn` -1), by rewriting ONLY the buckets that
    * contain a matching row — untouched buckets keep their manifest
    * pointers, so the cost is O(touched), never O(snapshot). SQL DELETE
    * semantics: a row is removed iff `cond` is TRUE; NULL keeps it.
    *
    * The discovery probe is one read of the resolved snapshot filtered
    * by `cond` projecting only the matching file names — and because it
    * is a PLAIN read of the registered root set, the injected
    * [[graft.plans.ZoneSkipRule]] prunes its listing through the
    * sink's own self-maintained zones/dictionaries first: a selective
    * delete (one key, one value window) probes only the files that
    * could match, the same skipping the read path gets. A bucket
    * emptied entirely leaves the manifest (no dir is written for it).
    *
    * Single-writer contract like compaction/vacuum: run with the
    * stream STOPPED. Returns (new version dir, rows deleted), or None
    * when nothing matched.
    */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession,
                  baseDir: String,
                  cond: org.apache.spark.sql.Column,
                  maintain: Option[Maintain] = None)
      : Option[(String, Long)] = {
    import org.apache.spark.sql.functions.{col, coalesce, count => cnt, lit, not}
    val h = head(spark, baseDir)
    val man = h.man.getOrElse(return None)
    // discovery probe: matching files only — zone/dict-pruned when the
    // snapshot's metadata is registered (the root set matches); the
    // manifest's recorded schema spares the footer pass. DV-filtered:
    // a row already tombstoned by a deletion vector must neither count
    // as deleted again nor pull its file into the rewrite set. File
    // identity rides the __dv_f suffix [[eraRead]] captures from each
    // scan's _metadata BEFORE any join (input_file_name() refuses
    // multi-source plans, and a join's projection hides the struct).
    val priorDv = h.dv(spark)
    val probe = eraReadLive(spark, h.fs, baseDir, man,
      man.buckets.keys.toSeq, priorDv, withPos = true)
    val snapSchema = org.apache.spark.sql.types.StructType(
      probe.schema.filterNot(f =>
        f.name == "__dv_f" || f.name == "__dv_p"))
    val touchedFiles = probe.filter(cond)
      .select(col("__dv_f").as("f"))
      .groupBy(col("f")).agg(cnt(lit(1)).as("n"))
      .collect()
    if (touchedFiles.isEmpty) return None
    val deleted = touchedFiles.map(_.getLong(1)).sum
    val touched = touchedFiles.map(r =>
      BucketDir.findFirstMatchIn(r.getString(0)) match {
        case Some(m) => m.group(1).toInt
        case None => sys.error(
          s"deleteWhere: no bucket in path ${r.getString(0)}")
      }).toSet
    // SQL DELETE: remove iff cond is TRUE — NULL keeps the row
    val keepCond = not(coalesce(cond, lit(false)))
    val next = commit(spark, h, maintain) { attempt =>
      // The SNAPSHOT schema, not the file schema: a predicate may name
      // a column this bucket's era predates (reads back NULL)
      val written = rewriteBuckets(spark, h, priorDv, touched, attempt,
        maintain, Some(snapSchema), Some(keepCond))
      // a touched bucket whose survivors all matched wrote no dir — it
      // leaves the manifest (emptied)
      rewriteStaged(h, man.buckets, priorDv, written.buckets,
        touched -- written.buckets, man.nBuckets, -1L, snapSchema,
        Option.when(written.buckets.nonEmpty)(written))
    }
    Some((next, deleted))
  }

  /** Merge-on-read row-level DELETE: tombstone rows matching `cond`
    * with DELETION VECTORS instead of rewriting buckets — the
    * [[deleteWhere]] sibling for SELECTIVE deletes on huge tables
    * (GDPR single-key erasure, spot corrections), where copy-on-write
    * would rewrite terabytes to drop kilobytes. See the DV design
    * note above [[dvSuffix]]. Publishes a maintenance commit whose
    * manifest is UNCHANGED — no data file is written or moved; the
    * commit is one probe for matching (file, row_index) positions plus
    * O(tombstones) metadata. SQL DELETE semantics: removed iff `cond`
    * is TRUE, NULL keeps the row. Tombstones are applied by every
    * reader ([[readSnapshot]]) and physically purged by the next
    * rewrite of their bucket (upsert merge, [[compactSnapshot]],
    * [[deleteWhere]]). Time travel keeps era semantics: pre-delete
    * versions still show the rows. Single-writer contract like the
    * other maintenance ops; OCC-protected like every commit.
    * Returns (new version dir, rows tombstoned); None when nothing
    * matched.
    *
    * `maintain` is unused: the commit writes no data file and its
    * manifest's holder dirs are the head's, so the registry entry the
    * head's commit registered already describes the new version. A
    * driver that never registered the head calls [[registerSnapshot]].
    */
  def deleteWhereVectors(spark: org.apache.spark.sql.SparkSession,
                         baseDir: String,
                         cond: org.apache.spark.sql.Column,
                         maintain: Option[Maintain] = None)
      : Option[(String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val h = head(spark, baseDir)
    val man = h.man.getOrElse(return None)
    val priorDv = h.dv(spark)
    // probe LIVE rows only: an already-tombstoned row must not be
    // tombstoned twice (the union below stays duplicate-free because
    // a (file, pos) can appear in at most one of the two sets).
    // Positions are captured per scan BEFORE the anti-join, and extras
    // appendices fold in — a post-update image living in an extra file
    // is tombstonable like any row.
    def live(dv: Option[DvSet]): DataFrame = eraReadLive(spark, h.fs,
      baseDir, man, man.buckets.keys.toSeq, dv, withPos = true)
    val newDv = live(priorDv).filter(coalesce(cond, lit(false)))
      .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
      .persist()
    try {
      val deleted = newDv.count()
      if (deleted == 0L) return None
      val all = priorDv.fold(newDv)(d =>
        d.df.select(col("file"), col("pos")).unionByName(newDv))
      // same contract as deleteWhere: a table must never become
      // invisible — one early-exit survivor probe. The combined set's
      // size rides the prior's verdict (the new tombstones are
      // churn-sized): past the broadcast bound the probe anti-joins
      // by shuffle like every reader would.
      require(!live(Some(DvSet(all,
          priorDv.map(_.bytes).getOrElse(0L)))).isEmpty,
        s"deleteWhereVectors: every row of $baseDir matched — " +
        "refusing to tombstone the whole table (drop it instead)")
      Some((commit(spark, h, None)(_ =>
        Staged(man.copy(txn = -1L), Some(all.coalesce(1)))), deleted))
    } finally { newDv.unpersist(); () }
  }

  /** Merge-on-read row-level UPDATE (update vectors — the Delta-DV
    * shape for point updates): rows matching `cond` are deletion-
    * vector TOMBSTONED and their post-update images are APPENDED as
    * new files under the commit's own version dir, recorded as
    * manifest `extras` appendices — NO existing data file is read,
    * rewritten, or moved, so the commit costs O(matched rows), not
    * O(touched buckets). The copy-on-write [[deleteWhere]]-style
    * bucket rewrite (which [[mergeInto]] and upsert still use) would
    * rewrite terabytes to update kilobytes on a 100 TB table; this is
    * the tombstone+append path point updates want.
    *
    * `set` is the UPDATE SET clause: column → expression over the
    * matched row's columns; unlisted columns keep their value. SQL
    * UPDATE semantics: a row updates iff `cond` is TRUE (NULL skips).
    * The key may not be SET (a key change is a delete+insert — use
    * [[mergeInto]]). `maintain.check` validates the post-update
    * images like every incoming commit, BEFORE anything stages; with
    * zone/dict/Bloom maintenance the appended files get first-class
    * metadata from one pass over exactly those files. Appendices are
    * purged wherever the bucket rewrites (upsert merge,
    * [[compactSnapshot]] — which treats them as fragmentation like
    * tombstones — and [[deleteWhere]]); readers fold them in via the
    * manifest holders, never a listing. Time travel keeps era
    * semantics. Single-writer contract like the other maintenance
    * ops; OCC-protected like every commit. Returns (new version dir,
    * rows updated); None when nothing matched.
    */
  def updateWhereVectors(spark: org.apache.spark.sql.SparkSession,
                         baseDir: String,
                         cond: org.apache.spark.sql.Column,
                         set: Map[String, org.apache.spark.sql.Column],
                         key: String,
                         maintain: Option[Maintain] = None)
      : Option[(String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(set.nonEmpty, "updateWhereVectors: empty SET clause")
    require(!set.contains(key),
      s"updateWhereVectors: SET must not touch the key '$key' — a key " +
      "change is a delete+insert (use mergeInto)")
    val h = head(spark, baseDir)
    val man = h.man.getOrElse(return None)
    val snapSchema = man.schema
    set.keys.find(c => !snapSchema.fieldNames.contains(c)).foreach(c =>
      sys.error(s"updateWhereVectors: SET names unknown column '$c' " +
        s"(has: ${snapSchema.fieldNames.mkString(", ")})"))
    val priorDv = h.dv(spark)
    // live rows with tombstone identity (extras-aware, rename-aware)
    val matched = eraReadLive(spark, h.fs, baseDir, man,
      man.buckets.keys.toSeq, priorDv, withPos = true)
      .filter(coalesce(cond, lit(false))).persist()
    try {
      val nUpd = matched.count()
      if (nUpd == 0L) return None
      val dataCols = snapSchema.fieldNames.toIndexedSeq
      val updated = matched.select(dataCols.map(c =>
        set.get(c).map(_.cast(snapSchema(c).dataType))
          .getOrElse(col(c)).as(c)): _*)
      checkGate(spark, updated, maintain, "updateWhereVectors")
      val next = commit(spark, h, maintain) { attempt =>
        // appended images land bucket-partitioned (the key is untouched,
        // so each image stays in its row's bucket) under the declared
        // file order — an appendix file is a first-class layout citizen
        // with metadata over ONLY the appended files
        val written = writeBuckets(
          updated.withColumn(BucketCol, bucketOf(key, man.nBuckets)),
          attempt, maintain)
        val touchedB = written.buckets.toSeq.sorted
        // tombstone the pre-images: prior set ∪ matched positions
        val newDv = matched
          .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
        val all = priorDv.fold(newDv)(d =>
          d.df.select(col("file"), col("pos")).unionByName(newDv))
        Staged(man.copy(txn = -1L,
            extras = man.extras ++ touchedB.map(_ -> h.next)),
          Some(all.coalesce(1)), Some(written))
      }
      Some((next, nUpd))
    } finally { matched.unpersist(); () }
  }

  /** One commit's maintenance metadata, built on the driver from the
    * partials the write tasks folded ([[writeBuckets]] through
    * [[MetaFold]]) — no job reads the attempt back, history is never
    * rescanned: per-file zone rows, per-bucket mergeable wide stats
    * (each bucket's file partials merged by the `mergeWide` algebra),
    * per-file dictionaries and Blooms. Only files in the attempt's
    * listing count; a listed file without a partial throws, before the
    * publish, so the commit deletes its attempt. Each kind's rows are
    * keyed by the path its file WILL have once the attempt lands on its
    * commit slot (`finalDir`), sorted by file and column (stats by
    * bucket), and written from the driver as one part file INSIDE the
    * attempt (underscore dirs are invisible to Spark data listings), so
    * the publish rename commits data + metadata + manifest in one
    * atomic step. The rows are returned, keyed by metadata dir name:
    * the commit registers its published version from them
    * ([[registerSnapshot]]).
    */
  private def writeMaintenance(spark: org.apache.spark.sql.SparkSession,
                               mt: Maintain, attemptDir: String,
                               finalDir: String, written: Written)
      : Map[String, MetaFold.MetaRows] = {
    if (!MetaFold.maintains(mt)) return Map.empty
    val fs = fsFor(attemptDir, spark)
    val byKey = written.partials.map(p => p.key -> p).toMap
    val files = written.buckets.toSeq.flatMap(b => graft.plans.Zones
        .partFiles(fs, new org.apache.hadoop.fs.Path(
          s"$attemptDir/$BucketCol=$b")))
      .map(st => MetaFold.keyOf(st.getPath)).sorted
      .map { k =>
        (fs.makeQualified(new org.apache.hadoop.fs.Path(s"$finalDir/$k"))
           .toUri.toString,
         BucketDir.findFirstMatchIn(k).get.group(1).toInt,
         byKey.getOrElse(k, throw new IllegalStateException(
           s"writeMaintenance: no metadata partial for written file $k " +
           s"under $attemptDir")))
      }
    val kinds = MetaFold.metaRows(mt, written.schema,
      statsSchema(spark, written.schema, mt.statCols), files)
    kinds.foreach { case (dir, m) =>
      MetaFold.writeRows(spark, s"$attemptDir/$dir", m)
    }
    kinds.toMap
  }

  /** The `_stats` layout over a table schema that carries the bucket
    * column: [[graft.operators.StatsPlanner.analyzeWideBy]]'s output
    * schema, from an analysis (no job). */
  private def statsSchema(spark: org.apache.spark.sql.SparkSession,
                          schema: org.apache.spark.sql.types.StructType,
                          cols: Seq[String])
      : org.apache.spark.sql.types.StructType =
    graft.operators.StatsPlanner.analyzeWideBy(emptyFrame(spark, schema),
      BucketCol, cols.map(c => c -> c)).schema

  /** Run `f` with its jobs described and called `maintenance: <tag>`,
    * then restore the caller's description and call site. */
  private def labeled[T](spark: org.apache.spark.sql.SparkSession,
                         tag: String)(f: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("spark.job.description", "callSite.short", "callSite.long")
    val prior = keys.map(sc.getLocalProperty)
    sc.setJobDescription(s"maintenance: $tag")
    sc.setCallSite(s"maintenance: $tag")
    try f
    finally keys.zip(prior).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Refresh the driver-side stats/zone registries for a committed
    * snapshot version from its DURABLE maintenance metadata — the step
    * a restarted driver (or a reader session that never ran the
    * stream) calls to make `readSnapshot(versionDir)` plans zone-prune
    * and broadcast from measured statistics. Bounded driver work: one
    * manifest read, one scan of the holder versions' stats rows (≤ one
    * per bucket), one scan per kind of the referenced zone, dictionary
    * and Bloom tables — never the data.
    *
    * Current-stats resolution: bucket `b`'s stats row lives in
    * `_stats/v<version holding b>` — exactly the copy-on-write rule the
    * data files follow — and the rows merge on the driver by the
    * `mergeWide` algebra ([[MetaFold.tableStats]]), which equals a full
    * re-ANALYZE of the resolved snapshot bit-for-bit (q211's proof).
    * Zone rows are file-keyed, so rows for superseded files are simply
    * never consulted.
    */
  def registerSnapshot(spark: org.apache.spark.sql.SparkSession,
                       versionDir: String, maintain: Maintain): Unit =
    registerSnapshot(spark, versionDir, maintain, Map.empty)

  /** [[registerSnapshot]] for the version a commit just published:
    * `fresh` holds that version's own metadata rows as
    * [[writeMaintenance]] built them (keyed by metadata dir name), and
    * they stand in for its dirs — a commit never reads back the
    * metadata it wrote. Holding versions other than `versionDir` are
    * read from disk, and both kinds of stats rows go through the same
    * driver merge; the registered result is identical.
    */
  private def registerSnapshot(spark: org.apache.spark.sql.SparkSession,
                               versionDir: String, maintain: Maintain,
                               fresh: Map[String, MetaFold.MetaRows]): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.plans.Zones
    val fs = fsFor(versionDir, spark)
    val vPath = new org.apache.hadoop.fs.Path(versionDir)
    val base = vPath.getParent.toString
    val man = readManifest(fs, versionDir)
    val dirs = holderDirs(base, man)
    // holders, not just base pointers: a bucket's metadata is its base
    // version's PLUS any extras versions' appendix rows (tombstoned rows
    // stay counted until the bucket rewrites, the same declared
    // staleness deletion vectors already have)
    val bucketsOf = bucketHolders(man).groupBy(_._2)
      .map { case (v, bs) => v -> bs.map(_._1).toSet }
    val self = bucketsOf.keys.find(v => s"v$v" == vPath.getName)
    // one kind's rows over the holder versions: the published version's
    // own from `fresh` (a commit never reads back what it wrote), the
    // others' in ONE collect of their metadata dirs (inside each version
    // dir, published atomically with it) under `schema`, which infers
    // nothing from footers. A file-keyed kind is one scan, and a version
    // committed without it contributes nothing; a per-bucket kind
    // (`perBucket`) scans each version for the buckets it holds, and
    // every holder must have it.
    def rowsOf(kind: String, schema: org.apache.spark.sql.types.StructType,
               tag: String,
               perBucket: Option[Long => org.apache.spark.sql.Column] = None)
        : Seq[org.apache.spark.sql.Row] = {
      val own = self.flatMap(_ => fresh.get(kind))
      val disk = bucketsOf.keys.toSeq.sorted
        .filterNot(v => own.nonEmpty && self.contains(v))
        .map(v => v -> new org.apache.hadoop.fs.Path(s"$base/v$v/$kind"))
        .filter { case (v, d) =>
          fs.exists(d) || perBucket.fold(false)(_ => sys.error(
            s"registerSnapshot: version v$v of $base has no $kind metadata " +
            "(was it written with that maintenance?)"))
        }
        .map { case (v, d) =>
          v -> Zones.partFiles(fs, d).map(_.getPath.toString) }
      def scan(parts: Seq[String]) =
        spark.read.schema(schema).parquet(parts: _*)
      own.toSeq.flatMap(_.rows) ++ (
        if (disk.forall(_._2.isEmpty)) Nil
        else labeled(spark, tag)(perBucket.fold(scan(disk.flatMap(_._2))) { f =>
          disk.map { case (v, ps) => scan(ps).filter(f(v)) }
            .reduce(_ unionByName _)
        }.collect().toSeq))
    }
    if (maintain.statCols.nonEmpty) {
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      val types = maintain.statCols.map(man.schema(_).dataType)
      // the analyzer's output schema over the recorded table schema;
      // each bucket's rows merge on the driver
      val rows = rowsOf("_stats", statsSchema(spark,
          man.schema.add(BucketCol, org.apache.spark.sql.types.IntegerType),
          maintain.statCols), "register stats",
        Some(v => col(BucketCol).isin(bucketsOf(v).toSeq: _*)))
      graft.plans.StatsRegistry.registerRoots(dirs, MetaFold.tableStats(
        rows.map(MetaFold.statsOf(_, types, tz)), maintain.statCols, types,
        tz))
    }
    if (Seq(maintain.zoneCols, maintain.dictCols, maintain.bloomCols)
          .exists(_.nonEmpty)) {
      val tag = "register zones"
      val zones = rowsOf("_zones", Zones.ZoneRowSchema, tag)
      val dicts = rowsOf("_dicts", Zones.DictRowSchema, tag)
      val blooms = rowsOf("_blooms", Zones.BloomRowSchema, tag)
      // rebaseTo: metadata rows record paths as of WRITE time, but this
      // layout may since have been relocated (restored backup, cloned
      // table, renamed mount) — reinterpret the location-independent
      // v<seq>/... suffix against the base being registered, so a moved
      // table's zones/dicts/Blooms still prune
      if (Seq(zones, dicts, blooms).exists(_.nonEmpty))
        graft.plans.ZoneRegistry.registerRoots(dirs,
          Zones.manifestOf(zones, dicts, blooms, rebaseTo = Some(base)))
    }
  }

  /** Single-file CSV for reference parity (`main.py:277` writes exactly one
    * file). coalesce(1) serializes the final write through one task — only
    * correct for driver-scale results (the reference's own output is 22k
    * rows); large outputs should use [[writeCsvDir]].
    * A frame whose top node is a global sort is sorted in that one task
    * instead: the sort's range shuffle and sampling job would only order
    * rows the coalesce then gathers anyway. The rows come out in the same
    * order (rows whose sort keys tie may come in another order — Spark's
    * sort is not stable either way). A sort below another operator
    * (`orderBy(...).select(...)`) stays in the plan; coalesce(1) keeps
    * its order.
    * The empty-result guard is part of the write, not an extra action: the
    * plan runs once, into a temp dir, and a result with no part file or a
    * header-only part file throws IllegalArgumentException without touching
    * `path` (two reads of the local part file, no Spark job). The temp dir
    * is removed on every exit, including a failed write.
    * Returns true on success, like the reference's `write_csv`.
    */
  def writeCsvSingle(df: DataFrame, path: String): Boolean = {
    if (!path.endsWith(".csv"))
      throw new java.io.FileNotFoundException(
        s"Loader.writeCsvSingle: expected a .csv path, got '$path'")
    val tmp = Paths.get(path + ".spark-tmp")
    try {
      singlePartition(df).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(tmp.toString)
      val parts = Files.list(tmp)
      val part = try parts.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".csv")
      }.findFirst finally parts.close()
      if (part.isEmpty || headerOnly(part.get))
        throw new IllegalArgumentException(
          "Loader.writeCsvSingle: refusing to write an empty result")
      Files.move(part.get, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
      true
    } finally deleteTree(tmp)
  }

  /** `df` in one partition, in its order. A top-level global sort is
    * re-planned as a partition-local sort over the unshuffled coalesce
    * of its input. */
  private def singlePartition(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
    df.queryExecution.analyzed match {
      case s: Sort if s.global =>
        org.apache.spark.sql.graftbridge.Bridge.ofRows(df.sparkSession,
          s.copy(global = false,
            child = Repartition(1, shuffle = false, s.child)))
      case _ => df.coalesce(1)
    }
  }

  /** True when a CSV part file holds no data row: nothing after its first
    * line (Spark writes the header even for an empty partition). */
  private def headerOnly(part: java.nio.file.Path): Boolean = {
    val in = Files.newBufferedReader(part)
    try { in.readLine(); in.read() == -1 } finally in.close()
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
