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
    // overflow-safe 16-bit cells: `v * 65536 div (max + 1)` overflows
    // Long for values past ~2^47, so the cell forms in two exact
    // stages — a coarse divide-first cell (width = max div 2^16 + 1,
    // quotient ≤ 65535, no big multiply), then an upscale to the full
    // 16-bit range (cell * 65536 ≤ 2^32 — safe) so BOTH dimensions
    // occupy the same bit width and the Morton interleave alternates
    // them evenly (an unnormalized small domain would sit in the low
    // bits and degenerate to a one-dimension sort — same scheme as
    // orderForWrite's zorderBy, under this sink's v >= 0 contract).
    // For domains below 2^16 this reduces EXACTLY to the classic
    // v * 65536 div (max + 1).
    def cell16(c: String, mxc: String): String = {
      val w = s"(($mxc div 65536L) + 1L)"
      s"(least(65535L, CAST($c AS BIGINT) div $w) * 65536L " +
        s"div (least(65535L, $mxc div $w) + 1L))"
    }
    df.crossJoin(broadcast(mx))
      .withColumn("__zk", graft.functions.Expressions.morton16(
        expr(cell16(xCol, "__mx")),
        expr(cell16(yCol, "__my"))))
      .drop("__mx", "__my")
      .repartitionByRange(numFiles, col("__zk"))
      .sortWithinPartitions(col("__zk"))
      .drop("__zk")
      .write.mode(SaveMode.Overwrite).parquet(dir)
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

  /** A version's deletion-vector set plus its on-disk parquet size —
    * the O(1) metadata that decides broadcast vs shuffle application
    * (see [[applyDv]]). */
  private[sources] final case class DvSet(df: DataFrame, bytes: Long)

  /** Past this many bytes of DV parquet (~millions of tombstones) the
    * set no longer belongs in a driver broadcast: readers fall back to
    * a shuffle anti-join. Accumulating this much merge-on-read debt is
    * itself the signal to run [[compactSnapshot]], which applies and
    * purges the tombstones physically.
    */
  private val DvBroadcastMaxBytes = 64L << 20

  /** The applicable DV set recorded at `versionDir`, if any:
    * (file suffix, pos) plus its size. One content-summary RPC — no
    * data read. */
  private def readDv(spark: org.apache.spark.sql.SparkSession,
                     fs: org.apache.hadoop.fs.FileSystem,
                     versionDir: String): Option[DvSet] = {
    val p = new org.apache.hadoop.fs.Path(versionDir, DvDirName)
    if (fs.exists(p))
      Some(DvSet(spark.read.parquet(p.toString),
        fs.getContentSummary(p).getLength))
    else None
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

  /** Remove DV-tombstoned rows from a parquet scan of layout files:
    * anti-join on the location-independent file suffix + in-file row
    * position (see [[dvAnti]] for the broadcast/shuffle choice).
    * Identity when no DV set exists.
    */
  private def applyDv(df: DataFrame, dv: Option[DvSet]): DataFrame =
    dv.fold(df) { d =>
      import org.apache.spark.sql.functions.col
      dvAnti(df.withColumn("__dv_f", dvSuffix(col("_metadata.file_path")))
        .withColumn("__dv_p", col("_metadata.row_index")), d)
        .drop("__dv_f", "__dv_p")
    }

  /** The carried-forward DV set after `rewritten` buckets' files were
    * rewritten (their tombstones are now physically applied). None if
    * nothing survives.
    */
  private def dvMinusBuckets(dv: Option[DvSet],
                             rewritten: Set[Int]): Option[DataFrame] =
    dv.map { d =>
      import org.apache.spark.sql.functions.{col, regexp_extract}
      if (rewritten.isEmpty) d.df
      else d.df.filter(!regexp_extract(col("file"),
          BucketCol + "=([0-9]+)/", 1).cast("int")
        .isin(rewritten.toSeq: _*))
    }.filter(d => d.limit(1).count() > 0)

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
    * Round-14 additions, all carried copy-forward like the schema:
    *  - `ts`: the commit's wall-clock millis, stamped STRICTLY
    *    MONOTONE at write ([[nextCommitTs]]) — the TIMESTAMP AS OF
    *    index ([[timestampAsOf]]); -1 on legacy manifests (resolution
    *    falls back to the manifest file's mtime).
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
      schema: Option[org.apache.spark.sql.types.StructType] = None,
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
    if (man.renames.isEmpty) {
      addPos(target.orElse(man.schema) match {
        case Some(sc) => spark.read.schema(sc).parquet(dirs: _*)
        case None =>
          spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      })
    } else {
      val tgt = target.orElse(man.schema).getOrElse(sys.error(
        "eraRead: a renamed layout requires a recorded schema"))
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
            .getOrElse(tgt)
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

  /** [[eraRead]] with the version's deletion vectors already
    * subtracted — the LIVE rows every snapshot consumer wants. The
    * anti-join runs on per-scan-captured positions, so it composes
    * with the rename path's union. */
  private def eraReadLive(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          base: String, man: Manifest,
                          buckets: Seq[Int], dv: Option[DvSet],
                          target: Option[org.apache.spark.sql.types
                            .StructType] = None): DataFrame = {
    val r = eraRead(spark, fs, base, man, buckets,
      withPos = dv.nonEmpty, target)
    dv.fold(r)(d => dvAnti(r, d).drop("__dv_f", "__dv_p"))
  }

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

  /** Publish a fully-written attempt directory (data files, maintenance
    * metadata, manifest — everything) as commit slot `v<seq>` in ONE
    * atomic no-overwrite rename: the optimistic-concurrency commit
    * point. Every writer stages privately under `_attempt/<uuid>`, so
    * two racing transactions can never scribble on each other's files;
    * the first rename onto the slot wins, the loser's rename fails
    * (FileContext rename without OVERWRITE), its staged attempt is
    * deleted, and it surfaces as a typed
    * [[graft.sources.ConcurrentCommitException]] — the caller re-reads
    * the latest snapshot and retries. Crash recovery is unchanged in
    * spirit but simpler in mechanics: a crashed attempt leaves an
    * orphan under `_attempt/` (reclaimed by [[vacuumSnapshots]]) and
    * the slot stays EMPTY, so a replayed batch stages afresh and
    * publishes onto the same slot — a committed `v<seq>` now appears
    * atomically complete or not at all.
    */
  private def commitAttempt(spark: org.apache.spark.sql.SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            baseDir: String, attemptDir: String,
                            seq: Long): String = {
    testRaceHook.foreach { h => testRaceHook = None; h() }
    val next = s"$baseDir/v$seq"
    val src = new org.apache.hadoop.fs.Path(attemptDir)
    val dst = new org.apache.hadoop.fs.Path(next)
    val lost =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, spark.sessionState.newHadoopConf())
        fc.rename(src, dst) // Options.Rename.NONE: fails if dst exists
        false
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
        case e: java.io.IOException =>
          // classify: slot materialized under us → lost race; anything
          // else is a real I/O failure and must surface as itself
          if (fs.exists(dst)) true else throw e
      }
    if (lost) {
      fs.delete(src, true)
      throw new ConcurrentCommitException(
        s"commit slot v$seq under $baseDir was claimed by a concurrent " +
        "writer; this attempt's staged data was discarded — re-read " +
        "the latest snapshot and retry the transaction")
    }
    next
  }

  private def newAttemptDir(fs: org.apache.hadoop.fs.FileSystem,
                            baseDir: String): String = {
    val d = s"$baseDir/_attempt/${java.util.UUID.randomUUID()}"
    fs.mkdirs(new org.apache.hadoop.fs.Path(d))
    d
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            versionDir: String,
                            m: Manifest): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(versionDir, ManifestName), true)
    // DataType.json is one line — the parser splits on newlines
    val schemaLine = m.schema.fold("")(s => s"#schema ${s.json}\n")
    val tsLine = if (m.ts >= 0) s"#ts ${m.ts}\n" else ""
    // rename log lines are space-delimited: renameColumn refuses
    // whitespace in column names to keep the format unambiguous
    val renameLines = m.renames.sortBy(_._1)
      .map { case (sq, o, n) => s"#rename $sq $o $n\n" }.mkString
    val extraLines = m.extras.distinct.sorted
      .map { case (b, v) => s"#extra $b $v\n" }.mkString
    val header =
      s"#buckets ${m.nBuckets} $HashName\n#txn ${m.txn}\n" +
        tsLine + schemaLine + renameLines + extraLines
    try out.write((header + m.buckets.toSeq.sorted
      .map { case (b, v) => s"$b $v" }
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
  }

  private[sources] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                                    versionDir: String): Manifest = {
    val in = fs.open(
      new org.apache.hadoop.fs.Path(versionDir, ManifestName))
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString("UTF-8")
    } finally in.close()
    var nBuckets = -1; var txn = -1L; var ts = -1L
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    val renames = scala.collection.mutable
      .ListBuffer.empty[(Long, String, String)]
    val extras = scala.collection.mutable.ListBuffer.empty[(Int, Long)]
    val buckets = text.linesIterator.filter(_.nonEmpty).flatMap { l =>
      val parts = l.split(' ')
      parts(0) match {
        case "#buckets" =>
          nBuckets = parts(1).toInt
          require(parts.length < 3 || parts(2) == HashName,
            s"readManifest: layout $versionDir was written with bucket " +
            s"hash '${parts(2)}'; this engine buckets with '$HashName'")
          None
        case "#txn" => txn = parts(1).toLong; None
        case "#ts" => ts = parts(1).toLong; None
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
    Manifest(buckets, nBuckets, txn, schema, ts,
      renames.toList, extras.toList)
  }

  /** Committed (manifest-present) version ids under `baseDir`, sorted. */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
                                baseDir: String): Seq[Long] = {
    val basePath = new org.apache.hadoop.fs.Path(baseDir)
    (if (fs.exists(basePath)) fs.listStatus(basePath).toSeq else Seq.empty)
      .map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(_.drop(1).toLongOption)
      .filter(j => fs.exists(new org.apache.hadoop.fs.Path(
        s"$baseDir/v$j", ManifestName)))
      .sorted
  }

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
    val dirs = holderDirs(base, man)
    require(dirs.nonEmpty,
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
    val latestListed = fs.listStatus(
        new org.apache.hadoop.fs.Path(base)).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(_.drop(1).toLongOption)
      .maxOption
    val isLatest = thisSeq.isDefined && thisSeq == latestListed
    if (!isLatest) {
      val gone = dirs.filterNot(d =>
        fs.exists(new org.apache.hadoop.fs.Path(d)))
      if (gone.nonEmpty)
        throw new VacuumedVersionException(
          s"readSnapshot: $versionDir references ${gone.length} bucket " +
          s"dir(s) reclaimed by vacuumSnapshots (first: ${gone.head}) " +
          "— this historical version is no longer fully readable")
    }
    // schema evolution means bucket files can span eras: the manifest's
    // recorded schema reads them uniformly (files that predate a column
    // null-fill it) with NO footer pass; pre-schema manifests fall back
    // to parquet mergeSchema; renamed layouts read era-by-era — and
    // merge-on-read subtracts this version's deletion vectors (one
    // bounded anti-join; identity when the version has none). All of
    // that is [[eraReadLive]].
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
                       baseDir: String): Seq[(Long, Long)] = {
    val fs = fsFor(baseDir, spark)
    committedVersions(fs, baseDir).map(v =>
      v -> readManifest(fs, s"$baseDir/v$v").txn)
  }

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
    val fs = fsFor(baseDir, spark)
    committedVersions(fs, baseDir).map { v =>
      val man = readManifest(fs, s"$baseDir/v$v")
      val readable = bucketHolders(man).forall { case (b, mv) =>
        fs.exists(new org.apache.hadoop.fs.Path(
          s"$baseDir/v$mv/$BucketCol=$b"))
      }
      (v, man.txn, readable)
    }
  }

  /** The TIMESTAMP AS OF index: every committed version's EFFECTIVE
    * commit wall-clock millis, ascending by version. The primary
    * source is the manifest's `#ts` stamp (written strictly monotone —
    * [[nextCommitTs]]); legacy pre-ts manifests fall back to the
    * manifest FILE's modification time (the manifest is staged
    * immediately before publish, so its mtime brackets the commit),
    * and a running max repairs any non-monotonicity a mixed-era log
    * or mtime skew could introduce — resolution must be unambiguous.
    * Bounded driver work: one manifest read (+ at most one file-status
    * RPC) per committed version.
    */
  def commitTimestamps(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String): Seq[(Long, Long)] = {
    val fs = fsFor(baseDir, spark)
    val raw = committedVersions(fs, baseDir).map { v =>
      val m = readManifest(fs, s"$baseDir/v$v")
      val t =
        if (m.ts >= 0) m.ts
        else fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$baseDir/v$v", ManifestName)).getModificationTime
      (v, t)
    }
    raw.scanLeft((-1L, Long.MinValue)) { case ((_, acc), (v, t)) =>
      (v, math.max(acc, t))
    }.drop(1)
  }

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
    val times = commitTimestamps(spark, baseDir)
    require(times.nonEmpty,
      s"timestampAsOf: no committed layout under $baseDir")
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(sys.error(
      s"restoreSnapshot: no committed layout under $baseDir"))
    require(toSeq != latest,
      s"restoreSnapshot: v$toSeq is already the latest version")
    if (!committed.contains(toSeq))
      throw new VacuumedVersionException(
        s"restoreSnapshot: version v$toSeq of $baseDir is not " +
        "committed or was reclaimed by vacuumSnapshots")
    val man = readManifest(fs, s"$baseDir/v$toSeq")
    val gone = holderDirs(baseDir, man).filterNot(d =>
      fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (gone.nonEmpty)
      throw new VacuumedVersionException(
        s"restoreSnapshot: v$toSeq references ${gone.length} bucket " +
        s"dir(s) reclaimed by vacuumSnapshots (first: ${gone.head}) " +
        "— the target is no longer fully readable")
    val cur = readManifest(fs, s"$baseDir/v$latest")
    val attempt = newAttemptDir(fs, baseDir)
    // the restored ERA's tombstone set defines its live rows
    readDv(spark, fs, s"$baseDir/v$toSeq").foreach(dv =>
      dv.df.write.mode(SaveMode.Overwrite)
        .parquet(s"$attempt/$DvDirName"))
    writeManifest(fs, attempt,
      Manifest(man.buckets, man.nBuckets, -1L, man.schema,
        ts = nextCommitTs(Some(cur)), // monotone vs the CURRENT head
        renames = man.renames, extras = man.extras))
    commitAttempt(spark, fs, baseDir, attempt, latest + 1)
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
    val fs = fsFor(baseDir, spark)
    val vs = committedVersions(fs, baseDir)
    val latest = vs.lastOption
      .map(v => bucketHolders(readManifest(fs, s"$baseDir/v$v")))
      .getOrElse(Nil)
    val rows = vs.map { v =>
      val man = readManifest(fs, s"$baseDir/v$v")
      // merge-on-read appendices count as written/current holders too
      (v, man.txn, if (man.txn < 0) 1L else 0L,
        bucketHolders(man).count(_._2 == v).toLong,
        latest.count(_._2 == v).toLong,
        man.schema.map(_.fieldNames.mkString(",")).orNull)
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    committed.lastOption match {
      case None => Seq.empty
      case Some(current) =>
        val retained: Seq[Long] = retainAfterTs match {
          case None => Seq(current)
          case Some(cut) =>
            (commitTimestamps(spark, baseDir)
              .filter(_._2 >= cut).map(_._1) :+ current).distinct
        }
        val live = retained.flatMap(v =>
          bucketHolders(readManifest(fs, s"$baseDir/v$v")).map(_._2))
          .toSet ++ retained
        val dead = committed.filterNot(live.contains)
        dead.foreach { v =>
          // in-version maintenance metadata dies with the version dir;
          // the legacy external layout (`_kind/v<seq>`) is swept too
          fs.delete(new org.apache.hadoop.fs.Path(s"$baseDir/v$v"), true)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$baseDir/_zones/v$v"), true)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$baseDir/_stats/v$v"), true)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$baseDir/_dicts/v$v"), true)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$baseDir/_blooms/v$v"), true)
          ()
        }
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
        import org.apache.spark.sql.functions._
        val fs = fsFor(baseDir, spark)
        val committed = committedVersions(fs, baseDir)
        val priorManifest = committed.lastOption
          .map(v => readManifest(fs, s"$baseDir/v$v"))
        // the layout guard runs before anything else: a different
        // bucketing would rehash keys into different buckets and
        // silently miss existing rows on every subsequent merge
        priorManifest.foreach { pm =>
          require(pm.nBuckets < 0 || pm.nBuckets == nBuckets,
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
        val lastData = committed.reverseIterator
          .map(v => v -> readManifest(fs, s"$baseDir/v$v"))
          .find(_._2.txn >= 0)
        lastData.filter(_._2.txn == id) match {
          case Some((v, _)) =>
            handle.dir = Some(s"$baseDir/v$v")
            // a restarted driver has empty registries — refresh them
            // from the durable metadata even on the skip path
            maintain.foreach(mt =>
              registerSnapshot(spark, s"$baseDir/v$v", mt))
          case None =>
            handle.dir = Some(applyDelta(spark, baseDir, batch, key,
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
    * [[graft.operators.Upsert.upsertEvolve]] and prior buckets read
    * with parquet schema merging, so a delta carrying NEW columns
    * widens the snapshot (old rows read back NULL) and a delta missing
    * an old column nulls it on the rows it replaces — the ADD COLUMN
    * semantics every table format provides, with type changes refused
    * loudly.
    */
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

  private def applyDelta(spark: org.apache.spark.sql.SparkSession,
                         baseDir: String, delta: DataFrame, key: String,
                         orderCols: Seq[String], nBuckets: Int,
                         maintain: Option[Maintain], txn: Long)
      : String = {
    import org.apache.spark.sql.functions._
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val priorManifest = committed.lastOption
      .map(v => readManifest(fs, s"$baseDir/v$v"))
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
      val touched = latest.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).sorted
      // durable prior-version lookup (see restart contract): the
      // latest committed manifest IS the current state — data or
      // maintenance commit alike
      val priorMap = priorManifest.map(_.buckets)
        .getOrElse(Map.empty[Int, Long])
      // the next version SLOT, independent of the batch id — computed
      // from the SAME listing the prior state was read from, so the
      // publish rename below is a true optimistic-concurrency check:
      // any writer that committed after this listing occupies the slot
      // and this transaction loses cleanly
      val seq = committed.lastOption.getOrElse(-1L) + 1
      // copy-on-write: read ONLY the touched buckets' current files
      // (base pointers + merge-on-read extras appendices)
      val priorBuckets = touched.toIndexedSeq.filter(priorMap.contains)
      val batchData = latest.select(dataCols.map(col): _*)
      // prior files read DV-FILTERED: a tombstoned row must not
      // resurrect through the rewrite, and the rewrite PURGES the
      // touched buckets' tombstones (their files are replaced)
      val priorDv = committed.lastOption.flatMap(v =>
        readDv(spark, fs, s"$baseDir/v$v"))
      // prior files read under the manifest's RECORDED schema when one
      // exists: (a) no per-commit footer pass, (b) columns dropped by
      // dropColumn stay dropped (a mergeSchema read would resurrect
      // them from old files on the very next upsert), (c) narrow-era
      // files upcast to the recorded widened type, (d) renamed columns
      // read era-by-era under their physical names. Legacy pre-schema
      // manifests keep the mergeSchema fallback. All [[eraReadLive]].
      val merged =
        if (priorBuckets.isEmpty || priorManifest.isEmpty) batchData
        else graft.operators.Upsert.upsertEvolve(
          eraReadLive(spark, fs, baseDir, priorManifest.get,
            priorBuckets, priorDv),
          batchData, key)
      stageAndPublish(spark, fs, baseDir, merged, touched.toIndexedSeq,
        priorMap, priorManifest, priorDv, nBuckets, key, maintain, txn,
        seq)
    } finally { latest.unpersist(); () }
  }

  /** Within-bucket file order shared by EVERY bucket rewrite (the
    * initial commit, upsert merges, compaction, copy-on-write delete):
    * clusterBy sorts one dimension tight; zorderBy sorts by the
    * 16-bit-per-dim Morton interleave of TWO dimensions (linear cells
    * against THIS batch's min/max — one 1-row broadcast agg, so
    * per-bucket rewrites get per-bucket bounds, i.e. tighter boxes),
    * so each rolled file covers a small BOUNDING BOX and zone maps
    * prune RANGE predicates on EITHER column (the OPTIMIZE ZORDER BY
    * shape; q205 measures why: a concatenated sort answers one
    * dimension and touches every file for the other). Skewed
    * dimensions should be pre-transformed — linear cells, not
    * equi-depth, is the deliberate cheap trade. `prefix` columns (the
    * bucket column, when one write spans buckets) lead the sort.
    * Factored so maintenance rewrites preserve the Z-layout —
    * compaction/delete used to re-sort by clusterBy only, silently
    * destroying the Morton order on the first maintenance pass.
    *
    * Cells are computed OVERFLOW-SAFE: the old
    * `(v - min) * 65536 div (max - min + 1)` overflows Long both in
    * the numerator (values past ~2^47) and in the range itself
    * (full-domain columns), yielding garbage Morton keys. Instead the
    * cell width w ≈ range/65536 + 1 is formed without ever
    * subtracting the bounds (`(max div 2^16) - (min div 2^16) + 1` —
    * quotients first), and the cell is `v div w - min div w`: for
    * w = 1 the true difference is < 2^17 so the subtraction fits; for
    * larger w both quotients shrink below Long.Max/w. Truncating
    * division keeps the cell MONOTONE in the value — all a
    * space-filling layout needs — and the least() clamp absorbs the
    * ±1 cell drift of the quotient-first approximation.
    */
  private def orderForWrite(df: DataFrame, maintain: Option[Maintain],
                            prefix: Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, expr,
      max => fmax, min => fmin}
    maintain.flatMap(_.zorderBy) match {
      case Some((c1, c2)) =>
        val bounds = df.agg(
          fmin(col(c1).cast("long")).as("__n1"),
          fmax(col(c1).cast("long")).as("__x1"),
          fmin(col(c2).cast("long")).as("__n2"),
          fmax(col(c2).cast("long")).as("__x2"))
        // two exact stages (see writeParquetZordered's cell16): coarse
        // divide-first cell, then an upscale to the full 16-bit range
        // so both dimensions interleave at equal bit weight
        def cell(c: String, n: String, x: String): String = {
          val w = s"((($x div 65536L) - ($n div 65536L)) + 1L)"
          val cc =
            s"least(65535L, (CAST($c AS BIGINT) div $w) - ($n div $w))"
          val cm = s"least(65535L, ($x div $w) - ($n div $w))"
          s"(($cc) * 65536L div (($cm) + 1L))"
        }
        df.crossJoin(broadcast(bounds))
          .withColumn("__z", graft.functions.Expressions.morton16(
            expr(cell(c1, "__n1", "__x1")),
            expr(cell(c2, "__n2", "__x2"))))
          .sortWithinPartitions(prefix :+ col("__z"): _*)
          .drop("__z", "__n1", "__x1", "__n2", "__x2")
      case None => maintain.flatMap(_.clusterBy).fold(df)(
        c => df.sortWithinPartitions(prefix :+ col(c): _*))
    }
  }

  /** Shared commit tail of every bucket-REWRITING transaction (upsert
    * merge, MERGE INTO): stage `merged` — the complete replacement
    * content of `touched` buckets, withOUT the bucket column — under a
    * private attempt dir, write the maintenance metadata, record the
    * MONOTONE snapshot schema, carry forward the untouched buckets'
    * deletion vectors, write the manifest, and publish with the atomic
    * OCC rename. Returns the committed version dir.
    */
  private def stageAndPublish(spark: org.apache.spark.sql.SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              baseDir: String, merged: DataFrame,
                              touched: Seq[Int],
                              priorMap: Map[Int, Long],
                              priorManifest: Option[Manifest],
                              priorDv: Option[DvSet],
                              nBuckets: Int, key: String,
                              maintain: Option[Maintain], txn: Long,
                              seq: Long): String = {
    import org.apache.spark.sql.functions._
    // every attempt stages PRIVATELY (uuid dir): racing writers can
    // never scribble on each other's files, and a crashed attempt is
    // an orphan the slot never saw. With clusterBy, rows sort
    // (bucket, cluster) so the writer's required partition ordering
    // is already satisfied (no re-sort) and each rolled file covers
    // a contiguous cluster range — tight zones within the bucket.
    val attempt = newAttemptDir(fs, baseDir)
    val bucketed = merged
      .withColumn(BucketCol, bucketOf(key, nBuckets))
      .repartition(col(BucketCol))
    val clustered = orderForWrite(bucketed, maintain, Seq(col(BucketCol)))
    val w0 = clustered.write.mode(SaveMode.Overwrite)
    val w1 = maintain.flatMap(_.maxRecordsPerFile).fold(w0)(
      m => w0.option("maxRecordsPerFile", m.toString))
    w1.partitionBy(BucketCol).parquet(attempt)
    // metadata INSIDE the attempt (published atomically with the
    // data and the manifest): one pass over ONLY the files this
    // commit wrote — history is never rescanned
    maintain.foreach(mt =>
      writeMaintenance(spark, mt, attempt, s"$baseDir/v$seq"))
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
    // lossless lattice. A pre-schema legacy manifest falls back to one
    // mergeSchema footer pass over the prior snapshot.
    val mergedSchema = org.apache.spark.sql.types.StructType(
      merged.schema.filterNot(_.name == BucketCol))
    val priorSchema = priorManifest.flatMap { pm =>
      pm.schema.orElse {
        val pdirs = holderDirs(baseDir, pm)
        if (pdirs.isEmpty) None
        else Some(org.apache.spark.sql.types.StructType(
          spark.read.option("mergeSchema", "true").parquet(pdirs: _*)
            .schema.filterNot(_.name == BucketCol)))
      }
    }
    val recordedSchema = priorSchema.fold(mergedSchema) { ps =>
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
    // carry forward the untouched buckets' deletion vectors (touched
    // buckets' tombstones are physically applied by the rewrite)
    dvMinusBuckets(priorDv, touched.toSet).foreach(dv =>
      dv.write.mode(SaveMode.Overwrite).parquet(s"$attempt/$DvDirName"))
    // manifest into the attempt (touched buckets live at this slot,
    // untouched buckets keep pointing at their current version),
    // then the PUBLISH: one atomic no-overwrite rename onto the slot
    // — the commit marker and the concurrency check in one step.
    // Copy-forward state rides along: the strictly-monotone commit
    // timestamp, the rename log, and the extras appendices of
    // UNTOUCHED buckets (a rewritten bucket's appendices are
    // physically merged, exactly like its tombstones; priorMap
    // membership guards the rebucket case, where every old-modulus
    // appendix dies with the full rewrite)
    writeManifest(fs, attempt,
      Manifest(priorMap ++ touched.map(_ -> seq), nBuckets, txn,
        Some(recordedSchema),
        ts = nextCommitTs(priorManifest),
        renames = priorManifest.map(_.renames).getOrElse(Nil),
        extras = priorManifest.map(_.extras).getOrElse(Nil)
          .filter(e => priorMap.contains(e._1) &&
                       !touched.contains(e._1))))
    val next = commitAttempt(spark, fs, baseDir, attempt, seq)
    // refresh the driver-side registries from the new manifest so
    // the NEXT plain read plans from fresh metadata
    maintain.foreach(mt => registerSnapshot(spark, next, mt))
    next
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(sys.error(
      "upsertBatch: no committed layout under " + baseDir +
      " — seed the table with streamUpsertSink first"))
    val man = readManifest(fs, s"$baseDir/v$latest")
    require(man.nBuckets >= 1,
      s"upsertBatch: layout $baseDir carries no bucket count")
    applyDelta(spark, baseDir, delta, key, orderCols, man.nBuckets,
      maintain, txn = -1L)
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(sys.error(
      "mergeInto: no committed layout under " + baseDir +
      " — seed the table with streamUpsertSink first"))
    val cur = s"$baseDir/v$latest"
    val man = readManifest(fs, cur)
    val snapSchema = man.schema.getOrElse {
      org.apache.spark.sql.types.StructType(
        spark.read.option("mergeSchema", "true")
          .parquet(holderDirs(baseDir, man): _*)
          .schema.filterNot(_.name == BucketCol))
    }
    require(source.columns.toSet == snapSchema.fieldNames.toSet,
      s"mergeInto: source columns (${source.columns.sorted.mkString(",")}) " +
      s"must equal the snapshot's (${snapSchema.fieldNames.sorted
        .mkString(",")}) — MERGE is not the schema-evolution path")
    checkGate(spark, source, maintain, "mergeInto")
    val src = source.persist()
    try {
      val dup = src.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).count()
      require(dup == 0L,
        s"mergeInto: the source has multiple rows for one $key — " +
        "ambiguous MATCHED actions (the standard's cardinality " +
        "violation); de-duplicate the source first")
      val touched = src
        .select(bucketOf(key, man.nBuckets).as("__b"))
        .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
      val priorBuckets = touched.filter(man.buckets.contains)
      val priorDv = readDv(spark, fs, cur)
      val dataCols = snapSchema.fieldNames.toIndexedSeq
      val target =
        if (priorBuckets.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), snapSchema)
        else eraReadLive(spark, fs, baseDir, man, priorBuckets, priorDv,
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
      stageAndPublish(spark, fs, baseDir, merged, touched,
        man.buckets, Some(man), priorDv, man.nBuckets, key, maintain,
        txn = -1L, seq = latest + 1)
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
    * ONLY the buckets whose manifest pointer changed at that commit
    * (copy-on-write means everything else is bit-identical), plus the
    * step's NEW deletion-vector tombstones (a DV commit changes no
    * bucket pointer — its deletes are read back from exactly the
    * tombstoned files' buckets). Rows of a rewritten bucket that did
    * not change produce no events (prev/cur null-safe struct
    * comparison). Layout migrations ([[rebucket]]: nBuckets changes)
    * rewrite every file while changing no visible row — those steps
    * are skipped outright instead of paying a full-table self-diff.
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
    * bucket set; all data work is distributed.
    */
  def tableChanges(spark: org.apache.spark.sql.SparkSession,
                   baseDir: String, key: String,
                   fromSeq: Long, toSeq: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromSeq < toSeq,
      s"tableChanges: fromSeq $fromSeq must precede toSeq $toSeq")
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir).toSet
    ((fromSeq to toSeq) filterNot committed).headOption.foreach(v =>
      throw new VacuumedVersionException(
        s"tableChanges: version v$v of $baseDir is not committed or " +
        "was reclaimed by vacuumSnapshots — the change window is gone"))
    def readVersionBuckets(man: Manifest, buckets: Seq[Int],
                           dv: Option[DvSet]): DataFrame = {
      val dirs = holderDirs(baseDir, man, Some(buckets.toSet))
      val live = dirs.filter(d =>
        fs.exists(new org.apache.hadoop.fs.Path(d)))
      if (live.size != dirs.size)
        throw new VacuumedVersionException(
          s"tableChanges: ${dirs.size - live.size} bucket dir(s) of " +
          s"$baseDir were reclaimed by vacuumSnapshots mid-window")
      if (live.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          man.schema.getOrElse(sys.error(
            "tableChanges: legacy pre-schema manifest")))
      else eraReadLive(spark, fs, baseDir, man,
        buckets.filter(b => man.buckets.contains(b) ||
          man.extras.exists(_._1 == b)), dv)
    }
    def extrasOf(man: Manifest): Map[Int, Set[Long]] =
      man.extras.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // each version's DV set read ONCE for the whole window (adjacent
    // steps share a version: step n's cur is step n+1's prev — the
    // per-step readDv pair re-listed every _dv dir twice), and — while
    // a set is within the [[DvBroadcastMaxBytes]] driver bound that
    // applyDv already enforces for its broadcast — its (file, pos)
    // rows are collected ONCE and the per-step diffs (removed-bucket
    // detection, new-tombstone extraction, changed-bucket filtering)
    // run as driver set algebra instead of a persist + two collect
    // jobs PER STEP. Sets past the bound keep the distributed
    // anti-join path below, so the 100-TB story is unchanged.
    val dvByVer: Map[Long, Option[DvSet]] =
      (fromSeq to toSeq).map(v =>
        v -> readDv(spark, fs, s"$baseDir/v$v")).toMap
    val dvRowsCache =
      scala.collection.mutable.HashMap.empty[Long, Set[(String, Long)]]
    def dvRowsOf(seq: Long, d: DvSet): Set[(String, Long)] =
      dvRowsCache.getOrElseUpdate(seq,
        d.df.select(col("file"), col("pos")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet)
    val bucketRe = (BucketCol + "=([0-9]+)/").r
    def bucketOfFile(f: String): Int =
      bucketRe.findFirstMatchIn(f).getOrElse(sys.error(
        s"tableChanges: DV file entry without a bucket dir: $f"))
        .group(1).toInt
    val steps = (fromSeq + 1 to toSeq).map { seq =>
      val manPrev = readManifest(fs, s"$baseDir/v${seq - 1}")
      val manCur = readManifest(fs, s"$baseDir/v$seq")
      val dvPrev = dvByVer(seq - 1)
      val dvCur = dvByVer(seq)
      val dvSmall = (dvPrev ++ dvCur)
        .forall(_.bytes <= DvBroadcastMaxBytes)
      if (manCur.nBuckets != manPrev.nBuckets) {
        // layout migration: every file rewritten, no visible row change
        None
      } else {
        // a bucket changed at this step when its base pointer differs
        // (a rewrite points it at this commit; a RESTORE points it
        // BACK at an older version — pointer INEQUALITY catches both),
        // it vanished/appeared, its merge-on-read extras set changed
        // (an updateWhereVectors commit moves no pointer — its churn
        // is the appendix plus tombstones, diffed as one live-vs-live
        // bucket comparison below), or tombstones were REMOVED from it
        // (a restore un-deleting rows — the resurrected rows must
        // surface as inserts, which only the live-vs-live diff sees)
        val exPrev = extrasOf(manPrev); val exCur = extrasOf(manCur)
        def dvBucketsOf(df: DataFrame): Set[Int] =
          df.select(regexp_extract(col("file"),
              BucketCol + "=([0-9]+)/", 1).cast("int").as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
        val dvRemoved: Set[Int] =
          if (dvSmall) {
            val p = dvPrev.map(dvRowsOf(seq - 1, _)).getOrElse(Set.empty)
            val c = dvCur.map(dvRowsOf(seq, _)).getOrElse(Set.empty)
            (p diff c).map(e => bucketOfFile(e._1))
          } else (dvPrev, dvCur) match {
            case (None, _) => Set.empty
            case (Some(p), None) => dvBucketsOf(p.df)
            case (Some(p), Some(c)) => dvBucketsOf(p.df.join(
              c.df.select(col("file").as("cf"), col("pos").as("cp")),
              col("file") === col("cf") && col("pos") === col("cp"),
              "left_anti"))
          }
        val changed = ((manPrev.buckets.keySet ++ manCur.buckets.keySet)
          .filter(b => manPrev.buckets.get(b) != manCur.buckets.get(b))
          ++ dvRemoved ++
          (exPrev.keySet ++ exCur.keySet).filter(b =>
            exPrev.getOrElse(b, Set.empty) !=
              exCur.getOrElse(b, Set.empty))).toSeq.sorted
        val cols = manCur.schema.orElse(manPrev.schema).getOrElse(
          sys.error("tableChanges: legacy pre-schema manifest"))
          .fieldNames.toIndexedSeq
        val bucketDiff =
          if (changed.isEmpty) None
          else {
            // align eras across a RENAME COLUMN boundary: the prev
            // side reads under ITS manifest's names; renames recorded
            // AT this step project them to the cur side's names so
            // the by-name diff compares the same logical column
            val prev0 = readVersionBuckets(manPrev, changed, dvPrev)
            val prev = manCur.renames.filter(_._1 == seq)
              .foldLeft(prev0) { case (df, (_, o, n)) =>
                df.withColumnRenamed(o, n) }
            val cur = readVersionBuckets(manCur, changed, dvCur)
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
            Some(evts.select(all.map(c =>
              when(col("_change_type").isin("delete", "update_preimage"),
                col(s"p_$c")).otherwise(col(s"c_$c")).as(c)) :+
              col("_change_type"): _*))
          }
        // NEW tombstones this step whose bucket did NOT change: pure
        // deletes, read back from exactly the tombstoned files (a
        // rewritten bucket's tombstones were purged, and a CHANGED
        // bucket's new tombstones — an update commit's pre-images —
        // are already represented by the live-vs-live diff above, so
        // re-reporting them here would double-count)
        val changedSet = changed.toSet
        val dvDiff = if (dvSmall) {
          // driver set algebra over the already-collected rows: zero
          // jobs when the step adds no unchanged-bucket tombstones,
          // one broadcast local relation when it does
          val p = dvPrev.map(dvRowsOf(seq - 1, _)).getOrElse(Set.empty)
          val c = dvCur.map(dvRowsOf(seq, _)).getOrElse(Set.empty)
          val nd = (c diff p).toSeq
            .filter(e => !changedSet.contains(bucketOfFile(e._1)))
            .sorted // a Set's iteration order is not a plan order
          if (nd.isEmpty) None
          else {
            val bs = nd.map(e => bucketOfFile(e._1)).distinct.sorted
            // read raw (no DV filter): the tombstoned row itself —
            // through eraRead so extras files and renamed eras
            // resolve like any other read
            val scan = eraRead(spark, fs, baseDir, manCur, bs,
              withPos = true)
            import spark.implicits._
            Some(scan.join(broadcast(nd.toDF("__dv_f", "__dv_p")),
                Seq("__dv_f", "__dv_p"))
              .drop("__dv_f", "__dv_p")
              .withColumn("_change_type", lit("delete")))
          }
        } else {
          val newDv = (dvPrev, dvCur) match {
            case (_, None) => None
            case (None, Some(c)) => Some(c.df)
            case (Some(p), Some(c)) => Some(c.df.join(p.df.select(
              col("file").as("pf"), col("pos").as("pp")),
              col("file") === col("pf") && col("pos") === col("pp"),
              "left_anti"))
          }
          newDv.flatMap { nd =>
            val ndP = nd.withColumn("__b", regexp_extract(col("file"),
                BucketCol + "=([0-9]+)/", 1).cast("int"))
              .filter(!col("__b").isin(changedSet.toSeq: _*))
              .persist()
            try {
              val bs = ndP.select(col("__b"))
                .distinct().collect().map(_.getInt(0)).toSeq
              if (bs.isEmpty) None
              else {
                // read raw (no DV filter): the tombstoned row itself —
                // through eraRead so extras files and renamed eras
                // resolve like any other read
                val scan = eraRead(spark, fs, baseDir, manCur, bs.sorted,
                  withPos = true)
                Some(scan.join(broadcast(ndP.select(
                    col("file").as("__dv_f"), col("pos").as("__dv_p"))),
                    Seq("__dv_f", "__dv_p"))
                  .drop("__dv_f", "__dv_p")
                  .withColumn("_change_type", lit("delete")))
              }
            } finally { ndP.unpersist(); () }
          }
        }
        val stepEvents = (bucketDiff, dvDiff) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b,
            allowMissingColumns = true))
          case (a, b) => a.orElse(b)
        }
        stepEvents.map(_.withColumn("_commit_version", lit(seq)))
      }
    }.flatten
    steps.reduceOption((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        val man = readManifest(fs, s"$baseDir/v$toSeq")
        val sc = man.schema.getOrElse(sys.error(
          "tableChanges: legacy pre-schema manifest"))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(sc
            :+ org.apache.spark.sql.types.StructField("_change_type",
              org.apache.spark.sql.types.StringType)
            :+ org.apache.spark.sql.types.StructField("_commit_version",
              org.apache.spark.sql.types.LongType, nullable = false)))
      }
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(sys.error(
      s"dropColumn: no committed layout under $baseDir"))
    val cur = s"$baseDir/v$latest"
    val man = readManifest(fs, cur)
    val sc = man.schema.getOrElse(sys.error(
      "dropColumn: legacy pre-schema manifest — commit once through " +
      "upsertBatch to record a schema first"))
    require(column != key,
      s"dropColumn: $column is the layout's upsert key")
    require(sc.fieldNames.contains(column),
      s"dropColumn: no column '$column' in " +
      s"(${sc.fieldNames.mkString(", ")})")
    val attempt = newAttemptDir(fs, baseDir)
    // the full applicable DV set carries forward untouched — no file
    // was rewritten, so no tombstone was applied
    readDv(spark, fs, cur).foreach(dv =>
      dv.df.write.mode(SaveMode.Overwrite).parquet(s"$attempt/$DvDirName"))
    writeManifest(fs, attempt,
      Manifest(man.buckets, man.nBuckets, -1L,
        Some(org.apache.spark.sql.types.StructType(
          sc.filterNot(_.name == column))),
        ts = nextCommitTs(Some(man)), renames = man.renames,
        extras = man.extras))
    commitAttempt(spark, fs, baseDir, attempt, latest + 1)
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(sys.error(
      s"renameColumn: no committed layout under $baseDir"))
    val cur = s"$baseDir/v$latest"
    val man = readManifest(fs, cur)
    val sc = man.schema.getOrElse(sys.error(
      "renameColumn: legacy pre-schema manifest — commit once through " +
      "upsertBatch to record a schema first"))
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
    val seq = latest + 1
    val attempt = newAttemptDir(fs, baseDir)
    // no file was rewritten — tombstones carry forward untouched
    readDv(spark, fs, cur).foreach(dv =>
      dv.df.write.mode(SaveMode.Overwrite).parquet(s"$attempt/$DvDirName"))
    writeManifest(fs, attempt,
      Manifest(man.buckets, man.nBuckets, -1L,
        Some(org.apache.spark.sql.types.StructType(sc.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))),
        ts = nextCommitTs(Some(man)),
        renames = man.renames :+ ((seq, oldName, newName)),
        extras = man.extras))
    commitAttempt(spark, fs, baseDir, attempt, seq)
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
    import org.apache.spark.sql.functions.col
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(sys.error(
      s"rebucket: no committed layout under $baseDir"))
    val cur = s"$baseDir/v$latest"
    val man = readManifest(fs, cur)
    require(newBuckets >= 1, s"rebucket: $newBuckets < 1")
    require(newBuckets != man.nBuckets,
      s"rebucket: layout already has $newBuckets buckets")
    // the live snapshot (DV-applied), full rewrite
    val merged = readSnapshot(spark, cur)
    val touched = merged
      .select(bucketOf(key, newBuckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
    stageAndPublish(spark, fs, baseDir, merged, touched,
      priorMap = Map.empty, priorManifest = Some(man), priorDv = None,
      nBuckets = newBuckets, key = key, maintain = maintain,
      txn = -1L, seq = latest + 1)
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(return None)
    val man = readManifest(fs, s"$baseDir/v$latest")
    def dataFiles(dir: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).count { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && st.isFile
      }
    // a bucket is compaction-worthy when its dir fragments into
    // multiple files OR it carries merge-on-read debt of either kind:
    // deletion-vector tombstones or extras appendices — compaction is
    // exactly where both get physically applied and purged
    val priorDv = readDv(spark, fs, s"$baseDir/v$latest")
    val dvBuckets: Set[Int] = priorDv.fold(Set.empty[Int])(d =>
      d.df.select(org.apache.spark.sql.functions.regexp_extract(col("file"),
          BucketCol + "=([0-9]+)/", 1).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet)
    val extraBuckets = man.extras.map(_._1).toSet
    val fragmented = man.buckets.toSeq.sorted.filter { case (b, v) =>
      dvBuckets.contains(b) || extraBuckets.contains(b) ||
      // physical-name debt: a bucket whose files predate a RENAME
      // COLUMN reads through the per-era mapping (one scan per era) —
      // compacting it re-lands the files under the CURRENT names,
      // restoring the single-scan fast path and letting the rename
      // log prune below
      man.renames.exists(_._1 > v) ||
      dataFiles(s"$baseDir/v$v/$BucketCol=$b") > 1
    }
    if (fragmented.isEmpty) return None
    val seq = latest + 1
    // private staging + atomic publish rename: see [[commitAttempt]]
    val attempt = newAttemptDir(fs, baseDir)
    // ONE partitioned write for every fragmented bucket (round 14 —
    // the deleteWhere shape): the old per-bucket loop serialized a
    // read + coalesce(1) write per bucket; a single
    // repartition(bucket) + partitionBy write bin-packs each bucket
    // into one file just the same (each bucket's rows land in one
    // task; maxRecordsPerFile still rolls). Recorded-schema era read:
    // columns dropped by dropColumn are PHYSICALLY purged here,
    // renamed columns land under their CURRENT physical name, extras
    // appendices fold in, tombstones apply (compaction is where
    // merge-on-read debt of every kind gets discharged); each row's
    // bucket id comes from its source file path. orderForWrite
    // re-applies the declared layout (clusterBy OR the Morton
    // zorderBy) — compaction must not trade fragmentation for a
    // destroyed sort order.
    val scanC = eraRead(spark, fs, baseDir, man,
      fragmented.map(_._1), withPos = true)
    val liveC = priorDv.fold(scanC)(dvAnti(scanC, _))
    val rawC = liveC
      .withColumn(BucketCol, org.apache.spark.sql.functions
        .regexp_extract(col("__dv_f"),
          java.util.regex.Pattern.quote(BucketCol) + "=(\\d+)", 1)
        .cast("int"))
      .drop("__dv_f", "__dv_p")
      .repartition(col(BucketCol))
    val sortedC = orderForWrite(rawC, maintain, Seq(col(BucketCol)))
    val w0 = sortedC.write.mode(SaveMode.Overwrite)
    val w1 = maintain.flatMap(_.maxRecordsPerFile).fold(w0)(
      mrf => w0.option("maxRecordsPerFile", mrf.toString))
    w1.partitionBy(BucketCol).parquet(attempt)
    // a bucket whose live rows were ALL tombstoned writes no partition
    // dir, but its manifest pointer below still references this slot —
    // materialize the empty dir (exactly what the old per-bucket empty
    // write produced)
    for ((b, _) <- fragmented)
      if (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$attempt/$BucketCol=$b")))
        fs.mkdirs(new org.apache.hadoop.fs.Path(
          s"$attempt/$BucketCol=$b"))
    maintain.foreach(mt =>
      writeMaintenance(spark, mt, attempt, s"$baseDir/v$seq"))
    // every DV'd bucket was rewritten above, so the carried set is
    // empty by construction — the call stays for the invariant
    dvMinusBuckets(priorDv, fragmented.map(_._1).toSet).foreach(dv =>
      dv.write.mode(SaveMode.Overwrite).parquet(s"$attempt/$DvDirName"))
    val compacted = fragmented.map(_._1).toSet
    val newBuckets = man.buckets ++ fragmented.map(_._1 -> seq)
    val newExtras = man.extras.filterNot(e => compacted.contains(e._1))
    // prune rename-log entries no surviving era needs: an era at
    // holding version v consults renames with seq > v, so once every
    // holder postdates a rename it is dead weight (historical
    // manifests keep their own logs — time travel is untouched)
    val minHolder = (newBuckets.values ++ newExtras.map(_._2))
      .foldLeft(seq)(math.min)
    writeManifest(fs, attempt,
      Manifest(newBuckets,
        man.nBuckets, -1L, man.schema, // compaction never evolves
        ts = nextCommitTs(Some(man)),
        renames = man.renames.filter(_._1 > minHolder),
        extras = newExtras))
    val next = commitAttempt(spark, fs, baseDir, attempt, seq)
    maintain.foreach(mt => registerSnapshot(spark, next, mt))
    Some(next)
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
    import org.apache.spark.sql.functions.{col, coalesce, count => cnt, input_file_name, lit, not}
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(return None)
    val man = readManifest(fs, s"$baseDir/v$latest")
    // discovery probe: matching files only — zone/dict-pruned when the
    // snapshot's metadata is registered (the root set matches); the
    // manifest's recorded schema spares the footer pass. DV-filtered:
    // a row already tombstoned by a deletion vector must neither count
    // as deleted again nor pull its file into the rewrite set. File
    // identity rides the __dv_f suffix [[eraRead]] captures from each
    // scan's _metadata BEFORE any join (input_file_name() refuses
    // multi-source plans, and a join's projection hides the struct).
    val priorDv = readDv(spark, fs, s"$baseDir/v$latest")
    val probe0 = eraRead(spark, fs, baseDir, man,
      man.buckets.keys.toSeq, withPos = true)
    val snapSchema = org.apache.spark.sql.types.StructType(
      probe0.schema.filterNot(f =>
        f.name == "__dv_f" || f.name == "__dv_p"))
    val probe = priorDv.fold(probe0)(dvAnti(probe0, _))
    val touchedFiles = probe.filter(cond)
      .select(col("__dv_f").as("f"))
      .groupBy(col("f")).agg(cnt(lit(1)).as("n"))
      .collect()
    if (touchedFiles.isEmpty) return None
    val deleted = touchedFiles.map(_.getLong(1)).sum
    val bucketRe = (java.util.regex.Pattern.quote(BucketCol) +
      "=(\\d+)").r
    val touched = touchedFiles.map(r =>
      bucketRe.findFirstMatchIn(r.getString(0)) match {
        case Some(m) => m.group(1).toInt
        case None => sys.error(
          s"deleteWhere: no bucket in path ${r.getString(0)}")
      }).toSet
    val seq = latest + 1
    // private staging + atomic publish rename: see [[commitAttempt]]
    val attempt = newAttemptDir(fs, baseDir)
    // SQL DELETE: remove iff cond is TRUE — NULL keeps the row
    val keepCond = not(coalesce(cond, lit(false)))
    // ONE partitioned write for every touched bucket (round 14): the
    // old per-bucket loop serialized read→persist→isEmpty→write per
    // bucket (~3 jobs each — q237/q250 spent most of their commit wall
    // here); rewriting all touched buckets through a single
    // repartition(bucket) + partitionBy write is the stageAndPublish
    // shape — same one-file-per-bucket layout, same within-bucket
    // cluster/Z-order (bounds now span the touched set, as every
    // multi-bucket upsert commit's already do). Each row's bucket id
    // comes from its source file path — no key column is needed.
    // The SNAPSHOT schema, not the file schema: a predicate may name
    // a column this bucket's era predates (reads back NULL); extras
    // appendices fold in and are purged by the rewrite.
    val scanT = eraRead(spark, fs, baseDir, man, touched.toSeq.sorted,
      withPos = true, target = Some(snapSchema))
    val liveT = priorDv.fold(scanT)(dvAnti(scanT, _))
    val kept0 = liveT
      .withColumn(BucketCol, org.apache.spark.sql.functions
        .regexp_extract(col("__dv_f"),
          java.util.regex.Pattern.quote(BucketCol) + "=(\\d+)", 1)
        .cast("int"))
      .drop("__dv_f", "__dv_p")
      .filter(keepCond)
      .repartition(col(BucketCol))
    val clustered = orderForWrite(kept0, maintain, Seq(col(BucketCol)))
    val w0 = clustered.write.mode(SaveMode.Overwrite)
    val w1 = maintain.flatMap(_.maxRecordsPerFile).fold(w0)(
      m => w0.option("maxRecordsPerFile", m.toString))
    w1.partitionBy(BucketCol).parquet(attempt)
    // a touched bucket whose survivors all matched writes NO partition
    // dir — it leaves the manifest (emptied), exactly like the old
    // per-bucket isEmpty probe decided
    val rewritten = touched.filter(b => fs.exists(
      new org.apache.hadoop.fs.Path(s"$attempt/$BucketCol=$b")))
    val emptied = touched -- rewritten
    if (rewritten.nonEmpty)
      maintain.foreach(mt =>
        writeMaintenance(spark, mt, attempt, s"$baseDir/v$seq"))
    // touched buckets' tombstones are physically applied by the
    // rewrite (or the bucket emptied); the rest carry forward
    dvMinusBuckets(priorDv, touched).foreach(dv =>
      dv.write.mode(SaveMode.Overwrite).parquet(s"$attempt/$DvDirName"))
    val buckets = (man.buckets -- emptied) ++
      rewritten.map(_ -> seq).toMap
    require(buckets.nonEmpty,
      s"deleteWhere: every row of $baseDir matched — refusing to " +
      "commit an empty snapshot (drop the table instead)")
    writeManifest(fs, attempt,
      Manifest(buckets, man.nBuckets, -1L, Some(snapSchema),
        ts = nextCommitTs(Some(man)), renames = man.renames,
        extras = man.extras.filterNot(e => touched.contains(e._1))))
    val next = commitAttempt(spark, fs, baseDir, attempt, seq)
    maintain.foreach(mt => registerSnapshot(spark, next, mt))
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
    */
  def deleteWhereVectors(spark: org.apache.spark.sql.SparkSession,
                         baseDir: String,
                         cond: org.apache.spark.sql.Column,
                         maintain: Option[Maintain] = None)
      : Option[(String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(return None)
    val cur = s"$baseDir/v$latest"
    val man = readManifest(fs, cur)
    val priorDv = readDv(spark, fs, cur)
    // probe LIVE rows only: an already-tombstoned row must not be
    // tombstoned twice (the union below stays duplicate-free because
    // a (file, pos) can appear in at most one of the two sets).
    // eraRead captures _metadata positions per scan BEFORE the
    // anti-join, and folds in any extras appendices — a post-update
    // image living in an extra file is tombstonable like any row.
    val scan0 = eraRead(spark, fs, baseDir, man,
      man.buckets.keys.toSeq, withPos = true)
    val live = priorDv.fold(scan0)(dvAnti(scan0, _))
    val newDv = live.filter(coalesce(cond, lit(false)))
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
      require(dvAnti(scan0, DvSet(all,
          priorDv.map(_.bytes).getOrElse(0L))).limit(1).count() == 1L,
        s"deleteWhereVectors: every row of $baseDir matched — " +
        "refusing to tombstone the whole table (drop it instead)")
      val attempt = newAttemptDir(fs, baseDir)
      all.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$attempt/$DvDirName")
      writeManifest(fs, attempt,
        Manifest(man.buckets, man.nBuckets, -1L, man.schema,
          ts = nextCommitTs(Some(man)), renames = man.renames,
          extras = man.extras))
      val next = commitAttempt(spark, fs, baseDir, attempt, latest + 1)
      maintain.foreach(mt => registerSnapshot(spark, next, mt))
      Some((next, deleted))
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
    val fs = fsFor(baseDir, spark)
    val committed = committedVersions(fs, baseDir)
    val latest = committed.lastOption.getOrElse(return None)
    val cur = s"$baseDir/v$latest"
    val man = readManifest(fs, cur)
    val snapSchema = man.schema.getOrElse(sys.error(
      "updateWhereVectors: legacy pre-schema manifest — commit once " +
      "through upsertBatch to record a schema first"))
    set.keys.find(c => !snapSchema.fieldNames.contains(c)).foreach(c =>
      sys.error(s"updateWhereVectors: SET names unknown column '$c' " +
        s"(has: ${snapSchema.fieldNames.mkString(", ")})"))
    val priorDv = readDv(spark, fs, cur)
    // live rows with tombstone identity (extras-aware, rename-aware)
    val scanPos = eraRead(spark, fs, baseDir, man,
      man.buckets.keys.toSeq, withPos = true)
    val live = priorDv.fold(scanPos)(dvAnti(scanPos, _))
    val matched = live.filter(coalesce(cond, lit(false))).persist()
    try {
      val nUpd = matched.count()
      if (nUpd == 0L) return None
      val dataCols = snapSchema.fieldNames.toIndexedSeq
      val updated = matched.select(dataCols.map(c =>
        set.get(c).map(_.cast(snapSchema(c).dataType))
          .getOrElse(col(c)).as(c)): _*)
      checkGate(spark, updated, maintain, "updateWhereVectors")
      val seq = latest + 1
      val attempt = newAttemptDir(fs, baseDir)
      // appended images land bucket-partitioned (the key is untouched,
      // so each image stays in its row's bucket) under the declared
      // file order — an appendix file is a first-class layout citizen
      val bucketed = updated
        .withColumn(BucketCol, bucketOf(key, man.nBuckets))
        .repartition(col(BucketCol))
      val clustered = orderForWrite(bucketed, maintain,
        Seq(col(BucketCol)))
      val w0 = clustered.write.mode(SaveMode.Overwrite)
      val w1 = maintain.flatMap(_.maxRecordsPerFile).fold(w0)(
        m => w0.option("maxRecordsPerFile", m.toString))
      w1.partitionBy(BucketCol).parquet(attempt)
      val touchedB = fs.listStatus(
          new org.apache.hadoop.fs.Path(attempt)).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith(s"$BucketCol="))
        .map(_.stripPrefix(s"$BucketCol=").toInt).sorted
      // zone/dict/Bloom/stat metadata over ONLY the appended files
      maintain.foreach(mt =>
        writeMaintenance(spark, mt, attempt, s"$baseDir/v$seq"))
      // tombstone the pre-images: prior set ∪ matched positions
      val newDv = matched
        .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
      val all = priorDv.fold(newDv)(d =>
        d.df.select(col("file"), col("pos")).unionByName(newDv))
      all.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$attempt/$DvDirName")
      writeManifest(fs, attempt,
        Manifest(man.buckets, man.nBuckets, -1L, Some(snapSchema),
          ts = nextCommitTs(Some(man)), renames = man.renames,
          extras = man.extras ++ touchedB.map(_ -> seq)))
      val next = commitAttempt(spark, fs, baseDir, attempt, seq)
      maintain.foreach(mt => registerSnapshot(spark, next, mt))
      Some((next, nUpd))
    } finally { matched.unpersist(); () }
  }

  /** One commit's maintenance metadata, from one pass over ONLY the
    * files the commit wrote (the staged `attemptDir`) — history is
    * never rescanned: per-file zone rows, per-bucket mergeable wide
    * stats, per-file dictionaries. Written INSIDE the attempt
    * (underscore dirs are invisible to Spark data listings), so the
    * publish rename commits data + metadata + manifest in one atomic
    * step. File-keyed metadata (zones, dicts) is analyzed while the
    * files still live at the attempt path, so the `file` keys are
    * rewritten to the path the files WILL have once the attempt lands
    * on its commit slot (`finalDir`) — the registered keys then match
    * the committed listing exactly.
    */
  private def writeMaintenance(spark: org.apache.spark.sql.SparkSession,
                               mt: Maintain, attemptDir: String,
                               finalDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit,
      regexp_replace}
    val nKinds = Seq(mt.zoneCols, mt.statCols, mt.dictCols, mt.bloomCols)
      .count(_.nonEmpty)
    if (nKinds == 0) return
    // each maintained kind used to be an independent job RE-READING the
    // just-written commit files (up to 4 scans of the same churn). One
    // read now feeds them all: the file key is captured as a REAL
    // column BEFORE caching (input_file_name() is empty over an
    // InMemoryRelation — that asymmetry is why the analyzers take the
    // pre-captured column), the commit-churn-sized input is cached for
    // the duration of the maintenance writes, and released before
    // returning. Single-kind commits skip the cache: nothing is reused.
    // The cache holds ONLY the union of analyzed columns (+ bucket +
    // file key) — the per-analyzer parquet scans were column-pruned,
    // and a full-width cache of a wide table would give that back.
    val needed = ((mt.zoneCols ++ mt.statCols ++ mt.dictCols ++
      mt.bloomCols) :+ BucketCol).distinct
    val raw = spark.read.parquet(attemptDir)
      .withColumn("__gfile", input_file_name())
      .select(("__gfile" +: needed).map(col): _*)
    val newVer =
      if (nKinds >= 2) raw.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else raw
    val fkey = col("__gfile")
    val aPath = new org.apache.hadoop.fs.Path(attemptDir)
      .toUri.getPath
    val fPath = new org.apache.hadoop.fs.Path(finalDir).toUri.getPath
    def rekey(df: DataFrame): DataFrame =
      df.withColumn("file", regexp_replace(col("file"),
        lit(java.util.regex.Pattern.quote(aPath)),
        lit(java.util.regex.Matcher.quoteReplacement(fPath))))
    try {
      // the ≤4 analyzer writes are INDEPENDENT actions over the one
      // cached input, each to its own metadata dir — submitted
      // concurrently (optimization guide §2.6) so each job's
      // scheduling + commit tail overlaps the next job's work instead
      // of serializing 4 × (plan + schedule + commit) floors on
      // commit-churn-sized data. Concurrent first touch of the cache
      // is safe: the block manager's per-block get-or-compute lock
      // makes exactly one task compute each cached partition, so the
      // cache BUILD itself spreads across the concurrent jobs. All
      // writes are awaited before the commit proceeds (a half-flying
      // write must never outlive the attempt), and the first failure
      // is rethrown after every write has settled.
      def labeled(tag: String)(f: => Unit): () => Unit =
        labeledTask(spark, tag)(f)
      val writes = Seq(
        Option.when(mt.zoneCols.nonEmpty)(labeled("zones") {
          rekey(graft.plans.Zones.analyzeFiles(newVer, mt.zoneCols,
              fkey))
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$attemptDir/_zones")
        }),
        Option.when(mt.statCols.nonEmpty)(labeled("stats") {
          graft.operators.StatsPlanner.analyzeWideBy(
              newVer, BucketCol, mt.statCols.map(c => c -> c))
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$attemptDir/_stats")
        }),
        Option.when(mt.dictCols.nonEmpty)(labeled("dicts") {
          rekey(graft.plans.Zones.analyzeDictFiles(newVer, mt.dictCols,
              mt.dictMax, fkey))
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$attemptDir/_dicts")
        }),
        Option.when(mt.bloomCols.nonEmpty)(labeled("blooms") {
          rekey(graft.plans.Zones.analyzeBloomFiles(newVer,
              mt.bloomCols, mt.bloomBits, mt.bloomHashes, fkey))
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$attemptDir/_blooms")
        })).flatten
      runAllConcurrent(writes)
    } finally { if (nKinds >= 2) { newVer.unpersist(); () } }
  }

  // shared daemon pool for the concurrent metadata actions above and
  // in registerSnapshot — sized to the maintenance kind count (4), not
  // a tunable: the point is overlapping a handful of independent tiny
  // jobs' scheduling floors (guide §2.6), not parallelism for data
  private lazy val maintPool = java.util.concurrent.Executors
    .newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "graft-maintenance")
      t.setDaemon(true)
      t
    })

  /** Wrap a pool task so its jobs carry a readable description and
    * call site (guide §1.5). Both are thread-local; setting them per
    * task also clears the stale call site a pool thread inherits from
    * whatever thread happened to create it (InheritableThreadLocal).
    */
  private def labeledTask(spark: org.apache.spark.sql.SparkSession,
                          tag: String)(f: => Unit): () => Unit = () => {
    spark.sparkContext.setJobDescription(s"maintenance: $tag")
    spark.sparkContext.setCallSite(s"maintenance: $tag")
    try f
    finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.clearCallSite()
    }
  }

  /** Run independent actions concurrently on [[maintPool]], await ALL
    * of them, then rethrow the first failure (if any). One action runs
    * inline — nothing to overlap.
    */
  private def runAllConcurrent(actions: Seq[() => Unit]): Unit =
    if (actions.lengthCompare(1) <= 0) actions.foreach(_.apply())
    else {
      val futs = actions.map(a =>
        maintPool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = a()
        }))
      val errs = futs.flatMap(f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause)
        })
      errs.headOption.foreach(e => throw e)
    }

  /** Refresh the driver-side stats/zone registries for a committed
    * snapshot version from its DURABLE maintenance metadata — the step
    * a restarted driver (or a reader session that never ran the
    * stream) calls to make `readSnapshot(versionDir)` plans zone-prune
    * and broadcast from measured statistics. Bounded driver work: one
    * manifest read, one scan of ≤ #live-version stats rows (one per
    * bucket), one scan of the referenced zone metadata tables — never
    * the data.
    *
    * Current-stats resolution: bucket `b`'s stats row lives in
    * `_stats/v<version holding b>` — exactly the copy-on-write rule the
    * data files follow — and the merged result equals a full re-ANALYZE
    * of the resolved snapshot bit-for-bit (the q211 merge algebra).
    * Zone rows are file-keyed, so rows for superseded files are simply
    * never consulted.
    */
  def registerSnapshot(spark: org.apache.spark.sql.SparkSession,
                       versionDir: String, maintain: Maintain): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = fsFor(versionDir, spark)
    val base = new org.apache.hadoop.fs.Path(versionDir)
      .getParent.toString
    val man = readManifest(fs, versionDir)
    val dirs = holderDirs(base, man)
    val versions = bucketHolders(man).map(_._2).distinct.sorted
    // metadata lives INSIDE each version dir (published atomically
    // with it); the pre-OCC layout kept it under `<base>/_kind/v<seq>`
    // — resolve the in-version location first, fall back to legacy
    def metaOf(v: Long, kind: String): Option[String] =
      Seq(s"$base/v$v/$kind", s"$base/$kind/v$v")
        .find(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    // the two registry refreshes below are independent (disjoint
    // registries, disjoint metadata dirs) — overlapped like the
    // maintenance writes (guide §2.6), each being a couple of tiny
    // metadata-table jobs plus driver fold work
    val loadStats = Option.when(maintain.statCols.nonEmpty)(
        labeledTask(spark, "register stats") {
      val exprs = maintain.statCols.map(c => c -> c)
      // holders, not just base pointers: a bucket's stats row set is
      // its base version's partial PLUS any extras versions' appendix
      // partials — the mergeWide algebra combines them (tombstoned
      // rows stay counted until the bucket rewrites, the same
      // declared staleness deletion vectors already have)
      val byVer = bucketHolders(man).groupBy(_._2)
      val wide = versions.map { v =>
        val bs = byVer(v).map(_._1).distinct
        val sdir = metaOf(v, "_stats").getOrElse(sys.error(
          s"registerSnapshot: version v$v of $base has no _stats " +
          "metadata (was it written with statCols maintenance?)"))
        spark.read.parquet(sdir)
          .filter(col(BucketCol).isin(bs: _*))
      }.reduce(_ unionByName _)
      val stats = graft.operators.StatsPlanner.tableStatsFromWide(
        graft.operators.StatsPlanner.mergeWide(wide, exprs.length), exprs)
      graft.plans.StatsRegistry.registerRoots(dirs, stats)
    })
    val loadZones = Option.when(maintain.zoneCols.nonEmpty ||
        maintain.dictCols.nonEmpty || maintain.bloomCols.nonEmpty)(
        labeledTask(spark, "register zones") {
      val zdirs = versions.flatMap(v => metaOf(v, "_zones"))
      val ddirs = versions.flatMap(v => metaOf(v, "_dicts"))
      val bdirs = versions.flatMap(v => metaOf(v, "_blooms"))
      if (zdirs.nonEmpty || ddirs.nonEmpty || bdirs.nonEmpty)
        // rebaseTo: metadata rows record paths as of WRITE time, but
        // this layout may since have been relocated (restored backup,
        // cloned table, renamed mount) — reinterpret the location-
        // independent v<seq>/... suffix against the base being
        // registered, so a moved table's zones/dicts/Blooms still prune
        graft.plans.Zones.registerFromMetadataRoots(spark, dirs, zdirs,
          ddirs, bdirs, rebaseTo = Some(base))
    })
    runAllConcurrent(Seq(loadStats, loadZones).flatten)
  }

  /** Single-file CSV for reference parity (`main.py:277` writes exactly one
    * file). coalesce(1) serializes the final write through one task — only
    * correct for driver-scale results (the reference's own output is 22k
    * rows); large outputs should use [[writeCsvDir]].
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
      df.coalesce(1).write.mode(SaveMode.Overwrite)
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
