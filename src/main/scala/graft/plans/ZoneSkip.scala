package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Driver-side registry of per-FILE zone maps (min/max renderings per
  * column), keyed by table location — the data-skipping half of a
  * lakehouse manifest. Entries are O(#files × #zone-columns) driver
  * strings; the 10⁶-file shape keeps the manifest AS A PARQUET
  * METADATA TABLE ([[Zones.writeMetadata]]) and loads the registry
  * from a scan of it ([[Zones.registerFromMetadata]]) — the same
  * bounded driver fetch any FileIndex performs to plan a scan.
  */
object ZoneRegistry {

  /** file path (URI-normalized) → column → (minRepr, maxRepr), plus
    * each zone column's TYPE TAG ("long", "date", "string", "other" —
    * captured from the analyzed frame's schema). The tag decides the
    * order renderings compare under: integer/date renderings parse to
    * longs, string renderings compare lexicographically (correct for
    * strings, exactly the order parquet string stats use), and anything
    * else never prunes — a DOUBLE's "9.5" must never lose
    * lexicographically to "10.2". Columns with no tag (a pre-tag
    * metadata table) default to the parse-based integer/date behavior.
    *
    * `dicts` is the DICTIONARY half of data skipping (file → column →
    * exact distinct-rendering set, capped at authoring time by
    * [[Zones.analyzeDictFiles]]): min/max zones cannot prune an
    * EQUALITY predicate on an unclustered column whose per-file ranges
    * all overlap (the high-cardinality-key norm), but an exact
    * membership set can — a file is skipped iff the literal's rendering
    * is provably absent. Files whose per-file NDV exceeded the cap are
    * simply absent here (kept — conservative).
    */
  /** A per-(file, column) Bloom filter over the column's canonical
    * string renderings — the point-lookup pruning path for columns
    * whose per-file NDV exceeds the dictionary cap: a dictionary is
    * EXACT but size-bounded; a Bloom is one bit array regardless of
    * NDV, with might-contain semantics (false positives keep a file —
    * conservative, never hides rows; a definite miss prunes it).
    * `words` is the sparse nonzero-word map of the bitset; position j
    * is splitmix64(FNV-1a64(repr) XOR (j+1)·golden) mod numBits — one
    * base hash from the graft chain, k probes diversified before the
    * finalizer (see [[Zones.analyzeBloomFiles]] for why seeded FNV
    * alone is not k independent hashes), bit-replayable anywhere.
    *
    * Driver-memory sizing: the registry holds ≤ numBits/8 bytes per
    * (file, column). Per-file Blooms are for the BUCKET-FILE tier
    * (10³–10⁴ files — a snapshot's rolled bucket files, a table's
    * compacted segments), where even 64 KiB each is megabytes of
    * driver state; a 10⁶-raw-file lake should Bloom its compacted
    * tier, not every ingest fragment.
    */
  final case class BloomSketch(numBits: Int, numHashes: Int,
                               words: Map[Int, Long]) {
    def mightContain(repr: String): Boolean = {
      val h = Zones.fnvString(repr, 0L)
      var j = 0
      while (j < numHashes) {
        val pos = java.lang.Math.floorMod(
          graft.functions.Expressions.splitmix64(
            h ^ ((j + 1L) * 0x9e3779b97f4a7c15L)), numBits.toLong).toInt
        if ((words.getOrElse(pos >> 6, 0L) >>> (pos & 63) & 1L) == 0L)
          return false
        j += 1
      }
      true
    }
  }

  final case class ZoneManifest(
      files: Map[String, Map[String, (String, String)]],
      tags: Map[String, String] = Map.empty,
      dicts: Map[String, Map[String, Set[String]]] = Map.empty,
      blooms: Map[String, Map[String, BloomSketch]] = Map.empty)

  private val byPath =
    new java.util.concurrent.ConcurrentHashMap[String, ZoneManifest]()

  /** Canonical file key: the URI path, so `input_file_name()`
    * renderings ("file:///p") and FileIndex renderings ("file:/p")
    * meet on one form.
    */
  private[plans] def fileKey(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  def register(tableDir: String, m: ZoneManifest): Unit =
    registerRoots(Seq(tableDir), m)

  /** Register under a multi-root key (a copy-on-write snapshot's bucket
    * directories, a post-compaction multi-dir read): the manifest is
    * file-keyed, so one merged manifest covers every root.
    */
  def registerRoots(dirs: Seq[String], m: ZoneManifest): Unit = {
    byPath.put(RegistryKeys.ofRoots(dirs), m); ()
  }

  /** Register under a CATALOG-TABLE identity (`saveAsTable` →
    * `spark.table(name)` plans resolve without a path).
    */
  def registerTable(spark: SparkSession, name: String,
                    m: ZoneManifest): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val db = ident.database.getOrElse(
      spark.sessionState.catalog.getCurrentDatabase)
    byPath.put(RegistryKeys.ofTable(db, ident.table), m); ()
  }

  def get(tableDir: String): Option[ZoneManifest] =
    Option(byPath.get(RegistryKeys.norm(tableDir)))
  private[plans] def getByKey(key: String): Option[ZoneManifest] =
    Option(byPath.get(key))
  def clear(): Unit = byPath.clear()
  /** Forget every entry whose roots lie under one of `dirs` — reclaimed
    * snapshot versions, which no read can resolve to again. */
  private[graft] def forgetUnder(dirs: Seq[String]): Unit =
    RegistryKeys.removeUnder(byPath, dirs)
  def isEmpty: Boolean = byPath.isEmpty
  /** Every registered manifest by registry key (an immutable copy). */
  private[graft] def entries: Map[String, ZoneManifest] = {
    import scala.jdk.CollectionConverters._
    byPath.asScala.toMap
  }
}

/** Zone-manifest authoring and registration — the q210 ANALYZE shape
  * at per-file grain, stored as a queryable parquet metadata table.
  */
object Zones {

  /** Per-file zone manifest of `df` over `cols` in ONE scan, grouped
    * by the physical file: (file, col_name, min_repr, max_repr), one
    * row per file × column. Renderings are canonical `CAST(c AS
    * STRING)` (dates as yyyy-MM-dd), the same forms
    * [[graft.operators.StatsPlanner.predSelectivity]] prices.
    */
  /** The type tag a column's zone renderings carry — decides the
    * comparison order [[ZoneSkipRule]] may use (see
    * [[ZoneRegistry.ZoneManifest]]).
    */
  private[graft] def tagOf(dt: org.apache.spark.sql.types.DataType)
      : String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "string"
      case DateType   => "date"
      case ByteType | ShortType | IntegerType | LongType => "long"
      case _          => "other"
    }
  }

  /** `fileCol` defaults to the scan-time `input_file_name()`; a caller
    * that has already CAPTURED the file key as a real column
    * (`input_file_name()` is empty over an InMemoryRelation) passes
    * that column instead. Output is identical either way.
    */
  def analyzeFiles(df: DataFrame, cols: Seq[String],
                   fileCol: org.apache.spark.sql.Column = input_file_name())
      : DataFrame = {
    require(cols.nonEmpty, "Zones.analyzeFiles: no columns")
    // min/max in the column's NATIVE type, rendered after — a string
    // min over integer renderings would be lexicographic ("9" > "24")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(expr(s"CAST(MIN($c) AS STRING)").as(s"mn_$i"),
          expr(s"CAST(MAX($c) AS STRING)").as(s"mx_$i"))
    }
    val tags = cols.map(c => tagOf(df.schema(c).dataType))
    val wide = df.select(fileCol.as("file") +:
        cols.map(col): _*)
      .groupBy(col("file")).agg(aggs.head, aggs.tail: _*)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      s"struct('$c' AS col_name, mn_$i AS min_repr, " +
        s"mx_$i AS max_repr, '${tags(i)}' AS col_tag)"
    }.mkString("array(", ", ", ")")
    wide.select(col("file"), explode(expr(rows)).as("z"))
      .select(col("file"), col("z.col_name"), col("z.min_repr"),
        col("z.max_repr"), col("z.col_tag"))
      .orderBy(col("file"), col("col_name"))
  }

  /** Per-file DICTIONARY manifest of `df` over `cols`: for every file
    * whose per-file distinct count on a column is ≤ `maxDict`, one row
    * (file, col_name, dict_repr = the SORTED exact set of distinct
    * `CAST(c AS STRING)` renderings). Files above the cap contribute no
    * row — [[ZoneSkipRule]] keeps them (conservative), so the cap
    * bounds METADATA size without ever hiding data. NULLs are excluded:
    * an equality predicate never matches NULL, so a membership test
    * over non-null renderings is exact.
    *
    * This is the pruning min/max zones cannot do: an EQUALITY predicate
    * on an unclustered column whose per-file [min, max] ranges all
    * overlap (interleaved keys — the norm for hash-distributed ids)
    * skips nothing by range, but skips every file whose exact value set
    * provably misses the literal.
    *
    * Scale shape: ONE map-side-combined aggregation per column — the
    * capped-set aggregate's partial buffers never exceed `maxDict`+1
    * renderings per (task, file), so the shuffle carries at most that
    * per group no matter how many billions of rows stream through
    * (the old three-pass form — distinct, ndv filter, collect_set
    * join — shuffled every distinct (file, value) pair TWICE to learn
    * what the capped buffer knows the moment it overflows). Driver
    * never holds more than the metadata itself.
    */
  def analyzeDictFiles(df: DataFrame, cols: Seq[String],
                       maxDict: Int = 256,
                       fileCol: org.apache.spark.sql.Column =
                         input_file_name()): DataFrame = {
    require(cols.nonEmpty, "Zones.analyzeDictFiles: no columns")
    require(maxDict >= 1, "Zones.analyzeDictFiles: bad maxDict")
    val capped = udaf(new CappedSetAgg(maxDict))
    cols.map { c =>
      df.select(fileCol.as("file"), col(c).cast("string").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("file"))
        // sort_array AFTER the aggregate: the buffer's iteration order
        // depends on insert order (partitioning); the rendered dict is
        // sorted under Spark's own string order, exactly like the old
        // sort_array(collect_set) form
        .agg(sort_array(capped(col("v"))).as("dict_repr"))
        .filter(col("dict_repr").isNotNull)
        .select(col("file"), lit(c).as("col_name"), col("dict_repr"),
          lit(tagOf(df.schema(c).dataType)).as("col_tag"))
    }.reduce(_ unionByName _).orderBy(col("file"), col("col_name"))
  }

  /** Size-capped exact distinct set: a typed, MERGEABLE aggregate whose
    * buffer never exceeds `cap`+1 values — the single-pass form of
    * "collect the exact distinct set, but only if it is small". A
    * buffer that reaches `cap`+1 values is POISONED: it stops growing
    * (one extra value already proves ndv > cap; which values it holds
    * no longer matters) and finishes as NULL, which
    * [[analyzeDictFiles]] drops — result-identical to the old
    * ndv-count-then-collect_set two-pass. Buffer is a Map (the proven
    * encoder shape — see [[graft.functions.MisraGries.SketchAgg]]);
    * values are ignored.
    */
  private class CappedSetAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Map[String, Boolean], Option[Seq[String]]] {
    override def zero: Map[String, Boolean] = Map.empty
    override def reduce(acc: Map[String, Boolean], v: String)
        : Map[String, Boolean] =
      if (v == null || acc.size > cap || acc.contains(v)) acc
      else acc.updated(v, true)
    override def merge(a: Map[String, Boolean], b: Map[String, Boolean])
        : Map[String, Boolean] =
      if (a.size > cap) a
      else if (b.size > cap) b
      else {
        val u = a ++ b
        // poisoned: shrink back to cap+1 — the flag, not the contents
        if (u.size > cap) u.take(cap + 1) else u
      }
    override def finish(acc: Map[String, Boolean]): Option[Seq[String]] =
      if (acc.size > cap) None else Some(acc.keysIterator.toSeq)
    override def bufferEncoder
        : org.apache.spark.sql.Encoder[Map[String, Boolean]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Boolean]]()
    override def outputEncoder
        : org.apache.spark.sql.Encoder[Option[Seq[String]]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Option[Seq[String]]]()
  }

  /** The `fnv_hash` expression's FNV-1a of a driver string — the probe
    * hashing [[ZoneRegistry.BloomSketch.mightContain]] runs must agree
    * bit-for-bit with the authoring hashing [[analyzeBloomFiles]] ran in
    * Spark, so both call [[graft.functions.Expressions.fnv1a64]].
    */
  private[graft] def fnvString(s: String, seed: Long): Long =
    graft.functions.Expressions.fnv1a64(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), seed)

  /** Per-file BLOOM manifest of `df` over `cols`: one row per
    * (file, column, nonzero bitset word), `numBits` bits and
    * `numHashes` seeded FNV probes per (file, column). This is the
    * point-lookup pruning for columns PAST the dictionary cap
    * ([[analyzeDictFiles]]'s `maxDict`): a dictionary's size grows with
    * NDV and gets dropped above the cap (file kept conservatively —
    * round-11's one real pruning hole); a Bloom stays `numBits/8` bytes
    * however many distinct values the file holds, trading exactness for
    * might-contain — false positives only ever KEEP a file. Size
    * `numBits` ≈ 32× the largest per-file NDV for a ~1e-4 per-file FP
    * rate at 5 hashes.
    *
    * Scale shape: one distinct-projection per column (map-side
    * combining), k position expansions per distinct rendering, and a
    * bit_or word aggregation — the output is metadata-sized (≤
    * numBits/64 rows per file × column), never data-sized.
    */
  def analyzeBloomFiles(df: DataFrame, cols: Seq[String],
                        numBits: Int = 1 << 16,
                        numHashes: Int = 5,
                        fileCol: org.apache.spark.sql.Column =
                          input_file_name()): DataFrame = {
    require(cols.nonEmpty, "Zones.analyzeBloomFiles: no columns")
    require(numBits >= 64 && numBits % 64 == 0,
      "Zones.analyzeBloomFiles: numBits must be a positive multiple of 64")
    require(numHashes >= 1, "Zones.analyzeBloomFiles: bad numHashes")
    cols.map { c =>
      // no distinct(): bit_or is idempotent, so duplicate values set
      // the same words — dropping the pre-dedup removes a full shuffle
      // of every distinct (file, value) pair; the map-side partial
      // bit_or already collapses each task's rows to ≤ numBits/64
      // words per file before anything moves
      val dv = df.select(fileCol.as("file"),
          col(c).cast("string").as("v"))
        .filter(col("v").isNotNull)
      // k probe positions from ONE base hash, diversified by XORing a
      // distinct 64-bit golden multiple BEFORE the splitmix finalizer.
      // Seeded FNV (seed XORed into the basis) is NOT k independent
      // hashes: the seed term is arithmetically equivalent to
      // perturbing the string's FIRST character ("5979" at seed j
      // collides 64-bit-EXACTLY with "4979" at a neighboring seed), so
      // sequential integer keys measured 34% FP at a 12% bit load —
      // and no post-hoc mixer can separate exact collisions. The XOR
      // constant has no p-power structure for digit edits to mimic;
      // measured FP drops to the independent-hash formula (0 of 5000
      // in the residue-class sim at 32 bits/value, 5 hashes).
      val base = graft.functions.Expressions.fnv_hash(col("v"))
      val posArr = array((0 until numHashes).map { i =>
        val cj = (i + 1L) * 0x9e3779b97f4a7c15L
        pmod(graft.functions.Expressions.mix64(base.bitwiseXOR(lit(cj))),
          lit(numBits.toLong))
      }: _*)
      dv.select(col("file"), explode(posArr).as("pos"))
        .select(col("file"), expr("CAST(pos DIV 64 AS INT)").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .as("bit"))
        .groupBy(col("file"), col("w"))
        .agg(expr("bit_or(bit)").as("word"))
        .select(col("file"), lit(c).as("col_name"),
          lit(numBits).as("num_bits"), lit(numHashes).as("num_hashes"),
          col("w"), col("word"),
          lit(tagOf(df.schema(c).dataType)).as("col_tag"))
    }.reduce(_ unionByName _).orderBy(col("file"), col("col_name"), col("w"))
  }

  /** Persist a zone manifest as the table's parquet metadata table. */
  def writeMetadata(zones: DataFrame, metaDir: String): Unit =
    zones.write.mode("overwrite").parquet(metaDir)

  /** Load a metadata table (a Spark SCAN of the manifest parquet — at
    * 10⁶ files this is the only pass over file-grain metadata) and
    * register its zones for `tableDir`, enabling [[ZoneSkipRule]] on
    * every subsequent unmodified read of that path. The collect is one
    * row per file × zone-column — the size of any scan's file listing.
    */
  def registerFromMetadata(spark: SparkSession, tableDir: String,
                           metaDir: String): Unit =
    registerFromMetadataRoots(spark, Seq(tableDir), Seq(metaDir))

  /** Multi-root variant: one merged manifest, loaded from one or more
    * metadata tables, registered for a multi-root read (a resolved
    * copy-on-write snapshot, a post-compaction multi-dir union). The
    * manifest is FILE-keyed, so entries for files a given listing does
    * not contain are simply never consulted. `dictDirs`, when given,
    * are [[analyzeDictFiles]] metadata tables merged into the
    * manifest's dictionary half.
    *
    * `zoneRows` / `dictRows` / `bloomRows` are metadata rows already in
    * driver memory, laid out as the matching analyzer's output (a
    * commit registering the version it just analyzed passes them
    * instead of reading its own metadata back); they merge with the
    * rows loaded from the dirs.
    */
  def registerFromMetadataRoots(spark: SparkSession, dirs: Seq[String],
                                metaDirs: Seq[String],
                                dictDirs: Seq[String] = Nil,
                                bloomDirs: Seq[String] = Nil,
                                rebaseTo: Option[String] = None,
                                zoneRows: Seq[Row] = Nil,
                                dictRows: Seq[Row] = Nil,
                                bloomRows: Seq[Row] = Nil): Unit =
    ZoneRegistry.registerRoots(dirs, mergedManifest(spark, metaDirs,
      dictDirs, bloomDirs, rebaseTo, zoneRows, dictRows, bloomRows))

  /** Reinterpret a durably-recorded file path against the table base
    * it is being REGISTERED under: metadata rows record absolute paths
    * at write time, but a table is relocatable (a restored backup, a
    * cloned layout, a renamed mount) — only the `v<seq>/...` suffix is
    * location-independent. Rebasing maps `<old base>/v3/b=1/f.parquet`
    * to `<new base>/v3/b=1/f.parquet`; a path with no version
    * component (flat layouts) passes through untouched, as does
    * everything when no rebase target is given.
    */
  private def rebasedKey(to: Option[String])(p: String): String =
    to.fold(p) { base =>
      val segs = new org.apache.hadoop.fs.Path(p).toUri.getPath
        .stripPrefix("/").split('/')
      val i = segs.lastIndexWhere(_.matches("v\\d+"))
      if (i < 0) p
      else base.stripSuffix("/") + "/" + segs.drop(i).mkString("/")
    }

  /** Catalog-table variant: `spark.table(name)` plans then zone-prune
    * with zero paths in the query (see [[ZoneRegistry.registerTable]]).
    */
  def registerTableFromMetadata(spark: SparkSession, tableName: String,
                                metaDirs: Seq[String],
                                dictDirs: Seq[String] = Nil): Unit =
    ZoneRegistry.registerTable(spark, tableName,
      mergedManifest(spark, metaDirs, dictDirs))

  /** The min/max, dictionary, and Bloom halves merged into one
    * manifest. Any side may be absent (a dictionary- or Bloom-only
    * table still prunes equalities; tags merge from every metadata
    * shape).
    */
  private def mergedManifest(spark: SparkSession, metaDirs: Seq[String],
                             dictDirs: Seq[String],
                             bloomDirs: Seq[String] = Nil,
                             rebaseTo: Option[String] = None,
                             zoneRows: Seq[Row] = Nil,
                             dictRows: Seq[Row] = Nil,
                             bloomRows: Seq[Row] = Nil)
      : ZoneRegistry.ZoneManifest = {
    val mm = loadManifest(spark, metaDirs, zoneRows, rebaseTo)
    val (dicts, dtags) = loadDicts(spark, dictDirs, dictRows, rebaseTo)
    val (blooms, btags) = loadBlooms(spark, bloomDirs, bloomRows, rebaseTo)
    mm.copy(dicts = dicts, blooms = blooms,
      tags = mm.tags ++ dtags ++ btags)
  }

  /** The rows of the metadata tables at `dirs` (one Spark scan of
    * their [[partFiles]] under `schema`, so no job infers it from
    * Parquet footers; none when they hold none), followed by `rows`. A
    * table written before column tags existed reads `col_tag` as NULL.
    */
  private def metadataRows(spark: SparkSession, dirs: Seq[String],
                           schema: StructType, rows: Seq[Row]): Seq[Row] = {
    val parts = dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      partFiles(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    if (parts.isEmpty) rows
    else spark.read.schema(schema)
      .parquet(parts.map(_.getPath.toString): _*).collect().toSeq ++ rows
  }

  // the columns the loaders below read of each analyzer's output, in
  // its column order (also the layouts a commit writes its metadata in)
  private[graft] val ZoneRowSchema = StructType.fromDDL(
    "file STRING, col_name STRING, min_repr STRING, max_repr STRING, " +
    "col_tag STRING")
  private[graft] val DictRowSchema = StructType.fromDDL(
    "file STRING, col_name STRING, dict_repr ARRAY<STRING>, col_tag STRING")
  private[graft] val BloomRowSchema = StructType.fromDDL(
    "file STRING, col_name STRING, num_bits INT, num_hashes INT, w INT, " +
    "word BIGINT, col_tag STRING")

  /** The part files of a parquet dir: its files whose names start with
    * neither `_` nor `.` (no commit markers, no checksums). A reader of
    * a metadata dir (`_zones`, `_stats`, `_dv`, …) passes these, not
    * the dir: Spark ignores a root path whose name starts with `_`, and
    * warns that it did on every such read.
    */
  private[graft] def partFiles(fs: org.apache.hadoop.fs.FileSystem,
                               dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  // each loader below groups its kind's rows — loaded from dirs and/or
  // passed in memory, in the analyzer's column order — by the rebased,
  // URI-normalized file key; a metadata table written before column
  // tags existed contributes no tags (parse-based behavior)
  private def loadBlooms(spark: SparkSession, bloomDirs: Seq[String],
                         fresh: Seq[Row], rebaseTo: Option[String])
      : (Map[String, Map[String, ZoneRegistry.BloomSketch]],
         Map[String, String]) = {
    // one row per (file, col, nonzero word) — metadata-sized collect
    val rows = metadataRows(spark, bloomDirs, BloomRowSchema, fresh)
    val blooms = rows
      .groupBy(r => ZoneRegistry.fileKey(
        rebasedKey(rebaseTo)(r.getString(0))))
      .map { case (f, rs) =>
        f -> rs.groupBy(_.getString(1)).map { case (c, ws) =>
          c -> ZoneRegistry.BloomSketch(ws.head.getInt(2),
            ws.head.getInt(3),
            ws.map(r => r.getInt(4) -> r.getLong(5)).toMap)
        }
      }
    (blooms, tagsOf(rows, 6))
  }

  private def loadDicts(spark: SparkSession, dictDirs: Seq[String],
                        fresh: Seq[Row], rebaseTo: Option[String])
      : (Map[String, Map[String, Set[String]]], Map[String, String]) = {
    // one row per (file, col) with a ≤maxDict array — the same bounded
    // driver fetch as the min/max manifest load
    val rows = metadataRows(spark, dictDirs, DictRowSchema, fresh)
    val dicts = rows.groupBy(r => ZoneRegistry.fileKey(
      rebasedKey(rebaseTo)(r.getString(0))))
      .map { case (f, rs) =>
        f -> rs.map(r =>
          r.getString(1) -> r.getSeq[String](2).toSet).toMap
      }
    (dicts, tagsOf(rows, 3))
  }

  private def loadManifest(spark: SparkSession, metaDirs: Seq[String],
                           fresh: Seq[Row], rebaseTo: Option[String])
      : ZoneRegistry.ZoneManifest = {
    val rows = metadataRows(spark, metaDirs, ZoneRowSchema, fresh)
    val files = rows.groupBy(r => ZoneRegistry.fileKey(
      rebasedKey(rebaseTo)(r.getString(0))))
      .map { case (f, rs) =>
        f -> rs.map(r => r.getString(1) -> (r.getString(2), r.getString(3)))
          .toMap
      }
    ZoneRegistry.ZoneManifest(files, tagsOf(rows, 4))
  }

  /** column → type tag from the rows' tag field `i` (NULL: untagged). */
  private def tagsOf(rows: Seq[Row], i: Int): Map[String, String] =
    rows.filterNot(_.isNullAt(i)).map(r => r.getString(1) -> r.getString(i))
      .toMap

  /** ANALYZE + persist + register in one call (the ingest-time step). */
  def analyzeAndRegister(spark: SparkSession, tableDir: String,
                         metaDir: String, cols: Seq[String]): Unit = {
    writeMetadata(analyzeFiles(spark.read.parquet(tableDir), cols), metaDir)
    registerFromMetadata(spark, tableDir, metaDir)
  }

  /** Compaction for APPEND tables (the q222 ingest shape): bin-pack the
    * given data FILES of a flat zone-mapped table into `numFiles`
    * sorted outputs, append the new files' zone rows to the metadata
    * table (one pass over the COMPACTED data only — history never
    * rescanned; the replaced files' rows go stale but are file-keyed
    * and never consulted again), and re-register. Returns the new file
    * names.
    *
    * The caller picks the candidates (the cold small-file tail, by
    * size or age) — policy stays a one-liner on top of the FS listing.
    * Single-writer contract, like every maintenance op here: run with
    * no concurrent reader/writer of the table. Crash ordering: new
    * files land under dot-prefixed TEMP names (invisible to Spark
    * listings and to the zone rule), old files are deleted only after
    * the renames, and the metadata append happens last — a crash
    * leaves either the old files intact or the new files plus
    * yet-unpruned metadata, never a half-visible mix.
    */
  def compactFiles(spark: SparkSession, tableDir: String,
                   metaDir: String, files: Seq[String],
                   zoneCols: Seq[String], numFiles: Int = 1,
                   sortBy: Option[String] = None): Seq[String] = {
    require(files.nonEmpty, "Zones.compactFiles: no candidates")
    require(numFiles >= 1, "Zones.compactFiles: bad numFiles")
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stage = s"$tableDir/.compact_stage"
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val df0 = spark.read.parquet(files: _*).coalesce(numFiles)
    val df = sortBy.fold(df0)(c => df0.sortWithinPartitions(col(c)))
    df.write.mode("overwrite").parquet(stage)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
      .map(_.getPath).filter { p =>
        p.getName.startsWith("part-") && p.getName.endsWith(".parquet")
      }.sortBy(_.getName)
    // new files become visible only after every old file is gone
    files.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    val renamed = parts.zipWithIndex.map { case (p, i) =>
      val dst = new org.apache.hadoop.fs.Path(
        tableDir, f"compacted_$i%05d_${p.getName}")
      require(fs.rename(p, dst), s"Zones.compactFiles: rename $p failed")
      dst.toString
    }.toSeq
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    // one pass over the compacted files only; stale rows for the
    // deleted files are never consulted (file-keyed manifest)
    analyzeFiles(spark.read.parquet(renamed: _*), zoneCols)
      .write.mode("append").parquet(metaDir)
    registerFromMetadata(spark, tableDir, metaDir)
    renamed
  }

  /** Metadata-table vacuum: rewrite the zone metadata keeping only
    * rows whose file still exists — bounded by METADATA size, never a
    * data scan. Pairs with [[compactFiles]] when stale rows accumulate.
    */
  def pruneMetadata(spark: SparkSession, metaDir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(metaDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rows = spark.read.parquet(metaDir).collect()
    val live = rows.filter(r => fs.exists(
      new org.apache.hadoop.fs.Path(r.getAs[String]("file"))))
    val dropped = rows.length - live.length
    if (dropped > 0) {
      val schema = spark.read.parquet(metaDir).schema
      val df = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(live: _*)), schema)
      val tmp = s"$metaDir.rewrite"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.delete(new org.apache.hadoop.fs.Path(metaDir), true)
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(metaDir)),
        s"Zones.pruneMetadata: rename $tmp failed")
    }
    dropped.toLong
  }
}

/** A [[FileIndex]] that delegates to the scan's own index and drops
  * files outside `keep` — the zone-pruned listing. Delegation (rather
  * than re-listing into a fresh index) preserves the PARTITION SPEC,
  * so dir-partitioned tables prune on DATA-column zones while Spark's
  * own partition pruning keeps working on the directory keys, and no
  * filesystem round-trip happens at rewrite time.
  */
private[plans] case class ZonePrunedFileIndex(
    underlying: FileIndex, keep: Set[String]) extends FileIndex {
  private def kept(p: org.apache.hadoop.fs.Path): Boolean =
    keep.contains(ZoneRegistry.fileKey(p.toString))
  override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
    underlying.rootPaths
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(files = pd.files.filter(f => kept(f.getPath))))
      .filter(_.files.nonEmpty)
  override def inputFiles: Array[String] =
    underlying.inputFiles.filter(f =>
      keep.contains(ZoneRegistry.fileKey(f)))
  override def refresh(): Unit = underlying.refresh()
  override def sizeInBytes: Long =
    listFiles(Nil, Nil).flatMap(_.files).map(_.getLen).sum
  override def partitionSchema: StructType = underlying.partitionSchema
}

/** Injected optimizer rule that promotes zone-map file skipping into
  * the SCAN PATH: a `Filter` directly above a parquet scan of a
  * registered table is rewritten so the relation's file listing keeps
  * only files whose [min, max] zones can intersect the filter — BEFORE
  * any task launches, for plans the user wrote with zero graft calls
  * (q214 proved the arithmetic behind an explicit API; this applies it
  * to a plain `spark.read.parquet(dir).filter(...)`).
  *
  * The contract is the lakehouse data-skipping one: zones are
  * CONSERVATIVE (a kept file may still contain no matching rows — the
  * residual filter stays in place and still runs), pruning only ever
  * REMOVES files that provably cannot match, and anything unpriceable
  * keeps the file: predicates on columns without zones, renderings
  * that parse as neither integer nor date, disjunctions, non-literal
  * comparisons. Files the listing has that the manifest lacks are kept
  * too, so a stale manifest can hide skipping but never rows.
  *
  * Works on flat AND dir-partitioned layouts: the pruned index
  * DELEGATES to the scan's own ([[ZonePrunedFileIndex]]), so the
  * partition spec survives and zone pruning on data columns COMPOSES
  * with Spark's partition pruning on directory keys.
  *
  * Idempotence in the fixed-point batch: the rule fires only when the
  * pruned listing is STRICTLY smaller than the current one; the
  * rewritten relation's listing equals its survivor set, so the second
  * pass is a no-op.
  */
object ZoneSkipRule extends Rule[LogicalPlan] {

  /** Integer reading of a zone bound or literal: plain integers, or
    * dates as days-since-epoch (the unit DATE literals carry).
    */
  private def renderLong(r: String): Option[Long] =
    // null rendering (an all-NULL column's file zone) is unpriceable,
    // not an NPE — the file is kept
    Option(r).flatMap(s => s.toLongOption.orElse(
      try Some(java.time.LocalDate.parse(s).toEpochDay)
      catch { case _: Exception => None }))

  /** Can a file with zone [mn, mx] contain a row with `col op v`,
    * under the column's order? The bounds arrive read in that order:
    * integer/date renderings parsed to longs ([[renderLong]]), STRING
    * renderings as themselves — lexicographic, the column's real order
    * and exactly what parquet string statistics use (a numeric
    * rendering must never compare that way: '9' > '24'). A bound that
    * does not read (null — an all-NULL file — or unparseable) is
    * unpriceable and keeps the file.
    */
  private def zoneMayMatch[T](mn: Option[T], mx: Option[T], op: String,
                              v: T)(implicit ord: Ordering[T]): Boolean = {
    import ord.mkOrderingOps
    (mn, mx) match {
      case (Some(mn), Some(mx)) => op match {
        case "="  => mn <= v && v <= mx
        case "<"  => mn < v
        case "<=" => mn <= v
        case ">"  => mx > v
        case ">=" => mx >= v
        case _    => true
      }
      case _ => true
    }
  }

  /** The literal's canonical `CAST(c AS STRING)` rendering under the
    * column's type tag — what a dictionary entry stores. None when the
    * tag can't vouch for the rendering (untagged/pre-tag metadata, a
    * string literal on a non-string column): no dict prune, keep.
    */
  private def litRepr(lit: Either[Long, String],
                      tag: Option[String]): Option[String] = lit match {
    case Right(s) => if (tag.contains("string")) Some(s) else None
    case Left(v) => tag match {
      case Some("long") => Some(v.toString)
      case Some("date") =>
        Some(java.time.LocalDate.ofEpochDay(v).toString)
      case _ => None
    }
  }

  /** Type-aware dispatch for ONE literal under ONE comparison op:
    * integer/date literals price against parseable renderings (any
    * non-string tag — the parse itself rejects mismatches
    * conservatively); string literals price ONLY against string-tagged
    * columns; every other combination keeps the file. An EQUALITY
    * additionally consults the file's dictionary when one exists: the
    * file survives only if the literal's rendering is a member — exact
    * membership, the pruning min/max cannot do on interleaved keys.
    */
  private def oneKeeps(zones: Map[String, (String, String)],
                       dicts: Map[String, Set[String]],
                       blooms: Map[String, ZoneRegistry.BloomSketch],
                       tags: Map[String, String],
                       c: String, op: String,
                       lit: Either[Long, String]): Boolean = {
    val minmaxKeeps = zones.get(c).forall { z =>
      lit match {
        case Left(v) if !tags.get(c).contains("string") =>
          zoneMayMatch(renderLong(z._1), renderLong(z._2), op, v)
        case Right(s) if tags.get(c).contains("string") =>
          zoneMayMatch(Option(z._1), Option(z._2), op, s)
        case _ => true
      }
    }
    val dictKeeps = op != "=" || dicts.get(c).forall(set =>
      litRepr(lit, tags.get(c)).forall(set.contains))
    // the Bloom is the dictionary's past-the-cap sibling: equality
    // survives only if the filter might contain the rendering — a
    // definite miss prunes, a false positive merely keeps (conservative)
    val bloomKeeps = op != "=" || blooms.get(c).forall(b =>
      litRepr(lit, tags.get(c)).forall(b.mightContain))
    minmaxKeeps && dictKeeps && bloomKeeps
  }

  /** A predicate keeps a file: comparisons test their single literal;
    * an IN-list is a disjunction of equalities — the file survives iff
    * ANY member could live in it.
    */
  private def predKeeps(zones: Map[String, (String, String)],
                        dicts: Map[String, Set[String]],
                        blooms: Map[String, ZoneRegistry.BloomSketch],
                        tags: Map[String, String],
                        p: StatsLeaf.CmpPred): Boolean =
    if (p.op == "in")
      p.lits.exists(l =>
        oneKeeps(zones, dicts, blooms, tags, p.col, "=", l))
    else oneKeeps(zones, dicts, blooms, tags, p.col, p.op, p.lit)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ZoneRegistry.isEmpty) plan // fast path: no zones, no effect
    else plan.transformUp {
      case f @ Filter(cond, lr: LogicalRelation) =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            // catalog identity first, then the root-path set — single
            // dir or a multi-root read (a resolved snapshot, a
            // post-compaction multi-dir union); the manifest is
            // file-keyed, so one lookup serves any root shape
                RegistryKeys.candidates(lr, fs.location).view
                  .flatMap(ZoneRegistry.getByKey).headOption match {
                  case Some(manifest) =>
                    val ps = StatsLeaf.preds(cond).distinct
                    if (ps.isEmpty) f
                    else {
                      val files = fs.location.inputFiles
                      val survivors = files.filter { file =>
                        val fk = ZoneRegistry.fileKey(file)
                        val zones = manifest.files
                          .getOrElse(fk, Map.empty[String, (String, String)])
                        val dicts = manifest.dicts
                          .getOrElse(fk, Map.empty[String, Set[String]])
                        val blooms = manifest.blooms.getOrElse(fk,
                          Map.empty[String, ZoneRegistry.BloomSketch])
                        // fully unmanifested file: keep
                        if (zones.isEmpty && dicts.isEmpty &&
                            blooms.isEmpty) true
                        else ps.forall(p =>
                          predKeeps(zones, dicts, blooms,
                            manifest.tags, p))
                      }
                      if (survivors.length >= files.length) f
                      else {
                        val keep = survivors
                          .map(ZoneRegistry.fileKey).toSet
                        val idx = ZonePrunedFileIndex(fs.location, keep)
                        val pruned = lr.copy(relation =
                          fs.copy(location = idx)(fs.sparkSession))
                        Filter(cond, pruned) // residual filter stays
                      }
                    }
                  case None => f
                }
          case _ => f
        }
    }
}
