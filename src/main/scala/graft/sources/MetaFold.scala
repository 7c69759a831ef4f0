package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericRowWithSchema, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator
import graft.functions.{Expressions, Kmv}
import graft.operators.{ColStats, TableStats}
import graft.plans.Zones

/** A snapshot-table commit's maintenance metadata, folded inside the
  * tasks that write the bucket files (the `DeltaJobStatisticsTracker`
  * shape; Spark's `DataFrameWriter` takes no stats tracker, so the fold
  * rides a [[FoldingParquetFormat]] whose output writers see every row
  * they write). Each written file yields one [[FilePartial]]: its zone
  * bounds, capped dictionaries, nonzero Bloom words and a mergeable
  * stats partial. The driver turns a commit's partials into the
  * `_zones` / `_stats` / `_dicts` / `_blooms` rows ([[metaRows]]) and
  * writes each kind's one part file itself ([[writeRows]]): no job
  * re-reads the files the commit wrote.
  *
  * The fold evaluates what the public analyzers evaluate, not copies:
  * Catalyst's `Cast(_, StringType, session time zone)` for every
  * rendering, [[Expressions.fnv1a64]] + [[Expressions.splitmix64]] (what
  * `fnv_hash` / `mix64` run) for Bloom positions and KMV hashes, and
  * [[Kmv.SketchAgg]] / [[Kmv.mergeSorted]] for the sketches — so the
  * rows equal [[Zones.analyzeFiles]], [[Zones.analyzeDictFiles]],
  * [[Zones.analyzeBloomFiles]] and
  * [[graft.operators.StatsPlanner.analyzeWideBy]] over the same files.
  */
private[sources] object MetaFold {

  /** KMV bottom-k of the stats kind (StatsPlanner's). */
  private val K = 256

  /** One maintenance kind's rows: the analyzer's schema and its rows,
    * sorted — exactly the content of the version's `_zones` / `_stats` /
    * `_dicts` / `_blooms` dir. Driver-sized by construction: ≤ files ×
    * columns zone and dict rows, ≤ bloomBits/64 words per file and
    * column, one stats row per bucket.
    */
  final case class MetaRows(schema: StructType, rows: Seq[Row])

  /** One column's mergeable stats in Catalyst values: non-null count,
    * native min/max (NULL when no value), KMV bottom-k hashes. */
  final case class ColPart(nonNull: Long, min: Any, max: Any,
                           sketch: Seq[Long])

  /** A file's (or a bucket's) stats partial: row count and one
    * [[ColPart]] per stats column. */
  final case class StatsPart(rows: Long, cols: IndexedSeq[ColPart])

  /** What one written file contributes, per maintained column in
    * `Maintain` order: rendered zone bounds, the dictionary (None: no
    * non-NULL value, or more distinct values than `dictMax`), the
    * nonzero Bloom words by word index, and the stats partial. `key` is
    * the file's bucket dir and name. */
  final case class FilePartial(key: String,
                               zones: IndexedSeq[(String, String)],
                               dicts: IndexedSeq[Option[Seq[String]]],
                               blooms: IndexedSeq[Seq[(Int, Long)]],
                               stats: StatsPart)

  /** What the writers fold and where their partials go. */
  final case class Spec(mt: Loader.Maintain, timeZone: String,
                        out: CollectionAccumulator[FilePartial])

  def maintains(mt: Loader.Maintain): Boolean =
    Seq(mt.zoneCols, mt.statCols, mt.dictCols, mt.bloomCols).exists(_.nonEmpty)

  /** The format name of the folding writer. */
  val Format: String = classOf[FoldingParquetFormat].getName

  private val TokenOption = "graft.metafold.token"
  // specs of the folding writes in flight, by write token: the format is
  // instantiated by name, so its spec comes in through a write option
  private val specs = new java.util.concurrent.ConcurrentHashMap[String, Spec]()

  private[sources] def specOf(options: Map[String, String]): Spec =
    options.get(TokenOption).flatMap(t => Option(specs.get(t))).getOrElse(
      throw new IllegalStateException(s"$Format: no fold spec in the write " +
        "options (write through MetaFold.folding)"))

  /** Runs `write` (a save in [[Format]] with the given options) and
    * returns the partials of the files its tasks wrote. Only successful
    * tasks' partials arrive; the caller keeps those of committed files. */
  def folding(spark: SparkSession, mt: Loader.Maintain)
             (write: Map[String, String] => Unit): Seq[FilePartial] = {
    require(mt.dictMax >= 1, "Maintain: bad dictMax")
    require(mt.bloomBits >= 64 && mt.bloomBits % 64 == 0,
      "Maintain: bloomBits must be a positive multiple of 64")
    require(mt.bloomHashes >= 1, "Maintain: bad bloomHashes")
    val out = new CollectionAccumulator[FilePartial]
    spark.sparkContext.register(out) // unnamed: no listener event carries it
    val token = java.util.UUID.randomUUID().toString
    specs.put(token, Spec(mt, spark.sessionState.conf.sessionLocalTimeZone, out))
    try write(Map(TokenOption -> token))
    finally specs.remove(token)
    out.value.asScala.toSeq
  }

  /** A written file's partial key: its bucket dir and file name. */
  def keyOf(path: org.apache.hadoop.fs.Path): String =
    s"${path.getParent.getName}/${path.getName}"

  /** Passes every row to the parquet writer and folds it into the file's
    * partial; the partial is published when the file closes. */
  private[sources] final class FoldingWriter(out: OutputWriter, file: String,
                                             schema: StructType, spec: Spec)
      extends OutputWriter {
    private val mt = spec.mt
    private def fold[T](cols: Seq[String])(f: (Int, DataType) => T) =
      cols.map { c => val i = schema.fieldIndex(c); f(i, schema(i).dataType) }
        .toIndexedSeq
    private val zones = fold(mt.zoneCols)(new Bounds(_, _))
    private val stats = fold(mt.statCols)(new StatFold(_, _, spec.timeZone))
    private val dicts = fold(mt.dictCols)(new DictFold(_, _, spec.timeZone,
      mt.dictMax))
    private val blooms = fold(mt.bloomCols)(new BloomFold(_, _, spec.timeZone,
      mt.bloomBits, mt.bloomHashes))
    private var rows = 0L

    override def write(row: InternalRow): Unit = {
      out.write(row)
      rows += 1
      zones.foreach(_.add(row))
      stats.foreach(_.add(row))
      dicts.foreach(_.add(row))
      blooms.foreach(_.add(row))
    }

    override def close(): Unit = {
      out.close()
      spec.out.add(FilePartial(keyOf(new org.apache.hadoop.fs.Path(file)),
        zones.map(z => (render(z.min, z.dt, spec.timeZone),
          render(z.max, z.dt, spec.timeZone))),
        dicts.map(_.result), blooms.map(_.result),
        StatsPart(rows, stats.map(_.result))))
    }

    override def path(): String = out.path()
  }

  /** Native-typed min and max of column `i`, NULLs skipped (MIN/MAX). */
  private class Bounds(i: Int, val dt: DataType) {
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    var min: Any = null
    var max: Any = null
    def add(r: InternalRow): Unit = if (!r.isNullAt(i)) {
      val v = r.get(i, dt)
      if (min == null || ord.lt(v, min)) min = InternalRow.copyValue(v)
      if (max == null || ord.gt(v, max)) max = InternalRow.copyValue(v)
    }
  }

  /** `CAST(column i AS STRING)` of a row, NULL for NULL. */
  private def renderer(i: Int, dt: DataType, tz: String)
      : InternalRow => UTF8String = {
    val cast = Cast(BoundReference(i, dt, nullable = true), StringType, Some(tz))
    r => cast.eval(r).asInstanceOf[UTF8String]
  }

  /** The stats kind's aggregates of one column: count, min, max and the
    * KMV sketch of `mix64(fnv_hash(CAST(c AS STRING)))`; a NULL is not
    * a distinct value and stays out of the sketch. */
  private final class StatFold(col: Int, colType: DataType, tz: String)
      extends Bounds(col, colType) {
    private val str = renderer(col, colType, tz)
    private val agg = new Kmv.SketchAgg(K)
    private var nonNull = 0L
    private var sketch = agg.zero
    override def add(r: InternalRow): Unit = {
      super.add(r)
      val s = str(r)
      if (s != null) {
        nonNull += 1
        sketch = agg.reduce(sketch,
          Expressions.splitmix64(Expressions.fnv1a64(s, 0L)))
      }
    }
    def result: ColPart = ColPart(nonNull, min, max, sketch)
  }

  /** The distinct non-NULL renderings, poisoned past `cap` (the capped
    * set aggregate of [[Zones.analyzeDictFiles]]), sorted in Spark's
    * string order. */
  private final class DictFold(i: Int, dt: DataType, tz: String, cap: Int) {
    private val str = renderer(i, dt, tz)
    private val seen = new java.util.HashSet[UTF8String]()
    def add(r: InternalRow): Unit = if (seen.size <= cap) {
      val s = str(r)
      if (s != null && !seen.contains(s)) seen.add(s.clone())
    }
    def result: Option[Seq[String]] =
      if (seen.isEmpty || seen.size > cap) None
      else Some(seen.asScala.toSeq.sorted.map(_.toString))
  }

  /** The Bloom bits of the non-NULL renderings: k positions from one
    * FNV-1a base hash, each diversified by a golden multiple before
    * splitmix64 (see [[Zones.analyzeBloomFiles]]). */
  private final class BloomFold(i: Int, dt: DataType, tz: String,
                                numBits: Int, numHashes: Int) {
    private val str = renderer(i, dt, tz)
    private val words = new Array[Long](numBits / 64)
    def add(r: InternalRow): Unit = {
      val s = str(r)
      if (s != null) {
        val h = Expressions.fnv1a64(s, 0L)
        var j = 0
        while (j < numHashes) {
          val pos = java.lang.Math.floorMod(Expressions.splitmix64(
            h ^ ((j + 1L) * 0x9e3779b97f4a7c15L)), numBits.toLong)
          words((pos >>> 6).toInt) |= 1L << (pos & 63)
          j += 1
        }
      }
    }
    def result: Seq[(Int, Long)] =
      words.indices.filter(words(_) != 0L).map(w => w -> words(w))
  }

  /** `CAST(v AS STRING)` of a Catalyst value of type `dt`. */
  def render(v: Any, dt: DataType, tz: String): String =
    Option(Cast(Literal(v, dt), StringType, Some(tz)).eval())
      .map(_.toString).orNull

  /** The `mergeWide` algebra: counts add, native min/max take the least
    * and greatest, sketches union to the bottom k. */
  def merge(types: Seq[DataType])(a: StatsPart, b: StatsPart): StatsPart =
    StatsPart(a.rows + b.rows, types.indices.map { i =>
      val (x, y) = (a.cols(i), b.cols(i))
      val ord = TypeUtils.getInterpretedOrdering(types(i))
      def pick(u: Any, v: Any)(better: (Any, Any) => Boolean): Any =
        if (u == null || (v != null && better(v, u))) v else u
      ColPart(x.nonNull + y.nonNull, pick(x.min, y.min)(ord.lt),
        pick(x.max, y.max)(ord.gt), Kmv.mergeSorted(x.sketch, y.sketch, K))
    })

  /** A `_stats` row (bucket, n_total, then nn/mn/mx/sk per column) of a
    * bucket's partial, laid out by `schema` and carrying it, like a row
    * read back from a `_stats` dir. */
  def statsRow(bucket: Int, p: StatsPart, types: Seq[DataType],
               schema: StructType): Row =
    new GenericRowWithSchema((Seq[Any](bucket, p.rows) ++
      p.cols.zip(types).flatMap { case (c, dt) =>
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        Seq(c.nonNull, toScala(c.min), toScala(c.max), c.sketch)
      }).toArray, schema)

  /** The partial of a `_stats` row (which carries its layout), its
    * min/max cast to `types` (a row written before a type widening). */
  def statsOf(r: Row, types: Seq[DataType], tz: String): StatsPart =
    StatsPart(r.getLong(1), types.indices.map { i =>
      val o = 2 + 4 * i
      def native(j: Int): Any = {
        val v = CatalystTypeConverters.convertToCatalyst(r.get(j))
        val from = r.schema(j).dataType
        if (from == types(i)) v
        else Cast(Literal(v, from), types(i), Some(tz)).eval()
      }
      ColPart(r.getLong(o), native(o + 1), native(o + 2),
        Option(r.getSeq[Long](o + 3)).getOrElse(Nil))
    })

  /** The table statistics of merged partials — what
    * `tableStatsFromWide(mergeWide(...))` computes, on the driver. */
  def tableStats(parts: Seq[StatsPart], names: Seq[String],
                 types: Seq[DataType], tz: String): TableStats = {
    val m = parts.foldLeft(StatsPart(0L,
      types.map(_ => ColPart(0L, null, null, Nil)).toIndexedSeq))(merge(types))
    TableStats(m.rows, names.indices.map { i =>
      val c = m.cols(i)
      names(i) -> ColStats(m.rows - c.nonNull, render(c.min, types(i), tz),
        render(c.max, types(i), tz), c.sketch.size.toLong,
        Kmv.ndvEstimate(c.sketch, K))
    }.toMap)
  }

  /** Each maintained kind's rows, by metadata dir name, from the
    * partials of a commit's `files`: (final path, bucket, partial),
    * sorted by path. File-keyed rows sort by (file, column[, word]),
    * stats rows (one per bucket, its files' partials merged) by bucket.
    * `written` types the columns; `statsSchema` lays out `_stats`. */
  def metaRows(mt: Loader.Maintain, written: StructType,
               statsSchema: => StructType,
               files: Seq[(String, Int, FilePartial)]): Seq[(String, MetaRows)] = {
    def tag(c: String) = Zones.tagOf(written(c).dataType)
    def perFile(cols: Seq[String], schema: StructType)
               (rows: (String, FilePartial, String, Int) => Iterable[Row]) =
      MetaRows(schema, for {
        (f, _, p) <- files
        (c, i) <- cols.zipWithIndex.sortBy(_._1)
        r <- rows(f, p, c, i)
      } yield r)
    val types = mt.statCols.map(written(_).dataType)
    lazy val stats = statsSchema
    Seq(
      Option.when(mt.zoneCols.nonEmpty)("_zones" ->
        perFile(mt.zoneCols, Zones.ZoneRowSchema) { (f, p, c, i) =>
          Seq(Row(f, c, p.zones(i)._1, p.zones(i)._2, tag(c)))
        }),
      Option.when(mt.statCols.nonEmpty)("_stats" -> MetaRows(stats,
        files.groupBy(_._2).toSeq.sortBy(_._1).map { case (b, fs) =>
          statsRow(b, fs.map(_._3.stats).reduce(merge(types)), types, stats)
        })),
      Option.when(mt.dictCols.nonEmpty)("_dicts" ->
        perFile(mt.dictCols, Zones.DictRowSchema) { (f, p, c, i) =>
          p.dicts(i).map(d => Row(f, c, d, tag(c)))
        }),
      Option.when(mt.bloomCols.nonEmpty)("_blooms" ->
        perFile(mt.bloomCols, Zones.BloomRowSchema) { (f, p, c, i) =>
          p.blooms(i).map { case (w, word) =>
            Row(f, c, mt.bloomBits, mt.bloomHashes, w, word, tag(c))
          }
        })).flatten
  }

  /** Write `m` as the one part file of metadata dir `dir`, from the
    * driver, through Spark's own parquet writer: no job, no task. */
  def writeRows(spark: SparkSession, dir: String, m: MetaRows): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, m.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val out = factory.newInstance(s"$dir/part-00000-" +
      s"${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}",
      m.schema, ctx)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(m.schema)
    try m.rows.foreach(r => out.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally out.close()
  }
}

/** Spark's parquet format whose output writers also fold every row into
  * the file's commit metadata ([[MetaFold.FoldingWriter]]). Written
  * through [[MetaFold.folding]], which supplies the fold spec. */
final class FoldingParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    new FoldingParquetFormat.Factory(
      super.prepareWrite(spark, job, options, dataSchema),
      MetaFold.specOf(options))
}

object FoldingParquetFormat {
  private final class Factory(inner: OutputWriterFactory, spec: MetaFold.Spec)
      extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String =
      inner.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
                             ctx: TaskAttemptContext): OutputWriter =
      new MetaFold.FoldingWriter(inner.newInstance(path, dataSchema, ctx),
        path, dataSchema, spec)
  }
}
