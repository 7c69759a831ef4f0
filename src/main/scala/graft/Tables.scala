package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical access to the driver testdata tables (TESTDATA.md).
  *
  * One wrinkle: `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS),
  * which Spark's vectorized reader rejects outright. With
  * `spark.sql.legacy.parquet.nanosAsLong=true` (set in [[Graft.session]]) the
  * column arrives as nanosecond LongType; [[events]] converts it to a
  * microsecond TIMESTAMP_NTZ to match the naive-timestamp semantics every
  * other engine (DuckDB, pandas) gives this data.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events with `ts` normalized from nanos-long to TIMESTAMP_NTZ (µs). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // integer division: ns-since-epoch exceeds double's 2^53 mantissa,
        // so a float divide here would corrupt microseconds
        raw.withColumn(
          "ts", timestamp_micros(expr("ts DIV 1000")).cast(TimestampNTZType))
      case _ => raw
    }
  }
}

/** Session factory with the engine's standard local-mode tuning. */
object Graft {
  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every core of this machine. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(master: String = s"local[$cpus]",
              appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      // production deployment path for the custom SQL functions — any
      // spark-submit reaches them with the same one-line conf
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      // Spark's 4 MB per-file open cost floors the split size, so an input
      // of a few MB scans in 1-2 tasks; at 1 MB small local inputs split
      // into about `cpus` tasks and fill every core
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
