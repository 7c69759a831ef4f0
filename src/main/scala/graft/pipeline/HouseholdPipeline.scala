package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.{FeatureQuery, Processor}
import graft.sources.{Extractor, Loader}

/** The reference application end-to-end (`main.py:284-330`): three CSVs in,
  * one household-feature CSV out. Schemas per FIXTURES.md §1 (recovered from
  * `main.py:25-27,75` + the golden output); `individual_id` is forced to
  * string exactly as the reference does with its dtype override.
  *
  * Two plans, each one scan of every input, one aggregate for the three
  * features and one write; the final order by household is applied in
  * the single-file sink ([[graft.sources.Loader.writeCsvSingle]]):
  *  - `run` — the reference's sums (float, rounded to 2 dp; see
  *    FeatureQuery.householdFeatures);
  *  - `runFused` — exact decimal sums (see FeatureQuery.fusedFeatures),
  *    identical output on 2-dp money.
  */
object HouseholdPipeline {

  val CampaignStart = "2021-09-06 00:00:00"  // main.py:30
  val CampaignEnd = "2021-09-13 23:59:59"    // main.py:31

  /** CLI: <demographics.csv> <hh_ind.csv> <transactions.csv> <out.csv>
    * [--fused]. The spark-submit entry for the reference application.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: HouseholdPipeline <dem.csv> <hh_ind.csv> <trans.csv> <out.csv> [--fused]")
    val spark = graft.Graft.session(appName = "household-pipeline")
    val ok =
      if (args.contains("--fused"))
        runFused(spark, args(0), args(1), args(2), args(3))
      else run(spark, args(0), args(1), args(2), args(3))
    println(s"household pipeline ${if (ok) "succeeded" else "failed"}: ${args(3)}")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  val hhIndSchema: StructType = StructType(Seq(
    StructField("hhid", LongType),
    StructField("individual_id", StringType)))

  val demographicsSchema: StructType = StructType(Seq(
    StructField("hhid", LongType),
    StructField("num_inds", IntegerType),
    StructField("children_ind", StringType),
    StructField("hh_income_ind", StringType),
    StructField("age_ind", StringType),
    StructField("home_value_ind", StringType),
    StructField("state", StringType)))

  val transactionsSchema: StructType = StructType(Seq(
    StructField("individual_id", StringType),
    StructField("date", StringType),  // parsed post-join, main.py:138
    StructField("transaction_amount", DoubleType)))

  def run(spark: SparkSession, demPath: String, hhPath: String,
          transPath: String, outPath: String): Boolean = {
    val out = features(spark, demPath, hhPath, transPath, fused = false)
    Loader.writeCsvSingle(out, outPath)
  }

  def runFused(spark: SparkSession, demPath: String, hhPath: String,
               transPath: String, outPath: String): Boolean = {
    val out = features(spark, demPath, hhPath, transPath, fused = true)
    Loader.writeCsvSingle(out, outPath)
  }

  def features(spark: SparkSession, demPath: String, hhPath: String,
               transPath: String, fused: Boolean): DataFrame = {
    val dem = Extractor.readCsv(spark, demPath, demographicsSchema)
    val hh = Extractor.readCsv(spark, hhPath, hhIndSchema)
    val trans = Extractor.readCsv(spark, transPath, transactionsSchema)
    val start = Processor.parseTimestampLiteral(CampaignStart)
    val end = Processor.parseTimestampLiteral(CampaignEnd)
    if (!fused)
      FeatureQuery.householdFeatures(
        dem, hh, trans, "individual_id", "hhid", "date",
        "transaction_amount", start, end)
    else {
      val joined = Processor.toTimestampCol(
        Processor.join(trans, hh, "individual_id", "inner"), "date")
      val feats = FeatureQuery.fusedFeatures(
        joined, "hhid", "date", "transaction_amount",
        org.apache.spark.sql.functions.lit(start),
        org.apache.spark.sql.functions.lit(end))
      Processor.join(dem, feats, "hhid")
        .orderBy(org.apache.spark.sql.functions.col("hhid"))
    }
  }
}
