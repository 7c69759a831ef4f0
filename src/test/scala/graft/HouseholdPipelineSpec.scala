package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.HouseholdPipeline

/** End-to-end reference-parity run: three reference-shaped CSVs in, one CSV
  * out; golden values hand-computed (the integration analogue of
  * `test_main.py:284-309`, but with real value assertions).
  */
class HouseholdPipelineSpec extends SparkSpec {

  private def writeFixtures(dir: String): (String, String, String) = {
    val dem = s"$dir/demographics.csv"
    Files.writeString(Paths.get(dem),
      """hhid,num_inds,children_ind,hh_income_ind,age_ind,home_value_ind,state
        |1,2,0,0 to 50,30-39,101 to 200,CA
        |2,1,1,noValue,noValue,noValue,TX
        |3,3,2+,151+,65+,501+,NY
        |4,1,0,51 to 100,20-29,0 to 100,WA
        |5,4,1,101 to 150,40-49,201 to 500,AZ
        |""".stripMargin)
    val hh = s"$dir/hh_ind.csv"
    Files.writeString(Paths.get(hh),
      """hhid,individual_id
        |1,i1
        |1,i2
        |2,i9
        |3,i5
        |4,i4
        |""".stripMargin)
    val trans = s"$dir/transactions.csv"
    Files.writeString(Paths.get(trans),
      """individual_id,date,transaction_amount
        |i1,2021-09-01 08:00:00,10.0
        |i2,2021-09-05 23:59:59,2.25
        |i1,2021-09-06 00:00:00,5.0
        |i2,2021-10-01 00:00:00,1.0
        |i9,2021-08-31 12:00:00,7.0
        |i5,2021-09-07 12:00:00,3.0
        |i4,2021-01-01 00:00:00,4.5
        |i4,2021-09-13 23:59:59,6.25
        |i404,2021-09-07 00:00:00,99.0
        |""".stripMargin)
    (dem, hh, trans)
  }

  // Golden (hand-computed per main.py semantics):
  // hh1 survives: before 12.25, during 5.0 (boundary txn at start counts as
  //   during), total 4 (incl. the post-campaign txn)
  // hh4 survives: before 4.5, during 6.25 (end boundary inclusive), total 2
  // hh2 (before only), hh3 (during only), hh5 (no txns), i404 (no mapping)
  //   all dropped by inner joins.
  private val golden = Seq(
    "1,2,0,0 to 50,30-39,101 to 200,CA,12.25,5.0,4",
    "4,1,0,51 to 100,20-29,0 to 100,WA,4.5,6.25,2")

  private val header = "hhid,num_inds,children_ind,hh_income_ind,age_ind," +
    "home_value_ind,state,total_amount_before_campaign," +
    "total_amount_during_campaign,total_transactions"

  test("faithful run: CSVs in, golden CSV out") {
    val dir = Files.createTempDirectory("graft-hh").toString
    val (dem, hh, trans) = writeFixtures(dir)
    val out = s"$dir/household_features.csv"
    assert(HouseholdPipeline.run(spark, dem, hh, trans, out))
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == header)
    assert(lines.subList(1, lines.size()).toArray.toSeq == golden)
  }

  test("fused run produces the same output file") {
    val dir = Files.createTempDirectory("graft-hh").toString
    val (dem, hh, trans) = writeFixtures(dir)
    val out = s"$dir/household_features_fused.csv"
    assert(HouseholdPipeline.runFused(spark, dem, hh, trans, out))
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == header)
    assert(lines.subList(1, lines.size()).toArray.toSeq == golden)
  }

  test("run leaves no cache behind: a second run reads rewritten inputs") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // other suites share this session; start from an empty cache
    spark.catalog.clearCache()
    val dir = Files.createTempDirectory("graft-hh").toString
    val (dem, hh, trans) = writeFixtures(dir)
    val out1 = s"$dir/first.csv"
    assert(HouseholdPipeline.run(spark, dem, hh, trans, out1))
    assert(cache.isEmpty, "run left a cached frame behind")
    val p = Paths.get(trans)
    Files.writeString(p, Files.readString(p)
      .replace("i1,2021-09-01 08:00:00,10.0", "i1,2021-09-01 08:00:00,20.0"))
    val out2 = s"$dir/second.csv"
    assert(HouseholdPipeline.run(spark, dem, hh, trans, out2))
    assert(cache.isEmpty, "run left a cached frame behind")
    val lines = Files.readAllLines(Paths.get(out2))
    assert(lines.subList(1, lines.size()).toArray.toSeq == Seq(
      "1,2,0,0 to 50,30-39,101 to 200,CA,22.25,5.0,4", golden(1)))
  }
}
