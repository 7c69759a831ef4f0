package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import graft.operators.{FeatureQuery, Processor}
import graft.pipeline.HouseholdPipeline
import graft.sources.Extractor

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

  test("a household whose before-window amounts are all NULL survives " +
       "run and runFused; a NULL date counts only in total_transactions") {
    val dir = Files.createTempDirectory("graft-hh").toString
    val (dem, hh, _) = writeFixtures(dir)
    // hh4 again, plus hh5 (i7): its one before-window row has no amount,
    // one row has no date
    Files.writeString(Paths.get(hh), Files.readString(Paths.get(hh)) + "5,i7\n")
    val trans = s"$dir/nulls.csv"
    Files.writeString(Paths.get(trans),
      """individual_id,date,transaction_amount
        |i4,2021-01-01 00:00:00,4.5
        |i4,2021-09-13 23:59:59,6.25
        |i7,2021-09-02 10:00:00,
        |i7,2021-09-08 10:00:00,3.5
        |i7,,1.25
        |""".stripMargin)
    val expected = Seq(golden(1), "5,4,1,101 to 150,40-49,201 to 500,AZ,,3.5,2")
    for ((name, runIt) <- Seq[(String, String => Boolean)](
        "run" -> (HouseholdPipeline.run(spark, dem, hh, trans, _)),
        "runFused" -> (HouseholdPipeline.runFused(spark, dem, hh, trans, _)))) {
      val out = s"$dir/$name.csv"
      assert(runIt(out), name)
      val lines = Files.readAllLines(Paths.get(out))
      assert(lines.subList(1, lines.size()).toArray.toSeq == expected, name)
    }
    // the one-aggregate plan equals the per-feature fold-join
    val d = Extractor.readCsv(spark, dem, HouseholdPipeline.demographicsSchema)
    val m = Extractor.readCsv(spark, hh, HouseholdPipeline.hhIndSchema)
    val t = Extractor.readCsv(spark, trans, HouseholdPipeline.transactionsSchema)
    val start = Processor.parseTimestampLiteral(HouseholdPipeline.CampaignStart)
    val end = Processor.parseTimestampLiteral(HouseholdPipeline.CampaignEnd)
    val joined = Processor.toTimestampCol(
      Processor.join(t, m, "individual_id"), "date")
    val perFeature = FeatureQuery.assemble(d, Seq(
      FeatureQuery.totalBefore(joined, "hhid", "date", "transaction_amount", start),
      FeatureQuery.totalDuring(joined, "hhid", "date", "transaction_amount",
        start, end),
      FeatureQuery.txnCount(joined, "hhid", "transaction_amount")), "hhid")
    val shared = FeatureQuery.householdFeatures(d, m, t, "individual_id",
      "hhid", "date", "transaction_amount", start, end)
    assert(shared.columns.toSeq == perFeature.columns.toSeq)
    assert(shared.collect().toSeq == perFeature.collect().toSeq)
  }

  /** Jobs of one `run` pass over the fixtures: the two dimension
    * broadcasts, the aggregate's shuffle stage and the write. The
    * three-aggregate fold-join over a persisted join ran 13. */
  private val MaxRunJobs = 4

  test("one run pass: at most 4 jobs, one aggregate over the joined " +
       "input, no cached relation, no range exchange") {
    val dir = Files.createTempDirectory("graft-hh").toString
    val (dem, hh, trans) = writeFixtures(dir)
    val (ok, rec) = JobRecorder.recorded(spark)(
      HouseholdPipeline.run(spark, dem, hh, trans, s"$dir/budget.csv"))
    assert(ok)
    assert(rec.jobs.size <= MaxRunJobs,
      s"${rec.jobs.size} jobs (bound $MaxRunJobs): ${rec.listing}")
    val plans = rec.queries.toSeq.map(_.optimizedPlan)
    val aggs = plans.flatMap(_.collect { case a: Aggregate => a })
    assert(aggs.size == 1, plans.mkString("\n"))
    assert(aggs.head.child.exists(_.isInstanceOf[Join]), aggs.head)
    assert(plans.forall(_.collect { case r: InMemoryRelation => r }.isEmpty))
    val physical = rec.queries.map(_.executedPlan.toString).mkString("\n")
    assert(!physical.contains("rangepartitioning"), physical)
    assert(!physical.contains("InMemoryTableScan"), physical)
  }
}
