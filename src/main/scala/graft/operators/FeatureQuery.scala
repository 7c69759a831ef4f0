package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The reference's query surface — `SQLQuery` (`main.py:177-258`): three
  * filter/aggregate "features" over a joined transaction frame plus the
  * fold-join assembly. Two implementations:
  *
  *  - [[totalBefore]]/[[totalDuring]]/[[txnCount]]/[[assemble]] — faithful
  *    per-feature operators, matching the reference API shape one-to-one.
  *  - [[fusedFeatures]] — the Spark-first plan: ONE scan + ONE shuffle with
  *    conditional aggregation replaces three scans, three shuffles and two
  *    extra joins. At 100 TB the faithful shape re-reads the joined fact
  *    table three times (the reference dodges that only by materializing
  *    everything in RAM, `main.py:296-298`); the fused shape is
  *    semantically identical (proved by the oracle: the DuckDB SQL is the
  *    3-CTE faithful form) and ~3× cheaper.
  *
  * Boundary semantics pinned by the reference (`main.py:30-31,197,220`):
  * "before" is strictly `date < start`; "during" is inclusive
  * `start <= date <= end`; the count feature has NO date filter.
  */
object FeatureQuery {

  /** feature2 (`main.py:185-200`): strict-before window sum. */
  def totalBefore(txns: DataFrame, key: String, dateCol: String,
                  amountCol: String, start: Timestamp,
                  name: String = "total_amount_before_campaign"): DataFrame =
    Processor.groupByAgg(
      txns.filter(col(dateCol) < lit(start)),
      key, amountCol, "sum", name, sorted = false)

  /** feature3 (`main.py:202-223`): inclusive-range window sum. */
  def totalDuring(txns: DataFrame, key: String, dateCol: String,
                  amountCol: String, start: Timestamp, end: Timestamp,
                  name: String = "total_amount_during_campaign"): DataFrame =
    Processor.groupByAgg(
      txns.filter(col(dateCol).between(lit(start), lit(end))),
      key, amountCol, "sum", name, sorted = false)

  /** feature4 (`main.py:225-243`): unfiltered non-null count. */
  def txnCount(txns: DataFrame, key: String, amountCol: String,
               name: String = "total_transactions"): DataFrame =
    Processor.groupByAgg(txns, key, amountCol, "count", name, sorted = false)

  /** feature1 (`main.py:245-258`): inner fold-join of demographics plus the
    * three feature frames; only keys surviving every inner join remain.
    */
  def assemble(demographics: DataFrame, features: Seq[DataFrame],
               key: String): DataFrame =
    Processor.foldJoin(demographics +: features, key).orderBy(col(key))

  /** Faithful end-to-end pipeline (`main.py:284-330`): join transactions to
    * the key mapping, then three feature aggregations, then assembly.
    * `persist` caches the shared joined frame (SURVEY.md §7.3-10) — the
    * behavioral equivalent of the reference's eager materialization. The
    * caller owns that cache entry: [[graft.pipeline.HouseholdPipeline.run]]
    * drops it after its write.
    */
  def householdFeatures(demographics: DataFrame, mapping: DataFrame,
                        transactions: DataFrame, joinKey: String,
                        householdKey: String, dateCol: String,
                        amountCol: String, start: Timestamp, end: Timestamp)
      : DataFrame = {
    val joined = Processor.toTimestampCol(
      Processor.join(transactions, mapping, joinKey, "inner"), dateCol)
      .persist()
    val f2 = totalBefore(joined, householdKey, dateCol, amountCol, start)
    val f3 = totalDuring(joined, householdKey, dateCol, amountCol, start, end)
    val f4 = txnCount(joined, householdKey, amountCol)
    assemble(demographics, Seq(f2, f3, f4), householdKey)
  }

  /** Spark-first fused plan: single shuffle, conditional aggregation.
    * A group's windowed sum is NULL iff it had no row in that window, so
    * filtering both sums non-null reproduces exactly the inner fold-join's
    * key-survival semantics. Sums are exact decimal (order-independent
    * across partitions) surfaced as double.
    */
  def fusedFeatures(txns: DataFrame, key: String, dateCol: String,
                    amountCol: String, start: Column, end: Column,
                    beforeName: String = "total_amount_before_campaign",
                    duringName: String = "total_amount_during_campaign",
                    countName: String = "total_transactions"): DataFrame = {
    val amtDec: Column = col(amountCol).cast("decimal(18,2)")
    txns
      .groupBy(col(key))
      .agg(
        sum(when(col(dateCol) < start, amtDec)).cast("double")
          .as(beforeName),
        sum(when(col(dateCol).between(start, end), amtDec))
          .cast("double").as(duringName),
        count(col(amountCol)).as(countName))
      .filter(col(beforeName).isNotNull && col(duringName).isNotNull)
  }
}
