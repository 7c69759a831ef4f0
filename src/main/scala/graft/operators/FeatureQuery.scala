package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The reference's query surface — `SQLQuery` (`main.py:177-258`): three
  * filter/aggregate "features" over a joined transaction frame plus the
  * fold-join assembly. Two layers:
  *
  *  - [[totalBefore]]/[[totalDuring]]/[[txnCount]]/[[assemble]] — the
  *    per-feature operators, matching the reference API shape one-to-one.
  *  - [[householdFeatures]] and [[fusedFeatures]] — the plans the pipeline
  *    runs: all three features come out of ONE aggregate over the joined
  *    frame (one scan, one shuffle), the shared-aggregate plan of LMFAO
  *    (SIGMOD 2019). The per-feature form would scan and shuffle the
  *    joined frame three times and join the results twice. A household
  *    survives iff it has a row in each window — the inner fold-join's key
  *    survival, kept by presence counts, not by non-null sums. The two
  *    differ only in the window sums: [[householdFeatures]] float-sums and
  *    rounds like [[totalBefore]]; [[fusedFeatures]] sums exact decimals.
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

  /** The end-to-end feature table (`main.py:284-330`): join transactions
    * to the key mapping, aggregate the three features in one pass, inner
    * join demographics, order by household. Values equal
    * [[assemble]] of [[totalBefore]], [[totalDuring]] and [[txnCount]]
    * over the same joined frame.
    */
  def householdFeatures(demographics: DataFrame, mapping: DataFrame,
                        transactions: DataFrame, joinKey: String,
                        householdKey: String, dateCol: String,
                        amountCol: String, start: Timestamp, end: Timestamp)
      : DataFrame = {
    val joined = Processor.toTimestampCol(
      Processor.join(transactions, mapping, joinKey, "inner"), dateCol)
    val feats = windowedFeatures(joined, householdKey, dateCol, amountCol,
      lit(start), lit(end), c => bround(sum(c), 2),
      "total_amount_before_campaign", "total_amount_during_campaign",
      "total_transactions")
    Processor.join(demographics, feats, householdKey)
      .orderBy(col(householdKey))
  }

  /** The three features in one aggregate, sums exact: each amount is cast
    * to DECIMAL(18,2) before summing (order-independent across
    * partitions), the sum surfaced as double.
    */
  def fusedFeatures(txns: DataFrame, key: String, dateCol: String,
                    amountCol: String, start: Column, end: Column,
                    beforeName: String = "total_amount_before_campaign",
                    duringName: String = "total_amount_during_campaign",
                    countName: String = "total_transactions"): DataFrame =
    windowedFeatures(txns, key, dateCol, amountCol, start, end,
      c => sum(c.cast("decimal(18,2)")).cast("double"),
      beforeName, duringName, countName)

  /** One `groupBy(key)`: `total` of the amounts in each window, the
    * non-null amount count, and a group kept only when both windows
    * hold a row. A window whose rows all have NULL amounts still keeps
    * its group (with a NULL total), as the inner fold-join of the
    * per-feature frames does; a NULL date falls in neither window.
    */
  private def windowedFeatures(txns: DataFrame, key: String,
                               dateCol: String, amountCol: String,
                               start: Column, end: Column,
                               total: Column => Column, beforeName: String,
                               duringName: String, countName: String)
      : DataFrame = {
    val before = col(dateCol) < start
    val during = col(dateCol).between(start, end)
    txns
      .groupBy(col(key))
      .agg(
        total(when(before, col(amountCol))).as(beforeName),
        total(when(during, col(amountCol))).as(duringName),
        count(col(amountCol)).as(countName),
        count(when(before, 1)).as("__before_rows"),
        count(when(during, 1)).as("__during_rows"))
      .filter(col("__before_rows") > 0 && col("__during_rows") > 0)
      .drop("__before_rows", "__during_rows")
  }
}
