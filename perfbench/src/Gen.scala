package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generation for the household workloads, plus the expected
  * features computed in plain Scala from the same rows.
  *
  * Amounts are whole cents, so every expected sum is an exact integer and
  * compares exactly against the pipeline's 2-dp output.
  */
object Gen {

  /** Input shape: households, individuals per household, and how the
    * transactions are spread over them.
    *  - `deep`: every individual may transact; dates uniform over
    *    2021-08-01 .. 2021-09-30, so almost every household survives.
    *  - `wide`: a minority of households transact, most with one
    *    transaction before and one during the campaign.
    */
  final case class Shape(name: String, households: Int, indsPerHh: Int,
                         transactions: Int, wide: Boolean)

  val Shapes: Map[String, Shape] = Map(
    "hh_deep" -> Shape("hh_deep", 20000, 3, 400000, wide = false),
    "hh_wide" -> Shape("hh_wide", 80000, 4, 120000, wide = true))

  final case class Expected(hhid: Long, dem: String, beforeCents: Long,
                            duringCents: Long, count: Long)

  final case class HhInputs(dem: String, hhInd: String, trans: String,
                            inputRows: Long, inputBytes: Long,
                            expected: Array[Expected], hash: String)

  val Header = "hhid,num_inds,children_ind,hh_income_ind,age_ind," +
    "home_value_ind,state,total_amount_before_campaign," +
    "total_amount_during_campaign,total_transactions"

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Start = LocalDateTime.parse("2021-09-06 00:00:00", fmt)
  private val End = LocalDateTime.parse("2021-09-13 23:59:59", fmt)
  private val WindowStart = LocalDateTime.parse("2021-08-01 00:00:00", fmt)
  private val WindowSecs = 61L * 86400L // 2021-08-01 .. 2021-09-30
  private val States = Array("CA", "TX", "NY", "FL", "WA", "CO", "IL", "OH")

  private def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  def generate(shape: Shape, seed: Long, dir: String): HhInputs = {
    new File(dir).mkdirs()
    val rnd = new SplittableRandom(seed * 1000003L + shape.name.hashCode)
    val nHh = shape.households
    val nInd = nHh * shape.indsPerHh
    val before = new Array[Long](nHh + 1)
    val during = new Array[Long](nHh + 1)
    val hasBefore = new Array[Boolean](nHh + 1)
    val hasDuring = new Array[Boolean](nHh + 1)
    val count = new Array[Long](nHh + 1)
    val demCells = new Array[String](nHh + 1)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    var rows = 0L
    var bytes = 0L
    def writeCsv(name: String, header: String)(body: (String => Unit) => Unit)
        : String = {
      val path = s"$dir/$name.csv"
      val w = new BufferedWriter(new FileWriter(path), 1 << 20)
      def line(s: String): Unit = {
        w.write(s); w.write('\n')
        digest.update(s.getBytes("UTF-8")); digest.update('\n'.toByte)
      }
      line(header)
      body(l => { line(l); rows += 1 })
      w.close()
      bytes += new File(path).length()
      path
    }

    // households 1..nHh; household h owns individuals (h-1)*k+1 .. h*k
    val dem = writeCsv("demographics",
        "hhid,num_inds,children_ind,hh_income_ind,age_ind,home_value_ind,state") {
      emit =>
        var h = 1
        while (h <= nHh) {
          val cells = Seq(
            (1 + rnd.nextInt(shape.indsPerHh + 2)).toString,
            if (rnd.nextBoolean()) "Y" else "N",
            ('A' + rnd.nextInt(12)).toChar.toString,
            (1 + rnd.nextInt(9)).toString,
            ('A' + rnd.nextInt(9)).toChar.toString,
            States(rnd.nextInt(States.length))).mkString(",")
          demCells(h) = cells
          emit(s"$h,$cells")
          h += 1
        }
    }
    def indId(i: Int): String = f"I$i%09d"
    val hhOf = (i: Int) => (i - 1) / shape.indsPerHh + 1
    val hhInd = writeCsv("hh_ind", "hhid,individual_id") { emit =>
      var i = 1
      while (i <= nInd) { emit(s"${hhOf(i)},${indId(i)}"); i += 1 }
    }

    val trans = writeCsv("transactions",
        "individual_id,date,transaction_amount") { emit =>
      def txn(ind: Int, at: Option[LocalDateTime], amount: Long): Unit = {
        val h = if (ind <= nInd) hhOf(ind) else 0
        val date = at.fold("2021-13-45 99:99:99")(_.format(fmt))
        emit(s"${indId(ind)},$date,${cents(amount)}")
        if (h > 0) {
          count(h) += 1
          at.foreach { t =>
            if (t.isBefore(Start)) { before(h) += amount; hasBefore(h) = true }
            else if (!t.isAfter(End)) { during(h) += amount; hasDuring(h) = true }
          }
        }
      }
      def amount(): Long = 1L + rnd.nextInt(99999)
      def at(fromDay: Int, days: Int): Option[LocalDateTime] =
        Some(WindowStart.plusDays(fromDay.toLong)
          .plusSeconds(rnd.nextLong(days * 86400L)))
      def anyTime(): Option[LocalDateTime] =
        Some(WindowStart.plusSeconds(rnd.nextLong(WindowSecs)))
      def firstInd(h: Int): Int = (h - 1) * shape.indsPerHh + 1
      // planted cases (FIXTURES.md): household 1 transacts exactly at the
      // campaign start and at its last second; household 2 has no
      // transaction during the campaign (dropped); household 3's
      // demographics row has no transactions (dropped); household 4 has a
      // malformed date (NULL: counted, in neither sum) and one after the
      // campaign end; an individual missing from hh_ind joins nothing
      txn(firstInd(1), at(0, 3), amount())
      txn(firstInd(1), Some(Start), amount())
      txn(firstInd(1), Some(End), amount())
      txn(firstInd(2), at(0, 30), amount())
      txn(firstInd(2), Some(End.plusSeconds(1)), amount())
      txn(firstInd(4), at(0, 30), amount())
      txn(firstInd(4), at(37, 6), amount())
      txn(firstInd(4), None, amount())
      txn(firstInd(4), at(45, 10), amount())
      txn(nInd + 7, at(37, 6), amount())
      var n = 10
      if (shape.wide) {
        // about half of the households transact: one transaction before and one
        // during the campaign, some a third one at any time
        val pairs = (shape.transactions - n) * 10 / 23
        var made = 0
        while (made < pairs) {
          val h = 5 + rnd.nextInt(nHh - 4)
          val k = shape.indsPerHh
          txn(firstInd(h) + rnd.nextInt(k), at(0, 36), amount())
          txn(firstInd(h) + rnd.nextInt(k), at(36, 8), amount())
          n += 2; made += 1
        }
      }
      val firstFree = 5
      while (n < shape.transactions) {
        val ind = firstInd(firstFree) + rnd.nextInt(nInd - firstInd(firstFree) + 1)
        txn(ind, if (rnd.nextInt(1000) == 0) None else anyTime(), amount())
        n += 1
      }
    }

    val expected = (1 to nHh).iterator
      .filter(h => hasBefore(h) && hasDuring(h))
      .map(h => Expected(h.toLong, demCells(h), before(h), during(h), count(h)))
      .toArray
    require(!expected.exists(_.hhid == 2L) && !expected.exists(_.hhid == 3L),
      "planted drop cases survived the generator's own model")
    HhInputs(dem, hhInd, trans, rows, bytes, expected,
      digest.digest().map("%02x".format(_)).mkString)
  }

  /** Whether an output line holds expected row `e`: the key, demographic
    * cells and count must match as text, the two sums as numbers.
    */
  def checkRow(e: Expected, line: String): Boolean = {
    val f = line.split(",", -1)
    f.length == 10 && f(0) == e.hhid.toString &&
      f.slice(1, 7).mkString(",") == e.dem &&
      money(f(7)).contains(BigDecimal(e.beforeCents, 2)) &&
      money(f(8)).contains(BigDecimal(e.duringCents, 2)) &&
      f(9) == e.count.toString
  }

  private def money(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  /** Compare a written pipeline output file line by line with `expected`
    * (sorted by hhid, as the pipeline orders it). Returns a mismatch
    * description, or None when the output is exact.
    */
  def checkOutput(path: String, expected: Array[Expected]): Option[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val it = src.getLines()
      if (!it.hasNext) return Some("empty output file")
      val header = it.next()
      if (header != Header) return Some(s"header '$header'")
      var i = 0
      while (it.hasNext) {
        val line = it.next()
        if (i >= expected.length) return Some(s"extra row '$line'")
        if (!checkRow(expected(i), line))
          return Some(s"row $i: got '$line', expected ${expected(i)}")
        i += 1
      }
      if (i != expected.length) Some(s"${expected.length - i} rows missing")
      else None
    } finally src.close()
  }
}
