package perfbench

import scala.util.Random

/** Seeded vendor inputs for the `vendor_tick` workload, built in plain
  * Scala so the expected outputs do not come from the code under test.
  *
  * Each vendor gets one allocation-style workbook (items × store columns)
  * in one of two reference layouts, with the messiness the pipelines
  * clean up: NA spellings, `x.0` float cells and headers, duplicate item
  * rows, accounting strings right of the trimmed marker column, and (for
  * SouthernCross) zero/NA item rows. `expected` is the (Branch, Item) →
  * Distro Size total the mega-script workbook must hold. */
object VendorGen {

  /** Per-tick size classes (items, stores), in claim order. */
  val SizeClasses: Seq[(Int, Int)] = Seq(
    (300, 60), (500, 30), (400, 27), (250, 20),
    (200, 18), (150, 15), (100, 12), (50, 10))

  val Kinds: Seq[String] = Seq("allocation", "southerncross")

  final case class Vendor(num: String, name: String, kind: String,
                          items: Int, stores: Int,
                          grid: Seq[Seq[String]],
                          expected: Map[(Long, Long), Long],
                          pos: Seq[(String, String)]) {
    def fileName: String = s"$name $kind.xlsx"
  }

  private val NaSpellings = Seq("", "N/A", "na", "nan", "NaN", "none", "null", " ")
  private val Accounting = Seq("$1,234.50", "(12.00)", "$0.00", "1,000", "$ 7.25", "(3,400.10)")

  private def cell(r: Random): (String, Long) = {
    val u = r.nextDouble()
    if (u < 0.40) ("", 0L)
    else if (u < 0.50) (NaSpellings(r.nextInt(NaSpellings.size)), 0L)
    else if (u < 0.55) ("0", 0L)
    else {
      val v = 1 + r.nextInt(24)
      if (u < 0.75) (s"$v.0", v.toLong) else (v.toString, v.toLong)
    }
  }

  /** Distinct 7-digit item codes; ~5% of rows repeat an earlier item. */
  private def itemColumn(r: Random, n: Int): Seq[String] = {
    val codes = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (codes.size < n) codes += 1000000 + r.nextInt(9000000)
    val base = codes.toIndexedSeq.map(_.toString)
    base.indices.map(i => if (i > 0 && r.nextDouble() < 0.05) base(r.nextInt(i)) else base(i))
  }

  def vendor(seed: Long, idx: Int, kind: String, items: Int, stores: Int): Vendor = {
    val r = new Random(seed * 1000003L + idx)
    val num = (10001 + idx).toString
    val name = s"vendor$num"
    val expected = scala.collection.mutable.Map.empty[(Long, Long), Long]
    def add(branch: Long, item: Long, v: Long): Unit =
      if (v != 0) expected((branch, item)) = expected.getOrElse((branch, item), 0L) + v
    val itemCol = itemColumn(r, items)
    val grid: Seq[Seq[String]] = kind match {
      case "allocation" =>
        // Three-digit store codes; some headers carry a float ".0" suffix.
        val codes = r.shuffle((100 to 999).toList).take(stores)
        val header = Seq("Item#", "Item Description") ++
          codes.map(c => if (r.nextBoolean()) s"$c.0" else c.toString) ++ Seq("Total", "Amount")
        val rows = itemCol.map { item =>
          val cells = codes.map { c => val (s, v) = cell(r); add(c, item.toLong, v); s }
          Seq(item, s"ITEM ${item.takeRight(3)}, CASE") ++ cells ++
            Seq("", Accounting(r.nextInt(Accounting.size)))
        }
        val width = header.size
        Seq(Seq("Allocation Report") ++ Seq.fill(width - 1)(""), header) ++ rows ++
          Seq(Seq("TOTALS") ++ Seq.fill(width - 1)(""))
      case "southerncross" =>
        // Two-digit branches get the '1' prefix; three-digit ones start at
        // 200 so a prefixed code never collides with a literal one.
        val pool = (10 to 99).map(c => (c.toString, 100L + c)) ++
          (200 to 999).map(c => (c.toString, c.toLong))
        val codes = r.shuffle(pool.toList).take(stores)
        val header = Seq("Item") ++
          codes.map { case (h, _) => if (r.nextDouble() < 0.3) s"$h.0" else h } ++ Seq("LOT #", "Notes")
        val rows = itemCol.map { item =>
          // A few rows have no usable item: NA or zero, and are dropped.
          val u = r.nextDouble()
          val (itemCell, live) =
            if (u < 0.02) ("0", false) else if (u < 0.04) ("N/A", false)
            else if (u < 0.20) (s"$item.0", true) else (item, true)
          val cells = codes.map { case (_, b) =>
            val (s, v) = cell(r); if (live) add(b, item.toLong, v); s
          }
          Seq(itemCell) ++ cells ++ Seq(s"L${r.nextInt(9999)}", Accounting(r.nextInt(Accounting.size)))
        }
        header +: rows
    }
    // Two to four purchase orders on distinct status-sheet stores.
    val pos = (0 until 2 + r.nextInt(3)).map(i =>
      (StatusStores(i), (50000 + 10000 * i + r.nextInt(9999)).toString))
    Vendor(num, name, kind, items, stores, grid, expected.toMap, pos)
  }

  /** The tick's vendors: each size class once, the layouts alternating.
    * Layout and size set most of a vendor's cost, so they stay fixed and
    * ticks from different seeds do the same work; the seed sets every
    * cell, item, store code and PO. */
  def vendors(seed: Long): Seq[Vendor] =
    SizeClasses.zipWithIndex.map { case ((items, stores), i) =>
      vendor(seed, i, Kinds(i % Kinds.size), items, stores)
    }

  val StatusStores: Seq[String] = Seq("114", "123", "142", "160")

  /** The orchestrator's status sheet: one section listing every vendor as
    * Ready with its PO numbers under the store columns, plus a section of
    * already-sent vendors that must not be claimed. */
  def statusSheet(vendors: Seq[Vendor]): Seq[Seq[String]] = {
    val header = Seq("Note", "Vendor #", "Vendor Name") ++ StatusStores ++ Seq("PO Count", "Status")
    val ready = vendors.zipWithIndex.map { case (v, i) =>
      val poCells = StatusStores.map(s => v.pos.find(_._1 == s).map { case (_, po) =>
        if (i % 2 == 0) s"$po.0" else po }.getOrElse(if (i % 3 == 0) "x" else ""))
      Seq(if (i == 0) "weekly" else "", v.num, v.name) ++ poCells ++
        Seq(v.pos.size.toString, "Ready")
    }
    val sent = Seq(Seq("archive", "20001", "old vendor", "", "", "", "", "0", "Sent"))
    Seq(header) ++ ready ++ Seq(Seq.fill(header.size)("")) ++ Seq(header) ++ sent
  }
}
