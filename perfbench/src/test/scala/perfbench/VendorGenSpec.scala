package perfbench

import org.scalatest.funsuite.AnyFunSuite

class VendorGenSpec extends AnyFunSuite {

  test("same seed, same vendors; another seed, other vendors") {
    val a = VendorGen.vendors(7)
    assert(a == VendorGen.vendors(7))
    assert(a.map(_.grid) != VendorGen.vendors(8).map(_.grid))
    assert(VendorGen.statusSheet(a) == VendorGen.statusSheet(VendorGen.vendors(7)))
  }

  test("every tick has each size class once, in order, layouts alternating") {
    for (seed <- 0L until 5L) {
      val vs = VendorGen.vendors(seed)
      assert(vs.map(v => (v.items, v.stores)) == VendorGen.SizeClasses)
      assert(vs.map(_.kind) == Seq.fill(4)(VendorGen.Kinds).flatten)
      vs.foreach(v => assert(v.grid.map(_.size).distinct.size == 1, "ragged grid"))
    }
  }

  test("allocation totals sum duplicate items and skip NA and zero cells") {
    val v = VendorGen.vendor(3, 0, "allocation", 200, 12)
    val header = v.grid(1)
    assert(header.take(2) == Seq("Item#", "Item Description") && header.takeRight(2) == Seq("Total", "Amount"))
    val stores = header.slice(2, 2 + 12).map(_.stripSuffix(".0").toLong)
    val data = v.grid.slice(2, v.grid.size - 1)
    assert(data.size == 200 && v.grid.last.head == "TOTALS")
    val sums = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    data.foreach { r =>
      stores.zipWithIndex.foreach { case (b, j) =>
        val c = r(2 + j).trim
        if (c.nonEmpty && c.forall(ch => ch.isDigit || ch == '.')) sums((b, r.head.toLong)) += c.toDouble.toLong
      }
    }
    assert(v.expected == sums.filter(_._2 != 0).toMap)
    assert(data.map(_.head).distinct.size < data.size, "expected some duplicate item rows")
  }

  test("southerncross prefixes two-digit branches and drops NA or zero items") {
    val v = VendorGen.vendor(5, 1, "southerncross", 300, 20)
    val codes = v.grid.head.slice(1, 21).map(_.stripSuffix(".0"))
    val branches = codes.map(c => if (c.length == 2) ("1" + c).toLong else c.toLong)
    assert(branches.distinct.size == 20)
    assert(v.expected.keySet.map(_._1).subsetOf(branches.toSet))
    val dead = v.grid.tail.filter(r => r.head == "0" || r.head == "N/A").map(_.head)
    assert(dead.nonEmpty)
    assert(v.expected.keySet.forall(_._2 >= 1000000L))
  }
}
