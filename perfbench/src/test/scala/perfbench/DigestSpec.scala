package perfbench

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val rows: Seq[Seq[Any]] = Seq(
    Seq(1L, "a", 0.5, null), Seq(2L, "b", 1.0 / 3, new java.math.BigDecimal("2.50")),
    Seq(3L, "", -7.25, new java.math.BigDecimal("0")))

  /** Digest of rows given as Seqs, through the same row hash the
    * materializer uses. */
  private def digestOf(rows: Seq[Seq[Any]]): Digest =
    rows.foldLeft(Digest.empty)((d, r) => d.add(Digest.rowHash(r.size, r)))

  test("order-sensitive, counts rows, sees every column") {
    val d = digestOf(rows)
    assert(d.rows == 3)
    assert(digestOf(rows.reverse) != d)
    assert(digestOf(rows.map(_.updated(1, "z"))) != d)
    assert(digestOf(rows.map(_.take(3))) != d)
    assert(digestOf(Nil) == Digest.empty)
  }

  test("pieces combine in order to the digest of the whole") {
    val whole = digestOf(rows)
    for (k <- 0 to rows.size) {
      val (a, b) = rows.splitAt(k)
      assert(digestOf(a).concat(digestOf(b)) == whole)
    }
  }

  test("float noise in the last bits and decimal scale do not change the digest") {
    val sum1 = Seq(0.1, 0.2, 0.3).sum
    val sum2 = Seq(0.3, 0.2, 0.1).sum
    assert(sum1 != sum2)
    assert(digestOf(Seq(Seq(sum1))) == digestOf(Seq(Seq(sum2))))
    assert(digestOf(Seq(Seq(0.6))) != digestOf(Seq(Seq(0.6000001))))
    assert(Digest.fieldHash(new java.math.BigDecimal("2.50")) ==
      Digest.fieldHash(new java.math.BigDecimal("2.5")))
    assert(Digest.fieldHash(0.0) == Digest.fieldHash(-0.0))
  }

  test("digest text is stable") {
    assert(Digest(3L, 0x1fL).show == "3:000000000000001f")
    assert(Digest.pow(Digest.P, 0) == 1L && Digest.pow(3L, 5) == 243L)
  }
}
