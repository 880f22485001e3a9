package perfbench

/** Order-sensitive digest of a table: its row count plus a polynomial
  * hash over the rows in order. A row hashes all of its columns; doubles
  * are rounded to 10 significant digits first, so a result that differs
  * only in the last bits of a float sum (partition order) still matches.
  * Digests of consecutive pieces combine in order ([[concat]]), so
  * partitions can be hashed where they live. */
final case class Digest(rows: Long, hash: Long) {
  def concat(next: Digest): Digest =
    Digest(rows + next.rows, hash * Digest.pow(Digest.P, next.rows) + next.hash)
  def add(row: Long): Digest = Digest(rows + 1, hash * Digest.P + row)
  def show: String = f"$rows:$hash%016x"
}

object Digest {
  val P: Long = 0x100000001b3L
  val empty: Digest = Digest(0L, 0L)
  private val NullHash = 0x9e3779b97f4a7c15L

  def pow(b: Long, e: Long): Long = {
    var r = 1L; var x = b; var k = e
    while (k > 0) { if ((k & 1L) == 1L) r *= x; x *= x; k >>= 1 }
    r
  }

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def doubleHash(d: Double): Long =
    if (d.isNaN || d.isInfinite) mix(java.lang.Double.doubleToLongBits(d))
    else if (d == 0.0) mix(0L)
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      mix(math.rint(d * math.pow(10, 9 - e)).toLong) ^ mix(e.toLong + 0x51afd7ed558ccd00L)
    }

  def stringHash(s: String): Long = {
    var h = 0xcbf29ce484222325L; var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * P; i += 1 }
    mix(h)
  }

  /** Hash of one column value, as Spark hands it to a Row. */
  def fieldHash(v: Any): Long = v match {
    case null => NullHash
    case d: Double => doubleHash(d)
    case f: Float => doubleHash(f.toDouble)
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case s: Short => mix(s.toLong)
    case b: Byte => mix(b.toLong)
    case b: Boolean => mix(if (b) 1L else 2L)
    case s: String => stringHash(s)
    case b: java.math.BigDecimal =>
      val z = b.stripTrailingZeros
      mix(stringHash(z.unscaledValue.toString) + z.scale)
    case b: BigDecimal => fieldHash(b.bigDecimal)
    case r: org.apache.spark.sql.Row => rowHash(r.length, r.get)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fieldHash(k) * 31 + fieldHash(x) }.sorted.foldLeft(17L)(_ * P + _)
    case s: scala.collection.Seq[_] => s.foldLeft(19L)((h, x) => h * P + fieldHash(x))
    case a: Array[Byte] => stringHash(a.map(x => f"$x%02x").mkString)
    case other => stringHash(other.toString)
  }

  /** 64-bit hash of one row's `n` columns, order-sensitive; `col(j)` reads
    * column `j`, so a row needs no copy to be hashed. */
  def rowHash(n: Int, col: Int => Any): Long = {
    var h = 23L; var j = 0
    while (j < n) { h = h * P + fieldHash(col(j)); j += 1 }
    mix(h)
  }
}
