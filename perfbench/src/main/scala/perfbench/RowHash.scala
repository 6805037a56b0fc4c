package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent multiset hash of a result: each row is rendered
  * canonically — columns in name order, doubles rounded to 10 significant digits
  * (so summation-order ULP noise between runs cannot flip it), nested
  * values recursively, map entries sorted — hashed to 64 bits, and the
  * row hashes summed. Two results agree iff (row count, sum) agree. */
object RowHash {

  final case class H(rows: Long, sum: Long)

  def of(columns: Seq[String], rows: Iterable[Row]): H = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      n += 1
      s += row64(order.map(i => render(r.get(i))).mkString("\u0001"))
    }
    H(n, s)
  }

  def row64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def fp(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) (d + 0.0).toString
    else {
      val f = math.pow(10, 9 - math.floor(math.log10(math.abs(d))))
      (math.rint(d * f) / f).toString
    }
}
