package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-independent result hash, identical to `oracle/gen_oracle.py`: columns
  * sorted by lower-cased name, each value rendered canonically, the rows'
  * SHA-256 prefixes summed mod 2^64. Integral numbers render as integers
  * whatever their type; other numbers as the bits of the nearest double. */
object RowHash {
  private val Exact = 9.007199254740992e15 // 2^53

  private def num(d: Double): String =
    if (!d.isInfinite && !d.isNaN && d == math.floor(d) && math.abs(d) < Exact) d.toLong.toString
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def integral(v: Long): String =
    if (math.abs(v.toDouble) >= Exact) v.toString else num(v.toDouble)

  def render(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => b.toString
    case i: Int => integral(i.toLong)
    case l: Long => integral(l)
    case s: Short => integral(s.toLong)
    case b: Byte => integral(b.toLong)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case s: String => s
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => throw new IllegalArgumentException(s"no canonical rendering for ${o.getClass}")
  }

  /** (row count, hash hex) of a collected result with these column names. */
  def of(names: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = names.indices.sortBy(i => names(i).toLowerCase)
    val md = MessageDigest.getInstance("SHA-256")
    var total = 0L
    rows.foreach { r =>
      val s = order.map(i => render(r.get(i))).mkString("\u0001")
      total += java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8")), 0, 8).getLong
    }
    (rows.length.toLong, "%016x".format(total))
  }
}
