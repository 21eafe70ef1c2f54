package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a query result: the multiset of its
  * rows, each row's values normalized (floating point rounded to 7
  * significant digits, collections compared as multisets), plus the
  * column names. Row order, partitioning and array element order do not
  * change it; a changed, missing or duplicated row does. */
object ResultHash {

  private val Sig = new MathContext(7)

  def normalize(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => if (b.signum == 0) "0" else b.round(Sig).stripTrailingZeros.toPlainString
    case b: BigDecimal => normalize(b.bigDecimal)
    case r: Row => r.toSeq.map(normalize).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => normalize(k) + "->" + normalize(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(normalize).sorted.mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new JBigDecimal(d).round(Sig).stripTrailingZeros.toPlainString

  private def rowHash(r: Row): Long = {
    val s = normalize(r)
    (MurmurHash3.stringHash(s, 0x2b).toLong << 32) | (MurmurHash3.stringHash(s, 0x5f).toLong & 0xffffffffL)
  }

  /** Hex fingerprint of `rows` under `columns`. */
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val sum = rows.foldLeft(MurmurHash3.seqHash(columns).toLong)((acc, r) => acc + rowHash(r))
    f"$sum%016x"
  }
}
