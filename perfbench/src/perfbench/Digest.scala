package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result set, rendered so that the same rows
  * digest identically from Spark here and from DuckDB in `oracle_check.py`:
  * columns are sorted by name; integers print as integers; every other
  * number prints in `%.6e` (absorbing last-bit float differences and
  * decimal-vs-double typing); arrays and structs print element-wise. Each
  * row's rendering is MD5-hashed and the first 8 bytes are summed mod 2^64,
  * so row order and partitioning do not matter but every row does.
  */
object Digest {

  def render(v: Any): String = v match {
    case null                         => "~"
    case b: Boolean                   => b.toString
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case d: Double                    => num(d)
    case f: Float                     => num(f.toDouble)
    case d: java.math.BigDecimal      => num(d.doubleValue)
    case s: String                    => s
    case s: scala.collection.Seq[_]   => s.map(render).mkString("[", ",", "]")
    case r: Row                       => r.toSeq.map(render).mkString("(", ",", ")")
    case other                        => throw new IllegalArgumentException(
      s"no digest rendering for ${other.getClass.getName}")
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0" // -0.0 and 0.0 are one value to both engines
    else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))

  def of(df: DataFrame): String = {
    val order = df.columns.toSeq.zipWithIndex.sortBy(_._1).map(_._2)
    val md    = java.security.MessageDigest.getInstance("MD5")
    var sum   = 0L
    var n     = 0L
    df.collect().foreach { r =>
      val line = order.map(i => render(r.get(i))).mkString("\u0001")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes("UTF-8"))).getLong
      n += 1
    }
    f"$n:$sum%016x"
  }
}
