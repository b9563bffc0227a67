package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order statistics, output fingerprints and a minimal JSON writer. */
object Stats {

  /** Nearest-rank quantile of an already sorted sample. */
  def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    val rank = math.ceil(p * sorted.size).toInt.max(1).min(sorted.size)
    sorted(rank - 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  /** The highest percentile with at least ten samples beyond it, and its
    * value: the eleventh-largest sample. Never below the median, which a
    * sample of fewer than twenty falls back to. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val sorted = xs.sorted.toIndexedSeq
    val n = sorted.size
    val rank = (n - 10).max(math.ceil(0.5 * n).toInt).max(1)
    (rank.toDouble / n, sorted(rank - 1))
  }

  /** Order-independent fingerprint of a result: the multiset of its rows,
    * each rendered canonically (doubles rounded to 9 significant digits,
    * so engine-side summation order does not move it) and hashed; the
    * row hashes are summed, so row order never matters but duplicates do. */
  def fingerprint(rows: Iterable[Row]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(r); n += 1 }
    f"$n:$sum%016x"
  }

  def fingerprint(df: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    fingerprint(df.toLocalIterator().asScala.to(Iterable))
  }

  /** Exact order-independent fingerprint of a large table, computed by the
    * executors: row count and the sums of both 32-bit halves of each
    * row's hash. For tables whose values carry no summation noise. */
  def exactFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(df.columns.map(df.col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** [[exactFingerprint]] of driver-side rows with the given schema, hashed
    * as Spark's `xxhash64` hashes them. */
  def exactFingerprint(schema: org.apache.spark.sql.types.StructType, rows: Iterable[Row]): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    var (n, lo, hi) = (0L, 0L, 0L)
    rows.foreach { r =>
      var h = 42L
      schema.fields.indices.foreach { i =>
        val v = r.get(i) match {
          case null => null
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case t: java.sql.Timestamp =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
          case o => o
        }
        if (v != null) h = XxHash64Function.hash(v, schema(i).dataType, h)
      }
      n += 1; lo += h & 0xffffffffL; hi += h >>> 32
    }
    s"$n:$lo:$hi"
  }

  private def rowHash(r: Row): Long = {
    val s = (0 until r.length).map(i => canon(r.get(i))).mkString("\u0001")
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b", ",", "")
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.abs.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  // ---------------------------------------------------------------- JSON

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
