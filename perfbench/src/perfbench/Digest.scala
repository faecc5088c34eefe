package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content digest of a query result: each row is
  * rendered canonically (columns sorted by name, like the oracle
  * comparison does), hashed with MD5, and the first 8 bytes of every
  * row hash are summed modulo 2^64. `crosscheck.py` renders DuckDB rows
  * the same way, so the two digests agree exactly when the results do.
  *
  * Canonical values: integers exactly, floating and decimal values
  * rounded to 10 significant digits (half-even), both written as
  * `<unscaled>e<exponent>` with trailing zeros stripped; timestamps as
  * `t<epoch micros>`, dates as `d<epoch days>`, binary as hex. */
object Digest {
  final case class Result(rows: Long, digest: String)

  private val Sig = new MathContext(10, RoundingMode.HALF_EVEN)

  /** Collects `df` (re-running only its final stage when its shuffle
    * outputs are still registered) and digests the rows. */
  def of(df: DataFrame): Result = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes(UTF_8)), 0, 8).getLong
      n += 1
    }
    Result(n, f"$sum%016x")
  }

  private def number(b: JBigDecimal): String =
    if (b.signum == 0) "0e0"
    else {
      val s = b.stripTrailingZeros()
      s"${s.unscaledValue}e${-s.scale}"
    }

  private def floating(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d).round(Sig))

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => number(JBigDecimal.valueOf(x.toLong))
    case x: Short => number(JBigDecimal.valueOf(x.toLong))
    case x: Int => number(JBigDecimal.valueOf(x.toLong))
    case x: Long => number(JBigDecimal.valueOf(x))
    case x: Float => floating(x.toDouble)
    case x: Double => floating(x)
    case x: JBigDecimal => number(x.round(Sig))
    case s: String => s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
