package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Small shared helpers: JSON text, percentiles and order-independent
  * row hashes. */
object Util {

  /** JSON string literal of `s`. */
  def jstr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** JSON number; NaN and infinities (never expected) become null. */
  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Compact JSON of nested Maps / Seqs / numbers / strings. */
  def toJson(v: Any): String = v match {
    case null                 => "null"
    case s: String            => jstr(s)
    case b: Boolean           => b.toString
    case d: Double            => jnum(d)
    case i: Int               => i.toString
    case l: Long              => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jstr(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(toJson).mkString("[", ",", "]")
    case other                => jstr(other.toString)
  }

  /** Nearest-rank percentile of unsorted samples; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Interquartile range over the median; NaN for fewer than two samples. */
  def spread(xs: Iterable[Double]): Double =
    if (xs.size < 2) Double.NaN else (pct(xs, 75) - pct(xs, 25)) / median(xs)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run independent tasks on `threads` threads; results in input order. */
  def par[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      .map(_.get())
    finally pool.shutdown()
  }

  // ---- order-independent content hash ----------------------------------

  /** Canonical text of one value: doubles at 12 significant digits so a
    * reordered floating-point sum cannot flip the hash. */
  private def canon(v: Any): String = v match {
    case null      => "\u0000"
    case d: Double => f"$d%.12g"
    case f: Float  => f"${f.toDouble}%.12g"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row    => r.toSeq.map(canon).mkString("(", ",", ")")
    case o         => o.toString
  }

  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(canon).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1234).toLong & 0xffffffffL)
  }

  /** Row count plus a wrapping sum of row hashes: equal for equal row
    * multisets whatever their order. */
  final case class Digest(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  def digestRows(rows: Iterable[Seq[Any]]): Digest = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    Digest(n, h)
  }

  /** Digest of a DataFrame's rows with columns in name order, so two
    * frames with the same columns in another order still agree. */
  def digest(df: DataFrame): Digest = {
    val cols = df.columns.sorted
    digestRows(df.select(cols.map(df.col): _*).collect().toSeq.map(_.toSeq))
  }

  /** Digest of collected rows whose column names are `cols`. */
  def digestNamed(cols: Seq[String], rows: Seq[Seq[Any]]): Digest = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    digestRows(rows.map(r => order.map(r)))
  }

  /** Thread-safe counters with a stable key order. */
  final class Counts {
    private val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
    def toMap: Map[String, Double] = synchronized { m.toMap }
  }
}
