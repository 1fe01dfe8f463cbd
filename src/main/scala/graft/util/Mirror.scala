package graft.util

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Driver-side mirrors of Spark expressions, for the operators that
  * finish a bounded collect in Scala: MetaInsight.masterRanked,
  * Correlation.suite, Outlier.explain, the Fedex tails and
  * GroupByExplain.zdev. Each mirror goes through the entry point the
  * Spark expression itself uses (BigDecimal.valueOf for a double→decimal
  * cast, StrictMath.log, UTF8String's byte order), so a driver finish is
  * bit-identical to the in-plan expression chain it replaces. The
  * operators' parity specs pin that against inline copies of the chains.
  */
object Mirror {

  /** `x.cast(DecimalType(precision, scale))` on a double: Spark builds
    * the decimal from `Double.toString` (BigDecimal.valueOf, not the
    * exact binary expansion) and rounds HALF_UP to `scale`. A value that
    * does not fit `precision` raises, as the ANSI cast does. */
  def castDec(x: Double, precision: Int, scale: Int): JBigDecimal = {
    val d = JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
    if (d.precision > precision)
      throw new ArithmeticException(
        s"$x cannot be represented as DECIMAL($precision, $scale)")
    d
  }

  /** Σ of `castDec` terms, NULL (Scala null) over no terms, emitted as
    * double: `sum(x.cast(DecimalType(p, s))).cast(DoubleType)` with the
    * NULL inputs already dropped. Decimal addition is exact, so the
    * order of `xs` does not matter. */
  def decSum(xs: Iterable[Double], precision: Int, scale: Int): java.lang.Double =
    if (xs.isEmpty) null
    else xs.iterator.map(castDec(_, precision, scale))
      .reduce(_ add _).doubleValue()

  /** Mirror of [[D.r]]: round(x·10^s, 0)/10^s, where Spark's Round on a
    * double rounds HALF_UP (half away from zero) and passes NaN and
    * infinities through. */
  def r(x: Double, s: Int = 6): Double = {
    val f = math.pow(10, s)
    val y = x * f
    if (y.isNaN || y.isInfinite) y / f
    else new JBigDecimal(y).setScale(0, RoundingMode.HALF_UP).doubleValue() / f
  }

  /** Mirror of Spark's `log` (natural log): StrictMath.log, NULL for
    * inputs ≤ 0. */
  def log(x: Double): java.lang.Double =
    if (x <= 0.0) null else StrictMath.log(x)

  /** DECIMAL(p, 9) nano-units back to the double a decimal → double
    * cast gives. */
  def nanosToDouble(nanos: Long): Double =
    new JBigDecimal(BigInteger.valueOf(nanos), 9).doubleValue()

  /** Spark's double comparison: NaN equals NaN and sorts above every
    * other value, and -0.0 equals 0.0. */
  def compareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** `greatest(x, y)`: the larger by [[compareDoubles]], the first on a
    * tie. NULLs are the caller's to skip. */
  def greatest(x: Double, y: Double): Double =
    if (compareDoubles(y, x) > 0) y else x

  /** Spark's max aggregate over doubles: NULLs skipped, NULL when none
    * is left, NaN largest. */
  def maxD(xs: Iterable[java.lang.Double]): java.lang.Double =
    xs.iterator.filter(_ != null).reduceOption((a, b) =>
      if (compareDoubles(b.doubleValue, a.doubleValue) > 0) b else a).orNull

  /** Spark's UTF8String order: unsigned byte order of the UTF-8 bytes.
    * Scala's String order compares UTF-16 code units and differs from it
    * above the BMP. */
  def compareUtf8(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** `a < b` in Spark's string order, NULL lowest. */
  def utf8Lt(a: String, b: String): Boolean =
    if (a == null || b == null) a == null && b != null
    else compareUtf8(a, b) < 0

  /** Spark's order of two non-NULL values of one atomic type. */
  def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => compareUtf8(x, y)
    case (x: java.lang.Double, y: java.lang.Double) => compareDoubles(x, y)
    case (x: java.lang.Float, y: java.lang.Float) =>
      if (x.floatValue == y.floatValue) 0 else java.lang.Float.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"no driver-side order for ${a.getClass.getName}")
  }

  /** Key for grouping or joining on a collected value: equal for values
    * Spark's equi-join and groupBy treat as equal. Collected binary
    * values are arrays, which compare by identity. */
  def groupKey(x: Any): Any = x match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case o => o
  }

  /** One sort key of a [[Table]]: ascending sorts NULLs first and
    * descending NULLs last, Spark's defaults. */
  final case class SortKey(name: String, descending: Boolean)
  def asc(name: String): SortKey = SortKey(name, descending = false)
  def desc(name: String): SortKey = SortKey(name, descending = true)

  /** A result finished on the driver: rows in output order under the
    * schema of the in-plan chain it replaces. */
  final case class Table(schema: StructType, rows: Seq[Row]) {

    /** Stable sort in Spark's order. */
    def orderBy(keys: SortKey*): Table = {
      val idx = keys.map(k => (schema.fieldIndex(k.name), k.descending))
      val ord: Ordering[Row] = (a, b) => {
        var c = 0
        val it = idx.iterator
        while (c == 0 && it.hasNext) {
          val (i, descending) = it.next()
          c = (a.isNullAt(i), b.isNullAt(i)) match {
            case (true, true) => 0
            case (true, false) => if (descending) 1 else -1
            case (false, true) => if (descending) -1 else 1
            case _ =>
              val v = compareValues(a.get(i), b.get(i))
              if (descending) -v else v
          }
        }
        c
      }
      copy(rows = rows.sorted(ord))
    }

    def limit(n: Int): Table = {
      require(n >= 0, s"The limit must be equal to or greater than 0, got $n")
      copy(rows = rows.take(n))
    }

    /** The rows as a LocalRelation: consuming it launches no Spark job. */
    def toDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
  }
}
