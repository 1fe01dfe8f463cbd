package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loading + cross-engine-deterministic numeric helpers.
  *
  * Double summation order differs between Spark's partial aggregation and
  * DuckDB's; decimal addition is exact and associative, so every oracled
  * sum is computed over `DECIMAL` and only cast to double at the very end
  * (SURVEY.md §4). The mirrored DuckDB SQL uses the same casts.
  */
object D {
  val dec25: DecimalType = DecimalType(25, 6)
  val dec18: DecimalType = DecimalType(18, 6)

  // per-session memo of table loads: spark.read.parquet pays file
  // listing + footer schema read on EVERY call (~50 ms/table locally,
  // a real round-trip cost against object storage) — the returned
  // DataFrame is an immutable plan, so reusing it per (session, path)
  // is safe. Callers that need to see NEW files under the same path
  // (none in this library — inputs are immutable snapshots) would read
  // directly. Keyed by session so a plan never crosses sessions.
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    tableCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      k => k._1.read.parquet(k._2))

  /** Exact decimal sum of a double column. */
  def dsum(c: Column): Column = sum(c.cast(dec25))

  /** Emit a decimal as double, deterministically across engines.
    *
    * Both Spark (java.math.BigDecimal.doubleValue on inflated values) and
    * DuckDB (int128→double, then divide by 10^scale) DOUBLE-ROUND when the
    * unscaled value exceeds 2^52 — and they can disagree by 1 ulp. Rescaling
    * to scale 6 first keeps the unscaled value < 2^52 for magnitudes < ~4e9,
    * making the final conversion a single exact-operand division (correctly
    * rounded, identical in both engines). SQL mirror:
    * CAST(CAST(x AS DECIMAL(25,6)) AS DOUBLE). */
  def emit6(c: Column): Column = c.cast(dec25).cast(DoubleType)

  /** Like emit6 for huge magnitudes (e.g. sums of squares): round to scale 0
    * so the unscaled value stays < 2^52. Mirror: CAST(CAST(x AS DECIMAL(38,0)) AS DOUBLE). */
  def emit0(c: Column): Column = c.cast(DecimalType(38, 0)).cast(DoubleType)

  /** Exact decimal sum emitted as double (deterministic cast). */
  def dsumd(c: Column): Column = emit6(dsum(c))

  /** Decimal product of two double expressions (exact, scale 12). */
  def dmul(a: Column, b: Column): Column = a.cast(dec18) * b.cast(dec18)

  /** l_extendedprice * (1 - l_discount) in exact decimal. */
  def revenue(price: Column, disc: Column): Column = dmul(price, lit(1.0) - disc)

  /** Round a derived double to `s` decimals, cross-engine identically.
    *
    * DuckDB's ROUND(double, s) computes round(x·10^s)/10^s in floating
    * point; Spark's round(double, s) rounds the exact binary expansion —
    * they disagree when x·10^s lands within an ulp of a .5 boundary.
    * Mirroring the multiply-then-round form here makes both engines
    * evaluate the same double product, round it half-away-from-zero, and
    * divide — bit-identical everywhere. Driver-side mirror: [[Mirror.r]]. */
  def r(c: Column, s: Int = 6): Column = {
    val f = math.pow(10, s)
    round(c.cast(DoubleType) * f, 0) / f
  }

  /** Exact sum of squares as decimal, emitted as double (scale-0 rescale —
    * see emit0; both engines round the decimal identically, so the double
    * inputs to downstream variance math are identical). */
  def dsumsq(c: Column): Column = emit0(sum(dmul(c, c)))

  /** Sum of an exact decimal product, emitted as double. */
  def dsumprod(a: Column, b: Column): Column = emit6(sum(dmul(a, b)))

  /** Normalize `events.ts` to a UTC-adjusted TimestampType regardless of
    * the physical parquet type: driver-generated data has shipped both
    * TIMESTAMP(NANOS) (read as long nanos under
    * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Under a UTC session timezone both normalize to the
    * same wall-clock instants, matching the oracle's CAST(ts AS TIMESTAMP). */
  def normTs(df: DataFrame, c: String = "ts"): DataFrame = df.schema(c).dataType match {
    case LongType           => df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
    case _: TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
    case _                  => df
  }

  /** Population variance from decimal-exact moments. */
  def varPop(sumd: Column, sumsq: Column, n: Column): Column =
    (sumsq - sumd * sumd / n) / n

  /** Sample variance from decimal-exact moments. */
  def varSamp(sumd: Column, sumsq: Column, n: Column): Column =
    // n ≤ 1 must yield NULL, not an ANSI DIVIDE_BY_ZERO: DuckDB's
    // var_samp (and its expanded Sq.varSamp mirror, whose /(COUNT-1)
    // NULLs at n=1) both return NULL for a single-row group — a group
    // shape every degenerate fixture produces (DirtySpec pins the class)
    when(n > 1, (sumsq - sumd * sumd / n) / (n - lit(1)))
}
