package graft.explain

import graft.util.{Guard, Mirror}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared deterministic small-set statistics + the FEDEx groupby
  * exceptionality explainer (reference:
  * /root/reference/src/pd_explain/core/explainable_group_by_dataframe.py,
  * measure per explainable_series.py:103 `std_int`).
  *
  * Sums over a handful of doubles are order-dependent in IEEE arithmetic;
  * every cross-group sum here goes through a per-term decimal cast so the
  * (exact, associative) decimal sum is engine-independent.
  */
object GroupByExplain {

  /** Per-term decimal for medium-magnitude values (|v| < 1e9). */
  val dval: DecimalType = DecimalType(18, 6)
  /** Per-term decimal for large-magnitude values (|v| < 1e13). */
  val dbig: DecimalType = DecimalType(24, 2)

  def dvalSql(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"
  def dbigSql(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(24,2))) AS DOUBLE)"

  def sigmaExpr(sv: Column, svv: Column, k: Column): Column =
    sqrt(greatest(svv / k - (sv / k) * (sv / k), lit(0.0)))

  /** Driver mirror of the per-term decimal moment sums and [[sigmaExpr]]
    * over a group of `k` rows whose non-NULL values are `vs`: (Σv, σ).
    * Σv is NULL without values, and σ is then 0 (greatest() skips the
    * NULL moment). */
  private[graft] def sumSigma(vs: Seq[Double], k: Long): (java.lang.Double, Double) = {
    val sv = Mirror.decSum(vs, 18, 6)
    val svv = Mirror.decSum(vs.map(v => v * v), 24, 2)
    val sigma =
      if (sv == null) 0.0
      else math.sqrt(Mirror.greatest(svv / k - (sv / k) * (sv / k), 0.0))
    (sv, sigma)
  }

  def sigmaSql(sv: String, svv: String, k: String): String =
    s"SQRT(GREATEST($svv / $k - ($sv / $k) * ($sv / $k), 0))"

  /** Standardized deviation per (measure, grp): z = |v − μ| / σ (0 when
    * σ≈0). ONE bounded collect brings the melt (measure, grp, v) to the
    * driver, and the per-measure stats and z run there through the exact
    * expression mirrors of [[graft.util.Mirror]]: decimal sums keep the
    * stats order-independent, and the result is a LocalRelation in
    * (measure, grp) order, so consuming it launches no Spark job.
    * Cardinality contract: the collect holds every group of every
    * measure — sized for explanation-grade groupbys (the exceptionality
    * measure itself is meaningless over ID-like grouping keys); enforced
    * fail-fast by [[graft.util.Guard.gatherCells]]. */
  def zdev(m: DataFrame): DataFrame = zdevTable(m).toDF(m.sparkSession)

  /** [[zdev]]'s rows on the driver, for callers that re-rank them. */
  private[graft] def zdevTable(m: DataFrame): Mirror.Table = {
    require(m.schema("v").dataType == DoubleType,
      s"a melt has a double column v, got ${m.schema("v").dataType.simpleString}")
    val rows = Guard.gatherCells(m.select("measure", "grp", "v"), "GroupByExplain.zdev")
    val schema = StructType(Seq(m.schema("measure"), m.schema("grp"),
      m.schema("v").copy(name = "value"),
      StructField("n_groups", LongType, nullable = true),
      StructField("zdev", DoubleType, nullable = true)))
    val out = rows.toSeq.groupBy(r => Mirror.groupKey(r.get(0))).values.toSeq.flatMap { cells =>
      val n = cells.size.toLong
      val (sv, sigma) = sumSigma(
        cells.flatMap(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))), n)
      cells.map { r =>
        val z: java.lang.Double =
          if (Mirror.compareDoubles(sigma, 1e-12) <= 0) 0.0
          else if (r.isNullAt(2)) null
          else Mirror.r(math.abs(r.getDouble(2) - sv / n) / sigma, 6)
        Row(r.get(0), r.get(1), r.get(2), n, z)
      }
    }
    Mirror.Table(schema, out).orderBy(Mirror.asc("measure"), Mirror.asc("grp"))
  }

  /** Exceptionality per measure = max standardized deviation. */
  def exceptionality(m: DataFrame): DataFrame = {
    val z = zdevTable(m)
    val schema = StructType(Seq(z.schema("measure"),
      StructField("n_groups", LongType, nullable = true),
      StructField("exceptionality", DoubleType, nullable = true)))
    val out = z.rows.groupBy(r => Mirror.groupKey(r.get(0))).values.toSeq.map(g =>
      Row(g.head.get(0), g.head.getLong(3),
        Mirror.maxD(g.map(r => if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4))))))
    Mirror.Table(schema, out).orderBy(Mirror.asc("measure")).toDF(m.sparkSession)
  }

  /** DuckDB CTE: melted orders measures → z table. `meltSql` must yield
    * columns (measure, grp, v). */
  def zdevSql(meltSql: String): String =
    s"""WITH m AS ($meltSql),
       |s AS (SELECT measure, COUNT(*) AS n_groups,
       |  ${dvalSql("v")} AS sv, ${dbigSql("v * v")} AS svv
       |  FROM m GROUP BY measure),
       |z AS (SELECT m.measure, m.grp, m.v AS value, s.n_groups,
       |  CASE WHEN ${sigmaSql("s.sv", "s.svv", "s.n_groups")} > 1e-12
       |       THEN ROUND(ABS(m.v - s.sv / s.n_groups) / ${sigmaSql("s.sv", "s.svv", "s.n_groups")}, 6)
       |       ELSE 0.0 END AS zdev
       |  FROM m JOIN s ON m.measure = s.measure)""".stripMargin
}
