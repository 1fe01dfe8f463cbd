package graft.explain

import graft.util.{D, Guard, Mirror}
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

  def dvalSql(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"
  def dbigSql(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(24,2))) AS DOUBLE)"

  /** Driver mirror of the per-term decimal moment sums (medium-magnitude
    * values at [[dval]], squares at DECIMAL(24,2)) and of [[sigmaSql]]
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

  /** Scale: the melt (measure, grp, v) of `src.groupBy(keys)` over
    * `aggCol` is one exchange-free pass ([[graft.util.Guard.gatherCells]])
    * keyed by the key columns and `grp`, their label: per group,
    * `meanName` with v = round(Σ cast(aggCol AS DECIMAL(25,6)) as double /
    * count, 6), and `row_count` with v = the count. */
  private[graft] def meltGroups(src: DataFrame, keys: Seq[String], grp: Seq[Column] => Column,
                                aggCol: String, meanName: String): Mirror.Table = {
    val (schemas, cells) = Guard.gatherCells(Guard.groupingForm(src, keys),
      Seq(struct(keys.map(col) :+ grp(keys.map(col)).as("grp"): _*)), "GroupByExplain.meltGroups",
      sums = Seq(col(aggCol).cast(D.dec25)))
    Mirror.Table(
      StructType(Seq(StructField("measure", StringType, nullable = false), schemas(0).last,
        StructField("v", DoubleType, nullable = true))),
      cells.flatMap { c =>
        val (g, sm) = (c.key.get(keys.size), c.sums(0))
        Seq(Row(meanName, g,
            if (sm == null) null else java.lang.Double.valueOf(Mirror.r(sm.doubleValue / c.n, 6))),
          Row("row_count", g, c.n.toDouble))
      })
  }

  /** Standardized deviation per (measure, grp): z = |v − μ| / σ (0 when
    * σ≈0), on the driver over the melt (measure, grp, v), through the
    * exact expression mirrors of [[graft.util.Mirror]]: decimal sums keep
    * the stats order-independent, and the result is a LocalRelation in
    * (measure, grp) order, so consuming it launches no Spark job. The
    * melt holds every group of every measure — sized for
    * explanation-grade groupbys; an ID-like key fails the gather. */
  def zdev(m: DataFrame): DataFrame = zdevTable(m).toDF(m.sparkSession)

  /** [[zdev]]'s rows on the driver, for callers that re-rank them. */
  private[graft] def zdevTable(m: DataFrame): Mirror.Table = zdevTable(gathered(m))

  private[graft] def zdevTable(m: Mirror.Table): Mirror.Table = {
    require(m.schema.map(_.name) == Seq("measure", "grp", "v") && m.schema("v").dataType == DoubleType,
      s"a melt is (measure, grp, v: double), got ${m.schema.simpleString}")
    val schema = StructType(Seq(m.schema("measure"), m.schema("grp"),
      m.schema("v").copy(name = "value"),
      StructField("n_groups", LongType, nullable = true),
      StructField("zdev", DoubleType, nullable = true)))
    val out = m.rows.groupBy(r => Mirror.groupKey(r.get(0))).values.toSeq.flatMap { cells =>
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

  /** A melt given as a DataFrame, on the driver. */
  private def gathered(m: DataFrame): Mirror.Table =
    Guard.gatherRows(m.select("measure", "grp", "v"), "GroupByExplain.zdev")

  /** Exceptionality per measure = max standardized deviation. */
  def exceptionality(m: DataFrame): DataFrame = exceptionality(gathered(m)).toDF(m.sparkSession)

  def exceptionality(m: Mirror.Table): Mirror.Table = {
    val z = zdevTable(m)
    val schema = StructType(Seq(z.schema("measure"),
      StructField("n_groups", LongType, nullable = true),
      StructField("exceptionality", DoubleType, nullable = true)))
    val out = z.rows.groupBy(r => Mirror.groupKey(r.get(0))).values.toSeq.map(g =>
      Row(g.head.get(0), g.head.getLong(3),
        Mirror.maxD(g.map(r => if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4))))))
    Mirror.Table(schema, out).orderBy(Mirror.asc("measure"))
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
