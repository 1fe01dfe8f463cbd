package graft.explain

import graft.util.Mirror
import graft.util.Mirror.asc
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FEDEx-style deviation/exceptionality explanations, Spark-first.
  *
  * Semantics (documented here, mirrored exactly in the DuckDB oracles —
  * see SURVEY.md §2.2). Reference surface:
  * /root/reference/src/pd_explain/explainers/fedex_explainer.py (a wrapper
  * over the fedex-generator measures from the FEDEx paper, VLDB'22).
  *
  * - Attributes are binned: numeric → 10 equal-width bins over the SOURCE
  *   min/max; categorical → the value itself. Bins are strings.
  * - Filter/join deviation of attribute A:
  *   KL(result ‖ source) over A's bins with +0.5 smoothing:
  *   p_b=(ns_b+0.5)/(Ns+0.5k), q_b=(nr_b+0.5)/(Nr+0.5k),
  *   score = Σ_b q_b ln(q_b/p_b).
  * - Bin influence: score(A) − score(A without bin b), where "without"
  *   drops the bin from both sides and renormalizes (k−1 bins).
  * - GroupBy exceptionality of measure m: max_g |v_g − μ| / σ over the
  *   per-group aggregated values; per-group influence = that standardized
  *   deviation.
  *
  * Scale: ONE scan of source + ONE of result produce the (attribute, bin)
  * count table (exploded attr→bin pairs, map-side combined), and ONE
  * bounded collect brings its bins to the driver. Every measure —
  * deviation, Shapley, leave-one-out influence — is driver arithmetic
  * over an attribute's cells, returned as a LocalRelation (no
  * self-join, no second reference to the scan, and consuming the result
  * launches no Spark job). Cross-engine float determinism: ln terms are
  * rounded to DECIMAL(18,9) and summed as exact long nano-units — see
  * termNanos.
  */
object Fedex {

  final case class Attr(name: String, numeric: Boolean)

  /** NULL-PRESERVING: Spark's least() skips nulls, so an unguarded
    * least(floor(null/...), nb-1) silently bins a NULL value into the
    * TOP bin (and `when(hi = lo, 0)` would bin it 0) — while every SQL
    * mirror filters the raw attribute IS NOT NULL first. A null value
    * has no bin; downstream isNotNull filters then agree with the
    * mirrors on dirty data. */
  def binExpr(c: Column, lo: Column, hi: Column, nb: Int = 10): Column =
    when(c.isNull, lit(null).cast("int")).otherwise(
      when(hi === lo, lit(0)).otherwise(
        least(floor((c - lo) / ((hi - lo) / nb.toDouble)).cast("int"), lit(nb - 1))))

  def binSql(c: String, lo: String, hi: String, nb: Int = 10): String =
    s"CASE WHEN $hi = $lo THEN 0 ELSE LEAST(CAST(FLOOR(($c - $lo) / (($hi - $lo) / $nb.0)) AS INT), ${nb - 1}) END"

  /** Source min/max per numeric attribute (single 1-row broadcastable agg). */
  def statsDf(src: DataFrame, attrs: Seq[Attr]): Option[DataFrame] = {
    val nums = attrs.filter(_.numeric)
    if (nums.isEmpty) None
    else {
      val aggs = nums.flatMap(a => Seq(min(col(a.name)).as(s"lo_${a.name}"), max(col(a.name)).as(s"hi_${a.name}")))
      Some(src.agg(aggs.head, aggs.tail: _*))
    }
  }

  /** One scan → (attribute, bin) pairs for every row × attribute. */
  def attrBins(df: DataFrame, stats: Option[DataFrame], attrs: Seq[Attr], nb: Int = 10): DataFrame = {
    val base = stats.map(st => df.crossJoin(broadcast(st))).getOrElse(df)
    val structs = attrs.map { a =>
      val bin =
        if (a.numeric) binExpr(col(a.name), col(s"lo_${a.name}"), col(s"hi_${a.name}"), nb).cast("string")
        else col(a.name).cast("string")
      struct(lit(a.name).as("attribute"), bin.as("bin"))
    }
    base.select(explode(array(structs: _*)).as("ab"))
      .select(col("ab.attribute").as("attribute"), col("ab.bin").as("bin"))
      .filter(col("bin").isNotNull)
  }

  /** (attribute, bin, ns, nr) counts; bins are those present in source. */
  def binCounts(src: DataFrame, res: DataFrame, attrs: Seq[Attr], nb: Int = 10): DataFrame = {
    val stats = statsDf(src, attrs)
    val s = attrBins(src, stats, attrs, nb).groupBy("attribute", "bin").agg(count(lit(1)).as("ns"))
    val r = attrBins(res, stats, attrs, nb).groupBy("attribute", "bin").agg(count(lit(1)).as("nr"))
    s.join(r, Seq("attribute", "bin"), "left").na.fill(0L, Seq("nr"))
  }

  /** Fast path of [[binCounts]] when the result is `src.filter(cond)`
    * (the filter-explanation case): ONE scan + ONE aggregation with a
    * conditional count, instead of scanning/exploding source and result
    * separately and joining. Identical output — bins come from the same
    * source stats, and every result row is a source row. */
  def binCountsFiltered(src: DataFrame, cond: Column, attrs: Seq[Attr], nb: Int = 10): DataFrame = {
    val stats = statsDf(src, attrs)
    val base = stats.map(st => src.crossJoin(broadcast(st))).getOrElse(src)
    val structs = attrs.map { a =>
      val bin =
        if (a.numeric) binExpr(col(a.name), col(s"lo_${a.name}"), col(s"hi_${a.name}"), nb).cast("string")
        else col(a.name).cast("string")
      struct(lit(a.name).as("attribute"), bin.as("bin"))
    }
    // when().otherwise(0): a NULL condition means "not in the filter
    // result" (0), and keeps all-excluded groups at nr=0 rather than NULL
    base.select(explode(array(structs: _*)).as("ab"),
        when(cond, 1L).otherwise(0L).as("inres"))
      .select(col("ab.attribute").as("attribute"), col("ab.bin").as("bin"), col("inres"))
      .filter(col("bin").isNotNull)
      .groupBy("attribute", "bin")
      .agg(count(lit(1)).as("ns"), sum(col("inres")).as("nr"))
  }

  /** One attribute's count-table cells (bins with ns > 0) and totals. */
  private final case class Cell(bin: String, ns: Long, nr: java.lang.Long)
  private final case class AttrCells(attribute: String, cells: Seq[Cell],
                                     nSrc: Long, nRes: java.lang.Long) {
    def k: Long = cells.size.toLong
  }

  /** ONE bounded collect of the count table's ns > 0 rows, grouped per
    * attribute on the driver; every measure (deviation, Shapley,
    * leave-one-out influence) is then driver arithmetic over an
    * attribute's cells, mirroring the in-plan array math it replaced
    * ([[graft.util.Mirror]]). In-plan, that tail runs as several tiny
    * jobs whose planning, not their data, dominates an explain cell's
    * latency.
    *
    * Cardinality contract: the collect holds every attribute's bins,
    * and the leave-one-out is O(k²) within an attribute — sized for
    * explanation bins (numeric attrs have `nb` bins; categorical attrs
    * are expected to be low-cardinality dimensions, as in the reference,
    * whose per-value binning has the same contract). Do not feed
    * ID-like categorical attributes — enforced fail-fast by
    * [[graft.util.Guard.gatherCells]]. */
  private def attrCells(counts: DataFrame): Seq[AttrCells] = {
    require(counts.schema("attribute").dataType == StringType &&
      counts.schema("bin").dataType == StringType &&
      counts.schema("ns").dataType == LongType && counts.schema("nr").dataType == LongType,
      s"a count table has string attribute/bin and long ns/nr, got ${counts.schema.simpleString}")
    val rows = graft.util.Guard.gatherCells(
      counts.filter(col("ns") > 0).select("attribute", "bin", "ns", "nr"), "Fedex.attrCells")
    rows.toSeq.groupBy(_.getString(0)).toSeq.map { case (a, rs) =>
      val cells = rs.map(r => Cell(r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
      val nrs = cells.flatMap(c => Option(c.nr)).map(_.longValue)
      AttrCells(a, cells, cells.map(_.ns).sum,
        if (nrs.isEmpty) null else java.lang.Long.valueOf(nrs.sum))
    }
  }

  /** One bin's KL term in nano-units:
    *   q = (nr + 0.5)/(nRes + 0.5k), p = (ns + 0.5)/(nSrc + 0.5k),
    *   term = q·ln(q/p) as DECIMAL(18,9), × 10⁹ exactly.
    * Terms are DECIMAL(18,9) so a sum of them is exact and
    * order-independent as long nano-units, bit-equal to the oracle's
    * decimal SUM; |term| ≤ ~40 and bin counts are bounded, so no
    * overflow. NULL when a count is NULL. */
  private def termNanos(nr: java.lang.Long, ns: Long, nRes: java.lang.Long,
                        nSrc: Long, k: Long): java.lang.Long =
    if (nr == null || nRes == null) null
    else {
      val q = (nr.longValue + 0.5) / (nRes.longValue + 0.5 * k)
      val p = (ns + 0.5) / (nSrc + 0.5 * k)
      val ln = Mirror.log(q / p)
      if (ln == null) null
      else Mirror.castDec(q * ln, 18, 9).unscaledValue.longValueExact
    }

  /** Σ of the cells' terms as a double; NULL if any term is NULL. */
  private def klSum(cells: Seq[Cell], nRes: java.lang.Long, nSrc: Long,
                    k: Long): java.lang.Double = {
    var acc = 0L
    for (c <- cells) {
      val t = termNanos(c.nr, c.ns, nRes, nSrc, k)
      if (t == null) return null
      acc = Math.addExact(acc, t.longValue)
    }
    Mirror.nanosToDouble(acc)
  }

  private def field(counts: DataFrame, name: String): StructField = counts.schema(name)
  private def derived(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Per-attribute KL deviation: (attribute, n_bins, kl_score). */
  def filterDeviation(counts: DataFrame): DataFrame =
    Mirror.Table(
      StructType(Seq(field(counts, "attribute"), derived("n_bins", LongType),
        derived("kl_score", DoubleType))),
      attrCells(counts).map(a => Row(a.attribute, a.k, klSum(a.cells, a.nRes, a.nSrc, a.k))))
      .orderBy(asc("attribute")).toDF(counts.sparkSession)

  /** Shapley attribution per bin: the deviation measure is additive over
    * bins (score = Σ_b term_b), so the exact Shapley value of bin b IS its
    * own term — no sampling needed (reference explainer='shapley'). */
  def binShapley(counts: DataFrame): DataFrame =
    Mirror.Table(
      StructType(Seq("attribute", "bin", "ns", "nr").map(field(counts, _)) :+
        derived("shapley", DoubleType)),
      attrCells(counts).flatMap(a => a.cells.map { c =>
        val t = termNanos(c.nr, c.ns, a.nRes, a.nSrc, a.k)
        Row(a.attribute, c.bin, c.ns, c.nr,
          if (t == null) null else java.lang.Double.valueOf(Mirror.nanosToDouble(t)))
      }))
      .orderBy(asc("attribute"), asc("bin")).toDF(counts.sparkSession)

  def shapleySelectSql: String =
    s"""SELECT attribute, bin, ns, nr,
       |  CAST(${klTermSql("nr", "ns", "n_res", "n_src", "k")} AS DOUBLE) AS shapley
       |FROM en ORDER BY attribute, bin""".stripMargin

  /** (attribute, kl_score, bin, ns, nr, influence) per bin — the shared
    * core of [[binInfluence]] and ExplainFrame's combined deviation +
    * influence ranking, in (attribute, bin) order. The leave-one-out of
    * bin e sums the other bins' terms with e's counts removed from the
    * totals over k − 1 bins — O(k²) on bin-cardinality lists. */
  private[graft] def influenceTable(counts: DataFrame): Mirror.Table =
    Mirror.Table(
      StructType(Seq(field(counts, "attribute"), derived("kl_score", DoubleType)) ++
        Seq("bin", "ns", "nr").map(field(counts, _)) :+ derived("influence", DoubleType)),
      // single-bin attributes have no leave-one-out (removing the only
      // bin leaves nothing): dropped, matching the oracle's self-join on
      // bin <> bin which produces no row for k = 1
      attrCells(counts).filter(_.k > 1).flatMap { a =>
        val kl = klSum(a.cells, a.nRes, a.nSrc, a.k)
        a.cells.map { e =>
          // a NULL bin is unequal to nothing, so its leave-one-out is empty
          val others = a.cells.filter(x => x.bin != null && e.bin != null && x.bin != e.bin)
          val nRes = if (a.nRes == null || e.nr == null) null
            else java.lang.Long.valueOf(a.nRes - e.nr)
          val excl = klSum(others, nRes, a.nSrc - e.ns, a.k - 1)
          Row(a.attribute, kl, e.bin, e.ns, e.nr,
            if (kl == null || excl == null) null else java.lang.Double.valueOf(kl - excl))
        }
      })
      .orderBy(asc("attribute"), asc("bin"))

  /** Leave-one-bin-out influence: (attribute, bin, ns, nr, influence). */
  def binInfluence(counts: DataFrame): DataFrame = {
    val t = influenceTable(counts)
    val keep = Seq("attribute", "bin", "ns", "nr", "influence").map(t.schema.fieldIndex)
    Mirror.Table(StructType(keep.map(t.schema.fields(_))),
      t.rows.map(r => Row.fromSeq(keep.map(r.get))))
      .toDF(counts.sparkSession)
  }

  // ---------------------------------------------------------------- SQL --

  /** DuckDB CTE prefix like [[countsSql]], with categorical attributes
    * given as (alias, sqlExpr) pairs — supports derived bins such as the
    * reference's Seasons/Months datetime bins
    * (/root/reference/src/pd_explain/custom_bins/date_time_bin.py). */
  def countsSqlExpr(table: String, srcWhere: String, resWhere: String,
                    num: Seq[String], catExpr: Seq[(String, String)], nb: Int = 10): String = {
    val statCols = num.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    def branch(side: String, where: String): Seq[String] = {
      val nbx = num.map(a =>
        s"SELECT '$a' AS attribute, CAST(${binSql(a, s"lo_$a", s"hi_$a", nb)} AS VARCHAR) AS bin, '$side' AS side FROM $table, st WHERE ($where) AND $a IS NOT NULL")
      val cbx = catExpr.map { case (alias, e) =>
        s"SELECT '$alias' AS attribute, CAST($e AS VARCHAR) AS bin, '$side' AS side FROM $table WHERE ($where) AND ($e) IS NOT NULL" }
      nbx ++ cbx
    }
    val st = if (num.nonEmpty) s"st AS (SELECT $statCols FROM $table WHERE ($srcWhere)),\n" else ""
    s"""WITH $st
       |u AS (${(branch("src", srcWhere) ++ branch("res", resWhere)).mkString("\nUNION ALL\n")}),
       |cnt AS (SELECT attribute, bin,
       |  COUNT(*) FILTER (WHERE side = 'src') AS ns,
       |  COUNT(*) FILTER (WHERE side = 'res') AS nr
       |  FROM u GROUP BY attribute, bin),
       |en AS (SELECT attribute, bin, ns, nr,
       |  SUM(ns) OVER (PARTITION BY attribute) AS n_src,
       |  SUM(nr) OVER (PARTITION BY attribute) AS n_res,
       |  COUNT(*) OVER (PARTITION BY attribute) AS k
       |  FROM cnt WHERE ns > 0)""".stripMargin
  }

  /** DuckDB CTE prefix producing the bin counts + per-attribute totals
    * (`en`) that [[attrCells]] gathers on the driver. */
  def countsSql(table: String, srcWhere: String, resWhere: String,
                num: Seq[String], cat: Seq[String], nb: Int = 10): String = {
    val statCols = num.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    def branch(side: String, where: String): Seq[String] = {
      val nbx = num.map(a =>
        s"SELECT '$a' AS attribute, CAST(${binSql(a, s"lo_$a", s"hi_$a", nb)} AS VARCHAR) AS bin, '$side' AS side FROM $table, st WHERE ($where) AND $a IS NOT NULL")
      val cbx = cat.map(a =>
        s"SELECT '$a' AS attribute, CAST($a AS VARCHAR) AS bin, '$side' AS side FROM $table WHERE ($where) AND $a IS NOT NULL")
      nbx ++ cbx
    }
    val st = if (num.nonEmpty) s"st AS (SELECT $statCols FROM $table WHERE ($srcWhere)),\n" else ""
    s"""WITH $st
       |u AS (${(branch("src", srcWhere) ++ branch("res", resWhere)).mkString("\nUNION ALL\n")}),
       |cnt AS (SELECT attribute, bin,
       |  COUNT(*) FILTER (WHERE side = 'src') AS ns,
       |  COUNT(*) FILTER (WHERE side = 'res') AS nr
       |  FROM u GROUP BY attribute, bin),
       |en AS (SELECT attribute, bin, ns, nr,
       |  SUM(ns) OVER (PARTITION BY attribute) AS n_src,
       |  SUM(nr) OVER (PARTITION BY attribute) AS n_res,
       |  COUNT(*) OVER (PARTITION BY attribute) AS k
       |  FROM cnt WHERE ns > 0)""".stripMargin
  }

  /** [[countsSql]] over explicit src/res RELATIONS (the result side of a
    * join explanation is itself a join, not a WHERE on the source). */
  def countsSqlRel(srcRel: String, resRel: String,
                   num: Seq[String], cat: Seq[String], nb: Int = 10): String = {
    val statCols = num.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    def branch(side: String, rel: String): Seq[String] = {
      val nbx = num.map(a =>
        s"SELECT '$a' AS attribute, CAST(${binSql(a, s"lo_$a", s"hi_$a", nb)} AS VARCHAR) AS bin, '$side' AS side FROM $rel AS tt, st WHERE $a IS NOT NULL")
      val cbx = cat.map(a =>
        s"SELECT '$a' AS attribute, CAST($a AS VARCHAR) AS bin, '$side' AS side FROM $rel AS tt WHERE $a IS NOT NULL")
      nbx ++ cbx
    }
    val st = if (num.nonEmpty) s"st AS (SELECT $statCols FROM $srcRel AS ss),\n" else ""
    s"""WITH $st
       |u AS (${(branch("src", srcRel) ++ branch("res", resRel)).mkString("\nUNION ALL\n")}),
       |cnt AS (SELECT attribute, bin,
       |  COUNT(*) FILTER (WHERE side = 'src') AS ns,
       |  COUNT(*) FILTER (WHERE side = 'res') AS nr
       |  FROM u GROUP BY attribute, bin),
       |en AS (SELECT attribute, bin, ns, nr,
       |  SUM(ns) OVER (PARTITION BY attribute) AS n_src,
       |  SUM(nr) OVER (PARTITION BY attribute) AS n_res,
       |  COUNT(*) OVER (PARTITION BY attribute) AS k
       |  FROM cnt WHERE ns > 0)""".stripMargin
  }

  /** Combined deviation + per-bin influence select, ranked and capped —
    * the SQL mirror of ExplainFrame.deviationTopK. */
  def deviationTopKSql(topK: Int): String =
    s""", ex AS (
       |  SELECT x.attribute AS attribute, e.bin AS bin, e.ns AS ns, e.nr AS nr,
       |    CAST(SUM(${klTermSql("x.nr", "x.ns", "(x.n_res - e.nr)", "(x.n_src - e.ns)", "(x.k - 1)")}) AS DOUBLE) AS score_excl
       |  FROM en x JOIN en e ON x.attribute = e.attribute AND x.bin <> e.bin
       |  GROUP BY x.attribute, e.bin, e.ns, e.nr),
       |fl AS (SELECT attribute,
       |  CAST(SUM(${klTermSql("nr", "ns", "n_res", "n_src", "k")}) AS DOUBLE) AS kl_score
       |  FROM en GROUP BY attribute)
       |SELECT fl.attribute, fl.kl_score, ex.bin, ex.ns, ex.nr,
       |  (fl.kl_score - ex.score_excl) AS influence
       |FROM ex JOIN fl ON ex.attribute = fl.attribute
       |ORDER BY fl.kl_score DESC, influence DESC, fl.attribute, ex.bin
       |LIMIT $topK""".stripMargin

  private def klTermSql(nr: String, ns: String, nRes: String, nSrc: String, k: String): String = {
    val q = s"(($nr + 0.5) / ($nRes + 0.5 * $k))"
    val p = s"(($ns + 0.5) / ($nSrc + 0.5 * $k))"
    s"CAST($q * LN($q / $p) AS DECIMAL(18,9))"
  }

  def deviationSelectSql: String =
    s"""SELECT attribute, MAX(k) AS n_bins,
       |  CAST(SUM(${klTermSql("nr", "ns", "n_res", "n_src", "k")}) AS DOUBLE) AS kl_score
       |FROM en GROUP BY attribute ORDER BY attribute""".stripMargin

  def influenceSelectSql: String =
    s""", ex AS (
       |  SELECT x.attribute AS attribute, e.bin AS bin, e.ns AS ns, e.nr AS nr,
       |    CAST(SUM(${klTermSql("x.nr", "x.ns", "(x.n_res - e.nr)", "(x.n_src - e.ns)", "(x.k - 1)")}) AS DOUBLE) AS score_excl
       |  FROM en x JOIN en e ON x.attribute = e.attribute AND x.bin <> e.bin
       |  GROUP BY x.attribute, e.bin, e.ns, e.nr),
       |fl AS (SELECT attribute,
       |  CAST(SUM(${klTermSql("nr", "ns", "n_res", "n_src", "k")}) AS DOUBLE) AS kl_score
       |  FROM en GROUP BY attribute)
       |SELECT ex.attribute, ex.bin, ex.ns, ex.nr,
       |  (fl.kl_score - ex.score_excl) AS influence
       |FROM ex JOIN fl ON ex.attribute = fl.attribute
       |ORDER BY ex.attribute, ex.bin""".stripMargin
}
