package graft.explain

import graft.util.{Guard, Mirror}
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
  * Scale: two exchange-free passes ([[graft.util.Guard.gatherCells]])
  * build the (attribute, bin) count table on the driver: the source
  * min/max, then the bins of every attribute counted in one pass over
  * the source (and the result, when it is not a filter of it). Every
  * measure — deviation, Shapley, leave-one-out influence — is driver
  * arithmetic over an attribute's cells, returned as a LocalRelation
  * (no shuffle, no self-join, and consuming the result launches no Spark
  * job). Cross-engine float determinism: ln terms are rounded to
  * DECIMAL(18,9) and summed as exact long nano-units — see termNanos.
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

  /** The (attribute, bin, ns, nr) count table of `src` against the rows
    * of it that `cond` keeps (the filter-explanation case): ns counts a
    * bin's source rows and nr those where `cond` is true (a NULL
    * condition means "not in the result"). */
  def countTable(src: DataFrame, cond: Column, attrs: Seq[Attr], nb: Int = 10): Mirror.Table =
    counted(src, src, lit(true), cond, attrs, nb, nrNullable = true)

  /** [[countTable]] of a result frame `res` whose rows come from `src`
    * (the join-explanation case): one pass over the union of both, a
    * flag telling the sides apart. */
  def countTable(src: DataFrame, res: DataFrame, attrs: Seq[Attr], nb: Int): Mirror.Table = {
    val cols = attrs.map(a => col(a.name))
    val both = src.select(cols :+ lit(true).as("__src"): _*)
      .unionByName(res.select(cols :+ lit(false).as("__src"): _*))
    counted(src, both, col("__src"), !col("__src"), attrs, nb, nrNullable = false)
  }

  /** [[countTable]] as a LocalRelation. */
  def binCountsFiltered(src: DataFrame, cond: Column, attrs: Seq[Attr], nb: Int = 10): DataFrame =
    countTable(src, cond, attrs, nb).toDF(src.sparkSession)

  /** Two exchange-free passes ([[graft.util.Guard]]): the source min/max
    * of the numeric attributes, then one cell set per attribute keyed by
    * its bin — [[binExpr]] over the min/max as typed literals (an int,
    * cast to its string label here) or the categorical value as a
    * string — counting the rows where `ns` and `nr` hold. Bins are those
    * present in the source. */
  private def counted(src: DataFrame, rows: DataFrame, ns: Column, nr: Column, attrs: Seq[Attr],
                      nb: Int, nrNullable: Boolean): Mirror.Table = {
    val nums = attrs.filter(_.numeric).map(_.name)
    val bounds = (if (nums.isEmpty) Nil else Guard.extrema(src, nums, "Fedex.bounds")).iterator
    val bins = attrs.map { a =>
      val bin =
        if (a.numeric) { val (lo, hi) = bounds.next(); binExpr(col(a.name), lo, hi, nb) }
        else col(a.name).cast("string")
      when(bin.isNotNull, struct(bin))
    }
    val (_, cells) = Guard.gatherCells(rows, bins, "Fedex.counts", Seq(ns, nr))
    Mirror.Table(StructType(Seq(
        StructField("attribute", StringType, nullable = false),
        StructField("bin", StringType, nullable = false),
        StructField("ns", LongType, nullable = false),
        StructField("nr", LongType, nullable = nrNullable))),
      cells.collect { case c if c.flags(0) > 0 =>
        Row(attrs(c.set).name, String.valueOf(c.key.get(0)), c.flags(0), c.flags(1)) })
  }

  /** One attribute's count-table cells (bins with ns > 0) and totals. */
  private final case class Cell(bin: String, ns: Long, nr: java.lang.Long)
  private final case class AttrCells(attribute: String, cells: Seq[Cell],
                                     nSrc: Long, nRes: java.lang.Long) {
    def k: Long = cells.size.toLong
  }

  /** The count table's ns > 0 rows grouped per attribute on the
    * driver; every measure (deviation, Shapley, leave-one-out influence)
    * is then driver arithmetic over an attribute's cells, mirroring the
    * in-plan array math it replaced ([[graft.util.Mirror]]). In-plan,
    * that tail runs as several tiny jobs whose planning, not their data,
    * dominates an explain cell's latency.
    *
    * Cardinality contract: the table holds every attribute's bins, and
    * the leave-one-out is O(k²) within an attribute — sized for
    * explanation bins (numeric attrs have `nb` bins; categorical attrs
    * are expected to be low-cardinality dimensions, as in the reference,
    * whose per-value binning has the same contract). Do not feed
    * ID-like categorical attributes — enforced fail-fast by the gather
    * ([[graft.util.Guard.gatherCells]]). */
  private def attrCells(counts: Mirror.Table): Seq[AttrCells] = {
    require(counts.schema.map(f => f.name -> f.dataType) == Seq("attribute" -> StringType,
        "bin" -> StringType, "ns" -> LongType, "nr" -> LongType),
      s"a count table is (attribute, bin: string, ns, nr: long), got ${counts.schema.simpleString}")
    counts.rows.filter(_.getLong(2) > 0).groupBy(_.getString(0)).toSeq.map { case (a, rs) =>
      val cells = rs.map(r => Cell(r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
      val nrs = cells.flatMap(c => Option(c.nr)).map(_.longValue)
      AttrCells(a, cells, cells.map(_.ns).sum,
        if (nrs.isEmpty) null else java.lang.Long.valueOf(nrs.sum))
    }
  }

  /** A count table given as a DataFrame, on the driver. */
  private def gathered(counts: DataFrame): Mirror.Table =
    Guard.gatherRows(counts.select("attribute", "bin", "ns", "nr"), "Fedex.attrCells")

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

  private def field(counts: Mirror.Table, name: String): StructField = counts.schema(name)
  private def derived(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Per-attribute KL deviation: (attribute, n_bins, kl_score). */
  def filterDeviation(counts: DataFrame): DataFrame =
    filterDeviation(gathered(counts)).toDF(counts.sparkSession)

  def filterDeviation(counts: Mirror.Table): Mirror.Table =
    Mirror.Table(
      StructType(Seq(field(counts, "attribute"), derived("n_bins", LongType),
        derived("kl_score", DoubleType))),
      attrCells(counts).map(a => Row(a.attribute, a.k, klSum(a.cells, a.nRes, a.nSrc, a.k))))
      .orderBy(asc("attribute"))

  /** Shapley attribution per bin: the deviation measure is additive over
    * bins (score = Σ_b term_b), so the exact Shapley value of bin b IS its
    * own term — no sampling needed (reference explainer='shapley'). */
  def binShapley(counts: DataFrame): DataFrame =
    binShapley(gathered(counts)).toDF(counts.sparkSession)

  def binShapley(counts: Mirror.Table): Mirror.Table =
    Mirror.Table(
      StructType(Seq("attribute", "bin", "ns", "nr").map(field(counts, _)) :+
        derived("shapley", DoubleType)),
      attrCells(counts).flatMap(a => a.cells.map { c =>
        val t = termNanos(c.nr, c.ns, a.nRes, a.nSrc, a.k)
        Row(a.attribute, c.bin, c.ns, c.nr,
          if (t == null) null else java.lang.Double.valueOf(Mirror.nanosToDouble(t)))
      }))
      .orderBy(asc("attribute"), asc("bin"))

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
    influenceTable(gathered(counts))

  private[graft] def influenceTable(counts: Mirror.Table): Mirror.Table =
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
  def binInfluence(counts: DataFrame): DataFrame =
    binInfluence(gathered(counts)).toDF(counts.sparkSession)

  def binInfluence(counts: Mirror.Table): Mirror.Table = {
    val t = influenceTable(counts)
    val keep = Seq("attribute", "bin", "ns", "nr", "influence").map(t.schema.fieldIndex)
    Mirror.Table(StructType(keep.map(t.schema.fields(_))),
      t.rows.map(r => Row.fromSeq(keep.map(r.get))))
  }

  // ---------------------------------------------------------------- SQL --

  /** DuckDB CTE prefix like [[countsSql]], with categorical attributes
    * given as (alias, sqlExpr) pairs — supports derived bins such as the
    * reference's Seasons/Months datetime bins
    * (/root/reference/src/pd_explain/custom_bins/date_time_bin.py). */
  def countsSqlExpr(table: String, srcWhere: String, resWhere: String,
                    num: Seq[String], catExpr: Seq[(String, String)], nb: Int = 10): String =
    countsCte(s"$table WHERE ($srcWhere)", Seq("src" -> (table, srcWhere), "res" -> (table, resWhere)),
      num, catExpr, nb)

  /** DuckDB CTE prefix producing the bin counts + per-attribute totals
    * (`en`) that [[attrCells]] gathers on the driver. */
  def countsSql(table: String, srcWhere: String, resWhere: String,
                num: Seq[String], cat: Seq[String], nb: Int = 10): String =
    countsSqlExpr(table, srcWhere, resWhere, num, cat.map(a => a -> a), nb)

  /** [[countsSql]] over explicit src/res RELATIONS (the result side of a
    * join explanation is itself a join, not a WHERE on the source). */
  def countsSqlRel(srcRel: String, resRel: String,
                   num: Seq[String], cat: Seq[String], nb: Int = 10): String =
    countsCte(s"$srcRel AS ss", Seq("src" -> (s"$srcRel AS tt", "1=1"), "res" -> (s"$resRel AS tt", "1=1")),
      num, cat.map(a => a -> a), nb)

  /** The count CTEs: source min/max over `stFrom`, then each side's
    * (from, where) binned per attribute and counted. */
  private def countsCte(stFrom: String, sides: Seq[(String, (String, String))],
                        num: Seq[String], cat: Seq[(String, String)], nb: Int): String = {
    val statCols = num.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    val branches = sides.flatMap { case (side, (from, where)) =>
      num.map(a =>
        s"SELECT '$a' AS attribute, CAST(${binSql(a, s"lo_$a", s"hi_$a", nb)} AS VARCHAR) AS bin, '$side' AS side FROM $from, st WHERE ($where) AND $a IS NOT NULL") ++
        cat.map { case (alias, e) =>
          s"SELECT '$alias' AS attribute, CAST($e AS VARCHAR) AS bin, '$side' AS side FROM $from WHERE ($where) AND ($e) IS NOT NULL" }
    }
    val st = if (num.nonEmpty) s"st AS (SELECT $statCols FROM $stFrom),\n" else ""
    s"""WITH $st
       |u AS (${branches.mkString("\nUNION ALL\n")}),
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

  /** The leave-one-bin-out (`ex`) and per-attribute (`fl`) scores over
    * `en`, shared by the deviation and influence selects. */
  private def exFlSql: String =
    s""", ex AS (
       |  SELECT x.attribute AS attribute, e.bin AS bin, e.ns AS ns, e.nr AS nr,
       |    CAST(SUM(${klTermSql("x.nr", "x.ns", "(x.n_res - e.nr)", "(x.n_src - e.ns)", "(x.k - 1)")}) AS DOUBLE) AS score_excl
       |  FROM en x JOIN en e ON x.attribute = e.attribute AND x.bin <> e.bin
       |  GROUP BY x.attribute, e.bin, e.ns, e.nr),
       |fl AS (SELECT attribute,
       |  CAST(SUM(${klTermSql("nr", "ns", "n_res", "n_src", "k")}) AS DOUBLE) AS kl_score
       |  FROM en GROUP BY attribute)""".stripMargin

  /** Combined deviation + per-bin influence select, ranked and capped —
    * the SQL mirror of ExplainFrame.deviationTopK. */
  def deviationTopKSql(topK: Int): String =
    exFlSql + s"""
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
    exFlSql + s"""
       |SELECT ex.attribute, ex.bin, ex.ns, ex.nr,
       |  (fl.kl_score - ex.score_excl) AS influence
       |FROM ex JOIN fl ON ex.attribute = fl.attribute
       |ORDER BY ex.attribute, ex.bin""".stripMargin
}
