package graft.explain

import java.math.{BigDecimal => JBigDecimal}

import graft.util.{D, Guard, Mirror}
import graft.util.Mirror.{asc, desc, utf8Lt}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MetaInsight pattern mining (reference: pd-explain's
  * `metainsight_explainer.py`; "MetaInsight: Automatic Discovery of
  * Structured Knowledge for Exploratory Data Analysis", Ma et al.,
  * SIGMOD'21).
  *
  * Data scopes = (subspace, breakdown, measure): subspaces are the values
  * of a filter dimension plus '*' (all); measures are aggregated per
  * breakdown value inside each subspace. Patterns evaluated per scope:
  *  - outlier   (cat breakdown): some breakdown value has |z| > 1.5
  *  - dominance (cat breakdown): max share of the measure total ≥ 0.5
  *  - trend_up / trend_down (ordered breakdown): Pearson r of
  *    (breakdown index, v) ≥ 0.5 / ≤ −0.5
  * A MetaInsight groups scopes by (filter dimension, breakdown, measure,
  * pattern):
  *   commonness = n_matching / n_subspaces  (kept when ≥ min_commonness)
  *   score      = (n_matching − balance·n_exceptions)/n_subspaces
  *                − penalty·[no exceptions]
  *
  * Scale: one engine serves the explicit scopes of [[explain]] and the
  * [[autoSearch]], in three steps on the driver:
  *  1. [[gather]]: ONE exchange-free pass ([[graft.util.Guard.gatherCells]])
  *     collects the cells of every scope, bounded by
  *     Guard.MaxGatheredCells in total over all scopes;
  *  2. [[patterns]]: each scope's cells melt into (measure, value) rows
  *     and its patterns are evaluated per subspace and measure;
  *  3. [[insights]]: the pattern rows are grouped into scored
  *     MetaInsights.
  * [[explain]] returns every insight ordered by (breakdown, measure,
  * pattern); only [[autoSearch]] ranks by score and cuts at topK. The
  * arithmetic mirrors Spark's expressions exactly ([[graft.util.Mirror]]),
  * so the results equal the in-plan chain the engine replaced (pinned in
  * the specs), and both return a LocalRelation: consuming one launches no
  * Spark job.
  */
object MetaInsight {

  import GroupByExplain._

  /** One breakdown of a scope: `name` tags its patterns, `value`
    * computes it from a source row, and a `trend` breakdown is an integer
    * index (a month) that carries trend patterns instead of categorical
    * ones. */
  final case class Breakdown(name: String, value: Column, trend: Boolean = false)

  /** What tells two breakdowns apart. */
  private def key(b: Breakdown) = (b.name, b.trend)

  /** One cell of a scope: its subspace ('*' for every row, NULL for a
    * NULL filter-dimension value), its breakdown value (`b`, the string
    * label of a categorical breakdown; `x`, the index of a trend one), its
    * row count and its exact sum per measure (NULL when every value is
    * NULL). */
  private final case class Cell(sub: String, b: String, x: Integer, cnt: Long,
                                sm: IndexedSeq[JBigDecimal])

  /** Step 1: the cells of each of `scopes`, in order, summing each of
    * `ms`. One gather holds one cell set per distinct (filterDim,
    * breakdown) pair and one per breakdown alone (the '*' subspace), each
    * decimal cast evaluated once per source row; a scope takes its pair's
    * cells, then its breakdown's '*' cells. */
  private def gather(src: DataFrame, scopes: Seq[(String, Breakdown)],
                     ms: Seq[String]): Seq[Seq[Cell]] = {
    val fs = scopes.map(_._1).distinct
    val bs = scopes.map(_._2).distinctBy(key)
    val fIdx = fs.zipWithIndex.toMap
    val bIdx = bs.map(key).zipWithIndex.toMap
    val projected = Guard.groupingForm(src.select(
      fs.zipWithIndex.map { case (f, i) => col(f).cast("string").as(s"__f$i") } ++
        bs.zipWithIndex.map { case (b, i) => b.value.as(s"__b$i") } ++
        ms.zipWithIndex.map { case (m, i) => col(m).as(s"__v$i") }: _*),
      bs.indices.map(i => s"__b$i"))
    // a breakdown keys its cells by its value, and a categorical one of
    // another type also by the string label of that value, last
    def bKey(i: Int): Seq[Column] = {
      val b = col(s"__b$i")
      if (bs(i).trend || projected.schema(s"__b$i").dataType == StringType) Seq(b)
      else Seq(b, b.cast("string"))
    }
    val pairs = scopes.map { case (f, b) => (fIdx(f), bIdx(key(b))) }.distinct
    val sets = pairs.map { case (fi, bi) => struct(col(s"__f$fi") +: bKey(bi): _*) } ++
      bs.indices.map(bi => struct(bKey(bi): _*))
    val (_, gathered) = Guard.gatherCells(projected, sets, "MetaInsight.gather",
      sums = ms.indices.map(i => col(s"__v$i").cast(D.dec25)))
    val cellsOf: Map[(Int, Int), Seq[Cell]] = gathered.map { c =>
      val (fi, bi) = if (c.set < pairs.size) pairs(c.set) else (-1, c.set - pairs.size)
      val (k, last) = (c.key, c.key.length - 1)
      val (b, x) =
        if (!bs(bi).trend) (k.getString(last), null)
        else (null, if (k.isNullAt(last)) null else Integer.valueOf(k.getInt(last)))
      (fi, bi) -> Cell(if (fi < 0) "*" else k.getString(0), b, x, c.n, c.sums)
    }.groupMap(_._1)(_._2)
    scopes.map { case (f, b) =>
      cellsOf.getOrElse((fIdx(f), bIdx(key(b))), Nil) ++ cellsOf.getOrElse((-1, bIdx(key(b))), Nil)
    }
  }

  /** One scope's pattern in one subspace and measure: whether it holds
    * (`hasPat` 1 or 0) and, when it does, its highlight. */
  private[graft] final case class Pat(filterDim: String, breakdown: String, sub: String,
                                      measure: String, hasPat: Int, highlight: String,
                                      pattern: String)

  /** Step 2: the pattern rows of every scope × measure, from one
    * [[gather]]. Each cell melts into a `<measure>_mean` row (the exact
    * decimal sum over the count, rounded to 6 places) and a `row_count`
    * row; several measures over one (filterDim, breakdown) share one
    * row_count measure, emitted by the first such scope only. NULL
    * subspaces are excluded from every family, as in [[autoSql]]; a cell
    * whose measure values are all NULL has a NULL mean, which counts
    * toward k, is skipped in the sums and sorts last for highlights. A categorical group scores
    * outlier and dominance, its highlight the top cell by (metric desc
    * NULLS LAST, b asc); a trend group scores trend_up and trend_down by
    * the Pearson r of (x, v) from per-term decimal moments. */
  private[graft] def patterns(src: DataFrame, scopes: Seq[(String, Breakdown)],
                              measures: Seq[String]): Seq[Pat] = {
    val ms = measures.distinct
    final case class MeltRow(f: String, b: Breakdown, sub: String, bv: String, x: Integer,
                             measure: String, v: java.lang.Double)
    val seen = scala.collection.mutable.Set.empty[(String, (String, Boolean))]
    val melted = for {
      ((f, b), cells) <- scopes.zip(gather(src, scopes, ms))
      m <- measures
      withRowCount = seen.add((f, key(b)))
      c <- cells
      sm = c.sm(ms.indexOf(m))
      mean = if (sm == null) null else java.lang.Double.valueOf(Mirror.r(sm.doubleValue / c.cnt, 6))
      row <- MeltRow(f, b, c.sub, c.b, c.x, s"${m}_mean", mean) +:
        (if (withRowCount)
          Seq(MeltRow(f, b, c.sub, c.b, c.x, "row_count", c.cnt.toDouble)) else Nil)
    } yield row

    def catPats(f: String, b: String, sub: String, measure: String, cells: Seq[MeltRow]): Seq[Pat] = {
      val k = cells.size.toLong
      val (sv, sigma) = sumSigma(cells.flatMap(c => Option(c.v)).map(_.doubleValue), k)
      def zOf(v: java.lang.Double): java.lang.Double =
        if (sigma <= 1e-12) 0.0
        else if (v == null) null
        else math.abs(v - sv / k) / sigma
      // share of an all-zero cell sum is undefined: NULL, like the
      // oracle's x/0
      def shOf(v: java.lang.Double): java.lang.Double =
        if (sv == null || sv == 0.0 || v == null) null else v / sv
      // head of the ascending sort by (coalesce(−metric, MaxValue), b)
      def topBy(metric: java.lang.Double => java.lang.Double): String =
        cells.map(c => (Option(metric(c.v)).fold(Double.MaxValue)(m => -m.doubleValue), c.bv))
          .reduceLeft { (a, c) =>
            val o = Mirror.compareDoubles(c._1, a._1)
            if (o < 0 || (o == 0 && utf8Lt(c._2, a._2))) c else a
          }._2
      def pat(metric: java.lang.Double => java.lang.Double, holds: Double => Boolean,
              name: String) = {
        val has = cells.exists(c => Option(metric(c.v)).exists(holds(_)))
        Pat(f, b, sub, measure, if (has) 1 else 0, if (has) topBy(metric) else null, name)
      }
      Seq(pat(zOf, _ > 1.5, "outlier"), pat(shOf, _ >= 0.5, "dominance"))
    }
    def trendPats(f: String, b: String, sub: String, measure: String, cells: Seq[MeltRow]): Seq[Pat] = {
      val k = cells.size.toLong
      val xs = cells.flatMap(c => Option(c.x)).map(_.intValue)
      val vs = cells.flatMap(c => Option(c.v)).map(_.doubleValue)
      val sv = Mirror.decSum(vs, 18, 6)
      val svv = Mirror.decSum(vs.map(v => v * v), 24, 2)
      val sxv = Mirror.decSum(
        cells.filter(c => c.x != null && c.v != null).map(c => c.x.intValue * c.v.doubleValue), 18, 6)
      // when(den > 1e-9, num / den).otherwise(0.0): a NULL den falls to
      // the otherwise, a NULL num gives a NULL r, and greatest() skips a
      // NULL moment
      val r: java.lang.Double =
        if (xs.isEmpty) 0.0
        else {
          val sx = xs.map(_.toLong).sum
          val sxx = xs.map(x => (x * x).toLong).sum
          val vMoment = if (sv == null) 0.0 else Mirror.greatest(k * svv - sv * sv, 0.0)
          val den = math.sqrt((k * sxx - sx * sx).toDouble) * math.sqrt(vMoment)
          if (!(den > 1e-9)) 0.0
          else if (sxv == null) null
          else (k * sxv - sx * sv) / den
        }
      def holds(p: Double => Boolean) = r != null && p(r)
      Seq(
        Pat(f, b, sub, measure, if (holds(_ >= 0.5)) 1 else 0,
          if (holds(_ >= 0.5)) "up" else null, "trend_up"),
        Pat(f, b, sub, measure, if (holds(_ <= -0.5)) 1 else 0,
          if (holds(_ <= -0.5)) "down" else null, "trend_down"))
    }
    melted.filter(_.sub != null)
      .groupBy(r => (r.f, key(r.b), r.sub, r.measure)).toSeq
      .flatMap { case ((f, (b, trend), sub, measure), cells) =>
        if (trend) trendPats(f, b, sub, measure, cells) else catPats(f, b, sub, measure, cells) }
  }

  /** Step 3: the pattern rows grouped by (filter_dim, breakdown, measure,
    * pattern) into scored MetaInsights, one row each in the columns of
    * [[autoSchema]], unordered.
    *
    * Reference-default parity (metainsight_explainer.py:45-46):
    *  - `minCommonness` (default 0.5): a pattern is kept only when
    *    commonness ≥ min_commonness — NOT merely > 0.
    *  - `balanceFactor` (default 1): weight of exceptions relative to
    *    common patterns in the score. The external miner's exact formula
    *    is not published; re-expressed deterministically as
    *      score = (n_matching − balance·n_exceptions)/n_subspaces
    *              − penalty·[no exceptions]
    *    where exceptions are the evaluated subspaces the pattern does not
    *    hold in, and `noExceptionPenaltyWeight` (default 0.1) is the
    *    reference's actionability regularizer.
    *  - `allowMultipleAggregations` / `allowMultipleGroupbys` (reference
    *    metainsight_explainer.py:52-53, extend_by_measure/
    *    extend_by_breakdown in its miner): a MetaInsight may extend its
    *    scope family along the measure (resp. breakdown) axis,
    *    re-expressed deterministically as additional candidate insights
    *    whose measure (resp. breakdown, resp. both) key collapses to '*',
    *    so commonness is computed across the extended scope set. */
  private def insights(pats: Seq[Pat], minCommonness: Double, noExceptionPenaltyWeight: Double,
                       balanceFactor: Double, allowMultipleAggregations: Boolean = false,
                       allowMultipleGroupbys: Boolean = false): Seq[Row] = {
    val variants: Seq[Pat => Pat] =
      Seq((p: Pat) => p) ++
        (if (allowMultipleAggregations) Seq((p: Pat) => p.copy(measure = "*")) else Nil) ++
        (if (allowMultipleGroupbys) Seq((p: Pat) => p.copy(breakdown = "*")) else Nil) ++
        (if (allowMultipleAggregations && allowMultipleGroupbys)
          Seq((p: Pat) => p.copy(measure = "*", breakdown = "*")) else Nil)
    pats.flatMap(p => variants.map(_(p)))
      .groupBy(p => (p.filterDim, p.breakdown, p.measure, p.pattern)).toSeq
      .flatMap { case ((f, b, m, pat), g) =>
        val nSub = g.size.toLong
        val nMatch = g.map(_.hasPat.toLong).sum
        val exHl = g.filter(_.hasPat == 1)
          .map(p => if (p.highlight == null) p.sub else s"${p.sub}:${p.highlight}")
          .reduceOption((a, b) => if (utf8Lt(b, a)) b else a).orNull
        val commonness = Mirror.r(nMatch.toDouble / nSub, 6)
        val score = Mirror.r(
          (nMatch.toDouble - balanceFactor * (nSub - nMatch)) / nSub -
            noExceptionPenaltyWeight * (if (nMatch == nSub) 1 else 0), 6)
        if (nMatch > 0 && commonness >= minCommonness)
          Seq(Row(f, b, m, pat, nSub, nMatch, commonness, score, exHl))
        else Nil
      }
  }

  /** The columns of a mined MetaInsight, the single-scope result's. */
  private val insightFields = Seq(
    StructField("breakdown", StringType, nullable = false),
    StructField("measure", StringType, nullable = false),
    StructField("pattern", StringType, nullable = false),
    StructField("n_subspaces", LongType, nullable = false),
    StructField("n_matching", LongType, nullable = true),
    StructField("commonness", DoubleType, nullable = true),
    StructField("score", DoubleType, nullable = true),
    StructField("example_highlight", StringType, nullable = true))

  /** The auto-search's columns: the filter dimension, then an insight's. */
  private val autoSchema =
    StructType(StructField("filter_dim", StringType, nullable = false) +: insightFields)

  private def requireCommonness(minCommonness: Double): Unit =
    require(minCommonness > 0 && minCommonness <= 1, "min_commonness must be in the range (0, 1]")

  /** Every MetaInsight of one filter dimension × `breakdowns` × the mean
    * of `measure` (named `<measure>_mean`) and the row count, ordered by
    * (breakdown, measure, pattern), in the columns (breakdown, measure,
    * pattern, n_subspaces, n_matching, commonness, score,
    * example_highlight). */
  def explain(src: DataFrame, filterDim: String, breakdowns: Seq[Breakdown], measure: String,
              minCommonness: Double = 0.5,
              noExceptionPenaltyWeight: Double = 0.1,
              balanceFactor: Double = 1.0): DataFrame = {
    requireCommonness(minCommonness)
    require(breakdowns.nonEmpty, "metainsight needs at least one breakdown")
    val rows = insights(patterns(src, breakdowns.map(filterDim -> _), Seq(measure)),
      minCommonness, noExceptionPenaltyWeight, balanceFactor)
    Mirror.Table(StructType(insightFields), rows.map(r => Row.fromSeq(r.toSeq.tail)))
      .orderBy(asc("breakdown"), asc("measure"), asc("pattern")).toDF(src.sparkSession)
  }

  /** Auto-search: every (filterDim, breakdown) scope × measure, mined and
    * ranked by (score desc, filter_dim, breakdown, measure, pattern), the
    * first `topK` kept. The scope set is chosen by the caller (see
    * ExplainFrame.explainMetaInsightAuto, which mirrors the reference's
    * auto enumeration, metainsight_explainer.py `max_filter_columns`/
    * `max_aggregation_columns`/`use_all_groupby_combinations`); commonness
    * is computed within a filter dimension's own scope family, and the
    * multiple-aggregation/groupby extensions are [[insights]]'. */
  def autoSearch(src: DataFrame, scopes: Seq[(String, Breakdown)], measures: Seq[String],
                 topK: Int,
                 minCommonness: Double = 0.5,
                 noExceptionPenaltyWeight: Double = 0.1,
                 balanceFactor: Double = 1.0,
                 allowMultipleAggregations: Boolean = false,
                 allowMultipleGroupbys: Boolean = false): DataFrame = {
    require(scopes.nonEmpty && measures.nonEmpty,
      "metainsight auto-search has no pattern table to mine: it needs at least one " +
        "(filterDim, breakdown) scope and one measure")
    requireCommonness(minCommonness)
    val rows = insights(patterns(src, scopes, measures), minCommonness, noExceptionPenaltyWeight,
      balanceFactor, allowMultipleAggregations, allowMultipleGroupbys)
    Mirror.Table(autoSchema, rows)
      .orderBy(desc("score"), asc("filter_dim"), asc("breakdown"), asc("measure"), asc("pattern"))
      .limit(topK).toDF(src.sparkSession)
  }

  // ---------------------------------------------------------------- SQL --

  /** DuckDB mirror of the auto-search over explicit categorical scopes
    * (filterDim, breakdown, measure): one pattern CTE chain per scope,
    * unioned and mined with `filter_dim` in the grouping, ranked by
    * score. Mirrors [[autoSearch]] over categorical and month-trend scopes. */
  def autoSql(table: String, scopes: Seq[(String, String, String)], topK: Int,
              trendScopes: Seq[(String, String, String)] = Nil,
              minCommonness: Double = 0.5,
              noExceptionPenaltyWeight: Double = 0.1,
              balanceFactor: Double = 1.0,
              allowMultipleAggregations: Boolean = false,
              allowMultipleGroupbys: Boolean = false): String = {
    // mirror autoSearch's rule: several measures over the same
    // (filterDim, breakdown) share one row_count measure — emitted for
    // the first such scope only
    val seenCat = scala.collection.mutable.Set.empty[(String, String)]
    val parts = scopes.zipWithIndex.map { case ((f, b, m), i) =>
      catChainSql(s"$i", table, f, b, m, s"${m}_mean", seenCat.add((f, b)))
    }
    // trend scopes: (filterDim, monthCol, measure); the breakdown tag is
    // date-column-specific ("<col>_month"): two trend scopes over the
    // same filter dim but DIFFERENT date columns are different
    // breakdowns and must not share a mine() group
    val seenTrend = scala.collection.mutable.Set.empty[(String, String)]
    val trendParts = trendScopes.zipWithIndex.map { case ((f, mc, m), i) =>
      trendChainSql(s"$i", table, f, mc, s"${mc}_month", m, s"${m}_mean", seenTrend.add((f, mc)))
    }
    val pats = (scopes.indices.map(i => s"SELECT * FROM p$i") ++
      trendScopes.indices.map(i => s"SELECT * FROM tp$i")).mkString("\nUNION ALL\n")
    // mirror autoSearch's scope-family extension: measure/breakdown (or both)
    // collapsed to '*' as additional candidate insights
    val extendedBranches =
      (if (allowMultipleAggregations)
        Seq("SELECT subspace, '*' AS measure, has_pat, highlight, pattern, breakdown, filter_dim FROM pats0") else Nil) ++
      (if (allowMultipleGroupbys)
        Seq("SELECT subspace, measure, has_pat, highlight, pattern, '*' AS breakdown, filter_dim FROM pats0") else Nil) ++
      (if (allowMultipleAggregations && allowMultipleGroupbys)
        Seq("SELECT subspace, '*' AS measure, has_pat, highlight, pattern, '*' AS breakdown, filter_dim FROM pats0") else Nil)
    val patsFinal =
      if (extendedBranches.isEmpty) s"pats AS ($pats)"
      else s"pats0 AS ($pats),\npats AS (SELECT * FROM pats0\nUNION ALL\n${extendedBranches.mkString("\nUNION ALL\n")})"
    s"""WITH ${(parts ++ trendParts).mkString(",\n")},
       |$patsFinal
       |${mineSql(Seq("filter_dim", "breakdown", "measure", "pattern"), minCommonness,
            noExceptionPenaltyWeight, balanceFactor)}
       |ORDER BY score DESC, filter_dim, breakdown, measure, pattern
       |LIMIT $topK""".stripMargin
  }

  /** One categorical scope's pattern CTEs, suffixed `sfx`: cells and
    * their '*' rollup, the melt (with the row_count measure when
    * `rowCount`), the per-(subspace, measure) stats, and the outlier and
    * dominance patterns in `p<sfx>`. */
  private def catChainSql(sfx: String, table: String, f: String, b: String, m: String,
                          meanName: String, rowCount: Boolean): String =
    s"""c$sfx AS (SELECT CAST($f AS VARCHAR) AS subspace, $b AS b,
       |    COUNT(*) AS cnt, SUM(CAST($m AS DECIMAL(25,6))) AS sm
       |  FROM $table GROUP BY 1, 2),
       |ca$sfx AS (SELECT * FROM c$sfx
       |  UNION ALL SELECT '*' AS subspace, b, SUM(cnt) AS cnt, SUM(sm) AS sm FROM c$sfx GROUP BY b),
       |m$sfx AS (${meltSql(s"ca$sfx", meanName, rowCount)}),
       |s$sfx AS (SELECT subspace, measure, COUNT(*) AS k,
       |    ${dvalSql("v")} AS sv, ${dbigSql("v * v")} AS svv
       |  FROM m$sfx GROUP BY 1, 2),
       |z$sfx AS (SELECT m.subspace, m.measure, m.b, m.v,
       |    CASE WHEN ${sigmaSql("s.sv", "s.svv", "s.k")} > 1e-12
       |         THEN ABS(m.v - s.sv / s.k) / ${sigmaSql("s.sv", "s.svv", "s.k")} ELSE 0.0 END AS zscore,
       |    m.v / s.sv AS share
       |  FROM m$sfx m JOIN s$sfx s ON m.subspace = s.subspace AND m.measure = s.measure),
       |zz$sfx AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY subspace, measure ORDER BY zscore DESC, b) AS rn_z,
       |    ROW_NUMBER() OVER (PARTITION BY subspace, measure ORDER BY share DESC, b) AS rn_s
       |  FROM z$sfx),
       |p$sfx AS (
       |  SELECT subspace, measure, MAX(CASE WHEN zscore > 1.5 THEN 1 ELSE 0 END) AS has_pat,
       |    MAX(CASE WHEN rn_z = 1 AND zscore > 1.5 THEN b END) AS highlight,
       |    'outlier' AS pattern, '$b' AS breakdown, '$f' AS filter_dim
       |  FROM zz$sfx GROUP BY 1, 2
       |  UNION ALL
       |  SELECT subspace, measure, MAX(CASE WHEN share >= 0.5 THEN 1 ELSE 0 END),
       |    MAX(CASE WHEN rn_s = 1 AND share >= 0.5 THEN b END), 'dominance', '$b', '$f'
       |  FROM zz$sfx GROUP BY 1, 2)""".stripMargin

  /** One month-trend scope's pattern CTEs, suffixed `sfx`, as
    * [[catChainSql]]: trend_up / trend_down patterns in `tp<sfx>`. */
  private def trendChainSql(sfx: String, table: String, f: String, monthCol: String,
                            breakdown: String, m: String, meanName: String,
                            rowCount: Boolean): String =
    s"""tc$sfx AS (SELECT CAST($f AS VARCHAR) AS subspace, month($monthCol) AS b,
       |    COUNT(*) AS cnt, SUM(CAST($m AS DECIMAL(25,6))) AS sm
       |  FROM $table GROUP BY 1, 2),
       |tca$sfx AS (SELECT * FROM tc$sfx
       |  UNION ALL SELECT '*' AS subspace, b, SUM(cnt) AS cnt, SUM(sm) AS sm FROM tc$sfx GROUP BY b),
       |tm$sfx AS (SELECT *, CAST(b AS INT) AS x FROM (${meltSql(s"tca$sfx", meanName, rowCount)})),
       |ts$sfx AS (SELECT subspace, measure, COUNT(*) AS k, SUM(x) AS sx,
       |    SUM(CAST(x * x AS BIGINT)) AS sxx,
       |    ${dvalSql("v")} AS sv, ${dbigSql("v * v")} AS svv, ${dvalSql("x * v")} AS sxv
       |  FROM tm$sfx WHERE subspace IS NOT NULL GROUP BY 1, 2),
       |tr$sfx AS (SELECT subspace, measure,
       |    CASE WHEN SQRT(CAST(k * sxx - sx * sx AS DOUBLE)) * SQRT(GREATEST(k * svv - sv * sv, 0)) > 1e-9
       |         THEN (k * sxv - sx * sv) /
       |              (SQRT(CAST(k * sxx - sx * sx AS DOUBLE)) * SQRT(GREATEST(k * svv - sv * sv, 0)))
       |         ELSE 0.0 END AS r_xy
       |  FROM ts$sfx),
       |tp$sfx AS (
       |  SELECT subspace, measure, CASE WHEN r_xy >= 0.5 THEN 1 ELSE 0 END AS has_pat,
       |    CASE WHEN r_xy >= 0.5 THEN 'up' END AS highlight,
       |    'trend_up' AS pattern, '$breakdown' AS breakdown, '$f' AS filter_dim
       |  FROM tr$sfx
       |  UNION ALL
       |  SELECT subspace, measure, CASE WHEN r_xy <= -0.5 THEN 1 ELSE 0 END,
       |    CASE WHEN r_xy <= -0.5 THEN 'down' END, 'trend_down', '$breakdown', '$f'
       |  FROM tr$sfx)""".stripMargin

  /** The melt of a cells CTE: the mean measure, plus row_count when
    * `rowCount`. */
  private def meltSql(cells: String, meanName: String, rowCount: Boolean): String =
    s"""SELECT subspace, CAST(b AS VARCHAR) AS b, '$meanName' AS measure,
       |    ROUND(CAST(CAST(sm AS DECIMAL(25,6)) AS DOUBLE) / cnt, 6) AS v FROM $cells""".stripMargin +
      (if (!rowCount) "" else s"""
       |  UNION ALL
       |  SELECT subspace, CAST(b AS VARCHAR), 'row_count', CAST(cnt AS DOUBLE) FROM $cells""".stripMargin)

  /** [[insights]] over the `pats` CTE, grouped by `keys`. */
  private def mineSql(keys: Seq[String], minCommonness: Double, noExceptionPenaltyWeight: Double,
                      balanceFactor: Double): String =
    s"""SELECT ${keys.mkString(", ")}, n_subspaces, n_matching,
       |  commonness, score, example_highlight
       |FROM (
       |  SELECT ${keys.mkString(", ")}, COUNT(*) AS n_subspaces,
       |    CAST(SUM(has_pat) AS BIGINT) AS n_matching,
       |    ROUND(CAST(SUM(has_pat) AS DOUBLE) / COUNT(*), 6) AS commonness,
       |    ROUND((CAST(SUM(has_pat) AS DOUBLE) - $balanceFactor * (COUNT(*) - SUM(has_pat))) / COUNT(*) -
       |      $noExceptionPenaltyWeight * CASE WHEN SUM(has_pat) = COUNT(*) THEN 1 ELSE 0 END, 6) AS score,
       |    MIN(CASE WHEN has_pat = 1 THEN concat_ws(':', subspace, highlight) END) AS example_highlight
       |  FROM pats GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}
       |  HAVING SUM(has_pat) > 0)
       |WHERE commonness >= $minCommonness""".stripMargin

  /** DuckDB mirror of [[explain]] for orders-style input: filterDim ×
    * (cat breakdown, ordered month breakdown), measures mean(aggCol) +
    * row count. */
  def sql(table: String, filterDim: String, catBreakdown: String,
          monthCol: String, aggCol: String, meanName: String,
          minCommonness: Double = 0.5,
          noExceptionPenaltyWeight: Double = 0.1,
          balanceFactor: Double = 1.0): String =
    s"""WITH ${catChainSql("0", table, filterDim, catBreakdown, aggCol, meanName, rowCount = true)},
       |${trendChainSql("0", table, filterDim, monthCol, "month", aggCol, meanName, rowCount = true)},
       |pats AS (SELECT * FROM p0 UNION ALL SELECT * FROM tp0)
       |${mineSql(Seq("breakdown", "measure", "pattern"), minCommonness, noExceptionPenaltyWeight,
            balanceFactor)}
       |ORDER BY breakdown, measure, pattern""".stripMargin
}
