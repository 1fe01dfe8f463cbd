package graft

import graft.explain.GroupByExplain.dval
import graft.util.D
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** In-plan chains that driver finishes replaced, kept as the parity
  * references of the specs: the finishes must give the same rows, in the
  * same order, under the same schema. */
object InPlanRef {

  /** Per-term decimal for large-magnitude values (|v| < 1e13). */
  val dbig: DecimalType = DecimalType(24, 2)

  def sigmaExpr(sv: Column, svv: Column, k: Column): Column =
    sqrt(greatest(svv / k - (sv / k) * (sv / k), lit(0.0)))

  /** Returns `value`, but evaluating it raises a diagnosable error when
    * `n` (the group's gathered cell count) exceeds
    * Guard.MaxGatheredCells: the in-plan cap of the collect_list chains. */
  def cellCap(n: Column, value: Column, site: String): Column = {
    val cap = graft.util.Guard.MaxGatheredCells
    when(n > cap, raise_error(concat(
      lit(s"$site: a single group gathered "), n.cast("string"),
      lit(s" cells (bound $cap). The grouping key looks ID-like."))))
      .otherwise(value)
  }

  /** The single-scope MetaInsight chain, as it last ran in-plan:
    * `cells` → `melt` → `catPatternsKeyed` / `trendPatternsKeyed` →
    * `mine`, each step a DataFrame. */
  object MetaInsight {
    /** Cells: (subspace, b, cnt, sm) for subspace ∈ filterDim values ∪ '*'.
      * One grouping-sets aggregation computes the per-subspace groups AND
      * the '*' rollup in a single pass (a union of the base groups with a
      * re-aggregation would reference — and re-plan — the scan twice);
      * the grouping flag distinguishes '*' rows from a genuine NULL
      * subspace value. Decimal sums make the two levels exactly equal to
      * the two-step form. */
    def cells(src: DataFrame, filterDim: String, breakdown: Column): DataFrame =
      src.withColumn("__sub", col(filterDim).cast("string")).withColumn("__b", breakdown)
        .groupingSets(Seq(Seq(col("__sub"), col("__b")), Seq(col("__b"))), col("__sub"), col("__b"))
        .agg(count(lit(1)).as("cnt"), sum(col("v0").cast(D.dec25)).as("sm"),
          grouping(col("__sub")).as("__g"))
        .select(when(col("__g") === 1, lit("*")).otherwise(col("__sub")).as("subspace"),
          col("__b").as("b"), col("cnt"), col("sm"))

    /** Melt cells into (subspace, b, measure, v): mean + row count — both
      * rows exploded from the single cell (a two-branch union would
      * recompute the cells aggregation twice). */
    def melt(cells: DataFrame, meanName: String): DataFrame = {
      val vMean = graft.util.D.r(col("sm").cast(D.dec25).cast(DoubleType) / col("cnt"), 6)
      cells.select(col("subspace"), col("b").cast("string").as("b"),
          explode(array(
            struct(lit(meanName).as("measure"), vMean.as("v")),
            struct(lit("row_count").as("measure"), col("cnt").cast(DoubleType).as("v")))).as("mv"))
        .select(col("subspace"), col("b"), col("mv.measure").as("measure"), col("mv.v").as("v"))
    }

    /** Categorical-breakdown patterns: outlier + dominance per scope. */
    def catPatterns(src: DataFrame, filterDim: String, breakdown: String,
                    aggCol: String, meanName: String): DataFrame =
      catPatternsImpl(
        melt(cells(src.withColumn("v0", col(aggCol)), filterDim, col(breakdown)), meanName),
        breakdown)

    def catPatternsImpl(m: DataFrame, breakdown: String): DataFrame =
      catPatternsKeyed(m, Seq("subspace", "measure")).withColumn("breakdown", lit(breakdown))

    /** Categorical-pattern evaluation over a melted cell table, grouped by
      * `keys` (at least (subspace, measure); scope tags prepended to them
      * evaluate many scopes in one aggregation chain — the form
      * the auto-search mirrors on the driver). Per-group math is identical
      * regardless of the extra keys, so results are bit-identical to
      * per-scope runs.
      *
      * The whole evaluation is ONE aggregation: the group's cells are
      * gathered with collect_list and the z-score/share math runs as array
      * expressions over them. The earlier two-pass form (stats aggregate
      * joined back onto the cell table) referenced the melted subtree
      * twice, which duplicated every upstream scan/aggregation in the
      * compiled plan — for KB-sized cell groups the per-stage fixed cost
      * of that duplication dominates, and a row_number window would
      * sort-shuffle twice on top. Determinism: the per-group sums are
      * decimal (exact, order-independent), per-cell terms are pure
      * functions of (b, v, sums), and the highlight is the head of an
      * array_sort by (−metric NULLS LAST, b) — none depend on
      * collect_list's arrival order. */
    def catPatternsKeyed(m: DataFrame, keys: Seq[String]): DataFrame = {
      val kc = keys.map(col)
      // NULL subspaces are excluded, as in the SQL mirrors (and the
      // earlier stats join, whose NULL keys never matched); without this
      // a NULL filter-dim value would add a subspace on the Spark side
      // only and shift commonness
      val g = m.filter(col("subspace").isNotNull).groupBy(kc: _*)
        .agg(count(lit(1)).as("k"),
          sum(col("v").cast(dval)).cast(DoubleType).as("sv"),
          sum((col("v") * col("v")).cast(dbig)).cast(DoubleType).as("svv"),
          collect_list(struct(col("b"), col("v"))).as("cells"))
        .withColumn("k",
          cellCap(col("k"), col("k"), "MetaInsight.catPatternsKeyed"))
      val mu = col("sv") / col("k")
      val sigma = sigmaExpr(col("sv"), col("svv"), col("k"))
      def zOf(c: Column) =
        when(sigma > 1e-12, abs(c.getField("v") - mu) / sigma).otherwise(lit(0.0))
      // share of an all-zero cell sum is undefined: NULL like the
      // oracle's x/0, never an ANSI DIVIDE_BY_ZERO (degenerate-pin class)
      def shOf(c: Column) =
        when(col("sv") =!= 0.0, c.getField("v") / col("sv"))
          .otherwise(lit(null).cast(DoubleType))
      // the highlight is the top cell by (metric desc NULLS LAST, b asc) =
      // head of the ascending sort by (coalesce(−metric, MaxValue), b)
      def topBy(metric: Column => Column) = element_at(array_sort(
        transform(col("cells"), c => struct(
          coalesce(-metric(c), lit(Double.MaxValue)).as("o"),
          c.getField("b").as("b")))), 1).getField("b")
      val scored = g.select(kc :+
        array_max(transform(col("cells"), c => when(zOf(c) > 1.5, 1).otherwise(0))).as("z_has") :+
        array_max(transform(col("cells"), c => zOf(c))).as("z_max") :+
        topBy(zOf).as("z_top") :+
        array_max(transform(col("cells"), c => when(shOf(c) >= 0.5, 1).otherwise(0))).as("s_has") :+
        array_max(transform(col("cells"), c => shOf(c))).as("s_max") :+
        topBy(shOf).as("s_top"): _*)
      // both patterns from the single aggregated row via explode — a
      // union of two selects over `scored` would re-reference (and thus
      // recompute) the whole aggregation subtree
      scored.select(kc :+ explode(array(
          struct(col("z_has").as("has_pat"),
            when(col("z_max") > 1.5, col("z_top")).as("highlight"),
            lit("outlier").as("pattern")),
          struct(col("s_has").as("has_pat"),
            when(col("s_max") >= 0.5, col("s_top")).as("highlight"),
            lit("dominance").as("pattern")))).as("p"): _*)
        .select(kc :+ col("p.has_pat") :+ col("p.highlight") :+ col("p.pattern"): _*)
    }

    /** Ordered-breakdown patterns: trend_up / trend_down per scope.
      * Breakdown must be an integer index column (e.g. month). */
    def trendPatterns(src: DataFrame, filterDim: String, breakdownIdx: Column,
                      breakdownName: String, aggCol: String, meanName: String): DataFrame =
      trendPatternsImpl(
        melt(cells(src.withColumn("v0", col(aggCol)), filterDim, breakdownIdx), meanName)
          .withColumn("x", col("b").cast(IntegerType)),
        breakdownName)

    def trendPatternsImpl(m: DataFrame, breakdownName: String): DataFrame =
      trendPatternsKeyed(m, Seq("subspace", "measure")).withColumn("breakdown", lit(breakdownName))

    /** Trend-pattern analog of [[catPatternsKeyed]], grouped by `keys`;
      * NULL subspaces are excluded here too, so both families of one
      * scope count the same subspaces. */
    def trendPatternsKeyed(m: DataFrame, keys: Seq[String]): DataFrame = {
      val kc = keys.map(col)
      val s = m.filter(col("subspace").isNotNull).groupBy(kc: _*)
        .agg(count(lit(1)).as("k"),
          sum(col("x")).as("sx"),
          sum((col("x") * col("x")).cast(LongType)).as("sxx"),
          sum(col("v").cast(dval)).cast(DoubleType).as("sv"),
          sum((col("v") * col("v")).cast(dbig)).cast(DoubleType).as("svv"),
          sum((col("x") * col("v")).cast(dval)).cast(DoubleType).as("sxv"))
      val num = col("k") * col("sxv") - col("sx") * col("sv")
      val den = sqrt((col("k") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)) *
        sqrt(greatest(col("k") * col("svv") - col("sv") * col("sv"), lit(0.0)))
      val withR = s.withColumn("r_xy", when(den > 1e-9, num / den).otherwise(lit(0.0)))
      // both trend directions from the single aggregated row via explode
      // (a union of two selects would recompute the aggregation subtree)
      withR.select(kc :+ explode(array(
          struct(when(col("r_xy") >= 0.5, 1).otherwise(0).as("has_pat"),
            when(col("r_xy") >= 0.5, lit("up")).as("highlight"),
            lit("trend_up").as("pattern")),
          struct(when(col("r_xy") <= -0.5, 1).otherwise(0).as("has_pat"),
            when(col("r_xy") <= -0.5, lit("down")).as("highlight"),
            lit("trend_down").as("pattern")))).as("p"): _*)
        .select(kc :+ col("p.has_pat") :+ col("p.highlight") :+ col("p.pattern"): _*)
    }

    /** Group scope patterns into scored MetaInsights. `extraKeys` joins the
      * grouping when pattern tables from SEVERAL data scopes are unioned
      * (`filter_dim`, so commonness is computed within its own scope
      * family, not across unrelated filter dimensions — the keying
      * the auto-search mirrors on the driver).
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
      */
    def mine(patterns: DataFrame, extraKeys: Seq[String] = Nil,
             minCommonness: Double = 0.5,
             noExceptionPenaltyWeight: Double = 0.1,
             balanceFactor: Double = 1.0): DataFrame = {
      require(minCommonness > 0 && minCommonness <= 1,
        "min_commonness must be in the range (0, 1]")
      val keys = extraKeys ++ Seq("breakdown", "measure", "pattern")
      patterns.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_subspaces"),
          sum(col("has_pat")).as("n_matching"),
          min(when(col("has_pat") === 1, concat_ws(":", col("subspace"), col("highlight"))))
            .as("example_highlight"))
        .withColumn("commonness", graft.util.D.r(col("n_matching").cast(DoubleType) / col("n_subspaces"), 6))
        .filter(col("n_matching") > 0 && col("commonness") >= minCommonness)
        .withColumn("score", graft.util.D.r(
          (col("n_matching").cast(DoubleType) -
            lit(balanceFactor) * (col("n_subspaces") - col("n_matching"))) / col("n_subspaces") -
          lit(noExceptionPenaltyWeight) * when(col("n_matching") === col("n_subspaces"), 1).otherwise(0), 6))
        .select((keys ++ Seq("n_subspaces", "n_matching", "commonness", "score", "example_highlight"))
          .map(col): _*)
        .orderBy(keys.map(col): _*)
    }
  }
}
