package graft.explain

import graft.{QDef, QFamily}
import graft.util.D._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** SURVEY.md §2.2 — the explainer query surface. Each query binds an
  * explainer (Fedex / Outlier / ManyToOne / MetaInsight / Correlation)
  * to a concrete operation on the test tables, with a DuckDB oracle
  * generated from the same documented semantics. */
object Explainers extends QFamily {

  // The explained operation for the filter queries:
  //   lineitem[lineitem.l_quantity >= 30]   (pd-explain: df[df.q >= 30])
  private val filterAttrsNum = Seq("l_extendedprice", "l_discount", "l_tax")
  private val filterAttrsCat = Seq("l_returnflag", "l_linestatus")
  private val filterAttrs =
    filterAttrsNum.map(Fedex.Attr(_, numeric = true)) ++ filterAttrsCat.map(Fedex.Attr(_, numeric = false))

  private def filterCounts(s: SparkSession, dir: String) = {
    val li = t(s, dir, "lineitem")
    // KB-sized count table reused by deviation + influence; its
    // aggregation exchange is reused by every consumer (no persist —
    // the filtered fast path still counts both sides in ONE scan)
    Fedex.binCountsFiltered(li, col("l_quantity") >= 30, filterAttrs)
  }

  private def filterCountsSqlPrefix =
    Fedex.countsSql("lineitem", "1=1", "l_quantity >= 30", filterAttrsNum, filterAttrsCat)

  // GroupBy operation explained: orders.groupby(o_orderpriority)
  //   .agg({'o_totalprice': 'mean'}) (+ group sizes)
  private def gbMelt(s: SparkSession, dir: String): DataFrame =
    // both measures exploded from the single aggregated row (a union of
    // two selects would re-plan the orders scan twice)
    t(s, dir, "orders").groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sm"))
      .select(col("grp"), explode(array(
        struct(lit("totalprice_mean").as("measure"),
          graft.util.D.r(emit6(col("sm")) / col("cnt"), 6).as("v")),
        struct(lit("row_count").as("measure"),
          col("cnt").cast(DoubleType).as("v")))).as("mv"))
      .select(col("grp"), col("mv.measure").as("measure"), col("mv.v").as("v"))

  private val gbMeltSql =
    """SELECT grp, 'totalprice_mean' AS measure, v_mean AS v FROM (
      |  SELECT o_orderpriority AS grp,
      |    ROUND(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 6) AS DOUBLE) / COUNT(*), 6) AS v_mean,
      |    CAST(COUNT(*) AS DOUBLE) AS v_cnt
      |  FROM orders GROUP BY 1)
      |UNION ALL
      |SELECT grp, 'row_count', v_cnt FROM (
      |  SELECT o_orderpriority AS grp,
      |    ROUND(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 6) AS DOUBLE) / COUNT(*), 6) AS v_mean,
      |    CAST(COUNT(*) AS DOUBLE) AS v_cnt
      |  FROM orders GROUP BY 1)""".stripMargin

  // The Fedex, zdev and outlier explainers return LocalRelations already
  // in the order their oracles sort by; a global sort on top would plan
  // a range exchange (two jobs) over rows that are already local.
  val defs: Seq[QDef] = Seq(
    QDef("q_fedex_filter",
      Some(s"$filterCountsSqlPrefix\n${Fedex.deviationSelectSql}"),
      (s, dir) => Fedex.filterDeviation(filterCounts(s, dir))),

    QDef("q_fedex_filter_influence",
      Some(s"$filterCountsSqlPrefix\n${Fedex.influenceSelectSql}"),
      (s, dir) => Fedex.binInfluence(filterCounts(s, dir))),

    QDef("q_fedex_shapley",
      Some(s"$filterCountsSqlPrefix\n${Fedex.shapleySelectSql}"),
      (s, dir) => Fedex.binShapley(filterCounts(s, dir))),

    QDef("q_fedex_groupby",
      Some(s"""${GroupByExplain.zdevSql(gbMeltSql)}
              |SELECT measure, MAX(n_groups) AS n_groups, MAX(zdev) AS exceptionality
              |FROM z GROUP BY measure ORDER BY measure""".stripMargin),
      (s, dir) => GroupByExplain.exceptionality(gbMelt(s, dir))),

    QDef("q_fedex_groupby_influence",
      Some(s"""${GroupByExplain.zdevSql(gbMeltSql)}
              |SELECT measure, grp, value, zdev FROM z ORDER BY measure, grp""".stripMargin),
      (s, dir) => GroupByExplain.zdev(gbMelt(s, dir))
        .select("measure", "grp", "value", "zdev")),

    // datetime bins (reference custom_bins/date_time_bin.py: Months +
    // Seasons): months 1-3 Winter, 4-6 Spring, 7-9 Summer, 10-12 Autumn
    // (pd.cut(month, 4) boundaries)
    QDef("q_fedex_datetime", {
      // NB: // (integer division) — CAST(double AS INT) rounds in DuckDB
      val season = "CASE ((month(l_shipdate) - 1) // 3) WHEN 0 THEN 'Winter' WHEN 1 THEN 'Spring' WHEN 2 THEN 'Summer' ELSE 'Autumn' END"
      Some(Fedex.countsSqlExpr("lineitem", "1=1", "l_quantity >= 30", Nil,
        Seq("ship_month" -> "CAST(month(l_shipdate) AS VARCHAR)", "ship_season" -> season)) +
        "\n" + Fedex.deviationSelectSql)
    }, (s, dir) => {
      val season = when((month(col("l_shipdate")) - 1) / 3 < 1, "Winter")
        .when((month(col("l_shipdate")) - 1) / 3 < 2, "Spring")
        .when((month(col("l_shipdate")) - 1) / 3 < 3, "Summer")
        .otherwise("Autumn")
      val withBins = t(s, dir, "lineitem")
        .withColumn("ship_month", month(col("l_shipdate")).cast("string"))
        .withColumn("ship_season", season)
      val attrs = Seq(Fedex.Attr("ship_month", numeric = false), Fedex.Attr("ship_season", numeric = false))
      Fedex.filterDeviation(
        Fedex.binCountsFiltered(withBins, col("l_quantity") >= 30, attrs))
    }),

    QDef("q_outlier_explain",
      Some(Outlier.sql("lineitem", "l_returnflag", "l_extendedprice", "R", 1,
        Seq("l_quantity", "l_discount", "l_tax"))),
      (s, dir) => Outlier.explain(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "R", 1, Seq("l_quantity", "l_discount", "l_tax"))),

    // library defaults are the reference's 0.7/0.3; the demo passes
    // relaxed thresholds explicitly (uniform synthetic data finds nothing
    // at the reference defaults) — both engines apply the same ones
    QDef("q_many_to_one",
      Some(ManyToOne.sql("customer", "c_mktsegment", Seq("c_nationkey"), Seq("c_acctbal"),
        covTh = 0.3, sepTh = 0.7)),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_mktsegment",
        Seq("c_nationkey"), Seq("c_acctbal"), covTh = 0.3, sepTh = 0.7)),

    QDef("q_many_to_one_conj",
      Some(ManyToOne.conjSql("customer", "c_mktsegment", "c_nationkey", "c_acctbal")),
      (s, dir) => ManyToOne.explainConj(t(s, dir, "customer"), "c_mktsegment",
        "c_nationkey", "c_acctbal")),

    // length-3 conjunction (reference max_explanation_length=3 default):
    // ONE groupBy over (label, v1, v2, v3)
    QDef("q_many_to_one_conj3",
      Some(ManyToOne.conjKSql("lineitem", "l_returnflag",
        Seq("l_linestatus"), Seq("l_quantity", "l_discount"), covTh = 0.05, sepTh = 0.95)),
      (s, dir) => ManyToOne.explainConj(t(s, dir, "lineitem"), "l_returnflag",
        Seq(Fedex.Attr("l_linestatus", numeric = false),
          Fedex.Attr("l_quantity", numeric = true), Fedex.Attr("l_discount", numeric = true)),
        covTh = 0.05, sepTh = 0.95)),

    // binning_method='quantile' (the reference's default binning)
    QDef("q_many_to_one_quantile",
      Some(ManyToOne.sql("customer", "c_mktsegment", Seq("c_nationkey"), Seq("c_acctbal"),
        covTh = 0.3, sepTh = 0.7, binningMethod = "quantile")),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_mktsegment",
        Seq("c_nationkey"), Seq("c_acctbal"), covTh = 0.3, sepTh = 0.7,
        binningMethod = "quantile")),

    // explanation_form='disj': rule = (attrA = a OR attrB in bin_b),
    // inclusion-exclusion over the conjunction count table
    QDef("q_many_to_one_disj",
      Some(ManyToOne.disjSql("customer", "c_mktsegment", "c_nationkey", "c_acctbal",
        covTh = 0.3, sepTh = 0.95)),
      (s, dir) => ManyToOne.explainDisj(t(s, dir, "customer"), "c_mktsegment",
        "c_nationkey", "c_acctbal", covTh = 0.3, sepTh = 0.95)),

    // bin_numeric: numeric label (c_acctbal) quantile-binned into 10
    // groups before rule mining
    QDef("q_many_to_one_label_bin", {
      val bin = ManyToOne.quantileBinSql("c_acctbal", (1 until 10).map(_.toDouble / 10))
        .replace("FROM SRC", "FROM customer")
      Some(s"""WITH pairs AS (SELECT 'bin_' || CAST($bin AS VARCHAR) AS label,
              |    'c_mktsegment' AS attribute, CAST(c_mktsegment AS VARCHAR) AS val
              |  FROM customer WHERE c_mktsegment IS NOT NULL),
              |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM pairs GROUP BY 1,2,3),
              |lt AS (SELECT label, COUNT(*) AS n_label FROM pairs GROUP BY 1),
              |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM pairs GROUP BY 1,2)
              |SELECT label, attribute, val, n_match, coverage, separation_err,
              |  CAST(CASE WHEN coverage >= 0.05 AND separation_err <= 0.95
              |       THEN 1 ELSE 0 END AS INT) AS passes
              |FROM (
              |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
              |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
              |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
              |  FROM lc JOIN lt ON lc.label = lt.label
              |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
              |ORDER BY label, attribute, val""".stripMargin)
    }, (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_acctbal",
      Seq("c_mktsegment"), Nil, covTh = 0.05, sepTh = 0.95,
      binNumericLabel = true)),

    // prune_if_too_many_labels: 25 nation labels -> top 10 by frequency
    // (count desc, label-string asc tie-break on both sides)
    QDef("q_many_to_one_pruned",
      Some(s"""WITH pairs AS (SELECT CAST(c_nationkey AS VARCHAR) AS label,
              |    'c_mktsegment' AS attribute, CAST(c_mktsegment AS VARCHAR) AS val
              |  FROM customer WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
              |keep AS (SELECT CAST(c_nationkey AS VARCHAR) AS label FROM customer
              |  WHERE c_nationkey IS NOT NULL GROUP BY 1
              |  ORDER BY COUNT(*) DESC, label LIMIT 10),
              |kept AS (SELECT p.* FROM pairs p JOIN keep k ON p.label = k.label),
              |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM kept GROUP BY 1,2,3),
              |lt AS (SELECT label, COUNT(*) AS n_label FROM kept GROUP BY 1),
              |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM kept GROUP BY 1,2)
              |SELECT label, attribute, val, n_match, coverage, separation_err,
              |  CAST(CASE WHEN coverage >= 0.05 AND separation_err <= 0.95
              |       THEN 1 ELSE 0 END AS INT) AS passes
              |FROM (
              |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
              |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
              |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
              |  FROM lc JOIN lt ON lc.label = lt.label
              |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
              |ORDER BY label, attribute, val""".stripMargin),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Seq("c_mktsegment"), Nil, covTh = 0.05, sepTh = 0.95)),

    // explain_errors (reference default True, threshold 0.05): per
    // passing rule, which OTHER groups the separation error comes from —
    // structured form of the reference's error-explanation text
    QDef("q_many_to_one_errors",
      Some(ManyToOne.errorsSql("customer", "c_mktsegment", Seq("c_nationkey"),
        covTh = 0.05, sepTh = 0.95)),
      (s, dir) => ManyToOne.explainErrors(t(s, dir, "customer"), "c_mktsegment",
        Seq("c_nationkey"), Nil, covTh = 0.05, sepTh = 0.95)),

    // explain_errors under a BINNED numeric label: the error table keys
    // on the same transformed 'bin_<i>' label as the rules (closes the
    // reference's binned-label error path — previously skipped)
    QDef("q_many_to_one_label_bin_errors", {
      val bin = ManyToOne.quantileBinSql("c_acctbal", (1 until 10).map(_.toDouble / 10))
        .replace("FROM SRC", "FROM customer")
      Some(ManyToOne.errorsSql("customer", "c_acctbal", Seq("c_mktsegment"),
        covTh = 0.05, sepTh = 0.95,
        labelExprSql = Some(s"'bin_' || CAST($bin AS VARCHAR)")))
    }, (s, dir) => ManyToOne.explainErrors(t(s, dir, "customer"), "c_acctbal",
      Seq("c_mktsegment"), Nil, covTh = 0.05, sepTh = 0.95,
      binNumericLabel = true)),

    // pruning_method='smallest': keep the 10 LEAST frequent labels
    // (count asc, label asc tie-break)
    QDef("q_many_to_one_pruned_smallest",
      Some(s"""WITH pairs AS (SELECT CAST(c_nationkey AS VARCHAR) AS label,
              |    'c_mktsegment' AS attribute, CAST(c_mktsegment AS VARCHAR) AS val
              |  FROM customer WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
              |keep AS (SELECT CAST(c_nationkey AS VARCHAR) AS label FROM customer
              |  WHERE c_nationkey IS NOT NULL GROUP BY 1
              |  ORDER BY COUNT(*) ASC, label LIMIT 10),
              |kept AS (SELECT p.* FROM pairs p JOIN keep k ON p.label = k.label),
              |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM kept GROUP BY 1,2,3),
              |lt AS (SELECT label, COUNT(*) AS n_label FROM kept GROUP BY 1),
              |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM kept GROUP BY 1,2)
              |SELECT label, attribute, val, n_match, coverage, separation_err,
              |  CAST(CASE WHEN coverage >= 0.05 AND separation_err <= 0.95
              |       THEN 1 ELSE 0 END AS INT) AS passes
              |FROM (
              |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
              |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
              |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
              |  FROM lc JOIN lt ON lc.label = lt.label
              |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
              |ORDER BY label, attribute, val""".stripMargin),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Seq("c_mktsegment"), Nil, covTh = 0.05, sepTh = 0.95,
        pruningMethod = "smallest")),

    // pruning_method='max_dist'/'min_dist': rank labels by mean euclidean
    // distance between per-label centroids (deterministic re-expression
    // of the reference's PCA+euclidean ranking — see ManyToOne.distLabels)
    QDef("q_many_to_one_pruned_maxdist",
      Some(ManyToOne.distPrunedSql("customer", "c_nationkey", "c_acctbal",
        covTh = 0.05, sepTh = 0.95, maxLabels = 10, maxDist = true)),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Nil, Seq("c_acctbal"), covTh = 0.05, sepTh = 0.95,
        pruningMethod = "max_dist")),

    QDef("q_many_to_one_pruned_mindist",
      Some(ManyToOne.distPrunedSql("customer", "c_nationkey", "c_acctbal",
        covTh = 0.05, sepTh = 0.95, maxLabels = 10, maxDist = false)),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Nil, Seq("c_acctbal"), covTh = 0.05, sepTh = 0.95,
        pruningMethod = "min_dist")),

    // pruning_method='max_silhouette': rank labels by mean simplified
    // silhouette (distance-to-centroid form; deterministic re-expression
    // of the reference's sampled silhouette_samples ranking — see
    // ManyToOne.silhouetteLabels)
    QDef("q_many_to_one_pruned_silhouette",
      Some(ManyToOne.silhouettePrunedSql("customer", "c_nationkey", "c_acctbal",
        covTh = 0.05, sepTh = 0.95, maxLabels = 10, maxSil = true)),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Nil, Seq("c_acctbal"), covTh = 0.05, sepTh = 0.95,
        pruningMethod = "max_silhouette")),

    // pruning_method='min_silhouette': the parity completion — keep the
    // WORST-clustered labels (ascending mean simplified silhouette),
    // the reference's "explain the labels the clustering is least sure
    // about" mode; shares silhouetteLabels with maxSil=false
    QDef("q_many_to_one_pruned_min_silhouette",
      Some(ManyToOne.silhouettePrunedSql("customer", "c_nationkey", "c_acctbal",
        covTh = 0.05, sepTh = 0.95, maxLabels = 10, maxSil = false)),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Nil, Seq("c_acctbal"), covTh = 0.05, sepTh = 0.95,
        pruningMethod = "min_silhouette")),

    // pruning_method='random': seeded-md5-rank label draw (deterministic
    // re-expression of the reference's fixed-seed .sample() — see
    // ManyToOne.randomLabels)
    QDef("q_many_to_one_pruned_random",
      Some(s"""WITH pairs AS (SELECT CAST(c_nationkey AS VARCHAR) AS label,
              |    'c_mktsegment' AS attribute, CAST(c_mktsegment AS VARCHAR) AS val
              |  FROM customer WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
              |keep AS (${ManyToOne.randomKeepSql("customer", "c_nationkey", 10)}),
              |kept AS (SELECT p.* FROM pairs p JOIN keep k ON p.label = k.label),
              |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM kept GROUP BY 1,2,3),
              |lt AS (SELECT label, COUNT(*) AS n_label FROM kept GROUP BY 1),
              |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM kept GROUP BY 1,2)
              |SELECT label, attribute, val, n_match, coverage, separation_err,
              |  CAST(CASE WHEN coverage >= 0.05 AND separation_err <= 0.95
              |       THEN 1 ELSE 0 END AS INT) AS passes
              |FROM (
              |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
              |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
              |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
              |  FROM lc JOIN lt ON lc.label = lt.label
              |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
              |ORDER BY label, attribute, val""".stripMargin),
      (s, dir) => ManyToOne.explain(t(s, dir, "customer"), "c_nationkey",
        Seq("c_mktsegment"), Nil, covTh = 0.05, sepTh = 0.95,
        pruningMethod = "random")),

    // library default min_commonness is the reference's 0.5; the demo
    // passes a relaxed 0.15 explicitly (uniform synthetic data surfaces
    // no >=0.5-common pattern in this scope) — both engines mirror it
    QDef("q_metainsight",
      Some(MetaInsight.sql("orders", "o_orderpriority", "o_orderstatus",
        "o_orderdate", "o_totalprice", "totalprice_mean", minCommonness = 0.15)),
      // two direct scans here: at bench scale the source is small enough
      // that a shared (subspace, status, month) cube costs MORE (extra
      // materialization job + shuffle level) than the scan it saves —
      // measured 3.0 s vs 5.7 s. MetaInsight.cube2/cellsFrom remain the
      // right shape when the source scan dominates (the 100 TB case).
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cat = MetaInsight.catPatterns(o, "o_orderpriority", "o_orderstatus",
          "o_totalprice", "totalprice_mean")
        val tr = MetaInsight.trendPatterns(o, "o_orderpriority", month(col("o_orderdate")),
          "month", "o_totalprice", "totalprice_mean")
        MetaInsight.mine(cat.unionByName(tr), minCommonness = 0.15)
      }),

    // MetaInsight auto-search: explicit candidate lists here so the
    // oracle enumerates the identical scopes; schema-driven derivation is
    // exercised by ExplainFrameSpec
    QDef("q_metainsight_auto", {
      val scopes = Seq(
        ("o_orderpriority", "o_orderstatus", "o_totalprice"),
        ("o_orderstatus", "o_orderpriority", "o_totalprice"))
      // trend scopes: auto-search derives month(o_orderdate) breakdowns
      // for each filter dim (reference auto enumeration includes ordered
      // breakdowns); the oracle enumerates the identical scope set
      val trendScopes = Seq(
        ("o_orderpriority", "o_orderdate", "o_totalprice"),
        ("o_orderstatus", "o_orderdate", "o_totalprice"))
      Some(MetaInsight.autoSql("orders", scopes, 5, trendScopes))
    }, (s, dir) => graft.core.ExplainFrame(t(s, dir, "orders"), "orders")
      .explainMetaInsightAuto(topK = 5,
        filterDims = Seq("o_orderpriority", "o_orderstatus"),
        breakdowns = Seq("o_orderstatus", "o_orderpriority"),
        measures = Seq("o_totalprice"))),

    // auto-search with allow_multiple_aggregations +
    // allow_multiple_groupbys: the pattern families additionally extend
    // across the measure axis, the breakdown axis, and both (the '*'
    // collapsed insights), mined from the SAME pattern rows — the oracle
    // enumerates the identical scope set and collapses identically
    QDef("q_metainsight_multi", {
      val scopes = Seq(
        ("l_returnflag", "l_linestatus", "l_quantity"),
        ("l_returnflag", "l_linestatus", "l_extendedprice"),
        ("l_returnflag", "l_linenumber", "l_quantity"),
        ("l_returnflag", "l_linenumber", "l_extendedprice"))
      // the Spark side auto-derives month-trend scopes from lineitem's
      // date column — enumerated identically here
      val trendScopes = Seq(
        ("l_returnflag", "l_shipdate", "l_quantity"),
        ("l_returnflag", "l_shipdate", "l_extendedprice"))
      Some(MetaInsight.autoSql("lineitem", scopes, 12, trendScopes,
        minCommonness = 0.15,
        allowMultipleAggregations = true, allowMultipleGroupbys = true))
    }, (s, dir) => graft.core.ExplainFrame(t(s, dir, "lineitem"), "lineitem")
      .explainMetaInsightAuto(topK = 12,
        filterDims = Seq("l_returnflag"),
        breakdowns = Seq("l_linestatus", "l_linenumber"),
        measures = Seq("l_quantity", "l_extendedprice"),
        minCommonness = 0.15,
        allowMultipleAggregations = true, allowMultipleGroupbys = true)),

    // fedex join explanation, consider='right' (reference default): the
    // join result's customer-attribute distributions vs the customer table
    QDef("q_fedex_join", {
      val resRel = "(SELECT c.* FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)"
      Some(Fedex.countsSqlRel("customer", resRel,
        Seq("c_acctbal"), Seq("c_mktsegment")) + Fedex.deviationTopKSql(10))
    }, (s, dir) => {
      val o = graft.core.ExplainFrame(
        t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"), "orders")
      val c = graft.core.ExplainFrame(
        t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"), "customer")
      o.join(c, Seq("custkey"))
        .explainFedex(attributes = Seq("c_acctbal", "c_mktsegment"), topK = 10)
    }),

    // per-group Pearson (pandas groupby().corr() single-pair analog):
    // one scan, chunked-long exact moments per group
    QDef("q_groupby_corr",
      Some(Correlation.pearsonBySql("lineitem", "l_returnflag",
        "l_quantity", "l_extendedprice")),
      (s, dir) => Correlation.pearsonBy(t(s, dir, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice")),

    // full per-group Pearson matrix with a multi-column group key (the
    // pandas groupby().corr() default): all pairs share ONE momentAgg
    // scan; rows explode from the per-group aggregated row
    QDef("q_groupby_corr_matrix",
      Some(Correlation.pearsonMatrixBySql("lineitem",
        Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),
      (s, dir) => graft.core.ExplainFrame(t(s, dir, "lineitem"), "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .corr(Seq("l_quantity", "l_extendedprice", "l_discount"))),

    QDef("q_correlation",
      Some(Seq(
        Correlation.pearsonSql("lineitem", Seq(
          ("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
          ("l_extendedprice", "l_discount"))),
        Correlation.etaSql("lineitem", "l_returnflag", "l_quantity"),
        Correlation.cramersVSql("lineitem", "l_returnflag", "l_linestatus")
      ).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY stat, col_x, col_y")),
      // two-scan suite: η reuses the Pearson moment row and the Cramér's
      // contingency cells (exact-decimal partials re-aggregate
      // bit-identically), instead of one scan per statistic
      (s, dir) => Correlation.suite(t(s, dir, "lineitem"),
          Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
            ("l_extendedprice", "l_discount")),
          "l_returnflag", "l_quantity", "l_linestatus")
        .orderBy("stat", "col_x", "col_y"))
  )
}
