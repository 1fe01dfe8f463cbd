package graft

import graft.core.ExplainFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExplainFrameSpec extends AnyFunSuite {
  import TestSession._

  private def li = ExplainFrame(graft.util.D.t(spark, sf, "lineitem"), "lineitem")
  private def orders = ExplainFrame(graft.util.D.t(spark, sf, "orders"), "orders")

  test("filter provenance + fedex explanation") {
    val f = li.filter(col("l_quantity") >= 30)
    assert(f.op.get.describe.startsWith("filter["))
    val ex = f.explainFedex(topK = 3).collect()
    assert(ex.length === 3)
    assert(ex.head.schema.fieldNames.contains("kl_score"))
    val txt = f.explanationText(ex.head)
    assert(txt.contains("filter[") && txt.contains("lineitem"))
  }

  test("groupBy mean + exceptionality explanation") {
    val g = orders.groupBy("o_orderpriority").mean("o_totalprice")
    assert(g.df.columns.contains("o_totalprice_mean"))
    val ex = g.explainFedex(topK = 5).collect()
    assert(ex.nonEmpty && ex.head.schema.fieldNames.contains("zdev"))
  }

  test("outlier explanation on groupBy") {
    val g = li.groupBy("l_returnflag").mean("l_extendedprice")
    val ex = g.explainOutlier("R", "high", Seq("l_quantity", "l_discount")).collect()
    assert(ex.nonEmpty)
    assert(ex.head.schema.fieldNames.contains("influence"))
  }

  test("many-to-one + metainsight dispatch") {
    val c = ExplainFrame(graft.util.D.t(spark, sf, "customer"), "customer")
    val m = c.explainManyToOne("c_mktsegment", Seq("c_nationkey"), Seq("c_acctbal"))
    assert(m.count() > 0)
    val mi = orders.explainMetaInsight("o_orderpriority", "o_orderstatus", "o_totalprice")
    assert(mi.columns.contains("commonness"))
  }

  test("join provenance + fedex on join (consider left/right)") {
    val liK = li.select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
      col("l_returnflag"))
    val oSmall = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val j = liK.join(new ExplainFrame(oSmall.df.withColumnRenamed("o_orderkey", "l_orderkey"),
      None, "orders"), Seq("l_orderkey"))
    assert(j.op.get.describe.startsWith("join["))
    // the right frame is key-only here, so the left side is explained
    val ex = j.explainFedex(topK = 2, consider = "left").collect()
    assert(ex.length === 2)
    intercept[IllegalArgumentException](j.explainFedex(consider = "both"))
    // consider='right' (the reference default): right-side attributes
    val o2 = orders.select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"),
      col("o_orderpriority"))
    val j2 = liK.join(new ExplainFrame(o2.df, None, "orders"), Seq("l_orderkey"))
    val exR = j2.explainFedex(topK = 3).select("attribute").distinct()
      .collect().map(_.getString(0))
    assert(exR.forall(a => Set("o_totalprice", "o_orderpriority").contains(a)), exR.mkString(","))
  }

  test("sampled explanation agrees with full on the top attribute") {
    val f = li.filter(col("l_quantity") >= 30)
    val full = f.explainFedex(topK = 1).collect().head.getString(0)
    val sampled = f.explainFedex(topK = 1, useSampling = true, sampleSize = 5000)
      .collect().head.getString(0)
    assert(full === sampled)
    // the sample is deterministic: same call, same result
    val again = f.explainFedex(topK = 1, useSampling = true, sampleSize = 5000)
      .collect().head.getString(0)
    assert(sampled === again)
  }

  test("series masks compose with provenance (ExpSeries analog)") {
    val m1 = li.series("l_quantity") >= 30
    val m2 = li.series("l_discount") < 0.05
    val both = m1 && m2
    assert(both.desc === "(l_quantity >= 30) & (l_discount < 0.05)")
    val f = both()
    assert(f.op.get.describe.contains("l_quantity >= 30"))
    val n = f.df.count()
    val expect = li.df.filter(col("l_quantity") >= 30 && col("l_discount") < 0.05).count()
    assert(n === expect)
    val ex = both.explain(topK = 2).collect()
    assert(ex.length === 2)
    val or = (m1 || m2)().df.count()
    assert(or >= n)
    intercept[IllegalArgumentException](li.series("l_quantity")())
  }

  test("groupBy sem and prod aggregates") {
    val s = orders.groupBy("o_orderpriority").sem("o_totalprice").df
    assert(s.columns.contains("o_totalprice_sem"))
    assert(s.collect().forall(r => r.getDouble(1) > 0))
    val p = li.filter(col("l_quantity") <= 2)
      .groupBy("l_returnflag").prod("l_quantity").df.collect()
    assert(p.nonEmpty && p.forall(r => r.getDouble(1) > 0))
    // groupBy().corr: per-group Pearson in [-1, 1], matching the global
    // pearson when there is effectively one group
    val c = li.groupBy("l_returnflag").corr("l_quantity", "l_extendedprice").collect()
    assert(c.nonEmpty && c.forall(r => math.abs(r.getDouble(1)) <= 1.0))
    // multi-column group keys work (pandas groupby([a, b]).corr())
    val c2 = li.groupBy("l_returnflag", "l_linestatus")
      .corr("l_quantity", "l_extendedprice").collect()
    assert(c2.nonEmpty && c2.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    // full matrix: every unordered numeric pair per group, one scan
    val m = li.groupBy("l_returnflag")
      .corr(Seq("l_quantity", "l_extendedprice", "l_discount"))
    assert(m.columns.toSeq == Seq("l_returnflag", "col_x", "col_y", "pearson_r", "n"))
    val mRows = m.collect()
    val nGroups = c.length
    assert(mRows.length == nGroups * 3) // C(3,2) pairs per group
    assert(mRows.forall(r => math.abs(r.getAs[Double]("pearson_r")) <= 1.0))
    // default no-arg form: all numeric non-group columns
    assert(li.groupBy("l_returnflag").corr().collect().nonEmpty)
  }

  test("metainsight auto-search derives scopes from the schema") {
    val auto = orders.explainMetaInsightAuto(topK = 5)
    assert(auto.columns.contains("filter_dim"))
    val rows = auto.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    // scores are sorted non-increasing
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("correlation pruning removes correlated attributes") {
    val f = li.filter(col("l_quantity") >= 30)
    val corr = f.correlatedAttributes("l_quantity", corrTH = 0.7).collect()
    assert(corr.nonEmpty && corr.forall(_.getDouble(1) <= 1.0))
    // corrTH = -1 drops every numeric attribute: explanations must then
    // come only from categorical attrs
    val ex = f.explainFedex(topK = 3, pruneCorrelatedTo = Some("l_quantity"), corrTH = -1.0)
      .select("attribute").distinct().collect().map(_.getString(0))
    assert(ex.forall(a => Set("l_returnflag", "l_linestatus").contains(a)), ex.mkString(","))
  }

  test("unified explain dispatch + validation errors (reference semantics)") {
    val f = li.filter(col("l_quantity") >= 30)
    assert(f.explain("fedex", topK = 2).count() === 2)
    assert(f.explain("shapley").columns.contains("shapley"))
    val g = li.groupBy("l_returnflag").mean("l_extendedprice")
    assert(g.explain("outlier", target = "R", dir = "high",
      attributes = Seq("l_quantity")).count() > 0)
    // labels derived from the last groupby (reference:
    // test_many_to_one_explainer_with_labels_from_groupby_should_work)
    assert(g.explain("many_to_one").count() > 0)
    intercept[IllegalArgumentException](f.explain("nope"))
    intercept[IllegalArgumentException](g.explain("outlier", dir = "high"))
    intercept[IllegalArgumentException](g.explain("outlier", target = "R", dir = "x"))
    intercept[IllegalArgumentException](f.explain("outlier", target = "R", dir = "high"))
    intercept[IllegalArgumentException](g.explain("many_to_one", coverageThreshold = 1.5))
    intercept[IllegalArgumentException](li.explain("many_to_one"))
    // reference kwargs thread through the dispatcher: numeric-label
    // binning + quantile attribute binning + pruning knobs
    val binned = li.explain("many_to_one", labelCol = "l_quantity",
      catAttrs = Seq("l_returnflag"), binNumericLabel = true, numLabelBins = 5,
      coverageThreshold = 0.05, separationThreshold = 0.95, useSampling = false)
    assert(binned.select("label").distinct().count() <= 5)
    assert(binned.select("label").head().getString(0).startsWith("bin_"))
    intercept[IllegalArgumentException](
      li.explain("many_to_one", labelCol = "l_returnflag",
        numAttrs = Seq("l_quantity"), binningMethod = "nope"))
  }

  test("illegal columns fail fast (reference *_illegal_column parity)") {
    // the reference raises on unknown columns in filter/groupby/agg
    // (test_exp_data_frame.py *_illegal_column_should_fail family);
    // Spark's eager analysis gives the same fail-fast surface
    intercept[org.apache.spark.sql.AnalysisException](
      orders.groupBy("nope").count())
    intercept[org.apache.spark.sql.AnalysisException](
      orders.groupBy("o_orderpriority").mean("nope"))
    intercept[org.apache.spark.sql.AnalysisException](
      li.filter(col("nope") > 1).df.collect())
    intercept[org.apache.spark.sql.AnalysisException](
      li.select(col("nope")))
  }

  test("schema / ignore / p_value kwargs (reference explain() parity)") {
    val f = li.filter(col("l_quantity") >= 30)
    // ignore: excluded columns never appear as explanation attributes
    val attrs = f.explain(explainer = "fedex", topK = 5,
        ignore = Seq("l_extendedprice"), useSampling = false)
      .select("attribute").collect().map(_.getString(0)).toSet
    assert(!attrs.contains("l_extendedprice"))
    // schema: attribute names are renamed in the output
    val renamed = f.explain(explainer = "fedex", topK = 5,
        schema = Map("l_discount" -> "discount_pct"), useSampling = false)
      .select("attribute").collect().map(_.getString(0)).toSet
    assert(!renamed.contains("l_discount"))
    assert(renamed.contains("discount_pct") ||
      !attrs.contains("l_discount")) // renamed iff it was an attribute
    // p_value scales the auto-derived candidate count; 0 keeps none
    val none = li.df.limit(100)
    val ef = ExplainFrame(graft.util.D.t(spark, sf, "customer"), "customer")
    val m1 = ef.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
      coverageThreshold = 0.01, separationThreshold = 0.99, useSampling = false)
    val m0 = ef.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
      coverageThreshold = 0.01, separationThreshold = 0.99, useSampling = false,
      pValue = 0)
    assert(m1.select("attribute").distinct().count() >
      m0.select("attribute").distinct().count())
    intercept[IllegalArgumentException](
      ef.explain(explainer = "many_to_one", labelCol = "c_mktsegment", pValue = -1))
  }

  test("metainsight auto enumerates groupby combinations when asked") {
    val o = ExplainFrame(graft.util.D.t(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("string"))
      .withColumn("o_bucket", pmod(col("o_custkey"), lit(3)).cast("string")), "orders")
    val out = o.explainMetaInsightAuto(topK = 50,
      filterDims = Seq("o_orderstatus"),
      breakdowns = Seq("o_orderpriority", "o_year"),
      measures = Seq("o_totalprice"),
      useAllGroupbyCombinations = true, minCommonness = 0.01)
    val breakdowns = out.select("breakdown").distinct().collect().map(_.getString(0)).toSet
    assert(breakdowns.contains("o_orderpriority+o_year"),
      s"composite breakdown missing: $breakdowns")
    // FULL powerset (reference use_all_groupby_combinations): with three
    // breakdown columns, every size-2 subset AND the size-3 tuple enter
    // as composite breakdowns
    val out3 = o.explainMetaInsightAuto(topK = 200,
      filterDims = Seq("o_orderstatus"),
      breakdowns = Seq("o_orderpriority", "o_year", "o_bucket"),
      measures = Seq("o_totalprice"), useAllGroupbyCombinations = true,
      minCommonness = 0.01)
    val b3 = out3.select("breakdown").distinct().collect().map(_.getString(0)).toSet
    for (want <- Seq("o_orderpriority+o_year", "o_orderpriority+o_bucket",
        "o_year+o_bucket", "o_orderpriority+o_year+o_bucket"))
      assert(b3.contains(want), s"powerset combo $want missing: $b3")
    // the cap bounds the enumerated combinations deterministically
    val capped = o.explainMetaInsightAuto(topK = 200,
      filterDims = Seq("o_orderstatus"),
      breakdowns = Seq("o_orderpriority", "o_year", "o_bucket"),
      measures = Seq("o_totalprice"), useAllGroupbyCombinations = true,
      minCommonness = 0.01, maxGroupbyCombinations = 1)
    val bc = capped.select("breakdown").distinct().collect().map(_.getString(0))
      .filter(_.contains("+")).toSet
    assert(bc === Set("o_orderpriority+o_year"), s"cap violated: $bc")
    // flag off: no composite breakdowns
    val plain = o.explainMetaInsightAuto(topK = 50,
      filterDims = Seq("o_orderstatus"),
      breakdowns = Seq("o_orderpriority", "o_year"),
      measures = Seq("o_totalprice"), minCommonness = 0.01)
    assert(!plain.select("breakdown").distinct().collect()
      .map(_.getString(0)).exists(_.contains("+")))
  }

  test("metainsight auto extends across measures/groupbys when allowed") {
    val li = ExplainFrame(graft.util.D.t(spark, sf, "lineitem"), "lineitem")
    def run(ma: Boolean, mg: Boolean) = li.explainMetaInsightAuto(topK = 100,
      filterDims = Seq("l_returnflag"),
      breakdowns = Seq("l_linestatus", "l_linenumber"),
      measures = Seq("l_quantity", "l_extendedprice"),
      minCommonness = 0.01,
      allowMultipleAggregations = ma, allowMultipleGroupbys = mg)
    // flags off: no '*' keys at all
    val off = run(ma = false, mg = false).collect()
    assert(!off.exists(r => r.getString(2) == "*" || r.getString(1) == "*"))
    // allow_multiple_aggregations: measure-collapsed ('*') insights join
    // the candidate set; breakdown stays concrete
    val ma = run(ma = true, mg = false).collect()
    assert(ma.exists(_.getString(2) == "*"), "no measure-collapsed insight")
    assert(!ma.exists(_.getString(1) == "*"), "unexpected breakdown collapse")
    // allow_multiple_groupbys: breakdown-collapsed insights
    val mg = run(ma = false, mg = true).collect()
    assert(mg.exists(_.getString(1) == "*"), "no breakdown-collapsed insight")
    assert(!mg.exists(_.getString(2) == "*"), "unexpected measure collapse")
    // both: the doubly-collapsed family exists too
    val both = run(ma = true, mg = true).collect()
    assert(both.exists(r => r.getString(1) == "*" && r.getString(2) == "*"),
      "no (breakdown, measure)-collapsed insight")
    // a collapsed insight's scope family is the union of its concrete
    // families: n_subspaces adds up
    val concrete = ma.filter(r => r.getString(2) != "*" &&
      r.getString(1) == "l_linestatus" && r.getString(3) == "dominance")
    val collapsed = ma.filter(r => r.getString(2) == "*" &&
      r.getString(1) == "l_linestatus" && r.getString(3) == "dominance")
    if (concrete.nonEmpty && collapsed.nonEmpty)
      assert(collapsed.head.getLong(4) >= concrete.map(_.getLong(4)).max)
  }

  test("metainsight auto ranks schema-derived measures by combined correlation") {
    import graft.explain.Correlation
    val li = graft.util.D.t(spark, sf, "lineitem")
    // one-scan eta matrix agrees with the per-pair eta aggregate
    val m = Correlation.etaMatrix(li, Seq("l_returnflag"), Seq("l_quantity"))
    val direct = Correlation.eta(li, "l_returnflag", "l_quantity")
      .collect().head.getDouble(3)
    assert(math.abs(m(("l_returnflag", "l_quantity")) - direct) < 1e-4,
      s"etaMatrix=${m(("l_returnflag", "l_quantity"))} vs eta=$direct")
    // combined-method dispatch: sum >= max >= avg for multi-target
    // combining of nonnegative etas (2 targets)
    val mm = Correlation.etaMatrix(li, Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice"))
    for (num <- Seq("l_quantity", "l_extendedprice")) {
      val vs = Seq(mm(("l_returnflag", num)), mm(("l_linestatus", num)))
      assert(vs.forall(v => v >= 0 && v <= 1.0 + 1e-9), s"eta out of range: $vs")
    }
    // invalid method raises with the reference's message shape
    val ef = ExplainFrame(li, "lineitem")
    val e = intercept[IllegalArgumentException](
      ef.explainMetaInsightAuto(correlationAggregationMethod = "median"))
    assert(e.getMessage.contains("avg"))
    // schema-derived run under each method still returns ranked insights
    for (method <- Seq("avg", "max", "sum"))
      assert(ef.explainMetaInsightAuto(topK = 3, minCommonness = 0.01,
        correlationAggregationMethod = method).count() > 0)
  }

  test("unified explain() reaches the disj form and the metainsight knobs") {
    // explanation_form='disj' routes to the inclusion–exclusion miner
    val cust = ExplainFrame(graft.util.D.t(spark, sf, "customer"), "customer")
    val disj = cust.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
      catAttrs = Seq("c_nationkey"), numAttrs = Seq("c_acctbal"),
      coverageThreshold = 0.3, separationThreshold = 0.95,
      explanationForm = "disj", useSampling = false)
    assert(disj.columns.toSeq.containsSlice(Seq("val_a", "val_b")),
      s"disj rules expected: ${disj.columns.toSeq}")
    assert(disj.count() > 0)
    intercept[IllegalArgumentException](
      cust.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
        catAttrs = Seq("c_nationkey"), numAttrs = Seq("c_acctbal"),
        explanationForm = "bogus"))
    // metainsight auto knobs pass through the unified dispatch
    val li = ExplainFrame(graft.util.D.t(spark, sf, "lineitem"), "lineitem")
    val multi = li.explain(explainer = "metainsight", topK = 100,
      filterColumns = Seq("l_returnflag"),
      groupbyColumns = Seq("l_linestatus", "l_linenumber"),
      aggregations = Seq("l_quantity"),
      minCommonness = 0.01, allowMultipleGroupbys = true)
    assert(multi.collect().exists(_.getString(1) == "*"),
      "allow_multiple_groupbys did not reach the auto-search")
    // error_explanation_threshold reaches the attribution text
    val err = cust.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
      catAttrs = Seq("c_nationkey"),
      coverageThreshold = 0.05, separationThreshold = 0.95,
      errorExplanationThreshold = 0.5, useSampling = false)
    val texts = err.filter(col("error_explanation").isNotNull)
      .select("error_explanation").collect().map(_.getString(0))
    assert(texts.exists(_.contains("50.00%")),
      s"custom threshold not rendered: ${texts.take(2).mkString(" | ")}")
  }

  test("many_to_one explain() attaches error attribution by default") {
    val ef = ExplainFrame(graft.util.D.t(spark, sf, "customer"), "customer")
    val out = ef.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
      catAttrs = Seq("c_nationkey"), coverageThreshold = 0.05,
      separationThreshold = 0.95, useSampling = false)
    assert(out.columns.contains("error_explanation"))
    val passing = out.filter(col("passes") === 1)
    assert(passing.count() > 0)
    // every passing rule with nonzero error names its top contributor
    val withErr = passing.filter(col("separation_err") > 0).collect()
    assert(withErr.forall(r => {
      val t = r.getAs[String]("error_explanation")
      t != null && t.contains("% from")
    }))
    // flag off restores the plain rule table
    val off = ef.explain(explainer = "many_to_one", labelCol = "c_mktsegment",
      catAttrs = Seq("c_nationkey"), coverageThreshold = 0.05,
      separationThreshold = 0.95, useSampling = false, explainErrorsFlag = false)
    assert(!off.columns.contains("error_explanation"))
  }

  test("many_to_one error attribution keys on the BINNED label") {
    val ef = ExplainFrame(graft.util.D.t(spark, sf, "customer"), "customer")
    // numeric label (c_acctbal) is quantile-binned into bin_<i> groups;
    // the error table must key on the same transformed label
    val out = ef.explain(explainer = "many_to_one", labelCol = "c_acctbal",
      catAttrs = Seq("c_mktsegment"), coverageThreshold = 0.05,
      separationThreshold = 0.95, binNumericLabel = true, useSampling = false)
    assert(out.columns.contains("error_explanation"))
    val withErr = out.filter(col("passes") === 1 && col("separation_err") > 0).collect()
    assert(withErr.nonEmpty)
    assert(withErr.forall(r => {
      val t = r.getAs[String]("error_explanation")
      t != null && t.contains("% from") && r.getAs[String]("label").startsWith("bin_")
    }))
  }

  test("library calls leave no persisted RDDs behind") {
    spark.catalog.clearCache()
    val docs = graft.util.D.t(spark, sf, "documents")
    val liDf = graft.util.D.t(spark, sf, "lineitem")
    graft.dedup.Dedup.minhashPairs(docs).count()
    graft.dedup.Dedup.simhashPairs(docs).count()
    graft.dedup.Dedup.ngramJaccard(docs, "source", 0.02, cache = false).count()
    graft.explain.Correlation.suite(liDf,
      Seq(("l_quantity", "l_extendedprice")), "l_returnflag", "l_quantity", "l_linestatus").count()
    li.filter(col("l_quantity") >= 30).explainFedex(topK = 2).count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("metainsight drops sub-min_commonness patterns by default") {
    import spark.implicits._
    // 3 subspaces (f in a,b,c); only subspace 'a' has a dominant g value
    // -> dominance commonness 1/3 for the per-subspace scopes... build so
    // exactly one of three subspaces shows the pattern:
    val rows = ExplainFrame(Seq(
      ("a", "x", 100.0), ("a", "x", 100.0), ("a", "x", 100.0), ("a", "y", 1.0),
      ("b", "x", 1.0), ("b", "y", 1.0), ("b", "z", 1.0),
      ("c", "x", 1.0), ("c", "y", 1.0), ("c", "z", 1.0))
      .toDF("f", "g", "v"), "t")
    val dom = (m: org.apache.spark.sql.DataFrame) =>
      m.filter(col("pattern") === "dominance" && col("measure") === "v_mean").collect()
    // default min_commonness=0.5: 'a'-only dominance (commonness 0.5 of
    // the 4 subspaces incl '*') survives iff >= 0.5; build assertion on
    // the relative behavior instead of absolute: lowering the threshold
    // can only ADD patterns, and there exists a threshold where the rare
    // pattern is dropped
    val strict = dom(rows.explainMetaInsight("f", "g", "v", minCommonness = 0.9))
    val loose = dom(rows.explainMetaInsight("f", "g", "v", minCommonness = 0.1))
    assert(loose.length >= strict.length)
    assert(loose.nonEmpty, "pattern should exist at low threshold")
    assert(strict.isEmpty, "commonness < 0.9 pattern must be dropped at 0.9")
    // default (0.5) equals the reference default
    val default = dom(rows.explainMetaInsight("f", "g", "v"))
    assert(default.forall(_.getAs[Double]("commonness") >= 0.5))
    intercept[IllegalArgumentException](rows.explainMetaInsight("f", "g", "v", minCommonness = 0.0))
  }

  test("influence drops single-bin attributes, deviation keeps them") {
    import spark.implicits._
    // k=1 leave-one-out is undefined (removing the only bin leaves
    // nothing); the SQL oracle's bin<>bin self-join emits no row, so
    // the array path must drop it too — while plain deviation keeps it
    val counts = Seq(
      ("solo", "0", 10L, 5L),
      ("multi", "a", 6L, 2L), ("multi", "b", 4L, 3L))
      .toDF("attribute", "bin", "ns", "nr")
    val infl = graft.explain.Fedex.binInfluence(counts).collect()
    assert(infl.forall(_.getString(0) == "multi"), s"k=1 row leaked: ${infl.mkString(";")}")
    assert(infl.length === 2)
    val dev = graft.explain.Fedex.filterDeviation(counts).collect()
    assert(dev.map(_.getString(0)).toSet === Set("solo", "multi"))
  }

  /** The in-plan auto-search chain the driver finish replaced: tagged
    * per-scope melts unioned into one categorical and one trend pattern
    * chain, then the variant explode, mine and rank. Two rules differ
    * from the chain as it last ran in-plan, and the finish follows the
    * SQL mirror (`MetaInsight.autoSql`) in both: combination breakdowns
    * share the one row_count per (filterDim, breakdown) that plain
    * breakdowns share, and trend families drop a NULL subspace as the
    * categorical ones do. */
  private object AutoRef {
    import graft.explain.MetaInsight.Breakdown
    import InPlanRef.MetaInsight
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.IntegerType

    def tables(src: DataFrame, scopes: Seq[(String, Breakdown)], ms: Seq[String]): Seq[DataFrame] = {
      val tagKeys = Seq("filter_dim", "breakdown", "subspace", "measure")
      val seen = scala.collection.mutable.Set.empty[(String, String, Boolean)]
      def melts(trend: Boolean) = for ((f, b) <- scopes if b.trend == trend; m <- ms) yield {
        val full = MetaInsight.melt(
          MetaInsight.cells(src.withColumn("v0", col(m)), f, b.value), s"${m}_mean")
        val scoped = if (seen.add((f, b.name, trend))) full
          else full.filter(col("measure") =!= "row_count")
        val tagged = scoped.withColumn("filter_dim", lit(f)).withColumn("breakdown", lit(b.name))
        if (!trend) tagged
        else tagged.filter(col("subspace").isNotNull).withColumn("x", col("b").cast(IntegerType))
      }
      (melts(trend = false).reduceOption(_ unionByName _).map(MetaInsight.catPatternsKeyed(_, tagKeys)) ++
        melts(trend = true).reduceOption(_ unionByName _).map(MetaInsight.trendPatternsKeyed(_, tagKeys)))
        .toSeq
    }

    def rank(tables: Seq[DataFrame], topK: Int, minCommonness: Double,
             allowMultipleAggregations: Boolean, allowMultipleGroupbys: Boolean): DataFrame = {
      val pats = tables.reduce(_ unionByName _)
      val variants =
        Seq(struct(col("measure"), col("breakdown"))) ++
          (if (allowMultipleAggregations)
            Seq(struct(lit("*").as("measure"), col("breakdown"))) else Nil) ++
          (if (allowMultipleGroupbys)
            Seq(struct(col("measure"), lit("*").as("breakdown"))) else Nil) ++
          (if (allowMultipleAggregations && allowMultipleGroupbys)
            Seq(struct(lit("*").as("measure"), lit("*").as("breakdown"))) else Nil)
      val extended =
        if (variants.size == 1) pats
        else pats
          .select(col("filter_dim"), col("subspace"), col("pattern"),
            col("has_pat"), col("highlight"), explode(array(variants: _*)).as("mb"))
          .select(col("filter_dim"), col("mb.breakdown").as("breakdown"),
            col("subspace"), col("mb.measure").as("measure"),
            col("pattern"), col("has_pat"), col("highlight"))
      MetaInsight.mine(extended, Seq("filter_dim"), minCommonness)
        .orderBy(col("score").desc, col("filter_dim"), col("breakdown"),
          col("measure"), col("pattern"))
        .limit(topK)
    }

    /** explainMetaInsightAuto's scope enumeration for explicit lists. */
    def scopes(src: DataFrame, fs: Seq[String], bs: Seq[String],
               combos: Boolean): Seq[(String, Breakdown)] = {
      val dates = src.schema.fields.filter(_.dataType.typeName.startsWith("timestamp"))
        .map(_.name).take(3).toSeq
      (for (f <- fs; b <- bs if f != b) yield f -> Breakdown(b, col(b))) ++
        (for (f <- fs; d <- dates) yield f -> Breakdown(s"${d}_month", month(col(d)), trend = true)) ++
        (if (!combos) Nil else for {
          combo <- (2 to bs.size).flatMap(k => bs.combinations(k))
          f <- fs if !combo.contains(f)
        } yield f -> Breakdown(combo.mkString("+"),
          concat_ws("|", combo.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*)))
    }
  }

  /** A seeded frame with NULL filter-dim values, NULL breakdown values,
    * NULL dates, and measure cells whose values are all NULL: every row
    * with (f1, g) = (c, r) and every row with (f1, month) = (c, 3). Two
    * fixed subspaces make the trend NULL rules decide a pattern: in
    * f1 = t the all-NULL month-4 cell counts toward k and its x enters
    * sx/sxx (r = −0.2, no trend; r = 1 without it), and in f1 = u the
    * NULL-month cell's mean enters the moments (r ≈ −0.63, trend_down;
    * r = 1 without it). */
  private def nullFrame(n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    val rows = (0 until n).map { _ =>
      val f1 = pick("a", "b", "c", null)
      val g = pick("p", "q", "r", null)
      val month = 1 + rnd.nextInt(6)
      val ts = if (rnd.nextInt(15) == 0) null
        else java.sql.Timestamp.valueOf(f"2024-$month%02d-${1 + rnd.nextInt(28)}%02d 00:00:00")
      val allNull = f1 == "c" && (g == "r" || (ts != null && month == 3))
      def v(scale: Double) = if (allNull || rnd.nextInt(9) == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(10000) * scale / 100.0)
      Row(f1, pick("x", "y"), g, ts, v(1.0), v(3.0))
    }
    def at(month: Int) = java.sql.Timestamp.valueOf(f"2024-$month%02d-10 00:00:00")
    def probe(f1: String, v: Option[Double], ts: java.sql.Timestamp) =
      Row(f1, "x", "p", ts, v.map(java.lang.Double.valueOf).orNull,
        v.map(x => java.lang.Double.valueOf(3 * x)).orNull)
    val probes = (1 to 3).flatMap(m => Seq(probe("t", Some(m), at(m)), probe("u", Some(m), at(m)))) ++
      Seq(probe("t", None, at(4)), probe("u", Some(10.0), null))
    val schema = StructType(Seq(
      StructField("f1", StringType), StructField("f2", StringType),
      StructField("g", StringType), StructField("ts", TimestampType),
      StructField("v1", DoubleType), StructField("v2", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows ++ probes: _*), schema)
  }

  test("the auto-search driver finish equals the in-plan chain on every scope shape") {
    val o = graft.util.D.t(spark, sf, "orders")
    val oWide = o.withColumn("o_year", year(col("o_orderdate")).cast("string"))
      .withColumn("o_bucket", pmod(col("o_custkey"), lit(3)).cast("string"))
      .withColumn("o_half", (col("o_totalprice") * 0.5).cast("double"))
    val o3 = o.withColumn("o_shipped", col("o_orderdate") + expr("INTERVAL 40 DAYS"))
      .withColumn("o_billed", col("o_orderdate") - expr("INTERVAL 75 DAYS"))
    val li = graft.util.D.t(spark, sf, "lineitem")
    val nulls = nullFrame(400)
    val prio = "o_orderpriority"; val status = "o_orderstatus"
    // (name, source, filter dims, breakdowns, measures, combinations,
    //  min_commonness, allow multiple aggregations and groupbys)
    val shapes = Seq(
      ("two dims, one date", o, Seq(prio, status), Seq(status, prio), Seq("o_totalprice"),
        false, 0.5, false),
      ("one filter dim, 2 breakdowns, 2 measures, extensions", li, Seq("l_returnflag"),
        Seq("l_linestatus", "l_linenumber"), Seq("l_quantity", "l_extendedprice"), false, 0.15, true),
      ("more than 3 dimensions", oWide, Seq(prio, status, "o_year"),
        Seq("o_bucket", status, prio), Seq("o_totalprice"), false, 0.3, false),
      ("3 date columns", o3, Seq(prio, status), Seq(status, prio), Seq("o_totalprice"),
        false, 0.3, true),
      ("combinations, 2 measures", oWide, Seq(status), Seq(prio, "o_year", "o_bucket"),
        Seq("o_totalprice", "o_half"), true, 0.01, true),
      ("NULL subspaces, values and all-NULL cells", nulls, Seq("f1", "f2"), Seq("g", "f1"),
        Seq("v1", "v2"), true, 0.01, true),
      ("empty input", o.filter(lit(false)), Seq(prio, status), Seq(status, prio),
        Seq("o_totalprice"), true, 0.5, true))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.toList).toList
    for ((name, src, fs, bs, ms, combos, minC, multi) <- shapes) {
      val scopes = AutoRef.scopes(src, fs, bs, combos)
      val full = AutoRef.rank(AutoRef.tables(src, scopes, ms), 100000, minC, multi, multi)
      val all = rows(full)
      if (name != "empty input") assert(all.nonEmpty, s"$name: no insight to compare")
      // every row, and a cut inside the ranking
      for (topK <- Seq(100000, 3)) {
        val got = ExplainFrame(src, "t").explainMetaInsightAuto(topK = topK,
          filterDims = fs, breakdowns = bs, measures = ms, useAllGroupbyCombinations = combos,
          minCommonness = minC, allowMultipleAggregations = multi, allowMultipleGroupbys = multi)
        assert(got.schema.map(f => (f.name, f.dataType)) === full.schema.map(f => (f.name, f.dataType)),
          s"$name: schema")
        // exact equality: the driver arithmetic is bit-exact
        assert(rows(got) === all.take(topK), s"$name (topK $topK): driver finish diverged")
      }
    }
  }

  test("the single-scope driver engine equals the in-plan chain") {
    import graft.explain.MetaInsight
    import graft.explain.MetaInsight.Breakdown
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val o = graft.util.D.t(spark, sf, "orders")
    // x and y tie as outlier (z = 2) and as dominant (share 0.5) in
    // every subspace, so every subspace has the same highlight
    val ties = Seq("a", "b", "c").flatMap(f =>
      (Seq("x" -> 10.0, "y" -> 10.0) ++ (0 until 8).map(i => s"p$i" -> 0.0))
        .map { case (g, v) => (f, g, v) }).toDF("f", "g", "v")
    val single = Seq(("s1", "dom", 90.0, "2024-01-05"), ("s1", "tiny", 10.0, "2024-02-05"),
      ("s1", "mid", 30.0, "2024-03-05")).toDF("f", "g", "v", "d").withColumn("d", to_date(col("d")))
    val nulls = nullFrame(400).withColumnRenamed("ts", "d")
    // x is an outlier (z = 1.73) only while the all-NULL w cell counts
    // toward k; without it z = 1.41
    val nullCell = Seq("a", "b").flatMap(f => Seq(("x", Some(10.0)), ("y", Some(0.0)), ("z", Some(0.0)),
      ("w", None: Option[Double])).map { case (g, v) => (f, g, v) }).toDF("f", "g", "v")
    // (name, source, filter dim, categorical breakdown or none, trend on
    //  column d, measure, min_commonness)
    val cases = Seq(
      ("q_metainsight's scope", o.withColumnRenamed("o_orderdate", "d"), "o_orderpriority",
        Some("o_orderstatus"), true, "o_totalprice", 0.15),
      ("NULL subspaces, values and all-NULL cells", nulls, "f1", Some("g"), true, "v1", 0.01),
      ("highlight ties", ties, "f", Some("g"), false, "v", 0.1),
      ("an all-NULL cell deciding an outlier", nullCell, "f", Some("g"), false, "v", 0.5),
      ("a single subspace", single, "f", Some("g"), true, "v", 0.5),
      ("a trend breakdown alone", nulls, "f1", None, true, "v2", 0.01),
      ("empty input", o.withColumnRenamed("o_orderdate", "d").filter(lit(false)), "o_orderpriority",
        Some("o_orderstatus"), true, "o_totalprice", 0.01))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.toList).toList
    val failed = cases.flatMap { case (name, src, f, cat, trend, m, minC) =>
      val chain = InPlanRef.MetaInsight
      val pats = cat.map(chain.catPatterns(src, f, _, m, s"${m}_mean")).toSeq ++
        (if (trend) Seq(chain.trendPatterns(src, f, month(col("d")), "month", m, s"${m}_mean")) else Nil)
      val want = chain.mine(pats.reduce(_ unionByName _), minCommonness = minC)
      val got = MetaInsight.explain(src, f, cat.map(b => Breakdown(b, col(b))).toSeq ++
        (if (trend) Seq(Breakdown("month", month(col("d")), trend = true)) else Nil), m, minC)
      if (name != "empty input") assert(rows(want).nonEmpty, s"$name: no insight to compare")
      // schema with nullability, then every row in order, bit-exact
      if (got.schema != want.schema) Seq(s"$name: schema ${got.schema} vs ${want.schema}")
      else if (rows(got) != rows(want)) Seq(s"$name:\n${rows(got)}\nvs in-plan\n${rows(want)}")
      else Nil
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    // q_metainsight runs this engine
    val q = graft.SparkEntry.queries("q_metainsight")(spark, sf)
    val ref = InPlanRef.MetaInsight
    val oq = o.withColumnRenamed("o_totalprice", "totalprice")
    assert(rows(q) === rows(ref.mine(ref.catPatterns(oq, "o_orderpriority", "o_orderstatus", "totalprice",
      "totalprice_mean").unionByName(ref.trendPatterns(oq, "o_orderpriority", month(col("o_orderdate")),
      "month", "totalprice", "totalprice_mean")), minCommonness = 0.15)))
  }

  test("combination breakdowns emit one row_count per (filter dim, breakdown)") {
    val o = ExplainFrame(graft.util.D.t(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("string"))
      .withColumn("o_half", (col("o_totalprice") * 0.5).cast("double")), "orders")
    val out = o.explainMetaInsightAuto(topK = 1000,
      filterDims = Seq("o_orderstatus"), breakdowns = Seq("o_orderpriority", "o_year"),
      measures = Seq("o_totalprice", "o_half"), useAllGroupbyCombinations = true,
      minCommonness = 0.01).collect()
    // every family of this filter dim has one scope per non-NULL status
    // value plus '*', whatever its breakdown or measure
    val subspaces = graft.util.D.t(spark, sf, "orders")
      .filter(col("o_orderstatus").isNotNull).select("o_orderstatus").distinct().count() + 1
    val byFamily = out.map(r => (r.getString(1), r.getString(2)) -> r.getLong(4))
    assert(byFamily.exists(_._1 == ("o_orderpriority+o_year", "row_count")),
      s"no combination row_count family: ${byFamily.mkString(", ")}")
    for (((b, m), n) <- byFamily)
      assert(n === subspaces, s"($b, $m) holds $n subspaces, expected $subspaces")
  }

  test("metainsight excludes NULL filter-dim subspaces") {
    import spark.implicits._
    import graft.explain.MetaInsight.{Breakdown, patterns}
    // NULL subspace values must not become pattern scopes (the SQL
    // mirrors' stats join drops them); '*' and real values remain
    val rows = Seq(
      (Some("a"), "x", 90.0), (Some("a"), "y", 10.0),
      (None: Option[String], "x", 50.0))
      .toDF("f", "g", "v")
    val subs = patterns(rows, Seq("f" -> Breakdown("g", col("g"))), Seq("v")).map(_.sub).toSet
    assert(subs === Set("a", "*"), s"unexpected subspaces: $subs")
    // the trend family of the same scope counts the same subspaces, as
    // MetaInsight.sql does
    val dated = Seq(
      (Some("a"), "2024-01-05", 1.0), (Some("a"), "2024-02-05", 2.0), (Some("a"), "2024-03-05", 3.0),
      (None: Option[String], "2024-01-09", 9.0), (None: Option[String], "2024-03-09", 1.0))
      .toDF("f", "d", "v").withColumn("d", to_date(col("d")))
    val trendSubs = patterns(dated, Seq("f" -> Breakdown("d_month", month(col("d")), trend = true)),
      Seq("v")).map(_.sub).toSet
    assert(trendSubs === Set("a", "*"), s"unexpected trend subspaces: $trendSubs")
  }

  test("metainsight highlights skip cells whose metric is NULL") {
    import spark.implicits._
    import graft.explain.MetaInsight.{Breakdown, patterns}
    // the 'nullcell' breakdown value has only NULL measures -> its mean,
    // zscore and share are NULL; a sort by (-metric, b) with NULLs first
    // would pick it — the highlight must be the genuinely dominant cell
    val rows = Seq(
      ("s1", "dom", Some(90.0)), ("s1", "tiny", Some(10.0)),
      ("s1", "nullcell", None: Option[Double]))
      .toDF("f", "g", "v")
    val pats = patterns(rows, Seq("f" -> Breakdown("g", col("g"))), Seq("v"))
      .filter(p => p.pattern == "dominance" && p.hasPat == 1)
    assert(pats.nonEmpty)
    assert(pats.forall(_.highlight == "dom"), s"NULL-metric cell stole the highlight: ${pats.mkString(";")}")
  }

  test("many-to-one excludes NULL numeric attribute rows from binning") {
    import spark.implicits._
    // 6 labeled rows; two have a NULL numeric attr — pandas cut/qcut
    // drops NaN, so the rule counts must come from the 4 non-null rows
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("b", Some(9.0)),
      ("b", None), ("a", None), ("b", Some(8.0)))
      .toDF("lab", "x")
    for (method <- Seq("equal_width", "quantile")) {
      val out = graft.explain.ManyToOne.explain(df, "lab", Nil, Seq("x"),
        covTh = 0.1, sepTh = 0.9, nb = 2, binningMethod = method).collect()
      // coverage denominators = per-label NON-NULL row counts (2 each)
      assert(out.map(_.getAs[Long]("n_match")).sum === 4, s"$method: NULLs binned")
      assert(out.forall(r => r.getAs[String]("val") != null))
    }
    // NULL numeric LABELS drop out of label binning the same way
    val df2 = Seq((Some(1.0), "u"), (Some(2.0), "v"), (None, "w"),
      (Some(3.0), "u"), (Some(4.0), "v"), (Some(5.0), "u"),
      (Some(6.0), "v"), (Some(7.0), "u"), (Some(8.0), "v"),
      (Some(9.0), "u"), (Some(10.0), "v"), (Some(11.0), "u"))
      .toDF("y", "c")
    val out2 = graft.explain.ManyToOne.explain(df2, "y", Seq("c"), Nil,
      covTh = 0.0, sepTh = 1.0, nb = 2, binNumericLabel = true, numLabelBins = 2)
      .collect()
    assert(out2.map(_.getAs[Long]("n_match")).sum === 11, "NULL label kept")
  }

  test("gathered-cell cardinality guard fails fast on ID-like keys") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val before = graft.util.Guard.MaxGatheredCells
    try {
      graft.util.Guard.MaxGatheredCells = 10L
      // 20 groups for one measure > bound 10 -> diagnosable error, not
      // OOM. Spread over 4 partitions of 5 rows, no partition passes the
      // bound: the driver's merge fails as it takes the 11th cell
      val m = (1 to 20).map(i => ("m", s"g$i", i.toDouble)).toDF("measure", "grp", "v")
        .repartition(4)
      val e = intercept[Exception](graft.explain.GroupByExplain.zdev(m).collect())
      assert(msgs(e).exists(_.contains("the merged partials gathered 11 cells (bound 10)")),
        s"wrong error: $e")
      assert(msgs(e).exists(_.contains("ID-like")), s"wrong error: $e")
      // under the bound the same plan runs (guard is transparent)
      graft.util.Guard.MaxGatheredCells = 100L
      assert(graft.explain.GroupByExplain.zdev(m).count() === 20)

      // FEDEx, outlier and MetaInsight explanations gather their count
      // table / cube / cells on the driver: an ID-like key must fail with
      // the same diagnosis, from a partition that stopped at the cell one
      // past the bound, so no partition returns more than cap + 1 cells
      graft.util.Guard.MaxGatheredCells = 10L
      val lineitem = graft.util.D.t(spark, sf, "lineitem")
      val failures = Seq(
        "fedex" -> intercept[Exception](graft.explain.Fedex.filterDeviation(
          graft.explain.Fedex.binCountsFiltered(lineitem, col("l_quantity") >= 30,
            Seq(graft.explain.Fedex.Attr("l_orderkey", numeric = false))))),
        "outlier" -> intercept[Exception](graft.explain.Outlier.explain(
          lineitem, "l_orderkey", "l_extendedprice", "1", 1, Seq("l_quantity"))),
        "metainsight" -> intercept[Exception](
          ExplainFrame(lineitem, "lineitem").explainMetaInsightAuto(filterDims = Seq("l_returnflag"),
            breakdowns = Seq("l_orderkey"), measures = Seq("l_quantity"))),
        // the single-scope miner is bounded by the cells it gathers in total
        "metainsight single scope" -> intercept[Exception](
          ExplainFrame(lineitem, "lineitem").explainMetaInsight("l_returnflag", "l_orderkey", "l_quantity")))
      for ((name, err) <- failures) {
        assert(msgs(err).exists(_.contains("ID-like")), s"$name: wrong error: $err")
        assert(msgs(err).exists(_.contains("a partition gathered 11 cells (bound 10)")),
          s"$name: a partition held more than cap + 1 cells: $err")
      }
    } finally graft.util.Guard.MaxGatheredCells = before
  }

  /** Runs `f` and returns its result with the executed plan of every
    * Dataset action it ran. */
  private def actions[T](f: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300)
      (out, seen.toArray.toSeq.map(_.asInstanceOf[SparkPlan]))
    } finally spark.listenerManager.unregister(listener)
  }

  test("driver-finished explanations consume without a Spark job") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.execution.{ExpandExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import graft.util.PlanShape.all
    val o = graft.util.D.t(spark, sf, "orders")
    val lineitem = graft.util.D.t(spark, sf, "lineitem")
    // every gather is one job of one stage that shuffles nothing: the
    // MetaInsight one pass, FEDEx and outlier a min/max pass and a count
    // pass, the groupby melt one pass, and so are the notebook
    // operations valueCounts and describeStats
    val explained = {
      val meter = new Bench.Meter(spark)
      try Seq[(String, Int, () => Any)](
        ("metainsight auto", 1, () => ExplainFrame(o, "orders").explainMetaInsightAuto(topK = 5,
          measures = Seq("o_totalprice"))),
        ("q_metainsight", 1, () => graft.SparkEntry.queries("q_metainsight")(spark, sf)),
        ("fedex", 2, () => ExplainFrame(lineitem, "lineitem").filter(col("l_quantity") >= 30)
          .explainFedex(topK = 3)),
        ("outlier", 2, () => ExplainFrame(o, "orders").groupBy("o_orderpriority")
          .mean("o_totalprice").explainOutlier("1-URGENT", "high")),
        ("groupby", 1, () => ExplainFrame(o, "orders").groupBy("o_orderpriority")
          .mean("o_totalprice").explainFedex(topK = 3)),
        ("valueCounts", 1, () => ExplainFrame(lineitem, "lineitem").valueCounts("l_returnflag")),
        ("describeStats", 1, () => ExplainFrame(o, "orders").describeStats(
          Seq("o_totalprice", "o_custkey")))
      ).map { case (name, jobs, f) =>
        meter.drain(); meter.reset()
        val (_, plans) = actions(f())
        meter.drain()
        assert(meter.jobs.get === jobs.toLong, s"$name: ${meter.jobs.get} jobs")
        assert(meter.stages.get === jobs.toLong, s"$name: ${meter.stages.get} stages")
        assert(meter.shuffleBytes.get === 0L, s"$name: ${meter.shuffleBytes.get} shuffle bytes")
        assert(plans.size === jobs, s"$name ran ${plans.size} actions")
        name -> plans
      }.toMap
      finally meter.close()
    }
    // the auto-search's pass casts its measure to decimal once per source
    // row: one cast, and no Expand or Generate multiplying rows under it
    val plan = explained("metainsight auto").head
    def decimalCasts(p: SparkPlan) = p.expressions.flatMap(_.collect {
      case c: Cast if c.child.dataType == DoubleType && c.dataType.isInstanceOf[DecimalType] => c })
    assert(all[SparkPlan](plan).flatMap(decimalCasts).size === 1, s"decimal casts in $plan")
    assert(all[ExpandExec](plan).isEmpty && all[GenerateExec](plan).isEmpty &&
      all[ShuffleExchangeLike](plan).isEmpty, s"rows multiplied or shuffled: $plan")
    val auto = ExplainFrame(o, "orders").explainMetaInsightAuto(topK = 5,
      measures = Seq("o_totalprice"))
    val meter = new Bench.Meter(spark)
    try {
      val built = Seq(
        "metainsight auto" -> auto,
        "q_metainsight" -> graft.SparkEntry.queries("q_metainsight")(spark, sf),
        "correlation suite" -> graft.explain.Correlation.suite(lineitem,
          Seq(("l_quantity", "l_extendedprice")), "l_returnflag", "l_quantity", "l_linestatus"),
        "outlier" -> graft.explain.Outlier.explain(lineitem, "l_returnflag",
          "l_extendedprice", "R", 1, Seq("l_quantity")),
        "fedex" -> graft.explain.Fedex.filterDeviation(graft.explain.Fedex.binCountsFiltered(
          lineitem, col("l_quantity") >= 30, Seq(graft.explain.Fedex.Attr("l_returnflag", numeric = false)))),
        "valueCounts" -> ExplainFrame(lineitem, "lineitem").valueCounts("l_returnflag"),
        "describeStats" -> ExplainFrame(o, "orders").describeStats(Seq("o_totalprice", "o_custkey")))
      for ((name, df) <- built) {
        meter.drain(); meter.reset()
        assert(df.collect().nonEmpty, s"$name: empty result")
        meter.drain()
        assert(meter.jobs.get === 0L, s"$name: consuming the result launched ${meter.jobs.get} jobs")
      }
    } finally meter.close()
  }

  test("dist pruning fails fast past the label-cardinality cap") {
    // an ID-like label column must NOT collect one centroid per distinct
    // value — the limit()-bounded collect trips the cap and raises a
    // diagnosable error instead
    val cust = graft.util.D.t(spark, sf, "customer")
    val old = graft.util.Guard.MaxRankedLabels
    graft.util.Guard.MaxRankedLabels = 100
    try {
      val e = intercept[IllegalArgumentException](
        graft.explain.ManyToOne.explain(cust, "c_custkey", Nil, Seq("c_acctbal"),
          covTh = 0.05, sepTh = 0.95, pruningMethod = "max_dist"))
      assert(e.getMessage.contains("MaxRankedLabels"))
    } finally graft.util.Guard.MaxRankedLabels = old
  }

  test("dist pruning falls back to frequency with <2 rankable centroids") {
    import spark.implicits._
    // 4 labels but only one has a non-NULL numeric attr: pairwise
    // centroid distances don't exist, so max_dist/min_dist must fall
    // back to frequency pruning instead of ranking by NaN
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("b", None), ("b", None), ("c", None), ("d", None))
      .toDF("lab", "x")
    for (method <- Seq("max_dist", "min_dist")) {
      val keep = graft.explain.ManyToOne.selectLabels(
        df, org.apache.spark.sql.functions.col("lab").cast("string"),
        Seq("x"), method, maxLabels = 2)
      assert(keep.isDefined && keep.get.length === 2, s"$method: $keep")
      assert(keep.get.contains("a"), s"$method kept $keep (a is most frequent)")
    }
  }

  test("silhouette pruning ranks separated labels above overlapping ones") {
    import spark.implicits._
    // label a sits alone at x~0; b and c interleave around x~100: the
    // simplified silhouette (distance-to-centroid form) scores a near 1
    // and b/c near 0, so max_silhouette keeps {a, <one of b/c>} while
    // min_silhouette keeps {b, c}
    val df = Seq(("a", 0.0), ("a", 1.0), ("a", 2.0),
      ("b", 99.0), ("b", 101.0), ("c", 100.0), ("c", 102.0))
      .toDF("lab", "x")
    val labCol = org.apache.spark.sql.functions.col("lab").cast("string")
    val maxK = graft.explain.ManyToOne.selectLabels(df, labCol, Seq("x"), "max_silhouette", 2)
    assert(maxK.isDefined && maxK.get.contains("a"), s"max_silhouette kept $maxK")
    val minK = graft.explain.ManyToOne.selectLabels(df, labCol, Seq("x"), "min_silhouette", 2)
    assert(minK.contains(Seq("b", "c")), s"min_silhouette kept $minK")
    // <2 rankable centroids -> frequency fallback (mirrors dist pruning)
    val degenerate = Seq(("a", Some(1.0)), ("a", Some(2.0)),
      ("b", None), ("b", None), ("c", None)).toDF("lab", "x")
    val fb = graft.explain.ManyToOne.selectLabels(
      degenerate, org.apache.spark.sql.functions.col("lab").cast("string"),
      Seq("x"), "max_silhouette", 2)
    assert(fb.isDefined && fb.get.contains("a"), s"fallback kept $fb")
  }

  test("random pruning is a deterministic seeded draw of exactly maxLabels") {
    val cust = graft.util.D.t(spark, sf, "customer")
    val labCol = org.apache.spark.sql.functions.col("c_nationkey").cast("string")
    val k1 = graft.explain.ManyToOne.selectLabels(cust, labCol, Nil, "random", 10)
    val k2 = graft.explain.ManyToOne.selectLabels(cust, labCol, Nil, "random", 10)
    assert(k1.isDefined && k1.get.length === 10)
    assert(k1 === k2, "seeded draw must be reproducible")
    // no pruning needed when distinct labels <= maxLabels
    assert(graft.explain.ManyToOne.selectLabels(cust, labCol, Nil, "random", 30).isEmpty)
  }

  test("unsupported pruning_method still raises with the full legal list") {
    val cust = graft.util.D.t(spark, sf, "customer")
    val e = intercept[IllegalArgumentException](
      graft.explain.ManyToOne.explain(cust, "c_nationkey", Seq("c_mktsegment"), Nil,
        covTh = 0.05, sepTh = 0.95, pruningMethod = "bogus"))
    assert(e.getMessage.contains("max_silhouette") && e.getMessage.contains("random"))
  }

  test("relational helpers") {
    val vc = li.valueCounts("l_returnflag").collect()
    assert(vc.length === 3 && math.abs(vc.map(_.getDouble(2)).sum - 1.0) < 0.01)
    val ds = li.describeStats(Seq("l_quantity")).collect()
    assert(ds.length === 1 && ds.head.getLong(1) > 0)
    val sm = li.sampleDeterministic("l_orderkey", 10).df.count()
    assert(sm > 0 && sm < li.df.count())
  }

  test("groupby transform aligns group stats row-wise; zscore standardizes") {
    val li = graft.util.D.t(spark, sf, "lineitem").select("l_returnflag", "l_quantity")
    val ef = graft.core.ExplainFrame(li, "lineitem")
    // transform preserves row count and holds the stat constant per group
    val tr = ef.groupBy("l_returnflag").transform("l_quantity", "sum").df
    assert(tr.count() === li.count())
    // NULL group keys keep their rows with a NULL aligned stat (pandas
    // transform emits NaN there) — the inner-join form silently dropped
    // them
    val withNull = li.unionByName(
      li.limit(2).select(org.apache.spark.sql.functions.lit(null)
        .cast("string").as("l_returnflag"), col("l_quantity")))
    val efn = graft.core.ExplainFrame(withNull, "lineitem")
    val trn = efn.groupBy("l_returnflag").transform("l_quantity", "sum").df
    assert(trn.count() === withNull.count(), "null-key rows dropped by transform")
    assert(trn.filter(col("l_returnflag").isNull && col("l_quantity_sum").isNull).count() === 2)
    val zn = efn.groupBy("l_returnflag").zscore("l_quantity").df
    assert(zn.count() === withNull.count(), "null-key rows dropped by zscore")
    assert(tr.select("l_returnflag", "l_quantity_sum").distinct().count() === 3)
    // the aligned sum equals the direct group aggregate
    val direct = li.groupBy("l_returnflag")
      .agg(graft.util.D.dsumd(col("l_quantity")).as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    tr.select("l_returnflag", "l_quantity_sum").distinct().collect().foreach { r =>
      assert(r.getDouble(1) === direct(r.getString(0)))
    }
    // zscore: per-group mean ≈ 0, sample std ≈ 1 (6dp-rounded stats)
    val z = ef.groupBy("l_returnflag").zscore("l_quantity").df
      .groupBy("l_returnflag")
      .agg(avg(col("l_quantity_zscore")).as("m"), stddev(col("l_quantity_zscore")).as("s"))
      .collect()
    z.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-4, s"group mean not ~0: $r")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-4, s"group std not ~1: $r")
    }
  }
}
