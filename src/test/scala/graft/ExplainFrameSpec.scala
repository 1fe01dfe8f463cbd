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
    val rows = Seq(
      ("a", "x", 100.0), ("a", "x", 100.0), ("a", "x", 100.0), ("a", "y", 1.0),
      ("b", "x", 1.0), ("b", "y", 1.0), ("b", "z", 1.0),
      ("c", "x", 1.0), ("c", "y", 1.0), ("c", "z", 1.0))
      .toDF("f", "g", "v")
    val pats = graft.explain.MetaInsight.catPatterns(rows, "f", "g", "v", "v_mean")
    val dom = (m: org.apache.spark.sql.DataFrame) =>
      m.filter(col("pattern") === "dominance" && col("measure") === "v_mean").collect()
    // default min_commonness=0.5: 'a'-only dominance (commonness 0.5 of
    // the 4 subspaces incl '*') survives iff >= 0.5; build assertion on
    // the relative behavior instead of absolute: lowering the threshold
    // can only ADD patterns, and there exists a threshold where the rare
    // pattern is dropped
    val strict = dom(graft.explain.MetaInsight.mine(pats, minCommonness = 0.9))
    val loose = dom(graft.explain.MetaInsight.mine(pats, minCommonness = 0.1))
    assert(loose.length >= strict.length)
    assert(loose.nonEmpty, "pattern should exist at low threshold")
    assert(strict.isEmpty, "commonness < 0.9 pattern must be dropped at 0.9")
    // default (0.5) equals the reference default
    val default = dom(graft.explain.MetaInsight.mine(pats))
    assert(default.forall(_.getAs[Double]("commonness") >= 0.5))
    intercept[IllegalArgumentException](
      graft.explain.MetaInsight.mine(pats, minCommonness = 0.0))
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

  test("masterRanked equals the in-plan autoTables + rank chain bit-for-bit") {
    import graft.explain.MetaInsight
    val o = graft.util.D.t(spark, sf, "orders")
    val fs = Seq("o_orderpriority", "o_orderstatus")
    val bs = Seq("o_orderstatus", "o_orderpriority")
    val ms = Seq("o_totalprice")
    val scopes = for (f <- fs; b <- bs if f != b; m <- ms) yield (f, b, m)
    val trendScopes = for (f <- fs; m <- ms)
      yield (f, org.apache.spark.sql.functions.month(col("o_orderdate")), "o_orderdate_month", m)
    def key(r: org.apache.spark.sql.Row) = (0 until r.length).map(r.get).toList
    val inPlan = MetaInsight.rank(
      MetaInsight.autoTables(o, scopes, trendScopes), 50).collect().map(key)
    val driver = MetaInsight.masterRanked(o, fs, bs, ms, Seq("o_orderdate"), 50)
      .collect().map(key)
    assert(driver.toSeq === inPlan.toSeq,
      "driver-side masterRanked diverged from the in-plan chain")
  }

  test("metainsight excludes NULL filter-dim subspaces") {
    import spark.implicits._
    // NULL subspace values must not become pattern scopes (the SQL
    // mirrors' stats join drops them); '*' and real values remain
    val rows = Seq(
      (Some("a"), "x", 90.0), (Some("a"), "y", 10.0),
      (None: Option[String], "x", 50.0))
      .toDF("f", "g", "v")
    val pats = graft.explain.MetaInsight.catPatterns(rows, "f", "g", "v", "v_mean")
    val subs = pats.select("subspace").distinct().collect().map(_.getString(0)).toSet
    assert(subs === Set("a", "*"), s"unexpected subspaces: $subs")
  }

  test("metainsight highlights skip cells whose metric is NULL") {
    import spark.implicits._
    // the 'nullcell' breakdown value has only NULL measures -> its mean,
    // zscore and share are NULL; min_by over struct(-metric, b) would
    // pick it (NULL struct field sorts smallest) unless NULLs are pushed
    // last — the highlight must be the genuinely dominant cell
    val rows = Seq(
      ("s1", "dom", Some(90.0)), ("s1", "tiny", Some(10.0)),
      ("s1", "nullcell", None: Option[Double]))
      .toDF("f", "g", "v")
    val pats = graft.explain.MetaInsight.catPatterns(rows, "f", "g", "v", "v_mean")
      .filter(col("pattern") === "dominance" && col("has_pat") === 1)
      .collect()
    assert(pats.nonEmpty)
    assert(pats.forall(_.getAs[String]("highlight") == "dom"),
      s"NULL-metric cell stole the highlight: ${pats.mkString(";")}")
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
    val before = graft.util.Guard.MaxGatheredCells
    try {
      graft.util.Guard.MaxGatheredCells = 10L
      // 20 groups for one measure > bound 10 -> diagnosable error, not OOM
      val m = (1 to 20).map(i => ("m", s"g$i", i.toDouble)).toDF("measure", "grp", "v")
      val e = intercept[Exception](graft.explain.GroupByExplain.zdev(m).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("ID-like")), s"wrong error: $e")
      // under the bound the same plan runs (guard is transparent)
      graft.util.Guard.MaxGatheredCells = 100L
      assert(graft.explain.GroupByExplain.zdev(m).count() === 20)

      // FEDEx and outlier explanations gather their count table / cube
      // on the driver: an ID-like key must fail with the same diagnosis,
      // and the only collect that ran must be bounded at cap + 1 rows
      graft.util.Guard.MaxGatheredCells = 10L
      val lineitem = graft.util.D.t(spark, sf, "lineitem")
      val fedex = collectLimits(intercept[Exception](graft.explain.Fedex.filterDeviation(
        graft.explain.Fedex.binCountsFiltered(lineitem, col("l_quantity") >= 30,
          Seq(graft.explain.Fedex.Attr("l_orderkey", numeric = false))))))
      val outlier = collectLimits(intercept[Exception](graft.explain.Outlier.explain(
        lineitem, "l_orderkey", "l_extendedprice", "1", 1, Seq("l_quantity"))))
      for ((name, (err, limits)) <- Seq("fedex" -> fedex, "outlier" -> outlier)) {
        assert(msgs(err).exists(_.contains("ID-like")), s"$name: wrong error: $err")
        assert(limits === Seq(Some(11)), s"$name: collects were not bounded at cap + 1: $limits")
      }
    } finally graft.util.Guard.MaxGatheredCells = before
  }

  /** Runs `f` and returns its result with the row limit of every Dataset
    * action it ran (None for an action without a CollectLimit). */
  private def collectLimits[T](f: => T): (T, Seq[Option[Int]]) = {
    import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[Int]]()
    val helper = new AdaptiveSparkPlanHelper {}
    def limitOf(qe: QueryExecution) =
      helper.collect(qe.executedPlan) { case c: CollectLimitExec => c.limit }.headOption
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(limitOf(qe))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(limitOf(qe))
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300)
      (out, seen.toArray.toSeq.map(_.asInstanceOf[Option[Int]]))
    } finally spark.listenerManager.unregister(listener)
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
