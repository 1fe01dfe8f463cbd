package graft
import graft.core.ExplainFrame
import org.apache.spark.sql.functions._
/** Sample program through the public library API (pd-explain-style flow). */
object ApiDemo {
  def main(args: Array[String]): Unit = {
    val spark = util.LocalSession()
    val li = ExplainFrame(util.D.t(spark, "/root/testdata/sf0.001", "lineitem"), "lineitem")
    val filtered = li.filter(col("l_quantity") >= 30)
    println("== fedex explanation of the filter ==")
    filtered.explainFedex(topK = 3).show(false)
    println(filtered.explanationText(filtered.explainFedex(topK = 1).head()))
    val g = li.groupBy("l_returnflag").mean("l_extendedprice")
    println("== outlier explanation for group R ==")
    g.explainOutlier("R", "high", Seq("l_quantity", "l_discount")).show(3, false)
    println("== groupby exceptionality ==")
    g.explainFedex(topK = 4).show(false)
    println("== correlation-pruned attributes (corr_TH=0.7) ==")
    filtered.correlatedAttributes("l_quantity").show(false)
    println("== unified explain dispatch: shapley ==")
    filtered.explain("shapley").show(5, false)
    println("== automated exploration (2 iterations) ==")
    graft.core.AutoExplore.explore(
      ExplainFrame(util.D.t(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_returnflag"), "lineitem"),
      iterations = 2)
      .steps.foreach(s => println(s"[${s.iteration}] ${s.kind}: ${s.query} score=${s.score}"))
    println("== composable series masks (ExpSeries idiom) ==")
    val mask = (li.series("l_quantity") >= 30) && (li.series("l_discount") < 0.05)
    println(s"mask: ${mask.desc} -> ${mask().df.count()} rows")
    mask.explain(topK = 2).show(false)
    println("== metainsight auto-search over orders ==")
    val orders = ExplainFrame(util.D.t(spark, "/root/testdata/sf0.001", "orders"), "orders")
    orders.explainMetaInsightAuto(topK = 3).show(false)
    println("== many-to-one with quantile binning (reference defaults relaxed) ==")
    val cust = ExplainFrame(util.D.t(spark, "/root/testdata/sf0.001", "customer"), "customer")
    cust.explain("many_to_one", labelCol = "c_mktsegment",
        catAttrs = Seq("c_nationkey"), numAttrs = Seq("c_acctbal"),
        coverageThreshold = 0.3, separationThreshold = 0.7)
      .filter(col("passes") === 1)
      .select("label", "attribute", "val", "coverage", "separation_err", "error_explanation")
      .show(5, false)
    println("== many-to-one: max_dist label pruning + schema rename ==")
    cust.explain("many_to_one", labelCol = "c_nationkey",
        numAttrs = Seq("c_acctbal"), coverageThreshold = 0.05,
        separationThreshold = 0.95, pruningMethod = "max_dist",
        schema = Map("c_acctbal" -> "account_balance"))
      .filter(col("passes") === 1).show(3, false)
    println("== corpus prep: decontaminate / repetition / domain mix ==")
    val docs = util.D.t(spark, "/root/testdata/sf0.001", "documents")
    graft.text.Corpus.decontaminate(docs, pmod(col("doc_id"), lit(97)) === 0).show(3, false)
    graft.text.Corpus.repetitionStats(docs).filter(col("flagged") === 1).show(3, false)
    graft.text.Corpus.domainMix(docs, budgetTokens = 500.0).show(false)
    println("== kmin sketch from SQL after registration ==")
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("docs")
    spark.sql(
      """SELECT source, kmin(xxhash64(text), 8) AS sketch
        |FROM docs GROUP BY source ORDER BY source LIMIT 3""".stripMargin).show(false)
    println("== groupby().transform: per-group z-score ==")
    li.groupBy("l_returnflag").zscore("l_quantity").df
      .select("l_returnflag", "l_quantity", "l_quantity_zscore").show(3, false)
    println("== corpus PCA: top-2 components + projection ==")
    val emb = util.D.t(spark, "/root/testdata/sf0.001", "embeddings")
    val comps = graft.sim.Ann.pca(emb, k = 2)
    comps.foreach { case (ev, v) =>
      println(f"eigenvalue $ev%.6f, component head ${v.take(4).mkString(", ")}") }
    graft.sim.Ann.pcaProject(emb, comps.map(_._2)).show(3, false)
    println("== banded range join: events inside purchase windows ==")
    val ev2 = util.D.normTs(util.D.t(spark, "/root/testdata/sf0.001", "events"))
    val win = ev2.filter(col("event_type") === "purchase")
      .select(col("event_id").as("win_id"),
        (unix_micros(col("ts")) - 300000000L).as("lo"),
        (unix_micros(col("ts")) + 300000000L).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
        ev2.select(col("event_id"), unix_micros(col("ts")).as("pos")),
        "pos", win, "lo", "hi", 600000000L)
      .groupBy().count().show()
    println("== merge_asof with direction + tolerance ==")
    val purch = ev2.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val signup = ev2.filter(col("event_type") === "signup").select("event_id", "user_id", "ts")
    graft.operators.AsOf.join(purch, signup, "user_id", "ts", "event_id",
        Seq("ts"), direction = "forward", toleranceUs = Some(604800000000L))
      .select("event_id", "user_id", "ts", "right_ts").show(3, false)
    println("== kmeansFit: Lloyd to convergence, sqrt-N seeding ==")
    val fit = graft.sim.Ann.kmeansFit(emb,
      centMod = graft.sim.Ann.sqrtSeedMod(emb.count()), centOff = 7,
      maxIter = 5, tol = 0.05)
    println(s"converged=${fit.converged} after ${fit.iters} rounds, drifts=${fit.drifts.map(d => f"$d%.4f").mkString(", ")}")
    println("== IVF-blocked hard negatives (sub-quadratic) ==")
    graft.sim.Ann.hardNegativesIvf(emb, 40, 25, 7, 3, 3).show(3, false)
    println("== silhouette label pruning through the unified dispatch ==")
    graft.core.ExplainFrame(util.D.t(spark, "/root/testdata/sf0.001", "customer"), "customer")
      .explain(explainer = "many_to_one", labelCol = "c_nationkey",
        numAttrs = Seq("c_acctbal"), coverageThreshold = 0.05,
        separationThreshold = 0.95, pruningMethod = "max_silhouette",
        useSampling = false).show(3, false)
    println("== metainsight multi-axis extension through the dispatch ==")
    graft.core.ExplainFrame(li.df, "lineitem")
      .explain(explainer = "metainsight", topK = 5,
        filterColumns = Seq("l_returnflag"),
        groupbyColumns = Seq("l_linestatus", "l_linenumber"),
        aggregations = Seq("l_quantity", "l_extendedprice"),
        minCommonness = 0.15,
        allowMultipleAggregations = true, allowMultipleGroupbys = true).show(5, false)
    println("== multimodal: exact payload dedup + pHash blocking profile ==")
    graft.multimodal.Multimodal.payloadDedup(docs).show(false)
    graft.multimodal.Multimodal.payloadPhashProfile(docs).show(false)
    println("== ExactSubstr-style duplicated spans (merged >= 8-token) ==")
    graft.dedup.Dedup.substrSpans(docs).filter(col("n_spans") > 0).show(3, false)
    println("== quality funnel: where documents die, by source and rule ==")
    graft.text.Corpus.qualityFunnel(docs).show(8, false)
    println("== snapshot diff between two corpus versions ==")
    graft.text.Corpus.snapshotDiff(
      docs.filter(col("doc_id") % 11 =!= 0).select("doc_id", "text"),
      docs.filter(col("doc_id") % 13 =!= 0).select("doc_id", "text")).show(false)
    println("== full IVF-PQ serving: probe coarse lists, ADC over codes ==")
    graft.sim.Quantize.adcTopKIvf(emb, 8, 125, 7, 25, 7, 40, 3, 5).show(3, false)
    println("== contrastive triplets (positive + hard negative + margin) ==")
    graft.sim.Ann.triplets(emb, 40).show(3, false)
    println("== PMI collocations ==")
    graft.text.Search.pmiPairs(docs, k = 5).show(false)
    println("== skew-aware hybrid join (hot keys broadcast, cold shuffle) ==")
    graft.util.Scale.skewJoin(
        util.D.t(spark, "/root/testdata/sf0.001", "lineitem")
          .select("l_orderkey", "l_extendedprice"),
        util.D.t(spark, "/root/testdata/sf0.001", "orders")
          .select("o_orderkey", "o_orderpriority"),
        "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority").count().orderBy("o_orderpriority").show(false)
    println("== mask_pair_count from SQL: tag co-occurrence cells ==")
    spark.sql(
      """SELECT mask_pair_count(m, 3) AS cells FROM VALUES
        |(CAST(3 AS BIGINT)), (CAST(7 AS BIGINT)), (CAST(5 AS BIGINT)) AS t(m)
        |""".stripMargin).show(false)
    println("== streaming-twin fold reused as a typed batch op: EWMA ==")
    import spark.implicits._
    graft.streaming.Ewma.ewmaBatch(spark,
        util.D.normTs(util.D.t(spark, "/root/testdata/sf0.001", "events"))
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .as[graft.streaming.EwmaEvent])
      .orderBy("user_id", "event_id").show(3, false)
    println("== BPE trainer: first 8 learned merge rules ==")
    graft.text.Vocab.bpeFit(docs, merges = 8).show(false)
    println("== heavy-hitter gate: fold two batches, persist, resume ==")
    val gate = new graft.streaming.HeavyHitters.Gate(16)
    gate.processBatch(docs.filter(col("doc_id") % 2 === 0), 0L)
    val hhState = java.nio.file.Files.createTempDirectory("demo_hh") + "/state.tsv"
    gate.save(hhState)
    val resumed = graft.streaming.HeavyHitters.load(hhState)
    resumed.processBatch(docs.filter(col("doc_id") % 2 =!= 0), 1L)
    println(s"   streamed ${resumed.total} tokens; exact finish:")
    resumed.finishExact(docs).show(5, false)
    println("== DQ gate over a dirty micro-batch: the report an operator pages on ==")
    val dq = new graft.streaming.Dq.Gate(
      util.D.t(spark, "/root/testdata/sf0.001", "customer"))
    dq.processBatch(util.D.t(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .withColumn("o_custkey",
        when(col("o_orderkey") % 97 === 0, lit(-1L)).otherwise(col("o_custkey"))), 0L)
    dq.reportDf.show(false)
    println("== ANN nprobe tuning curve: recall vs scored candidates ==")
    graft.sim.Ann.nprobeCurve(util.D.t(spark, "/root/testdata/sf0.001", "embeddings"),
      40, 25, 7, Seq(1, 2, 4, 8, 16), 5).show(false)
    println("== streaming near-dedup: arriving docs vs the persisted signature store ==")
    val store = graft.dedup.Dedup.minhashSig(docs.filter(col("doc_id") % 3 =!= 0))
    graft.streaming.StreamNearDedup.matches(
        docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text")),
        graft.streaming.StreamNearDedup.indexBands(store))
      .orderBy("new_doc", "index_doc").show(5, false)
    spark.stop()
  }
}
