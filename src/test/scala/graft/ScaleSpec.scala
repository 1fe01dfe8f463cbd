package graft

import graft.util.{PlanShape, Scale}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  import TestSession._

  /** An N×K assignment aggregate: an argmax_by keyed on vec_id. */
  private def argmaxAggs(p: SparkPlan) = PlanShape.aggregatesOf(p, "argmax_by", "vec_id")

  /** The scan-local assignment expressions. */
  private val Assign = Seq("ivf_assign", "ivf_probes")

  /** The assignment was materialized once and nothing recomputes it:
    * every leaf reads one checkpointed RDD and no assignment is left. */
  private def readsOneAssignment(p: SparkPlan) = PlanShape.readsOneCheckpoint(p) &&
    PlanShape.evaluating(p, Assign: _*).isEmpty && argmaxAggs(p).isEmpty

  /** The partial count aggregates a plan runs: one per count
    * aggregation of its input (a partial stage feeds its shuffle). */
  private def partialCounts(p: SparkPlan) = PlanShape.all[BaseAggregateExec](p)
    .map(_.aggregateExpressions.count(e =>
      e.mode == Partial && e.aggregateFunction.prettyName == "count")).sum

  /** A broadcast hash join whose first key is list_id: IVF candidates
    * meet their probes hash-keyed by list. */
  private def listKeyed(p: SparkPlan) = PlanShape.all[BroadcastHashJoinExec](p)
    .exists(_.leftKeys.headOption.exists(_.references.exists(_.name == "list_id")))

  test("bucketed join runs without a shuffle exchange") {
    val li = graft.util.D.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = graft.util.D.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Scale.writeBucketed(li, "li_b", "l_orderkey", 4)
    Scale.writeBucketed(o, "o_b", "l_orderkey", 4)
    val joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() > 0)
  }

  test("partition pruning reaches the scan on a date-partitioned copy") {
    val base = graft.util.D.t(spark, sf, "lineitem")
      .withColumn("ship_year", org.apache.spark.sql.functions.year(col("l_shipdate")))
    val path = "/tmp/graft_part_li"
    base.write.mode("overwrite").partitionBy("ship_year").parquet(path)
    val pruned = spark.read.parquet(path).filter(col("ship_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1996"),
      s"partition filter not pushed:\n${plan.take(1200)}")
    assert(pruned.count() > 0)
  }

  test("IVF: list-partitioned layout prunes probe scans; assignment has no window") {
    import graft.sim.Ann
    val e = graft.util.D.t(spark, sf, "embeddings")
    // assignment is a max_by aggregation — a window here would
    // sort-shuffle the full N×K scored table
    val assign = Ann.assignLists(e, 25, 7)
    assert(!assign.queryExecution.executedPlan.toString.contains("Window"),
      "IVF assignment should be an aggregation, not a window")
    // write the corpus partitioned by list id; a probe of nprobe lists
    // must prune at the scan (PartitionFilters), the physical analog of
    // IVF probing on a cluster
    val path = "/tmp/graft_ivf_lists"
    e.join(assign, "vec_id").write.mode("overwrite").partitionBy("list_id").parquet(path)
    val probeLists = assign.select("list_id").distinct().orderBy("list_id")
      .limit(3).collect().map(_.getLong(0))
    val probed = spark.read.parquet(path).filter(col("list_id").isin(probeLists: _*))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(probeLists.head.toString),
      s"probe not pruned:\n${plan.take(1200)}")
    val total = e.count()
    val scanned = probed.count()
    assert(scanned > 0 && scanned < total, s"pruning scanned $scanned of $total")
  }

  test("groupBy multi-agg dict surface") {
    import graft.core.ExplainFrame
    val o = ExplainFrame(graft.util.D.t(spark, sf, "orders"), "orders")
    val g = o.groupBy("o_orderpriority").agg("o_totalprice" -> "mean", "o_totalprice" -> "sum")
    assert(g.df.columns.toSet === Set("o_orderpriority", "o_totalprice_mean", "o_totalprice_sum"))
    // provenance records the first pair, so explanation dispatch works
    assert(g.explainFedex(topK = 2).count() === 2)
    intercept[IllegalArgumentException](
      o.groupBy("o_orderpriority").agg("o_totalprice" -> "mode"))
  }

  test("salted sum equals direct sum") {
    val li = graft.util.D.t(spark, sf, "lineitem")
    val direct = li.groupBy("l_returnflag")
      .agg(graft.util.D.dsumd(col("l_quantity")).as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Scale.saltedSum(li, "l_returnflag", "l_quantity", 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === direct)
  }

  test("KMV sketch queries plan with no Window (regression vs global sort)") {
    // the round-2 scale-killer: row_number() over every distinct shingle
    // hash. The bounded k-min aggregate must keep Window out of these
    // plans entirely, and the aggregation must have a partial (map-side)
    // phase
    for (name <- Seq("q_corpus_jaccard", "q_approx_kmv")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name still plans a Window:\n${plan.take(1200)}")
      assert(plan.contains("partial_kmin") || plan.contains("partial_merge"),
        s"$name kmin aggregation lost its map-side phase:\n${plan.take(1200)}")
    }
  }

  test("corpus normalization stays native and codegen'd (no regex chain)") {
    // the regex chain (2 passes/doc) was q_dedup_norm's whole 100 TB
    // constant; the native one-pass expression must stay in the plan —
    // and inside a WholeStageCodegen span, not interpreted fallback
    // q_text_quality's projection also carries the langHits higher-order
    // lambda (CodegenFallback), so only the pure normalization query is
    // held to the in-codegen-stage bar
    for ((name, wantCodegen) <- Seq("q_dedup_norm" -> true, "q_text_quality" -> false)) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("asciinormalize") || plan.contains("strippedcount"),
        s"$name lost the native text expression:\n${plan.take(1200)}")
      assert(!plan.contains("regexp_replace(lower("),
        s"$name still plans the regex normalization chain:\n${plan.take(1200)}")
      if (wantCodegen) {
        // AQE shows codegen markers only in the executed final plan
        // (collect executes THIS queryExecution; count() plans its own).
        // Simple-format marks a whole-stage-codegen'd operator "*(stageId)"
        df.collect()
        val fin = df.queryExecution.executedPlan.toString
        val nativeLine = fin.linesIterator
          .find(l => l.contains("asciinormalize") || l.contains("strippedcount"))
        assert(nativeLine.exists(_.contains("*(")),
          s"$name native expression not inside a codegen stage:\n${fin.take(1200)}")
      }
    }
  }

  test("dedup signature scans plan the native shingle path (no HOF lambdas)") {
    // the signature scans once paid an interpreted per-shingle lambda
    // (HOFs are CodegenFallback) plus an interpreted md5 per element in
    // the hashed form — the fused native expressions must stay in the
    // plan and no lambdafunction may reappear below the first aggregate
    for (name <- Seq("q_minhash_sig", "q_dedup_ngram", "q_corpus_jaccard")) {
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("shinglehashes"),
        s"$name lost the fused shingle-hash expression:\n${plan.take(1200)}")
    }
    // the pure signature scan must be lambda-free end to end (the other
    // two retain bounded post-aggregation HOFs: ngram's pair enumeration
    // over ≤ dfCap-id bucket arrays and jaccard's array_sort comparator
    // over k=128 sketches — KB-scale steps, not per-document scans)
    val sigPlan = graft.SparkEntry.queries("q_minhash_sig")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("lambdafunction"),
      s"q_minhash_sig still plans an interpreted HOF lambda:\n${sigPlan.take(1600)}")
    for (name <- Seq("q_decontaminate", "q_contaminated")) {
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("wordshingles"),
        s"$name lost the native shingle expression:\n${plan.take(1200)}")
    }
  }

  test("IVF centroid assignment is a scan-local projection (no N×K aggregate, no SortAggregate)") {
    // the assignment must be an ivf_assign/ivf_probes projection over
    // the collected centroid table, evaluated on the embeddings scan
    // with no shuffle in between — never an N×K argmax_by aggregate
    // keyed on vec_id, nor a SortAggregate. q_dedup_embedding_ivf and
    // q_semdedup assign inside their checkpoint, so their final plans
    // only read it back.
    for (name <- Seq("q_ann_ivf", "q_dedup_embedding_ivf", "q_kmeans_step", "q_kmeans_2iter",
      "q_semdedup", "q_hard_negatives_ivf")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(argmaxAggs(plan).isEmpty,
        s"$name plans an N×K argmax_by aggregate:\n${plan.toString.take(1600)}")
      assert(PlanShape.all[SortAggregateExec](plan).isEmpty,
        s"$name plans a SortAggregate:\n${plan.toString.take(1600)}")
      if (name == "q_dedup_embedding_ivf" || name == "q_semdedup")
        assert(readsOneAssignment(plan),
          s"$name recomputes its assignment:\n${plan.toString.take(1600)}")
      else
        assert(PlanShape.scanLocal(plan, Assign: _*),
          s"$name lost the scan-local assignment:\n${plan.toString.take(1600)}")
    }
  }

  test("no registered query plans an unpartitioned window over corpus-sized input") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window, WindowGroupLimit}
    // A partition-less Window is a single-reducer global sort — a scale
    // killer on corpus-sized input. The enumerated exceptions are the
    // ONLY queries allowed one, each over a provably bounded table:
    //  - q_seq_pack / q_vocab_build: the distributed-ordered-cumsum
    //    prefix-offset window runs over per-PARTITION totals (one row
    //    per Spark partition — partition-count-sized);
    //  - q_bm25 / q_bpe_pairs / q_dsir: the rank-stamping window runs
    //    over an upstream limit(k) table (k rows); q_dsir additionally
    //    sums its global token masses over the per-bucket distribution
    //    table (≤ `buckets` rows — a fixed parameter, key `b`);
    //  - q_shard_balance: the prefix-offset window runs over the
    //    per-partition totals table (seq_pack shape — one row per
    //    Spark partition, grouped solely by pid).
    // The structural check below proves boundedness per hit: the
    // window's child subtree must contain a Limit, or an Aggregate
    // grouped solely by the spark_partition_id-derived pid key or the
    // fixed-bucket key b.
    val allowed = Set("q_seq_pack", "q_vocab_build", "q_vocab_coverage",
      "q_bm25", "q_bpe_pairs", "q_dsir", "q_shard_balance")
    def boundedBelow(child: LogicalPlan): Boolean =
      child.collect {
        case _: GlobalLimit => true
        case _: LocalLimit => true
        case a: Aggregate if a.groupingExpressions.size == 1 &&
          Seq(Seq("pid"), Seq("b")).contains(
            a.groupingExpressions.head.references.map(_.name).toSeq) => true
      }.nonEmpty
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val hits = fn(spark, sf).queryExecution.optimizedPlan.collectWithSubqueries {
        case w: Window if w.partitionSpec.isEmpty => w.child
        case w: WindowGroupLimit if w.partitionSpec.isEmpty => w.child
      }
      hits.foreach { child =>
        if (!allowed.contains(name)) offenders += s"$name (not allowlisted)"
        else if (!boundedBelow(child)) offenders += s"$name (child not provably bounded)"
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded input: ${offenders.mkString("; ")}")
  }

  test("IVF hard negatives: candidate join is list-keyed and list scans prune") {
    import graft.sim.Ann
    val e = graft.util.D.t(spark, sf, "embeddings")
    // 1. the candidate join must be an equi-join on list_id (members
    //    meet broadcast probes hash-keyed — never an unkeyed N×Q
    //    nested loop like the brute-force form; the only
    //    BroadcastNestedLoopJoin allowed is the N×K centroid scoring)
    val df = Ann.hardNegativesIvf(e, 40, 25, 7, 3, 3)
    val plan = df.queryExecution.executedPlan
    assert(listKeyed(plan), s"probe join not list-keyed:\n${plan.toString.take(1600)}")
    // 2. the physical 100 TB analog: with the corpus laid out
    //    partitionBy(list_id), an anchor's probed lists prune at the
    //    scan, so the corpus side READS only probed lists
    val assign = Ann.assignLists(e, 25, 7)
    val path = "/tmp/graft_hn_lists"
    e.join(assign, "vec_id").write.mode("overwrite").partitionBy("list_id").parquet(path)
    val probed = assign.select("list_id").distinct().orderBy("list_id")
      .limit(3).collect().map(_.getLong(0))
    val scan = spark.read.parquet(path).filter(col("list_id").isin(probed: _*))
    val scanPlan = scan.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") && scanPlan.contains(probed.head.toString),
      s"probed-list scan not pruned:\n${scanPlan.take(1200)}")
    assert(scan.count() < e.count(), "pruned scan read the whole corpus")
    // 3. blocked-vs-global consistency: per anchor, the IVF top
    //    negative scores candidates from probed lists ONLY, so its
    //    cosine can never EXCEED the brute-force global top — and every
    //    IVF row must be a legal brute-force candidate (different
    //    label). (Exact-recall agreement is NOT asserted: the test
    //    embeddings are random high-dim vectors, where true neighbors
    //    scatter uniformly across lists and any fixed nprobe recalls
    //    poorly — the known ANN property, not a defect.)
    val bruteTop = Ann.hardNegatives(e, 40, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val ivfRows = df.collect()
    assert(ivfRows.nonEmpty)
    ivfRows.filter(_.getLong(1) == 1L).foreach { r =>
      val (q, c) = (r.getLong(0), r.getDouble(4))
      assert(c <= bruteTop(q) + 1e-9,
        s"anchor $q: blocked top cosine $c beats global top ${bruteTop(q)}")
    }
  }

  test("exact embeddingPairs fail-fasts a hot label block (Guard.MaxPairBlockRows)") {
    import graft.util.Guard
    val e = graft.util.D.t(spark, sf, "embeddings")
    // bits=0 self-joins each label block whole (the reference's exact
    // semantics) — a pathological hot label must error diagnosably
    // instead of grinding one reducer through ~n²/2 comparisons
    val old = Guard.MaxPairBlockRows
    try {
      Guard.MaxPairBlockRows = 3L // every sf label block exceeds this
      val ex = intercept[Throwable](graft.sim.Ann.embeddingPairs(e, 0.3).collect())
      val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("pair-enumeration block"),
        s"guard error not raised / not diagnosable:\n${msgs.take(800)}")
    } finally Guard.MaxPairBlockRows = old
    // at the default bound the exact path is unchanged (value parity vs
    // the oracle is pinned by q_dedup_embedding's CORRECTNESS row)
    assert(graft.sim.Ann.embeddingPairs(e, 0.3).count() > 0)
  }

  test("ngramJaccard(cache=true) self-cleans its internal persist after the action") {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def pollEmpty(): Boolean = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!cm.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      cm.isEmpty
    }
    spark.catalog.clearCache()
    val docs = graft.util.D.t(spark, sf, "documents")
    val q1 = graft.dedup.Dedup.ngramJaccard(docs, "source", 0.02, cache = true)
    // the opt-in persist is registered at build time...
    assert(!cm.isEmpty, "expected the opt-in persist to be registered")
    // a SECOND identical build must get its own cache entry (the
    // __cache_build marker): without it, build 1's async cleanup would
    // unpersist the shared plan-keyed entry under build 2's action
    val q2 = graft.dedup.Dedup.ngramJaccard(docs, "source", 0.02, cache = true)
    assert(q1.count() > 0)
    // build 1's one-shot listener fires (async bus) but must NOT take
    // build 2's cache with it: the manager may never go empty here —
    // give the bus a moment, then require the surviving entry
    Thread.sleep(1500)
    assert(!cm.isEmpty, "build 1's cleanup cross-fired build 2's cache")
    assert(q2.count() > 0)
    // ...after BOTH actions, both one-shot listeners have cleaned up
    assert(pollEmpty(), "internal persists still cached after the actions")
  }

  test("ngramJaccard verification joins have no forced broadcast") {
    // a broadcast() HINT on the corpus-sized shingle-array table would
    // ship it to the driver at any size — with the hint absent, shrinking
    // autoBroadcastJoinThreshold must turn every join in the plan into a
    // shuffle join (AQE may still convert small sides at runtime, which
    // is the wanted behavior; the HINT would make it unconditional)
    val docs = graft.util.D.t(spark, sf, "documents")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
                "spark.sql.adaptive.enabled" -> "false") {
      val q = graft.dedup.Dedup.ngramJaccard(docs, "source", 0.02)
      val plan = q.queryExecution.executedPlan
      assert(PlanShape.all[BroadcastHashJoinExec](plan).isEmpty &&
        PlanShape.all[BroadcastNestedLoopJoinExec](plan).isEmpty,
        s"forced broadcast survives threshold=-1:\n${plan.toString.take(1500)}")
    }
  }

  test("decontaminate broadcasts the eval shingle set, not the corpus") {
    // the eval slice is benchmark-sized (small); the plan must broadcast
    // THAT side so the corpus never shuffles for the contamination join.
    // Both join inputs scan `documents` at test scale, so asserting on
    // the mere presence of a broadcast would pass even if the CORPUS
    // side were broadcast — instead locate every BroadcastExchange and
    // require its subtree to be the eval chain (distinguished by its
    // distinct aggregation; the corpus side has no aggregate below the
    // join)
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val docs = graft.util.D.t(spark, sf, "documents")
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val p = graft.text.Corpus.decontaminate(docs, col("doc_id") % 97 === 0)
        .queryExecution.executedPlan
      val bcasts = p.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, s"eval-side broadcast missing:\n${p.toString.take(1500)}")
      bcasts.foreach { b =>
        assert(b.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"broadcast subtree is not the eval aggregate:\n${b.toString.take(1500)}")
      }
    }
    // and no broadcast survives when broadcasting is disabled outright —
    // i.e. the broadcast is the optimizer's size-based choice, not a hint
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
                "spark.sql.adaptive.enabled" -> "false") {
      val p2 = graft.text.Corpus.decontaminate(docs, col("doc_id") % 97 === 0)
        .queryExecution.executedPlan
      assert(PlanShape.all[BroadcastHashJoinExec](p2).isEmpty,
        s"forced broadcast hint present:\n${p2.toString.take(1500)}")
    }
  }

  test("semDedup's N x K assignment executes exactly once") {
    // four consumers read the assignment (block counts, both pair
    // sides, the report), all from one checkpoint: in the FINAL
    // adaptive plan every leaf must read that one checkpointed RDD,
    // and no assignment may be recomputed.
    val df = graft.SparkEntry.queries("q_semdedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(readsOneAssignment(plan),
      s"q_semdedup does not read one materialized assignment:\n${plan.toString.take(1600)}")
  }

  test("derived totals reuse the grouped exchange at runtime") {
    // many_to_one's lt/ct and the outlier explainer's per-group totals
    // are RE-AGGREGATIONS of the same aggregate (identical subtrees)
    // precisely so the runtime exchange reuse collapses them to one
    // scan — assert the final adaptive plan actually contains
    // ReusedExchange nodes
    for (name <- Seq("q_dsir", "q_tfidf_terms", "q_bm25")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"$name: no runtime exchange reuse — identical-subtree property regressed:\n${p.take(1200)}")
    }
    // q_semdedup and q_dedup_embedding_ivf share their assignment
    // through one checkpoint instead of a reused exchange: every leaf
    // of their final plans must read that one materialized RDD
    for (name <- Seq("q_semdedup", "q_dedup_embedding_ivf")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(readsOneAssignment(p),
        s"$name: consumers do not share one materialized assignment:\n${p.toString.take(1200)}")
    }
    // q_outlier_explain left the ReusedExchange list in round 7: reuse
    // never actually collapsed its three differently-pruned cube
    // consumers (the r6 regression — the exploded corpus scan ran three
    // times). Outlier.explain and the FEDEx count-table tails now
    // collect their cube / count table ONCE and finish on the driver,
    // returning a LocalRelation, and so does value_counts (its total
    // no longer re-aggregates the groups: the counts are gathered once).
    // The sharp pin for that design: the
    // returned plan is a local table scan with no file source and no
    // shuffle — the corpus scan provably ran exactly once (inside the
    // single bounded collect), and consuming the result launches no job.
    for (name <- Seq("q_value_counts", "q_outlier_explain", "q_fedex_filter", "q_fedex_filter_influence",
                     "q_fedex_shapley", "q_fedex_groupby", "q_fedex_groupby_influence")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(PlanShape.finishesLocally(p),
        s"$name's finish plan is not one local table scan — the one-collect " +
          s"LocalRelation contract regressed:\n${p.toString.take(1200)}")
    }

    // q_many_to_one left the ReusedExchange list in round 11: its
    // n_label/n_cond totals are now key-partitioned WINDOW sums over
    // the one lc aggregate instead of re-aggregations joined back, so
    // there is no duplicate subtree left to reuse — the sharp pin is
    // that the exploded-pairs corpus aggregate survives exactly ONCE
    // in the final adaptive plan (the same property reuse used to
    // deliver, without depending on reuse firing).
    val mto = graft.SparkEntry.queries("q_many_to_one")(spark, sf)
    mto.collect()
    val mtoPlan = mto.queryExecution.executedPlan
    val mtoAggs = partialCounts(mtoPlan)
    assert(mtoAggs == 1,
      s"q_many_to_one runs the pairs aggregate $mtoAggs times (want 1):\n${mtoPlan.toString.take(1600)}")

    // contains("ReusedExchange") is a weak pin (one reuse can coexist
    // with duplicated corpus scans — exactly how dsir's lang-filtered
    // target branch regressed to FOUR tokenize-aggregates in round 5).
    // Sharp property for dsir: the FINAL adaptive plan runs the
    // per-(doc, lang, dl, b) corpus tokenize-aggregate exactly ONCE.
    val dsir = graft.SparkEntry.queries("q_dsir")(spark, sf)
    dsir.collect()
    val finalPlan = dsir.queryExecution.executedPlan
    val corpusAggs = partialCounts(finalPlan)
    assert(corpusAggs == 1,
      s"q_dsir runs the corpus aggregate $corpusAggs times (want 1):\n${finalPlan.toString.take(1600)}")

    // q_events_retention regressed the same way in round 7's plan
    // audit: cohorts and cohort sizes were separate aggregate branches
    // re-joined to the deduped rows — THREE events FileScans, zero
    // reuse. The one-scan design (window-min cohort + offset-0-cell
    // cohort size) must keep exactly ONE corpus leaf.
    val ret = graft.SparkEntry.queries("q_events_retention")(spark, sf)
    ret.collect()
    val retPlan = ret.queryExecution.executedPlan
    val retScans = PlanShape.all[FileSourceScanExec](retPlan).size
    assert(retScans == 1,
      s"q_events_retention scans the events table $retScans times (want 1):\n${retPlan.toString.take(1600)}")

    // q_many_to_one_conj: lc/lt/ct were three aggregations of the
    // corpus projection (4 FileScans — and the first grouping-sets
    // attempt still split into per-consumer scans because the gid
    // filters pushed below the aggregate). The landed form is ONE
    // Expand aggregation + windows over the bounded cell table: the
    // plan may touch the corpus at most twice (binning stats + cells).
    val conj = graft.SparkEntry.queries("q_many_to_one_conj")(spark, sf)
    conj.collect()
    val conjPlan = conj.queryExecution.executedPlan
    val conjScans = PlanShape.all[FileSourceScanExec](conjPlan).size
    assert(conjScans <= 2,
      s"q_many_to_one_conj scans the corpus $conjScans times (want <= 2):\n${conjPlan.toString.take(1600)}")
    assert(PlanShape.all[ExpandExec](conjPlan).nonEmpty,
      s"q_many_to_one_conj lost the grouping-sets Expand:\n${conjPlan.toString.take(1200)}")
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("stratified sample executes as WindowGroupLimit, not a full sort-rank") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(md5(col("o_orderkey").cast("string").cast("binary")), col("o_orderkey"))
    val df = graft.util.D.t(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k filter not pushed into the window:\n${plan.take(1200)}")
    val got = df.groupBy("o_orderpriority").count().collect()
    assert(got.forall(_.getLong(1) <= 40))
  }

  test("incremental dedup joins band keys, not documents") {
    val docs = graft.util.D.t(spark, sf, "documents")
    val out = graft.dedup.Dedup.minhashPairsAgainst(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0),
      graft.dedup.Dedup.minhashSig(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)))
    val plan = out.queryExecution.executedPlan
    assert(PlanShape.all[BroadcastNestedLoopJoinExec](plan).isEmpty &&
      PlanShape.all[CartesianProductExec](plan).isEmpty,
      s"incremental dedup planned a nested loop:\n${plan.toString.take(1200)}")
    // a self-match is impossible across the disjoint batch/index split
    assert(out.filter(col("new_doc") === col("index_doc")).count() == 0)
  }

  test("range join plans as an equi-join on the band, never a nested loop") {
    import graft.operators.RangeJoin
    val e = graft.util.D.normTs(graft.util.D.t(spark, sf, "events"))
    val pts = e.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("pos_us"))
    val win = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("win_id"),
        (unix_micros(col("ts")) - 300000000L).as("lo_us"),
        (unix_micros(col("ts")) + 300000000L).as("hi_us"))
    val joined = RangeJoin.pointInInterval(pts, "pos_us", win, "lo_us", "hi_us", 600000000L)
    val plan = joined.queryExecution.executedPlan
    // the whole point: a corpus×corpus range predicate must NOT plan as
    // BroadcastNestedLoopJoin/CartesianProduct — the band key makes it an
    // ordinary equi-join (broadcast-hash is fine when one side is small;
    // at scale AQE falls back to the shuffled form on the same key)
    assert(PlanShape.all[BroadcastNestedLoopJoinExec](plan).isEmpty &&
      PlanShape.all[CartesianProductExec](plan).isEmpty,
      s"range join planned a nested loop:\n${plan.toString.take(1500)}")
    assert(plan.toString.contains("__band"), s"band key missing from join:\n${plan.toString.take(1500)}")
    // every banded match satisfies the exact predicate, and the banded
    // form finds exactly the rows the naive predicate join finds
    val naive = pts.join(win,
      col("lo_us") <= col("pos_us") && col("pos_us") <= col("hi_us"))
    assert(joined.count() == naive.count())
    // an interval wider than the band still matches (multi-band replication)
    val wide = RangeJoin.pointInInterval(
      pts, "pos_us",
      win.limit(1).withColumn("hi_us", col("lo_us") + 3600000000L), // 1 h span
      "lo_us", "hi_us", 600000000L)
    assert(wide.count() > 0)
    // shared column names are rejected up front (ambiguous output refs)
    val clash = intercept[IllegalArgumentException](RangeJoin.pointInInterval(
      pts, "pos_us", win.withColumnRenamed("win_id", "event_id"),
      "lo_us", "hi_us", 600000000L))
    assert(clash.getMessage.contains("disjoint"))
    // an interval covering more bands than the cap fails fast with the
    // offending span instead of exploding sequence() toward the array cap
    val old = RangeJoin.MaxBandsPerInterval
    try {
      RangeJoin.MaxBandsPerInterval = 3L
      val e2 = intercept[Throwable](RangeJoin.pointInInterval(
        pts, "pos_us",
        win.limit(1).withColumn("hi_us", col("lo_us") + 3600000000L),
        "lo_us", "hi_us", 600000000L).count())
      val msgs = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("spans more than"), s"cap error not raised: ${msgs.take(400)}")
    } finally RangeJoin.MaxBandsPerInterval = old
  }

  test("auto-exploration produces a deterministic mixed-step report") {
    import graft.core.{AutoExplore, ExplainFrame}
    val li = ExplainFrame(
      graft.util.D.t(spark, sf, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_orderkey"),
      "lineitem")
    val orders = ExplainFrame(
      graft.util.D.t(spark, sf, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
      "orders")
    val e = AutoExplore.explore(li, iterations = 4, aux = Map("orders" -> orders))
    assert(e.steps.length === 4)
    assert(e.steps.map(_.iteration) === Seq(1, 2, 3, 4))
    assert(e.steps.forall(_.topExplanation.nonEmpty))
    // the pool spans filter AND groupby candidates (joins compete too)
    assert(e.steps.map(_.kind).distinct.size >= 2)
    assert(e.finalReport.contains("lineitem"))
    val again = AutoExplore.explore(li, iterations = 4, aux = Map("orders" -> orders))
    assert(e.steps.map(s => (s.query, s.score)) === again.steps.map(s => (s.query, s.score)))
  }

  test("auto-exploration saves, reloads, and resumes identically") {
    import graft.core.{AutoExplore, ExplainFrame}
    val li = ExplainFrame(
      graft.util.D.t(spark, sf, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_returnflag"),
      "lineitem")
    val full = AutoExplore.explore(li, iterations = 4)
    val half = AutoExplore.explore(li, iterations = 2)
    val path = java.nio.file.Files.createTempFile("explore", ".json").toString
    AutoExplore.save(half, path)
    val loaded = AutoExplore.load(path)
    assert(loaded === half) // lossless JSON round-trip
    // resuming the loaded exploration = running it straight through
    val resumed = AutoExplore.resume(loaded, li, iterations = 2)
    assert(resumed === full)
    // follow-up seeds the report with the explanation description
    val fu = AutoExplore.followUp(li, "quantity drop in returned items", iterations = 1)
    assert(fu.finalReport.startsWith("Follow-up on: quantity drop"))
  }

  test("round-6 audit operators plan no cartesian; nested loop only where queries broadcast") {
    // every join in the audit/diagnostic batch must be key-based (hash/
    // sort-merge) — a CartesianProduct or an unkeyed nested loop over
    // corpus-sized sides is the 100 TB scale-killer these plans are
    // designed around. The ONE sanctioned BroadcastNestedLoopJoin is
    // q_ann_recall's inherited bruteTopK N×Q broadcast-queries scan
    // (the exact baseline the IVF side exists to avoid).
    val keyedOnly = Seq("q_split_leakage", "q_events_retention", "q_events_anomaly",
      "q_pagerank_step", "q_pagerank_2iter", "q_embed_drift", "q_dedup_url",
      "q_text_entropy", "q_tok_truncation", "q_minhash_curve", "q_group_topk",
      "q_anomaly_mad")
    keyedOnly.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
      assert(PlanShape.all[CartesianProductExec](plan).isEmpty, s"$n plans a cartesian product")
      assert(PlanShape.all[BroadcastNestedLoopJoinExec](plan).isEmpty,
        s"$n plans an unkeyed nested loop")
    }
    val recall = graft.SparkEntry.queries("q_ann_recall")(spark, sf).queryExecution.executedPlan
    assert(PlanShape.all[CartesianProductExec](recall).isEmpty)
    assert(PlanShape.all[BroadcastNestedLoopJoinExec](recall).nonEmpty,
      "q_ann_recall lost its documented broadcast-queries scan shape")
  }
  test("session-6b operators: key-based joins only; broadcast scans where designed") {
    // same contract as the round-6 audit batch for this session's
    // additions: every join key-based, no cartesian, no unkeyed nested
    // loop over corpus-sized sides. Sanctioned BroadcastNestedLoopJoins:
    // the ANN family's broadcast-anchor/query scans (q_triplets inherits
    // bruteTopK's N x Q shape; the IVF-PQ coarse quantizer scores
    // corpus x broadcast-centroids) -- those are the documented
    // broadcast-small-side designs, not unkeyed corpus x corpus.
    val keyedOnly = Seq("q_dedup_substr", "q_dedup_substr50", "q_dedup_substr_cut",
      "q_salted_nunique", "q_corpus_diff",
      "q_repetition_ngram", "q_sample_weighted",
      "q_events_attribution", "q_dedup_cluster_keep", "q_quality_funnel")
    keyedOnly.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
      assert(PlanShape.all[CartesianProductExec](plan).isEmpty, s"$n plans a cartesian product")
      assert(PlanShape.all[BroadcastNestedLoopJoinExec](plan).isEmpty,
        s"$n plans an unkeyed nested loop")
    }
    // q_join_size_est cross-joins three 1-ROW aggregate frames (the
    // sketch rows) — that BroadcastNestedLoopJoin moves k longs, not
    // corpus rows, so only the cartesian check applies
    Seq("q_triplets", "q_ann_ivfpq", "q_join_size_est").foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
      assert(PlanShape.all[CartesianProductExec](plan).isEmpty, s"$n plans a cartesian product")
    }
    // q_sample_weighted's per-group top-k must run as the bounded
    // window-group-limit heap, never a full per-group sort feed
    val ws = graft.SparkEntry.queries("q_sample_weighted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ws.contains("WindowGroupLimit"),
      "q_sample_weighted lost its WindowGroupLimit rank cut")
    // q_dedup_substr_cut's sweep contract: every corpus leaf is
    // column-pruned to (doc_id, text) subsets (4 scans — window
    // explode, its count re-reference, token explode, doc_id spine),
    // the coverage window is doc_id-PARTITIONED (one linear sweep per
    // doc, never a global sort), and exactly one Window op exists
    val cut = graft.SparkEntry.queries("q_dedup_substr_cut")(spark, sf)
    cut.collect()
    val cutPlan = cut.queryExecution.executedPlan
    val cutScans = PlanShape.all[FileSourceScanExec](cutPlan)
    assert(cutScans.size <= 4,
      s"q_dedup_substr_cut scans the corpus ${cutScans.size} times (want <= 4):\n${cutPlan.toString.take(1600)}")
    val cutSchemas = cutScans.map(_.requiredSchema.fieldNames.toSeq)
    assert(cutSchemas.nonEmpty && cutSchemas.forall(_.forall(Set("doc_id", "text"))),
      s"q_dedup_substr_cut reads more than (doc_id, text): $cutSchemas")
    assert(PlanShape.all[WindowExec](cutPlan).size == 1,
      "q_dedup_substr_cut must sweep with exactly ONE window pass")
    // the exchange that feeds the sweep window hash-partitions by doc_id
    val sweepIn = PlanShape.all[WindowExec](cutPlan)
      .flatMap(w => PlanShape.all[ShuffleExchangeLike](w).headOption.map(_.outputPartitioning))
    assert(sweepIn.nonEmpty && sweepIn.forall {
        case h: HashPartitioning => h.expressions.headOption.exists {
          case a: Attribute => a.name == "doc_id"
          case _ => false
        }
        case _ => false
      },
      s"the sweep window must be doc_id-partitioned (per-doc linear, no global sort): $sweepIn")
  }
  test("round-7 operators: IVF triplets list-keyed; phash pairs band-joined") {
    // q_triplets_ivf is the registered sub-quadratic path: candidates
    // must meet anchors through the list_id equi-join (the
    // hardNegativesIvf contract) with the scan-local ivf_assign /
    // ivf_probes list assignment — no N×K aggregate, no SortAggregate
    val tiPlan = graft.SparkEntry.queries("q_triplets_ivf")(spark, sf)
      .queryExecution.executedPlan
    val ti = tiPlan.toString
    assert(listKeyed(tiPlan),
      s"q_triplets_ivf probe join not list-keyed:\n${ti.take(1600)}")
    val assignNames = PlanShape.evaluating(tiPlan, Assign: _*)
      .flatMap(_.expressions.flatMap(_.collect { case e => e.prettyName })).toSet
    assert(assignNames("ivf_assign") && assignNames("ivf_probes") &&
      argmaxAggs(tiPlan).isEmpty &&
      PlanShape.all[SortAggregateExec](tiPlan).isEmpty,
      s"q_triplets_ivf lost the scan-local list assignment:\n${ti.take(1600)}")
    assert(PlanShape.all[CartesianProductExec](tiPlan).isEmpty)
    // q_multimodal_phash_pairs: candidates come from the 4×15-bit band
    // self-join on (k, band) — never an unkeyed pair join over payloads;
    // the band join ships (doc_id, psig) only (no text/payload column
    // may cross the exchange)
    val pp = graft.SparkEntry.queries("q_multimodal_phash_pairs")(spark, sf)
      .queryExecution.executedPlan
    val ppStr = pp.toString
    assert(PlanShape.all[CartesianProductExec](pp).isEmpty &&
      PlanShape.all[BroadcastNestedLoopJoinExec](pp).isEmpty,
      s"phash pair join is not key-based:\n${ppStr.take(1600)}")
    assert(ppStr.contains("band"), s"band key missing:\n${ppStr.take(1200)}")
    PlanShape.all[ShuffleExchangeLike](pp).map(_.child.output.map(_.name)).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("payload"),
        s"payload column crosses an exchange: $cols")
    }
  }

  test("sf10 fixes: seeds and PQ codebooks bounded; refine coarse stage is a sketch, not a sort") {
    import graft.sim.Ann
    // 1. the seed rule itself is capped: a 100k-id corpus yields exactly
    //    MaxSeeds centroids where the uncapped mod rule would yield 4,000
    //    (K ∝ N is how the sf10 run turned every O(N·K) assignment scan
    //    quadratic: q_ann_ivf measured 250 s before the cap)
    val ids = spark.range(0, 100000L).select(col("id").as("vec_id"))
    assert(Ann.seedRows(ids, 25, 7).count() === Ann.MaxSeeds.toLong)
    // 1b. the cap is RANK-based, not an absolute id bound: an OFFSET id
    //     space (snowflake ids, shard offsets) must still yield seeds —
    //     the absolute bound silently selected ZERO (caught by the
    //     round-8 alternate-seed audit: 11 vector queries went 0-row)
    val offIds = spark.range(70000000L, 70100000L).select(col("id").as("vec_id"))
    assert(Ann.seedRows(offIds, 25, 7).count() === Ann.MaxSeeds.toLong)
    // ...and it picks the LOWEST-id members (deterministic, order-free)
    assert(Ann.seedRows(ids, 25, 7).agg(max("vec_id")).collect()(0).getLong(0)
      === 25L * (Ann.MaxSeeds - 1) + 7L)
    // 2. the cap reaches both engines' texts as the same rank limit
    val ivf = graft.SparkEntry.queries("q_ann_ivf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ivf.contains("TakeOrderedAndProject") || ivf.contains("Limit"),
      s"seed rank cap missing from q_ann_ivf plan:\n${ivf.take(1600)}")
    assert(graft.SparkEntry.oracleSql("q_ann_ivf").contains(s"LIMIT ${Ann.MaxSeeds}"))
    assert(graft.SparkEntry.oracleSql("q_pq_codes").contains("LIMIT 256"))
    // 3. q_ann_refine's coarse ranking is the bounded kmin sketch — the
    //    N×Q scored rows are reduced map-side, never sorted or shuffled
    //    (the predecessor window carried 1 KB arrays per scored row into
    //    the rank sort and did not complete at sf10); the only Window
    //    left is the exact re-rank over Q×coarseC candidates
    val ref = graft.SparkEntry.queries("q_ann_refine")(spark, sf).queryExecution
    assert(ref.executedPlan.toString.contains("kmin("),
      s"refine lost the bounded coarse sketch:\n${ref.executedPlan.toString.take(1600)}")
    val wins = ref.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(wins.size === 1,
      s"refine should plan exactly the one re-rank window, got ${wins.size}")
    // 4. both ADC serving paths (flat and probed) rank through the
    //    bounded sketch, never a (query, vec) hash-agg + rank window —
    //    the flat form's agg shuffle wrote Q·N·m rows (78 GB at sf10)
    for (q <- Seq("q_ann_pq", "q_ann_ivfpq")) {
      val p = graft.SparkEntry.queries(q)(spark, sf).queryExecution
      assert(p.executedPlan.toString.contains("kmin("),
        s"$q lost the bounded ADC top-k sketch:\n${p.executedPlan.toString.take(1600)}")
      val adcWins = p.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.map(_.name).toSeq == Seq("query_id")) => w }
      assert(adcWins.isEmpty, s"$q still ranks through a per-query window")
    }
  }

  test("nprobe curve: one scoring pass serves every point — one assignment, no per-point corpus rescans") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // the nprobeCurve scaladoc's claim, pinned: candidates are scored
    // ONCE at depth max(probes); the per-nprobe re-rank works off that
    // KB-scale scored table, so the |probes| curve points must NOT
    // multiply the corpus-side work
    val qe = graft.SparkEntry.queries("q_ann_nprobe_curve")(spark, sf).queryExecution
    val plan = qe.optimizedPlan
    // exactly ONE member assignment (ivf_assign) and ONE probe selection
    // (ivf_probes) in the whole curve plan — a per-point rescan would
    // plan five of each — and no N×K argmax aggregate at all
    def assignsNamed(n: String) = plan.collect {
      case x if x.expressions.exists(_.exists(_.prettyName == n)) => x }
    assert(assignsNamed("ivf_assign").size === 1 && assignsNamed("ivf_probes").size === 1,
      s"curve should plan exactly one IVF assignment and one probe selection, got " +
        s"${assignsNamed("ivf_assign").size} and ${assignsNamed("ivf_probes").size}")
    val argmaxAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.prettyName == "argmax_by")) => a }
    assert(argmaxAggs.isEmpty, s"curve plans ${argmaxAggs.size} argmax_by aggregates")
    // the member-side probe join (members ⋈ probes on list_id) appears
    // once, not once per nprobe point
    val listJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.map(_.name).exists(_ == "list_id")) => j }
    assert(listJoins.size === 1,
      s"curve should plan exactly one member-probe list join, got ${listJoins.size}")
    // exchanges keyed on nprobe exist ONLY above the scored candidate
    // table (bounded: ≤ |probes|·N·maxP/K rows of scalars): the
    // (nprobe, query_id) re-rank window shuffle and the 5-group final
    // aggregate — the corpus-side subtrees (scoring, assignment, member
    // join) sit entirely below them and are never re-keyed per point
    val exec = qe.executedPlan.toString
    val nprobeExchanges = "hashpartitioning\\(nprobe".r.findAllIn(exec).size
    assert(nprobeExchanges <= 2,
      s"expected only the candidate re-rank window + final aggregate exchanges keyed on nprobe, got $nprobeExchanges:\n${exec.take(1200)}")
  }
}
