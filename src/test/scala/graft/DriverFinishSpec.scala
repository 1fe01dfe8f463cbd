package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The outlier, FEDEx and groupby explainers finish on the driver from
  * one bounded collect. These property tests pin each driver finish
  * against the in-plan Spark chain it replaced, rebuilt inline below as a
  * reference, on seeded random inputs with ties (also at the topK cut),
  * single-bin attributes, nr = 0 bins, NULL keys and values, σ = 0,
  * bins that empty a group, a single group, empty input and non-BMP
  * strings in the sort keys. Rows AND schema must be identical — the
  * driver arithmetic has to be bit-exact, not approximately equal. */
class DriverFinishSpec extends AnyFunSuite {
  import TestSession._

  // ---- the replaced in-plan chains ---------------------------------------

  /** Fedex's array-path tail over the count table. */
  private object FedexRef {
    private val termDec = DecimalType(18, 9)

    private def klTerm(nr: Column, ns: Column, nRes: Column, nSrc: Column, k: Column): Column = {
      val q = (nr + lit(0.5)) / (nRes + lit(0.5) * k)
      val p = (ns + lit(0.5)) / (nSrc + lit(0.5) * k)
      (q * log(q / p)).cast(termDec)
    }

    private def attrCells(counts: DataFrame): DataFrame =
      counts.filter(col("ns") > 0)
        .groupBy("attribute")
        .agg(collect_list(struct(col("bin"), col("ns"), col("nr"))).as("cells"),
          sum(col("ns")).as("n_src"), sum(col("nr")).as("n_res"), count(lit(1)).as("k"))
        .withColumn("k", InPlanRef.cellCap(col("k"), col("k"), "Fedex.attrCells"))

    private def klSum(cells: Column, nRes: Column, nSrc: Column, k: Column): Column =
      (aggregate(cells, lit(0L),
        (acc, c) => acc +
          (klTerm(c.getField("nr"), c.getField("ns"), nRes, nSrc, k) * lit(1000000000))
            .cast(LongType))
        .cast(DecimalType(28, 0)) * lit(new java.math.BigDecimal("0.000000001")))
        .cast(DoubleType)

    def filterDeviation(counts: DataFrame): DataFrame =
      attrCells(counts).select(col("attribute"), col("k").as("n_bins"),
        klSum(col("cells"), col("n_res"), col("n_src"), col("k")).as("kl_score"))

    def binShapley(counts: DataFrame): DataFrame =
      attrCells(counts)
        .select(col("attribute"), explode(transform(col("cells"), c => struct(
          c.getField("bin").as("bin"), c.getField("ns").as("ns"), c.getField("nr").as("nr"),
          klTerm(c.getField("nr"), c.getField("ns"), col("n_res"), col("n_src"), col("k"))
            .cast(DoubleType).as("shapley")))).as("p"))
        .select(col("attribute"), col("p.bin"), col("p.ns"), col("p.nr"), col("p.shapley"))

    def influenceCells(counts: DataFrame): DataFrame =
      attrCells(counts).filter(col("k") > 1).select(col("attribute"),
        klSum(col("cells"), col("n_res"), col("n_src"), col("k")).as("kl_score"),
        transform(col("cells"), e => struct(
          e.getField("bin").as("bin"), e.getField("ns").as("ns"), e.getField("nr").as("nr"),
          klSum(filter(col("cells"), x => x.getField("bin") =!= e.getField("bin")),
            col("n_res") - e.getField("nr"), col("n_src") - e.getField("ns"), col("k") - 1)
            .as("score_excl"))).as("infl"))

    def binInfluence(counts: DataFrame): DataFrame =
      influenceCells(counts)
        .select(col("attribute"), col("kl_score"), explode(col("infl")).as("p"))
        .select(col("attribute"), col("p.bin"), col("p.ns"), col("p.nr"),
          (col("kl_score") - col("p.score_excl")).as("influence"))

    /** ExplainFrame.deviationTopK. */
    def deviationTopK(counts: DataFrame, topK: Int): DataFrame =
      influenceCells(counts)
        .select(col("attribute"), col("kl_score"), explode(col("infl")).as("p"))
        .select(col("attribute"), col("kl_score"), col("p.bin").as("bin"),
          col("p.ns").as("ns"), col("p.nr").as("nr"),
          (col("kl_score") - col("p.score_excl")).as("influence"))
        .orderBy(col("kl_score").desc, col("influence").desc, col("attribute"), col("bin"))
        .limit(topK)
  }

  /** GroupByExplain's array-path zdev and exceptionality. */
  private object ZdevRef {
    import graft.explain.GroupByExplain.dval
    import InPlanRef.{dbig, sigmaExpr}

    def zdev(m: DataFrame): DataFrame = {
      val g = m.groupBy("measure")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("v").cast(dval)).cast(DoubleType).as("sv"),
          sum((col("v") * col("v")).cast(dbig)).cast(DoubleType).as("svv"),
          collect_list(struct(col("grp"), col("v"))).as("cells"))
        .withColumn("n_groups",
          InPlanRef.cellCap(col("n_groups"), col("n_groups"), "GroupByExplain.zdev"))
      val mu = col("sv") / col("n_groups")
      val sigma = sigmaExpr(col("sv"), col("svv"), col("n_groups"))
      g.select(col("measure"), col("n_groups"), explode(transform(col("cells"), c => struct(
          c.getField("grp").as("grp"), c.getField("v").as("value"),
          when(sigma > 1e-12, graft.util.D.r(abs(c.getField("v") - mu) / sigma, 6))
            .otherwise(lit(0.0)).as("zdev")))).as("p"))
        .select(col("measure"), col("p.grp").as("grp"), col("p.value").as("value"),
          col("n_groups"), col("p.zdev").as("zdev"))
    }

    def exceptionality(m: DataFrame): DataFrame =
      zdev(m).groupBy("measure")
        .agg(max(col("n_groups")).as("n_groups"), max(col("zdev")).as("exceptionality"))
  }

  /** Outlier.explain's in-plan finish over the re-entered cube. */
  private object OutlierRef {
    import graft.explain.{Correlation, Fedex}
    import graft.explain.GroupByExplain.dval
    import InPlanRef.{dbig, sigmaExpr}
    import graft.util.D

    def explain(src: DataFrame, groupCol: String, aggCol: String, target: String,
                dir: Int, attrs: Seq[String], nb: Int = 10): DataFrame = {
      val stats = Fedex.statsDf(src, attrs.map(Fedex.Attr(_, numeric = true))).get
      val binCols = attrs.map(a => Fedex.binExpr(col(a), col(s"lo_$a"), col(s"hi_$a"), nb))
      val attrArr = array((attrs :+ "__total__").map(lit): _*)
      val cubePlan = src.crossJoin(broadcast(stats))
        .select(col(groupCol).as("grp"), Correlation.quant6Col(col(aggCol)).as("fy"),
          posexplode(array(binCols :+ lit(0): _*)))
        .withColumnRenamed("pos", "ai").withColumnRenamed("col", "bin")
        .filter(col("bin").isNotNull)
        .groupBy("grp", "ai", "bin")
        .agg(count(lit(1)).as("cnt"), Correlation.chunkSumAggs("fy"): _*)
        .select(col("grp"), element_at(attrArr, col("ai") + 1).as("attribute"),
          col("bin").cast("string").as("bin"), col("cnt"),
          Correlation.value6(Correlation.recombineUnscaled("fy")).cast(D.dec25).as("sm"))
      val cube = src.sparkSession.createDataFrame(
        java.util.Arrays.asList(cubePlan.collect(): _*), cubePlan.schema)
      val tot = cube.filter(col("attribute") === "__total__")
        .groupBy("grp")
        .agg(sum(col("cnt")).as("cnt_g"), sum(col("sm")).as("sm_g"))
      def vCol(sm: Column, cnt: Column): Column = sm.cast(D.dec25).cast(DoubleType) / cnt
      val g0 = tot.select(col("grp"), vCol(col("sm_g"), col("cnt_g")).as("v"))
      def scoreExpr(vt: Column, sv: Column, svv: Column, k: Column): Column = {
        val sig = sigmaExpr(sv, svv, k)
        when(sig > 0, lit(dir) * (vt - sv / k) / sig)
          .otherwise(lit(null).cast(DoubleType))
      }
      val s0 = g0.agg(count(lit(1)).as("k"),
          sum(col("v").cast(dval)).cast(DoubleType).as("sv"),
          sum((col("v") * col("v")).cast(dbig)).cast(DoubleType).as("svv"),
          max(when(col("grp") === target, col("v"))).as("vt"))
        .select(scoreExpr(col("vt"), col("sv"), col("svv"), col("k")).as("s_full"))
      val cands = cube.filter(col("attribute") =!= "__total__")
        .select("attribute", "bin").distinct()
      val grid = cands.crossJoin(tot)
        .join(cube, Seq("attribute", "bin", "grp"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("sm", coalesce(col("sm"), lit(0).cast(D.dec25)))
        .withColumn("cnt_kept", col("cnt_g") - col("cnt"))
        .withColumn("v",
          when(col("cnt_kept") > 0,
            (col("sm_g") - col("sm")).cast(D.dec25).cast(DoubleType) / col("cnt_kept"))
            .otherwise(lit(null).cast(DoubleType)))
      val per = grid.groupBy("attribute", "bin")
        .agg(count(lit(1)).as("k"),
          sum(col("v").cast(dval)).cast(DoubleType).as("sv"),
          sum((col("v") * col("v")).cast(dbig)).cast(DoubleType).as("svv"),
          max(when(col("grp") === target, col("v"))).as("vt"),
          sum(col("cnt")).as("n_removed"),
          sum(col("cnt_g")).as("n_total"),
          min(col("cnt_kept")).as("min_kept"))
      per.crossJoin(broadcast(s0))
        .filter(col("min_kept") > 0)
        .withColumn("s_excl",
          scoreExpr(col("vt"), col("sv"), col("svv"), col("k")))
        .select(col("attribute"), col("bin"), col("n_removed"),
          D.r(col("s_full"), 6).as("s_full"),
          D.r((col("s_full") - col("s_excl")) * (col("n_total") - col("n_removed")) / col("n_total"), 6)
            .as("influence"))
        .orderBy("attribute", "bin")
    }
  }

  // ---- comparison ---------------------------------------------------------

  private def assertSame(what: String, got: DataFrame, ref: DataFrame): Unit = {
    assert(got.schema === ref.schema, s"$what: schema")
    val g = got.collect().map(_.toSeq.toList).toList
    val r = ref.collect().map(_.toSeq.toList).toList
    assert(g.length === r.length, s"$what: row count")
    // doubles compare by bits: NaN equals NaN, 0.0 differs from -0.0
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (p: java.lang.Double, q: java.lang.Double) => p.equals(q)
      case _ => x == y
    }
    g.zip(r).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.length == b.length && a.zip(b).forall { case (x, y) => same(x, y) },
        s"$what: row $i differs: $a vs $b")
    }
  }

  /** Non-BMP vs BMP-top code points: UTF-16 order puts the surrogate
    * pair first, Spark's UTF-8 byte order puts it last. */
  private val astral = "x𝔘"
  private val bmpTop = "xￚ"

  // ---- the mirror primitives ------------------------------------------------

  test("driver mirrors equal Spark's cast, round, log and sort order on boundary values") {
    import graft.util.Mirror
    import spark.implicits._
    // x.xxxxxx5 in Double.toString whose binary expansion lies just
    // below the tie: Spark's cast rounds them up, the exact expansion down
    val xs = Seq(0.5000005, -0.5000005, 2.6750005, 5e-7, 0.1234565, 1.0000005,
      1234.5678915, 2.5, -2.5, 0.49999999999999994, 1e-30, 0.0, 3.0e8)
    val got = xs.toDF("x").select(col("x"),
      col("x").cast(DecimalType(18, 6)), col("x").cast(DecimalType(24, 2)),
      col("x").cast(DecimalType(18, 9)), graft.util.D.r(col("x"), 6),
      graft.util.D.r(col("x"), 1), log(col("x"))).collect()
    for (r <- got) {
      val x = r.getDouble(0)
      assert(Mirror.castDec(x, 18, 6) === r.getDecimal(1), s"DECIMAL(18,6) of $x")
      assert(Mirror.castDec(x, 24, 2) === r.getDecimal(2), s"DECIMAL(24,2) of $x")
      assert(Mirror.castDec(x, 18, 9) === r.getDecimal(3), s"DECIMAL(18,9) of $x")
      assert(Mirror.r(x, 6) === r.getDouble(4), s"r($x, 6)")
      assert(Mirror.r(x, 1) === r.getDouble(5), s"r($x, 1)")
      assert(Option(Mirror.log(x)).map(_.doubleValue) === Option(r.get(6)), s"log($x)")
    }
    intercept[ArithmeticException](Mirror.castDec(3.0e12, 18, 6))
    intercept[Exception](Seq(3.0e12).toDF("x").select(col("x").cast(DecimalType(18, 6))).collect())

    val strs = Seq(astral, bmpTop, "x", "", "xa", null)
    val strSchema = StructType(Seq(StructField("s", StringType)))
    val strTable = Mirror.Table(strSchema, strs.map(Row(_)))
    for (k <- Seq(Mirror.asc("s"), Mirror.desc("s")))
      assertSame(s"string order $k", strTable.orderBy(k).toDF(spark),
        strTable.toDF(spark).orderBy(if (k.descending) col("s").desc else col("s")))
    val dbls = Seq(1.5, Double.NaN, Double.NegativeInfinity, -2.0, Double.PositiveInfinity, null)
    val dblSchema = StructType(Seq(StructField("d", DoubleType)))
    val dblTable = Mirror.Table(dblSchema, dbls.map(Row(_)))
    for (k <- Seq(Mirror.asc("d"), Mirror.desc("d")))
      assertSame(s"double order $k", dblTable.orderBy(k).toDF(spark),
        dblTable.toDF(spark).orderBy(if (k.descending) col("d").desc else col("d")))
  }

  // ---- FEDEx ----------------------------------------------------------------

  private val countSchema = StructType(Seq(
    StructField("attribute", StringType), StructField("bin", StringType),
    StructField("ns", LongType), StructField("nr", LongType)))

  private def counts(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def cells(a: String, k: Int) = (0 until k).map { b =>
      val ns = 1L + rnd.nextInt(400)
      Row(a, s"b$b", ns, rnd.nextLong(ns + 1))
    }
    val random = Seq("a1", "a2", "a3", astral, bmpTop)
      .flatMap(a => cells(a, 2 + rnd.nextInt(10)))
    // a twin of a1 under another name: equal kl_score and influences,
    // so ranks tie across attributes and the attribute name decides
    val twin = random.filter(_.getString(0) == "a1").map(r => Row("a1twin", r.get(1), r.get(2), r.get(3)))
    val rows = random ++ twin ++ Seq(
      Row("solo", "0", 10L, 5L),                       // k = 1
      Row("zeroed", "x", 5L, 0L), Row("zeroed", "y", 7L, 0L), // nr = 0
      Row("pruned", "p", 0L, 0L), Row("pruned", "q", 4L, 1L), // ns = 0 bin dropped
      Row(null, "n1", 6L, 2L), Row(null, "n2", 9L, 9L), // NULL attribute
      Row("nullbin", null, 3L, 1L), Row("nullbin", "z", 8L, 2L), // NULL bin
      Row("nullnr", "u", 4L, null), Row("nullnr", "w", 6L, 3L), // NULL nr
      Row("mixed", astral, 5L, 1L), Row("mixed", bmpTop, 5L, 1L), Row("mixed", "m", 2L, 2L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), countSchema)
  }

  private val emptyCounts =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), countSchema)

  test("FEDEx deviation, Shapley and influence equal the in-plan array path") {
    for (c <- Seq(counts(11), counts(12), emptyCounts)) {
      assertSame("filterDeviation", graft.explain.Fedex.filterDeviation(c),
        FedexRef.filterDeviation(c).orderBy("attribute"))
      assertSame("binShapley", graft.explain.Fedex.binShapley(c),
        FedexRef.binShapley(c).orderBy("attribute", "bin"))
      assertSame("binInfluence", graft.explain.Fedex.binInfluence(c),
        FedexRef.binInfluence(c).orderBy("attribute", "bin"))
    }
  }

  /** topK values that cut between two rows whose rank keys tie. */
  private def tieCuts(ranked: DataFrame, keys: String*): Seq[Int] = {
    val ks = ranked.collect().map(r => keys.map(k => r.get(r.fieldIndex(k))))
    ks.indices.dropRight(1).filter(i => ks(i) == ks(i + 1)).map(_ + 1)
  }

  test("FEDEx deviation topK equals the in-plan ranking, ties at the cut included") {
    import graft.util.Mirror.{asc, desc}
    for (c <- Seq(counts(21), counts(22), emptyCounts)) {
      val cuts = tieCuts(FedexRef.deviationTopK(c, 1000), "kl_score", "influence")
      if (c ne emptyCounts) assert(cuts.nonEmpty, "no tie to cut at")
      for (topK <- Seq(0, 1, 3, 1000) ++ cuts) {
        val got = graft.explain.Fedex.influenceTable(c)
          .orderBy(desc("kl_score"), desc("influence"), asc("attribute"), asc("bin"))
          .limit(topK).toDF(spark)
        assertSame(s"deviationTopK($topK)", got, FedexRef.deviationTopK(c, topK))
      }
    }
  }

  test("FEDEx tails equal the in-plan path on real count tables") {
    val li = graft.util.D.t(spark, sf, "lineitem")
    val attrs = Seq(graft.explain.Fedex.Attr("l_extendedprice", numeric = true),
      graft.explain.Fedex.Attr("l_discount", numeric = true),
      graft.explain.Fedex.Attr("l_returnflag", numeric = false))
    val c = graft.explain.Fedex.binCountsFiltered(li, col("l_quantity") >= 30, attrs)
    assertSame("filterDeviation", graft.explain.Fedex.filterDeviation(c),
      FedexRef.filterDeviation(c).orderBy("attribute"))
    assertSame("binInfluence", graft.explain.Fedex.binInfluence(c),
      FedexRef.binInfluence(c).orderBy("attribute", "bin"))
    assertSame("binShapley", graft.explain.Fedex.binShapley(c),
      FedexRef.binShapley(c).orderBy("attribute", "bin"))
  }

  // ---- groupby zdev ---------------------------------------------------------

  private val meltSchema = StructType(Seq(
    StructField("measure", StringType), StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def melt(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val random = Seq("m1", "m2", astral, bmpTop).flatMap { m =>
      (0 until 2 + rnd.nextInt(8)).map(g =>
        Row(m, if (g == 0) null else s"g$g",
          if (rnd.nextInt(9) == 0) null else java.lang.Double.valueOf(rnd.nextInt(20000) / 100.0)))
    }
    val rows = random ++ Seq(
      Row("const", "a", 4.5), Row("const", "b", 4.5), Row("const", "c", 4.5), // σ = 0
      Row("single", "only", 3.25),                                           // one group
      Row("allnull", "a", null), Row("allnull", "b", null),
      Row("tie", "lo", 1.0), Row("tie", "hi", 3.0), Row("tie", "mid", 2.0),  // equal |z|
      Row("tie2", "lo", 10.0), Row("tie2", "hi", 30.0),
      Row(null, "n", 5.0), Row(null, "o", 7.5),                              // NULL measure
      Row("keys", astral, 1.0), Row("keys", bmpTop, 9.0), Row("keys", "k", 5.0))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), meltSchema)
  }

  private val emptyMelt =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), meltSchema)

  test("groupby zdev, exceptionality and topK equal the in-plan path") {
    import graft.util.Mirror.{asc, desc}
    for (m <- Seq(melt(31), melt(32), emptyMelt)) {
      assertSame("zdev", graft.explain.GroupByExplain.zdev(m),
        ZdevRef.zdev(m).orderBy("measure", "grp"))
      assertSame("exceptionality", graft.explain.GroupByExplain.exceptionality(m),
        ZdevRef.exceptionality(m).orderBy("measure"))
      val cuts = tieCuts(ZdevRef.zdev(m).orderBy(col("zdev").desc, col("measure"), col("grp")),
        "zdev")
      if (m ne emptyMelt) assert(cuts.nonEmpty, "no tie to cut at")
      for (topK <- Seq(0, 1, 2, 5, 100) ++ cuts) {
        val got = graft.explain.GroupByExplain.zdevTable(m)
          .orderBy(desc("zdev"), asc("measure"), asc("grp")).limit(topK).toDF(spark)
        assertSame(s"zdev topK($topK)", got,
          ZdevRef.zdev(m).orderBy(col("zdev").desc, col("measure"), col("grp")).limit(topK))
      }
    }
    // the registered melt (orders by priority)
    val o = graft.util.D.t(spark, sf, "orders")
    val gm = o.groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).as("cnt"), graft.util.D.dsum(col("o_totalprice")).as("sm"))
      .select(col("grp"), explode(array(
        struct(lit("totalprice_mean").as("measure"),
          graft.util.D.r(graft.util.D.emit6(col("sm")) / col("cnt"), 6).as("v")),
        struct(lit("row_count").as("measure"), col("cnt").cast(DoubleType).as("v")))).as("mv"))
      .select(col("grp"), col("mv.measure").as("measure"), col("mv.v").as("v"))
    assertSame("zdev(orders)", graft.explain.GroupByExplain.zdev(gm),
      ZdevRef.zdev(gm).orderBy("measure", "grp"))
  }

  // ---- outlier ----------------------------------------------------------------

  private val srcSchema = StructType(Seq(
    StructField("grp", StringType), StructField("y", DoubleType),
    StructField("a1", DoubleType), StructField(astral, IntegerType),
    StructField(bmpTop, DoubleType), StructField("flat", DoubleType)))

  private def source(seed: Int, groups: Seq[String], constY: Boolean = false): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 240).map { i =>
      // the last group holds ONE row, so every bin it falls in holds all
      // of its rows and must drop out through min_kept
      val g = if (i == 0 && groups.size > 1) groups.last
        else groups(rnd.nextInt(math.max(groups.size - 1, 1)))
      Row(g,
        if (constY) 2.5 else if (rnd.nextInt(25) == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(100000) / 100.0),
        if (rnd.nextInt(10) == 0) null else java.lang.Double.valueOf(rnd.nextInt(50) / 2.0),
        java.lang.Integer.valueOf(rnd.nextInt(4)),
        java.lang.Double.valueOf(rnd.nextInt(3) * 1.5),
        java.lang.Double.valueOf(7.0))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), srcSchema)
  }

  test("outlier explanation equals the in-plan leave-out algebra") {
    import graft.util.Mirror.{asc, desc}
    val attrs = Seq("a1", astral, bmpTop, "flat")
    val cases = Seq(
      ("random", source(41, Seq("A", "B", "C", null, "lone")), "B", 1),
      ("random low", source(42, Seq("A", "B", "C", "D", "lone")), "A", -1),
      ("target absent", source(43, Seq("A", "B", "lone")), "Z", 1),
      ("sigma = 0", source(44, Seq("A", "B", "C"), constY = true), "A", 1),
      ("single group", source(45, Seq("A")), "A", 1),
      ("empty", source(46, Seq("A", "B")).limit(0), "A", 1))
    for ((name, src, target, dir) <- cases) {
      val ref = OutlierRef.explain(src, "grp", "y", target, dir, attrs)
      assertSame(s"outlier $name", graft.explain.Outlier.explain(src, "grp", "y", target, dir, attrs), ref)
      assertSame(s"outlier ranked $name",
        graft.explain.Outlier.explainTable(src, "grp", "y", target, dir, attrs)
          .orderBy(desc("influence"), asc("attribute"), asc("bin")).toDF(spark),
        ref.orderBy(col("influence").desc, col("attribute"), col("bin")))
    }
    // the degenerate cases really are degenerate
    val flat = graft.explain.Outlier.explain(source(44, Seq("A", "B", "C"), constY = true),
      "grp", "y", "A", 1, attrs).collect()
    assert(flat.nonEmpty && flat.forall(_.isNullAt(3)), "σ = 0 must give a NULL s_full")
    val lone = graft.explain.Outlier.explain(source(41, Seq("A", "B", "C", null, "lone")),
      "grp", "y", "B", 1, Seq("flat")).collect()
    assert(lone.isEmpty, "a bin holding all of a group's rows must drop out")
  }

  test("outlier explanation equals the in-plan path on lineitem") {
    val li = graft.util.D.t(spark, sf, "lineitem")
    val attrs = Seq("l_quantity", "l_discount", "l_tax")
    assertSame("q_outlier_explain",
      graft.explain.Outlier.explain(li, "l_returnflag", "l_extendedprice", "R", 1, attrs),
      OutlierRef.explain(li, "l_returnflag", "l_extendedprice", "R", 1, attrs))
  }
}
