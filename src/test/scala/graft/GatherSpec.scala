package graft

import graft.core.ExplainFrame
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The explainers that finish on the driver build their tables through
  * one exchange-free gather (`Guard.gatherCells`): each partition folds
  * its rows into a partial table and the driver merges the partials as
  * their tasks finish. These tests pin that the explanations do not
  * depend on how the source is partitioned — rows, order and types are
  * identical on the natural partitioning, on one partition and on seven
  * — with group keys that Spark's grouping folds together (−0.0 and 0.0,
  * NaNs of two bit patterns) or keeps apart (NULL), and with twin
  * attributes whose scores tie at the topK cut. The notebook operations
  * `valueCounts` and `describeStats` finish on the driver from the same
  * kernel; they are also pinned against inline copies of the in-plan
  * chains they replaced, rows and schema (nullability included). */
class GatherSpec extends AnyFunSuite {
  import TestSession._

  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000abcL)
  private val grps = Seq[java.lang.Double](-0.0, 0.0, Double.NaN, otherNaN, null, 1.0, 2.0)
  private val cats = Seq("a", "b", "c", null, "𝔘")

  private val schema = StructType(Seq(
    StructField("grp", DoubleType), StructField("cat", StringType), StructField("cat2", StringType),
    StructField("x", DoubleType), StructField("x2", DoubleType), StructField("y", DoubleType)))

  /** 420 seeded rows; `cat2` and `x2` are twins of `cat` and `x`, so
    * their scores tie and the attribute name breaks the tie. */
  private lazy val source: DataFrame = {
    val rnd = new scala.util.Random(61)
    val rows = (0 until 420).map { i =>
      val cat = cats(rnd.nextInt(cats.size))
      val x = if (rnd.nextInt(12) == 0) null else java.lang.Double.valueOf(rnd.nextInt(40) / 4.0)
      Row(grps(i % grps.size), cat, cat, x, x,
        if (rnd.nextInt(30) == 0) null else java.lang.Double.valueOf(rnd.nextInt(5000) / 8.0))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The source as it comes, on one partition and on seven. */
  private def layouts: Seq[(String, DataFrame)] =
    Seq("natural" -> source, "1 partition" -> source.repartition(1),
      "7 partitions" -> source.repartition(7))

  private def rows(df: DataFrame): List[List[Any]] =
    df.collect().map(_.toSeq.toList).toList

  /** Doubles compare by bits: NaN equals NaN, 0.0 differs from -0.0. */
  private def same(a: List[List[Any]], b: List[List[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall {
        case (p: java.lang.Double, q: java.lang.Double) => p.equals(q)
        case (p, q) => p == q
      }
    }

  private def invariant(what: String)(explain: DataFrame => DataFrame): Unit = {
    val outs = layouts.map { case (name, df) => name -> explain(df) }
    val (_, base) = outs.head
    val baseRows = rows(base)
    assert(baseRows.nonEmpty, s"$what: empty explanation")
    for ((name, out) <- outs.tail) {
      assert(out.schema === base.schema, s"$what on $name: schema")
      val got = rows(out)
      assert(same(got, baseRows), s"$what on $name differs:\n$got\nvs natural\n$baseRows")
    }
  }

  private val topKs = Seq(1, 2, 3, 5, 7, 100)

  test("FEDEx filter and join explanations do not depend on the partitioning") {
    for (k <- topKs)
      invariant(s"filter explanation topK $k")(df => ExplainFrame(df, "t")
        .filter(col("y") >= 200).explainFedex(Seq("cat", "cat2", "x", "x2"), topK = k))
    val cond = col("y") >= 300
    val attrs = Seq(graft.explain.Fedex.Attr("cat", numeric = false),
      graft.explain.Fedex.Attr("x", numeric = true), graft.explain.Fedex.Attr("x2", numeric = true))
    invariant("Shapley")(df =>
      graft.explain.Fedex.binShapley(graft.explain.Fedex.countTable(df, cond, attrs)).toDF(spark))
    invariant("join counts")(df =>
      graft.explain.Fedex.binInfluence(graft.explain.Fedex.countTable(df,
        df.filter(col("cat").isNotNull), attrs, 10)).toDF(spark))
  }

  test("outlier explanations do not depend on the partitioning") {
    for (target <- Seq("0.0", "NaN", "1.0"); dir <- Seq("high", "low"))
      invariant(s"outlier $target $dir")(df => ExplainFrame(df, "t").groupBy("grp").mean("y")
        .explainOutlier(target, dir, attributes = Seq("x", "x2")))
  }

  test("groupby explanations do not depend on the partitioning and group as Spark does") {
    for (k <- topKs)
      invariant(s"groupby explanation topK $k")(df =>
        ExplainFrame(df, "t").groupBy("grp").mean("y").explainFedex(topK = k))
    // −0.0 and 0.0 are one group, so are the two NaNs, and NULL is its own
    val groups = source.groupBy("grp").count().count()
    assert(groups === 5L)
    val z = ExplainFrame(source, "t").groupBy("grp").mean("y").explainFedex(topK = 100).collect()
    assert(z.count(_.getAs[String]("measure") == "row_count") === groups)
  }

  test("MetaInsight auto-search does not depend on the partitioning") {
    for (k <- topKs)
      invariant(s"auto-search topK $k")(df => ExplainFrame(df, "t").explainMetaInsightAuto(
        topK = k, filterDims = Seq("cat"), breakdowns = Seq("grp", "cat2"), measures = Seq("y"),
        minCommonness = 0.1))
    // the explicit scopes run the same engine: a categorical scope, and
    // q_metainsight's categorical + month-trend pair
    invariant("categorical scope")(df =>
      ExplainFrame(df, "t").explainMetaInsight("cat", "grp", "y", minCommonness = 0.1))
    import graft.explain.MetaInsight.{Breakdown, explain}
    val day = date_add(to_date(lit("2024-01-01")), col("y").cast(IntegerType))
    invariant("categorical and month-trend scopes")(df => explain(df, "cat",
      Seq(Breakdown("grp", col("grp")), Breakdown("month", month(day), trend = true)), "x",
      minCommonness = 0.01))
  }

  // ---- the notebook operation cells ---------------------------------------

  /** The in-plan `valueCounts` chain the driver finish replaced. */
  private def valueCountsRef(df: DataFrame, c: String): DataFrame = {
    val grouped = df.groupBy(c).agg(count(lit(1)).as("cnt"))
    val total = grouped.agg(sum(col("cnt")).as("total"))
    grouped.crossJoin(broadcast(total))
      .select(col(c), col("cnt"), graft.util.D.r(col("cnt").cast(DoubleType) / col("total")).as("share"))
      .orderBy(col("cnt").desc, col(c))
  }

  /** The in-plan `describeStats` chain the driver finish replaced. */
  private def describeRef(df: DataFrame, cols: Seq[String]): DataFrame = {
    import graft.util.D
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val n = count(col(c))
      val sm = D.emit6(D.dsum(col(c)))
      val sq = D.dsumsq(col(c))
      Seq(n.as(s"__${i}_n"), D.r(sm / n).as(s"__${i}_mean"),
        D.r(sqrt(D.varSamp(sm, sq, n))).as(s"__${i}_std"),
        min(col(c)).as(s"__${i}_min_v"), max(col(c)).as(s"__${i}_max_v"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.zipWithIndex.map { case (c, i) => struct(lit(c).as("col"),
        col(s"__${i}_n").as("n"), col(s"__${i}_mean").as("mean"), col(s"__${i}_std").as("std"),
        col(s"__${i}_min_v").as("min_v"), col(s"__${i}_max_v").as("max_v")) }: _*)).as("p"))
      .select(col("p.col").as("col"), col("p.n").as("n"), col("p.mean").as("mean"),
        col("p.std").as("std"), col("p.min_v").as("min_v"), col("p.max_v").as("max_v"))
      .orderBy("col")
  }

  /** `op` equals `ref` — schema and rows in order — on every layout of
    * `frame`, and so does not depend on the partitioning either. */
  private def parity(what: String, frame: DataFrame)(op: DataFrame => DataFrame,
                                                     ref: DataFrame => DataFrame): Unit =
    for ((name, df) <- Seq("natural" -> frame, "1 partition" -> frame.repartition(1),
      "7 partitions" -> frame.repartition(7))) {
      val (got, want) = (op(df), ref(df))
      assert(got.schema === want.schema, s"$what on $name: schema")
      assert(same(rows(got), rows(want)), s"$what on $name differs:\n${rows(got)}\nvs in-plan\n${rows(want)}")
    }

  /** `source` plus an int column, an all-NULL column and a constant one. */
  private def described: DataFrame = source
    .withColumn("i", (col("x") * 4).cast(IntegerType))
    .withColumn("nul", lit(null).cast(DoubleType))
    .withColumn("const", lit(2.5))

  test("valueCounts matches the in-plan chain and groups as Spark does") {
    // grp: 0.0 and −0.0 one group, two NaN bit patterns one, NULL its
    // own; 60 rows per grp value, so every count ties with another
    for (c <- Seq("grp", "cat", "x"))
      parity(s"valueCounts($c)", source)(ExplainFrame(_, "t").valueCounts(c), valueCountsRef(_, c))
    assert(rows(ExplainFrame(source, "t").valueCounts("grp")).map(_(1)) === List(120L, 120L, 60L, 60L, 60L))
    parity("valueCounts on an empty frame", source.filter(lit(false)))(
      ExplainFrame(_, "t").valueCounts("grp"), valueCountsRef(_, "grp"))
  }

  test("valueCounts fails with the shared ID-like error past the gathered-cell bound") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val before = graft.util.Guard.MaxGatheredCells
    try {
      graft.util.Guard.MaxGatheredCells = 10L
      // y has hundreds of distinct values
      val e = intercept[Exception](ExplainFrame(source, "t").valueCounts("y"))
      assert(msgs(e).exists(_.contains("ID-like")), s"wrong error: $e")
      assert(ExplainFrame(source, "t").valueCounts("cat").count() === cats.size)
    } finally graft.util.Guard.MaxGatheredCells = before
  }

  test("describeStats matches the in-plan chain") {
    val df = described
    for (cols <- Seq(Seq("x", "y", "nul", "const", "x"), Seq("i"), Seq("i", "y"), Seq("y", "i", "nul")))
      parity(s"describeStats(${cols.mkString(",")})", df)(
        ExplainFrame(_, "t").describeStats(cols), describeRef(_, cols))
    // mixed int/double columns share a double min_v/max_v
    assert(ExplainFrame(df, "t").describeStats(Seq("i", "y")).schema("min_v").dataType === DoubleType)
    // no rows: n = 0 and NULL stats; one row: std NULL, the constant std 0
    parity("describeStats on an empty frame", df.filter(lit(false)))(
      ExplainFrame(_, "t").describeStats(Seq("x", "i")), describeRef(_, Seq("x", "i")))
    val one = df.filter(col("x").isNotNull && col("y").isNotNull).limit(1).localCheckpoint()
    parity("describeStats on one row", one)(
      ExplainFrame(_, "t").describeStats(Seq("x", "i", "const")), describeRef(_, Seq("x", "i", "const")))
    val stats = rows(ExplainFrame(df, "t").describeStats(Seq("const", "nul")))
    assert(stats === List(List("const", 420L, 2.5, 0.0, 2.5, 2.5), List("nul", 0L, null, null, null, null)))
  }

  test("describeStats raises on a decimal sum overflow as the in-plan sum does") {
    // 200 squares of 9.9e11 sum past DECIMAL(38,12)
    val big = spark.range(200).select(lit(9.9e11).as("v"))
    intercept[Exception](describeRef(big, Seq("v")).collect())
    val e = intercept[ArithmeticException](ExplainFrame(big, "t").describeStats(Seq("v")))
    assert(e.getMessage.contains("DECIMAL(38,12)"), e.getMessage)
  }
}
