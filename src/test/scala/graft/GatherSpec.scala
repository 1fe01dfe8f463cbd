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
  * attributes whose scores tie at the topK cut. */
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
  }
}
