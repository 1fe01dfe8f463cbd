package perfbench

import scala.util.Random

import graft.core.ExplainFrame
import graft.util.D
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded replays of example-notebook flows that `NotebookParitySpec`
  * mirrors (Adults, Bank-Churners, MetaInsight, Houses), as an analyst
  * runs them: every cell derives from a base frame loaded once per flow,
  * and each cell starts after the previous one has shown its result. The
  * seed draws the flow order, the predicate constants, and the group
  * targets and directions; the cells are checked with the invariants the
  * spec asserts. Each flow keeps one or two cells, so that a session
  * runs in seconds. */
object Sessions {

  /** Rows an operation cell shows, as a notebook's display does. */
  private val ShowRows = 20

  def session(spark: SparkSession, dir: String, rng: Random): Seq[Op] =
    rng.shuffle(Seq[Random => Seq[Op]](
      adults(spark, dir, _), churners(spark, dir, _), metaInsight(spark, dir, _),
      houses(spark, dir, _)
    )).flatMap(_(rng))

  private def frame(spark: SparkSession, dir: String, table: String): ExplainFrame =
    ExplainFrame(D.t(spark, dir, table), table)

  private def pick[T](rng: Random, xs: T*): T = xs(rng.nextInt(xs.size))

  /** An operation cell: builds the frame, then shows its first rows. */
  private def op(name: String, f: => DataFrame, check: Array[Row] => Option[String]): Op =
    Op(name, "core", () => f.limit(ShowRows), df => check(df.collect()))

  /** An explain cell: the explain call does its construction-time work
    * while building; every explanation row is then collected. */
  private def ex(name: String, f: => DataFrame, check: Array[Row] => Option[String]): Op =
    Op(name, "explain", () => f, df => check(df.collect()))

  // ---- output checks ---------------------------------------------------

  /** Non-empty, at most `topK` rows (0 = no cap), `score` finite and
    * ranked descending. */
  private def ranked(score: String, topK: Int)(rows: Array[Row]): Option[String] = {
    lazy val s = rows.map(r => r.getDouble(r.fieldIndex(score))).toSeq
    if (rows.isEmpty) Some("no rows")
    else if (topK > 0 && rows.length > topK) Some(s"${rows.length} rows > topK $topK")
    else if (s.exists(x => x.isNaN || x.isInfinite)) Some(s"non-finite $score")
    else if (s != s.sorted(Ordering[Double].reverse)) Some(s"$score not ranked descending")
    else None
  }

  /** value_counts: non-empty, counts descending. */
  private def counts(rows: Array[Row]): Option[String] = {
    val c = rows.map(_.getLong(1)).toSeq
    if (rows.isEmpty) Some("no rows")
    else if (c != c.sorted(Ordering[Long].reverse)) Some("counts not descending")
    else None
  }

  /** describe(): one profile row per column with min <= mean <= max. */
  private def profile(rows: Array[Row]): Option[String] =
    if (rows.isEmpty) Some("no rows")
    else rows.collectFirst {
      case r if !(r.getAs[Double]("min_v") <= r.getAs[Double]("mean") &&
        r.getAs[Double]("mean") <= r.getAs[Double]("max_v")) => s"bad profile $r"
    }

  // ---- flows -----------------------------------------------------------

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Adults demo: a segment filter and its explanation, then the
    * value_counts of a balance filter. */
  private def adults(spark: SparkSession, dir: String, rng: Random): Seq[Op] = {
    val seg = pick(rng, segments: _*)
    val bal = pick(rng, 3000, 4000, 5000, 6000)
    // the census table has no per-person name column; drop the stand-in's
    lazy val adults = frame(spark, dir, "customer").drop("c_name")
    Seq(
      ex("adults.filter_explain",
        adults.filter(col("c_mktsegment") === seg).explain(topK = 4, useSampling = false),
        ranked("kl_score", 4)),
      op("adults.value_counts",
        adults.filter(col("c_acctbal") >= bal).valueCounts("c_mktsegment"), counts))
  }

  /** Bank-Churners demo: describe, then the outlier explanation of a
    * count groupby over a status filter. */
  private def churners(spark: SparkSession, dir: String, rng: Random): Seq[Op] = {
    val prio = pick(rng, priorities: _*)
    val status = pick(rng, "F", "O", "P")
    val dir1 = pick(rng, "high", "low")
    lazy val bank = frame(spark, dir, "orders")
    Seq(
      op("churners.describe", bank.describeStats(Seq("o_totalprice")), profile),
      ex("churners.outlier_explain",
        bank.filter(col("o_orderstatus") === status)
          .groupBy("o_orderpriority").agg("o_orderkey" -> "count")
          .explain(explainer = "outlier", target = prio, dir = dir1),
        ranked("influence", 0)))
  }

  /** MetaInsight demo: auto-mode mining on a filtered frame. */
  private def metaInsight(spark: SparkSession, dir: String, rng: Random): Seq[Op] = {
    val price = pick(rng, 100000, 150000, 200000)
    Seq(
      ex("metainsight.filter_auto",
        frame(spark, dir, "orders").filter(col("o_totalprice") > price)
          .explain(explainer = "metainsight"),
        ranked("score", 0)))
  }

  /** Houses demo: a column-subset load with a derived year, and the
    * explanation of an all-numerics groupby over a price filter. */
  private def houses(spark: SparkSession, dir: String, rng: Random): Seq[Op] = {
    val price = pick(rng, 30000, 40000, 50000, 60000)
    lazy val houses = ExplainFrame(D.t(spark, dir, "lineitem")
      .withColumn("yr_sold", year(col("l_shipdate")).cast("long"))
      .withColumn("pool_area", (col("l_discount") * 1000).cast("double")), "houses")
      .select(col("yr_sold"), col("l_extendedprice"), col("l_quantity"), col("pool_area"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_linenumber"))
    Seq(
      ex("houses.groupby_explain",
        houses.filter(col("l_extendedprice") > price).groupBy("yr_sold")
          .agg("l_extendedprice" -> "mean", "l_quantity" -> "mean",
            "pool_area" -> "mean", "l_tax" -> "mean").explain(topK = 6, useSampling = false),
        ranked("zdev", 6)))
  }
}
