package graft

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The round-3 single-pass rewrites replaced stats-join-back plans with
  * collect_list + array expressions. The DuckDB oracle pins them on
  * TPC-H shapes; these property tests pin them against NAIVE two-pass
  * implementations (the replaced plan shape, rebuilt inline) on seeded
  * random data with ties, NULLs, and single-element groups — the
  * array math must be bit-identical, not approximately equal. */
class ArrayPathSpec extends AnyFunSuite {
  import TestSession._

  private val termDec = DecimalType(18, 9)

  test("fedex influence array path equals the naive self-join on random counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // random (attribute, bin, ns, nr) incl. a k=1 attribute and nr=0 bins
    val rows = (for {
      a <- Seq("a1", "a2", "a3", "solo")
      b <- 0 until (if (a == "solo") 1 else 2 + rnd.nextInt(12))
    } yield {
      val ns = 1L + rnd.nextInt(1000)
      (a, b.toString, ns, rnd.nextLong(ns + 1))
    }) :+ (("zeroed", "x", 5L, 0L)) :+ (("zeroed", "y", 7L, 0L))
    val counts = rows.toDF("attribute", "bin", "ns", "nr")

    def klTerm(nr: Column, ns: Column, nRes: Column, nSrc: Column, k: Column): Column = {
      val q = (nr + lit(0.5)) / (nRes + lit(0.5) * k)
      val p = (ns + lit(0.5)) / (nSrc + lit(0.5) * k)
      (q * log(q / p)).cast(termDec)
    }
    // the REPLACED plan: window totals + leave-one-out self-join
    val w = Window.partitionBy("attribute")
    val en = counts.filter(col("ns") > 0)
      .withColumn("n_src", sum("ns").over(w))
      .withColumn("n_res", sum("nr").over(w))
      .withColumn("k", count(lit(1)).over(w))
    val full = en
      .withColumn("term", klTerm(col("nr"), col("ns"), col("n_res"), col("n_src"), col("k")))
      .groupBy("attribute").agg(sum(col("term")).cast(DoubleType).as("kl_score"))
    val e = en.select(col("attribute").as("attribute"), col("bin").as("bin0"),
      col("ns").as("ns0"), col("nr").as("nr0"))
    val naive = en.alias("x").join(e.alias("e"),
        col("x.attribute") === col("e.attribute") && col("x.bin") =!= col("e.bin0"))
      .select(col("x.attribute").as("attribute"), col("e.bin0").as("bin0"),
        klTerm(col("x.nr"), col("x.ns"),
          col("x.n_res") - col("e.nr0"), col("x.n_src") - col("e.ns0"),
          col("x.k") - 1).as("term"))
      .groupBy("attribute", "bin0")
      .agg(sum(col("term")).cast(DoubleType).as("score_excl"))
      .join(full, Seq("attribute"))
      .select(col("attribute"), col("bin0").as("bin"),
        (col("kl_score") - col("score_excl")).as("influence"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap

    val arrayPath = graft.explain.Fedex.binInfluence(counts)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("influence")).toMap
    assert(arrayPath.keySet === naive.keySet) // incl.: 'solo' absent from both
    arrayPath.foreach { case (k, v) =>
      assert(v === naive(k), s"influence mismatch at $k: $v vs ${naive(k)}") }
  }

  test("metainsight cat patterns equal the naive stats join on random cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random (f, g, v) with NULL f values, NULL v cells, and constant groups
    val rows = (1 to 400).map { _ =>
      val f = if (rnd.nextInt(10) == 0) None else Some(s"f${rnd.nextInt(4)}")
      val v = if (rnd.nextInt(15) == 0) None else Some(math.round(rnd.nextDouble() * 1e4) / 100.0)
      (f, s"g${rnd.nextInt(6)}", v)
    }.toDF("f", "g", "v")

    import graft.explain.MetaInsight.{Breakdown, patterns}
    val got = patterns(rows, Seq("f" -> Breakdown("g", col("g"))), Seq("v"))
      .map(p => (p.sub, p.measure, p.pattern) -> (p.hasPat, p.highlight))
      .toMap

    // the REPLACED plan shape: melt (two-branch), stats agg, join back
    val dval = DecimalType(18, 6)
    val dbig = DecimalType(24, 2)
    val c0 = rows.groupBy(col("f").cast("string").as("subspace"), col("g").as("b"))
      .agg(count(lit(1)).as("cnt"), sum(col("v").cast(DecimalType(25, 6))).as("sm"))
    val cStar = c0.groupBy("b").agg(sum(col("cnt")).as("cnt"), sum(col("sm")).as("sm"))
      .withColumn("subspace", lit("*")).select("subspace", "b", "cnt", "sm")
    val cells = c0.unionByName(cStar)
    val vMean = graft.util.D.r(col("sm").cast(DecimalType(25, 6)).cast(DoubleType) / col("cnt"), 6)
    val m = cells.select(col("subspace"), col("b").cast("string").as("b"),
        lit("v_mean").as("measure"), vMean.as("v"))
      .unionByName(cells.select(col("subspace"), col("b").cast("string").as("b"),
        lit("row_count").as("measure"), col("cnt").cast(DoubleType).as("v")))
    val s = m.groupBy("subspace", "measure")
      .agg(count(lit(1)).as("k"),
        sum(col("v").cast(dval)).cast(DoubleType).as("sv"),
        sum((col("v") * col("v")).cast(dbig)).cast(DoubleType).as("svv"))
    val mu = col("sv") / col("k")
    val sigma = sqrt(greatest(col("svv") / col("k") - mu * mu, lit(0.0)))
    val z = m.join(s, Seq("subspace", "measure"))
      .withColumn("zscore", when(sigma > 1e-12, abs(col("v") - mu) / sigma).otherwise(lit(0.0)))
      .withColumn("share", col("v") / col("sv"))
    val agg0 = z.groupBy("subspace", "measure").agg(
      max(when(col("zscore") > 1.5, 1).otherwise(0)).as("z_has"),
      max(col("zscore")).as("z_max"),
      min_by(col("b"), struct(coalesce(-col("zscore"), lit(Double.MaxValue)).as("o"), col("b"))).as("z_top"),
      max(when(col("share") >= 0.5, 1).otherwise(0)).as("s_has"),
      max(col("share")).as("s_max"),
      min_by(col("b"), struct(coalesce(-col("share"), lit(Double.MaxValue)).as("o"), col("b"))).as("s_top"))
    val naive = agg0.select(col("subspace"), col("measure"), col("z_has").as("has_pat"),
        when(col("z_max") > 1.5, col("z_top")).as("highlight"), lit("outlier").as("pattern"))
      .unionByName(agg0.select(col("subspace"), col("measure"), col("s_has").as("has_pat"),
        when(col("s_max") >= 0.5, col("s_top")).as("highlight"), lit("dominance").as("pattern")))
      .collect()
      .map(r => (r.getAs[String]("subspace"), r.getAs[String]("measure"), r.getAs[String]("pattern")) ->
        (r.getAs[Int]("has_pat"), r.getAs[String]("highlight")))
      .toMap

    assert(got.keySet === naive.keySet)
    got.foreach { case (k, v) =>
      assert(v === naive(k), s"pattern mismatch at $k: $v vs ${naive(k)}") }
  }
}
