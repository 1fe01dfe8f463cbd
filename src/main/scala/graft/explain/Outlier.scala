package graft.explain

import java.math.{BigDecimal => JBigDecimal}

import graft.util.{D, Guard, Mirror}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scorpion-style aggregate-outlier explainer (reference:
  * /root/reference/src/pd_explain/explainers/outlier_explainer.py and
  * core/explainable_series.py:103-220 `std_int`/`calc_influence_std`/
  * `explain_outlier`; Scorpion, VLDB'13).
  *
  * Question: in `src.groupBy(g).agg(mean(aggCol))`, why is group `target`
  * a high/low outlier? Search single-attribute bin predicates; for each
  * candidate (attr, bin), remove its rows and measure how much the
  * target's standardized deviation drops, scaled by the kept fraction:
  *
  *   S        = dir · (v_t − μ) / σ          (over per-group means)
  *   S'(a,b)  = same after dropping rows with bin(a)=b
  *   influence(a,b) = (S − S'(a,b)) · (N − n_b) / N
  *
  * Scale: ONE scan builds the (attr, bin, group) → (cnt, sum) cube via an
  * exploded attr array (map-side combined), and ONE bounded collect
  * brings its ~|groups|·|attrs|·(nb+1) rows to the driver
  * ([[graft.util.Guard.gatherCells]]). The leave-out algebra — per-group
  * totals, the candidate × group grid, the moment sums and the scores —
  * runs there through the exact expression mirrors of
  * [[graft.util.Mirror]], and the result comes back as a LocalRelation:
  * no per-candidate rescan, and consuming it launches no Spark job.
  */
object Outlier {

  import GroupByExplain.{sigmaSql, dvalSql, dbigSql}

  /** @param dir +1 = explain a high outlier, -1 = low. */
  def explain(src: DataFrame, groupCol: String, aggCol: String, target: String,
              dir: Int, attrs: Seq[String], nb: Int = 10): DataFrame =
    explainTable(src, groupCol, aggCol, target, dir, attrs, nb).toDF(src.sparkSession)

  /** [[explain]]'s rows on the driver, for callers that re-rank them. */
  private[graft] def explainTable(src: DataFrame, groupCol: String, aggCol: String,
                                  target: String, dir: Int, attrs: Seq[String],
                                  nb: Int = 10): Mirror.Table = {
    val stats = Fedex.statsDf(src, attrs.map(Fedex.Attr(_, numeric = true))).get

    // (grp, attribute, bin, cnt, sm) — ONE scan, hot path all-int/long:
    //  - posexplode of the INT bin array (the r6 form exploded
    //    struct(attribute STRING, bin STRING) and aggregated on string
    //    keys — string construction + hashing per exploded row was the
    //    measured bulk of a 1.6 s cube job at sf0.1);
    //  - the measure sums use the Correlation chunked-long machinery
    //    (exact Σ of the scale-6 quantization == the former
    //    sum(cast(y AS DECIMAL(25,6))) bit-for-bit; grouped decimal
    //    buffers are the documented 4× slowdown). Envelope: per-value
    //    |y| < 9.2e12 and |Σy| < 10^19, fail-loud beyond (the
    //    Correlation moment contract).
    // Attribute names and string bins re-enter in the tiny post-select.
    val binCols = attrs.map(a => Fedex.binExpr(col(a), col(s"lo_$a"), col(s"hi_$a"), nb))
    // sentinel "__total__" pseudo-attribute with a constant bin: every
    // row contributes to it, so the per-group TOTALS (the oracle's
    // whole-table tot) ride the same single scan even though null
    // attribute values are excluded from the real attributes' bins
    val attrArr = array((attrs :+ "__total__").map(lit): _*)
    val cubePlan = src.crossJoin(broadcast(stats))
      .select(col(groupCol).as("grp"), Correlation.quant6Col(col(aggCol)).as("fy"),
        posexplode(array(binCols :+ lit(0): _*)))
      .withColumnRenamed("pos", "ai").withColumnRenamed("col", "bin")
      // a NULL attribute value has no bin (binExpr is null-preserving);
      // the SQL mirror's per-attribute IS NOT NULL filter is this line
      .filter(col("bin").isNotNull)
      .groupBy("grp", "ai", "bin")
      .agg(count(lit(1)).as("cnt"), Correlation.chunkSumAggs("fy"): _*)
      .select(col("grp"), element_at(attrArr, col("ai") + 1).as("attribute"),
        col("bin").cast("string").as("bin"), col("cnt"),
        Correlation.value6(Correlation.recombineUnscaled("fy")).cast(D.dec25).as("sm"))
    // The cube feeds every later step, and at ~100 rows per corpus
    // (the qcut-boundary bounded-collect convention) the rest of the
    // explanation is driver arithmetic: an in-plan finish runs about ten
    // tiny jobs whose planning, not their data, dominates the latency.
    // `is_t` evaluates the target match in-plan, so `grp = target` keeps
    // Spark's type coercion for non-string group columns.
    explainRows(Guard.gatherCells(
      cubePlan.withColumn("is_t", col("grp") === target), "Outlier.explain"), dir)
  }

  /** The explanation table from the collected cube rows
    * (grp, attribute, bin, cnt, sm, is_t), mirroring the in-plan chain
    * it replaced expression by expression:
    *   tot  = Σ cnt, Σ sm of the "__total__" rows per group;
    *   v    = sm.cast(DECIMAL(25,6)).cast(DOUBLE) / cnt;
    *   S    = dir·(v_t − μ)/σ over the per-group v, NULL unless σ > 0
    *          (μ, σ from DECIMAL(18,6)/(24,2) per-term sums);
    *   grid = each (attribute, bin) candidate × each group, left-joined
    *          to its cube cell (a NULL group never matches, like the
    *          equi-join), v = (sm_g − sm)/(cnt_g − cnt), NULL when the
    *          bin holds all of the group's rows;
    *   influence = (S − S')·(n_total − n_removed)/n_total, candidates
    *          with min_kept = 0 dropped, ordered by (attribute, bin). */
  private def explainRows(cube: Array[Row], dir: Int): Mirror.Table = {
    final case class Cell(grp: Any, attribute: String, bin: String, cnt: Long,
                          sm: JBigDecimal, isT: Boolean)
    val cells = cube.toSeq.map(r => Cell(Mirror.groupKey(r.get(0)), r.getString(1),
      r.getString(2), r.getLong(3), r.getDecimal(4), !r.isNullAt(5) && r.getBoolean(5)))

    // per-group totals from the sentinel rows
    final case class Tot(grp: Any, cntG: Long, smG: JBigDecimal, isT: Boolean)
    val tot = cells.filter(_.attribute == "__total__").groupBy(_.grp).toSeq.map {
      case (g, cs) => Tot(g, cs.map(_.cnt).sum,
        cs.map(_.sm).filter(_ != null).reduceOption(_ add _).orNull, cs.head.isT)
    }

    // dir·(v_t − μ)/σ over (v, is target) pairs, NULL unless σ > 0
    def score(vs: Seq[(java.lang.Double, Boolean)]): java.lang.Double = {
      val k = vs.size.toLong
      val (sv, sig) =
        GroupByExplain.sumSigma(vs.collect { case (v, _) if v != null => v.doubleValue }, k)
      val vt = Mirror.maxD(vs.collect { case (v, true) => v })
      if (Mirror.compareDoubles(sig, 0.0) > 0 && vt != null) dir.toDouble * (vt - sv / k) / sig
      else null
    }

    val sFull = score(tot.map(t =>
      (if (t.smG == null) null else java.lang.Double.valueOf(t.smG.doubleValue / t.cntG), t.isT)))
    val sFullR: java.lang.Double = if (sFull == null) null else Mirror.r(sFull, 6)

    val byCell = cells.groupBy(c => (c.attribute, c.bin, c.grp))
    val cands = cells.filter(_.attribute != "__total__").map(c => (c.attribute, c.bin)).distinct
    val out = cands.flatMap { case (a, b) =>
      // (cnt, cnt_g, cnt_kept, v, is target) per grid row
      val grid = tot.flatMap { t =>
        val hits = if (t.grp == null) Nil else byCell.getOrElse((a, b, t.grp), Nil)
        val matched =
          if (hits.isEmpty) Seq((0L, JBigDecimal.ZERO))
          else hits.map(c => (c.cnt, if (c.sm == null) JBigDecimal.ZERO else c.sm))
        matched.map { case (cnt, sm) =>
          val kept = t.cntG - cnt
          val v: java.lang.Double =
            if (kept > 0 && t.smG != null) t.smG.subtract(sm).doubleValue / kept
            else null
          (cnt, t.cntG, kept, v, t.isT)
        }
      }
      if (grid.map(_._3).min <= 0) Nil
      else {
        val nRemoved = grid.map(_._1).sum
        val nTotal = grid.map(_._2).sum
        val sExcl = score(grid.map(g => (g._4, g._5)))
        val infl: java.lang.Double =
          if (sFull == null || sExcl == null) null
          else Mirror.r((sFull - sExcl) * (nTotal - nRemoved) / nTotal, 6)
        Seq(Row(a, b, nRemoved, sFullR, infl))
      }
    }
    Mirror.Table(OutSchema, out).orderBy(Mirror.asc("attribute"), Mirror.asc("bin"))
  }

  private val OutSchema = StructType(Seq(
    StructField("attribute", StringType, nullable = false),
    StructField("bin", StringType, nullable = true),
    StructField("n_removed", LongType, nullable = true),
    StructField("s_full", DoubleType, nullable = true),
    StructField("influence", DoubleType, nullable = true)))

  /** DuckDB mirror of [[explain]]. */
  def sql(table: String, groupCol: String, aggCol: String, target: String,
          dir: Int, attrs: Seq[String], nb: Int = 10): String = {
    val statCols = attrs.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    val branches = attrs.map { a =>
      s"""SELECT $groupCol AS grp, '$a' AS attribute,
         |  CAST(${Fedex.binSql(a, s"lo_$a", s"hi_$a", nb)} AS VARCHAR) AS bin,
         |  COUNT(*) AS cnt, SUM(CAST($aggCol AS DECIMAL(25,6))) AS sm
         |FROM $table, st WHERE $a IS NOT NULL GROUP BY 1, 2, 3""".stripMargin
    }.mkString("\nUNION ALL\n")
    val v = "CAST(CAST((t.sm_g - COALESCE(c.sm, 0)) AS DECIMAL(25,6)) AS DOUBLE) / (t.cnt_g - COALESCE(c.cnt, 0))"
    s"""WITH st AS (SELECT $statCols FROM $table),
       |cube0 AS ($branches),
       |tot AS (SELECT $groupCol AS grp, COUNT(*) AS cnt_g, SUM(CAST($aggCol AS DECIMAL(25,6))) AS sm_g
       |  FROM $table GROUP BY 1),
       |g0 AS (SELECT grp, CAST(CAST(sm_g AS DECIMAL(25,6)) AS DOUBLE) / cnt_g AS v FROM tot),
       |s0 AS (SELECT ($dir) * (MAX(CASE WHEN grp = '$target' THEN v END) - ${dvalSql("v")} / COUNT(*)) /
       |    ${sigmaSql(dvalSql("v"), dbigSql("v * v"), "COUNT(*)")} AS s_full FROM g0),
       |grid AS (SELECT ca.attribute, ca.bin, t.grp,
       |    COALESCE(c.cnt, 0) AS cnt, t.cnt_g,
       |    t.cnt_g - COALESCE(c.cnt, 0) AS cnt_kept,
       |    $v AS v
       |  FROM (SELECT DISTINCT attribute, bin FROM cube0) ca
       |  CROSS JOIN tot t
       |  LEFT JOIN cube0 c ON c.attribute = ca.attribute AND c.bin = ca.bin AND c.grp = t.grp),
       |per AS (SELECT attribute, bin, COUNT(*) AS k,
       |    ${dvalSql("v")} AS sv, ${dbigSql("v * v")} AS svv,
       |    MAX(CASE WHEN grp = '$target' THEN v END) AS vt,
       |    CAST(SUM(cnt) AS BIGINT) AS n_removed, CAST(SUM(cnt_g) AS BIGINT) AS n_total, MIN(cnt_kept) AS min_kept
       |  FROM grid GROUP BY 1, 2)
       |SELECT p.attribute, p.bin, p.n_removed,
       |  ROUND(s0.s_full, 6) AS s_full,
       |  ROUND((s0.s_full - ($dir) * (p.vt - p.sv / p.k) / ${sigmaSql("p.sv", "p.svv", "p.k")})
       |        * (p.n_total - p.n_removed) / p.n_total, 6) AS influence
       |FROM per p, s0 WHERE p.min_kept > 0
       |ORDER BY p.attribute, p.bin""".stripMargin
  }
}
