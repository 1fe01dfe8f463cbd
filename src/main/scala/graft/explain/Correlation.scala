package graft.explain

import graft.util.{D, Mirror}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Correlation utilities mirroring the reference's column-correlation
  * machinery (/root/reference/src/pd_explain/explainers/beta_explainers/
  * metainsight_explainer.py:504-598 `_find_correlated_columns`):
  *  - Pearson r (numeric × numeric)
  *  - correlation ratio η (categorical → numeric, ANOVA √(SSB/SST))
  *  - Cramér's V (categorical × categorical, χ² based, no correction)
  *
  * All moments are decimal-exact sums emitted as deterministic doubles
  * (util.D); each is one aggregation pass. */
object Correlation {

  import GroupByExplain.{dval, dvalSql}

  // ---- exact chunked-long summation --------------------------------
  // The moment sums were the bench's worst BigDecimal hotspot: summing
  // DECIMAL(30,6) keeps a growing BigDecimal accumulator per aggregate.
  // Instead, quantize each row ONCE to its scale-6 unscaled long
  // f = halfup(x·1e6) (identical to the DECIMAL cast both engines
  // apply, so the summed values are bit-identical), then accumulate f
  // exactly as THREE codegen'd long sums over 21-bit chunks:
  //   f = (f>>42)<<42 + ((f>>21) & M)<<21 + (f & M)   (two's complement)
  // Each chunk sum grows ≤ n·2^21, so longs are overflow-safe to
  // n ≈ 2^42 (~4·10^12) rows — 100 TB-proof — while the hot loop is
  // pure long arithmetic in whole-stage codegen. The chunk sums
  // recombine into the exact unscaled total in DECIMAL once per group.
  private val ChunkBits = 21
  private val ChunkMask = (1L << ChunkBits) - 1

  /** Per-row pair for the exact sum: (fast long f, overflow side term).
    *
    * f = halfup(exact(x)·1e6) as a long, with a codegen'd double fast
    * path: y = x·1e6 differs from the exact product by ≤ ulp(y)/2 ≈
    * |y|·2⁻⁵³, so whenever y's fractional part is farther than
    * |y|·1.8·10⁻¹⁵ + 10⁻¹² (a 16× ulp margin) from the .5 rounding
    * boundary, floor(y + 0.5) provably equals the decimal cast — no
    * BigDecimal per row. Near the boundary, or once |y| grows past
    * ~2.8·10¹⁴ (where the margin exceeds 0.5 and the guard goes always-
    * false), the row takes the exact decimal cast — the fast path can
    * never produce a different value, only skip.
    *
    * Values whose unscaled form does not fit a long at all (|y| ≥ 9e18
    * — Spark 4's ANSI decimal→long cast would throw CAST_OVERFLOW) are
    * routed to the decimal `side` term instead, so any magnitude the
    * plain DECIMAL(38,6) sum accepted still sums exactly. */
  private def quantCols(c: Column): (Column, Column) = {
    val y = c.cast(DoubleType) * 1e6
    val d = y - floor(y)
    val inRange = abs(y) < 9.0e18
    val f = when(inRange,
      when(abs(d - 0.5) > abs(y) * 1.8e-15 + 1e-12, floor(y + 0.5))
        .otherwise((c.cast(DecimalType(30, 6)) * 1000000).cast(LongType)))
    val side = when(c.isNotNull && !inRange,
      (c.cast(DecimalType(38, 6)) * 1000000).cast(DecimalType(38, 0)))
    (f, side)
  }

  /** Exact Σ of the scale-6 quantization of `c`, as unscaled DECIMAL(38,0):
    * chunked-long sums for in-range rows + a decimal side sum for
    * overflow-range rows (null-skipped, so the decimal accumulator is
    * touched only when such rows exist); NULL when no non-null input,
    * matching SUM semantics. */
  private[graft] def unscaled6(c: Column): Column = {
    val (f, side) = quantCols(c)
    val d = DecimalType(38, 0)
    val chunked = sum(shiftright(f, 2 * ChunkBits)).cast(d) * lit(1L << (2 * ChunkBits)) +
      sum(shiftright(f, ChunkBits).bitwiseAND(lit(ChunkMask))).cast(d) * lit(1L << ChunkBits) +
      sum(f.bitwiseAND(lit(ChunkMask))).cast(d)
    val sideSum = sum(side).cast(d)
    when(chunked.isNull && sideSum.isNull, lit(null).cast(d))
      .otherwise(coalesce(chunked, lit(0).cast(d)) + coalesce(sideSum, lit(0).cast(d)))
  }

  // ---- all-long moment buffers -------------------------------------
  // momentAgg keeps every aggregation-buffer slot a LONG: a decimal
  // sum in a GROUPED hash-aggregate buffer measured ~4x slower than
  // the all-long form (Spark's codegen'd decimal update path; even
  // DECIMAL(18) pays it), which made groupby().corr() 29x its oracle.
  // Unlike [[unscaled6]] (global sums, where one decimal side buffer
  // is free), momentAgg has NO decimal side term: a moment whose
  // scale-6 unscaled value exceeds the long range (|m·1e6| ≥ 2^63,
  // i.e. |m| ≥ ~9.2·10^12) raises Spark's ANSI CAST_OVERFLOW instead
  // of degrading — fail-loud, never silently wrong. That envelope is
  // DOCUMENTED as the correlation contract: the SQL mirror's own
  // per-moment DECIMAL(30,6) cast fails past |m| = 10^24 anyway, so
  // cross-engine parity never existed beyond these magnitudes, and
  // every realistic correlation input (prices, quantities, ratios,
  // counts) sits orders of magnitude inside. Guarded side-value
  // designs were tried and rejected: decimal side sums (4x slower
  // grouped) and base-2^40 digit-sum sides (the extra decimal
  // expressions pushed the projection out of whole-stage codegen —
  // slower still, even with every side value null).

  /** Chunk sums over a PRE-QUANTIZED long attribute `name` (the
    * quantizer must run in a projection below the aggregate, so it
    * evaluates once per row — embedded in each of the three chunk sums
    * it would run three times: aggregate update expressions are not
    * subexpression-eliminated across functions). */
  private def chunkAggs(name: String): Seq[Column] = Seq(
    sum(shiftright(col(name), 2 * ChunkBits)).as(s"${name}__h"),
    sum(shiftright(col(name), ChunkBits).bitwiseAND(lit(ChunkMask))).as(s"${name}__m"),
    sum(col(name).bitwiseAND(lit(ChunkMask))).as(s"${name}__l"))

  private def recombine(name: String): Column = {
    val d = DecimalType(38, 0)
    col(s"${name}__h").cast(d) * lit(1L << (2 * ChunkBits)) +
      col(s"${name}__m").cast(d) * lit(1L << ChunkBits) +
      col(s"${name}__l").cast(d)
  }

  /** value = unscaled / 1e6, exact (decimal × decimal, scale 6). */
  private[graft] def value6(u: Column): Column = u * lit(new java.math.BigDecimal("0.000001"))

  private def dsum(c: Column) = value6(unscaled6(c)).cast(D.dec25).cast(DoubleType)
  private def dsumBig(c: Column) = value6(unscaled6(c)).cast(DecimalType(38, 0)).cast(DoubleType)

  /** Scale-6 quantized long for a moment value: [[quantCols]]' fast
    * path, except that an out-of-long-range value (|m·1e6| ≥ 2^63)
    * raises ANSI CAST_OVERFLOW instead of routing to a decimal side
    * term — see the all-long buffer note above. The outer range guard
    * also shields the fast-path condition's floor() from overflow.
    * The overflow branch is the plain double→long ANSI cast: every
    * value reaching it is ≥ 2^63 in magnitude, so the cast ALWAYS
    * raises — the branch never produces a value, and keeping it
    * decimal-free matters: a DECIMAL(38,6) cast chain here (never
    * executed!) measurably slowed the whole projection (2.5 s vs
    * 0.7 s on the 9-moment matrix — the decimal expressions bloat the
    * generated code past JIT-friendly size). NULL input falls through
    * to the same branch and stays NULL, matching SUM's null-skip. */
  private def momentQuant(c: Column): Column =
    // ONE static call in the generated projection — the range guard
    // (NaN/±Inf/|m·1e6| ≥ 9.3e18 raise the loud "overflow"
    // ArithmeticException the ANSI cast used to) lives inside
    // [[graft.functions.QuantLong]] since r11: the previous outer
    // `when(abs(y) < 9.3e18, ...)` recomputed m·1e6 + abs + branch per
    // moment per row and multiplied the projection's CASE code mass by
    // the moment count, for a branch that only ever raised. Values in
    // [9.0e18, 2^63) take the helper's exact decimal path (raising iff
    // ≥ 2^63), exactly as before; every non-raising value is
    // bit-identical (oracle hash-verified).
    graft.functions.QuantLong(c.cast(DoubleType))

  // narrow private[graft] surface so in-plan references (the outlier
  // cube's, in the driver-finish parity spec) reuse the exact-sum
  // machinery without re-deriving its envelope notes
  private[graft] def quant6Col(c: Column): Column = momentQuant(c)
  private[graft] def chunkSumAggs(name: String): Seq[Column] = chunkAggs(name)
  private[graft] def recombineUnscaled(name: String): Column = recombine(name)

  /** One-row moment table (s_c, ss_c, sp_x__y, n) with all quantizers in
    * a single projection pass under one aggregate. Values identical to
    * the dsum/dsumBig forms (within the documented moment envelope). */
  private def momentAgg(df: DataFrame, cols: Seq[String],
                        pairs: Seq[(String, String)],
                        groupCols: Seq[String] = Nil): DataFrame = {
    val moments: Seq[(String, Column)] =
      cols.map(c => s"fs_$c" -> col(c)) ++
        cols.map(c => s"fss_$c" -> (col(c) * col(c))) ++
        pairs.map(p => s"fsp_${p._1}__${p._2}" -> (col(p._1) * col(p._2)))
    val proj = df.select(groupCols.map(col) ++ moments.map { case (n, e) =>
      momentQuant(e).as(n) }: _*)
    val aggs = moments.map(_._1).flatMap(chunkAggs) :+ count(lit(1)).as("n")
    val agged =
      if (groupCols.isEmpty) proj.agg(aggs.head, aggs.tail: _*)
      else proj.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    agged.select(groupCols.map(col) ++
        cols.map(c => value6(recombine(s"fs_$c")).cast(D.dec25).cast(DoubleType).as(s"s_$c")) ++
        cols.map(c => value6(recombine(s"fss_$c")).cast(DecimalType(38, 0)).cast(DoubleType).as(s"ss_$c")) ++
        pairs.map(p => value6(recombine(s"fsp_${p._1}__${p._2}")).cast(DecimalType(38, 0)).cast(DoubleType).as(s"sp_${p._1}__${p._2}")) :+
        col("n"): _*)
  }

  private def dsumSql(c: String) = s"CAST(ROUND(SUM(CAST($c AS DECIMAL(25,6))), 6) AS DOUBLE)"
  private def dsumBigSql(c: String) = s"CAST(ROUND(SUM(CAST($c AS DECIMAL(30,6))), 0) AS DOUBLE)"

  /** Pearson r for each (x, y) pair, one scan for all pairs. */
  def pearson(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val cols = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val a = momentAgg(df, cols, pairs)
    val rows = pairs.map { case (x, y) =>
      struct(lit("pearson").as("stat"), lit(x).as("col_x"), lit(y).as("col_y"),
        pearsonExpr(x, y).as("value"))
    }
    a.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** The Pearson r expression over a momentAgg row — the ONE place the
    * determinism-sensitive formula lives (used by [[pearson]],
    * [[pearsonBy]], and [[suite]]). */
  private def pearsonExpr(x: String, y: String): Column = {
    val n = col("n")
    val num = n * col(s"sp_${x}__$y") - col(s"s_$x") * col(s"s_$y")
    val den = sqrt(greatest(n * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x"), lit(0.0))) *
      sqrt(greatest(n * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y"), lit(0.0)))
    graft.util.D.r(when(den > 1e-9, num / den).otherwise(lit(0.0)), 6)
  }

  /** SQL mirror of [[pearsonExpr]] as a (num, den) pair. */
  private def pearsonExprSql(x: String, y: String): (String, String) = {
    val n = "CAST(COUNT(*) AS DOUBLE)"
    val num = s"($n * ${dsumBigSql(s"$x * $y")} - ${dsumSql(x)} * ${dsumSql(y)})"
    val den = s"(SQRT(GREATEST($n * ${dsumBigSql(s"$x * $x")} - ${dsumSql(x)} * ${dsumSql(x)}, 0)) * " +
      s"SQRT(GREATEST($n * ${dsumBigSql(s"$y * $y")} - ${dsumSql(y)} * ${dsumSql(y)}, 0)))"
    (num, den)
  }

  /** Per-group Pearson r (the pandas `groupby().corr()` analog for one
    * pair): ONE scan, chunked-long exact moments per group, same
    * formula and emission as [[pearson]]. NULL groups sort last to
    * match the DuckDB mirror's default ordering. */
  def pearsonBy(df: DataFrame, groupCol: String, x: String, y: String): DataFrame =
    pearsonBy(df, Seq(groupCol), x, y)

  /** Multi-group-column form of [[pearsonBy]] (one pair). */
  def pearsonBy(df: DataFrame, groupCols: Seq[String], x: String, y: String): DataFrame = {
    require(groupCols.nonEmpty, "pearsonBy requires at least one group column")
    groupCols.foreach(guardGroupCol)
    val a = momentAgg(df, Seq(x, y).distinct, Seq((x, y)), groupCols)
    a.select(groupCols.map(col) ++ Seq(pearsonExpr(x, y).as("pearson_r"), col("n")): _*)
      .orderBy(groupCols.map(c => col(c).asc_nulls_last): _*)
  }

  /** Full per-group Pearson matrix (the pandas `groupby().corr()`
    * analog): every unordered pair of `cols`, any number of group
    * columns, ONE scan — a single momentAgg carries all pair moments
    * per group and the pair rows explode from the aggregated row
    * (reference: explainable_group_by_dataframe.py computes the
    * all-numeric-pairs matrix per group). Output:
    * (groupCols..., col_x, col_y, pearson_r, n). */
  def pearsonMatrixBy(df: DataFrame, groupCols: Seq[String], cols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "pearsonMatrixBy requires at least one group column")
    require(cols.size >= 2, "pearsonMatrixBy requires at least two numeric columns")
    groupCols.foreach(guardGroupCol)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield (cols(i), cols(j))
    val a = momentAgg(df, cols, pairs, groupCols)
    val rows = pairs.map { case (x, y) =>
      struct(lit(x).as("col_x"), lit(y).as("col_y"), pearsonExpr(x, y).as("pearson_r"))
    }
    a.select(groupCols.map(col) ++ Seq(col("n"), explode(array(rows: _*)).as("r")): _*)
      .select(groupCols.map(col) ++ Seq(col("r.col_x").as("col_x"),
        col("r.col_y").as("col_y"), col("r.pearson_r").as("pearson_r"), col("n")): _*)
      .orderBy(groupCols.map(c => col(c).asc_nulls_last) ++
        Seq(col("col_x"), col("col_y")): _*)
  }

  def pearsonMatrixBySql(table: String, groupCols: Seq[String], cols: Seq[String]): String = {
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield (cols(i), cols(j))
    val g = groupCols.mkString(", ")
    pairs.map { case (x, y) =>
      val (num, den) = pearsonExprSql(x, y)
      s"""SELECT $g, '$x' AS col_x, '$y' AS col_y,
         |  ROUND(CASE WHEN $den > 1e-9 THEN $num / $den ELSE 0.0 END, 6) AS pearson_r,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM $table GROUP BY $g""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", s"\n) ORDER BY $g, col_x, col_y")
  }

  private def guardGroupCol(groupCol: String): Unit =
    require(groupCol != "n" && !groupCol.contains("__") &&
      !groupCol.startsWith("fs") && !groupCol.startsWith("s_") && !groupCol.startsWith("ss_"),
      s"group column '$groupCol' collides with internal moment aliases")

  def pearsonBySql(table: String, groupCol: String, x: String, y: String): String = {
    val (num, den) = pearsonExprSql(x, y)
    s"""SELECT $groupCol,
       |  ROUND(CASE WHEN $den > 1e-9 THEN $num / $den ELSE 0.0 END, 6) AS pearson_r,
       |  CAST(COUNT(*) AS BIGINT) AS n
       |FROM $table GROUP BY $groupCol ORDER BY $groupCol""".stripMargin
  }

  def pearsonSql(table: String, pairs: Seq[(String, String)]): String =
    pairs.map { case (x, y) =>
      val (num, den) = pearsonExprSql(x, y)
      s"""SELECT 'pearson' AS stat, '$x' AS col_x, '$y' AS col_y,
         |  ROUND(CASE WHEN $den > 1e-9 THEN $num / $den ELSE 0.0 END, 6) AS value
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---- driver-side exact mirrors (suite finish) ---------------------
  // The suite's finishing math runs on the driver over the bounded cell
  // table; each helper (these two and graft.util.Mirror's) replicates
  // the corresponding Catalyst expression BIT-EXACTLY (same Java
  // BigDecimal entry points Spark's Cast/Round use), pinned by
  // QuantizeSpec's suite-vs-solo parity test.

  /** Mirror of value6(u).cast(dec25).cast(Double): exact unscaled-6
    * decimal → double (java.math.BigDecimal.doubleValue, the same
    * conversion Spark's decimal→double cast performs). */
  private def emit6D(u: java.math.BigInteger): Double =
    new java.math.BigDecimal(u, 6).doubleValue()

  /** Mirror of value6(u).cast(DecimalType(38,0)).cast(Double). */
  private def emit0D(u: java.math.BigInteger): Double =
    new java.math.BigDecimal(u, 6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The full correlation suite — Pearson over `pairs`, η(cat → num),
    * Cramér's V(cat, cat2) — in ONE corpus scan, finished on the driver:
    *  1. one exchange-free pass ([[graft.util.Guard.gatherCells]]) gathers
    *     the (cat, cat2) cells, each carrying its contingency count AND
    *     every Pearson/η moment as an exact decimal sum; the global and
    *     per-ca totals re-add them EXACTLY, so every statistic is
    *     bit-identical to the per-statistic forms;
    *  2. the ≤ |cat|·|cat2| cells finish on the driver through the exact
    *     expression mirrors above, into a LocalRelation in
    *     (stat, col_x, col_y) order: consuming it launches no Spark job.
    * Output matches pearson ∪ eta ∪ cramersV exactly (QuantizeSpec). */
  def suite(df: DataFrame, pairs: Seq[(String, String)],
            cat: String, num: String, cat2: String): DataFrame = {
    require(pairs.exists(p => p._1 == num || p._2 == num),
      s"suite requires $num to appear in a pearson pair (its moments are shared)")
    val spark = df.sparkSession
    val cols = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val moments: Seq[(String, Column)] =
      cols.map(c => s"fs_$c" -> col(c)) ++
        cols.map(c => s"fss_$c" -> (col(c) * col(c))) ++
        pairs.map(p => s"fsp_${p._1}__${p._2}" -> (col(p._1) * col(p._2)))
    // each moment is summed as its double value cast to DECIMAL(25,6)
    val (_, gathered) = graft.util.Guard.gatherCells(
      graft.util.Guard.groupingForm(df.select(col(cat).as("ca") +: col(cat2).as("cb") +:
        moments.map { case (n, e) => e.cast(DoubleType).as(n) }: _*), Seq("ca", "cb")),
      Seq(struct(col("ca"), col("cb"))), "Correlation.suite", sums = moments.map(m => col(m._1).cast(D.dec25)))
    final case class Cell(ca: Any, cb: Any, o: Long, sums: Map[String, java.math.BigInteger])
    val cells = gathered.map(c => Cell(Mirror.groupKey(c.key.get(0)), Mirror.groupKey(c.key.get(1)),
      c.n, moments.map(_._1).zip(c.sums).collect { case (n, v) if v != null => n -> v.unscaledValue }.toMap))

    def totalOf(name: String, of: Seq[Cell] = cells): Option[java.math.BigInteger] =
      of.flatMap(_.sums.get(name)).reduceOption(_ add _)

    val n = cells.map(_.o).sum
    // Pearson rows (always emitted — the global aggregate row always exists)
    def sOf(c: String) = totalOf(s"fs_$c").map(emit6D)
    def ssOf(c: String) = totalOf(s"fss_$c").map(emit0D)
    val pearsonRows = pairs.map { case (x, y) =>
      // mirror of pearsonExpr: when(den > 1e-9, num/den).otherwise(0.0) —
      // a null operand nulls the condition, which falls to the otherwise
      val v = for {
        sx <- sOf(x); sy <- sOf(y); ssx <- ssOf(x); ssy <- ssOf(y)
        sp <- totalOf(s"fsp_${x}__$y").map(emit0D)
      } yield {
        val numr = n * sp - sx * sy
        val den = math.sqrt(math.max(n * ssx - sx * sx, 0.0)) *
          math.sqrt(math.max(n * ssy - sy * sy, 0.0))
        if (den > 1e-9) Mirror.r(numr / den, 6) else 0.0
      }
      ("pearson", x, y, java.lang.Double.valueOf(v.getOrElse(0.0)))
    }

    // η: per-ca groups re-added from cells (exact); null-ca group included
    // (the grouped form kept it — no join on ca ever dropped it)
    val etaRows = if (cells.isEmpty) Nil else {
      val byCa = cells.groupBy(_.ca).values.toSeq
      val v = for { s <- sOf(num); ss <- ssOf(num) } yield {
        val nD = n.toDouble
        val mean = s / nD
        val ssb = byCa.map { g =>
          val ng = g.map(_.o).sum
          val sg = totalOf(s"fs_$num", g).map(emit6D).getOrElse(0.0)
          val d = sg / ng - mean
          Mirror.castDec(ng * d * d, 18, 6)
        }.reduce(_.add(_)).doubleValue()
        Mirror.r(math.sqrt(ssb / math.max(ss - nD * (s / nD) * (s / nD), 1e-9)), 6)
      }
      Seq(("eta", cat, num, v.map(java.lang.Double.valueOf).orNull))
    }

    // Cramér's V: equi-join null semantics — null-keyed cells contribute
    // to n/rn/cn but never to the χ² sum; countDistinct skips nulls
    val rnByCa = cells.groupBy(_.ca).map { case (k, g) => k -> g.map(_.o).sum }
    val cnByCb = cells.groupBy(_.cb).map { case (k, g) => k -> g.map(_.o).sum }
    val rCnt = rnByCa.keys.count(_ != null).toLong
    val kCnt = cnByCb.keys.count(_ != null).toLong
    val nonNullCells = cells.filter(c => c.ca != null && c.cb != null)
    val cramersRows = if (nonNullCells.isEmpty) Nil else {
      val chi2 = nonNullCells.map { c =>
        val e = (rnByCa(c.ca) * cnByCb(c.cb)).toDouble / n.toDouble
        Mirror.castDec((c.o - e) * (c.o - e) / e, 18, 6)
      }.reduce(_.add(_)).doubleValue()
      val v = Mirror.r(math.sqrt(chi2 / (n * math.max(math.min(rCnt, kCnt) - 1L, 1L)).toDouble), 6)
      Seq(("cramers_v", cat, cat2, java.lang.Double.valueOf(v)))
    }

    val out = (pearsonRows ++ etaRows ++ cramersRows).map { case (st, cx, cy, v) =>
      org.apache.spark.sql.Row(st, cx, cy, v)
    }
    val schema = StructType(Seq(
      StructField("stat", StringType, nullable = false),
      StructField("col_x", StringType, nullable = false),
      StructField("col_y", StringType, nullable = false),
      StructField("value", DoubleType, nullable = true)))
    Mirror.Table(schema, out)
      .orderBy(Mirror.asc("stat"), Mirror.asc("col_x"), Mirror.asc("col_y")).toDF(spark)
  }

  /** η (correlation ratio) for EVERY (cat, num) pair in ONE
    * grouping-sets scan — the multi-target correlation table behind
    * auto-search's correlation_aggregation_method ranking (reference
    * `_find_correlated_columns_multi`, metainsight_explainer.py:600-658:
    * per-target correlations combined by avg/max/sum; its per-target
    * computation is a pandas loop — one scan per target — re-expressed
    * here as a single grouping-sets pass whose () set carries the global
    * moments). Group rows collect to the driver (bounded: Σ cat
    * cardinalities + 1, Guard-capped); η math is the [[eta]] formula.
    * Ranking device (double sums, deterministic), not an oracled path. */
  def etaMatrix(df: DataFrame, cats: Seq[String], nums: Seq[String]): Map[(String, String), Double] = {
    require(cats.nonEmpty && nums.nonEmpty, "etaMatrix needs >=1 cat and >=1 num")
    val aggs =
      (count(lit(1)).cast(DoubleType).as("ng") +:
        nums.zipWithIndex.flatMap { case (m, i) => Seq(
          sum(col(m).cast(D.dec25)).cast(DoubleType).as(s"sg_$i"),
          sum((col(m) * col(m)).cast(DecimalType(38, 6))).cast(DoubleType).as(s"ssg_$i")) }) ++
        cats.map(c => grouping(col(c)).as(s"g_$c"))
    val cap = graft.util.Guard.MaxRankedLabels
    val rows = df
      .groupingSets(cats.map(c => Seq(col(c))) :+ Seq.empty[Column], cats.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .limit(cap + 1).collect()
    if (rows.length > cap)
      throw new IllegalArgumentException(
        s"etaMatrix found more than $cap group rows — a candidate dimension " +
          "looks ID-like; pass explicit filterDims/measures or raise " +
          "graft.util.Guard.MaxRankedLabels.")
    // grouping() emits BYTE
    def flag(r: org.apache.spark.sql.Row, c: String) = r.getByte(r.fieldIndex(s"g_$c")).toInt
    val global = rows.find(r => cats.forall(c => flag(r, c) == 1)).getOrElse(
      throw new IllegalStateException("grouping-sets () row missing"))
    val n = global.getDouble(global.fieldIndex("ng"))
    (for {
      (c, _) <- cats.zipWithIndex
      (m, mi) <- nums.zipWithIndex
    } yield {
      val s = Option(global.get(global.fieldIndex(s"sg_$mi"))).fold(0.0)(_.asInstanceOf[Double])
      val ss = Option(global.get(global.fieldIndex(s"ssg_$mi"))).fold(0.0)(_.asInstanceOf[Double])
      val groups = rows.filter(r => flag(r, c) == 0 && cats.filter(_ != c).forall(o => flag(r, o) == 1))
      val ssb = groups.map { r =>
        val ng = r.getDouble(r.fieldIndex("ng"))
        val sg = Option(r.get(r.fieldIndex(s"sg_$mi"))).fold(0.0)(_.asInstanceOf[Double])
        ng * (sg / ng - s / n) * (sg / ng - s / n)
      }.sum
      (c, m) -> math.sqrt(ssb / math.max(ss - n * (s / n) * (s / n), 1e-9))
    }).toMap
  }

  /** Correlation ratio η: categorical `cat` → numeric `num`. */
  def eta(df: DataFrame, cat: String, num: String): DataFrame = {
    val g = df.groupBy(col(cat).as("g"))
      .agg(count(lit(1)).as("ng"), dsum(col(num)).as("sg"))
    val tot = df.agg(count(lit(1)).as("n"), dsum(col(num)).as("s"),
      dsumBig(col(num) * col(num)).as("ss"))
    val mean = col("s") / col("n")
    val ssb = g.crossJoin(broadcast(tot))
      .select((col("ng") * (col("sg") / col("ng") - mean) * (col("sg") / col("ng") - mean)).cast(dval).as("t"),
        col("n"), col("s"), col("ss"))
      .groupBy("n", "s", "ss").agg(sum(col("t")).cast(DoubleType).as("ssb"))
    ssb.select(lit("eta").as("stat"), lit(cat).as("col_x"), lit(num).as("col_y"),
      graft.util.D.r(sqrt(col("ssb") / greatest(col("ss") - col("n") * (col("s") / col("n")) * (col("s") / col("n")), lit(1e-9))), 6).as("value"))
  }

  def etaSql(table: String, cat: String, num: String): String =
    s"""SELECT 'eta' AS stat, '$cat' AS col_x, '$num' AS col_y,
       |  ROUND(SQRT(ssb / GREATEST(ss - n * (s / n) * (s / n), 1e-9)), 6) AS value
       |FROM (
       |  SELECT CAST(SUM(CAST(ng * (sg / ng - s / n) * (sg / ng - s / n) AS DECIMAL(18,6))) AS DOUBLE) AS ssb,
       |    MAX(n) AS n, MAX(s) AS s, MAX(ss) AS ss
       |  FROM (SELECT $cat AS g, COUNT(*) AS ng, ${dsumSql(num)} AS sg FROM $table GROUP BY 1) g
       |  CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${dsumSql(num)} AS s,
       |    ${dsumBigSql(s"$num * $num")} AS ss FROM $table) t)""".stripMargin

  /** Cramér's V for two categorical columns (χ² without correction). */
  def cramersV(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("ca"), col(b).as("cb")).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy("ca").agg(sum("o").as("rn"))
    val cb = cells.groupBy("cb").agg(sum("o").as("cn"))
    val n = cells.agg(sum("o").as("n"), countDistinct(col("ca")).as("r"), countDistinct(col("cb")).as("k"))
    val e = col("rn") * col("cn") / col("n")
    val chi = cells.join(ra, Seq("ca")).join(cb, Seq("cb")).crossJoin(broadcast(n))
      .select((((col("o") - e) * (col("o") - e) / e)).cast(dval).as("t"), col("n"), col("r"), col("k"))
      .groupBy("n", "r", "k").agg(sum(col("t")).cast(DoubleType).as("chi2"))
    chi.select(lit("cramers_v").as("stat"), lit(a).as("col_x"), lit(b).as("col_y"),
      graft.util.D.r(sqrt(col("chi2") / (col("n") * greatest(least(col("r"), col("k")) - 1, lit(1)))), 6).as("value"))
  }

  def cramersVSql(table: String, a: String, b: String): String =
    s"""SELECT 'cramers_v' AS stat, '$a' AS col_x, '$b' AS col_y,
       |  ROUND(SQRT(chi2 / (n * GREATEST(LEAST(r, k) - 1, 1))), 6) AS value
       |FROM (
       |  SELECT CAST(SUM(CAST((o - rn * cn / n) * (o - rn * cn / n) / (rn * cn / n) AS DECIMAL(18,6))) AS DOUBLE) AS chi2,
       |    MAX(n) AS n, MAX(r) AS r, MAX(k) AS k
       |  FROM (SELECT ca, cb, o,
       |      SUM(o) OVER (PARTITION BY ca) AS rn,
       |      SUM(o) OVER (PARTITION BY cb) AS cn,
       |      SUM(o) OVER () AS n,
       |      (SELECT COUNT(DISTINCT $a) FROM $table) AS r,
       |      (SELECT COUNT(DISTINCT $b) FROM $table) AS k
       |    FROM (SELECT $a AS ca, $b AS cb, COUNT(*) AS o FROM $table GROUP BY 1, 2)))""".stripMargin
}
