package graft.core

import graft.explain._
import graft.util.{D, Guard, Mirror}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DateType, DoubleType, LongType, NumericType, StringType,
  StructField, StructType, TimestampNTZType, TimestampType}

/** Provenance of the last query operation on an [[ExplainFrame]] — the
  * Spark-native equivalent of pd-explain's `operation` field on
  * ExpDataFrame (reference: /root/reference/src/pd_explain/core/
  * explainable_data_frame.py). Holds lazy plans, never materialized data. */
sealed trait Operation { def describe: String }
final case class FilterOp(source: DataFrame, result: DataFrame, cond: String,
                          condCol: Option[Column] = None) extends Operation {
  def describe = s"filter[$cond]"
}
final case class GroupByOp(source: DataFrame, result: DataFrame,
                           groupCols: Seq[String], aggCol: String, aggFn: String) extends Operation {
  def describe = s"groupby[${groupCols.mkString(",")}].$aggFn($aggCol)"
}
final case class JoinOp(left: DataFrame, right: DataFrame, result: DataFrame,
                        on: Seq[String], how: String) extends Operation {
  def describe = s"join[${on.mkString(",")}:$how]"
}

/** Explainable DataFrame: wraps a lazy DataFrame, records operation
  * provenance, and exposes `.explain*` methods that return DataFrames of
  * explanations (Spark-first — no plotting layer).
  *
  * Mirrors the reference's ExpDataFrame operation surface: filter/where/
  * select/groupBy/join/dropDuplicates/sample/valueCounts/describe; the
  * explainers mirror fedex / outlier / many_to_one / metainsight.
  */
final class ExplainFrame(val df: DataFrame, val op: Option[Operation], val name: String) {

  private def next(d: DataFrame, o: Operation): ExplainFrame = new ExplainFrame(d, Some(o), name)

  // ------------------------------------------------------ operations ----
  def filter(cond: Column): ExplainFrame = {
    val res = df.filter(cond)
    next(res, FilterOp(df, res, cond.toString, Some(cond)))
  }

  def where(cond: Column): ExplainFrame = filter(cond)

  def select(cols: Column*): ExplainFrame = new ExplainFrame(df.select(cols: _*), op, name)

  def drop(colNames: String*): ExplainFrame = new ExplainFrame(df.drop(colNames: _*), op, name)

  def withColumnRenamed(a: String, b: String): ExplainFrame =
    new ExplainFrame(df.withColumnRenamed(a, b), op, name)

  def groupBy(cols: String*): ExplainGroupBy = new ExplainGroupBy(this, cols)

  /** Column access as a provenance-carrying series (ExpSeries analog):
    * `ef.series("l_quantity") >= 30` is a composable, explainable mask. */
  def series(colName: String): ExplainSeries = ExplainSeries(this, colName)

  def join(other: ExplainFrame, on: Seq[String], how: String = "inner"): ExplainFrame = {
    val res = df.join(other.df, on, how)
    next(res, JoinOp(df, other.df, res, on, how))
  }

  def dropDuplicates(cols: Seq[String] = Nil): ExplainFrame = {
    val res = if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)
    new ExplainFrame(res, op, name)
  }

  /** Deterministic sample: keeps rows where hash-mod of `keyCol` hits. */
  def sampleDeterministic(keyCol: String, mod: Int, rem: Int = 0): ExplainFrame =
    new ExplainFrame(df.filter(pmod(col(keyCol), lit(mod)) === rem), op, name)

  // ------------------------------------------------- explainer sampling --

  /** Keep-every-mod'th deterministic row sample keyed on the CONTENT hash
    * of `cols` (generalizes [[sampleDeterministic]] to key-less tables).
    * Content hashing makes sampling CONSISTENT across source and result:
    * a result row that is also a source row (filter/join provenance)
    * hashes identically, so sampled-source distributions and
    * sampled-result distributions stay comparable. */
  private def hashSample(d: DataFrame, cols: Seq[String], mod: Long): DataFrame =
    if (mod <= 1L) d
    else d.filter(pmod(xxhash64(cols.map(col): _*), lit(mod)) === 0)

  /** mod for a ~`sampleSize`-row sample of an `n`-row table. */
  private def sampleMod(n: Long, sampleSize: Int): Long =
    math.max(1L, math.round(n.toDouble / sampleSize))

  /** Approximate row count WITHOUT running a job: Catalyst's plan
    * statistics (CBO rowCount when available, else sizeInBytes over the
    * schema's estimated row width). Used ONLY to derive the sampling
    * hash-mod — the sample itself stays a deterministic content-hash
    * filter; only its RATE comes from the estimate, so explain() no
    * longer pays a full count() pre-scan of the source before the
    * explain scan.
    *
    * The sizeInBytes fallback can err in EITHER direction, because it
    * is the COMPRESSED parquet size while the width estimate is
    * per-type: fixed-width schemas compress ~2-4×, so rows are
    * UNDERestimated and the sample errs larger than sampleSize (the
    * safe direction); a text-heavy schema (multi-KB documents vs the
    * 20-byte StringType defaultSize) OVERestimates rows and the sample
    * lands below sampleSize, with the rate tied to parquet layout. The
    * 32-byte floor on variable-length fields covers the common
    * short-string case (compressed string cells are well under 32
    * bytes, so the error keeps pointing toward larger samples) without
    * inflating samples ~10× the way a KB-scale floor measurably did on
    * the sampled explainers. A truly KB-text frame still undersamples —
    * deliberately: the explanation stays correct on fewer rows
    * (graceful degradation), and the alternative (an exact count()
    * pre-scan of the source) is the full-scan cost this estimate
    * exists to avoid. Callers that need an exact rate on text-heavy
    * frames can pass useSampling = false. */
  private def approxRows(d: DataFrame): Long = {
    val stats = d.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val width = math.max(8, d.schema.fields.map(f => f.dataType match {
        case StringType | BinaryType => 32
        case t => t.defaultSize
      }).sum)
      (stats.sizeInBytes / width).toLong.max(1L)
    }
  }

  /** pandas `value_counts`: (c, cnt, share) per distinct value of `c`,
    * by cnt descending and then by value ascending; share =
    * round(cnt / rows, 6). Values group as Spark's groupBy groups them:
    * NULL is its own group, −0.0 is 0.0 and every NaN is one NaN.
    *
    * Scale: one exchange-free pass ([[Guard.gatherCells]]) counts the
    * groups, bounded by [[Guard.MaxGatheredCells]] (an ID-like column
    * fails with the shared "ID-like" error); the shares and the order
    * finish on the driver, and the result is a LocalRelation, so
    * consuming it launches no Spark job. */
  def valueCounts(c: String): DataFrame = {
    val (keys, cells) = Guard.gatherCells(Guard.groupingForm(df, Seq(c)), Seq(struct(col(c))),
      "ExplainFrame.valueCounts")
    val total = cells.map(_.n).sum
    // cells come in ascending key order, so a stable sort by count
    // breaks count ties by value
    Mirror.Table(StructType(Seq(keys(0).head, StructField("cnt", LongType, nullable = false),
        StructField("share", DoubleType))),
      cells.map(x => Row(x.key.get(0), x.n, Mirror.r(x.n.toDouble / total))))
      .orderBy(Mirror.desc("cnt")).toDF(df.sparkSession)
  }

  /** pandas `describe`: (col, n, mean, std, min_v, max_v) per column of
    * `cols`, by column name (a repeated column repeats its row). n counts
    * the non-NULL values; mean and std (sample, NULL for n ≤ 1) come from
    * exact decimal moments rounded to 6 dp ([[D.dsum]], [[D.dsumsq]],
    * [[D.varSamp]]); min_v and max_v take the common type Spark's
    * `array(struct…)` coercion gives the columns' types.
    *
    * Scale: one exchange-free pass ([[Guard.gatherCells]]) into a single
    * cell holding each column's count, moments and extrema; the stats
    * finish on the driver through [[Mirror]], and the result is a
    * LocalRelation, so consuming it launches no Spark job. */
  def describeStats(cols: Seq[String]): DataFrame = {
    val src = df.select(cols.zipWithIndex.map { case (c, i) => col(c).as(s"c$i") }: _*)
    val xs = src.columns.toSeq.map(col)
    val (_, cells) = Guard.gatherCells(src, Seq(struct()), "ExplainFrame.describeStats",
      flags = xs.map(_.isNotNull), sums = xs.flatMap(x => Seq(x.cast(D.dec25), D.dmul(x, x))),
      extrema = xs)
    val types = src.schema.map(_.dataType)
    def schemaOf(t: DataType) = StructType(Seq(StructField("col", StringType, nullable = false),
      StructField("n", LongType, nullable = false), StructField("mean", DoubleType),
      StructField("std", DoubleType), StructField("min_v", t), StructField("max_v", t)))
    // the rows' common type, as array(struct(...)) coerces them
    val schema = Mirror.widerType(types.map(schemaOf)).getOrElse(throw new IllegalArgumentException(
      s"describeStats: the columns ${cols.mkString(", ")} (${types.mkString(", ")}) have no common type"))
      .asInstanceOf[StructType]
    val cell = cells.headOption
    val rows = cols.indices.map { i =>
      val n = cell.fold(0L)(_.flags(i))
      // emit6(dsum) and emit0(Σ dmul(x, x)), NULL without values
      def emitted(j: Int, precision: Int, scale: Int) = cell.map(_.sums(j)).filter(_ != null)
        .map(Mirror.decCast(_, precision, scale).doubleValue)
      val (sm, sq) = (emitted(2 * i, 25, 6), emitted(2 * i + 1, 38, 0))
      val mean = sm.map(v => Mirror.r(v / n))
      val std = for (v <- sm; v2 <- sq if n > 1) yield Mirror.r(math.sqrt((v2 - v * v / n) / (n - 1)))
      def typed(v: Option[Any]) = Mirror.cast(v.orNull, types(i), schema("min_v").dataType)
      Row(cols(i), n, mean.map(Double.box).orNull, std.map(Double.box).orNull,
        typed(cell.map(_.lo(i))), typed(cell.map(_.hi(i))))
    }
    Mirror.Table(schema, rows).orderBy(Mirror.asc("col")).toDF(df.sparkSession)
  }

  // ------------------------------------------------------- explainers ---

  /** Attributes considered by default: up to `maxAttrs` numeric + string
    * columns of the source, skipping key-ish columns (reference skips via
    * correlation pruning; we use the name heuristic). */
  private def defaultAttrs(src: DataFrame, exclude: Set[String], maxAttrs: Int = 6): Seq[Fedex.Attr] =
    src.schema.fields.iterator
      .filterNot(f => exclude.contains(f.name))
      .filterNot(f => f.name.endsWith("key") || f.name.endsWith("_id") || f.name.endsWith("date"))
      .collect {
        case f if f.dataType.isInstanceOf[NumericType] => Fedex.Attr(f.name, numeric = true)
        case f if f.dataType == StringType => Fedex.Attr(f.name, numeric = false)
      }
      .take(maxAttrs).toSeq

  /** Unified explainer dispatch, mirroring the reference's
    * `df.explain(explainer=...)` entry point and its argument validation
    * (reference tests: tests/test_explainers.py — unknown explainer,
    * outlier without target/dir or on non-groupby, invalid thresholds all
    * raise). */
  def explain(explainer: String = "fedex",
              target: String = null, dir: String = null,
              labelCol: String = null,
              consider: String = "right",
              attr: String = null, value: String = null,
              attributes: Seq[String] = Nil, topK: Int = 3,
              coverageThreshold: Double = 0.7, separationThreshold: Double = 0.3,
              catAttrs: Seq[String] = Nil, numAttrs: Seq[String] = Nil,
              filterDim: String = null, breakdown: String = null,
              aggCol: String = null,
              useSampling: Boolean = true, sampleSize: Int = 5000,
              binningMethod: String = "equal_width",
              binNumericLabel: Boolean = false, numLabelBins: Int = 10,
              pruneIfTooManyLabels: Boolean = true, maxLabels: Int = 10,
              pruningMethod: String = "largest",
              schema: Map[String, String] = Map.empty,
              ignore: Seq[String] = Nil,
              pValue: Int = 1, maxExplanationLength: Int = 3,
              explainErrorsFlag: Boolean = true,
              explanationForm: String = "conj",
              errorExplanationThreshold: Double = 0.05,
              minCommonness: Double = 0.5,
              noExceptionPenaltyWeight: Double = 0.1,
              balanceFactor: Double = 1.0,
              filterColumns: Seq[String] = Nil,
              groupbyColumns: Seq[String] = Nil,
              aggregations: Seq[String] = Nil,
              correlationAggregationMethod: String = "avg",
              maxFilterColumns: Int = 3, maxAggregationColumns: Int = 3,
              allowMultipleAggregations: Boolean = false,
              allowMultipleGroupbys: Boolean = false,
              useAllGroupbyCombinations: Boolean = false): DataFrame = {
    if (pValue < 0)
      throw new IllegalArgumentException("p_value must be a non-negative number")
    applySchema(dispatch(explainer, target, dir, labelCol, consider, attr, value,
      attributes, topK,
      coverageThreshold, separationThreshold, catAttrs, numAttrs, filterDim,
      breakdown, aggCol, useSampling, sampleSize, binningMethod,
      binNumericLabel, numLabelBins, pruneIfTooManyLabels, maxLabels,
      pruningMethod, ignore, pValue, maxExplanationLength, explainErrorsFlag,
      explanationForm, errorExplanationThreshold,
      minCommonness, noExceptionPenaltyWeight, balanceFactor,
      filterColumns, groupbyColumns, aggregations,
      correlationAggregationMethod, maxFilterColumns, maxAggregationColumns,
      allowMultipleAggregations, allowMultipleGroupbys,
      useAllGroupbyCombinations), schema)
  }

  /** `schema` kwarg parity (explainable_data_frame.py:1085): a rename map
    * applied to the attribute names appearing IN the explanation output
    * (the reference renames for display). Other columns pass through. */
  private def applySchema(res: DataFrame, schema: Map[String, String]): DataFrame =
    if (schema.isEmpty || !res.columns.contains("attribute")) res
    else {
      val renamed = schema.foldLeft(col("attribute")) { case (acc, (from, to)) =>
        when(col("attribute") === from, lit(to)).otherwise(acc) }
      res.withColumn("attribute", renamed)
    }

  private def dispatch(explainer: String,
              target: String, dir: String,
              labelCol: String,
              consider: String, attr: String, value: String,
              attributes: Seq[String], topK: Int,
              coverageThreshold: Double, separationThreshold: Double,
              catAttrs: Seq[String], numAttrs: Seq[String],
              filterDim: String, breakdown: String,
              aggCol: String,
              useSampling: Boolean, sampleSize: Int,
              binningMethod: String,
              binNumericLabel: Boolean, numLabelBins: Int,
              pruneIfTooManyLabels: Boolean, maxLabels: Int,
              pruningMethod: String,
              ignore: Seq[String],
              pValue: Int, maxExplanationLength: Int,
              explainErrorsFlag: Boolean,
              explanationForm: String,
              errorExplanationThreshold: Double,
              minCommonness: Double,
              noExceptionPenaltyWeight: Double,
              balanceFactor: Double,
              filterColumns: Seq[String],
              groupbyColumns: Seq[String],
              aggregations: Seq[String],
              correlationAggregationMethod: String,
              maxFilterColumns: Int, maxAggregationColumns: Int,
              allowMultipleAggregations: Boolean,
              allowMultipleGroupbys: Boolean,
              useAllGroupbyCombinations: Boolean): DataFrame = explainer match {
    case "fedex" => explainFedex(attributes, topK, consider = consider,
      useSampling = useSampling, sampleSize = sampleSize, ignore = ignore)
    case "shapley" => op match {
      case Some(FilterOp(src, res, _, condCol)) =>
        val attrs =
          if (attr != null) resolveAttrs(src, Seq(attr), ignore.toSet)
          else if (attributes.nonEmpty) {
            val byName = src.schema.fields.map(f => f.name -> f).toMap
            attributes.filterNot(ignore.contains)
              .map(a => Fedex.Attr(a, byName(a).dataType.isInstanceOf[NumericType]))
          } else defaultAttrs(src, ignore.toSet)
        val mod = if (useSampling) sampleMod(approxRows(src), sampleSize) else 1L
        val s2 = hashSample(src, src.columns.toSeq, mod)
        val counts = condCol match {
          case Some(c) => Fedex.countTable(s2, c, attrs)
          case None => Fedex.countTable(s2, hashSample(res, src.columns.toSeq, mod), attrs, 10)
        }
        Fedex.binShapley(counts).toDF(df.sparkSession)
      case Some(JoinOp(left, right, res, on, _)) =>
        // join shapley (the Spotify fedex notebook's
        // explain(explainer='shapley', value=…, attr=…, consider=…)
        // cell; fedex_explainer.py:31,107,144 threads consider/cont/attr
        // into the operation): per-bin Shapley attribution of the
        // scored attribute's distribution shift from its source frame
        // into the join result — the same conditional counts the fedex
        // join deviation uses, Shapley terms instead of the KL ranking.
        // `attr` pins the scored attribute; the notebooks pass an attr
        // carried by the OTHER side of the join (consider='left' on a
        // key-only left frame), so it resolves on whichever side has
        // it, preferring the `consider` side. `value` names the display
        // aggregation in the reference (validated, presentation-only —
        // the deterministic scores are aggregation-free).
        if (consider != "left" && consider != "right")
          throw new IllegalArgumentException("consider must be either 'left' or 'right'")
        if (value != null && !Set("mean", "count", "sum", "min", "max").contains(value))
          throw new IllegalArgumentException(s"unknown value aggregation '$value'")
        val (preferred, other) = if (consider == "left") (left, right) else (right, left)
        val side =
          if (attr == null || preferred.columns.contains(attr)) preferred
          else if (other.columns.contains(attr)) other
          else throw new IllegalArgumentException(
            s"attr '$attr' is on neither side of the join")
        val sideCols = side.columns.toSeq
        val attrs =
          if (attr != null) resolveAttrs(side, Seq(attr), ignore.toSet)
          else resolveAttrs(side, attributes.filterNot(ignore.contains), on.toSet ++ ignore)
        val mod = if (useSampling) sampleMod(approxRows(side), sampleSize) else 1L
        val counts = Fedex.countTable(
          hashSample(side, sideCols, mod),
          hashSample(res.select(sideCols.map(col): _*), sideCols, mod), attrs, 10)
        Fedex.binShapley(counts).toDF(df.sparkSession)
      case _ => throw new IllegalArgumentException(
        "shapley explainer requires a filter or join operation")
    }
    case "outlier" =>
      if (target == null) throw new IllegalArgumentException("target must be specified")
      if (dir != "high" && dir != "low")
        throw new IllegalArgumentException("dir must be either 'low' or 'high'")
      if (!op.exists(_.isInstanceOf[GroupByOp]))
        throw new IllegalArgumentException(
          "Outlier explainer only works on the results of a groupby operation")
      explainOutlier(target, dir, attributes, useSampling, sampleSize)
    case "many_to_one" =>
      if (coverageThreshold < 0 || coverageThreshold > 1)
        throw new IllegalArgumentException("The coverage threshold must be between 0 and 1.")
      if (separationThreshold < 0 || separationThreshold > 1)
        throw new IllegalArgumentException("The separation threshold must be between 0 and 1.")
      val label = Option(labelCol).orElse(op.collect { case g: GroupByOp => g.groupCols.head })
        .getOrElse(throw new IllegalArgumentException(
          "If this dataframe is not the result of a groupby operation, you must provide the labels."))
      val base0 = op.collect { case g: GroupByOp => g.source }.getOrElse(df)
      val base =
        if (useSampling) hashSample(base0, base0.columns.toSeq, sampleMod(approxRows(base0), sampleSize))
        else base0
      // p_value parity (explainable_data_frame.py:1096): auto-derived
      // attribute candidates are capped at max_explanation_length *
      // p_value — a runtime/accuracy knob, higher = more candidates
      val cats = if (catAttrs.nonEmpty) catAttrs.filterNot(ignore.contains) else Nil
      val nums =
        if (numAttrs.nonEmpty) numAttrs.filterNot(ignore.contains)
        else defaultAttrs(base, Set(label) ++ ignore).filter(_.numeric).map(_.name)
          .take(maxExplanationLength * pValue)
      // explanation_form='disj'|'disjunction' (reference
      // explainable_data_frame.py:1093): pairwise-disjunction rules over
      // the first (categorical, numeric) attribute pair — the shape
      // ManyToOne.explainDisj mines by inclusion–exclusion
      explanationForm match {
        case "conj" | "conjunction" => ()
        case "disj" | "disjunction" =>
          if (cats.isEmpty || nums.isEmpty)
            throw new IllegalArgumentException(
              "explanation_form='disj' needs one categorical and one numeric attribute (catAttrs/numAttrs)")
          return ManyToOne.explainDisj(base, label, cats.head, nums.head,
            coverageThreshold, separationThreshold, binningMethod =
              (if (binningMethod == "equal_width") "equal_width" else binningMethod))
        case other => throw new IllegalArgumentException(
          s"explanation_form must be 'conj' or 'disj', got $other")
      }
      val rules = ManyToOne.explain(base, label, cats, nums,
        coverageThreshold, separationThreshold,
        binningMethod = binningMethod,
        binNumericLabel = binNumericLabel, numLabelBins = numLabelBins,
        pruneIfTooManyLabels = pruneIfTooManyLabels, maxLabels = maxLabels,
        pruningMethod = pruningMethod)
      // explain_errors=True (reference default): attach the textual
      // error attribution per rule. Rules with zero separation error get
      // the reference's fixed sentence; non-passing rules stay NULL.
      // Under label binning/pruning the error table keys on the SAME
      // transformed label (explainErrors re-applies binnedLabel and the
      // identical pruning), so attribution works there too.
      if (!explainErrorsFlag || (cats ++ nums).isEmpty) rules
      else {
        val txt = ManyToOne.errorText(ManyToOne.explainErrors(base, label, cats, nums,
          coverageThreshold, separationThreshold, binningMethod = binningMethod,
          errTh = errorExplanationThreshold,
          pruneIfTooManyLabels = pruneIfTooManyLabels, maxLabels = maxLabels,
          pruningMethod = pruningMethod,
          binNumericLabel = binNumericLabel, numLabelBins = numLabelBins),
          errTh = errorExplanationThreshold)
        rules.join(txt, Seq("label", "attribute", "val"), "left")
          .withColumn("error_explanation",
            when(col("passes") === 1 && col("separation_err") === 0.0,
              lit("Rule has no separation error."))
            .otherwise(col("error_explanation")))
          .orderBy("label", "attribute", "val")
      }
    case "metainsight" =>
      // filter_columns / groupby_columns / aggregations (reference
      // explainable_data_frame.py:1100-1105) name auto-search scope
      // candidates explicitly; the single (filterDim, breakdown, aggCol)
      // triple remains the one-scope fast path
      if (filterDim == null || breakdown == null || aggCol == null)
        return explainMetaInsightAuto(topK,
          filterDims = filterColumns, breakdowns = groupbyColumns,
          measures = aggregations,
          maxFilterColumns = maxFilterColumns,
          maxAggregationColumns = maxAggregationColumns,
          useAllGroupbyCombinations = useAllGroupbyCombinations,
          minCommonness = minCommonness,
          correlationAggregationMethod = correlationAggregationMethod,
          allowMultipleAggregations = allowMultipleAggregations,
          allowMultipleGroupbys = allowMultipleGroupbys,
          noExceptionPenaltyWeight = noExceptionPenaltyWeight,
          balanceFactor = balanceFactor)
      explainMetaInsight(filterDim, breakdown, aggCol,
        minCommonness = minCommonness,
        noExceptionPenaltyWeight = noExceptionPenaltyWeight,
        balanceFactor = balanceFactor)
    case other =>
      throw new IllegalArgumentException(s"Unknown explainer: $other")
  }

  /** Pearson |r| of every other numeric column vs `to` on the source
    * (one aggregation pass), with a `dropped` flag at `corrTH` — the
    * reference's correlation pruning + `present_deleted_correlated`
    * (explainable_data_frame.py:1082, fedex corr_TH=0.7). */
  def correlatedAttributes(to: String, corrTH: Double = 0.7): DataFrame = {
    val src = op match {
      case Some(FilterOp(s, _, _, _)) => s
      case Some(JoinOp(l, _, _, _, _)) => l
      case Some(g: GroupByOp) => g.source
      case None => df
    }
    val others = src.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != to)
      .map(_.name).toSeq
    Correlation.pearson(src, others.map(o => (to, o)))
      .select(col("col_y").as("attribute"), abs(col("value")).as("abs_corr"))
      .withColumn("dropped", (col("abs_corr") >= corrTH).cast("int"))
      .orderBy(col("abs_corr").desc, col("attribute"))
  }

  /** FEDEx-style explanation of the last operation:
    *  - after filter: per-attribute deviation + top-influence bins (one
    *    conditional-count scan when the filter predicate is known)
    *  - after join: deviation of the `consider` side's attributes in the
    *    join result vs that side's source — "right" by default, matching
    *    the reference (explainable_data_frame.py:1091)
    *  - after groupBy-agg: per-measure exceptionality + group influences
    * `useSampling` applies the deterministic content-hash sample to the
    * source (and consistently to the result) before binning — the
    * reference's default execution mode (use_sampling=True,
    * sample_size=5000); defaults off here because this is the
    * library-internal entry (the user-facing `explain()` defaults it on).
    * Returns a DataFrame of scored explanations. */
  def explainFedex(attributes: Seq[String] = Nil, topK: Int = 3,
                   pruneCorrelatedTo: Option[String] = None, corrTH: Double = 0.7,
                   consider: String = "right",
                   useSampling: Boolean = false, sampleSize: Int = 5000,
                   ignore: Seq[String] = Nil): DataFrame = op match {
    case Some(FilterOp(src, res, _, condCol)) =>
      val pruned = pruneCorrelatedTo.map { to =>
        correlatedAttributes(to, corrTH)
          .filter(col("dropped") === 1).collect().map(_.getString(0)).toSet + to
      }.getOrElse(Set.empty[String])
      val attrs = resolveAttrs(src, attributes.filterNot(ignore.contains),
        pruned ++ ignore)
      val mod = if (useSampling) sampleMod(approxRows(src), sampleSize) else 1L
      val s2 = hashSample(src, src.columns.toSeq, mod)
      val counts = condCol match {
        case Some(c) => Fedex.countTable(s2, c, attrs)
        case None => Fedex.countTable(s2, hashSample(res, src.columns.toSeq, mod), attrs, 10)
      }
      deviationTopK(counts, topK)
    case Some(JoinOp(left, right, res, on, _)) =>
      if (consider != "left" && consider != "right")
        throw new IllegalArgumentException("consider must be either 'left' or 'right'")
      val side = if (consider == "left") left else right
      val sideCols = side.columns.toSeq
      val attrs = resolveAttrs(side, attributes.filterNot(ignore.contains),
        on.toSet ++ ignore)
      val mod = if (useSampling) sampleMod(approxRows(side), sampleSize) else 1L
      val counts = Fedex.countTable(
        hashSample(side, sideCols, mod),
        hashSample(res.select(sideCols.map(col): _*), sideCols, mod), attrs, 10)
      deviationTopK(counts, topK)
    case Some(g: GroupByOp) =>
      GroupByExplain.zdevTable(meltGroupBy(g))
        .orderBy(Mirror.desc("zdev"), Mirror.asc("measure"), Mirror.asc("grp"))
        .limit(topK).toDF(df.sparkSession)
    case _ =>
      throw new IllegalStateException("explainFedex requires a filter/join/groupBy operation")
  }

  private def resolveAttrs(src: DataFrame, attributes: Seq[String],
                           excludeExtra: Set[String]): Seq[Fedex.Attr] =
    if (attributes.nonEmpty) {
      val byName = src.schema.fields.map(f => f.name -> f).toMap
      attributes.map(a => Fedex.Attr(a, byName(a).dataType.isInstanceOf[NumericType]))
    } else defaultAttrs(src, excludeExtra)

  private def deviationTopK(counts: Mirror.Table, topK: Int): DataFrame =
    // deviation + influence from Fedex's gathered count table, ranked on
    // the driver: the explanation is a LocalRelation
    Fedex.influenceTable(counts)
      .orderBy(Mirror.desc("kl_score"), Mirror.desc("influence"),
        Mirror.asc("attribute"), Mirror.asc("bin"))
      .limit(topK).toDF(df.sparkSession)

  private def meltGroupBy(g: GroupByOp): Mirror.Table =
    GroupByExplain.meltGroups(g.source, g.groupCols, concat_ws("|", _: _*), g.aggCol,
      s"${g.aggCol}_${g.aggFn}")

  /** Scorpion-style outlier explanation for a groupBy result. */
  def explainOutlier(target: String, dir: String, attributes: Seq[String] = Nil,
                     useSampling: Boolean = false, sampleSize: Int = 5000): DataFrame =
    op match {
      case Some(g: GroupByOp) =>
        val d = if (dir == "high") 1 else -1
        val attrs =
          if (attributes.nonEmpty) attributes
          else defaultAttrs(g.source, g.groupCols.toSet + g.aggCol).filter(_.numeric).map(_.name)
        val src =
          if (useSampling) hashSample(g.source, g.source.columns.toSeq,
            sampleMod(approxRows(g.source), sampleSize))
          else g.source
        Outlier.explainTable(src, g.groupCols.head, g.aggCol, target, d, attrs)
          .orderBy(Mirror.desc("influence"), Mirror.asc("attribute"), Mirror.asc("bin"))
          .toDF(src.sparkSession)
      case _ => throw new IllegalStateException("explainOutlier requires a groupBy operation")
    }

  /** Many-to-one rule explanation against a label column. */
  def explainManyToOne(labelCol: String, catAttrs: Seq[String], numAttrs: Seq[String]): DataFrame =
    ManyToOne.explain(df, labelCol, catAttrs, numAttrs)

  /** MetaInsight pattern mining over a filter dimension + categorical
    * breakdown, from one gather finished on the driver
    * (MetaInsight.explain). Reference defaults: min_commonness 0.5,
    * no_exception_penalty 0.1, balance_factor 1. */
  def explainMetaInsight(filterDim: String, breakdown: String, aggCol: String,
                         minCommonness: Double = 0.5,
                         noExceptionPenaltyWeight: Double = 0.1,
                         balanceFactor: Double = 1.0): DataFrame =
    MetaInsight.explain(df, filterDim, Seq(MetaInsight.Breakdown(breakdown, col(breakdown))), aggCol,
      minCommonness = minCommonness, noExceptionPenaltyWeight = noExceptionPenaltyWeight,
      balanceFactor = balanceFactor)

  /** MetaInsight AUTO-search (the reference's default mode when no
    * explicit scope is given): enumerate filterDim × breakdown × measure
    * candidates from the schema — string columns as dimensions, numeric
    * columns as measures, key/id/date/free-text-ish columns excluded —
    * capped like the reference's max_filter_columns /
    * max_aggregation_columns; prune near-duplicate measures by |Pearson r|
    * ≥ `corrTH` (one aggregation pass); evaluate all scopes from one
    * collected cells table (MetaInsight.autoSearch). */
  def explainMetaInsightAuto(topK: Int = 5,
                             filterDims: Seq[String] = Nil,
                             breakdowns: Seq[String] = Nil,
                             measures: Seq[String] = Nil,
                             maxFilterColumns: Int = 3,
                             maxAggregationColumns: Int = 2,
                             corrTH: Double = 0.95,
                             useAllGroupbyCombinations: Boolean = false,
                             minCommonness: Double = 0.5,
                             maxGroupbyCombinations: Int = 32,
                             correlationAggregationMethod: String = "avg",
                             allowMultipleAggregations: Boolean = false,
                             allowMultipleGroupbys: Boolean = false,
                             noExceptionPenaltyWeight: Double = 0.1,
                             balanceFactor: Double = 1.0): DataFrame = {
    require(Seq("avg", "max", "sum").contains(correlationAggregationMethod),
      s"Unknown method: $correlationAggregationMethod. Use 'avg', 'max' or 'sum'")
    val skip = Seq("key", "_id", "date", "comment", "name", "phone", "address")
    val strCols = df.schema.fields
      .filter(_.dataType == StringType).map(_.name)
      .filterNot(n => skip.exists(n.endsWith)).toSeq
    val numCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
      .filterNot(n => n.endsWith("key") || n.endsWith("_id")).toSeq
    val fs = (if (filterDims.nonEmpty) filterDims else strCols).take(maxFilterColumns)
    val bs = (if (breakdowns.nonEmpty) breakdowns else strCols).take(maxFilterColumns)
    // schema-derived measure candidates rank by combined correlation to
    // the filter dimensions (reference _find_correlated_columns_multi:
    // per-target correlations combined by correlation_aggregation_method
    // 'avg'|'max'|'sum', strongest first) — the one-scan η matrix, with
    // the measure name as the deterministic tie-break. Explicit
    // `measures` bypass the ranking, as in the reference, and a single
    // candidate needs none.
    val ranked =
      if (measures.nonEmpty || numCols.size <= 1 || fs.isEmpty) numCols
      else {
        val etas = Correlation.etaMatrix(df, fs, numCols)
        numCols.map { m =>
          val vs = fs.map(d => etas.getOrElse((d, m), 0.0))
          val combined = correlationAggregationMethod match {
            case "avg" => vs.sum / vs.size
            case "max" => vs.max
            case "sum" => vs.sum
          }
          m -> combined
        }.sortBy { case (m, v) => (-v, m) }.map(_._1)
      }
    val ms0 = (if (measures.nonEmpty) measures else ranked).take(maxAggregationColumns + 2)
    val ms =
      // explicitly provided measures are used as-is (reference: "If the
      // user provided a list of aggregations, we use them") — corr
      // pruning applies only to schema-derived candidates
      if (measures.nonEmpty) measures.take(maxAggregationColumns)
      else if (ms0.size <= 1) ms0.take(maxAggregationColumns)
      else {
        val pairs = ms0.combinations(2).map(p => (p(0), p(1))).toSeq
        val corr = Correlation.pearson(df, pairs).collect()
          .map(r => (r.getString(1), r.getString(2)) -> math.abs(r.getDouble(3))).toMap
        ms0.foldLeft(Seq.empty[String]) { (kept, m) =>
          if (kept.exists(k => corr.getOrElse((k, m), corr.getOrElse((m, k), 0.0)) >= corrTH)) kept
          else kept :+ m
        }.take(maxAggregationColumns)
      }
    // ordered breakdowns: date/timestamp columns enter auto-search as
    // month-trend scopes (reference auto mode enumerates trend breakdowns
    // over its groupby_columns alongside the categorical ones)
    val dateCols = df.schema.fields
      .filter(f => f.dataType == DateType || f.dataType == TimestampType ||
        f.dataType == TimestampNTZType)
      .map(_.name).take(maxFilterColumns).toSeq
    import MetaInsight.Breakdown
    val catScopes = for (f <- fs; b <- bs if f != b) yield f -> Breakdown(b, col(b))
    val trendScopes = for (f <- fs; d <- dateCols)
      yield f -> Breakdown(s"${d}_month", month(col(d)), trend = true)
    // use_all_groupby_combinations (reference
    // metainsight_explainer.py:301-308): the FULL powerset of the
    // breakdown columns (sizes 2..n; size-1 subsets are the plain
    // scopes above) enters as composite breakdowns whose value is the
    // '|'-joined tuple. The powerset is exponential in principle, so
    // the combination count is bounded by `maxGroupbyCombinations`
    // (smallest combinations first — larger tuples fragment groups
    // toward all-singleton breakdowns that can't carry a pattern);
    // exceeding the cap keeps the first bound-many deterministically.
    val comboScopes =
      if (!useAllGroupbyCombinations) Nil
      else for {
        combo <- (2 to bs.size).iterator.flatMap(k => bs.combinations(k))
          .take(maxGroupbyCombinations).toSeq
        f <- fs if !combo.contains(f)
      } yield f -> Breakdown(combo.mkString("+"),
        // coalesce before concat: concat_ws silently DROPS null
        // components, which would collide ("x", NULL) with ("x", "")
        // — the reference's tuple-valued groupby keeps them distinct
        concat_ws("|", combo.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*))
    MetaInsight.autoSearch(df, catScopes ++ trendScopes ++ comboScopes, ms, topK,
      minCommonness = minCommonness,
      noExceptionPenaltyWeight = noExceptionPenaltyWeight,
      balanceFactor = balanceFactor,
      allowMultipleAggregations = allowMultipleAggregations,
      allowMultipleGroupbys = allowMultipleGroupbys)
  }

  /** Textual description of the top explanation, mirroring the reference's
    * get_explanation_in_textual_description. */
  def explanationText(explRow: org.apache.spark.sql.Row): String = {
    val opDesc = op.map(_.describe).getOrElse("(no operation)")
    val fields = explRow.schema.fieldNames.zipWithIndex
      .map { case (f, i) => s"$f=${explRow.get(i)}" }.mkString(", ")
    s"Among the most interesting statistical changes after running $opDesc on dataframe '$name', " +
      s"we found (using automated analysis): $fields."
  }
}

object ExplainFrame {
  def apply(df: DataFrame, name: String): ExplainFrame = new ExplainFrame(df, None, name)
}

/** GroupBy surface mirroring ExpDataFrameGroupBy (count/mean/sum/min/max/
  * nunique/median/std/var — reference explainable_group_by_dataframe.py). */
final class ExplainGroupBy(parent: ExplainFrame, cols: Seq[String]) {

  private def agg1(aggCol: String, fn: String, e: Column): ExplainFrame = {
    val res = parent.df.groupBy(cols.map(col): _*).agg(e.as(s"${aggCol}_$fn"))
    new ExplainFrame(res, Some(GroupByOp(parent.df, res, cols, aggCol, fn)), parent.name)
  }

  private def aggExpr(c: String, fn: String): Column = {
    val n = org.apache.spark.sql.functions.count(col(c))
    fn match {
      case "count" => org.apache.spark.sql.functions.count(lit(1))
      case "mean" | "avg" => D.r(D.emit6(D.dsum(col(c))) / n)
      case "sum" => D.dsumd(col(c))
      case "min" => org.apache.spark.sql.functions.min(col(c))
      case "max" => org.apache.spark.sql.functions.max(col(c))
      case "nunique" => countDistinct(col(c))
      case "median" => D.r(percentile(col(c), lit(0.5)), 4)
      case "std" => D.r(sqrt(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n)))
      case "var" => D.r(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n))
      case "sem" => D.r(sqrt(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n) / n))
      case "prod" => product(col(c).cast(DoubleType))
      case other => throw new IllegalArgumentException(s"Unknown aggregate: $other")
    }
  }

  /** Multi-aggregate, the reference's `groupby().agg({'col': 'fn'})`
    * dict surface: one groupBy computing every (col, fn) pair.
    * Provenance records the FIRST pair — the reference likewise explains
    * one measure of a multi-agg at a time. */
  def agg(aggs: (String, String)*): ExplainFrame = {
    require(aggs.nonEmpty, "agg requires at least one (column, function) pair")
    val exprs = aggs.map { case (c, fn) => aggExpr(c, fn).as(s"${c}_$fn") }
    val res = parent.df.groupBy(cols.map(col): _*).agg(exprs.head, exprs.tail: _*)
    new ExplainFrame(res,
      Some(GroupByOp(parent.df, res, cols, aggs.head._1, aggs.head._2)), parent.name)
  }

  def count(): ExplainFrame = agg1(cols.head, "count", org.apache.spark.sql.functions.count(lit(1)))
  def mean(c: String): ExplainFrame = agg1(c, "mean", D.r(D.emit6(D.dsum(col(c))) / org.apache.spark.sql.functions.count(col(c))))
  def sum(c: String): ExplainFrame = agg1(c, "sum", D.dsumd(col(c)))
  def min(c: String): ExplainFrame = agg1(c, "min", org.apache.spark.sql.functions.min(col(c)))
  def max(c: String): ExplainFrame = agg1(c, "max", org.apache.spark.sql.functions.max(col(c)))
  def nunique(c: String): ExplainFrame = agg1(c, "nunique", countDistinct(col(c)))
  def median(c: String): ExplainFrame = agg1(c, "median", D.r(percentile(col(c), lit(0.5)), 4))
  def std(c: String): ExplainFrame = {
    val n = org.apache.spark.sql.functions.count(col(c))
    agg1(c, "std", D.r(sqrt(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n))))
  }
  def variance(c: String): ExplainFrame = {
    val n = org.apache.spark.sql.functions.count(col(c))
    agg1(c, "var", D.r(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n)))
  }
  /** Standard error of the mean (pandas GroupBy.sem, ddof=1). */
  def sem(c: String): ExplainFrame = {
    val n = org.apache.spark.sql.functions.count(col(c))
    agg1(c, "sem", D.r(sqrt(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n) / n)))
  }
  /** Product of values (pandas GroupBy.prod) — double arithmetic; unlike
    * the decimal-exact sums, products are not cross-engine reproducible
    * and are test-covered rather than oracled. */
  def prod(c: String): ExplainFrame =
    agg1(c, "prod", product(col(c).cast(DoubleType)))
  def size(): ExplainFrame = count()
  /** Per-group Pearson r between two columns (pandas GroupBy.corr for
    * one pair) — Correlation.pearsonBy: one scan, chunked-long exact
    * moments per group; any number of group columns. */
  def corr(x: String, y: String): DataFrame =
    Correlation.pearsonBy(parent.df, cols, x, y)

  /** pandas `groupby().transform(fn)`: the group aggregate aligned back
    * onto every row as a new `${c}_${fn}` column. ROW COUNT is
    * preserved — including rows with a NULL group key, which align as a
    * LEFT join miss and carry a NULL aggregate (pandas transform emits
    * NaN for them); output ORDER is not guaranteed (join output order
    * never is — re-sort if order matters). The stat table is
    * group-cardinality-sized and joins as a plain equi-join — AQE
    * broadcasts it when small, and a high-cardinality group key
    * degrades to an ordinary shuffle join instead of a
    * forced-broadcast OOM. */
  def transform(c: String, fn: String): ExplainFrame = {
    val stat = parent.df.groupBy(cols.map(col): _*).agg(aggExpr(c, fn).as(s"${c}_$fn"))
    new ExplainFrame(parent.df.join(stat, cols, "left"), parent.op, parent.name)
  }

  /** Per-row group z-score (the canonical transform): adds `${c}_mean`,
    * `${c}_std`, `${c}_zscore` from ONE stats aggregation (decimal-exact
    * moments, deterministic 6dp emission) joined back per row. NULL
    * group keys keep their rows with NULL stats ([[transform]]'s
    * left-join alignment). */
  def zscore(c: String): ExplainFrame = {
    val n = org.apache.spark.sql.functions.count(col(c))
    val stat = parent.df.groupBy(cols.map(col): _*).agg(
      D.r(D.emit6(D.dsum(col(c))) / n).as(s"${c}_mean"),
      D.r(sqrt(D.varSamp(D.emit6(D.dsum(col(c))), D.dsumsq(col(c)), n))).as(s"${c}_std"))
    // sd can be EXACTLY 0 for a constant group (n >= 2) — the n<=1
    // case is already NULL via varSamp's guard, but the constant case
    // reaches the division: DuckDB's x/0 emits NULL (measured, every
    // numeric form) while ANSI Spark raises DIVIDE_BY_ZERO, so guard
    // it (the σ=0 class ApiDirtySpec pins; same family as the outlier
    // explainer's σ-collapse fix)
    val joined = parent.df.join(stat, cols, "left")
      .withColumn(s"${c}_zscore",
        when(col(s"${c}_std") > 0,
          D.r((col(c) - col(s"${c}_mean")) / col(s"${c}_std"), 6)))
    new ExplainFrame(joined, parent.op, parent.name)
  }

  /** Full per-group Pearson matrix (the pandas `groupby().corr()`
    * default): every unordered pair of the frame's numeric non-group
    * columns (or of `numCols` when given), any number of group
    * columns, ONE scan (reference:
    * explainable_group_by_dataframe.py per-group corr matrix). */
  def corr(numCols: Seq[String] = Nil): DataFrame = {
    val targets =
      if (numCols.nonEmpty) numCols
      else parent.df.schema.fields
        .filter(f => f.dataType.isInstanceOf[NumericType] && !cols.contains(f.name))
        .map(_.name).toSeq
    Correlation.pearsonMatrixBy(parent.df, cols, targets)
  }
}
