package graft.explain

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Many-to-one (cluster-explorer style) rule explanations (reference:
  * /root/reference/src/pd_explain/explainers/many_to_one_explainer.py).
  *
  * For each label (group) and each candidate condition (categorical
  * `attr = v`, or numeric `attr ∈ bin_b` over `nb` bins), compute
  *   coverage       = |cond ∧ label| / |label|
  *   separation_err = |cond ∧ ¬label| / |cond|
  * and flag rules passing the thresholds. Defaults match the reference:
  * coverage ≥ 0.7, separation_err ≤ 0.3 (many_to_one_explainer.py:22-23);
  * the demo oracle queries pass relaxed values explicitly because uniform
  * synthetic data finds nothing at the reference defaults.
  *
  * Reference surface covered here:
  *  - `binning_method` 'uniform' | 'quantile' for numeric attributes
  *    (reference :216-218; quantile boundaries are exact interpolated
  *    percentiles, rounded to 6dp so both engines bin identically)
  *  - `bin_numeric`/`num_bins` numeric LABEL binning (:197-224): numeric
  *    labels with more than num_bins distinct values are quantile-binned;
  *    the label becomes "bin_<i>" (the reference renders verbose interval
  *    strings — cosmetic difference, same partition)
  *  - `prune_if_too_many_labels`/`max_labels`, pruning_method='largest'
  *    (:240-252): keep the max_labels most frequent labels (count desc,
  *    label asc tie-break), drop other rows
  *  - `max_explanation_length` K via [[explainConj]]: length-K
  *    conjunction rules from ONE groupBy over (label, v1..vK)
  *  - `explanation_form` 'disj' via [[explainDisj]]: pairwise
  *    disjunctions computed by inclusion–exclusion over the SAME count
  *    tables as the conjunctions — no extra scan
  *
  * Scale: one scan explodes rows into (label, attribute, val) pairs
  * (map-side combined counts); the metric math joins tiny count tables.
  * Label pruning/binning add one small aggregation pass each (collected
  * to the driver — label cardinality is bounded by definition here).
  */
object ManyToOne {

  /** Attribute binned-value expression. Equal-width uses source min/max;
    * quantile uses exact interpolated (nb-1) inner percentile boundaries
    * rounded to 6dp (bin = number of boundaries strictly below x), both
    * mirrored by the oracle. */
  final case class NumBin(name: String, boundaries: Seq[Double]) {
    // NULL input must yield a NULL bin (not bin 0): pandas cut/qcut
    // excludes NaN and the SQL mirrors filter attr IS NOT NULL before
    // binning, so an unguarded fold would silently land NULL rows in a
    // real bin on the Spark side only
    def expr: Column = when(col(name).isNotNull,
      boundaries.foldLeft(lit(0))((acc, b) => acc + when(col(name) > b, 1).otherwise(0)))
  }

  /** Quantile boundaries for the given numeric attrs — histogram-refined
    * exact quantiles ([[graft.util.ExactQuantile]]; percentile()'s
    * buffer-everything aggregate was the measured bulk of the binned
    * family at sf1), 6dp-rounded with the exact driver-side D.r mirror.
    * Duplicate boundaries are KEPT (a value above a doubled boundary
    * advances two bins) — the SQL mirror counts every boundary the same
    * way, so dedup here would desynchronize bin indices across engines. */
  def quantileBins(src: DataFrame, numAttrs: Seq[String], nb: Int): Seq[NumBin] = {
    if (numAttrs.isEmpty) return Nil
    val ps = (1 until nb).map(_.toDouble / nb)
    numAttrs.map(a => NumBin(a,
      graft.util.ExactQuantile.quantiles(src, a, ps).map(graft.util.Mirror.r(_, 6))))
  }

  def quantileBinSql(a: String, ps: Seq[Double]): String =
    ps.map(p => s"(CASE WHEN $a > (SELECT ROUND(quantile_cont($a, $p), 6) FROM SRC) THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Numeric-label binning (reference bin_numeric): if the label column is
    * numeric with more than `numBins` distinct values, replace it by
    * "bin_<quantile bin>"; otherwise cast to string unchanged. */
  def binnedLabel(src: DataFrame, labelCol: String, numBins: Int,
                  binningMethod: String = "quantile"): Column = {
    val numeric = src.schema(labelCol).dataType.isInstanceOf[NumericType]
    if (!numeric) return col(labelCol).cast("string")
    if (binningMethod != "quantile" && binningMethod != "uniform")
      throw new IllegalArgumentException(
        "The binning method must be either 'uniform' or 'quantile'.")
    val ps = (1 until numBins).map(_.toDouble / numBins)
    val row = src.agg(countDistinct(col(labelCol)).as("nd"),
      min(col(labelCol)).cast("double").as("lo"),
      max(col(labelCol)).cast("double").as("hi")).head()
    if (row.getLong(0) <= numBins) return col(labelCol).cast("string")
    val bin =
      if (binningMethod == "quantile")
        // histogram-refined exact quantiles (see [[quantileBins]] — the
        // former percentile() aggregate buffered every label value)
        NumBin(labelCol, graft.util.ExactQuantile.quantiles(src, labelCol, ps)
          .map(graft.util.Mirror.r(_, 6))).expr
      else when(col(labelCol).isNotNull, Fedex.binExpr(col(labelCol),
        lit(row.getDouble(row.fieldIndex("lo"))), lit(row.getDouble(row.fieldIndex("hi"))), numBins))
    // concat propagates the NULL bin, so NULL labels stay NULL and are
    // dropped by the downstream label IS NOT NULL filter
    concat(lit("bin_"), bin.cast("string"))
  }

  /** pruning_method='largest'|'smallest': the `maxLabels` most/least
    * frequent label values (count desc/asc, label asc tie-break).
    * Frequencies are SOURCE-ROW counts (the reference ranks labels by row
    * frequency) — ranking over the exploded (label, attribute, val) pairs
    * would weight each label by its per-attribute non-null counts and
    * could keep a different label set when null rates differ across
    * attributes. The counts are gathered in one exchange-free pass
    * ([[graft.util.Guard.gatherCells]], so more than
    * [[graft.util.Guard.MaxGatheredCells]] labels fail as ID-like) and
    * ranked on the driver in Spark's order. Returns None when no pruning
    * is needed. */
  def topLabels(labels: DataFrame, maxLabels: Int,
                smallest: Boolean = false): Option[Seq[String]] = {
    val (_, cells) = graft.util.Guard.gatherCells(labels, Seq(struct(col("label"))), "ManyToOne.topLabels")
    if (cells.size <= maxLabels) return None
    import graft.util.Mirror
    val counts = Mirror.Table(StructType(Seq(StructField("label", StringType), StructField("n", LongType))),
      cells.map(c => Row(c.key.get(0), c.n)))
    Some(counts.orderBy(if (smallest) Mirror.asc("n") else Mirror.desc("n"), Mirror.asc("label"))
      .limit(maxLabels).rows.map(_.getString(0)))
  }

  /** pruning_method='max_dist'|'min_dist', re-expressed deterministically:
    * the reference ranks labels by the mean euclidean distance between
    * per-label centroids of a PCA-reduced one-hot feature matrix
    * (many_to_one_explainer.py:263-282). PCA there is a speed device, not
    * semantics; here centroids are per-label means of the explanation's
    * numeric attributes (6dp-rounded exact-decimal means), pairwise
    * distances are 6dp-rounded, and the per-label average distance is a
    * decimal-exact sum — every step is mirrored bit-for-bit by the
    * oracle SQL. Label count is bounded by definition, so the centroid
    * table is KB-sized and the ranking runs on the driver. */
  def distLabels(src: DataFrame, labelExpr: Column, numAttrs: Seq[String],
                 maxLabels: Int, maxDist: Boolean): Option[Seq[String]] = {
    require(numAttrs.nonEmpty, "dist pruning requires numeric attributes")
    val rowsAll = centroidRows(src, labelExpr, numAttrs, "dist")
    if (rowsAll.length <= maxLabels) return None
    // a label whose numeric attribute is all-NULL has a NULL mean: no
    // centroid exists, so it cannot be ranked — exclude it (it would NPE
    // on unboxing otherwise); such labels are pruned away, and the SQL
    // mirror excludes them identically (HAVING COUNT(attr) > 0), so
    // ranking denominators agree between engines
    val rows = rowsAll.filter(r => numAttrs.indices.forall(i => !r.isNullAt(i + 1)))
    // fewer than two rankable centroids -> pairwise distances don't
    // exist (a 1-label "average" would be 0/0); fall back to frequency
    // pruning rather than emit an arbitrary NaN-ranked order
    if (rows.length < 2)
      return topLabels(src.select(labelExpr.as("label"))
        .filter(col("label").isNotNull), maxLabels)
    val labs = rows.map(_.getString(0))
    val ms = rows.map(r => numAttrs.indices.map(i => r.getDouble(i + 1)).toArray)
    def round6(x: Double): Double = math.round(x * 1e6) / 1e6
    val ranked = labs.indices.map { i =>
      // Σ of 6dp distances in integer micros == the oracle's
      // SUM(CAST(ROUND(d, 6) AS DECIMAL)) — associative, order-free
      var micros = 0L
      for (j <- labs.indices if j != i) {
        var d2 = 0.0
        for (a <- numAttrs.indices) { val t = ms(i)(a) - ms(j)(a); d2 += t * t }
        micros += math.round(math.sqrt(d2) * 1e6)
      }
      labs(i) -> round6((micros / 1e6) / (labs.length - 1))
    }
    val sorted =
      if (maxDist) ranked.sortBy { case (l, d) => (-d, l) }
      else ranked.sortBy { case (l, d) => (d, l) }
    Some(sorted.take(maxLabels).map(_._1))
  }

  /** Per-label centroid rows (label, mean per numeric attr), 6dp-exact
    * decimal means — shared by the dist and silhouette rankings. One
    * exchange-free pass ([[graft.util.Guard.gatherCells]]) gathers each
    * label's non-NULL counts and exact decimal sums, and the means
    * finish on the driver: mean = round(emit6(Σ cast(a AS DECIMAL(25,6)))
    * / count(a), 6), NULL without values. More than
    * [[graft.util.Guard.MaxRankedLabels]] labels fail fast instead of
    * ranking one centroid per distinct value of an ID-like column. */
  private def centroidRows(src: DataFrame, labelExpr: Column,
                           numAttrs: Seq[String], what: String): Seq[org.apache.spark.sql.Row] = {
    val (_, cells) = graft.util.Guard.gatherCells(src, Seq(when(labelExpr.isNotNull,
      struct(labelExpr.as("label")))), "ManyToOne.centroids",
      flags = numAttrs.map(col(_).isNotNull), sums = numAttrs.map(col(_).cast(graft.util.D.dec25)))
    val cap = graft.util.Guard.MaxRankedLabels
    if (cells.size > cap)
      throw new IllegalArgumentException(
        s"$what pruning found more than $cap distinct labels. The label column " +
          "looks ID-like — many_to_one label ranking is sized for " +
          "explanation-grade label cardinalities. Use a coarser label, or " +
          "raise graft.util.Guard.MaxRankedLabels if the cardinality is intentional.")
    cells.map(c => org.apache.spark.sql.Row(c.key.get(0) +: numAttrs.indices.map { i =>
      val sm = c.sums(i)
      if (sm == null) null
      else java.lang.Double.valueOf(graft.util.Mirror.r(
        graft.util.Mirror.decCast(sm, 25, 6).doubleValue / c.flags(i), 6))
    }: _*))
  }

  /** pruning_method='max_silhouette'|'min_silhouette', re-expressed
    * deterministically: the reference ranks labels by the mean
    * `silhouette_samples` score of a FIXED-SEED 5000-row sample of a
    * PCA-reduced one-hot matrix (many_to_one_explainer.py:283-303) —
    * sampling and PCA are speed devices (the full O(n²) silhouette "would
    * take too long", per the reference's own comment), not semantics.
    * Here it is the SIMPLIFIED silhouette (the standard centroid form):
    * per row with all `numAttrs` non-null and a rankable label,
    *   a = euclidean distance to the row's OWN label centroid,
    *   b = min distance to any OTHER label centroid,
    *   s = (b − a) / max(a, b)         (0 when max(a, b) = 0),
    * distances 6dp-rounded, per-label mean via decimal-exact sums, ranked
    * desc (max) / asc (min) with label-asc tie-break. ONE corpus scan:
    * the KB-sized centroid table compiles into the projection as
    * literals (O(L) distance columns + O(L²) column REFERENCES in the
    * own/other selection — cheap, and L is Guard-bounded), so no join,
    * no shuffle beyond the per-label mean aggregation. Every step is
    * mirrored bit-for-bit by [[silhouettePrunedSql]]. */
  def silhouetteLabels(src: DataFrame, labelExpr: Column, numAttrs: Seq[String],
                       maxLabels: Int, maxSil: Boolean): Option[Seq[String]] = {
    require(numAttrs.nonEmpty, "silhouette pruning requires numeric attributes")
    val rowsAll = centroidRows(src, labelExpr, numAttrs, "silhouette")
    if (rowsAll.length <= maxLabels) return None
    // a label whose numeric attribute is all-NULL has no centroid: its
    // rows can be scored against OTHER centroids but the label itself
    // cannot be ranked — exclude it (mirrors distLabels; the SQL side
    // excludes identically via HAVING COUNT(attr) > 0)
    val rows = rowsAll.filter(r => numAttrs.indices.forall(i => !r.isNullAt(i + 1)))
    if (rows.length < 2)
      return topLabels(src.select(labelExpr.as("label"))
        .filter(col("label").isNotNull), maxLabels)
    val labs = rows.map(_.getString(0))
    val ms = rows.map(r => numAttrs.indices.map(i => r.getDouble(i + 1)).toArray)
    // stage 1: per-row distance to every centroid (sqrt of the exact
    // double sum-of-squares, 6dp-rounded — SQRT((x-m)*(x-m)) in SQL)
    val dCols = labs.indices.map { i =>
      val d2 = numAttrs.zipWithIndex.map { case (a, ai) =>
        (col(a) - lit(ms(i)(ai))) * (col(a) - lit(ms(i)(ai))) }.reduce(_ + _)
      graft.util.D.r(sqrt(d2), 6).as(s"__d$i")
    }
    val scored = src
      .filter(labelExpr.isin(labs.toSeq: _*) &&
        numAttrs.map(col(_).isNotNull).reduce(_ && _))
      .select(labelExpr.as("label") +: dCols: _*)
    // stage 2: pick own/other distances by label. a is an O(L) CASE
    // chain; b (min over the OTHER centroids) is NOT the naive
    // L×least(L−1) form — that emits O(L²) expression code and blew
    // Janino's generated-method limits at 25 labels (codegen fell back
    // to interpreted). O(L) instead: global min m1, its multiplicity,
    // and the second-smallest m2 —
    //   b = m1                     when a > m1 (another centroid closer)
    //     | m1                     when a = m1 with multiplicity ≥ 2
    //     | m2                     otherwise (own centroid is the unique min)
    // — exact-equality comparisons are safe because m1 IS one of the
    // d_i values. Mathematically identical to min-over-others, so the
    // SQL mirror is unchanged.
    val dCols2 = labs.indices.map(i => col(s"__d$i"))
    val aCol = labs.indices.tail.foldLeft(when(col("label") === labs.head, dCols2.head)) {
      (acc, i) => acc.when(col("label") === labs(i), dCols2(i)) }
    val m1 = least(dCols2: _*)
    val cntMin = dCols2.map(d => when(d === m1, 1).otherwise(0)).reduce(_ + _)
    val m2 = least(dCols2.map(d => when(d === m1, Double.MaxValue).otherwise(d)): _*)
    val bCol = when(aCol > m1, m1).when(cntMin >= 2, m1).otherwise(m2)
    val s = scored.select(col("label"),
      when(greatest(aCol, bCol) === 0.0, 0.0)
        .otherwise(graft.util.D.r((bCol - aCol) / greatest(aCol, bCol), 6)).as("s"))
    val silRows = s.groupBy("label")
      .agg(graft.util.D.r(graft.util.D.emit6(sum(col("s").cast(graft.util.D.dec25)))
        / count(lit(1)), 6).as("sil"))
      .collect() // bounded: one row per rankable label (≤ Guard cap)
    val ranked = silRows.map(r => r.getString(0) -> r.getDouble(1))
    val sorted =
      if (maxSil) ranked.sortBy { case (l, v) => (-v, l) }
      else ranked.sortBy { case (l, v) => (v, l) }
    Some(sorted.take(maxLabels).map(_._1).toSeq)
  }

  /** pruning_method='random', re-expressed deterministically: the
    * reference draws `max_labels` labels with pandas' `.sample()` under a
    * fixed NumPy seed (many_to_one_explainer.py:256-258) — the exact draw
    * is a NumPy-implementation detail, not semantics. Here the seeded
    * draw is a seeded md5 rank over the DISTINCT labels
    * (md5('<seed>:' || label) asc, label asc tie-break), reproducible in
    * any engine; a limit(maxLabels+1) probe decides whether pruning is
    * needed at all. */
  def randomLabels(labels: DataFrame, maxLabels: Int,
                   seed: String = "42"): Option[Seq[String]] = {
    val picked = labels.distinct()
      .select(col("label"), md5(concat_ws(":", lit(seed), col("label"))).as("h"))
      .orderBy(col("h"), col("label")).limit(maxLabels + 1).collect()
    if (picked.length <= maxLabels) None
    else Some(picked.take(maxLabels).map(_.getString(0)).toSeq)
  }

  /** Dispatch over the supported pruning_method values (the reference's
    * full legal set — explainable_data_frame.py:1160-1166). */
  def selectLabels(src: DataFrame, labelExpr: Column, numAttrs: Seq[String],
                   method: String, maxLabels: Int): Option[Seq[String]] = {
    val labels = src.select(labelExpr.as("label")).filter(col("label").isNotNull)
    method match {
      case "largest" => topLabels(labels, maxLabels)
      case "smallest" => topLabels(labels, maxLabels, smallest = true)
      case "max_dist" => distLabels(src, labelExpr, numAttrs, maxLabels, maxDist = true)
      case "min_dist" => distLabels(src, labelExpr, numAttrs, maxLabels, maxDist = false)
      case "max_silhouette" => silhouetteLabels(src, labelExpr, numAttrs, maxLabels, maxSil = true)
      case "min_silhouette" => silhouetteLabels(src, labelExpr, numAttrs, maxLabels, maxSil = false)
      case "random" => randomLabels(labels, maxLabels)
      case other => throw new IllegalArgumentException(
        s"Unsupported pruning_method: $other (supported: largest, smallest, " +
          "max_dist, min_dist, max_silhouette, min_silhouette, random)")
    }
  }

  def explain(src: DataFrame, labelCol: String,
              catAttrs: Seq[String], numAttrs: Seq[String],
              covTh: Double = 0.7, sepTh: Double = 0.3, nb: Int = 10,
              binningMethod: String = "equal_width",
              binNumericLabel: Boolean = false, numLabelBins: Int = 10,
              pruneIfTooManyLabels: Boolean = true, maxLabels: Int = 10,
              pruningMethod: String = "largest"): DataFrame = {
    require(Seq("equal_width", "uniform", "quantile").contains(binningMethod),
      "The binning method must be either 'uniform' or 'quantile'.")
    val attrs = catAttrs.map(Fedex.Attr(_, numeric = false)) ++ numAttrs.map(Fedex.Attr(_, numeric = true))
    if (attrs.isEmpty) {
      // zero candidate attributes (e.g. p_value = 0) -> empty rule set
      // with the standard schema
      val sch = StructType(Seq(
        StructField("label", StringType), StructField("attribute", StringType),
        StructField("val", StringType), StructField("n_match", LongType),
        StructField("coverage", DoubleType), StructField("separation_err", DoubleType),
        StructField("passes", IntegerType)))
      return src.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
    }
    val labelExpr =
      if (binNumericLabel) binnedLabel(src, labelCol, numLabelBins)
      else col(labelCol).cast("string")
    // prune FIRST (reference flow: _prune_labels runs before attribute
    // binning, so bin boundaries come from the kept rows only); ranking
    // reads source rows, not the exploded pair table
    val keep =
      if (pruneIfTooManyLabels) selectLabels(src, labelExpr, numAttrs, pruningMethod, maxLabels)
      else None
    val srcP = keep.map(ks => src.filter(labelExpr.isin(ks: _*))).getOrElse(src)
    val pairs = explodedPairs(srcP, labelExpr, attrs, nb, binningMethod)

    // n_label and n_cond are WINDOW totals over the aggregated lc
    // table, not separate re-aggregations joined back: the join form
    // cost two more exchanges plus two broadcast builds per call (and
    // needed the exchange-reuse trick to keep pairs at one scan — lc
    // now has exactly one consumer, so reuse is moot). The windows are
    // key-partitioned (never unpartitioned) and lc is already
    // aggregated, so both stay safe at corpus scale. n_label is the
    // attrs.head-restricted per-label total; a label with NO
    // attrs.head rows gets a NULL window sum where the old inner join
    // dropped it — the isNotNull filter reproduces the join exactly
    // (n_cond can never be NULL: every lc row is its own group member).
    val lc = pairs.groupBy("label", "attribute", "val").agg(count(lit(1)).as("n_match"))
    lc.withColumn("n_label",
        sum(when(col("attribute") === attrs.head.name, col("n_match")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("label")))
      .withColumn("n_cond",
        sum(col("n_match"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("attribute", "val")))
      .filter(col("n_label").isNotNull)
      .select(col("label"), col("attribute"), col("val"), col("n_match"),
        graft.util.D.r(col("n_match").cast("double") / col("n_label"), 6).as("coverage"),
        graft.util.D.r((col("n_cond") - col("n_match")).cast("double") / col("n_cond"), 6).as("separation_err"))
      .withColumn("passes", (col("coverage") >= covTh && col("separation_err") <= sepTh).cast("int"))
      .orderBy("label", "attribute", "val")
  }

  /** Exploded (label, attribute, val) pairs with binning applied — the
    * count-table input shared by [[explain]] and [[explainErrors]]. */
  private def explodedPairs(src: DataFrame, labelExpr: Column, attrs: Seq[Fedex.Attr],
                            nb: Int, binningMethod: String): DataFrame = {
    val numAttrs = attrs.filter(_.numeric).map(_.name)
    val structs = binningMethod match {
      case "quantile" =>
        val qb = quantileBins(src, numAttrs, nb).map(b => b.name -> b).toMap
        attrs.map { a =>
          val v = if (a.numeric) qb(a.name).expr.cast("string") else col(a.name).cast("string")
          struct(lit(a.name).as("attribute"), v.as("val"))
        }
      case _ =>
        attrs.map { a =>
          // NULL guard: Spark's least() inside binExpr skips nulls, so an
          // unguarded NULL would land in bin nb-1 instead of dropping out
          val v =
            if (a.numeric) when(col(a.name).isNotNull,
              Fedex.binExpr(col(a.name), col(s"lo_${a.name}"), col(s"hi_${a.name}"), nb)).cast("string")
            else col(a.name).cast("string")
          struct(lit(a.name).as("attribute"), v.as("val"))
        }
    }
    val stats = if (binningMethod == "quantile") None else Fedex.statsDf(src, attrs)
    val base = stats.map(st => src.crossJoin(broadcast(st))).getOrElse(src)
    base
      .select(labelExpr.as("label"), explode(array(structs: _*)).as("av"))
      .select(col("label"), col("av.attribute").as("attribute"), col("av.val").as("val"))
      .filter(col("val").isNotNull && col("label").isNotNull)
  }

  /** Separation-error attribution (reference explain_errors=True,
    * error_explanation_threshold default 0.05 —
    * many_to_one_explainer.py:471-542): for each PASSING rule with
    * nonzero separation error, the rows matching the condition but
    * belonging to OTHER labels are grouped by that other label; groups
    * contributing more than `errTh` of the error are emitted
    * individually (fraction desc, label asc), the rest aggregate into
    * one 'other' row. The reference renders this as text; here it is the
    * structured (rule, err_label, n_err, err_frac) table the text is
    * generated from. Everything derives from the SAME (label, attribute,
    * val) count table as the rules — no extra scan of the source. */
  def explainErrors(src: DataFrame, labelCol: String,
                    catAttrs: Seq[String], numAttrs: Seq[String],
                    covTh: Double = 0.7, sepTh: Double = 0.3, nb: Int = 10,
                    binningMethod: String = "equal_width",
                    errTh: Double = 0.05,
                    pruneIfTooManyLabels: Boolean = true, maxLabels: Int = 10,
                    pruningMethod: String = "largest",
                    binNumericLabel: Boolean = false, numLabelBins: Int = 10): DataFrame = {
    val attrs = catAttrs.map(Fedex.Attr(_, numeric = false)) ++ numAttrs.map(Fedex.Attr(_, numeric = true))
    // pruning AND label binning MUST mirror explain()'s: the error table
    // joins the rule table on (label, attribute, val), so it has to be
    // mined over the same kept rows, the same bin boundaries, and the
    // same transformed label — an unpruned/raw-label error table against
    // pruned/binned rules would mis-key every row and count
    // contributions from pruned-away labels
    val labelExpr =
      if (binNumericLabel) binnedLabel(src, labelCol, numLabelBins)
      else col(labelCol).cast("string")
    val keep =
      if (pruneIfTooManyLabels) selectLabels(src, labelExpr, numAttrs, pruningMethod, maxLabels)
      else None
    val srcP = keep.map(ks => src.filter(labelExpr.isin(ks: _*))).getOrElse(src)
    val pairs = explodedPairs(srcP, labelExpr, attrs, nb, binningMethod)
    // n_label/n_cond as key-partitioned window totals over lc, as in
    // [[explain]] (two exchanges + two broadcast builds fewer than the
    // re-aggregate-and-join form; the isNotNull filter reproduces the
    // old inner join on the label totals exactly)
    val lc = pairs.groupBy("label", "attribute", "val").agg(count(lit(1)).as("n_match"))
    val rules = lc
      .withColumn("n_label",
        sum(when(col("attribute") === attrs.head.name, col("n_match")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("label")))
      .withColumn("n_cond",
        sum(col("n_match"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("attribute", "val")))
      .filter(col("n_label").isNotNull)
      .withColumn("coverage", graft.util.D.r(col("n_match").cast("double") / col("n_label"), 6))
      .withColumn("separation_err",
        graft.util.D.r((col("n_cond") - col("n_match")).cast("double") / col("n_cond"), 6))
      .filter(col("coverage") >= covTh && col("separation_err") <= sepTh &&
        col("n_cond") > col("n_match"))
      .select(col("label"), col("attribute"), col("val"))
    // err rows of rule (L, A, v) grouped by their actual label M are
    // exactly the lc counts at (M, A, v), M != L
    val contrib = rules.join(
        lc.select(col("label").as("err_label"), col("attribute"), col("val"),
          col("n_match").as("n_err")),
        Seq("attribute", "val"))
      .filter(col("err_label") =!= col("label"))
    // err_total likewise rides a window over contrib instead of a
    // re-aggregate + self-join (same inner-join equivalence: every
    // contrib row belongs to its own window group)
    val withFrac = contrib
      .withColumn("err_total", sum(col("n_err")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("label", "attribute", "val")))
      .withColumn("err_frac", graft.util.D.r(col("n_err").cast("double") / col("err_total"), 6))
    // ONE groupBy covers both cases: >threshold contributors keep their
    // err_label (singleton groups — n_groups 1, err_frac unchanged by
    // the re-division), the rest collapse into 'other'. Splitting into
    // filtered high/low branches would reference withFrac (and its
    // whole upstream subtree) twice.
    withFrac.groupBy(col("label"), col("attribute"), col("val"),
        (col("err_frac") > errTh).as("is_high"),
        when(col("err_frac") > errTh, col("err_label")).otherwise(lit("other")).as("err_label"))
      .agg(count(lit(1)).as("n_groups"), sum("n_err").as("n_err"),
        max("err_total").as("err_total"))
      // is_high stays in the grouping (then drops) so a genuine
      // contributor literally labeled "other" keeps its own row apart
      // from the below-threshold rollup, as in the two-branch form
      .select(col("label"), col("attribute"), col("val"), col("err_label"),
        col("n_groups"), col("n_err"),
        graft.util.D.r(col("n_err").cast("double") / col("err_total"), 6).as("err_frac"))
      .orderBy("label", "attribute", "val", "err_label")
  }

  /** Render [[explainErrors]] rows as the reference's error-explanation
    * text (many_to_one_explainer.py:471-497): contributors sorted by
    * fraction desc, 'other' rollup last — "x% from group y, z% from
    * other group(s), each individually causing less than 5.00% of the
    * error". One row per rule, column `error_explanation`. */
  def errorText(errors: DataFrame, errTh: Double = 0.05): DataFrame = {
    val part = struct(
      when(col("err_label") === "other", 1).otherwise(0).as("is_other"),
      (lit(1.0) - col("err_frac")).as("inv"), // asc sort == fraction desc
      col("err_label").as("g"), col("err_frac").as("f"), col("n_groups").as("ng"))
    errors.groupBy("label", "attribute", "val")
      .agg(concat_ws(", ", transform(sort_array(collect_list(part)), p =>
        when(p.getField("is_other") === 1,
          format_string("%.2f%% from %d other group(s), each individually causing less than " +
            f"${errTh * 100}%.2f%%%% of the error", p.getField("f") * 100, p.getField("ng")))
          .otherwise(format_string("%.2f%% from group %s", p.getField("f") * 100, p.getField("g")))))
        .as("error_explanation"))
  }

  /** DuckDB mirror of [[explainErrors]] (categorical attributes).
    * `labelExprSql` overrides the label expression (e.g. a binned-label
    * `'bin_' || ...` form mirroring binNumericLabel=true). */
  def errorsSql(table: String, labelCol: String, catAttrs: Seq[String],
                covTh: Double, sepTh: Double, errTh: Double = 0.05,
                labelExprSql: Option[String] = None): String = {
    val lab = labelExprSql.getOrElse(s"CAST($labelCol AS VARCHAR)")
    val branches = catAttrs.map(a =>
      s"SELECT $lab AS label, '$a' AS attribute, CAST($a AS VARCHAR) AS val FROM $table WHERE $a IS NOT NULL AND $labelCol IS NOT NULL")
    s"""WITH pairs AS (${branches.mkString("\nUNION ALL\n")}),
       |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM pairs GROUP BY 1,2,3),
       |lt AS (SELECT label, COUNT(*) AS n_label FROM pairs WHERE attribute = '${catAttrs.head}' GROUP BY 1),
       |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM pairs GROUP BY 1,2),
       |rules AS (
       |  SELECT lc.label, lc.attribute, lc.val
       |  FROM lc JOIN lt ON lc.label = lt.label
       |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val
       |  WHERE ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) >= $covTh
       |    AND ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) <= $sepTh
       |    AND ct.n_cond > lc.n_match),
       |contrib AS (
       |  SELECT r.label, r.attribute, r.val, o.label AS err_label, o.n_match AS n_err
       |  FROM rules r JOIN lc o ON o.attribute = r.attribute AND o.val = r.val
       |    AND o.label <> r.label),
       |tot AS (SELECT label, attribute, val, SUM(n_err) AS err_total
       |  FROM contrib GROUP BY 1,2,3),
       |f AS (SELECT c.label, c.attribute, c.val, c.err_label, c.n_err,
       |    ROUND(CAST(c.n_err AS DOUBLE) / t.err_total, 6) AS err_frac, t.err_total
       |  FROM contrib c JOIN tot t
       |    ON c.label = t.label AND c.attribute = t.attribute AND c.val = t.val)
       |SELECT label, attribute, val, err_label, CAST(1 AS BIGINT) AS n_groups,
       |  CAST(n_err AS BIGINT) AS n_err, err_frac
       |FROM f WHERE err_frac > $errTh
       |UNION ALL
       |SELECT label, attribute, val, 'other', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(n_err) AS BIGINT),
       |  ROUND(CAST(SUM(n_err) AS DOUBLE) / MAX(err_total), 6)
       |FROM f WHERE err_frac <= $errTh GROUP BY 1, 2, 3
       |ORDER BY label, attribute, val, err_label""".stripMargin
  }

  /** Length-K conjunction rules (reference max_explanation_length, default
    * 3): one condition per attribute in `attrs` (categorical value or
    * binned numeric), scored with the same coverage/separation metrics.
    * ALL co-occurrence counts come from ONE groupBy over
    * (label, v1..vK) — never a pairwise join; the count-table size is
    * bounded by the product of attribute cardinalities actually present,
    * not by the corpus. */
  def explainConj(src: DataFrame, labelCol: String, attrs: Seq[Fedex.Attr],
                  covTh: Double = 0.7, sepTh: Double = 0.3, nb: Int = 10,
                  binningMethod: String = "equal_width"): DataFrame = {
    val vcols = attrs.indices.map(i => s"val_${('a' + i).toChar}")
    val base = conjBase(src, labelCol, attrs, nb, binningMethod, vcols)
    // ONE Expand + hash aggregation over GROUPING SETS
    // ((label, v1..vK), (label), (v1..vK)) — the predecessor planned
    // lc/lt/ct as three separate aggregations of the corpus-sized
    // projection, which re-planned the source scan per branch (plan
    // audit measured 4+ FileScans on q_many_to_one_conj). The label
    // and condition totals are then read back from the BOUNDED cell
    // table by two windows (never a self-join: a gid-filter pushed
    // below the aggregate re-splits the subtree into per-consumer
    // scans — measured before this form landed). gid, not null-ness,
    // selects the slice, so genuine NULL labels/values group exactly
    // as before; the final filter reproduces the predecessor
    // equi-join semantics (NULL label/value rows emit no rule row).
    // Bit layout: grouping_id's MSB is the FIRST groupBy column
    // (label), so the (label) set = 2^K − 1 and the (v*) set = 2^K.
    val vc = vcols.map(col)
    val k = vcols.size
    val cells = base.groupingSets(
        Seq(col("label") +: vc, Seq(col("label")), vc), (col("label") +: vc): _*)
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    cells
      .withColumn("n_label",
        max(when(col("gid") === ((1 << k) - 1), col("n")))
          .over(Window.partitionBy("label")))
      .withColumn("n_cond",
        max(when(col("gid") === (1 << k), col("n")))
          .over(Window.partitionBy(vc: _*)))
      .filter(col("gid") === 0 &&
        (col("label").isNotNull +: vc.map(_.isNotNull)).reduce(_ && _))
      .select((col("label") +: vc) ++ Seq(col("n").as("n_match"),
        graft.util.D.r(col("n").cast("double") / col("n_label"), 6).as("coverage"),
        graft.util.D.r((col("n_cond") - col("n")).cast("double") / col("n_cond"), 6).as("separation_err")): _*)
      .withColumn("passes", (col("coverage") >= covTh && col("separation_err") <= sepTh).cast("int"))
      .orderBy(col("label") +: vcols.map(col): _*)
  }

  /** Back-compat form: length-2 conjunction over (cat attrA, numeric
    * attrB). */
  def explainConj(src: DataFrame, labelCol: String, attrA: String, attrB: String,
                  covTh: Double, sepTh: Double, nb: Int): DataFrame =
    explainConj(src, labelCol,
      Seq(Fedex.Attr(attrA, numeric = false), Fedex.Attr(attrB, numeric = true)),
      covTh, sepTh, nb)

  def explainConj(src: DataFrame, labelCol: String, attrA: String, attrB: String): DataFrame =
    explainConj(src, labelCol, attrA, attrB, 0.2, 0.8, 10)

  /** (label, v1..vK) projection shared by conj/disj paths. */
  private def conjBase(src: DataFrame, labelCol: String, attrs: Seq[Fedex.Attr], nb: Int,
                       binningMethod: String, vcols: Seq[String]): DataFrame = {
    val nums = attrs.filter(_.numeric).map(_.name)
    val valueExprs: Map[String, Column] = binningMethod match {
      case "quantile" =>
        val qb = quantileBins(src, nums, nb).map(b => b.name -> b.expr.cast("string")).toMap
        attrs.map(a => a.name -> (if (a.numeric) qb(a.name) else col(a.name).cast("string"))).toMap
      case _ =>
        attrs.map(a => a.name -> (
          if (a.numeric) Fedex.binExpr(col(a.name), col(s"lo_${a.name}"), col(s"hi_${a.name}"), nb).cast("string")
          else col(a.name).cast("string"))).toMap
    }
    val stats = if (binningMethod == "quantile") None else Fedex.statsDf(src, attrs)
    val base0 = stats.map(st => src.crossJoin(broadcast(st))).getOrElse(src)
    base0.select(col(labelCol).cast("string").as("label") +:
        attrs.zip(vcols).map { case (a, vc) => valueExprs(a.name).as(vc) }: _*)
      .filter(vcols.map(c => col(c).isNotNull).reduce(_ && _) && col("label").isNotNull)
  }

  /** Pairwise DISJUNCTION rules (reference explanation_form='disj'):
    * rule = (attrA = a ∨ attrB = b). Metrics by inclusion–exclusion over
    * a single-groupBy joint count table:
    *   |disj ∧ label| = nA + nB − nAB  (and likewise unconditioned),
    * so no second scan of the source.
    *
    * Finish is DRIVER-SIDE over the joint table of |labels|·|A-bins|·
    * |B-bins| cells, gathered in one exchange-free pass
    * ([[graft.util.Guard.gatherCells]]): an all-DataFrame assembly plans
    * seven derived aggregations plus a six-join candidate build over
    * tables of a few hundred rows, pure plan-compile/stage overhead
    * (measured ~1 s of the 1.7 s sf1 floor). The marginals fold in Scala
    * from the cells, and the result re-enters as a LocalRelation. */
  def explainDisj(src: DataFrame, labelCol: String, attrA: String, attrB: String,
                  covTh: Double = 0.7, sepTh: Double = 0.3, nb: Int = 10,
                  binningMethod: String = "equal_width"): DataFrame = {
    val attrs = Seq(Fedex.Attr(attrA, numeric = false), Fedex.Attr(attrB, numeric = true))
    val base = conjBase(src, labelCol, attrs, nb, binningMethod, Seq("val_a", "val_b"))
    // joint counts once (the single corpus pass); every marginal below
    // derives from them driver-side
    val (_, cells) = graft.util.Guard.gatherCells(base,
      Seq(struct(col("label"), col("val_a"), col("val_b"))), "ManyToOne.explainDisj")
    val triples = cells.map(c =>
      (c.key.getString(0), c.key.getString(1), c.key.getString(2), c.n))
    val nAB  = triples.map { case (l, a, b, n) => (l, a, b) -> n }.toMap
    def fold(keys: Seq[((String, String), Long)]): Map[(String, String), Long] =
      keys.groupMapReduce(_._1)(_._2)(_ + _)
    val nA   = fold(triples.map { case (l, a, _, n) => (l, a) -> n })
    val nB   = fold(triples.map { case (l, _, b, n) => (l, b) -> n })
    val nLab = triples.groupMapReduce(_._1)(_._4)(_ + _)
    val cA   = triples.groupMapReduce(_._2)(_._4)(_ + _)
    val cB   = triples.groupMapReduce(_._3)(_._4)(_ + _)
    val cAB  = fold(triples.map { case (_, a, b, n) => (a, b) -> n })
    val out = for {
      ((l, a), na) <- nA.toSeq
      ((l2, b), nbv) <- nB.toSeq if l2 == l
    } yield {
      val nMatch = na + nbv - nAB.getOrElse((l, a, b), 0L)
      val nCond = cA(a) + cB(b) - cAB.getOrElse((a, b), 0L)
      val cov = graft.util.Mirror.r(nMatch.toDouble / nLab(l))
      val sep = graft.util.Mirror.r((nCond - nMatch).toDouble / nCond)
      (l, a, b, nMatch, cov, sep, if (cov >= covTh && sep <= sepTh) 1 else 0)
    }
    val spark = src.sparkSession
    import spark.implicits._
    out.sortBy(t => (t._1, t._2, t._3)).toSeq
      .toDF("label", "val_a", "val_b", "n_match", "coverage", "separation_err", "passes")
  }

  // ---------------------------------------------------------------- SQL --

  /** DuckDB mirror of [[explain]] with pruning_method='max_dist'/'min_dist'
    * over ONE numeric attribute: per-label 6dp exact-decimal means,
    * 6dp pairwise distances, decimal-exact average distance ranking, then
    * the standard rule mining over the kept rows (bin stats from KEPT
    * rows, mirroring the prune-then-bin flow). */
  def distPrunedSql(table: String, labelCol: String, attr: String,
                    covTh: Double, sepTh: Double, maxLabels: Int,
                    maxDist: Boolean, nb: Int = 10): String = {
    val ord = if (maxDist) "DESC" else "ASC"
    s"""WITH labs AS (SELECT CAST($labelCol AS VARCHAR) AS label, $attr
       |  FROM $table WHERE $labelCol IS NOT NULL),
       |means AS (SELECT label,
       |    ROUND(CAST(SUM(CAST($attr AS DECIMAL(25,6))) AS DOUBLE) / COUNT($attr), 6) AS m
       |  FROM labs GROUP BY 1 HAVING COUNT($attr) > 0),
       |dists AS (SELECT a.label, ROUND(sqrt((a.m - b.m) * (a.m - b.m)), 6) AS d
       |  FROM means a JOIN means b ON a.label <> b.label),
       |avgd AS (SELECT label,
       |    ROUND(CAST(SUM(CAST(d AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS avg_d
       |  FROM dists GROUP BY 1),
       |keep AS (SELECT label FROM avgd ORDER BY avg_d $ord, label LIMIT $maxLabels),
       |kept AS (SELECT l.* FROM labs l JOIN keep k ON l.label = k.label),
       |st AS (SELECT MIN($attr) AS lo_$attr, MAX($attr) AS hi_$attr FROM kept),
       |pairs AS (SELECT label, '$attr' AS attribute,
       |    CAST(${Fedex.binSql(attr, s"lo_$attr", s"hi_$attr", nb)} AS VARCHAR) AS val
       |  FROM kept, st WHERE $attr IS NOT NULL),
       |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM pairs GROUP BY 1,2,3),
       |lt AS (SELECT label, COUNT(*) AS n_label FROM pairs GROUP BY 1),
       |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM pairs GROUP BY 1,2)
       |SELECT label, attribute, val, n_match, coverage, separation_err,
       |  CAST(CASE WHEN coverage >= $covTh AND separation_err <= $sepTh
       |       THEN 1 ELSE 0 END AS INT) AS passes
       |FROM (
       |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
       |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
       |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
       |  FROM lc JOIN lt ON lc.label = lt.label
       |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
       |ORDER BY label, attribute, val""".stripMargin
  }

  /** DuckDB mirror of [[explain]] with
    * pruning_method='max_silhouette'/'min_silhouette' over ONE numeric
    * attribute: per-label 6dp exact-decimal centroids, per-row 6dp
    * distances to every centroid (SQRT((x−m)·(x−m)) — the identical
    * formula the Spark side compiles), simplified-silhouette
    * s = (b−a)/max(a,b) with the 0/0→0 edge, decimal-exact per-label
    * means, rank, then the standard rule mining over the kept rows (bin
    * stats from KEPT rows, mirroring the prune-then-bin flow). */
  def silhouettePrunedSql(table: String, labelCol: String, attr: String,
                          covTh: Double, sepTh: Double, maxLabels: Int,
                          maxSil: Boolean, nb: Int = 10): String = {
    val ord = if (maxSil) "DESC" else "ASC"
    s"""WITH labs AS (SELECT CAST($labelCol AS VARCHAR) AS label, $attr
       |  FROM $table WHERE $labelCol IS NOT NULL),
       |means AS (SELECT label,
       |    ROUND(CAST(SUM(CAST($attr AS DECIMAL(25,6))) AS DOUBLE) / COUNT($attr), 6) AS m
       |  FROM labs GROUP BY 1 HAVING COUNT($attr) > 0),
       |d AS (SELECT l.rowid AS rid, l.label, m.label AS clabel,
       |    ROUND(SQRT((l.$attr - m.m) * (l.$attr - m.m)), 6) AS d
       |  FROM (SELECT ROW_NUMBER() OVER () AS rowid, label, $attr FROM labs
       |        WHERE $attr IS NOT NULL
       |          AND label IN (SELECT label FROM means)) l
       |  CROSS JOIN means m),
       |ab AS (SELECT rid, label,
       |    MIN(CASE WHEN clabel = label THEN d END) AS a,
       |    MIN(CASE WHEN clabel <> label THEN d END) AS b
       |  FROM d GROUP BY 1, 2),
       |sc AS (SELECT label,
       |    CASE WHEN GREATEST(a, b) = 0 THEN 0.0
       |         ELSE ROUND((b - a) / GREATEST(a, b), 6) END AS s
       |  FROM ab),
       |sil AS (SELECT label,
       |    ROUND(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS sil
       |  FROM sc GROUP BY 1),
       |keep AS (SELECT label FROM sil ORDER BY sil $ord, label LIMIT $maxLabels),
       |kept AS (SELECT l.* FROM labs l JOIN keep k ON l.label = k.label),
       |st AS (SELECT MIN($attr) AS lo_$attr, MAX($attr) AS hi_$attr FROM kept),
       |pairs AS (SELECT label, '$attr' AS attribute,
       |    CAST(${Fedex.binSql(attr, s"lo_$attr", s"hi_$attr", nb)} AS VARCHAR) AS val
       |  FROM kept, st WHERE $attr IS NOT NULL),
       |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM pairs GROUP BY 1,2,3),
       |lt AS (SELECT label, COUNT(*) AS n_label FROM pairs GROUP BY 1),
       |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM pairs GROUP BY 1,2)
       |SELECT label, attribute, val, n_match, coverage, separation_err,
       |  CAST(CASE WHEN coverage >= $covTh AND separation_err <= $sepTh
       |       THEN 1 ELSE 0 END AS INT) AS passes
       |FROM (
       |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
       |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
       |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
       |  FROM lc JOIN lt ON lc.label = lt.label
       |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
       |ORDER BY label, attribute, val""".stripMargin
  }

  /** DuckDB keep-list mirror of [[randomLabels]] (seeded md5 rank over
    * distinct labels), for composing into pruned-rule oracles. */
  def randomKeepSql(table: String, labelCol: String, maxLabels: Int,
                    seed: String = "42"): String =
    s"""SELECT label FROM (SELECT DISTINCT CAST($labelCol AS VARCHAR) AS label
       |  FROM $table WHERE $labelCol IS NOT NULL)
       |ORDER BY md5('$seed' || ':' || label), label LIMIT $maxLabels""".stripMargin

  def disjSql(table: String, labelCol: String, attrA: String, attrB: String,
              covTh: Double, sepTh: Double, nb: Int = 10): String =
    s"""WITH st AS (SELECT MIN($attrB) AS lo_$attrB, MAX($attrB) AS hi_$attrB FROM $table),
       |base AS (SELECT CAST($labelCol AS VARCHAR) AS label,
       |    CAST($attrA AS VARCHAR) AS val_a,
       |    CAST(${Fedex.binSql(attrB, s"lo_$attrB", s"hi_$attrB", nb)} AS VARCHAR) AS val_b
       |  FROM $table, st
       |  WHERE $attrA IS NOT NULL AND $attrB IS NOT NULL AND $labelCol IS NOT NULL),
       |joint AS (SELECT label, val_a, val_b, COUNT(*) AS n FROM base GROUP BY 1, 2, 3),
       |la AS (SELECT label, val_a, SUM(n) AS n_a FROM joint GROUP BY 1, 2),
       |lb AS (SELECT label, val_b, SUM(n) AS n_b FROM joint GROUP BY 1, 2),
       |lt AS (SELECT label, SUM(n) AS n_label FROM joint GROUP BY 1),
       |ca AS (SELECT val_a, SUM(n) AS c_a FROM joint GROUP BY 1),
       |cb AS (SELECT val_b, SUM(n) AS c_b FROM joint GROUP BY 1),
       |cab AS (SELECT val_a, val_b, SUM(n) AS c_ab FROM joint GROUP BY 1, 2)
       |SELECT label, val_a, val_b, CAST(n_match AS BIGINT) AS n_match, coverage, separation_err,
       |  CAST(CASE WHEN coverage >= $covTh AND separation_err <= $sepTh THEN 1 ELSE 0 END AS INT) AS passes
       |FROM (
       |  SELECT la.label, la.val_a, lb.val_b,
       |    la.n_a + lb.n_b - COALESCE(j.n, 0) AS n_match,
       |    ROUND(CAST(la.n_a + lb.n_b - COALESCE(j.n, 0) AS DOUBLE) / lt.n_label, 6) AS coverage,
       |    ROUND(CAST((ca.c_a + cb.c_b - COALESCE(cab.c_ab, 0)) - (la.n_a + lb.n_b - COALESCE(j.n, 0)) AS DOUBLE)
       |          / (ca.c_a + cb.c_b - COALESCE(cab.c_ab, 0)), 6) AS separation_err
       |  FROM la JOIN lb ON la.label = lb.label
       |  LEFT JOIN joint j ON j.label = la.label AND j.val_a = la.val_a AND j.val_b = lb.val_b
       |  JOIN lt ON lt.label = la.label
       |  LEFT JOIN cab ON cab.val_a = la.val_a AND cab.val_b = lb.val_b
       |  JOIN ca ON ca.val_a = la.val_a
       |  JOIN cb ON cb.val_b = lb.val_b)
       |ORDER BY label, val_a, val_b""".stripMargin

  /** DuckDB mirror of length-K [[explainConj]] (equal-width binning). */
  def conjKSql(table: String, labelCol: String,
               catAttrs: Seq[String], numAttrs: Seq[String],
               covTh: Double, sepTh: Double, nb: Int = 10): String = {
    val attrs = catAttrs.map(a => (a, false)) ++ numAttrs.map(a => (a, true))
    val vcols = attrs.indices.map(i => s"val_${('a' + i).toChar}")
    val statCols = numAttrs.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    val stTable = if (numAttrs.nonEmpty) s"$table, st" else table
    val valExprs = attrs.zip(vcols).map { case ((a, numeric), vc) =>
      if (numeric) s"CAST(${Fedex.binSql(a, s"lo_$a", s"hi_$a", nb)} AS VARCHAR) AS $vc"
      else s"CAST($a AS VARCHAR) AS $vc" }
    val notNull = attrs.map(_._1).map(a => s"$a IS NOT NULL").mkString(" AND ")
    val st = if (numAttrs.nonEmpty) s"st AS (SELECT $statCols FROM $table),\n" else ""
    val vlist = vcols.mkString(", ")
    s"""WITH $st
       |base AS (SELECT CAST($labelCol AS VARCHAR) AS label, ${valExprs.mkString(", ")}
       |  FROM $stTable WHERE $notNull AND $labelCol IS NOT NULL),
       |lc AS (SELECT label, $vlist, COUNT(*) AS n_match FROM base GROUP BY ALL),
       |lt AS (SELECT label, COUNT(*) AS n_label FROM base GROUP BY 1),
       |ct AS (SELECT $vlist, COUNT(*) AS n_cond FROM base GROUP BY ALL)
       |SELECT label, $vlist, n_match, coverage, separation_err,
       |  CAST(CASE WHEN coverage >= $covTh AND separation_err <= $sepTh THEN 1 ELSE 0 END AS INT) AS passes
       |FROM (
       |  SELECT lc.label, ${vcols.map(v => s"lc.$v").mkString(", ")}, lc.n_match,
       |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
       |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
       |  FROM lc JOIN lt ON lc.label = lt.label
       |  JOIN ct ON ${vcols.map(v => s"lc.$v = ct.$v").mkString(" AND ")})
       |ORDER BY label, $vlist""".stripMargin
  }

  def conjSql(table: String, labelCol: String, attrA: String, attrB: String,
              covTh: Double = 0.2, sepTh: Double = 0.8, nb: Int = 10): String =
    conjKSql(table, labelCol, Seq(attrA), Seq(attrB), covTh, sepTh, nb)

  /** DuckDB mirror of [[explain]]. `binningMethod` 'quantile' uses
    * ROUND(quantile_cont, 6) boundaries like the Spark side. */
  def sql(table: String, labelCol: String,
          catAttrs: Seq[String], numAttrs: Seq[String],
          covTh: Double = 0.7, sepTh: Double = 0.3, nb: Int = 10,
          binningMethod: String = "equal_width"): String = {
    val statCols = numAttrs.map(a => s"MIN($a) AS lo_$a, MAX($a) AS hi_$a").mkString(", ")
    val useSt = binningMethod != "quantile" && numAttrs.nonEmpty
    val stTable = if (useSt) s"$table, st" else table
    def numBin(a: String): String =
      if (binningMethod == "quantile")
        quantileBinSql(a, (1 until nb).map(_.toDouble / nb)).replace("FROM SRC", s"FROM $table")
      else Fedex.binSql(a, s"lo_$a", s"hi_$a", nb)
    val branches =
      catAttrs.map(a =>
        s"SELECT CAST($labelCol AS VARCHAR) AS label, '$a' AS attribute, CAST($a AS VARCHAR) AS val FROM $table WHERE $a IS NOT NULL AND $labelCol IS NOT NULL") ++
      numAttrs.map(a =>
        s"SELECT CAST($labelCol AS VARCHAR), '$a', CAST(${numBin(a)} AS VARCHAR) FROM $stTable WHERE $a IS NOT NULL AND $labelCol IS NOT NULL")
    val headAttr = (catAttrs ++ numAttrs).head
    val st = if (useSt) s"st AS (SELECT $statCols FROM $table),\n" else ""
    s"""WITH $st
       |pairs AS (${branches.mkString("\nUNION ALL\n")}),
       |lc AS (SELECT label, attribute, val, COUNT(*) AS n_match FROM pairs GROUP BY 1,2,3),
       |lt AS (SELECT label, COUNT(*) AS n_label FROM pairs WHERE attribute = '$headAttr' GROUP BY 1),
       |ct AS (SELECT attribute, val, COUNT(*) AS n_cond FROM pairs GROUP BY 1,2)
       |SELECT label, attribute, val, n_match, coverage, separation_err,
       |  CAST(CASE WHEN coverage >= $covTh AND separation_err <= $sepTh
       |       THEN 1 ELSE 0 END AS INT) AS passes
       |FROM (
       |  SELECT lc.label, lc.attribute, lc.val, lc.n_match,
       |    ROUND(CAST(lc.n_match AS DOUBLE) / lt.n_label, 6) AS coverage,
       |    ROUND(CAST(ct.n_cond - lc.n_match AS DOUBLE) / ct.n_cond, 6) AS separation_err
       |  FROM lc JOIN lt ON lc.label = lt.label
       |  JOIN ct ON lc.attribute = ct.attribute AND lc.val = ct.val)
       |ORDER BY label, attribute, val""".stripMargin
  }
}
