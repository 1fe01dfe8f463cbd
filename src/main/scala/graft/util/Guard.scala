package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Fail-fast guards for documented cardinality contracts.
  *
  * The explainers gather explanation-grade cell sets — bins and
  * low-cardinality dimensions — either on the driver through one bounded
  * collect ([[gatherCells]]: Outlier.explain's cube, the Fedex count
  * table, GroupByExplain.zdev's melt, MetaInsight.masterRanked's cube),
  * or into one row per group via
  * collect_list ([[cellCap]]: MetaInsight.catPatternsKeyed). The
  * contract "don't feed ID-like grouping keys" used to be documentation
  * only: a violating caller got a driver or executor OOM with no hint of
  * the cause. Both guards turn the violation into an immediate,
  * diagnosable error. The collect is limit()-bounded to one row past the
  * bound, so no more than that reaches the driver; the in-plan cap is
  * one comparison per group row, evaluated executor-side next to the
  * gathered array itself.
  */
object Guard {

  /** Max cells a single gathered group row may hold before the query
    * fails. Explanation-grade groupings sit orders of magnitude below
    * this; a group this size (~10 MB of struct cells in ONE row) means
    * the grouping key is ID-like and the result would be meaningless
    * noise even if it survived memory. Mutable so a caller who truly
    * wants huge groups can raise it knowingly. */
  @volatile var MaxGatheredCells: Long = 100000L

  /** Max label centroids the many_to_one dist-pruning ranking may pull
    * to the driver (ManyToOne.distLabels). The reference's semantics
    * bound label cardinality at dozens; the cap turns an ID-like label
    * column (which would otherwise collect one centroid row per
    * distinct value, unboundedly) into an immediate, diagnosable error.
    * The collect itself is limit()-bounded to cap+1 rows, so driver
    * memory is protected even before the check fires. */
  @volatile var MaxRankedLabels: Int = 1024

  /** Max rows a single self-join block may hold in the exact (bits = 0)
    * embedding pair enumeration (Ann.embeddingPairs). A block of n rows
    * generates n·(n−1)/2 pair comparisons on ONE join key — at the
    * 50k-row cap that is already ~1.25e9 comparisons on one reducer, the
    * point where a hot label stops being slow and starts being a
    * cluster-killer. The reference's exact semantics are label-blocked
    * and unbounded; the guard turns the pathological case into an
    * immediate, diagnosable error naming the escape hatches (sub-block
    * bits, the IVF/LSH content-blocked paths, or raising this knob). */
  @volatile var MaxPairBlockRows: Long = 50000L

  /** Returns `value`, but evaluating it raises a diagnosable error when
    * `n` (the row's self-join block size) exceeds [[MaxPairBlockRows]].
    * Same evaluation contract as [[cellCap]]: wrap a column the plan is
    * guaranteed to evaluate. The join streams, so the error fires on the
    * first rows of the hot block — before the quadratic pair set is
    * materialized. */
  def pairBlockCap(n: Column, value: Column, site: String): Column = {
    val cap = MaxPairBlockRows
    when(n > cap, raise_error(concat(
      lit(s"$site: a single pair-enumeration block holds "), n.cast("string"),
      lit(s" rows (bound $cap) — ~n²/2 pair comparisons on one join key. " +
        "Opt into similarity-preserving sub-blocking (bits = " +
        "Ann.SubBlockBits), use the content-blocked embeddingPairsIvf / " +
        "lshPairs scale paths, or raise graft.util.Guard.MaxPairBlockRows " +
        "if the block size is intentional."))))
      .otherwise(value)
  }

  /** What every gathered-cell error says after its count: the key
    * looks ID-like, and how to get past the bound. */
  private def idLike(cap: Long): String =
    s" cells (bound $cap). The grouping key looks ID-like — this " +
      "operator is sized for explanation-grade groupings (bins / " +
      "low-cardinality dimensions). Re-group on a coarser key, or " +
      "raise graft.util.Guard.MaxGatheredCells if the group size is " +
      "intentional."

  /** Returns `value`, but evaluating it raises a diagnosable error when
    * `n` (the group's gathered cell count) exceeds [[MaxGatheredCells]].
    * Wrap a column the plan is guaranteed to evaluate (the count itself,
    * or a stat derived from it) — the guard must not sit in a column
    * that column pruning can drop. */
  def cellCap(n: Column, value: Column, site: String): Column = {
    val cap = MaxGatheredCells
    when(n > cap, raise_error(concat(
      lit(s"$site: a single group gathered "), n.cast("string"), lit(idLike(cap)))))
      .otherwise(value)
  }

  /** Collects `cells` to the driver for a driver-side finish. The collect
    * is bounded at [[MaxGatheredCells]] + 1 rows, and holding more than
    * the bound raises the [[cellCap]] error, so an ID-like key fails
    * before more than one row past the bound reaches the driver. */
  def gatherCells(cells: DataFrame, site: String): Array[Row] = {
    val cap = MaxGatheredCells
    val rows = cells.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
    if (rows.length > cap)
      throw new IllegalArgumentException(
        s"$site: the collect gathered more than $cap" + idLike(cap))
    rows
  }
}
