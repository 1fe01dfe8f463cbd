package graft.util

import java.math.{BigDecimal => JBigDecimal}
import java.util.{HashMap => JHashMap}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, Literal, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Fail-fast guards for documented cardinality contracts, and the
  * bounded gather the driver-finished explainers and notebook operations
  * build their tables with.
  *
  * The explainers gather explanation-grade cell sets — bins and
  * low-cardinality dimensions — on the driver through one exchange-free
  * kernel ([[gatherCells]]: per cell a row count, flag counts, exact
  * decimal sums and extrema). The notebook operations `valueCounts` (one
  * cell per value) and `describeStats` (one cell holding every column's
  * moments and extrema) build from the same kernel, as do many-to-one's
  * label centroids. The contract "don't feed ID-like grouping keys" is
  * enforced, not only documented: the kernel fails a partition, or the
  * driver's merge, on the cell one past the bound — a diagnosable error
  * instead of a driver or executor OOM.
  */
object Guard {

  /** Max cells one gather may hold, over all its sets, before the query
    * fails. Explanation-grade groupings sit orders of magnitude below
    * this; a table this size means the grouping key is ID-like and the
    * result would be meaningless noise even if it survived memory.
    * Mutable so a caller who truly wants huge tables can raise it
    * knowingly. */
  @volatile var MaxGatheredCells: Long = 100000L

  /** Max label centroids the many_to_one dist and silhouette pruning may
    * rank (ManyToOne.distLabels, silhouetteLabels). The reference's
    * semantics bound label cardinality at dozens; the cap turns an
    * ID-like label column (which would otherwise rank one centroid per
    * distinct value) into an immediate, diagnosable error. The centroids
    * are gathered through [[gatherCells]], so [[MaxGatheredCells]] bounds
    * driver memory before this check fires. */
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
    * Wrap a column the plan is guaranteed to evaluate — the guard must
    * not sit in a column that column pruning can drop. The join streams,
    * so the error fires on the first rows of the hot block — before the
    * quadratic pair set is materialized. */
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

  /** One cell of a gathered table: its set, its key, its row count, its
    * count of rows per flag, its exact sum per summed column (NULL when
    * every summed value is NULL), and the min and max of each extremum
    * column (NULL when it has no value). */
  final case class Cell(set: Int, key: Row, n: Long, flags: IndexedSeq[Long],
                        sums: IndexedSeq[JBigDecimal], lo: IndexedSeq[Any], hi: IndexedSeq[Any])

  /** A cell while it is folded; a row enters as a one-row Acc. */
  private final class Acc(nFlags: Int, nSums: Int, nExt: Int) extends Serializable {
    var n = 0L
    val flags = new Array[Long](nFlags)
    val sums = new Array[JBigDecimal](nSums)
    val lo, hi = new Array[Any](nExt)

    def merge(o: Acc, ords: Array[Ordering[Any]]): Unit = {
      n += o.n
      for (i <- flags.indices) flags(i) += o.flags(i)
      for (i <- sums.indices) sums(i) = if (sums(i) == null) o.sums(i)
        else if (o.sums(i) == null) sums(i) else sums(i).add(o.sums(i))
      for (i <- lo.indices) {
        if (lo(i) == null || (o.lo(i) != null && ords(i).lt(o.lo(i), lo(i)))) lo(i) = o.lo(i)
        if (hi(i) == null || (o.hi(i) != null && ords(i).gt(o.hi(i), hi(i)))) hi(i) = o.hi(i)
      }
    }
  }

  private type Partial = Array[JHashMap[UnsafeRow, Acc]]

  /** The gathered projection's columns: set key structs of `widths`
    * fields, flags, decimal sums, extrema. */
  private final case class Layout(schema: StructType, widths: IndexedSeq[Int], nFlags: Int,
                                  sumTypes: IndexedSeq[DecimalType], extTypes: IndexedSeq[DataType],
                                  cap: Long, site: String) {
    def nSums: Int = sumTypes.size
    def ords: Array[Ordering[Any]] = extTypes.map(PhysicalDataType.ordering).toArray
    def partial: Partial = Array.fill(widths.size)(new JHashMap[UnsafeRow, Acc]())
    def tooMany(where: String, held: Long) =
      new IllegalArgumentException(s"$site: $where gathered $held" + idLike(cap))

    /** One partition's partial table, on an executor. */
    def fold(rows: Iterator[InternalRow]): Partial = {
      val (part, o) = (partial, ords)
      val (f0, s0, e0) = (widths.size, widths.size + nFlags, widths.size + nFlags + nSums)
      val one = new Acc(nFlags, nSums, extTypes.size)
      one.n = 1
      var held = 0L
      // the rows of a compiled plan are UnsafeRows already: the projection
      // is made only for the first row that is not
      lazy val toUnsafe = UnsafeProjection.create(schema)
      rows.foreach { r =>
        val row = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        for (i <- 0 until nFlags)
          one.flags(i) = if (!row.isNullAt(f0 + i) && row.getBoolean(f0 + i)) 1 else 0
        for (i <- 0 until nSums) one.sums(i) =
          if (row.isNullAt(s0 + i)) null
          else row.getDecimal(s0 + i, sumTypes(i).precision, sumTypes(i).scale).toJavaBigDecimal
        for (i <- extTypes.indices) {
          one.lo(i) = if (row.isNullAt(e0 + i)) null
            else InternalRow.copyValue(row.get(e0 + i, extTypes(i)))
          one.hi(i) = one.lo(i)
        }
        for (s <- widths.indices if !row.isNullAt(s)) {
          val key = row.getStruct(s, widths(s))
          var acc = part(s).get(key)
          if (acc == null) {
            held += 1
            if (held > cap) throw tooMany("a partition", held)
            acc = new Acc(nFlags, nSums, extTypes.size)
            part(s).put(key.copy(), acc)
          }
          acc.merge(one, o)
        }
      }
      part
    }
  }

  /** The kernel: one exchange-free pass over `src`; each partition folds
    * its rows into a partial table, merged on the driver as the tasks
    * finish. A row joins set i under the key `sets(i)` (a struct; NULL
    * leaves it out), and a cell keeps its row count, its count of rows
    * where each of `flags` holds, the exact sum of each of `sums` (DECIMAL
    * columns, each read at its own type), and the min and max of each of
    * `extrema` in its own type (NULL skipped, NaN largest). Keys are equal
    * when their binary rows are: grouping keys come in [[groupingForm]].
    * A partition fails on its cell one past [[MaxGatheredCells]], and the
    * driver on the merged table's, so it holds at most one partial beyond
    * the bound. The job runs as one SQL execution named `site`. */
  private def pass(src: DataFrame, sets: Seq[Column], flags: Seq[Column], sums: Seq[Column],
                   extrema: Seq[Column], site: String): (Layout, Partial) = {
    val proj = src.select(sets ++ flags ++ sums ++ extrema: _*)
    val schema = proj.schema
    val layout = Layout(schema, sets.indices.map(i => schema(i).dataType.asInstanceOf[StructType].size),
      flags.size, sums.indices.map(i => schema(sets.size + flags.size + i).dataType match {
        case d: DecimalType => d
        case t => throw new IllegalArgumentException(s"$site: sum $i is $t, not a DECIMAL")
      }), extrema.indices.map(i => schema(schema.size - extrema.size + i).dataType),
      MaxGatheredCells, site)
    import layout.{cap, tooMany}
    val (merged, o) = (layout.partial, layout.ords)
    var held = 0L
    @volatile var failure: Throwable = null
    def mergeIn(part: Partial): Unit =
      for (s <- part.indices; e <- part(s).entrySet.asScala) {
        val acc = merged(s).get(e.getKey)
        if (acc != null) acc.merge(e.getValue, o)
        else {
          held += 1
          if (held > cap) throw tooMany("the merged partials", held)
          merged(s).put(e.getKey, e.getValue)
        }
      }
    val qe = proj.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(site)) {
      val rdd = qe.toRdd
      val job = src.sparkSession.sparkContext.submitJob[InternalRow, Partial, Unit](
        rdd, layout.fold, rdd.partitions.indices,
        // a handler that throws fails the job at once; later partials are dropped
        (_, part) => if (failure == null) {
          try mergeIn(part) catch { case e: Throwable => failure = e; throw e }
        }, ())
      Await.ready(job, Duration.Inf)
      if (failure != null) { job.cancel(); throw failure }
      job.value.get.get
    }
    (layout, merged)
  }

  /** The cells of `sets` over `src` ([[pass]]) with each set's key
    * schema, by set and then by key in Spark's ascending order: a
    * canonical order, so ties in a driver-side sort break the same way
    * at any partition count. A sum that does not fit Spark's sum type
    * for its column (precision + 10, at most 38) raises, as the ANSI sum
    * does. */
  def gatherCells(src: DataFrame, sets: Seq[Column], site: String, flags: Seq[Column] = Nil,
                  sums: Seq[Column] = Nil, extrema: Seq[Column] = Nil): (IndexedSeq[StructType], Seq[Cell]) = {
    val (layout, merged) = pass(src, sets, flags, sums, extrema, site)
    val keys = sets.indices.map(i => layout.schema(i).dataType.asInstanceOf[StructType])
    val sumTypes = layout.sumTypes.map(t =>
      DecimalType(math.min(t.precision + 10, DecimalType.MAX_PRECISION), t.scale))
    def summed(a: Acc) = a.sums.toIndexedSeq.zip(sumTypes).map { case (v, t) =>
      if (v != null && v.precision > t.precision)
        throw new ArithmeticException(s"$site: a sum of $v does not fit ${t.sql}")
      v
    }
    val toScala = layout.extTypes.map(CatalystTypeConverters.createToScalaConverter)
    def scala(vs: Array[Any]) = vs.toIndexedSeq.zip(toScala).map { case (v, f) => f(v) }
    (keys, sets.indices.flatMap { s =>
      val toRow = CatalystTypeConverters.createToScalaConverter(keys(s))
      merged(s).asScala.toSeq
        .sortBy[InternalRow](_._1)(InterpretedOrdering.forSchema(keys(s).map(_.dataType)))
        .map { case (k, a) => Cell(s, toRow(k).asInstanceOf[Row], a.n, a.flags.toIndexedSeq,
          summed(a), scala(a.lo), scala(a.hi)) }
    })
  }

  /** Min and max of each of `cols` over `src` as literals of the
    * column's type (NULL when it has no value): a [[pass]] into one cell. */
  def extrema(src: DataFrame, cols: Seq[String], site: String): Seq[(Column, Column)] = {
    val (layout, merged) = pass(src, Seq(struct()), Nil, Nil, cols.map(col), site)
    val acc = merged(0).values.asScala.headOption
    cols.indices.map { i =>
      def typed(v: Acc => Any) = GraftShims.column(Literal(acc.map(v).orNull, layout.extTypes(i)))
      (typed(_.lo(i)), typed(_.hi(i)))
    }
  }

  /** Every row of `table` on the driver, as often as it occurs, in
    * [[gatherCells]]' order: the bound counts distinct rows. */
  def gatherRows(table: DataFrame, site: String): Mirror.Table = {
    val named = table.toDF(table.columns.indices.map(i => s"c$i"): _*)
    val (_, cells) = gatherCells(named, Seq(struct(named.columns.map(col): _*)), site)
    Mirror.Table(table.schema, cells.flatMap(c => Seq.fill(c.n.toInt)(c.key)))
  }

  /** `df` with the floating-point values of `cols` as Spark's grouping
    * compares them: -0.0 as 0.0 and one NaN, nested fields included. */
  def groupingForm(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(df.queryExecution.analyzed.output.map { a =>
      if (cols.contains(a.name)) GraftShims.column(GraftShims.groupingForm(a)).as(a.name)
      else GraftShims.column(a)
    }: _*)
}
