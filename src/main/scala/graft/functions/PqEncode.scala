package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded per-subspace PQ codebook, collected once at build time
  * (≤ m × Quantize.MaxCodes entries — KB-scale by the same argument as
  * the silhouette centroid table) and embedded in [[PqEncode]] as a
  * reference object. Per subspace s: code ids ascending (the tie-break
  * order), their fixed-point subvectors, and precomputed ‖ce‖².
  *
  * `encode` is the whole per-vector PQ assignment as plain JVM loops —
  * the JIT compiles it like hand-generated code, and [[PqEncode]]'s
  * doGenCode emits a single call to it, so the scan stays inside
  * whole-stage codegen with no per-element expression overhead.
  *
  * Arithmetic contract: Math.multiplyExact/addExact throughout, the
  * [[FixedDot]] fail-loud envelope (Spark 4 runs ANSI, so the
  * expression form this replaces also threw on long overflow); dot
  * products run over min(subvector, code) length exactly like
  * FixedDot; distance = ‖x‖² + ‖c‖² − 2·x·c as exact longs; argmin
  * ties break to the smallest code id (codes iterate in ascending cid
  * order with a strict '<'), matching ArgMaxBy(cid, −dist) — exact
  * because |d| stays far below 2^53 in the fx4 domain.
  *
  * An all-EMPTY codebook is legal but must never be evaluated: the
  * collect in graft.sim.Quantize gates the corpus to no rows then. */
final class PqCodebook(val m: Int,
                       val cids: Array[Array[Long]],
                       val ces: Array[Array[Array[Long]]],
                       val cns: Array[Array[Long]]) extends Serializable {
  require(cids.length == m && ces.length == m && cns.length == m,
    s"PqCodebook: need $m subspaces, got ${cids.length}/${ces.length}/${cns.length}")
  require(cids.forall(_.nonEmpty) || cids.forall(_.isEmpty),
    "PqCodebook: some subspace codebooks are empty")

  def encode(fx: ArrayData): InternalRow = {
    val n = fx.numElements()
    val dsub = n / m
    val codes = new Array[Any](m)
    val idxs = new Array[Any](m)
    var dsum = 0L
    var s = 0
    while (s < m) {
      val off = s * dsub
      var selfdot = 0L
      var j = 0
      while (j < dsub) {
        val x = fx.getLong(off + j)
        selfdot = Math.addExact(selfdot, Math.multiplyExact(x, x))
        j += 1
      }
      val ks = cids(s); val cs = ces(s); val ns = cns(s)
      var best = 0
      var bestKey = Long.MaxValue
      var c = 0
      while (c < ks.length) {
        val ce = cs(c)
        val len = math.min(dsub, ce.length)
        var dot = 0L
        var i = 0
        while (i < len) {
          dot = Math.addExact(dot, Math.multiplyExact(fx.getLong(off + i), ce(i)))
          i += 1
        }
        // cn − 2·dot: the code-dependent part of the exact distance
        val key = Math.addExact(ns(c), Math.multiplyExact(-2L, dot))
        if (key < bestKey) { bestKey = key; best = c }
        c += 1
      }
      codes(s) = ks(best)
      idxs(s) = best + 1 // dense 1-based index in cid-ascending order
      dsum = Math.addExact(dsum, Math.addExact(selfdot, bestKey))
      s += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(codes), new GenericArrayData(idxs), dsum))
  }
}

/** Scan-local product-quantization assignment: input is the FULL
  * fx4-scaled vector (array<long>); output is a struct with the m best
  * code ids (s-ordered), their dense 1-based cid-rank indices, and the
  * exact summed squared reconstruction error. Replaces the
  * explode → broadcast-join → two-aggregation pipeline: the coding
  * becomes a pure projection on the corpus scan — ZERO shuffles at any
  * scale (the former shape shuffled m·N compact rows twice). */
case class PqEncode(child: Expression, cb: PqCodebook) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("idxs", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("dsum", LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any = cb.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", cb, classOf[PqCodebook].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  def apply(fx: Column, cb: PqCodebook): Column =
    GraftShims.column(PqEncode(GraftShims.expression(fx), cb))
}
