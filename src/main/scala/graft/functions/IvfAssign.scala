package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded IVF coarse-quantizer centroid table, collected once at build
  * time (≤ [[graft.sim.Ann.MaxSeeds]] rows — the same KB-scale
  * driver-table class as [[PqCodebook]]) and embedded in [[IvfAssign]] /
  * [[IvfProbes]] as a reference object. Rows are cid-ASCENDING — the
  * tie-break order.
  *
  * Arithmetic contract (bit-parity with the crossJoin→argmax form it
  * replaces): dot = exact Σ over min(|fxe|, |ce|) components with
  * Math.multiplyExact/addExact (the [[FixedDot]] fail-loud envelope);
  * ccos = dot/(√cn·√nsq) when the denominator > 0 else 0.0 — the same
  * double ops in the same order as [[graft.sim.Ann.cosExpr]]; a NULL
  * vector / NULL centroid / NULL norm makes that ccos 0.0, exactly as
  * `when(den > 0, …).otherwise(0.0)` falls through on a NULL operand.
  * argmax ties break to the smallest cid (ascending iteration, strict
  * '>'), matching ArgMaxBy(cid, ccos); the top-maxP selection repeats
  * (max ccos, min cid) exactly like
  * `row_number() OVER (ORDER BY ccos DESC, cid)`. ccos values are never
  * NaN/-0.0 (long-derived, den > 0 guard), so primitive comparisons
  * equal Spark's SQL double ordering on this domain.
  *
  * An EMPTY table is legal but must never be evaluated: the collect in
  * graft.sim.Ann gates the corpus to no rows in that case. */
final class IvfCents(val cids: Array[Long],
                     val ces: Array[Array[Long]],
                     val cns: Array[Long]) extends Serializable {
  require(cids.length == ces.length && cids.length == cns.length,
    s"IvfCents: ragged centroid table (${cids.length}/${ces.length}/${cns.length})")

  /** ccos of centroid c against (fx, nsq); nsqValid=false replicates the
    * NULL-norm → otherwise(0.0) fall-through. */
  private def ccosOf(c: Int, fx: ArrayData, nsqValid: Boolean, nsq: Long): Double = {
    val ce = ces(c)
    if (ce == null || fx == null || !nsqValid) return 0.0
    val den = Math.sqrt(cns(c).toDouble) * Math.sqrt(nsq.toDouble)
    if (!(den > 0)) return 0.0
    val len = math.min(fx.numElements(), ce.length)
    var dot = 0L
    var i = 0
    while (i < len) {
      dot = Math.addExact(dot, Math.multiplyExact(fx.getLong(i), ce(i)))
      i += 1
    }
    dot.toDouble / den
  }

  private def selfDot(fx: ArrayData): Long = {
    val n = fx.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = fx.getLong(i)
      acc = Math.addExact(acc, Math.multiplyExact(x, x))
      i += 1
    }
    acc
  }

  /** (best cid, its ccos) — the scan-local ArgMaxBy(cid, ccos). */
  def assign(fxOrNull: ArrayData): InternalRow = {
    val fx = fxOrNull
    val nsqValid = fx != null
    val nsq = if (nsqValid) selfDot(fx) else 0L
    var best = 0
    var bestC = ccosOf(0, fx, nsqValid, nsq)
    var c = 1
    while (c < cids.length) {
      val cc = ccosOf(c, fx, nsqValid, nsq)
      if (cc > bestC) { bestC = cc; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](cids(best), bestC))
  }

  /** Top-maxP (cid, rn) by (ccos DESC, cid ASC) — the scan-local probe
    * window. rn is 1-based, matching row_number(). */
  def probes(fxOrNull: ArrayData, maxP: Int): ArrayData = {
    val fx = fxOrNull
    val nsqValid = fx != null
    val nsq = if (nsqValid) selfDot(fx) else 0L
    val k = cids.length
    val cc = new Array[Double](k)
    var c = 0
    while (c < k) { cc(c) = ccosOf(c, fx, nsqValid, nsq); c += 1 }
    val n = math.min(maxP, k)
    val out = new Array[Any](n)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < n) {
      var best = -1
      var bestC = Double.NegativeInfinity
      var i = 0
      while (i < k) {
        // strict '>' + ascending cid order = ties to the smallest cid
        if (!taken(i) && cc(i) > bestC) { bestC = cc(i); best = i }
        i += 1
      }
      taken(best) = true
      out(r) = new GenericInternalRow(Array[Any](cids(best), r + 1))
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Scan-local IVF coarse assignment: input the fx4/fx8-scaled vector
  * (array<long>, NULL tolerated), output struct(cid, ccos) of the
  * max-cosine centroid. Replaces the
  * crossJoin(broadcast(cents)) → N×K argmax aggregation → rejoin
  * pipeline with a pure projection on the corpus scan — ZERO shuffles
  * at any scale (the former shape shuffled N slim rows and re-joined
  * them corpus-side). */
case class IvfAssign(child: Expression, cb: IvfCents) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))

  override def nullable: Boolean = false

  // null-TOLERANT (not null-intolerant): a NULL vector still assigns —
  // every ccos is 0.0 and the smallest cid wins, exactly like the
  // crossJoin form (see IvfCents' arithmetic contract)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    cb.assign(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cb, classOf[IvfCents].getName)
    val childGen = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
            |${childGen.code}
            |$jt ${ev.value} = $ref.assign(${childGen.isNull} ? null : ${childGen.value});
            |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ivf_assign"
}

/** Scan-local probe-list selection: input the scaled vector, output the
  * maxP highest-cosine centroids as array<struct<cid, rn>> in probe-rank
  * order — `explode` yields exactly the rows of the former
  * crossJoin → row_number window, without shuffling Q×K rows. */
case class IvfProbes(child: Expression, cb: IvfCents, maxP: Int) extends UnaryExpression {
  require(maxP >= 1, s"IvfProbes: maxP must be >= 1, got $maxP")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("rn", IntegerType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    cb.probes(if (v == null) null else v.asInstanceOf[ArrayData], maxP)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cb, classOf[IvfCents].getName)
    val childGen = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    val mp = maxP.toString
    ev.copy(code =
      code"""
            |${childGen.code}
            |$jt ${ev.value} = $ref.probes(${childGen.isNull} ? null : ${childGen.value}, $mp);
            |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ivf_probes"
}

object IvfAssign {
  def apply(fx: Column, cb: IvfCents): Column =
    GraftShims.column(IvfAssign(GraftShims.expression(fx), cb))
}

object IvfProbes {
  def apply(fx: Column, cb: IvfCents, maxP: Int): Column =
    GraftShims.column(IvfProbes(GraftShims.expression(fx), cb, maxP))
}
