package graft.util

import scala.reflect.ClassTag

import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, GenerateExec,
  LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** graft's one plan-shape vocabulary: physical plan nodes by class. Every
  * walk goes through adaptive plans, their query stages and subqueries,
  * so it reads the final AQE plan once the query has run and the initial
  * one before. `graft.Bench` records [[counts]] per query; the specs pin
  * plan invariants with the same walkers. */
object PlanShape extends AdaptiveSparkPlanHelper {

  /** Every node of class `T`. */
  def all[T <: SparkPlan](p: SparkPlan)(implicit t: ClassTag[T]): Seq[T] =
    collectWithSubqueries(p) { case n: T => n }

  /** Node counts by kind, in record order. An exchange is a shuffle or a
    * broadcast; a reused exchange is counted apart, not as a second one. */
  def counts(p: SparkPlan): Seq[(String, Int)] = Seq(
    "exchanges" -> (all[ShuffleExchangeLike](p).size + all[BroadcastExchangeLike](p).size),
    "reused_exchanges" -> all[ReusedExchangeExec](p).size,
    "scans" -> all[FileSourceScanExec](p).size,
    "aggregates" -> all[BaseAggregateExec](p).size,
    "windows" -> all[WindowExec](p).size,
    "generates" -> all[GenerateExec](p).size,
    "expands" -> all[ExpandExec](p).size,
    "smj" -> all[SortMergeJoinExec](p).size,
    "bhj" -> all[BroadcastHashJoinExec](p).size,
    "shj" -> all[ShuffledHashJoinExec](p).size,
    "bnlj" -> all[BroadcastNestedLoopJoinExec](p).size,
    "cartesian" -> all[CartesianProductExec](p).size)

  /** Nodes that evaluate an expression named (by `prettyName`) in `names`. */
  def evaluating(p: SparkPlan, names: String*): Seq[SparkPlan] =
    collectWithSubqueries(p) {
      case n if n.expressions.exists(_.exists(e => names.contains(e.prettyName))) => n
    }

  /** Aggregates computing `fn` grouped on a column named `key`. */
  def aggregatesOf(p: SparkPlan, fn: String, key: String): Seq[BaseAggregateExec] =
    all[BaseAggregateExec](p).filter(a =>
      a.groupingExpressions.exists(_.references.exists(_.name == key)) &&
        a.aggregateExpressions.exists(_.aggregateFunction.prettyName == fn))

  /** Every node evaluating one of `names` reads a file scan with no
    * shuffle in between, and there is at least one. */
  def scanLocal(p: SparkPlan, names: String*): Boolean = {
    val ns = evaluating(p, names: _*)
    ns.nonEmpty && ns.forall(n =>
      all[ShuffleExchangeLike](n).isEmpty && all[FileSourceScanExec](n).nonEmpty)
  }

  /** A driver-finished result: a local table scan, with no file scan and
    * no shuffle left to run. */
  def finishesLocally(p: SparkPlan): Boolean =
    all[LocalTableScanExec](p).nonEmpty && all[FileSourceScanExec](p).isEmpty &&
      all[ShuffleExchangeLike](p).isEmpty

  /** Every leaf of the plan, bar reused exchanges, reads one and the same
    * checkpointed RDD. */
  def readsOneCheckpoint(p: SparkPlan): Boolean = {
    val leaves = collectLeaves(p).filterNot(_.isInstanceOf[ReusedExchangeExec])
    val rdds = leaves.collect { case r: RDDScanExec => r.rdd.id }
    leaves.nonEmpty && rdds.size == leaves.size && rdds.distinct.size == 1
  }
}
