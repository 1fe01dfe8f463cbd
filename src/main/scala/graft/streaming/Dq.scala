package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming data-quality gate — the live form of the batch q_dq_suite
  * under the operationally honest split: the batch suite is the
  * accept-or-quarantine contract a finished nightly load is graded by;
  * this gate maintains the SAME orders-side constraint counters
  * incrementally as micro-batches arrive, so violations page an
  * operator DURING ingest instead of after it. The scalar constraint
  * expressions are shared verbatim with the batch suite
  * ([[graft.operators.Relational.orderDqScalarAggs]]); uniqueness and
  * the FK check are re-expressed in their incremental forms.
  *
  * Per micro-batch cost (foreachBatch over the streaming orders):
  * ONE scalar-aggregation scan of the batch, one broadcast anti-join
  * against the customer dim (FK orphans), and one anti-join of the
  * batch's distinct keys against the seen-key store (duplicates).
  * Per-batch duplicate delta = batch rows − previously-unseen keys,
  * which telescopes across batches to the batch suite's exact
  * N − COUNT(DISTINCT): Σ(rows_b − new_b) = N − |all distinct keys|.
  *
  * State/scale: the counters are six longs; the seen-key store is the
  * unavoidable exact-uniqueness state (one long per distinct key). In
  * this in-session form it lives as a localCheckpoint-pinned DataFrame
  * (lineage bounded per batch, the kmeansFit convention); a production
  * deployment keys the same store to a compacted key-partitioned table
  * (the anti-join + union IS the upsert), or bounds it with a lateness
  * horizon exactly as [[StreamDedup]] does when business rules allow
  * key-arrival windows. Nothing here replays the stream: every row is
  * read once. */
object Dq {

  /** Running orders-side constraint counters. */
  final case class DqCounts(n: Long, nullCk: Long, dupOk: Long,
                            badPrice: Long, badPrio: Long, fkOrphans: Long) {
    def +(o: DqCounts): DqCounts = DqCounts(n + o.n, nullCk + o.nullCk,
      dupOk + o.dupOk, badPrice + o.badPrice, badPrio + o.badPrio,
      fkOrphans + o.fkOrphans)
  }
  val Zero: DqCounts = DqCounts(0L, 0L, 0L, 0L, 0L, 0L)

  private val seenSchema = StructType(Seq(StructField("o_orderkey", LongType)))

  /** An empty seen-key store to start a gate from. */
  def emptySeen(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), seenSchema)

  /** Fold ONE micro-batch of orders rows: constraint deltas + the
    * advanced seen-key store. Pure (DataFrame, state) → (delta, state),
    * so the fold is unit-testable without a streaming query and obeys
    * the twin convention: any batch split, any arrival order, same
    * final totals. */
  def foldBatch(batch: DataFrame, customers: DataFrame,
                seen: DataFrame): (DqCounts, DataFrame) = {
    val aggs = graft.operators.Relational.orderDqScalarAggs
    val scal = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    // previously-unseen keys this batch introduces. Null keys never
    // enter the store (COUNT(DISTINCT) ignores them), so — exactly as
    // the batch's COUNT(*) − COUNT(DISTINCT) does — a null-key row
    // lands in dup_ok: the delta below subtracts new keys from TOTAL
    // batch rows, keeping the two forms row-for-row comparable on
    // dirty data, not just on the clean fixture.
    val newKeys = batch.select(col("o_orderkey"))
      .filter(col("o_orderkey").isNotNull).distinct()
      .join(seen, Seq("o_orderkey"), "left_anti")
      .localCheckpoint(true) // pinned: consumed twice (count + union)
    val nNew = newKeys.count()
    // non-null orphan rows, the batch suite's aligned FK semantics
    val orphans = batch.select("o_custkey").filter(col("o_custkey").isNotNull)
      .join(broadcast(customers.select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    val delta = DqCounts(scal.getLong(0), scal.getLong(1), scal.getLong(0) - nNew,
      scal.getLong(2), scal.getLong(3), orphans)
    (delta, seen.union(newKeys).localCheckpoint(true))
  }

  /** Render running totals as the batch suite's orders-side report rows
    * (constraint_id, table_name, column_name, violations, frac, passes)
    * — identical ids, rounding, and ordering, so gate output is
    * row-comparable with q_dq_suite. */
  def report(spark: SparkSession, c: DqCounts): DataFrame = {
    import spark.implicits._
    Seq(
      ("complete_custkey", "orders", "o_custkey", c.nullCk, c.n),
      ("unique_orderkey", "orders", "o_orderkey", c.dupOk, c.n),
      ("range_totalprice", "orders", "o_totalprice", c.badPrice, c.n),
      ("domain_priority", "orders", "o_orderpriority", c.badPrio, c.n),
      ("fk_orders_customer", "orders", "o_custkey", c.fkOrphans, c.n))
      .map { case (id, tbl, cn, v, n) =>
        (id, tbl, cn, v,
          if (n == 0L) 0.0 else graft.util.Mirror.r(v.toDouble / n),
          if (v == 0L) 1 else 0)
      }.sortBy(_._1)
      .toDF("constraint_id", "table_name", "column_name", "violations", "frac", "passes")
  }

  /** Attachable gate: owns the counters + seen-key store and advances
    * them from foreachBatch. Thread-safe (Spark invokes foreachBatch
    * sequentially, but reporting may race a fold). */
  final class Gate(customers: DataFrame) {
    private[this] var counts = Zero
    private[this] var seen = emptySeen(customers.sparkSession)

    def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      val (delta, advanced) = foldBatch(batch, customers, seen)
      counts = counts + delta
      seen = advanced
    }

    def totals: DqCounts = synchronized(counts)

    def reportDf: DataFrame = report(customers.sparkSession, totals)

    /** Wire the gate to a streaming orders DataFrame. */
    def start(orders: DataFrame, queryName: String = "dq_gate"): StreamingQuery =
      orders.writeStream
        .queryName(queryName)
        .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
        .start()

    /** Persist the gate's state — six counter longs + the seen-key
      * store as parquet — so a restarted driver resumes the fold
      * instead of replaying the stream ([[Dq.load]]). The counters ride
      * along as a one-row table; the key store IS the unavoidable
      * exact-uniqueness state and writes at key cardinality. */
    def save(path: String): Unit = synchronized {
      val spark = customers.sparkSession
      import spark.implicits._
      seen.write.mode("overwrite").parquet(s"$path/seen.parquet")
      Seq((counts.n, counts.nullCk, counts.dupOk, counts.badPrice,
          counts.badPrio, counts.fkOrphans))
        .toDF("n", "null_ck", "dup_ok", "bad_price", "bad_prio", "fk_orphans")
        .write.mode("overwrite").parquet(s"$path/counts.parquet")
    }

    private[Dq] def restore(c: DqCounts, s: DataFrame): Unit = synchronized {
      counts = c
      seen = s.localCheckpoint(true)
    }
  }

  /** Restore a [[Gate]] from [[Gate.save]] output. */
  def load(customers: DataFrame, path: String): Gate = {
    val spark = customers.sparkSession
    // Select by NAME, not position: the saved column order must never be
    // load-bearing — a field added or reordered in save() would otherwise
    // silently scramble the counters here.
    val r = spark.read.parquet(s"$path/counts.parquet")
      .select("n", "null_ck", "dup_ok", "bad_price", "bad_prio", "fk_orphans")
      .collect()(0)
    val gate = new Gate(customers)
    gate.restore(
      DqCounts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)),
      spark.read.parquet(s"$path/seen.parquet"))
    gate
  }
}
