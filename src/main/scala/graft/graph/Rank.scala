package graft.graph

import graft.util.D.{dsumd, r}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Link-graph authority scoring (PageRank) as DataFrame algebra — the
  * crawl-quality signal a training-data pipeline ranks hosts/documents
  * by before sampling (the classic curation input alongside the
  * quality-classifier families in [[graft.text.Corpus]]).
  *
  * Works in MASS units (mass = N·rank, uniform start mass 1.0), so all
  * per-node quantities stay O(1) and the 6dp round-then-DECIMAL-sum
  * determinism convention (SURVEY §4) applies at any graph size:
  * m'(v) = (1−d) + d·Σ_{u→v} m(u)/outdeg(u). Mass sent to nodes outside
  * `nodes` (or held by sinks) evaporates rather than being
  * redistributed — documented contract, mirrored in the oracle.
  *
  * Scale: one iteration = the Pregel shape as two edge-keyed shuffles —
  * outdeg (a window count over src) and the contribution aggregation on
  * dst; the mass table is node-cardinality. Nothing is
  * ever broadcast at corpus size and no iteration's plan grows with
  * iteration count ([[pagerankFit]] truncates lineage per round the
  * dup_clusters/kmeansFit way). */
object Rank {

  /** Edges with their loop-INVARIANT out-degree attached:
    * (src, dst, outdeg). The outdeg count does not depend on the
    * iteration's masses, so computing it once and reusing the table
    * across iterations removes one full edge count per round (guide
    * §2.4). A window count over src: one src-keyed pass, with no
    * aggregate joined back to the edges. */
  private def withOutdeg(edges: DataFrame): DataFrame =
    edges.withColumn("outdeg", count(lit(1)).over(Window.partitionBy("src")))

  /** The per-iteration work over a prepared (src, dst, outdeg) edge
    * table — the join order and every expression are identical to the
    * historical (edges ⋈ outdeg) ⋈ mass step, so masses are
    * bit-identical. */
  private def stepPrepared(nodes: DataFrame, wedges: DataFrame, mass: DataFrame,
      damping: Double): DataFrame = {
    val contrib = wedges
      .join(mass.select(col("node_id").as("src"), col("mass")), "src")
      .select(col("dst").as("node_id"),
        r(lit(damping) * col("mass") / col("outdeg"), 6).as("c"))
    val recv = contrib.groupBy("node_id")
      .agg(count(lit(1)).cast(LongType).as("n_in"), dsumd(col("c")).as("rc"))
    nodes.join(recv, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        // (1 - damping) mirrors the oracle's literal expression so both
        // engines teleport with the bit-identical double
        r(lit(1.0) - lit(damping) + coalesce(col("rc"), lit(0.0)), 6).as("mass"))
  }

  /** One power iteration: masses in → masses out.
    * `nodes`: (node_id); `edges`: (src, dst); `mass`: (node_id, mass).
    * Emits (node_id, n_in, mass) with n_in = in-edge count. */
  def pagerankStep(nodes: DataFrame, edges: DataFrame, mass: DataFrame,
      damping: Double = 0.85): DataFrame =
    stepPrepared(nodes, withOutdeg(edges), mass, damping)

  /** `iters` chained steps from ONE materialized edge table. With two
    * or more steps the (edges ⋈ outdeg) preparation is checkpointed once
    * (the dup_clusters/connectedComponents pattern, guide §2.4/§6): the
    * chained-lazy form re-planned the whole edge-derivation subtree —
    * and re-aggregated the loop-invariant out-degrees — once per
    * iteration per reference, growing the scan tree linearly in
    * `iters` (11 corpus scans at iters=2 for the registered query).
    * One step reads the preparation once, so it stays lazy: an eager
    * checkpoint there only added its own jobs (q_pagerank_step: 6 → 2
    * build jobs without it). Checkpoint blocks live in executor storage
    * and are reclaimed by the ContextCleaner once the returned frame is
    * unreachable. Masses are bit-identical to the unfused form (same
    * joins, same expressions — [[stepPrepared]]). */
  def pagerankIterations(nodes: DataFrame, edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val wedges = if (iters > 1) withOutdeg(edges).localCheckpoint(true) else withOutdeg(edges)
    val m0 = nodes.withColumn("mass", lit(1.0))
    (1 to iters).foldLeft(m0) { (m, _) =>
      stepPrepared(nodes, wedges, m.select("node_id", "mass"), damping)
    }
  }

  /** Looped-to-convergence fit: iterate until max per-node mass drift
    * ≤ `tol` or `maxIter` rounds. Masses stay a node-cardinality
    * DataFrame (never collected); each round localCheckpoints the mass
    * table so the plan is constant-size, and only the scalar drift
    * reaches the driver — the [[graft.sim.Ann.kmeansFit]] contract.
    * Returns (node_id, n_in, mass, n_iters, converged). */
  def pagerankFit(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20,
      tol: Double = 1e-4, damping: Double = 0.85): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // edge table + loop-invariant outdeg materialized ONCE for the whole
    // loop (see pagerankIterations) — the per-round step used to re-run
    // the outdeg aggregation and re-evaluate the caller's edge subtree
    val wedges = withOutdeg(edges).localCheckpoint(true)
    var m = nodes.withColumn("mass", lit(1.0)).localCheckpoint(true)
    var it = 0
    var drift = Double.MaxValue
    while (it < maxIter && drift > tol) {
      val next = stepPrepared(m.select("node_id"), wedges,
        m.select("node_id", "mass"), damping)
        .localCheckpoint(true)
      drift = next.select(col("node_id"), col("mass").as("m1"))
        .join(m.select(col("node_id"), col("mass").as("m0")), "node_id")
        .agg(max(abs(col("m1") - col("m0")))).head().getDouble(0)
      m = next
      it += 1
    }
    m.withColumn("n_iters", lit(it)).withColumn("converged", lit(drift <= tol))
  }

  /** DuckDB mirror of [[pagerankIterations]] over a caller-supplied
    * `ids(node_id)` + `edges(src, dst)` CTE pair (emitted WITHOUT the
    * leading WITH). Chains `iters` rounds of the identical
    * round-then-DECIMAL-sum algebra; final SELECT emits
    * (node_id, n_in, mass) unordered — caller appends projection/ORDER. */
  def pagerankIterationsSql(iters: Int, damping: Double = 0.85): String = {
    require(iters >= 1)
    val out = "pr_out AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)"
    val rounds = (1 to iters).map { i =>
      val mass = if (i == 1) "1.0" else s"m${i - 1}.mass"
      val join = if (i == 1) ""
        else s" JOIN m${i - 1} ON e.src = m${i - 1}.node_id"
      s"""c$i AS (SELECT e.dst AS node_id, ROUND($damping * $mass / o.outdeg, 6) AS c
         |  FROM edges e JOIN pr_out o ON e.src = o.src$join),
         |r$i AS (SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_in,
         |    CAST(ROUND(SUM(CAST(c AS DECIMAL(25,6))), 6) AS DOUBLE) AS rc
         |  FROM c$i GROUP BY 1),
         |m$i AS (SELECT i.node_id, COALESCE(r$i.n_in, 0) AS n_in,
         |    ROUND(1.0 - $damping + COALESCE(r$i.rc, 0.0), 6) AS mass
         |  FROM ids i LEFT JOIN r$i ON i.node_id = r$i.node_id)""".stripMargin
    }
    s"""$out,
       |${rounds.mkString(",\n")},
       |pr_final AS (SELECT node_id, n_in, mass FROM m$iters)""".stripMargin
  }
}
