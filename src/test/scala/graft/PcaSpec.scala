package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gram matrix + driver-side PCA (graft.sim.Ann.gramMatrix/pca):
  * exactness of the distributed second moments, recovery of a planted
  * principal direction, and bit-level determinism of the eigenpairs. */
class PcaSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val d = 8

  // deterministic synthetic corpus with a planted dominant direction u:
  // x = a·u + small structured residual (no RNG — hash-derived)
  private lazy val planted: Seq[(Long, Array[Float])] = {
    val u = Array.tabulate(d)(i => if (i % 2 == 0) 0.5 else -0.25)
    val un = math.sqrt(u.map(x => x * x).sum)
    val uu = u.map(_ / un)
    (0L until 200L).map { id =>
      val a = ((id * 37 % 101).toDouble - 50.0) / 10.0 // spread along u
      val e = Array.tabulate(d) { i =>
        (a * uu(i) + 0.01 * (((id * 13 + i * 7) % 17).toDouble - 8.0) / 8.0).toFloat
      }
      (id, e)
    }
  }

  private lazy val df = planted.toDF("vec_id", "embedding")

  test("gramMatrix matches a driver-side exact fixed-point computation") {
    val got = graft.sim.Ann.gramMatrix(df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == d * (d + 1) / 2)
    // manual exact computation at the same 1e8 scale
    def fx(x: Float): Long = math.round(x.toDouble * 1e8)
    for (i <- 0 until d; j <- i until d) {
      val total = planted.map { case (_, e) => BigInt(fx(e(i))) * BigInt(fx(e(j))) }.sum
      val want = math.round((BigDecimal(total) / BigDecimal(1e16)).toDouble * 1e6) / 1e6.toDouble
      val (n, gram) = got((i.toLong, j.toLong))
      assert(n == 200L)
      assert(math.abs(gram - want) < 1e-9, s"cell ($i,$j): got $gram want $want")
    }
  }

  test("pca recovers the planted direction, orders eigenvalues, projects") {
    val comps = graft.sim.Ann.pca(df, k = 3)
    assert(comps.length == 3)
    val eig = comps.map(_._1)
    assert(eig(0) > eig(1) && eig(1) >= eig(2), s"eigenvalues not ordered: $eig")
    // top component is (anti)parallel to the planted direction
    val u = {
      val raw = Array.tabulate(d)(i => if (i % 2 == 0) 0.5 else -0.25)
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    val cos = comps.head._2.zip(u).map { case (a, b) => a * b }.sum
    assert(math.abs(cos) > 0.98, s"top component misses planted direction: cos=$cos")
    // eigenvalue ≈ variance along u of the construction (sanity, loose)
    assert(eig(0) > 10 * eig(1), s"planted direction not dominant: $eig")

    // projection: pc0 spread dominates pc1 spread
    val proj = graft.sim.Ann.pcaProject(df, comps.map(_._2)).collect()
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v0 = variance(proj.map(_.getDouble(1)).toSeq)
    val v1 = variance(proj.map(_.getDouble(2)).toSeq)
    assert(v0 > 10 * v1, s"projection variances not separated: $v0 vs $v1")
  }

  test("pcaDetailed converges under budget and surfaces the flag") {
    val det = graft.sim.Ann.pcaDetailed(df, k = 2, maxIters = 200, tol = 1e-12)
    assert(det.forall(_.converged), s"unconverged pairs: ${det.map(e => (e.iters, e.converged))}")
    assert(det.forall(_.iters < 200), "tolerance stop never fired")
    // a starved budget reports NOT converged instead of silently
    // returning an inaccurate pair
    val starved = graft.sim.Ann.pcaDetailed(df, k = 1, maxIters = 1, tol = 1e-15)
    assert(!starved.head.converged)
    // the tuple API agrees with the detailed one
    val tup = graft.sim.Ann.pca(df, k = 2)
    assert(tup.map(_._1) === det.map(_.value))
  }

  test("pca is deterministic run-to-run") {
    val a = graft.sim.Ann.pca(df, k = 2)
    val b = graft.sim.Ann.pca(df, k = 2)
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      assert(java.util.Arrays.equals(va, vb))
    }
  }

  test("kmeansFit converges on the embeddings table") {
    val e = graft.util.D.t(spark, sf, "embeddings")
    val fit = graft.sim.Ann.kmeansFit(e, centMod = 25, centOff = 7,
      maxIter = 6, tol = 0.05)
    // Lloyd monotonically shrinks the objective; on this data the max
    // centroid drift must fall below tol within the budget
    assert(fit.converged, s"no convergence in ${fit.iters} iters; drifts=${fit.drifts}")
    assert(fit.drifts.last <= 0.05)
    // drift trend: the last measured drift is below the first (strictly,
    // since convergence fired)
    assert(fit.drifts.last < fit.drifts.head,
      s"drift did not decrease: ${fit.drifts}")
    // the fitted centroids are a well-formed K-row table
    val k = fit.centroids.count()
    assert(k > 0 && k <= e.count() / 25 + 1)
    // √N seeding helper: mod of ~√n
    assert(graft.sim.Ann.sqrtSeedMod(10000) === 100)
  }

  test("kmeans2Iter equals one manual composition of step + iter") {
    import graft.sim.Ann
    val e = graft.util.D.t(spark, sf, "embeddings")
    val composed = Ann.kmeansIter(e, Ann.centsFromMeans(Ann.kmeansStep(e, 25, 7)))
    val direct = Ann.kmeans2Iter(e, 25, 7)
    assert(direct.exceptAll(composed).isEmpty && composed.exceptAll(direct).isEmpty)
  }

  test("gramMatrix plans scan-local: no self-join, no extra shuffle of the corpus") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
      SortMergeJoinExec}
    import graft.util.PlanShape.all
    val plan = graft.sim.Ann.gramMatrix(df).queryExecution.executedPlan
    assert(all[SortMergeJoinExec](plan).isEmpty && all[ShuffledHashJoinExec](plan).isEmpty &&
      all[BroadcastHashJoinExec](plan).isEmpty, s"gramMatrix should not join:\n$plan")
    // exactly the aggregation exchange (2080 partials/task), nothing else
    val exchanges = all[ShuffleExchangeLike](plan)
      .count(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(exchanges <= 1, s"unexpected extra shuffles ($exchanges):\n$plan")
  }
}
