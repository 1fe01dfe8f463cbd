package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the composed join operators: the scale-shaped
  * plans (banded range join, windowed as-of) must match their NAIVE
  * definitional forms on seeded random data with ties, empty ranges,
  * and adversarial band alignments — equality of row multisets, not
  * just counts. */
class JoinPropertySpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("banded range join equals the naive predicate join on random intervals") {
    val rnd = new scala.util.Random(7)
    // positions and intervals with negative values, band-boundary hits,
    // zero-length and inverted (empty) ranges
    val pts = (1 to 400).map(i => (i.toLong, rnd.nextLong(4001) - 2000L)).toDF("pid", "pos")
    val ivs = (1 to 150).map { i =>
      val lo = rnd.nextLong(4001) - 2000L
      val span = rnd.nextInt(6) match {
        case 0 => 0L                       // point interval
        case 1 => -(1L + rnd.nextInt(50))  // inverted -> empty
        case _ => rnd.nextLong(700L)       // incl. spans > bandWidth
      }
      (i.toLong, lo, lo + span)
    }.toDF("iid", "lo", "hi")
    for (band <- Seq(1L, 7L, 256L, 1000L)) {
      val banded = graft.operators.RangeJoin
        .pointInInterval(pts, "pos", ivs, "lo", "hi", band)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val naive = pts.join(ivs, col("lo") <= col("pos") && col("pos") <= col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(banded.toSeq == naive.toSeq, s"divergence at bandWidth=$band: " +
        s"banded=${banded.length} naive=${naive.length}")
    }
  }

  test("as-of backward/forward/tolerance equal their definitional forms on random events") {
    val rnd = new scala.util.Random(13)
    def ts(us: Long) = { val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt); t }
    // duplicate timestamps ON PURPOSE (exact-match ties)
    val lefts = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, ts(rnd.nextLong(1000L) * 1000000L)))
      .toDF("event_id", "user_id", "ts")
    val rights = (1001 to 1150).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, ts(rnd.nextLong(1000L) * 1000000L)))
      .toDF("event_id", "user_id", "ts")

    def naive(dir: String, tol: Option[Long]): Map[Long, Option[Long]] = {
      val rs = rights.collect().map(r => (r.getLong(1), r.getTimestamp(2).getTime * 1000))
      lefts.collect().map { l =>
        val (id, u, t0) = (l.getLong(0), l.getLong(1), l.getTimestamp(2).getTime * 1000)
        val cand = rs.filter(_._1 == u).map(_._2)
          .filter(rt => if (dir == "backward") rt <= t0 else rt >= t0)
          .filter(rt => tol.forall(x => math.abs(t0 - rt) <= x))
        val pick = if (cand.isEmpty) None
          else Some(if (dir == "backward") cand.max else cand.min)
        id -> pick
      }.toMap
    }
    for ((dir, tol) <- Seq(("backward", None), ("forward", None),
        ("backward", Some(100000000L)), ("forward", Some(50000000L)))) {
      val got = graft.operators.AsOf.join(lefts, rights, "user_id", "ts",
          "event_id", Seq("ts"), direction = dir, toleranceUs = tol)
        .select("event_id", "right_ts").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getTimestamp(1).getTime * 1000))).toMap
      assert(got == naive(dir, tol), s"as-of divergence for dir=$dir tol=$tol")
    }
  }

  test("skewJoin routes detected hot keys through a broadcast join and " +
    "stays row-identical to the plain join") {
    // one pathological key (60% of the fact) + a uniform tail, so the
    // 1/5 row sample detects key 1 far past hotSampleMin
    val rnd = new scala.util.Random(11)
    val fact = ((1 to 6000).map(i => (1L, i.toLong)) ++
      (1 to 4000).map(i => (2L + rnd.nextInt(500).toLong, 10000L + i)))
      .toDF("k", "payload")
    val dim = (1L to 501L).map(k => (k, s"attr$k")).toDF("dk", "attr")
    val hybrid = graft.util.Scale.skewJoin(fact, dim, "k", "dk",
      sampleMod = 5, hotSampleMin = 100, maxHotKeys = 16)
    val plain = fact.join(dim, col("k") === col("dk"))
    assert(hybrid.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      plain.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // plan shape under a big-big regime (auto-broadcast off so the toy
    // dim behaves like a corpus-sized side): a union of one broadcast
    // hash join (the EXPLICIT hot-slice hint survives the conf) and one
    // shuffle join (cold remainder) — hot rows never enter the exchange
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
      SortMergeJoinExec}
    import graft.util.PlanShape.all
    def shape(p: SparkPlan) = (all[BroadcastHashJoinExec](p).size, all[UnionExec](p).size,
      all[SortMergeJoinExec](p).size + all[ShuffledHashJoinExec](p).size)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.util.Scale.skewJoin(fact, dim, "k", "dk",
          sampleMod = 5, hotSampleMin = 100, maxHotKeys = 16)
        .queryExecution.executedPlan
      val (bhj, unions, shuffled) = shape(plan)
      assert(bhj > 0, s"no broadcast hot path:\n$plan")
      assert(unions > 0, s"no hot/cold union:\n$plan")
      assert(shuffled > 0, s"no shuffle cold path:\n$plan")
      // no detected skew -> the plan IS the plain join (no union, no split)
      val uniformPlan = graft.util.Scale.skewJoin(
          (1 to 2000).map(i => (i.toLong % 400, i.toLong)).toDF("k", "payload"),
          dim, "k", "dk", sampleMod = 5, hotSampleMin = 100, maxHotKeys = 16)
        .queryExecution.executedPlan
      val (uniformBhj, uniformUnions, _) = shape(uniformPlan)
      assert(uniformUnions === 0, s"a uniform key split:\n$uniformPlan")
      assert(uniformBhj === 0, s"a uniform key broadcast:\n$uniformPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
