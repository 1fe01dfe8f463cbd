package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  import TestSession._

  test("the warm rep's split reads count()'s own final plan and adds up to the timed total") {
    // q_join plans a join; q_fedex_filter builds its explanation with a
    // bounded collect and returns a local relation
    val meter = new Bench.Meter(spark)
    try for (name <- Seq("q_join", "q_fedex_filter")) {
      val (times, split) = Bench.measure(spark, meter, name, 2)(SparkEntry.queries(name)(spark, sf))
      assert(times.size == 2 && times.forall(_ >= 0), s"$name failed")
      val s = split.getOrElse(fail(s"$name recorded no split"))
      val record = Bench.splitJson(s)
      for (k <- Seq("build_s", "plan_s", "exec_s", "jobs", "stages", "tasks", "shuffle_bytes", "shape",
        "exchanges", "reused_exchanges", "scans", "aggregates", "windows", "generates",
        "expands", "smj", "bhj", "shj", "bnlj", "cartesian"))
        assert(record.contains("\"" + k + "\":"), s"$name record lacks $k: $record")
      assert(s.jobs >= 1 && s.stages >= 1 && s.tasks >= 1, s"$name counted no work: $record")
      assert(s.buildS >= 0 && s.planS >= 0 && s.execS >= 0, s"$name has a negative phase: $record")
      assert(math.abs(s.buildS + s.planS + s.execS - times.last) < 1e-3,
        s"$name: build + plan + exec ${s.buildS + s.planS + s.execS} != total ${times.last}")
      assert(s.plan.startsWith("AdaptiveSparkPlan isFinalPlan=true") && !s.plan.contains("Initial Plan"),
        s"$name recorded a plan that did not run:\n${s.plan.take(800)}")
    } finally meter.close()
  }

  test("an unknown query name fails the selection instead of benching nothing") {
    val e = intercept[IllegalArgumentException](Bench.selected(Some("q_filter, q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assert(Bench.selected(Some("q_join,q_filter")).map(_._1) == Seq("q_filter", "q_join"))
    assert(Bench.selected(None).size == SparkEntry.queries.size)
  }
}
