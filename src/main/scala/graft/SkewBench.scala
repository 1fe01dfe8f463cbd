package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not library surface): measures the VALUE of the two skew
  * remedies against their naive forms on a skewed-key fixture — the
  * evidence `GenScale ... zipf` exists to produce. Five timed plans,
  * each measured by `Bench.measure` (fresh build per rep, the same
  * clean-up between reps):
  *   - skew_join_hybrid: `Scale.skewJoin` (detection scan + broadcast
  *     hot slice ∪ shuffled cold remainder) + the q_skew_join agg
  *   - skew_join_known: `Scale.skewJoinKnown` with the hot keys given
  *     up front (no detection scan in the window) + the same agg
  *   - skew_join_plain: the plain shuffle join + same agg (AQE on,
  *     so this is Spark's own skew mitigation, not a strawman)
  *   - salted_nunique: `Scale.saltedNunique` two-stage distinct
  *   - plain_nunique: groupBy(type).agg(countDistinct(user))
  *
  * Usage: `runMain graft.SkewBench [--reps N] [--sf DIR]`
  * Prints one JSON line per form with per-rep seconds.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    var reps = 3
    var sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "bench-sf1-zipf")
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--sf" => sfDir = args(i + 1); i += 2
        case a => sys.error(s"unknown arg $a (usage: [--reps N] [--sf DIR])")
      }
    }
    val spark = graft.util.LocalSession()
    // wall-clock on a local session hides what a 1000-executor cluster
    // pays: there, every shuffled byte crosses the network. Track shuffle
    // write volume per form — the scale-honest second axis.
    val meter = new Bench.Meter(spark)
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warmup
    def t(n: String): DataFrame = graft.sources.IO.readParquet(spark, s"$sfDir/$n.parquet")

    def li = t("lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    def ord = t("orders").select("o_orderkey", "o_orderpriority")
    // decimal revenue: order-free exact sum, so hybrid/plain parity is
    // comparable row-for-row (a double sum varies with union order)
    def agg(j: DataFrame): DataFrame = j.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(30, 10))).as("revenue"))
    def ev = graft.util.D.normTs(t("events"))

    // the steady-pipeline form: hot keys known ahead (yesterday's
    // detection), no detection scan in the timed window
    val knownHot: Seq[Any] = li.groupBy("l_orderkey").count()
      .orderBy(col("count").desc).limit(10).collect().map(_.get(0)).toSeq

    val forms: Seq[(String, () => DataFrame)] = Seq(
      "skew_join_hybrid" -> (() => agg(graft.util.Scale.skewJoin(
        li, ord, "l_orderkey", "o_orderkey"))),
      "skew_join_known" -> (() => agg(graft.util.Scale.skewJoinKnown(
        li, ord, "l_orderkey", "o_orderkey", knownHot))),
      "skew_join_plain" -> (() =>
        agg(li.join(ord, col("l_orderkey") === col("o_orderkey")))),
      "salted_nunique" -> (() =>
        graft.util.Scale.saltedNunique(ev, "event_type", "user_id", 16)),
      "plain_nunique" -> (() => ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("nunique"))))

    val results = forms.map { case (name, build) =>
      val (times, split) = Bench.measure(spark, meter, name, reps)(build())
      require(times.forall(_ >= 0), s"$name failed")
      println(f"""{"form":"$name","sf":"$sfDir","secs":[${
        times.map(x => f"$x%.3f").mkString(",")}],"shuffle_mb":${
        split.map(_.shuffleBytes).getOrElse(0L) / 1048576}}""")
      name -> times.min
    }
    // row parity: the remedies must agree with the naive plans
    val byName = forms.toMap
    def rows(n: String) = byName(n)().collect().map(_.mkString("|")).toSet
    require(rows("skew_join_hybrid") == rows("skew_join_plain"),
      "skewJoin rows diverge from the plain join")
    require(rows("skew_join_known") == rows("skew_join_plain"),
      "skewJoinKnown rows diverge from the plain join")
    require(rows("salted_nunique") == rows("plain_nunique"),
      "saltedNunique rows diverge from COUNT(DISTINCT)")
    val min = results.toMap
    println(s"""{"parity":"ok","speedup_join":${
      (min("skew_join_plain") / min("skew_join_hybrid")).formatted("%.2f")
      },"speedup_known":${
      (min("skew_join_plain") / min("skew_join_known")).formatted("%.2f")
      },"speedup_nunique":${
      (min("plain_nunique") / min("salted_nunique")).formatted("%.2f")}}""")
    spark.stop()
  }
}
