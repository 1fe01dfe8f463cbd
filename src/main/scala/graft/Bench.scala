package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.util.{LocalSession, PlanShape}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: per-query seconds at SPARK_GRAFT_SF_DIR, optionally
  * only the comma-separated queries named by SPARK_GRAFT_QUERIES (an
  * unknown name fails the run), with SPARK_GRAFT_REPS repetitions
  * (default 2) on SPARK_GRAFT_CPUS cores.
  *
  * Each rep builds a fresh DataFrame (a reused plan re-executes a stale
  * AQE plan after clearCache and measures the wrong thing) and is timed
  * around the build and `count()`. The reported per-query number is the
  * WARM (last) rep; the cold pass (first reps, including residual JIT)
  * is reported alongside as `cold_total`.
  *
  * Stdout carries two lines: the full record, then a compact totals-only
  * line. The full record is also written to SPARK_GRAFT_BENCH_OUT
  * (default `target/bench_full.json`) with one more object, `per_query`,
  * holding each query's warm rep as a [[Split]]; the final plan of each
  * query goes to the sibling file `<record>.plans.txt`.
  *
  * The split reads the QueryExecution that `count()` itself planned and
  * ran, captured by a QueryExecutionListener, not `df.queryExecution`:
  * `count()` plans a separate aggregate over the frame, so forcing the
  * frame's own plan would time a plan that never runs, add that planning
  * to the timed window, and leave its AQE plan at the initial, unexecuted
  * stage.
  */
object Bench {

  /** The warm rep of one query. `buildS` is the `fn(spark, dir)` call;
    * `planS` the analysis, optimization and planning phases of the
    * `count()`'s QueryExecution; `execS` the rest of the `count()` call.
    * The counters cover the whole timed window, construction-time
    * collects included; `shape` ([[PlanShape.counts]]) and `plan` come
    * from the count's final plan. */
  final case class Split(buildS: Double, planS: Double, execS: Double, jobs: Long, stages: Long,
                         tasks: Long, shuffleBytes: Long, shape: Seq[(String, Int)], plan: String)

  /** Counts the jobs, stages, tasks and shuffle bytes written that Spark
    * reports, and keeps the QueryExecution of the last `count()`. Events
    * arrive on Spark's listener bus: read only after [[drain]]. */
  final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val DrainKey = "graft.bench.drain"
    val jobs, stages, tasks, shuffleBytes = new AtomicLong
    @volatile var counted: QueryExecution = null
    private val drainStages = ConcurrentHashMap.newKeySet[Int]()
    @volatile private var drainJob = -1
    @volatile private var drained = new CountDownLatch(0)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(DrainKey) != null) {
        e.stageIds.foreach(drainStages.add)
        drainJob = e.jobId
      } else jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!drainStages.contains(e.stageInfo.stageId)) {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && !drainStages.contains(e.stageId))
        shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.countDown()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "count") counted = qe

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def reset(): Unit = {
      Seq(jobs, stages, tasks, shuffleBytes).foreach(_.set(0L))
      counted = null
    }

    /** Returns once every event posted so far has reached this listener:
      * runs a marker job and waits for its end event, which the bus
      * delivers after all earlier ones. */
    def drain(): Unit = {
      drained = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setLocalProperty(DrainKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainKey, null)
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  /** Between timed reps, outside the window: drop library-internal
    * persists and force a GC. The ContextCleaner reclaims broadcast and
    * shuffle state only after a GC, so without one later queries pay for
    * the accumulated state of every query before them (at sf1 an
    * every-8th-query cadence benched q_decontaminate at 10.5 s against
    * 0.9 s in isolation). The GC only enqueues that cleanup; the pause
    * lets the cleaner drain it, so its deletion IO does not land in the
    * next timed window. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
  }

  /** `reps` fresh builds of one query, each timed around `build` and
    * `count()` and followed by [[hygiene]]. Returns the seconds per rep
    * (-1 for a failed rep) and the [[Split]] of the last rep, if it ran.
    * The timed window includes construction: several operators collect
    * a bounded stat table while building (qcut boundaries, correlation
    * cells), and timing only `count()` would let that work escape. */
  def measure(spark: SparkSession, meter: Meter, name: String, reps: Int)
             (build: => DataFrame): (Seq[Double], Option[Split]) = {
    val runs = (1 to reps).map { _ =>
      meter.reset()
      val run = try {
        val t0 = System.nanoTime()
        val df = build
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        meter.drain()
        val split = Option(meter.counted).map { qe =>
          val planS = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
          val plan = qe.executedPlan
          Split((t1 - t0) / 1e9, planS, (t2 - t1) / 1e9 - planS, meter.jobs.get, meter.stages.get,
            meter.tasks.get, meter.shuffleBytes.get, PlanShape.counts(plan),
            plan.toString.split("\n\\+- == Initial Plan ==").head)
        }
        ((t2 - t0) / 1e9, split)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        meter.drain()
        (-1.0, None)
      }
      hygiene(spark)
      run
    }
    (runs.map(_._1), runs.last._2)
  }

  /** The registered queries named in `only` (comma-separated; all when
    * absent), in name order: map iteration order varies across JVMs and
    * would shuffle which queries absorb residual warmup. */
  def selected(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names.getOrElse(Set.empty).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => names.forall(_.contains(n)) }
  }

  // Locale.ROOT: the f-interpolator uses the default locale, which emits
  // comma decimal separators (invalid JSON) on e.g. de_DE JVMs
  private def j(d: Double): String =
    if (d < 0) "-1" else String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  // env-provided paths land in the machine-parsed records — escape them
  private def js(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  private[graft] def splitJson(s: Split): String =
    s"""{"build_s":${j(s.buildS)},"plan_s":${j(s.planS)},"exec_s":${j(s.execS)},""" +
      s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
      s""""shuffle_bytes":${s.shuffleBytes},"shape":""" +
      s.shape.map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val queries = selected(sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = LocalSession()
    // JIT/classloading warmup so the first timed query isn't penalized
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    val meter = new Meter(spark)
    val results = queries.map { case (name, fn) =>
      val (times, split) = measure(spark, meter, name, reps)(fn(spark, sfDir))
      (name, times, split)
    }
    val ok = results.filter(_._2.forall(_ >= 0))
    val failed = results.filter(_._2.exists(_ < 0)).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val qs = ok.map { case (k, ts, _) => "\"" + k + "\":" + j(ts.last) }
      .mkString("{", ",", "}")
    val cold = ok.map(_._2.head).sum
    val warm = ok.map(_._2.last).sum
    val full = s"""{"metric":"total","value":${j(warm)},"unit":"sec","queries":$qs,""" +
      s""""cold_total":${j(cold)},"warm_total":${j(warm)},"reps":$reps,""" +
      s""""failed":$failed,"sf":"${js(sfDir)}"}"""
    println(full)
    // The full record outruns a tail-windowed stdout capture (a harness
    // reading only the last N bytes sees a mid-string fragment and
    // parses null). Persist it to a file and ALSO print a compact
    // totals-only line LAST, so any tail window of ~200 bytes or more
    // always contains one complete record.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    val perQuery = ok.collect { case (k, _, Some(s)) => "\"" + k + "\":" + splitJson(s) }
      .mkString("{", ",", "}")
    val plans = ok.collect { case (k, _, Some(s)) => s"########## $k ##########\n${s.plan}\n" }
    try {
      val p = Paths.get(outPath)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.writeString(p, full.dropRight(1) + s""","per_query":$perQuery}""" + "\n")
      Files.writeString(Paths.get(outPath.stripSuffix(".json") + ".plans.txt"), plans.mkString)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${j(warm)},"unit":"sec",""" +
      s""""warm_total":${j(warm)},"cold_total":${j(cold)},"reps":$reps,""" +
      s""""n_queries":${ok.size},"failed":$failed,"sf":"${js(sfDir)}","full":"${js(outPath)}"}""")
    spark.stop()
  }
}
