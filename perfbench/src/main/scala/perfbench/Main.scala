package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.util.D
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** One timed operation: a batch query or a session cell. `build` is the
  * library call that returns the DataFrame; `exec` runs the consuming
  * action and returns a failure message, or None when the output checks. */
final case class Op(name: String, layer: String, build: () => DataFrame,
                    exec: DataFrame => Option[String])

/** Timing and counters of one executed operation (one row of the record). */
final case class OpRow(pass: Int, traced: Boolean, seq: Int, name: String, layer: String,
                       totalS: Double, buildS: Double, planS: Double, execS: Double,
                       buildJobs: Long, all: Counters, exchanges: Int, failure: Option[String],
                       cpuS: Double = 0, stealFrac: Double = 0, compiles: Long = 0)

/** The benchmark runner. One process runs one workload:
  *
  *  1. set-up, three times: start a Spark session, load the tables and
  *     warm up; `setup_s` is the median. The first round counts from JVM
  *     start; the others start a new session beside the first;
  *  2. the cold pass: the workload's operations once, in the fresh
  *     process (JIT and codegen included);
  *  3. warm-up passes, not reported;
  *  4. warm passes until `--seconds` have passed and [[MinSamples]]
  *     operations have run.
  *
  * Every operation is a closed loop with one client: it starts after the
  * previous one has returned and been checked. Between batch queries the
  * runner clears cached data, runs a GC and pauses for the cleaner, all
  * outside the timed window; a session keeps its state between cells, as
  * a notebook does, and is cleaned up only after its last cell.
  *
  * The seed draws one session per run, which every pass replays, or a new
  * batch order for every warm pass.
  *
  * With `--trace 1` the warm passes alternate between untraced and traced
  * (plain, traced, plain, ...); a traced pass splits each operation into
  * build, plan and consume spans and attributes Spark's task metrics to
  * them. The last line of stdout is
  * the JSON result; the full record, with one row per operation, is
  * written to `--record`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, record: String, refs: String, cpus: Int,
                        meta: Map[String, String])

  val Workloads = Seq("explain_session", "query_batch")

  /** The batch workload's queries: a fixed sample with at least one query
    * of every query layer, small enough that a warm pass takes seconds
    * (see README). */
  val Batch: Seq[String] = Seq(
    "q_filter", "q_rolling_time", "q_metainsight_auto", "q_dedup_exact",
    "q_embed_quantize", "q_text_langid", "q_pagerank_step", "q_multimodal_frames")

  /** Warm-up after the cold pass, run but not reported: JIT keeps speeding
    * the passes up for a while. Whole passes, at least one, until this many
    * seconds have gone. */
  private val WarmupSeconds = 8.0

  /** Operation samples a run measures at least, so that the record's
    * latency samples have ten beyond their 75th percentile. */
  private val MinSamples = 40

  /** Spark's compiled-code cache holds 100 classes by default; a session
    * generates about 140, so every replay would recompile all of them. The
    * cold pass pays the compiling; warm passes measure the library. */
  private val CodegenCacheEntries = 4096

  /** Set-up rounds per run; `setup_s` is their median. */
  private val SetupRounds = 3

  /** Pause after each batch query's GC, so the cleaner's deletion work
    * does not land in the next query's timed window. */
  private val DrainMs = 50L

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Layers.check(SparkEntry.queries.keySet)
    if (a.workload == "record_refs") recordRefs(a)
    else run(a)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val known = Set("workload", "seed", "seconds", "trace", "data", "record", "refs", "cpus")
    Args(need("workload"), need("seed").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", need("data"), need("record"), need("refs"),
      kv.getOrElse("cpus", "4").toInt, kv.filter { case (k, _) => !known(k) })
  }

  // ---- session and set-up ------------------------------------------------

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Session start, table load and a warm-up job: what a notebook or a
    * pipeline pays before its first operation. `from` is a running session
    * to start a new one beside (sharing its SparkContext), or null. */
  private def setUp(cpus: Int, data: String, from: SparkSession = null): SparkSession = {
    val spark = if (from == null) session(cpus) else from.newSession()
    Tables.foreach(t => D.t(spark, data, t).schema)
    D.t(spark, data, "nation").collect()
    spark
  }

  // ---- operations ----------------------------------------------------------

  /** Reference fingerprints: query -> (rows, hash, oracle verdict). */
  private def loadRefs(path: String): Map[String, (Long, Long, String)] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filterNot(l => l.trim.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> ((f(1).toLong, java.lang.Long.parseUnsignedLong(f(2), 16), f(3))))
      .toMap

  /** Consumes every column of every row of `df` — the plan is executed
    * as built, sort and all — and returns (rows, order-insensitive hash).
    * Each row is hashed from its binary form, so no column can be pruned
    * away the way `count()` lets Catalyst prune them. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench consume")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
    }
  }

  private def batchOps(spark: SparkSession, a: Args): Seq[Op] = {
    val refs = loadRefs(a.refs)
    val qs = SparkEntry.queries
    Batch.map { name =>
      val (rows, hash, oracle) = refs.getOrElse(name,
        throw new IllegalStateException(s"no reference fingerprint for $name"))
      Op(name, Layers.table(name), () => qs(name)(spark, a.data), { df =>
        val (n, h) = fingerprint(df)
        if (oracle != "pass") Some(s"reference mismatches the DuckDB oracle ($oracle)")
        else if (n != rows || h != hash) Some(f"got $n rows hash $h%016x, want $rows rows hash $hash%016x")
        else None
      })
    }
  }

  // ---- passes --------------------------------------------------------------

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Between batch queries: drop cached data, collect garbage so the
    * cleaner releases shuffle and broadcast state, let it drain. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(DrainMs)
  }

  private final class Runner(spark: SparkSession, listener: Option[SpanListener]) {
    private var seq = 0
    val rows = mutable.ArrayBuffer.empty[OpRow]
    val scanned = mutable.Set.empty[String]

    def pass(pass: Int, ops: Seq[Op], traced: Boolean, cleanEach: Boolean): Double = {
      val out = ops.map { op =>
        val r = if (traced) runTraced(pass, op) else runPlain(pass, op)
        rows += r
        if (cleanEach) hygiene(spark)
        r.totalS
      }
      if (!cleanEach) hygiene(spark)
      out.sum
    }

    private def runPlain(pass: Int, op: Op): OpRow = {
      seq += 1
      val h0 = Host.sample()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = now()
      val failure = try op.exec(op.build()) catch { case e: Throwable => Some(err(e)) }
      val t = secs(t0, now())
      val h1 = Host.sample()
      OpRow(pass, traced = false, seq, op.name, op.layer, t, 0, 0, 0, 0, new Counters, 0, failure,
        (h1.cpuNs - h0.cpuNs) / 1e9, Host.stealFrac(h0, h1), CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }

    private def runTraced(pass: Int, op: Op): OpRow = {
      seq += 1
      val id = seq.toString
      var (tb, tp, te) = (0.0, 0.0, 0.0)
      var exchanges = 0
      val t0 = now()
      val failure = try {
        val df = SpanListener.within(spark, s"$id:build")(op.build())
        val t1 = now()
        SpanListener.within(spark, s"$id:plan")(df.queryExecution.executedPlan)
        val t2 = now()
        val f = SpanListener.within(spark, s"$id:exec")(op.exec(df))
        val t3 = now()
        tb = secs(t0, t1); tp = secs(t1, t2); te = secs(t2, t3)
        val plan = df.queryExecution.executedPlan
        exchanges = Plans.exchanges(plan)
        scanned ++= Plans.scannedPaths(plan)
        f
      } catch { case e: Throwable => Some(err(e)) }
      val t = secs(t0, now())
      OpRow(pass, traced = true, seq, op.name, op.layer, t, tb, tp, te, 0, new Counters, exchanges, failure)
    }

    /** Fills the traced rows' counters once the listener has drained. */
    def counters(): Seq[OpRow] = listener match {
      case None => rows.toSeq
      case Some(l) =>
        l.drain()
        rows.toSeq.map { r =>
          if (!r.traced) r
          else {
            val all = new Counters
            Seq("build", "plan", "exec").foreach(p => all += l.get(s"${r.seq}:$p"))
            r.copy(buildJobs = l.get(s"${r.seq}:build").jobs, all = all)
          }
        }
    }
  }

  private def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  // ---- the run -------------------------------------------------------------

  private def run(a: Args): Unit = {
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupRounds) {
      val t0 = if (i == 0) now() - (System.currentTimeMillis() - jvmStart) * 1000000L else now()
      spark = setUp(a.cpus, a.data, spark)
      setups += secs(t0, now())
    }
    val listener = if (a.trace) Some(new SpanListener(spark)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val runner = new Runner(spark, listener)
    val rng = new Random(a.seed)
    val isSession = a.workload == "explain_session"
    val batch = if (isSession) Nil else batchOps(spark, a)
    // A run replays one seeded session: every pass rebuilds it from the
    // same draw, fresh frames included, as re-running a notebook does. A
    // batch pass draws a new query order, so a run averages over orders.
    val sessionSeed = rng.nextLong()
    def ops(): Seq[Op] =
      if (isSession) Sessions.session(spark, a.data, new Random(sessionSeed)) else rng.shuffle(batch)
    val codegen0 = codegenSeconds()

    // The cold batch pass keeps the listed order: whichever query runs
    // first pays the process's first-use costs, so a seeded order would make
    // the cold time depend on the draw.
    val firstOps = if (isSession) ops() else batch
    val cold = runner.pass(0, firstOps, traced = false, cleanEach = !isSession)
    // a traced run reports per-layer totals, not per-operation samples
    val minPasses = if (a.trace) 3 else math.max(3, (MinSamples + firstOps.size - 1) / firstOps.size)
    var p = 1
    val w0 = now()
    while (p == 1 || secs(w0, now()) < WarmupSeconds) {
      runner.pass(p, ops(), traced = false, cleanEach = !isSession)
      p += 1
    }
    val warmupPasses = p - 1
    val passTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val t0 = now()
    // Trace runs alternate plain and traced passes, starting and ending
    // plain so that warm-up drift does not pass for tracing overhead.
    while (secs(t0, now()) < a.seconds || passTimes.size < minPasses ||
      (a.trace && passTimes.size % 2 == 0)) {
      val traced = a.trace && passTimes.size % 2 == 1
      passTimes += traced -> runner.pass(p, ops(), traced, cleanEach = !isSession)
      p += 1
    }
    val window = secs(t0, now())
    val rows = runner.counters()
    val codegen = codegenSeconds() - codegen0

    val plain = passTimes.filterNot(_._1).map(_._2).toSeq
    val tracedPasses = passTimes.filter(_._1).map(_._2).toSeq
    val failed = rows.count(_.failure.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("cold_pass_s", cold, "s"),
        ("warm_pass_s", median(plain), "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else layerMetrics(rows.filter(_.traced), tracedPasses.size, runner.scanned.toSet) ++ Seq(
        ("spark.codegen_compile_s", codegen, "s"),
        ("trace.overhead_pct", 100.0 * (median(tracedPasses) / median(plain) - 1.0), "%"))

    writeRecord(a, rows, metrics, setups.toSeq, cold, warmupPasses, passTimes.toSeq, window)
    rows.filter(_.failure.nonEmpty).foreach(r =>
      System.err.println(s"[perfbench] FAILED ${r.name} (pass ${r.pass}): ${r.failure.get}"))
    spark.stop()
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${rows.size},"failed":$failed,"metrics":{$ms}}""")
  }

  /** Per-layer metrics, per traced pass, plus the engine-wide counters. */
  private def layerMetrics(rows: Seq[OpRow], passes: Int,
                           scanned: Set[String]): Seq[(String, Double, String)] = {
    val n = math.max(1, passes).toDouble
    val perLayer = Layers.all.flatMap { l =>
      val rs = rows.filter(_.layer == l)
      def sum(f: OpRow => Double) = rs.map(f).sum / n
      Seq(
        (s"$l.build_s", sum(_.buildS), "s"),
        (s"$l.build_jobs", sum(_.buildJobs.toDouble), "count"),
        (s"$l.plan_s", sum(_.planS), "s"),
        (s"$l.exec_s", sum(_.execS), "s"),
        (s"$l.jobs", sum(_.all.jobs.toDouble), "count"),
        (s"$l.tasks", sum(_.all.tasks.toDouble), "count"),
        (s"$l.shuffle_bytes", sum(_.all.shuffleBytes.toDouble), "bytes"),
        (s"$l.spill_bytes", sum(_.all.spillBytes.toDouble), "bytes"),
        (s"$l.input_bytes", sum(_.all.inputBytes.toDouble), "bytes"),
        (s"$l.exchanges", sum(_.exchanges.toDouble), "count"))
    }
    val all = new Counters
    rows.foreach(r => all += r.all)
    val tableBytes = scanned.toSeq.map(p => diskBytes(Paths.get(new java.net.URI(p)))).sum
    perLayer ++ Seq(
      ("spark.gc_s", all.gcMs / 1e3 / n, "s"),
      ("spark.task_wait_s", all.waitMs / 1e3 / n, "s"),
      ("spark.executor_cpu_s", all.cpuNs / 1e9 / n, "s"),
      ("spark.failed_tasks", all.failedTasks / n, "count"),
      ("rescan_ratio", if (tableBytes == 0) 0.0 else all.inputBytes / n / tableBytes, "ratio"))
  }

  private def diskBytes(p: Path): Long =
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.map(diskBytes).sum
    else if (Files.exists(p)) Files.size(p) else 0L

  /** Seconds Janino spent compiling generated code in this process. */
  private def codegenSeconds(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    (if (h.getCount <= s.size) s.getValues.sum.toDouble else s.getMean * h.getCount) / 1e3
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  // ---- records -------------------------------------------------------------

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def counters(c: Counters): String = obj(Seq(
    "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString, "failed_tasks" -> c.failedTasks.toString,
    "shuffle_bytes" -> c.shuffleBytes.toString, "spill_bytes" -> c.spillBytes.toString,
    "input_bytes" -> c.inputBytes.toString, "cpu_s" -> num(c.cpuNs / 1e9),
    "gc_s" -> num(c.gcMs / 1e3), "task_wait_s" -> num(c.waitMs / 1e3)))

  private def writeRecord(a: Args, rows: Seq[OpRow], metrics: Seq[(String, Double, String)],
                          setups: Seq[Double], cold: Double, warmupPasses: Int,
                          passes: Seq[(Boolean, Double)],
                          window: Double): Unit = {
    val rowJs = rows.map { r =>
      obj(Seq("pass" -> r.pass.toString, "traced" -> r.traced.toString, "seq" -> r.seq.toString,
        "op" -> str(r.name), "layer" -> str(r.layer), "total_s" -> num(r.totalS),
        "cpu_s" -> num(r.cpuS), "steal_frac" -> num(r.stealFrac), "compiles" -> r.compiles.toString) ++
        (if (r.traced) Seq("build_s" -> num(r.buildS), "plan_s" -> num(r.planS),
          "exec_s" -> num(r.execS), "build_jobs" -> r.buildJobs.toString,
          "exchanges" -> r.exchanges.toString, "counters" -> counters(r.all)) else Nil) ++
        Seq("failure" -> r.failure.map(str).getOrElse("null")))
    }
    val rec = obj(Seq(
      "workload" -> str(a.workload), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "seconds" -> a.seconds.toString, "cpus" -> a.cpus.toString,
      "shuffle_partitions" -> a.cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "data" -> str(a.data)) ++ a.meta.toSeq.sorted.map { case (k, v) => k -> str(v) } ++ Seq(
      "setup_rounds_s" -> setups.map(num).mkString("[", ",", "]"),
      "cold_pass_s" -> num(cold),
      "warmup_passes" -> warmupPasses.toString,
      "op_samples" -> rows.count(r => r.pass > warmupPasses && !r.traced).toString,
      "warm_passes" -> passes.map { case (t, s) => obj(Seq("traced" -> t.toString, "s" -> num(s))) }
        .mkString("[", ",", "]"),
      "window_s" -> num(window),
      "attempted" -> rows.size.toString,
      "failed" -> rows.count(_.failure.nonEmpty).toString,
      "failed_frac" -> num(rows.count(_.failure.nonEmpty).toDouble / math.max(1, rows.size)),
      "failed_ops" -> rows.filter(_.failure.nonEmpty).map(_.name).distinct.map(str).mkString("[", ",", "]"),
      "metrics" -> obj(metrics.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "ops" -> rowJs.mkString("[\n", ",\n", "\n]")))
    val p = Paths.get(a.record)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (rec + "\n").getBytes(UTF_8))
  }

  /** Writes the reference fingerprint of every registered query over the
    * benchmark's tables, marking each with the DuckDB oracle's verdict
    * read from `--oracle` (lines "PASS name" / "FAIL name" as printed by
    * the oracle checker); a query without a verdict is marked "none". */
  private def recordRefs(a: Args): Unit = {
    val spark = setUp(a.cpus, a.data)
    val verdicts = a.meta.get("oracle").toSeq.flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
      .map(_.trim.split("\\s+|:")).collect { case Array(v, n, _*) if v == "PASS" || v == "FAIL" => n -> v.toLowerCase }
      .toMap
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (n, h) = fingerprint(fn(spark, a.data))
      hygiene(spark)
      f"$name\t$n\t$h%016x\t${verdicts.getOrElse(name, "none")}"
    }
    Files.write(Paths.get(a.refs), (("# query\trows\thash\toracle" +: lines).mkString("\n") + "\n").getBytes(UTF_8))
    spark.stop()
  }
}

/** This process's CPU time and the host's CPU tick counters. */
object Host {
  final case class Sample(cpuNs: Long, stealTicks: Long, allTicks: Long)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def sample(): Sample = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Sample(os.getProcessCpuTime, if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Share of all CPU ticks between two samples that the hypervisor stole. */
  def stealFrac(a: Sample, b: Sample): Double =
    if (b.allTicks == a.allTicks) 0.0 else (b.stealTicks - a.stealTicks).toDouble / (b.allTicks - a.allTicks)
}
