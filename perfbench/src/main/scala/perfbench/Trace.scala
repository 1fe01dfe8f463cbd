package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Spark counters of one span (one phase of one operation). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; inputBytes += o.inputBytes
    cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
  }
}

/** Attributes Spark jobs to spans. The runner sets the local property
  * [[SpanListener.Key]] to a span id around every phase it times; every
  * job launched from that thread (construction-time collects and
  * checkpoints included) carries it, and this listener folds the job's
  * task metrics into the span's [[Counters]]. Events arrive on Spark's
  * listener thread; [[drain]] is the barrier after which the counters
  * are complete. */
final class SpanListener(spark: SparkSession) extends SparkListener {
  import SpanListener._

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  @volatile private var token = ""
  @volatile private var tokenJob = -1
  @volatile private var latch = new CountDownLatch(0)
  private var drains = 0

  private def of(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).orNull
    if (span != null && span == token) tokenJob = e.jobId
    else if (span != null) {
      of(span).jobs += 1
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span != null) {
      val c = of(span)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
      val submitted = stageSubmitted.get(e.stageId)
      if (submitted != null) c.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == tokenJob) latch.countDown()

  /** Runs a marker job and waits until its end event has been delivered:
    * the listener bus is ordered, so every earlier event has been folded
    * in by then. */
  def drain(): Unit = {
    drains += 1
    latch = new CountDownLatch(1)
    token = s"__drain$drains"
    SpanListener.within(spark, token)(spark.sparkContext.parallelize(Seq(1), 1).count())
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def get(span: String): Counters = Option(counters.get(span)).getOrElse(new Counters)
}

object SpanListener {
  val Key = "perfbench.span"

  /** Runs `body` with every job it launches tagged with `span`. */
  def within[T](spark: SparkSession, span: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, span)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Shape of an executed plan, read from its final adaptive plan. */
object Plans {

  /** Every node of the plan, descending into adaptive plans, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Shuffle and broadcast exchanges, counted by node class; a reused
    * exchange is not a second exchange. */
  def exchanges(p: SparkPlan): Int = nodes(p).count {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _ => false
  }

  /** Root paths of the files the plan scans. */
  def scannedPaths(p: SparkPlan): Seq[String] = nodes(p).collect {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
  }.flatten
}
