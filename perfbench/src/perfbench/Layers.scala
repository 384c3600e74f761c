package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Highest driver heap occupancy after a full GC at an op boundary: the
  * heap the driver still holds between ops (sidecar maps, broadcasts,
  * cached plans). The GC runs outside the timed ops, so every op starts
  * from the same collected heap.
  */
object HeapWatch {
  private var maxUsed = 0L

  def sample(): Unit = {
    System.gc()
    maxUsed = math.max(maxUsed, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def maxMb: Double = maxUsed / (1024.0 * 1024.0)
}

/** Counters the listeners accumulate. Each op reads a snapshot before and
  * after itself; the difference is that op's share.
  */
final case class Counters(
    stages: Long = 0, tasks: Long = 0, taskBusyMs: Long = 0, gcMs: Long = 0,
    schedDelayMs: Long = 0, shuffleWriteBytes: Long = 0, fetchWaitMs: Long = 0,
    spillBytes: Long = 0, executions: Long = 0, planMs: Long = 0, execNs: Long = 0,
    exchanges: Long = 0, reusedExchanges: Long = 0) {
  def -(o: Counters): Counters = Counters(
    stages - o.stages, tasks - o.tasks, taskBusyMs - o.taskBusyMs, gcMs - o.gcMs,
    schedDelayMs - o.schedDelayMs, shuffleWriteBytes - o.shuffleWriteBytes,
    fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes, executions - o.executions,
    planMs - o.planMs, execNs - o.execNs, exchanges - o.exchanges,
    reusedExchanges - o.reusedExchanges)
}

final case class JobSpan(id: Int, module: String, startMs: Long, var endMs: Long)

/** One SparkListener plus one QueryExecutionListener, registered by the
  * benchmark only for a traced run. Every callback runs on the listener
  * bus thread; readers call `drain()` first and then read under the lock.
  */
final class LayerListener(sc: SparkContext) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var c = Counters()
  private val jobs = ArrayBuffer.empty[JobSpan]

  /** The source file of a job's call site, e.g. `save at Snapshots.scala:98`
    * gives `Snapshots`: stable under line edits.
    */
  private def moduleOf(callSite: String): String = {
    val m = """ at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r.findFirstMatchIn(callSite)
    m.map(_.group(1)).getOrElse("other")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs += JobSpan(e.jobId, moduleOf(site), e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      c = c.copy(
        tasks = c.tasks + 1,
        taskBusyMs = c.taskBusyMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime,
        schedDelayMs = c.schedDelayMs + delay,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    } else c = c.copy(tasks = c.tasks + 1)
  }

  /** Plan phases come from the QueryExecution that actually ran, and the
    * Exchange counts from its final (post-AQE) plan.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = ms("analysis") + ms("optimization") + ms("planning")
    val inAction = (ms("optimization") + ms("planning")) * 1000000L
    val (ex, reused) = exchangeCounts(qe.executedPlan)
    synchronized {
      c = c.copy(executions = c.executions + 1, planMs = c.planMs + plan,
        execNs = c.execNs + math.max(0L, durationNs - inAction),
        exchanges = c.exchanges + ex, reusedExchanges = c.reusedExchanges + reused)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def exchangeCounts(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) {
      case r: ReusedExchangeExec => false
      case _: Exchange => true
    }
    (nodes.count(identity), nodes.count(!_))
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }

  def snapshot(): Counters = { drain(); synchronized(c) }

  /** Jobs that started inside [t0, t1] (wall-clock ms). */
  def jobsIn(t0: Long, t1: Long): Seq[JobSpan] = {
    drain()
    synchronized(jobs.filter(j => j.startMs >= t0 && j.startMs <= t1).map(_.copy()).toSeq)
  }
}

object LayerListener {
  def register(spark: org.apache.spark.sql.SparkSession): LayerListener = {
    val l = new LayerListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Wall time inside [t0, t1] during which no job was running. */
  def driverGapMs(jobs: Seq[JobSpan], t0: Long, t1: Long): Long = {
    val iv = jobs.map(j => (math.max(t0, j.startMs), math.min(t1, if (j.endMs < 0) t1 else j.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (t1 - t0) - covered
  }
}

/** In-memory spans (name, start, end, parent, run id), written once at
  * exit. Counters recorded at a span's end ride along as its attributes.
  */
final class Spans(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long, attrs: scala.collection.mutable.LinkedHashMap[String, Double])
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val origin = System.nanoTime()

  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime() - origin,
      -1L, scala.collection.mutable.LinkedHashMap.empty)
    spans += s
    stack = s.id :: stack
    try body
    finally { s.endNs = System.nanoTime() - origin; stack = stack.tail }
  }

  /** Attaches a counter to the most recently closed span called `name`. */
  def record(name: String, key: String, value: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.attrs(key) = value)

  def toJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_s":${Json.num(s.startNs / 1e9)},"end_s":${Json.num(s.endNs / 1e9)},"counters":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
