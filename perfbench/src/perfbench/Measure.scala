package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Per-op timing, plus the op's layer figures when a listener is attached. */
object Measure {
  /** The call-site modules reported one by one. Jobs that AQE or a
    * broadcast submits from a pool thread have a java.util.concurrent call
    * site and land in `async`; any other source file lands in `other`.
    */
  val Modules = Seq("CrawlPipeline", "Snapshots", "SeenStore", "Frontier", "CrawlEpochs")
  private val AsyncSites = Set("CompletableFuture", "ThreadPoolExecutor", "FutureTask", "Thread")

  def bucketOf(module: String): String =
    if (Modules.contains(module)) module else if (AsyncSites(module)) "async" else "other"

  def layerUnits: Seq[(String, String)] = Seq(
    "epoch.jobs" -> "count", "epoch.stages" -> "count", "epoch.tasks" -> "count",
    "epoch.files_written" -> "count", "epoch.bytes_written" -> "bytes",
    "epoch.driver_gap_s" -> "s") ++
    (Modules :+ "async" :+ "other").map(m => s"epoch.job_s.$m" -> "s") ++ Seq(
    "query.executions" -> "count", "query.plan_s" -> "s", "query.exec_s" -> "s",
    "query.exchanges" -> "count", "query.reused_exchanges" -> "count",
    "spark.task_busy_s" -> "s", "spark.gc_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "bytes")

  /** Files under `root` with their sizes and modification times. */
  private def listing(root: Option[String]): Map[Path, (Long, Long)] = root match {
    case Some(r) if Files.isDirectory(Paths.get(r)) =>
      val s = Files.walk(Paths.get(r))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    case _ => Map.empty
  }

  /** Runs `body` once as a span called `name`. Returns its wall seconds
    * and, with a listener, the layer figures of that one op. `root` is the
    * directory whose new or rewritten files count as the op's writes.
    */
  def op(layers: Option[LayerListener], spans: Spans, name: String,
         root: Option[String] = None)(body: => Unit): (Double, Map[String, Double]) =
    layers match {
      case None =>
        val t0 = System.nanoTime()
        spans(name)(body)
        ((System.nanoTime() - t0) / 1e9, Map.empty)
      case Some(l) =>
        val files0 = listing(root)
        val c0 = l.snapshot()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        spans(name)(body)
        val wall = (System.nanoTime() - t0) / 1e9
        val w1 = System.currentTimeMillis()
        val d = l.snapshot() - c0
        val jobs = l.jobsIn(w0, w1)
        val written = listing(root).filter { case (p, v) => !files0.get(p).contains(v) }
        val byModule = jobs.groupBy(j => bucketOf(j.module))
          .map { case (m, js) => m -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3 }
        val v = Map(
          "epoch.jobs" -> jobs.size.toDouble,
          "epoch.stages" -> d.stages.toDouble,
          "epoch.tasks" -> d.tasks.toDouble,
          "epoch.files_written" -> written.size.toDouble,
          "epoch.bytes_written" -> written.values.map(_._1).sum.toDouble,
          "epoch.driver_gap_s" -> LayerListener.driverGapMs(jobs, w0, w1) / 1e3,
          "query.executions" -> d.executions.toDouble,
          "query.plan_s" -> d.planMs / 1e3,
          "query.exec_s" -> d.execNs / 1e9,
          "query.exchanges" -> d.exchanges.toDouble,
          "query.reused_exchanges" -> d.reusedExchanges.toDouble,
          "spark.task_busy_s" -> d.taskBusyMs / 1e3,
          "spark.gc_s" -> d.gcMs / 1e3,
          "spark.scheduler_delay_s" -> d.schedDelayMs / 1e3,
          "spark.shuffle_write_bytes" -> d.shuffleWriteBytes.toDouble,
          "spark.shuffle_fetch_wait_s" -> d.fetchWaitMs / 1e3,
          "spark.spill_bytes" -> d.spillBytes.toDouble) ++
          (Modules :+ "async" :+ "other").map(m => s"epoch.job_s.$m" -> byModule.getOrElse(m, 0.0))
        v.foreach { case (k, x) => spans.record(name, k, x) }
        // the trace file keeps every call-site module, not just the named ones
        jobs.groupBy(_.module).foreach { case (m, js) =>
          spans.record(name, s"job_s.all.$m", js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3)
        }
        (wall, v)
    }

  /** Per-layer medians over the traced ops, in declaration order. */
  def medians(ops: Seq[Map[String, Double]]): Seq[(String, (Double, String))] =
    layerUnits.map { case (k, unit) => k -> (Stats.median(ops.map(_.getOrElse(k, 0.0))), unit) }
}
