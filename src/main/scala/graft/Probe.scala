package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** Dev tool for named SparkEntry queries, without paying for the whole
  * bench. Usage:
  *   SPARK_GRAFT_SF_DIR=<scale-factor dir> SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Probe [--plans <outDir> <suffix>] <query...>"
  * Default: each query runs twice (cold, warm) so plan/codegen cost
  * separates from execution cost; each run prints its wall, row, job and
  * task counts and the call sites with the most job time, so fixed
  * overhead (many tiny actions) separates from real work.
  * `--plans`: runs each query once, then writes its final (adaptive)
  * plan's `explain("formatted")` to `<outDir>/<query>_<suffix>.txt` (the
  * plan evidence under plans/rNN/) and prints the final plan's
  * Exchange/ReusedExchange counts. Before a run an adaptive plan holds
  * only its initial form, in which no exchange is reused yet.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (plans, names) = args.toSeq match {
      case "--plans" +: dir +: suffix +: rest => (Some((dir, suffix)), rest)
      case rest => (None, rest)
    }
    require(names.nonEmpty && !names.head.startsWith("--"),
      "usage: Probe [--plans <outDir> <suffix>] <query...>")
    val queries = names.map(n =>
      n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query: $n")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("Probe: set SPARK_GRAFT_SF_DIR to a scale-factor data dir"))
    val spark = SparkEnv.session()
    plans match {
      case Some((outDir, suffix)) =>
        Files.createDirectories(Paths.get(outDir))
        queries.foreach { case (name, fn) =>
          val df = fn(spark, sfDir)
          df.collect()
          val file = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.writeString(file, df.queryExecution.explainString(FormattedMode))
          val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
          println(s"[probe] $name -> $file (Exchange=${"Exchange".r.findAllIn(plan).length} " +
            s"Reused=${"ReusedExchange".r.findAllIn(plan).length})")
        }
      case None =>
        val log = new JobLog
        spark.sparkContext.addSparkListener(log)
        spark.range(1000).count() // absorb session spin-up
        queries.foreach { case (name, fn) =>
          Seq("cold", "warm").foreach { run =>
            log.reset()
            val t0 = System.nanoTime()
            val n = fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300) // let the async listener bus drain
            val sites = log.bySite.asScala.toSeq.sortBy(-_._2._1)
            println(f"[probe] $name%-28s $run wall=$wall%7.2fs rows=$n%6d " +
              f"jobs=${log.jobs.get}%4d tasks=${log.tasks.get}%6d jobMs=${sites.map(_._2._1).sum}%6d")
            sites.take(8).foreach { case (site, (ms, c)) =>
              println(f"[probe]    jobMs=$ms%7d jobs=$c%4d  $site")
            }
          }
        }
    }
    spark.stop()
  }

  /** Job and task counts and job time per call site since the last reset. */
  private final class JobLog extends SparkListener {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val bySite = new ConcurrentHashMap[String, (Long, Int)]
    private val started = new ConcurrentHashMap[Int, (Long, String)]
    private val sqlSites = new ConcurrentHashMap[String, String]

    def reset(): Unit = { jobs.set(0); tasks.set(0); bySite.clear() }

    // AQE runs every stage of a query as a job on a pool thread, whose own
    // call site names the pool: such jobs take their SQL execution's site
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId.toString, s.description)
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id)))
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      started.put(j.jobId, (j.time, site))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach { case (t0, site) =>
        bySite.merge(site, (j.time - t0, 1), (a, b) => (a._1 + b._1, a._2 + b._2))
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  }
}
