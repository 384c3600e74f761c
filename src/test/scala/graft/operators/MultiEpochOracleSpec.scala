package graft.operators

import graft.SparkTestBase.{spark, tempDir}
import graft.functions.ImageKit
import graft.model._
import graft.sources.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Multi-epoch golden: the full CrawlPipeline (outlink discovery, seen-set
  * accumulation, checkpointed commits) must reproduce a
  * local single-threaded mirror of the same semantics for every epoch's
  * schedule AND the final URL-seen set (north_rule: "matching the
  * reference crawl ordering and final URL-seen set under identical seed
  * lists and politeness budgets").
  */
class MultiEpochOracleSpec extends AnyFunSuite {
  import spark.implicits._

  private val n = 1200
  private val fanout = 2
  private val cfg = FrontierJob.Config(globalBudget = 500)
  private lazy val robotsMap = Gen.robotsLocal().map(r => r.host -> r).toMap

  /** local mirror of CrawlPipeline.outlinks */
  private def outlinksLocal(sched: Seq[Scheduled]): Seq[Seed] =
    sched.flatMap { s =>
      (0 until fanout).map { k =>
        val a = java.lang.Long.remainderUnsigned(ImageKit.mix64(s.url_hash ^ (k + 1L)), 100000L)
        Seed(s"http://${s.host}/news/linked/art-$a", 0.25)
      }
    }

  test("3-epoch pipeline == 3-epoch oracle (schedules + final seen set)") {
    val root = tempDir("graft-multiepoch")
    CrawlPipeline.run(spark, root, untilEpoch = 2, seedsPerEpoch = n, cfg,
      outlinkFanout = fanout)

    var seen = Set.empty[Long]
    var prevSched: Vector[Scheduled] = Vector.empty
    for (epoch <- 0 to 2) {
      val epochCfg = cfg.copy(epoch = epoch, epochT0Ms = cfg.epochT0Ms + epoch * 3600000L)
      val seeds = Gen.seedsLocal(n) ++ (if (epoch == 0) Seq.empty else outlinksLocal(prevSched))
      val oracle = CrawlOracle.runEpoch(seeds, robotsMap, seen, epochCfg)
      val got = spark.read.parquet(s"$root/scheduled/epoch=$epoch")
        .as[Scheduled].collect()
        .sortBy(s => (s.scheduled_at_ms, -s.priority, s.url_hash)).toVector
      assert(got.size == oracle.scheduled.size, s"epoch $epoch count")
      assert(got == oracle.scheduled, s"epoch $epoch schedule mismatch")
      seen = oracle.seenAfter
      prevSched = oracle.scheduled
    }
    val sparkSeen = spark.read.parquet(s"$root/url_seen")
      .select("url_hash").as[Long].collect().toSet
    assert(sparkSeen == seen, "final URL-seen set mismatch")
  }
}
