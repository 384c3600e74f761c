package graft.operators

import graft.SparkTestBase.{spark, tempDir}
import graft.functions.{ImageKit, UrlKit}
import graft.model._
import graft.sources.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Golden for g02 rank-ordered crawling: the full pipeline with
  * `rankOrdered = true` (cross-host outlinks + destination-host PageRank
  * priority boost, recomputed each epoch from the schedules committed so
  * far) must reproduce a single-threaded mirror of the same semantics —
  * schedule-exact every epoch and seen-set-exact at the end, like the
  * base MultiEpochOracleSpec but with the authority loop closed.
  */
class RankOrderedCrawlSpec extends AnyFunSuite {
  import spark.implicits._

  private val n = 1200
  private val fanout = 2
  private val cfg = FrontierJob.Config(globalBudget = 500)
  private lazy val robotsMap = Gen.robotsLocal().map(r => r.host -> r).toMap

  /** local mirror of CrawlPipeline.outlinks(crossHost = true) */
  private def outlinksLocal(sched: Seq[Scheduled]): Seq[Seed] =
    sched.flatMap { s =>
      (0 until fanout).map { k =>
        val a = java.lang.Long.remainderUnsigned(ImageKit.mix64(s.url_hash ^ (k + 1L)), 100000L)
        val host =
          if (k == fanout - 1) CrawlPipeline.crossHostOf(s.url_hash, k)
          else s.host
        Seed(s"http://$host/news/linked/art-$a", 0.25)
      }
    }

  /** local mirror of CrawlPipeline.hostEdgesFromScheduled */
  private def edgesLocal(scheds: Seq[Scheduled]): Seq[(String, String)] =
    scheds.flatMap { s =>
      val dst = CrawlPipeline.crossHostOf(s.url_hash, fanout - 1)
      if (dst != s.host) Some((s.host, dst)) else None
    }.distinct

  test("3-epoch rank-ordered pipeline == local mirror (schedules + seen)") {
    val root = tempDir("graft-rankcrawl")
    CrawlPipeline.run(spark, root, untilEpoch = 2, seedsPerEpoch = n, cfg,
      outlinkFanout = fanout, rankOrdered = true)

    var seen = Set.empty[Long]
    var prevSched: Vector[Scheduled] = Vector.empty
    var allSched: Vector[Scheduled] = Vector.empty
    var boostedOutlinks = 0
    for (epoch <- 0 to 2) {
      val epochCfg = cfg.copy(epoch = epoch, epochT0Ms = cfg.epochT0Ms + epoch * 3600000L)
      val outs =
        if (epoch == 0) Seq.empty[Seed]
        else {
          val base = outlinksLocal(prevSched)
          val edges = edgesLocal(allSched)
          if (edges.isEmpty) base
          else {
            val ranks = LocalPageRank.compute(edges, iters = 5, damping = 0.85)
            base.map { s =>
              val boost = ranks.getOrElse(UrlKit.hostOf(s.url), 0.0)
              if (boost > 0.0) boostedOutlinks += 1
              Seed(s.url, s.priority + boost)
            }
          }
        }
      val seeds = Gen.seedsLocal(n) ++ outs
      val oracle = CrawlOracle.runEpoch(seeds, robotsMap, seen, epochCfg)
      val got = spark.read.parquet(s"$root/scheduled/epoch=$epoch")
        .as[Scheduled].collect()
        .sortBy(s => (s.scheduled_at_ms, -s.priority, s.url_hash)).toVector
      assert(got.size == oracle.scheduled.size, s"epoch $epoch count")
      assert(got == oracle.scheduled, s"epoch $epoch schedule mismatch")
      seen = oracle.seenAfter
      prevSched = oracle.scheduled
      allSched ++= oracle.scheduled
    }
    val sparkSeen = spark.read.parquet(s"$root/url_seen")
      .select("url_hash").as[Long].collect().toSet
    assert(sparkSeen == seen, "final URL-seen set mismatch")
    // the authority loop must actually fire: ranked hosts exist from
    // epoch 1 on, so boosted outlinks are the norm, not an edge case
    assert(boostedOutlinks > 100,
      s"rank boost barely fired ($boostedOutlinks outlinks) — wiring suspect")
  }

  test("cross-host outlinks change the frontier; base mode is untouched") {
    // base-mode outlinks must be byte-identical to the historical formula
    // (all same-host); crossHost introduces other-host targets
    val sched = Gen.seedsLocal(50).zipWithIndex.map { case (s, i) =>
      val canon = UrlKit.canonicalize(s.url)
      Scheduled(canon, CrawlOracle.xxhash64(canon), UrlKit.hostOf(canon),
        UrlKit.pathOf(canon), s.priority, i % 4, 1700000000000L + i, 0)
    }
    val ds = spark.createDataset(sched)
    val base = CrawlPipeline.outlinks(ds, fanout).collect().toSet
    val cross = CrawlPipeline.outlinks(ds, fanout, crossHost = true).collect().toSet
    assert(base.forall(s => sched.exists(x => s.url.contains(x.host))),
      "base outlinks left their source hosts")
    assert(base != cross, "crossHost produced the same link set as base")
    val crossHosts = cross.map(s => UrlKit.hostOf(s.url))
    assert(crossHosts.size > sched.map(_.host).distinct.size / 2,
      "cross-host links did not spread across hosts")
  }
}
