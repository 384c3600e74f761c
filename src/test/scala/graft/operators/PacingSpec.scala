package graft.operators

import graft.SparkTestBase.spark
import graft.operators.{FrontierJob, PacingOps}
import graft.sources.{Gen, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c30 goldens: the adaptive-pacing report must equal a single-threaded
  * mirror (disc-percentile semantics included), slow hosts must learn
  * strictly larger delays, and the robots merge must be a floor-keeping
  * action the real scheduler honors.
  */
class PacingSpec extends AnyFunSuite {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  /** percentile_disc: smallest value whose cume_dist >= p — 1-based
    * index ceil(p * n) in the sorted list.
    */
  private def p95(xs: Seq[Long]): Long = {
    val sorted = xs.sorted
    sorted(math.ceil(0.95 * xs.size).toInt - 1)
  }

  private def mirror(): Map[String, (Long, Long, Long)] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._2).map { case (host, xs) =>
      val lats = xs.map { case (id, src) =>
        50L + (id * 37L) % 200L +
          (if (Seq('3', '7').contains(src.last) && id % 3 == 0) 900L else 0L)
      }.toSeq
      val p = p95(lats)
      host -> (lats.size.toLong, p,
        math.min(15000L, math.max(200L, p * 10L)))
    }
  }

  test("c30 report == single-threaded mirror exactly") {
    val got = PacingOps.pacingReport(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == mirror())
  }

  test("slow hosts learn strictly larger delays than every fast host") {
    val rep = mirror()
    val (slow, fast) = rep.partition { case (h, _) => Seq('3', '7').contains(h.last) }
    assert(slow.nonEmpty && fast.nonEmpty, "plant missing a host class")
    val minSlow = slow.values.map(_._3).min
    val maxFast = fast.values.map(_._3).max
    assert(minSlow > maxFast,
      s"tail latency not learned: slow min $minSlow <= fast max $maxFast")
  }

  test("histogram store (3 slices) == one-shot batch report exactly") {
    val root = graft.SparkTestBase.tempDir("graft-pacing-inc")
    val rows = PacingOps.syntheticFetchLatencies(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (0 until 3).foreach { k =>
      PacingOps.writeLatencyEpoch(
        rows.zipWithIndex.filter(_._2 % 3 == k).map(_._1)
          .toSeq.toDF("host", "latency_ms"), root, k)
    }
    val inc = PacingOps.adaptiveDelaysFrom(spark, root, uptoEpoch = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = PacingOps.pacingReport(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(inc == batch, "histogram-store delays diverged from batch report")
  }

  test("streaming demo (c32) == batch report") {
    val streamed = graft.streaming.StreamingJobs.pacingMineDemo(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = PacingOps.pacingReport(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch, "streamed delays diverged from batch report")
  }

  test("pipeline adaptivePacing: epoch-1 gaps == delays learned from epoch-0 tails") {
    val root = graft.SparkTestBase.tempDir("graft-pacing-pipe")
    CrawlPipeline.run(spark, root, untilEpoch = 1, seedsPerEpoch = 600,
      cfg0 = FrontierJob.Config(), adaptivePacing = true)
    // mirror the learned delays from the COMMITTED epoch-0 schedule
    val sched0 = spark.read.parquet(s"$root/scheduled/epoch=0")
      .select("host", "url_hash").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val learned = sched0.groupBy(_._1).map { case (h, xs) =>
      val lats = xs.map(x =>
        PacingOps.fetchLatencyMs(x._2, 0, PacingOps.isSlowHost(h))).sorted
      val p = lats(math.ceil(0.95 * lats.size).toInt - 1)
      h -> math.min(15000L, math.max(200L, p * 10L))
    }
    val robotsDelay = Gen.robotsLocal().map(e => e.host -> e.crawl_delay_ms).toMap
    // epoch-1 per-host gaps equal max(robots floor, learned delay)
    val sched1 = spark.read.parquet(s"$root/scheduled/epoch=1")
      .select("host", "slot", "scheduled_at_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val checked = sched1.groupBy(_._1).count { case (h, xs) =>
      val want = math.max(robotsDelay(h), learned.getOrElse(h, 0L))
      val sorted = xs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 - a._3 == want, s"$h gap ${b._3 - a._3} != $want")
        case _ =>
      }
      xs.length > 1
    }
    assert(checked > 0, "no host with >= 2 epoch-1 slots — gap check vacuous")
    // the learning is non-vacuous: among hosts with enough epoch-0
    // observations for the 900 ms tail to reach the p95 (>= 20 rows at a
    // 1-in-3 spike rate), every slow host's learned delay clears every
    // fast host's (a 1-row host can legitimately miss its tail)
    val nObs = sched0.groupBy(_._1).map { case (h, xs) => h -> xs.length }
    val big = learned.filter { case (h, _) => nObs(h) >= 20 }
    val (slowL, fastL) = big.partition { case (h, _) => PacingOps.isSlowHost(h) }
    assert(slowL.nonEmpty && fastL.nonEmpty, "host classes not both observed")
    assert(slowL.values.min > fastL.values.max,
      "slow-host tail not learned above fast hosts")
  }

  test("a resume that turns adaptivePacing on learns no delay from epochs without histograms") {
    def crawl(root: String, until: Int, pacing: Boolean): Unit =
      CrawlPipeline.run(spark, root, untilEpoch = until, seedsPerEpoch = 300,
        cfg0 = FrontierJob.Config(), adaptivePacing = pacing)
    val resumed = graft.SparkTestBase.tempDir("graft-pacing-resume")
    crawl(resumed, 1, pacing = false)
    crawl(resumed, 2, pacing = true)
    val plain = graft.SparkTestBase.tempDir("graft-pacing-plain")
    crawl(plain, 2, pacing = false)
    assert(new java.io.File(PacingOps.LatencyFamily.dir(resumed, 2)).exists(),
      "the resumed epoch did not pace")
    def sched(root: String) = Snapshots.readScheduled(spark, root, 2).collect().toSet
    assert(sched(resumed) == sched(plain),
      "epoch-2 schedule learned a delay from epochs that wrote no histogram")
  }

  test("action: learned delays raise per-host schedule gaps; robots floor kept") {
    val host0 = Gen.hostName(0)
    // host0's tail: every 5th observation takes 500 ms -> learned delay 5000 ms
    val lats = (0 until 40).map(i => (host0, if (i % 5 == 0) 500L else 60L))
      .toDF("host", "latency_ms")
    val report = PacingOps.adaptiveDelays(lats)
    val robots = Gen.robots(spark)
    val before = robots.where(col("host") === host0)
      .head().crawl_delay_ms
    val merged = PacingOps.withAdaptiveDelays(robots, report)
    val after = merged.where(col("host") === host0)
      .head().crawl_delay_ms
    assert(after == math.max(before, 5000L))
    // hosts without observations keep their robots row bit-identically
    assert(merged.where(col("host") =!= host0).collect().toSet ==
      robots.where(col("host") =!= host0).collect().toSet)
    // and the real scheduler paces host0 at the learned delay
    val cfg = FrontierJob.Config()
    val sched = FrontierJob.schedule(
      FrontierJob.applyRobots(
        FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 400)), merged, cfg), cfg)
    val times = sched.where(col("host") === host0)
      .orderBy("slot").select("scheduled_at_ms").as[Long].collect()
    assert(times.length > 1, "host0 scheduled fewer than 2 URLs — gap check vacuous")
    times.sliding(2).foreach {
      case Array(a, b) => assert(b - a == after, s"gap ${b - a} != $after")
      case _ =>
    }
  }
}
