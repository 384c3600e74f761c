package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** c50 goldens (failure-aware AIMD host backoff). Pinned: the distributed
  * fixed-point update equals the local mirror bit-for-bit (demo chain with
  * hand-computed multipliers); pipeline wiring — persisted state ==
  * recomputed-from-at-rest-logs, budgets shrink for sick hosts vs an
  * identical control run, recovery regrows, resume is a no-op.
  */
class BackoffSpec extends AnyFunSuite {

  test("c50 demo chain == hand-computed AIMD multipliers") {
    val got = BackoffOps.backoffDemo(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    // e0: a fails 4/8 = 5000bp > 2000 -> 10000/2; b,c clean -> stay 1.0
    // e1: a fails 3/8 = 3750bp -> 2500; c not fetched -> frozen at 10000
    // e2: a clean -> 2500+1000; b capped at 10000
    val want = Set(
      (0, "a.example", 5000), (0, "b.example", 10000), (0, "c.example", 10000),
      (1, "a.example", 2500), (1, "b.example", 10000), (1, "c.example", 10000),
      (2, "a.example", 3500), (2, "b.example", 10000), (2, "c.example", 10000))
    assert(got == want)
  }

  test("c50 pipeline: state == mirror of at-rest logs; sick budgets shrink vs control; resume no-op") {
    val cfg = FrontierJob.Config(epoch = 0, globalBudget = 400,
      defaultHostBudget = 4, maxHostBudget = 4)
    val th = 100 // any failure trips the decrease (base synthetic rate ~2%)
    def go(backoff: Boolean): String = {
      val root = graft.SparkTestBase.tempDir(s"graft-c50-$backoff")
      CrawlPipeline.run(spark, root, untilEpoch = 2, seedsPerEpoch = 600,
        cfg0 = cfg, backoff = backoff, backoffThresholdBp = th)
      root
    }
    val rootB = go(true)
    val rootC = go(false)

    // persisted state at each epoch == local AIMD over the at-rest logs
    var prev = Map.empty[String, Int]
    (0 to 2).foreach { e =>
      val rates = graft.sources.Snapshots.readRaw(spark, rootB, e)
        .select("image_id", "status").collect()
        .map(r => (graft.functions.UrlKit.hostOf(r.getString(0)), r.getString(1)))
        .groupBy(_._1).map { case (h, xs) =>
          h -> ((xs.length, xs.count(_._2 != "parsed")))
        }
      val hosts = prev.keySet ++ rates.keySet
      val want = hosts.map { h =>
        val failBp = rates.get(h).map { case (n, f) =>
          ((f.toLong * BackoffOps.UnitBp) / n).toInt
        }
        h -> BackoffOps.updateLocal(prev.get(h), failBp, th)
      }.toMap
      val got = BackoffOps.loadState(spark, rootB, e).get.collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      assert(got == want, s"epoch $e state != mirror")
      prev = want
    }

    // budgets bite: at epochs 1-2 every host's schedule respects the
    // PREVIOUS epoch's multiplier, and some backed-off host scheduled
    // strictly fewer rows than the identical control run
    var anyShrunk = false
    (1 to 2).foreach { e =>
      val mult = BackoffOps.loadState(spark, rootB, e - 1).get.collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      def perHost(root: String) = spark.read.parquet(s"$root/scheduled/epoch=$e")
        .groupBy("host").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val schedB = perHost(rootB)
      val schedC = perHost(rootC)
      schedB.foreach { case (h, n) =>
        val eff = math.max(1, 4 * mult.getOrElse(h, BackoffOps.UnitBp) / BackoffOps.UnitBp)
        assert(n <= eff, s"epoch $e host $h scheduled $n > effective budget $eff")
        if (mult.getOrElse(h, BackoffOps.UnitBp) < BackoffOps.UnitBp &&
            schedC.getOrElse(h, 0L) > n) anyShrunk = true
      }
    }
    assert(anyShrunk, "no backed-off host ever scheduled less than control — vacuous")

    // recovery: some host that was backed off regrows its multiplier later
    val s0 = BackoffOps.loadState(spark, rootB, 0).get.collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val s2 = BackoffOps.loadState(spark, rootB, 2).get.collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(s0.exists { case (h, m) =>
      m < BackoffOps.UnitBp && s2.getOrElse(h, 0) > m
    }, "no host recovered — AIMD increase never exercised")

    // resume is a no-op on committed epochs
    val before = new java.io.File(s"$rootB/backoff/epoch=2/_SUCCESS").lastModified()
    CrawlPipeline.run(spark, rootB, untilEpoch = 2, seedsPerEpoch = 600,
      cfg0 = cfg, backoff = true, backoffThresholdBp = th)
    assert(new java.io.File(s"$rootB/backoff/epoch=2/_SUCCESS").lastModified() == before)
  }
}
