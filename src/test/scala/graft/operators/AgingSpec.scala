package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** c44 goldens. What aging guarantees — and what it deliberately does
  * not: the global budget cut is TIME-ordered (earliest fetchable first),
  * so cross-host throughput stays bounded by each host's politeness delay;
  * aging fixes the PRIORITY race only. Concretely: without aging a
  * low-priority URL is overtaken by the endless outlink supply (fixed
  * priority 0.25) on its own host every epoch and never advances; with
  * aging the host's backlog outranks every fresh discovery, so each
  * host's queue drains oldest-first and no URL starves behind new work.
  * Pinned here: (1) strict dominance — the aged run's unscheduled
  * epoch-0 residue is a strict subset of the control's; (2) within-host
  * no-overtake — wherever epoch-0 backlog remains, that host's slots
  * went exclusively to boosted rows; (3) provenance — every boosted
  * schedule came from the prior epoch's carryover; (4) epoch 0 (before
  * any carryover exists) is identical in both modes.
  */
class AgingSpec extends AnyFunSuite {
  import spark.implicits._

  private val epochs = 5
  private val nSeeds = 400
  private val budget = 100

  private def runMode(aging: Boolean): String = {
    val root = graft.SparkTestBase.tempDir(s"graft-aging-$aging")
    CrawlPipeline.run(spark, root, untilEpoch = epochs, seedsPerEpoch = nSeeds,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = budget),
      aging = aging, agingBoost = 2.0)
    root
  }

  private def scheduledHashes(root: String, e: Int): Set[Long] =
    spark.read.parquet(s"$root/scheduled/epoch=$e")
      .select("url_hash").collect().map(_.getLong(0)).toSet

  test("aging: strict dominance over control, within-host no-overtake, carryover provenance") {
    val rootA = runMode(aging = true)
    val rootC = runMode(aging = false)

    // (4) epoch 0 is identical in both modes (no carryover exists yet)
    val s0A = scheduledHashes(rootA, 0)
    assert(s0A == scheduledHashes(rootC, 0), "epoch 0 diverged across modes")

    // eligible-at-epoch-0 = scheduled(0) + the carryover file (by
    // definition: allowed minus budget winners)
    val carry0 = spark.read.parquet(s"$rootA/carryover/epoch=0")
      .as[graft.model.Seed]
    val carry0Canon = FrontierJob.canonicalizeFrontier(carry0)
      .select("url_hash", "host").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(carry0Canon.nonEmpty, "budget not tight — no epoch-0 losers, fixture vacuous")
    val eligible0 = s0A ++ carry0Canon.map(_._1)

    val allA = (0 to epochs).map(scheduledHashes(rootA, _)).reduce(_ ++ _)
    val allC = (0 to epochs).map(scheduledHashes(rootC, _)).reduce(_ ++ _)
    // (1) strict dominance: whatever politeness leaves unscheduled under
    // aging is a strict subset of what the priority race ALSO starves
    val leftA = eligible0 -- allA
    val leftC = eligible0 -- allC
    assert(leftA.subsetOf(leftC),
      s"aging failed to schedule ${(leftA -- leftC).size} URLs the control scheduled")
    assert((leftC -- leftA).nonEmpty,
      "control starved nothing the aged run rescued — contrast vacuous")

    // (2) within-host no-overtake: on any host still carrying epoch-0
    // backlog at epoch e, every one of that host's epoch-e slots went to a
    // boosted (carryover) row — fresh discoveries never jump an aged queue
    val carryHostsByHash = carry0Canon.toMap
    (1 to epochs).foreach { e =>
      val sched = spark.read.parquet(s"$rootA/scheduled/epoch=$e")
        .select("url_hash", "host", "priority").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val scheduledUpTo = (0 to e).map(scheduledHashes(rootA, _)).reduce(_ ++ _)
      val backlogHosts = carry0Canon
        .filter(c => !scheduledUpTo.contains(c._1)).map(_._2).toSet
      sched.filter(s => backlogHosts.contains(s._2)).foreach { s =>
        assert(s._3 >= 2.0,
          s"epoch $e: fresh row overtook aged backlog on host ${s._2}")
      }
    }

    // (3) provenance: every boosted schedule (priority above the fresh
    // range) was in the PREVIOUS epoch's carryover
    (1 to epochs).foreach { e =>
      val boosted = spark.read.parquet(s"$rootA/scheduled/epoch=$e")
        .where(org.apache.spark.sql.functions.col("priority") >= 2.0)
        .select("url_canon").collect().map(_.getString(0)).toSet
      val prevCarry = spark.read.parquet(s"$rootA/carryover/epoch=${e - 1}")
        .select("url").collect().map(_.getString(0)).toSet
      assert(boosted.subsetOf(prevCarry),
        s"epoch $e has a boosted schedule not in epoch ${e - 1}'s carryover")
      if (e == 1) assert(boosted.nonEmpty, "no aged schedule at epoch 1 — vacuous")
    }
  }

  test("c44 bench demo (trimmed defaults) still surfaces every row class") {
    val rows = CrawlPipeline.agingDemo(spark).collect()
      .map(r => (r.getInt(r.fieldIndex("first_epoch")),
        r.getBoolean(r.fieldIndex("was_aged"))))
    assert(rows.nonEmpty)
    assert(rows.exists(_._2), "demo produced no aged (was_aged) schedule")
    assert(rows.exists(!_._2), "demo produced no un-aged schedule")
    assert(rows.map(_._1).distinct.length >= 2, "demo scheduled in only one epoch")
  }
}
