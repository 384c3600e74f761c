package graft.operators

import graft.SparkTestBase.spark
import graft.sources.{Gen, SeenStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c82 politeness SLA audit: engine-produced schedules must pass every
  * verdict column; tampered schedules must FAIL the matching verdict —
  * the audit is only worth shipping if it actually detects violations.
  */
class PolitenessAuditSpec extends AnyFunSuite {

  private val cfg = FrontierJob.Config(epoch = 0, globalBudget = 500)

  private def schedule() =
    FrontierJob.runEpoch(
      Gen.seeds(spark, 1500), Gen.robots(spark),
      SeenStore.emptySeen(spark), cfg).toDF()

  test("engine schedule passes gap, budget, and slot-uniqueness audits") {
    val audit = FrontierJob.politenessAudit(
      schedule(), Gen.robots(spark).toDF(), cfg).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getBoolean(5), s"gap_ok false for host ${r.getString(0)}")
      assert(r.getBoolean(6), s"budget_ok false for host ${r.getString(0)}")
      assert(r.getBoolean(7), s"slots_ok false for host ${r.getString(0)}")
    }
  }

  test("tampered schedule fails exactly the matching verdicts") {
    val sched = schedule().cache()
    // pick the busiest host so the squeeze has real gaps to compress
    val victim = sched.groupBy("host").count()
      .orderBy(col("count").desc, col("host")).head.getString(0)
    // compress the victim host's timeline 10x: gaps fall below Crawl-delay
    val squeezed = sched.withColumn("scheduled_at_ms",
      when(col("host") === victim,
        lit(cfg.epochT0Ms) + (col("scheduled_at_ms") - cfg.epochT0Ms) / 10)
        .otherwise(col("scheduled_at_ms")))
    val gapAudit = FrontierJob.politenessAudit(
      squeezed, Gen.robots(spark).toDF(), cfg)
      .where(col("host") === victim).head
    // the victim schedules >1 row under budget 500, so gaps exist
    assert(!gapAudit.getBoolean(5), "squeezed host should fail gap_ok")
    assert(gapAudit.getBoolean(6), "budget untouched")
    // duplicate every victim row into slot 0: slots_ok and budget may flip,
    // gap check sees zero gaps on equal timestamps
    val doubled = sched.unionByName(
      sched.where(col("host") === victim).withColumn("slot", lit(0)))
    val dupAudit = FrontierJob.politenessAudit(
      doubled, Gen.robots(spark).toDF(), cfg)
      .where(col("host") === victim).head
    assert(!dupAudit.getBoolean(7), "duplicated slots should fail slots_ok")
    sched.unpersist()
  }
}
