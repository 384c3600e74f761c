package graft.operators

import graft.SparkTestBase.spark
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c54 goldens (bandwidth-aware budgets). Pinned: the learned per-host
  * byte stats equal a single-threaded integer-mean mirror over the
  * committed rows; every epoch's schedule respects the implied request
  * budget; and the contrast is real — under a tight byte allowance at
  * least one host schedules strictly fewer rows than an identical
  * control run (and never more).
  */
class BandwidthSpec extends AnyFunSuite {
  private val epochs = 2
  private val seeds = 200
  private val allowance = 16000L

  private lazy val roots: (String, String) = {
    val bw = graft.SparkTestBase.tempDir("graft-c54-bw")
    val ctl = graft.SparkTestBase.tempDir("graft-c54-ctl")
    val cfg = FrontierJob.Config(epoch = 0, globalBudget = 4000)
    CrawlPipeline.run(spark, bw, untilEpoch = epochs, seedsPerEpoch = seeds,
      cfg0 = cfg, byteBudgetPerHost = allowance)
    CrawlPipeline.run(spark, ctl, untilEpoch = epochs, seedsPerEpoch = seeds,
      cfg0 = cfg)
    (bw, ctl)
  }

  test("byte stats == integer-mean mirror over committed rows") {
    val (bw, _) = roots
    for (e <- 0 until epochs) {
      val got = BandwidthOps.hostByteStats(spark, bw, e).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val rows = Snapshots.readUpTo(spark, bw, e)
        .select("image_id", "bytes").collect()
        .map(r => (graft.functions.UrlKit.hostOf(r.getString(0)),
          r.getAs[Array[Byte]](1).length.toLong))
      val want = rows.groupBy(_._1).map { case (h, xs) =>
        h -> xs.map(_._2).sum / xs.length
      }
      assert(got == want, s"stats mirror mismatch as of epoch $e")
    }
  }

  test("every schedule respects the implied per-host request budget") {
    val (bw, _) = roots
    var constrained = 0
    for (e <- 1 to epochs) {
      val est = BandwidthOps.hostByteStats(spark, bw, e - 1).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val counts = spark.read.parquet(s"$bw/scheduled/epoch=$e")
        .groupBy("host").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      counts.foreach { case (host, n) =>
        est.get(host).foreach { eb =>
          val cap = math.max(1L, allowance / eb)
          assert(n <= cap, s"epoch $e host $host scheduled $n > byte cap $cap")
          if (cap < n + 8) constrained += 1 // the cap was within reach
        }
      }
    }
    assert(constrained > 0, "byte caps never came near binding — gate vacuous")
  }

  test("contrast: the tight allowance schedules strictly fewer rows than control for some host") {
    val (bw, ctl) = roots
    def counts(root: String) = spark.read.parquet(s"$root/scheduled/epoch=1")
      .groupBy("host").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val b = counts(bw); val c = counts(ctl)
    assert(c.exists { case (h, n) => b.getOrElse(h, 0L) < n },
      "no host was byte-constrained below the control — contrast vacuous")
  }
}
