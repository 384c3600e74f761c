package graft.operators

import graft.SparkTestBase.spark
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c51 goldens (HTTP-revalidation recrawl). Two identical-seed recrawl
  * crawls, revalidation ON vs OFF. Pinned:
  *   - 304 correctness both ways, mirror-checked per epoch against the
  *     single-threaded validator kernel: the ON run never fetches a due
  *     page whose validator is unchanged, and (budgets ample) fetches
  *     every due page whose validator changed;
  *   - no stale content: every 304-skipped page's stored (phash, caption)
  *     equals what the server would serve at that epoch — a skip can never
  *     hide a revision (the runs' discovery sets legitimately diverge —
  *     freed budget crawls MORE new pages — so cross-run table equality is
  *     deliberately not asserted);
  *   - the saving is real: the control run burns fetches on 'unchanged'
  *     revisions, the ON run's count is a strict (and near-total) cut.
  */
class RevalidationSpec extends AnyFunSuite {
  private val epochs = 4
  private val seeds = 200
  private val budget = 4000

  private lazy val roots: (String, String) = {
    val on = graft.SparkTestBase.tempDir("graft-c51spec-on")
    val off = graft.SparkTestBase.tempDir("graft-c51spec-off")
    val cfg = FrontierJob.Config(epoch = 0, globalBudget = budget)
    CrawlPipeline.run(spark, on, untilEpoch = epochs, seedsPerEpoch = seeds,
      cfg0 = cfg, recrawl = true, revalidate = true)
    CrawlPipeline.run(spark, off, untilEpoch = epochs, seedsPerEpoch = seeds,
      cfg0 = cfg, recrawl = true)
    (on, off)
  }

  test("304s mirror-exact per epoch: unchanged dues never fetched, changed dues always fetched") {
    val (on, _) = roots
    var totalSkipped = 0L
    for (e <- 1 to epochs) {
      val prior = spark.read.parquet(
        (0 until e).map(p => s"$on/revisions/epoch=$p"): _*)
      val dues = DiffJob.recrawlSchedule(prior, atEpoch = e)
        .where(col("due")).select("image_id", "last_fetch")
        .collect().map(r => (r.getString(0), r.getInt(1)))
      val fetched = Snapshots.readRaw(spark, on, e)
        .select("image_id").collect().map(_.getString(0)).toSet
      dues.foreach { case (id, lastFetch) =>
        val nm = RevalidationOps.notModifiedLocal(CrawlOracle.xxhash64(id), lastFetch, e)
        if (nm) {
          assert(!fetched.contains(id), s"epoch $e fetched 304 page $id")
          totalSkipped += 1
        } else
          assert(fetched.contains(id), s"epoch $e dropped changed due page $id")
      }
    }
    assert(totalSkipped > 0, "no 304s occurred — the revalidation path never ran")
  }

  test("no stale content: every 304-skipped page's stored version equals the server's current") {
    val (on, _) = roots
    var checked = 0L
    for (e <- 1 to epochs) {
      val prior = spark.read.parquet(
        (0 until e).map(p => s"$on/revisions/epoch=$p"): _*)
      val skips = DiffJob.recrawlSchedule(prior, atEpoch = e)
        .where(col("due")).select("image_id", "last_fetch")
        .collect().map(r => (r.getString(0), r.getInt(1)))
        .filter { case (id, lf) =>
          RevalidationOps.notModifiedLocal(CrawlOracle.xxhash64(id), lf, e)
        }.map(_._1).toSet
      if (skips.nonEmpty) {
        val stored = Snapshots.readLatest(spark, on, e)
          .select("image_id", "phash", "caption").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getString(2)))).toMap
        skips.foreach { id =>
          val h = CrawlOracle.xxhash64(id)
          val fmt = if ((h & 1L) == 0L) "png" else "jpeg"
          val server = graft.sources.Gen.snapshotRow(
            imageId = id,
            variant = CrawlPipeline.contentVariant(h, e),
            captionVer = CrawlPipeline.captionVariant(h, e),
            fmt = fmt, epoch = e)
          val (ph, cap) = stored(id)
          assert(ph == server.phash && cap == server.caption,
            s"epoch $e: skipped page $id is STALE (stored ($ph, $cap) vs " +
              s"server (${server.phash}, ${server.caption}))")
          checked += 1
        }
      }
    }
    assert(checked > 0, "no 304s to check — invariant vacuous")
  }

  test("the saving is real: control burns fetches on unchanged revisions") {
    val (on, off) = roots
    def unchangedTotal(root: String): Long =
      spark.read.parquet((1 to epochs).map(e => s"$root/revisions/epoch=$e"): _*)
        .where(col("change") === "unchanged").count()
    val ctrl = unchangedTotal(off)
    val reval = unchangedTotal(on)
    assert(ctrl > 0, "control run had no unchanged refetches — contrast vacuous")
    assert(reval * 4 <= ctrl,
      s"revalidation kept $reval of $ctrl unchanged fetches — saving not material")
  }
}
