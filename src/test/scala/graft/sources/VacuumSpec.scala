package graft.sources

import graft.SparkTestBase.spark
import graft.operators.{CrawlPipeline, FrontierJob}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** S3c goldens (crawl-root vacuum). Pinned: vacuum removes exactly the
  * orphans (uncommitted epoch dirs, marker-less half-writes, manifest
  * temps), never committed state, and a vacuumed crawl resumes to outputs
  * identical to an untouched control.
  */
class VacuumSpec extends AnyFunSuite {

  private def crawl(root: String, until: Int): Unit =
    CrawlPipeline.run(spark, root, untilEpoch = until, seedsPerEpoch = 120,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 2000))

  private def scheduledSets(root: String, until: Int): Seq[Set[Long]] =
    (0 to until).map(e => spark.read.parquet(s"$root/scheduled/epoch=$e")
      .select("url_hash").collect().map(_.getLong(0)).toSet)

  test("vacuum removes exactly the orphans; resume converges to the control") {
    val vac = graft.SparkTestBase.tempDir("graft-vacuum")
    val ctl = graft.SparkTestBase.tempDir("graft-vacuum-ctl")
    crawl(vac, 1)
    crawl(ctl, 1)

    // plant orphans in the vacuumed root: an uncommitted future epoch, a
    // half-written (marker-less) compact over a COMMITTED epoch, and a
    // crashed manifest temp
    val junkEpoch = Paths.get(s"$vac/scheduled/epoch=9")
    Files.createDirectories(junkEpoch)
    Files.writeString(junkEpoch.resolve("part-junk.parquet"), "not parquet")
    val halfCompact = Paths.get(s"$vac/url_seen_compact/epoch=1")
    Files.createDirectories(halfCompact)
    Files.writeString(halfCompact.resolve("part-00000.parquet"), "half")
    val tmpManifest = Paths.get(s"$vac/_manifests/.epoch-9.json.tmp")
    Files.writeString(tmpManifest, "{}")

    val removed = Snapshots.vacuum(vac)
    assert(removed == 3L, s"vacuum removed $removed entries, want the 3 orphans")
    assert(!Files.exists(junkEpoch) && !Files.exists(halfCompact) &&
      !Files.exists(tmpManifest))
    // committed state untouched
    for (e <- 0 to 1) {
      assert(Files.exists(Paths.get(s"$vac/scheduled/epoch=$e")))
      assert(Files.exists(Paths.get(s"$vac/url_seen/epoch=$e")))
      assert(Files.exists(Paths.get(s"$vac/latest/epoch=$e")))
    }
    assert(Snapshots.latestCommittedEpoch(vac) == 1)

    // vacuum is idempotent
    assert(Snapshots.vacuum(vac) == 0L)

    // resume after vacuum == untouched control, every epoch
    crawl(vac, 3)
    crawl(ctl, 3)
    assert(scheduledSets(vac, 3) == scheduledSets(ctl, 3))
    def seen(root: String) = SeenStore.load(spark, root).toDF()
      .select("url_hash").collect().map(_.getLong(0)).toSet
    assert(seen(vac) == seen(ctl))
    def revised(root: String) = (0 to 3).flatMap(e =>
      spark.read.parquet(s"$root/revisions/epoch=$e")
        .where(col("change").startsWith("revised"))
        .select("image_id").collect().map(_.getString(0)))
    assert(revised(vac).toSet == revised(ctl).toSet)
  }
}
