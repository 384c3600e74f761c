package graft.sources

import graft.SparkTestBase.{jobsStarted, spark, tempDir}
import graft.model.Fetched
import graft.operators.{BackoffOps, CrawlPipeline, FrontierJob, ImageOps, PacingOps, SimIndex}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Every epoch-table read uses a static schema; a writer or model change
  * that the schema misses would silently read a column as null (or fail
  * the scan), so it must fail here.
  */
class SnapshotsSpec extends AnyFunSuite {

  test("RootSchema holds every Fetched field with the same type") {
    val root = Snapshots.RootSchema.fields.map(f => f.name -> f.dataType).toMap
    Encoders.product[Fetched].schema.fields.foreach { f =>
      assert(root.get(f.name).contains(f.dataType), s"RootSchema lacks ${f.name}: ${f.dataType}")
    }
  }

  /** A two-epoch crawl with every feature that writes a family on, the
    * seen store compacted at each epoch; epoch 1 is the robots flip.
    */
  private lazy val crawlRoot = {
    val root = tempDir("graft-families-crawl")
    CrawlPipeline.run(spark, root, untilEpoch = 1, seedsPerEpoch = 200,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 150),
      compactSeenEvery = 1, backoff = true, recrawl = true, adaptivePacing = true,
      aging = true, robotsFlipEpoch = 1)
    root
  }

  /** One epoch of each index family, written by its own writer, and
    * compacted.
    */
  private lazy val indexRoot = {
    val root = tempDir("graft-families-index")
    val images = spark.range(40).select(
      concat(lit("http://h"), pmod(col("id"), lit(3)), lit(".example/img-"), col("id")).as("image_id"),
      xxhash64(col("id")).as("phash"), lit(64).as("w"), lit(48).as("h"), lit("png").as("fmt"))
    SimIndex.writeShingleIndex(spark.range(20).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta "), col("id")).as("text")), root, 0)
    SimIndex.writePhashIndex(images, root, 0)
    SimIndex.writePhashPairIndex(images, root, 0)
    ImageOps.writeImageScores(images, root, 0)
    SimIndex.compactShingleStats(spark, root, 0)
    SimIndex.compactPhashIndex(spark, root, 0)
    SimIndex.compactPhashPairIndex(spark, root, 0)
    ImageOps.compactImageScores(spark, root, 0)
    root
  }

  private def fields(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("every family's declared schema equals the footer its writer leaves") {
    val families = Seq(
      crawlRoot -> Snapshots.SnapshotFamily,
      crawlRoot -> Snapshots.LatestFamily,
      crawlRoot -> Snapshots.ScheduledFamily,
      crawlRoot -> Snapshots.RevisionFamily,
      crawlRoot -> SeenStore.SeenFamily,
      crawlRoot -> CrawlPipeline.CarryoverFamily,
      crawlRoot -> CrawlPipeline.RobotsHeldFamily,
      crawlRoot -> CrawlPipeline.RobotsPurgedFamily,
      crawlRoot -> BackoffOps.StateFamily,
      crawlRoot -> PacingOps.LatencyFamily,
      indexRoot -> SimIndex.ShingleDfFamily,
      indexRoot -> SimIndex.ShingleSizesFamily,
      indexRoot -> SimIndex.PhashBlocksFamily,
      indexRoot -> SimIndex.PhashPairBlocksFamily,
      indexRoot -> ImageOps.ScoresFamily)
    for ((root, family) <- families) {
      val epoch = if (family == CrawlPipeline.RobotsPurgedFamily) 1 else 0
      val written = spark.read.parquet(family.dir(root, epoch)).schema
      assert(fields(written) == fields(family.schema),
        s"${family.name}: writer footer ${fields(written)} != declared ${fields(family.schema)}")
      val compact = new java.io.File(family.compactDir(root, epoch))
      if (compact.exists()) {
        val c = spark.read.parquet(compact.getPath).schema
        assert(fields(c) == fields(family.readSchema),
          s"${family.name}: compact footer ${fields(c)} != ${fields(family.readSchema)}")
      }
    }
    val compacted = families.filter { case (root, f) => f == SeenStore.SeenFamily || root == indexRoot }
    for ((root, f) <- compacted)
      assert(new java.io.File(f.compactDir(root, 0)).exists(),
        s"${f.name}: no compact written, its footer went unchecked")
  }

  test("reading a family plans its scans without running a job") {
    val seen = SeenStore.SeenFamily
    val blocks = SimIndex.PhashBlocksFamily
    // the positive control: an inferred schema reads a footer in a job
    assert(jobsStarted(spark.read.parquet(seen.dir(crawlRoot, 1))) >= 1)
    assert(jobsStarted {
      seen.upTo(spark, crawlRoot, 1, maxCompactEpoch = 0) // compact 0 + epoch 1
      seen.readEpochs(spark, crawlRoot, 0 to 1)
      blocks.upTo(spark, indexRoot, 0)
      blocks.upTo(spark, indexRoot, 0, maxCompactEpoch = -1) // tail, epoch re-attached
      blocks.readEpochs(spark, indexRoot, 0 to 3)
      Snapshots.SnapshotFamily.readEpochs(spark, crawlRoot, Seq(1))
    } == 0)
  }

  test("readEpochs skips missing epochs and reads none as an empty frame of the schema") {
    val sched = Snapshots.ScheduledFamily
    val none = sched.readEpochs(spark, crawlRoot, Seq(7, 8))
    assert(none.schema == sched.empty(spark).schema && none.isEmpty)
    assert(sched.readEpochs(spark, crawlRoot, Seq(0, 7)).count() ==
      Snapshots.readScheduled(spark, crawlRoot, 0).count())
    val blocks = SimIndex.PhashBlocksFamily.readEpochs(spark, indexRoot, Seq(0, 5))
    assert(blocks.columns.last == "epoch" && blocks.where(col("epoch") =!= 0).isEmpty)
  }
}
