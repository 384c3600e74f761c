package graft.operators

import graft.SparkTestBase.{spark, tempDir}
import graft.functions.ImageKit
import graft.model._
import graft.sources.{Gen, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E2 revision classification vs the local mirror, per-row image
  * invariants, and E3 checkpoint/resume equivalence (SURVEY.md §5.3/5.4).
  */
class DiffGoldenSpec extends AnyFunSuite {
  import spark.implicits._

  private val nImages = 50

  private def snap(i: Int, epoch: Int): Snapshot = {
    val urlHash = ImageKit.mix64(i.toLong * 7919L + 17L)
    val fmt = if ((urlHash & 1L) == 0L) "png" else "jpeg"
    Gen.snapshotRow(s"http://${Gen.hostName(i % 10)}/news/art-$i",
      CrawlPipeline.contentVariant(urlHash, epoch),
      CrawlPipeline.captionVariant(urlHash, epoch), fmt, epoch, w = 40, h = 28)
  }

  private lazy val history: Seq[Snapshot] =
    for (e <- 0 to 2; i <- 0 until nImages) yield snap(i, e)

  test("revisions at each epoch match the local classifier exactly") {
    val df = spark.createDataset(history).toDF()
    for (epoch <- 0 to 2) {
      val got = DiffJob.revisions(df.where(col("epoch") <= epoch), epoch, tau = 10)
        .collect().map(r => r.image_id -> r).toMap
      val byId = history.filter(_.epoch <= epoch).groupBy(_.image_id)
      byId.foreach { case (id, snaps) =>
        val sorted = snaps.sortBy(_.epoch)
        val cur = sorted.last
        val prev = if (sorted.size > 1) Some(sorted(sorted.size - 2)) else None
        val want = DiffJob.classifyLocal(cur, prev, tau = 10)
        assert(got(id) == want, s"epoch=$epoch id=$id")
      }
      if (epoch == 0) assert(got.values.forall(_.change == "new"))
    }
  }

  test("latest-table diff == full-history window diff (every epoch)") {
    val df = spark.createDataset(history).toDF()
    for (epoch <- 0 to 2) {
      // latest(e-1): max-epoch row per image_id among epochs < e
      val latestPrev = {
        val hist = history.filter(_.epoch < epoch)
        spark.createDataset(
          hist.groupBy(_.image_id).values.map(_.maxBy(_.epoch)).toSeq).toDF()
          .select("image_id", "epoch", "phash", "caption")
      }
      val viaLatest = DiffJob.revisionsFromLatest(
        df.where(col("epoch") === epoch), latestPrev, epoch, tau = 10)
        .collect().sortBy(_.image_id).toVector
      val viaWindow = DiffJob.revisions(df.where(col("epoch") <= epoch), epoch, tau = 10)
        .collect().sortBy(_.image_id).toVector
      assert(viaLatest == viaWindow, s"epoch=$epoch latest-path diverged")
    }
  }

  test("recrawl schedule: hand-built cases + formula mirror on real history") {
    // hand-built revision histories with known expected schedules
    val revs = Seq(
      // hot: changed at its last fetch -> interval 1, due next epoch
      ("imgA", 0, "new"), ("imgA", 1, "revised_pixels"), ("imgA", 2, "revised_caption"),
      // cooling: unchanged twice since epoch-0 arrival -> interval 3, not due at 3
      ("imgB", 0, "new"), ("imgB", 1, "unchanged"), ("imgB", 2, "unchanged"),
      // fetched once long ago -> still interval 1 (was new), due
      ("imgC", 0, "new"),
      // degenerate: no change row at all -> last_change=-1 backoff path
      ("imgD", 1, "unchanged"), ("imgD", 2, "unchanged"))
      .toDF("image_id", "epoch", "change")
    val got = DiffJob.recrawlSchedule(revs, atEpoch = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4), r.getDouble(5))))
      .toMap
    assert(got("imgA") == ((2, 2, 1, true, 1.0)), s"hot article wrong: ${got("imgA")}")
    assert(got("imgB") == ((2, 0, 3, false, 0.3333)), s"cooling article wrong: ${got("imgB")}")
    assert(got("imgC") == ((0, 0, 1, true, 1.0)), s"stale-new article wrong: ${got("imgC")}")
    assert(got("imgD") == ((2, -1, 4, false, 0.25)), s"never-changed path wrong: ${got("imgD")}")

    // formula mirror over the REAL 3-epoch diff history
    val df = spark.createDataset(history).toDF()
    val real = (0 to 2).map(e => DiffJob.revisions(df, e, tau = 10).toDF())
      .reduce(_ unionByName _)
    val dist = DiffJob.recrawlSchedule(real, atEpoch = 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
    val byImg = (0 to 2).flatMap(e => DiffJob.revisions(df, e, tau = 10).collect())
      .groupBy(_.image_id)
    assert(dist.nonEmpty && dist.length == byImg.size)
    dist.foreach { case (id, lastFetch, lastChange, interval, due) =>
      val rs = byImg(id)
      val lf = rs.map(_.epoch).max
      val lc = rs.filter(_.change != "unchanged").map(_.epoch)
        .reduceOption(_ max _).getOrElse(-1)
      assert(lastFetch == lf && lastChange == lc, s"agg wrong for $id")
      assert(interval == math.min(8, lf - lc + 1), s"interval wrong for $id")
      assert(due == (3 - lf >= interval), s"due wrong for $id")
    }
    // the policy must separate the classes: something due, something not
    assert(dist.exists(_._5) && dist.exists(!_._5),
      "backoff produced a degenerate all-due or none-due schedule")
  }

  test("per-row input_hint invariants: dims, phash, PSNR, caption") {
    history.take(60).foreach { s =>
      val (px, w, h) = ImageKit.decodeGray(s.bytes)
      assert((w, h) == (s.w, s.h))
      assert(ImageKit.phash64(s.bytes) == s.phash)
      // re-derive the source pixels and check the lossy invariant
      val seed = ImageKit.mix64(s.image_id.hashCode.toLong ^ Gen.GenSeed)
      val variant = {
        // recover variant by matching epochs 0..2 script
        val urlHash = ImageKit.mix64(s.image_id.split("art-")(1).toLong * 7919L + 17L)
        CrawlPipeline.contentVariant(urlHash, s.epoch)
      }
      val src = ImageKit.genPixels(seed, variant, s.w, s.h)
      val p = ImageKit.psnr(src, px)
      if (s.fmt == "png") assert(p.isPosInfinity, s"png not exact: ${s.image_id}")
      else assert(p >= 40.0, s"jpeg PSNR $p < 40: ${s.image_id}")
      assert(s.caption.startsWith(s"caption of ${s.image_id}"))
    }
  }
}

class PipelineResumeSpec extends AnyFunSuite {
  import spark.implicits._

  private val cfg = FrontierJob.Config(globalBudget = 400)

  test("3 epochs straight == 2 epochs + resume (checkpoint determinism)") {
    val rootA = tempDir("graft-straight")
    val rootB = tempDir("graft-resume")
    CrawlPipeline.run(spark, rootA, untilEpoch = 2, seedsPerEpoch = 800, cfg)
    CrawlPipeline.run(spark, rootB, untilEpoch = 1, seedsPerEpoch = 800, cfg)
    assert(Snapshots.latestCommittedEpoch(rootB) == 1)
    CrawlPipeline.run(spark, rootB, untilEpoch = 2, seedsPerEpoch = 800, cfg)

    def seenSet(root: String): Set[(Long, Int)] =
      spark.read.parquet(s"$root/url_seen").select("url_hash", "first_epoch")
        .as[(Long, Int)].collect().toSet
    def schedule(root: String, e: Int): Vector[(Long, Int, Long)] =
      spark.read.parquet(s"$root/scheduled/epoch=$e")
        .select("url_hash", "slot", "scheduled_at_ms")
        .as[(Long, Int, Long)].collect().sortBy(x => (x._3, x._1)).toVector

    assert(seenSet(rootA) == seenSet(rootB), "URL-seen sets diverge after resume")
    (0 to 2).foreach(e => assert(schedule(rootA, e) == schedule(rootB, e), s"epoch $e"))
    // revisions equal too
    def revs(root: String) =
      spark.read.parquet(s"$root/revisions/epoch=2")
        .orderBy("image_id").collect().toVector
    assert(revs(rootA) == revs(rootB))
    // lineage manifest exists and parsed-row counts match the snapshots
    val lin = spark.read.parquet(s"$rootA/lineage")
      .groupBy("epoch").agg(sum("n_parsed").as("n")).orderBy("epoch")
      .as[(Int, Long)].collect().toMap
    (0 to 2).foreach { e =>
      val n = Snapshots.read(spark, rootA, e).count()
      assert(lin(e) == n, s"lineage count mismatch epoch $e")
    }
    // lineage ranges describe what they claim: phash + url_hash(image_id)
    val snap0 = Snapshots.read(spark, rootA, 0)
      .select(min("phash"), max("phash"),
        min(xxhash64(col("image_id"))), max(xxhash64(col("image_id"))))
      .as[(Long, Long, Long, Long)].head()
    val linRange = spark.read.parquet(s"$rootA/lineage").where(col("epoch") === 0)
      .select(min("min_phash"), max("max_phash"),
        min("min_url_hash"), max("max_url_hash"))
      .as[(Long, Long, Long, Long)].head()
    assert(snap0 == linRange, "lineage min/max ranges don't match the at-rest data")
    // the latest-version sidecar as of epoch 2 == max-epoch row per image_id
    val wantLatest = Snapshots.readUpTo(spark, rootA, 2)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("image_id")
          .orderBy(col("epoch").desc)))
      .where(col("rn") === 1)
      .select("image_id", "epoch", "phash", "caption")
      .orderBy("image_id").collect().toVector
    val gotLatest = Snapshots.readLatest(spark, rootA, 2)
      .select("image_id", "epoch", "phash", "caption")
      .orderBy("image_id").collect().toVector
    assert(gotLatest == wantLatest, "latest table != max-epoch-per-id over history")
  }

  test("recrawl mode: scheduled recrawls == backoff mirror; version chains grow; seen stays unique") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val root = tempDir("graft-recrawl")
    val rootCtl = tempDir("graft-recrawl-ctl")
    val bigCfg = FrontierJob.Config(globalBudget = 100000)
    CrawlPipeline.run(spark, root, untilEpoch = 3, seedsPerEpoch = 300, bigCfg, recrawl = true)
    CrawlPipeline.run(spark, rootCtl, untilEpoch = 3, seedsPerEpoch = 300, bigCfg)

    def schedCanon(r: String, e: Int): Set[String] =
      spark.read.parquet(s"$r/scheduled/epoch=$e")
        .select("url_canon").as[String].collect().toSet

    // 1. per epoch: re-scheduled URLs (already scheduled before) are
    //    exactly the local backoff mirror's due set, modulo the per-host
    //    politeness budget — a due recrawl may legitimately lose the
    //    priority top-K on a SATURATED host (recrawls compete for the same
    //    budgets as discoveries), but never vanish for any other reason,
    //    and nothing outside the due set is ever re-scheduled
    val budgets = graft.sources.Gen.robotsLocal()
      .map(r => r.host -> math.min(r.host_budget, cfg.maxHostBudget)).toMap
    for (e <- 1 to 3) {
      val revs = (0 until e).flatMap(d =>
        spark.read.parquet(s"$root/revisions/epoch=$d")
          .select("image_id", "epoch", "change")
          .as[(String, Int, String)].collect())
      val dueMirror = revs.groupBy(_._1).collect {
        case (id, rs)
          if e - rs.map(_._2).max >= math.min(8,
            rs.map(_._2).max -
              rs.filter(_._3 != "unchanged").map(_._2).reduceOption(_ max _).getOrElse(-1) + 1) => id
      }.toSet
      val prevSched = (0 until e).flatMap(schedCanon(root, _)).toSet
      val schedE = schedCanon(root, e)
      val rescheduled = schedE intersect prevSched
      assert((rescheduled -- dueMirror).isEmpty,
        s"epoch $e re-scheduled URLs outside the due set: ${(rescheduled -- dueMirror).take(3)}")
      val hostLoad = schedE.toSeq.groupBy(graft.functions.UrlKit.hostOf)
        .map { case (h, us) => h -> us.size }
      (dueMirror -- rescheduled).foreach { id =>
        val h = graft.functions.UrlKit.hostOf(id)
        assert(hostLoad.getOrElse(h, 0) == budgets(h),
          s"epoch $e: due $id dropped but host $h not saturated " +
            s"(${hostLoad.getOrElse(h, 0)}/${budgets(h)})")
      }
      assert(e > 1 || dueMirror.nonEmpty, "plant produced no due recrawls at epoch 1")
    }

    // 2. version chains: recrawl mode re-fetches produce multi-epoch
    //    image_id chains (the news-diff behavior); a pure discovery crawl
    //    never does
    def chains(r: String): Long =
      spark.read.parquet(s"$r/snapshots")
        .groupBy("image_id").agg(countDistinct("epoch").as("n"))
        .where(col("n") >= 2).count()
    assert(chains(root) > 0, "recrawl produced no version chains")
    assert(chains(rootCtl) == 0, "control (no recrawl) unexpectedly re-fetched")

    // 3. the seen store stays duplicate-free (recrawls are not re-appended)
    val dupSeen = spark.read.parquet(s"$root/url_seen")
      .groupBy("url_hash").count().where(col("count") > 1).count()
    assert(dupSeen == 0, s"$dupSeen duplicated url_hash rows in url_seen")

    // 4. resume determinism: recrawl due sets recompute identically from
    //    committed revisions
    val rootR = tempDir("graft-recrawl-resume")
    CrawlPipeline.run(spark, rootR, untilEpoch = 1, seedsPerEpoch = 300, bigCfg, recrawl = true)
    CrawlPipeline.run(spark, rootR, untilEpoch = 3, seedsPerEpoch = 300, bigCfg, recrawl = true)
    for (e <- 0 to 3)
      assert(schedCanon(rootR, e) == schedCanon(root, e),
        s"epoch $e schedule differs after resume")
  }

  test("cuckoo-sidecar pipeline == bloom-sidecar pipeline (every output table)") {
    val rootB = tempDir("graft-bloomside")
    val rootC = tempDir("graft-cuckooside")
    CrawlPipeline.run(spark, rootB, untilEpoch = 2, seedsPerEpoch = 700, cfg)
    CrawlPipeline.run(spark, rootC, untilEpoch = 2, seedsPerEpoch = 700, cfg,
      sidecar = "cuckoo")
    def seenSet(root: String): Set[(Long, Int)] =
      spark.read.parquet(s"$root/url_seen").select("url_hash", "first_epoch")
        .as[(Long, Int)].collect().toSet
    def schedule(root: String, e: Int): Vector[(Long, Int, Long)] =
      spark.read.parquet(s"$root/scheduled/epoch=$e")
        .select("url_hash", "slot", "scheduled_at_ms")
        .as[(Long, Int, Long)].collect().sortBy(x => (x._3, x._1)).toVector
    assert(seenSet(rootB) == seenSet(rootC), "seen sets diverge across sidecar kinds")
    (0 to 2).foreach(e =>
      assert(schedule(rootB, e) == schedule(rootC, e), s"schedule diverges epoch $e"))
    def revs(root: String) =
      spark.read.parquet(s"$root/revisions/epoch=2").orderBy("image_id").collect().toVector
    assert(revs(rootB) == revs(rootC), "revisions diverge across sidecar kinds")
    // the cuckoo sidecar really is the one in play: per-epoch cumulative
    // files exist and probe true for every seen hash
    val tables = graft.sources.SeenStore.loadCuckoos(spark, rootC, 2)
    assert(tables.nonEmpty, "no cuckoo sidecar written")
    val seenRows = spark.read.parquet(s"$rootC/url_seen")
      .select("url_hash", "host").as[(Long, String)].collect()
    seenRows.foreach { case (h, host) =>
      val bucket = ((graft.operators.CrawlOracle.xxhash64(host) % 16 + 16) % 16).toInt
      val t = graft.functions.Cuckoo64.deserialize(tables(bucket))
      assert(graft.functions.Cuckoo64.contains(t, h), s"seen hash $h missing from sidecar")
    }
  }

  test("cuckoo saturation self-heal survives post-rebuild epochs (shape-matched merge)") {
    // Force saturation: sidecarPerBucket=16 sizes each table at 8 buckets x
    // 4 slots = 32 fingerprints, while ~700/16 hashes land per host bucket
    // per epoch — epoch 0 overflows, triggering the rebuild; epochs 1-2 then
    // exercise the post-rebuild merge path (per-epoch tables must be built
    // at the GROWN persisted shape or Cuckoo64.mergeInto throws).
    val rootB = tempDir("graft-bloomsat")
    val rootC = tempDir("graft-cuckoosat")
    CrawlPipeline.run(spark, rootB, untilEpoch = 2, seedsPerEpoch = 700, cfg)
    CrawlPipeline.run(spark, rootC, untilEpoch = 2, seedsPerEpoch = 700, cfg,
      sidecar = "cuckoo", sidecarPerBucket = 16L)
    def schedule(root: String, e: Int): Vector[(Long, Int, Long)] =
      spark.read.parquet(s"$root/scheduled/epoch=$e")
        .select("url_hash", "slot", "scheduled_at_ms")
        .as[(Long, Int, Long)].collect().sortBy(x => (x._3, x._1)).toVector
    (0 to 2).foreach(e =>
      assert(schedule(rootB, e) == schedule(rootC, e), s"schedule diverges epoch $e"))
    val tables = graft.sources.SeenStore.loadCuckoos(spark, rootC, 2)
    assert(tables.nonEmpty, "no cuckoo sidecar written")
    // the rebuild really ran: persisted tables outgrew the seed shape and
    // healing succeeded (skew-aware sizing left no bucket saturated)
    val seedShape = graft.functions.Cuckoo64.numBucketsFor(16L)
    val shapes = tables.values.map(graft.functions.Cuckoo64.tableBucketsOf)
    assert(shapes.forall(_ > seedShape),
      s"expected grown tables, got shapes ${shapes.toSeq.sorted} (seed $seedShape)")
    tables.values.foreach(bytes => assert(
      !graft.functions.Cuckoo64.isOverflowed(graft.functions.Cuckoo64.deserialize(bytes)),
      "rebuild left a saturated bucket — skew-aware sizing failed"))
    // no false negatives across the whole history
    val seenRows = spark.read.parquet(s"$rootC/url_seen")
      .select("url_hash", "host").as[(Long, String)].collect()
    seenRows.foreach { case (h, host) =>
      val bucket = ((graft.operators.CrawlOracle.xxhash64(host) % 16 + 16) % 16).toInt
      val t = graft.functions.Cuckoo64.deserialize(tables(bucket))
      assert(graft.functions.Cuckoo64.contains(t, h), s"seen hash $h missing after rebuild")
    }
  }

  test("cuckoo host purge: host re-schedules, others untouched, no false negatives") {
    import graft.functions.Cuckoo64
    val noBudget = FrontierJob.Config() // per-host budgets only — hosts stay independent
    val rootP = tempDir("graft-purge")
    val rootC = tempDir("graft-purgectl")
    CrawlPipeline.run(spark, rootP, untilEpoch = 1, seedsPerEpoch = 700, noBudget,
      sidecar = "cuckoo")
    CrawlPipeline.run(spark, rootC, untilEpoch = 1, seedsPerEpoch = 700, noBudget,
      sidecar = "cuckoo")
    val host = spark.read.parquet(s"$rootP/url_seen")
      .groupBy("host").count().orderBy(col("count").desc, col("host"))
      .select("host").as[String].head()
    val victimHashes = spark.read.parquet(s"$rootP/url_seen")
      .where(col("host") === host).select("url_hash").as[Long].collect().toSet
    val nPurged = graft.sources.SeenStore.purgeHost(spark, rootP, host, 16)
    assert(nPurged == victimHashes.size && nPurged > 0)
    // exact decider forgot the host; sidecar precision restored in place
    val remaining = graft.sources.SeenStore.load(spark, rootP).collect()
    assert(!remaining.exists(_.host == host), "purged host still in seen store")
    val tables = graft.sources.SeenStore.loadCuckoos(spark, rootP, 1)
    remaining.foreach { e =>
      val b = ((CrawlOracle.xxhash64(e.host) % 16 + 16) % 16).toInt
      assert(Cuckoo64.contains(Cuckoo64.deserialize(tables(b)), e.url_hash),
        s"false negative for surviving ${e.host} after purge")
    }
    val vb = ((CrawlOracle.xxhash64(host) % 16 + 16) % 16).toInt
    val vTable = Cuckoo64.deserialize(tables(vb))
    val fpSurvivors = victimHashes.count(Cuckoo64.contains(vTable, _))
    assert(fpSurvivors <= math.max(1, victimHashes.size / 20),
      s"$fpSurvivors of ${victimHashes.size} purged fingerprints still probe true")
    // next epoch: the purged run re-schedules the host's previously-seen
    // URLs; every OTHER host's schedule is bit-identical to the control
    CrawlPipeline.run(spark, rootP, untilEpoch = 2, seedsPerEpoch = 700, noBudget,
      sidecar = "cuckoo")
    CrawlPipeline.run(spark, rootC, untilEpoch = 2, seedsPerEpoch = 700, noBudget,
      sidecar = "cuckoo")
    def sched(root: String): Seq[(Long, String)] =
      spark.read.parquet(s"$root/scheduled/epoch=2")
        .select("url_hash", "host").as[(Long, String)].collect().toSeq
    val p2 = sched(rootP)
    val c2 = sched(rootC)
    val reScheduled = p2.filter(_._2 == host).map(_._1).toSet.intersect(victimHashes)
    assert(reScheduled.nonEmpty, "no previously-seen URL of the purged host re-scheduled")
    assert(p2.filterNot(_._2 == host).toSet == c2.filterNot(_._2 == host).toSet,
      "purge leaked into other hosts' schedules")
  }

  test("seen-store compaction mid-history: identical crawl, narrowed read path, crash-safe") {
    val rootA = tempDir("graft-nocompact")
    val rootB = tempDir("graft-compact")
    // A: compaction never fires (default cadence 8 > 3 epochs);
    // B: compacts after EVERY epoch — every dedupe from epoch 1 on reads
    // compact + 1-epoch tail instead of the full epoch-dir union
    CrawlPipeline.run(spark, rootA, untilEpoch = 2, seedsPerEpoch = 600, cfg)
    CrawlPipeline.run(spark, rootB, untilEpoch = 2, seedsPerEpoch = 600, cfg,
      compactSeenEvery = 1)
    def seenSet(root: String): Set[(Long, Int)] =
      spark.read.parquet(s"$root/url_seen").select("url_hash", "first_epoch")
        .as[(Long, Int)].collect().toSet
    def schedule(root: String, e: Int): Vector[(Long, Int, Long)] =
      spark.read.parquet(s"$root/scheduled/epoch=$e")
        .select("url_hash", "slot", "scheduled_at_ms")
        .as[(Long, Int, Long)].collect().sortBy(x => (x._3, x._1)).toVector
    assert(seenSet(rootA) == seenSet(rootB), "seen sets diverge under compaction")
    (0 to 2).foreach(e =>
      assert(schedule(rootA, e) == schedule(rootB, e), s"schedule diverges epoch $e"))
    // compacts completed (gated on _SUCCESS) and load() returns the same
    // set through the compact+tail path as the raw epoch union
    assert(graft.sources.SeenStore.latestCompactEpoch(rootB, Int.MaxValue) == 2)
    val viaLoad = graft.sources.SeenStore.load(spark, rootB)
      .select("url_hash", "first_epoch").as[(Long, Int)].collect().toSet
    assert(viaLoad == seenSet(rootB), "compact+tail load != raw epoch union")
    // crash after epoch-2 compaction but before... (manifest deleted): the
    // epoch-2 compact must be IGNORED (> committed) and resume converge
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$rootB/_manifests/epoch-2.json"))
    assert(graft.sources.SeenStore.latestCompactEpoch(rootB, 1) == 1)
    CrawlPipeline.run(spark, rootB, untilEpoch = 2, seedsPerEpoch = 600, cfg,
      compactSeenEvery = 1)
    assert(seenSet(rootA) == seenSet(rootB), "post-resume seen set diverged")
    assert(schedule(rootA, 2) == schedule(rootB, 2), "post-resume schedule diverged")
    // a HALF-WRITTEN compact (no _SUCCESS) is invisible to the read path
    val half = s"$rootB/url_seen_compact/epoch=9"
    new java.io.File(half).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$half/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(graft.sources.SeenStore.latestCompactEpoch(rootB, Int.MaxValue) == 2,
      "partial compact without _SUCCESS was not ignored")
  }

  /** Order-free digest of every `<family>/epoch=e` dir and every manifest
    * under `root`: row count + summed row hash per dir, the manifest's
    * bytes. The wall-clock columns (`elapsed_ms`, `wall_ms`) are left out.
    */
  private def rootDigest(root: String): Map[String, String] = {
    val dirs = for {
      fam <- new java.io.File(root).listFiles().toSeq
      if fam.isDirectory && fam.getName != "_manifests"
      dir <- fam.listFiles().toSeq
      if dir.isDirectory && dir.getName.startsWith("epoch=")
    } yield {
      val df = spark.read.parquet(dir.getPath).drop("elapsed_ms", "wall_ms")
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
        .head()
      s"${fam.getName}/${dir.getName}" -> s"${r.getLong(0)}:${r.get(1)}"
    }
    val manifests = new java.io.File(s"$root/_manifests").listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .map(f => s"_manifests/${f.getName}" -> java.nio.file.Files.readString(f.toPath))
    (dirs ++ manifests).toMap
  }

  private def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val all = java.nio.file.Files.walk(src)
    try all.iterator().asScala.foreach { p =>
      val q = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally all.close()
  }

  private def rmTree(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles()).foreach(_.foreach(c => rmTree(c.getPath)))
    f.delete()
  }

  test("crash mid-epoch (all state written, manifest missing) resumes to identical state") {
    // A crash-point matrix over epoch 2's pre-commit writers, in write
    // order. Crash point i: writer i died mid-write (its epoch=2 dir has no
    // _SUCCESS), no later writer ran, the manifest was never renamed in.
    // The last point is the worst case: every writer done, manifest
    // missing — resume MUST re-run epoch 2 and converge, in particular it
    // must not dedupe against the crashed epoch's own url_seen entries.
    def matrix(name: String, writers: Seq[String], crawl: String => Unit): Unit = {
      val straight = tempDir(s"graft-crash-$name")
      crawl(straight)
      val epoch2 = new java.io.File(straight).listFiles().toSeq
        .filter(f => new java.io.File(f, "epoch=2").isDirectory).map(_.getName).toSet
      assert(writers.toSet == epoch2, s"$name: writer list != epoch-2 families")
      val want = rootDigest(straight)
      for (i <- 0 to writers.length) {
        val root = tempDir(s"graft-crash-$name-$i")
        copyTree(straight, root)
        java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_manifests/epoch-2.json"))
        if (i < writers.length)
          java.nio.file.Files.delete(
            java.nio.file.Paths.get(s"$root/${writers(i)}/epoch=2/_SUCCESS"))
        writers.drop(i + 1).foreach(w => rmTree(s"$root/$w/epoch=2"))
        assert(Snapshots.latestCommittedEpoch(root) == 1)
        crawl(root)
        val at = if (i < writers.length) writers(i) else "manifest"
        val got = rootDigest(root)
        val diff = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
        assert(diff.isEmpty, s"$name: crash at $at resumed to a different state: " +
          diff.toSeq.sorted.mkString(", "))
      }
    }
    matrix("default",
      Seq("scheduled", "snapshots", "lineage", "url_seen", "bloom", "revisions", "latest"),
      root => CrawlPipeline.run(spark, root, untilEpoch = 2, seedsPerEpoch = 600, cfg))
    matrix("features",
      Seq("robots_held", "scheduled", "carryover", "snapshots", "lineage", "backoff",
        "latency_hist", "url_seen", "bloom", "revisions", "robots_purged", "latest"),
      root => CrawlPipeline.run(spark, root, untilEpoch = 2, seedsPerEpoch = 600, cfg,
        aging = true, backoff = true, adaptivePacing = true, recrawl = true,
        retryFailures = true, robotsFlipEpoch = 2))
  }
}

/** The north_rule's "per-partition lineage and fetch/parse metrics" clause,
  * golden-tested against single-threaded mirrors: every counter in the
  * manifest (n_scheduled / n_deduped / n_fetched / n_parsed / n_failed) is
  * recomputed locally per fetch partition from the same deterministic
  * kernels and must match exactly; failure injection must actually fire.
  */
class LineageMetricsSpec extends AnyFunSuite {
  import spark.implicits._

  private val P = 8
  private val nSeeds = 600

  /** Local mirror of CrawlPipeline.fetchPartitionId == repartition routing:
    * pmod(murmur3_32(url_hash, seed=42), P).
    */
  private def pidOf(urlHash: Long): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(urlHash, org.apache.spark.sql.types.LongType, 42L).toInt
    ((h % P) + P) % P
  }

  private lazy val root: String = {
    val r = tempDir("graft-lineage")
    CrawlPipeline.run(spark, r, untilEpoch = 1, seedsPerEpoch = nSeeds,
      FrontierJob.Config(globalBudget = 400), fetchPartitions = P)
    r
  }

  private def lineage(epoch: Int) =
    spark.read.parquet(s"$root/lineage").where(col("epoch") === epoch)

  test("fetch/parse counters match the local failure mirror, per partition") {
    for (epoch <- 0 to 1) {
      val sched = spark.read.parquet(s"$root/scheduled/epoch=$epoch")
        .select("url_hash").as[Long].collect()
      val expect = sched.groupBy(pidOf).map { case (pid, hs) =>
        val nFetchFail = hs.count(h => CrawlPipeline.fetchFails(h, epoch))
        val nParseFail = hs.count(h =>
          !CrawlPipeline.fetchFails(h, epoch) && CrawlPipeline.parseFails(h, epoch))
        pid -> ((hs.length.toLong, hs.length.toLong - nFetchFail,
          hs.length.toLong - nFetchFail - nParseFail, (nFetchFail + nParseFail).toLong))
      }
      val got = lineage(epoch)
        .select("partition_id", "n_scheduled", "n_fetched", "n_parsed", "n_failed")
        .as[(Int, Long, Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      expect.foreach { case (pid, want) =>
        assert(got(pid) == want, s"epoch=$epoch pid=$pid: got ${got(pid)}, want $want")
      }
      // the injected failure classes actually fire — counters aren't
      // vacuously zero — and task wall times are present
      assert(expect.values.map(_._4).sum > 0, s"epoch $epoch: no failures injected")
      assert(lineage(epoch).select("wall_ms").as[Long].collect().forall(_ >= 0L))
    }
  }

  test("written rows sit in the partition the manifest attributes them to") {
    for (epoch <- 0 to 1) {
      val raw = Snapshots.readRaw(spark, root, epoch)
        .select(col("partition_id"),
          org.apache.spark.sql.functions.xxhash64(col("image_id")).as("h"))
        .as[(Int, Long)].collect()
      raw.foreach { case (pid, h) =>
        assert(pid == pidOf(h), s"epoch=$epoch: row routed to $pid, manifest key ${pidOf(h)}")
      }
    }
  }

  test("n_deduped matches the single-threaded dedupe mirror, per partition") {
    import graft.functions.UrlKit
    def validCanon(urls: Seq[String]): Seq[String] =
      urls.map(UrlKit.canonicalize).filter(c => c != null && c.nonEmpty)
    def gotDedup(epoch: Int): Map[Int, Long] =
      lineage(epoch).select("partition_id", "n_deduped")
        .as[(Int, Long)].collect().toMap.filter(_._2 > 0L)

    // epoch 0: seen set empty => n_deduped is pure in-batch duplicate collapse
    val raw0 = validCanon(Gen.seedsLocal(nSeeds).map(_.url))
    val exp0 = raw0.groupBy(c => pidOf(CrawlOracle.xxhash64(c)))
      .map { case (pid, cs) => pid -> (cs.size.toLong - cs.distinct.size.toLong) }
      .filter(_._2 > 0L)
    assert(gotDedup(0) == exp0, "epoch-0 in-batch dedupe counts diverge from mirror")

    // epoch 1: candidates = fresh seeds + outlinks of the epoch-0 schedule;
    // n_deduped = raw - survivors, survivors = unique canon not yet seen
    val seen0 = spark.read.parquet(s"$root/scheduled/epoch=0")
      .select("url_hash").as[Long].collect().toSet
    val outlinkUrls = spark.read.parquet(s"$root/scheduled/epoch=0")
      .select("host", "url_hash").as[(String, Long)].collect()
      .flatMap { case (host, h) =>
        (0 until 2).map { k =>
          val a = java.lang.Long.remainderUnsigned(ImageKit.mix64(h ^ (k + 1L)), 100000L)
          s"http://$host/news/linked/art-$a"
        }
      }
    val raw1 = validCanon(Gen.seedsLocal(nSeeds).map(_.url) ++ outlinkUrls)
    val exp1 = raw1.groupBy(c => pidOf(CrawlOracle.xxhash64(c)))
      .map { case (pid, cs) =>
        val survivors = cs.distinct.count(c => !seen0.contains(CrawlOracle.xxhash64(c)))
        pid -> (cs.size.toLong - survivors)
      }
      .filter(_._2 > 0L)
    assert(gotDedup(1) == exp1, "epoch-1 dedupe counts (batch + seen) diverge from mirror")
  }
}
