package graft.operators

import graft.SparkTestBase.spark
import graft.functions.ImageKit
import graft.sources.{Gen, Snapshots}
import org.scalatest.funsuite.AnyFunSuite

/** c67 goldens (payload validation wired into the crawl pipeline).
  * Pinned: with the gate on, exactly the kernel-mirror damage set flips
  * to invalid_payload and the committed parsed view equals the control's
  * minus that set; both damage classes are realized, and the thumbnail
  * class provably passes the c55 magic+trailer audit (whole container)
  * while failing the c63 dims gate — the reason the dims gate is
  * load-bearing; scheduling and the seen store are gate-blind.
  */
class ValidationPipelineSpec extends AnyFunSuite {

  test("c67 pipeline: invalid set == damage mirror; parsed view = control minus damage; thumbnail class needs the dims gate") {
    val cfg = FrontierJob.Config(epoch = 0, globalBudget = 400,
      defaultHostBudget = 4, maxHostBudget = 4)
    def go(on: Boolean): String = {
      val root = graft.SparkTestBase.tempDir(s"graft-c67-$on")
      CrawlPipeline.run(spark, root, untilEpoch = 1, seedsPerEpoch = 600,
        cfg0 = cfg, payloadValidation = on)
      root
    }
    val rootV = go(true)
    val rootC = go(false)
    var sawTrunc = false
    var sawThumb = false
    (0 to 1).foreach { e =>
      // the gate is post-schedule: scheduling and the seen store are blind
      def sched(root: String): Set[Long] =
        spark.read.parquet(s"$root/scheduled/epoch=$e")
          .select("url_hash").collect().map(_.getLong(0)).toSet
      assert(sched(rootV) == sched(rootC), s"epoch $e scheduling diverged")

      def raw(root: String): Map[String, String] =
        Snapshots.readRaw(spark, root, e).select("image_id", "status")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val rawC = raw(rootC)
      val rawV = raw(rootV)
      val parsedC = rawC.collect { case (id, "parsed") => id }.toSet
      val damage = parsedC.iterator.map(id =>
        id -> CrawlPipeline.payloadDamage(CrawlOracle.xxhash64(id), e)).toMap
      val expectInvalid = parsedC.filter(damage(_) != 0)
      assert(rawV.collect { case (id, "invalid_payload") => id }.toSet
        == expectInvalid, s"epoch $e invalid set != damage mirror")
      assert(rawV.collect { case (id, "parsed") => id }.toSet
        == parsedC -- expectInvalid, s"epoch $e parsed view wrong")
      // non-parsed statuses pass through the gate untouched
      assert(rawC.filter(_._2 != "parsed") == rawV.filter(kv =>
        kv._2 != "parsed" && kv._2 != "invalid_payload"),
        s"epoch $e failure rows perturbed")
      // invalid rows carry a null payload at rest
      val nullBytes = Snapshots.readRaw(spark, rootV, e)
        .where(org.apache.spark.sql.functions.col("status") === "invalid_payload")
        .select("bytes").collect().forall(_.isNullAt(0))
      assert(nullBytes, s"epoch $e invalid row kept its payload")

      // per-class accounting: rebuild each damaged payload exactly as the
      // pipeline does and check which audits catch it
      expectInvalid.foreach { id =>
        val h = CrawlOracle.xxhash64(id)
        val fmt = if ((h & 1L) == 0L) "png" else "jpeg"
        val clean = Gen.snapshotRow(id, CrawlPipeline.contentVariant(h, e),
          CrawlPipeline.captionVariant(h, e), fmt, e).bytes
        def trailerOk(b: Array[Byte]): Boolean =
          if (fmt == "png")
            b.length >= 8 && new String(b.slice(b.length - 8, b.length - 4)) == "IEND"
          else b.length >= 2 && (b(b.length - 2) & 0xff) == 0xff &&
            (b(b.length - 1) & 0xff) == 0xd9
        damage(id) match {
          case 1 =>
            val trunc = clean.take(12)
            assert(!trailerOk(trunc) && ImageKit.headerDims64(trunc) == -1L)
            sawTrunc = true
          case 2 =>
            val (px, w, h0) = ImageKit.decodeGray(clean)
            val tw = w / 2; val th = h0 / 2
            val tp = ImageKit.resampleArea(px, w, h0, tw, th)
              .map(v => math.max(0, math.min(255, math.round(v).toInt)))
            val thumb = ImageKit.encode(tp, tw, th, fmt)
            // whole container: c55 alone would ADMIT it
            assert(trailerOk(thumb), s"thumbnail $id container broken")
            val packed = ImageKit.headerDims64(thumb)
            assert(ImageKit.dimsW(packed) == tw && ImageKit.dimsH(packed) == th
              && (tw != w || th != h0), s"thumbnail $id dims not halved")
            sawThumb = true
          case _ => fail(s"clean row $id in the invalid set")
        }
      }
    }
    assert(sawTrunc && sawThumb, "both damage classes must be realized")
  }
}
