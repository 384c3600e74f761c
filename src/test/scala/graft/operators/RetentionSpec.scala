package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** c48 goldens (version-chain retention thinning). Pinned: the retained key
  * set equals a single-threaded mirror of the policy; per-chain invariants
  * (first + latest always survive, full window fidelity, bounded thinned
  * count); applyRetention is an exact key-pair filter of the payload table.
  */
class RetentionSpec extends AnyFunSuite {
  private val atSeq = 11L
  private val keepWindow = 3L
  private val stride = 3
  private val boundary = atSeq - keepWindow + 1

  private def chains(): Map[Long, Seq[Long]] =
    RetentionOps.demoVersions(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).sorted.toSeq }

  private def mirror(): Set[(Long, Long, String)] =
    chains().flatMap { case (id, seqs) =>
      val nOld = seqs.count(_ < boundary)
      seqs.zipWithIndex.flatMap { case (seq, idx) =>
        val rk = idx + 1
        val reason =
          if (seq >= boundary) Some("window")
          else if (rk == 1) Some("first")
          else if (rk == nOld) Some("boundary")
          else if ((rk - 1) % stride == 0) Some("stride")
          else None
        reason.map(r => (id, seq, r))
      }
    }.toSet

  test("c48 retained keys == single-threaded policy mirror") {
    val got = RetentionOps.retentionDemo(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = mirror()
    assert(got == want)
    // fixture exercises every reason class
    assert(Set("window", "first", "boundary", "stride")
      .subsetOf(got.map(_._3)), s"reason classes thin: ${got.map(_._3)}")
  }

  test("c48 invariants: first+latest survive, window is full-fidelity, thinning bounded") {
    val keys = RetentionOps.retentionDemo(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cs = chains()
    assert(cs.exists { case (_, seqs) => seqs.max < boundary }, "no dead chain planted")
    cs.foreach { case (id, seqs) =>
      assert(keys.contains((id, seqs.min)), s"chain $id lost its first version")
      assert(keys.contains((id, seqs.max)), s"chain $id lost its LATEST version")
      seqs.filter(_ >= boundary).foreach { s =>
        assert(keys.contains((id, s)), s"in-window version ($id,$s) dropped")
      }
      val oldKept = seqs.filter(_ < boundary).count(s => keys.contains((id, s)))
      val nOld = seqs.count(_ < boundary)
      val bound = (if (nOld == 0) 0 else (nOld + stride - 1) / stride + 2)
      assert(oldKept <= bound, s"chain $id kept $oldKept of $nOld old (> $bound)")
    }
  }

  test("c48 pipeline wiring: persisted keys == direct kernel; resume no-op") {
    val root = graft.SparkTestBase.tempDir("graft-retain")
    CrawlPipeline.run(spark, root, untilEpoch = 5, seedsPerEpoch = 120,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 100),
      retainEvery = 2, retainWindow = 2L, retainStride = 2)
    // newest committed table is epoch 5 ((5+1) % 2 == 0)
    assert(RetentionOps.latestRetainedEpoch(root, 5) == 5)
    val persisted = spark.read.parquet(s"$root/retained_keys/epoch=5")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val direct = RetentionOps.retentionKeys(
      graft.sources.Snapshots.readUpTo(spark, root, 5).select("image_id", "epoch"),
      "image_id", "epoch", 5L, 2L, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(persisted == direct)
    assert(persisted.nonEmpty, "pipeline wrote an empty retention table")
    // resume is a no-op: re-invoking at the same untilEpoch rewrites nothing
    val before = new java.io.File(s"$root/retained_keys/epoch=5/_SUCCESS").lastModified()
    CrawlPipeline.run(spark, root, untilEpoch = 5, seedsPerEpoch = 120,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 100),
      retainEvery = 2, retainWindow = 2L, retainStride = 2)
    assert(new java.io.File(s"$root/retained_keys/epoch=5/_SUCCESS")
      .lastModified() == before, "resume re-ran a committed epoch's retention")
  }

  test("c48 thinned archive: exact, drops versions, preserves every latest (multi-version history)") {
    import org.apache.spark.sql.functions.col
    import graft.SparkTestBase.spark.implicits._
    val root = graft.SparkTestBase.tempDir("graft-retain-hist")
    // fabricate revision-heavy history: 30 pages, versions at epochs 0..7
    // (page i skips epoch e when mix64(i*13+e)%4==0; page i%6==0 dies at 3)
    (0 to 7).foreach { e =>
      val snaps = (0 until 30).flatMap { i =>
        val live = e == 0 || java.lang.Long.remainderUnsigned(
          graft.functions.ImageKit.mix64(i.toLong * 13L + e), 4L) != 0L
        val dead = i % 6 == 0 && e > 3
        if (live && !dead)
          Some(graft.sources.Gen.snapshotRow(s"http://h${i % 5}.example/art-$i",
            variant = e, captionVer = 0, fmt = "png", epoch = e))
        else None
      }
      graft.sources.Snapshots.writeEpoch(
        spark.createDataset(snaps), root, e)
    }
    RetentionOps.retainHistory(spark, root, 7, keepWindow = 2L, thinStride = 3)
    val full = graft.sources.Snapshots.readUpTo(spark, root, 7)
    val keys = spark.read.parquet(s"$root/retained_keys/epoch=7")
    assert(keys.select("reason").distinct().collect().map(_.getString(0)).toSet
      .contains("stride"), "fixture chains too short to thin")
    val wantRows = RetentionOps.applyRetention(full, keys, "image_id", "epoch")
      .select("image_id", "epoch", "phash").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val gotRows = RetentionOps.readRetainedHistory(spark, root, 7)
      .select("image_id", "epoch", "phash").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotRows == wantRows)
    assert(gotRows.size < full.count(), "retention dropped nothing end-to-end")
    // the thinned view still reconstructs the latest version of EVERY page
    def latest(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("image_id"), col("epoch").desc)
        .dropDuplicates("image_id").collect()
        .map(r => (r.getString(0), r.getInt(r.fieldIndex("epoch")),
          r.getLong(r.fieldIndex("phash")))).toSet
    assert(latest(RetentionOps.readRetainedHistory(spark, root, 7)) == latest(full),
      "latest-version reconstruction changed")
  }

  test("c48 applyRetention: payload table filtered to exactly the retained keys") {
    import org.apache.spark.sql.functions._
    val hist = RetentionOps.demoVersions(spark)
      .withColumn("caption", concat(lit("cap-"), col("image_id"), lit("-"), col("epoch")))
    val keys = RetentionOps.retentionKeys(hist, "image_id", "epoch",
      atSeq, keepWindow, stride)
    val kept = RetentionOps.applyRetention(hist, keys, "image_id", "epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val keySet = keys.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = hist.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(kept == full.filter(r => keySet.contains((r._1, r._2))).toSet)
    assert(kept.size < full.length, "retention dropped nothing — fixture vacuous")
  }
}
