package graft.operators

import graft.SparkTestBase.spark
import graft.functions.ImageKit
import org.scalatest.funsuite.AnyFunSuite

/** c52 goldens (flip-invariant near-dup). Pinned: the canonical hash is
  * orientation-invariant as a KERNEL property (canonPhash64(flip I) ==
  * canonPhash64(I), exactly, for every corpus image); the distributed
  * column equals the local kernel row-for-row; every planted mirrored
  * repost is found at hamming 0; and the blindness contrast is real —
  * plain whole-hash blocking misses (blocks share nothing) for the
  * majority of the planted pairs.
  */
class FlipMatchSpec extends AnyFunSuite {

  private lazy val corpus: Array[(String, Array[Byte])] =
    ImageOps.flipCorpus(spark).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))

  test("kernel: canonPhash64 is exactly orientation-invariant") {
    corpus.foreach { case (id, bytes) =>
      val (px, w, h) = ImageKit.decodeGray(bytes)
      val mirrored = ImageKit.encode(ImageKit.flipHorizontal(px, w, h), w, h, "png")
      assert(ImageKit.canonPhash64(bytes) == ImageKit.canonPhash64(mirrored),
        s"canonical hash of $id changed under mirroring")
    }
  }

  test("distributed canonical phash == local kernel, row-for-row") {
    val got = ImageOps.canonicalPhash(ImageOps.flipCorpus(spark)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size == corpus.length)
    corpus.foreach { case (id, bytes) =>
      assert(got(id) == ImageKit.canonPhash64(bytes), s"mismatch for $id")
    }
  }

  test("every planted mirrored repost found at hamming 0; plain phash blind to most") {
    val got = ImageOps.flipMatches(ImageOps.flipCorpus(spark)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
    val pairs = got.map(t => (Set(t._1, t._2), t._3, t._4))
    val planted = (0 until 48).filter(_ % 3 == 0)
      .map(i => Set(s"img-$i", s"img-$i?flip=h"))
    planted.foreach { p =>
      val hit = pairs.find(_._1 == p)
      assert(hit.isDefined, s"planted mirrored pair $p not found")
      assert(hit.get._2 == 0, s"planted pair $p at hamming ${hit.get._2}, want 0")
    }
    val missedByPlain = planted.count(p => pairs.exists(t => t._1 == p && t._3))
    assert(missedByPlain * 2 > planted.size,
      s"plain phash missed only $missedByPlain/${planted.size} planted pairs — " +
        "the flip-invariance contrast is vacuous on this corpus")
  }

  test("composition: canonical hashes feed the persisted index — cross-epoch mirrored reposts found incrementally") {
    import org.apache.spark.sql.functions.col
    import graft.SparkTestBase.spark
    val root = graft.SparkTestBase.tempDir("graft-c52-idx")
    // epoch 0: originals only; epoch 1: mirrored reposts of every 3rd —
    // the flipped copy arrives LATER and must pair against the corpus-so-
    // far through the persisted index (no re-hash of epoch 0)
    val all = ImageOps.flipCorpus(spark)
    val e0 = all.where(!col("image_id").contains("?flip"))
    val e1 = all.where(col("image_id").contains("?flip"))
    SimIndex.writePhashIndex(ImageOps.canonicalPhash(e0), root, 0)
    SimIndex.writePhashIndex(ImageOps.canonicalPhash(e1), root, 1)
    val got = SimIndex.crossEpochNearDupPhash(spark, root, 1).collect()
      .map(r => Set(r.getString(0), r.getString(1))).toSet
    val want = (0 until 48).filter(_ % 3 == 0)
      .map(i => Set(s"img-$i", s"img-$i?flip=h")).toSet
    assert(want.subsetOf(got),
      s"missing cross-epoch mirrored pairs: ${want -- got}")
  }
}
