package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** c77 goldens (scale-variant dedup + best-copy election). Pinned: the
  * radius-6 combination-blocked matcher equals a brute-force all-pairs
  * mirror EXACTLY (certain recall: <= 6 flips leave two 8-bit blocks
  * intact, so a C(8,2) key matches); the fixture proves the machinery is
  * load-bearing twice over — pairs exist at hamming 4..6 (c17's radius-3
  * gate drops them) AND pairs exist sharing NO intact 16-bit block (c17's
  * 4x16 blocking cannot even see them as candidates); the election keeps
  * exactly the full-res png of every planted trio, equals a
  * single-threaded union-find + argmax mirror, and provably differs from
  * the min-hash survivor rule on this corpus.
  */
class ScaleDedupSpec extends AnyFunSuite {
  private val tau = 6

  private def corpus(): Array[(String, Long, Int, Int, String)] =
    ImageOps.scaleCorpus(spark).select("image_id", "phash", "w", "h", "fmt")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getString(4)))

  private def brutePairs(imgs: Array[(String, Long, Int, Int, String)])
      : Set[(String, String, Int)] =
    (for {
      a <- imgs; b <- imgs
      ha = CrawlOracle.xxhash64(a._1)
      hb = CrawlOracle.xxhash64(b._1)
      if ha < hb
      d = java.lang.Long.bitCount(a._2 ^ b._2)
      if d <= tau
    } yield (a._1, b._1, d)).toSet

  test("c77 matches == brute-force all-pairs mirror at radius 6") {
    val imgs = corpus()
    val want = brutePairs(imgs)
    val got = ImageOps.scaleMatches(ImageOps.scaleCorpus(spark), tau)
      .select("image_a", "image_b", "hamming").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture vacuous")
    // the radius extension is load-bearing: some true pair sits past 3
    assert(want.exists(_._3 > 3), "no pair beyond c17's radius-3 gate")
    // the combination blocking is load-bearing: some true pair shares no
    // intact 16-bit block, so c17's 4x16 matcher has no candidate for it
    val byId = imgs.map(i => i._1 -> i._2).toMap
    def shares16(a: Long, b: Long): Boolean =
      (0 until 4).exists(k => ((a >>> (k * 16)) & 0xffffL) == ((b >>> (k * 16)) & 0xffffL))
    assert(want.exists { case (x, y, _) => !shares16(byId(x), byId(y)) },
      "every pair visible to the 16-bit blocking — fixture too easy")
  }

  test("c77 election == union-find + argmax mirror; full png survives") {
    val imgs = corpus()
    val ids = imgs.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toIndexedSeq: _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    brutePairs(imgs).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val byComp = ids.groupBy(find)
    def score(id: String): (Long, Long) = {
      val r = imgs.find(_._1 == id).get
      val s = r._3.toLong * r._4 * 2L + (if (r._5 == "png") 1L else 0L)
      // argmax score, then MIN img_hash: negate via bitwise NOT (monotone)
      (s, ~CrawlOracle.xxhash64(id))
    }
    val wantKept = byComp.values.flatMap { members =>
      if (members.length == 1) members else Seq(members.maxBy(score))
    }.toSet
    val got = ImageOps.electBestCopies(ImageOps.scaleCorpus(spark), tau)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(got == wantKept)
    // every planted trio elects its full-res png; every solo survives
    val groups = ids.count(_.endsWith("-full"))
    assert(groups >= 10, "fixture too small")
    (0 until groups).foreach { i =>
      assert(got.contains(s"img-$i-full"), s"trio $i lost its best copy")
      assert(!got.contains(s"img-$i-half") && !got.contains(s"img-$i-thumb"),
        s"trio $i kept a lesser copy")
      assert(got.contains(s"img-$i-solo"))
    }
    // the policy is load-bearing: min-hash survivorship disagrees here
    val minHashKept = byComp.values.flatMap { members =>
      if (members.length == 1) members
      else Seq(members.minBy(CrawlOracle.xxhash64))
    }.toSet
    assert(got != minHashKept, "min-hash rule happens to agree — vacuous")
  }
}
