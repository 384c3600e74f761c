package graft.operators

import graft.SparkTestBase.spark
import graft.functions.ImageKit
import org.scalatest.funsuite.AnyFunSuite

/** c81 goldens (composed image corpus build). Pinned: the one-plan
  * composition equals a single-threaded mirror that recomputes every
  * quality gate from the row bytes and resolves dedup with brute pairs +
  * union-find + the (area, png, hash) policy over the quality survivors
  * ONLY; every verdict class is live; each scale trio lands exactly as
  * designed (thumb quality_fail on the resolution floor, half dup_lesser,
  * full kept); c36's planted failure families all read quality_fail.
  */
class CorpusBuildSpec extends AnyFunSuite {
  private val tau = 6

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("c81 composed build == quality-then-dedup mirror exactly") {
    val rows = ImageOps.compositeCurationCorpus(spark)
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getInt(2),
        r.getInt(3), r.getString(4), r.getString(5), r.getLong(6)))
    // quality mirror: the five c36 gates recomputed from bytes
    def passes(id: String, bytes: Array[Byte], w: Int, h: Int,
               caption: String): Boolean = {
      val (px, dw, dh) = ImageKit.decodeGray(bytes)
      val contrast = if (dw == 0 || dh == 0) 0.0 else {
        val pooled = ImageKit.resampleArea(px, dw, dh,
          ImageOps.GridSize, ImageOps.GridSize)
        val mean = pooled.sum / pooled.length
        round4(math.sqrt(pooled.map(v => (v - mean) * (v - mean)).sum / pooled.length))
      }
      math.min(w, h) >= 24 &&
        math.max(w, h) * 100 / math.min(w, h) <= 200 &&
        caption.split(" ", -1).length >= 3 &&
        caption.startsWith(s"caption of $id ") &&
        contrast >= 2.0
    }
    val quality = rows.filter(r => passes(r._1, r._2, r._3, r._4, r._6))
    // dedup mirror over quality survivors only: brute pairs + union-find +
    // (area, png-bit, ~hash) argmax
    val parent = scala.collection.mutable.Map(quality.map(r => r._1 -> r._1).toIndexedSeq: _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      a <- quality; b <- quality
      if CrawlOracle.xxhash64(a._1) < CrawlOracle.xxhash64(b._1)
      if java.lang.Long.bitCount(a._7 ^ b._7) <= tau
    } { val (ra, rb) = (find(a._1), find(b._1)); if (ra != rb) parent(ra) = rb }
    def score(r: (String, Array[Byte], Int, Int, String, String, Long)) =
      (r._3.toLong * r._4 * 2L + (if (r._5 == "png") 1L else 0L),
        ~CrawlOracle.xxhash64(r._1))
    val elected = quality.groupBy(r => find(r._1)).values.flatMap { ms =>
      if (ms.length == 1) ms.map(_._1) else Seq(ms.maxBy(score)._1)
    }.toSet
    val want = rows.map { r =>
      r._1 -> (if (!quality.exists(_._1 == r._1)) "quality_fail"
               else if (!elected(r._1)) "dup_lesser" else "kept")
    }.toMap
    val got = ImageOps.corpusBuildDemo(spark).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == want)
    // every verdict class live
    Seq("kept", "quality_fail", "dup_lesser").foreach(v =>
      assert(got.values.exists(_ == v), s"verdict $v vacuous"))
    // the trios land exactly as designed
    val groups = rows.map(_._1).count(_.endsWith("-full"))
    assert(groups >= 10, "fixture too small")
    (0 until groups).foreach { g =>
      assert(got(s"img-$g-full") == "kept", s"trio $g full: ${got(s"img-$g-full")}")
      assert(got(s"img-$g-half") == "dup_lesser", s"trio $g half: ${got(s"img-$g-half")}")
      assert(got(s"img-$g-thumb") == "quality_fail", s"trio $g thumb")
      // solos pass quality by construction; an accidental hamming-6
      // collision with an equal-area image can lose them the hash
      // tie-break (mirror-verified above), so only the gate is pinned
      assert(got(s"img-$g-solo") != "quality_fail", s"trio $g solo")
    }
    // c36's planted families all fail quality (spot the disjoint plants)
    Seq(13L, 17L, 19L, 29L).foreach { m =>
      val planted = (0L until 400L).filter(_ % m == 0).map(i => s"img-$i")
      assert(planted.forall(got(_) == "quality_fail"), s"family %$m leaked")
    }
  }
}
