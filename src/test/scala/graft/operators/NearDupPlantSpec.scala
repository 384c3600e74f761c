package graft.operators

import graft.SparkTestBase.spark
import graft.functions.TextKit
import org.scalatest.funsuite.AnyFunSuite

/** Positive coverage of the near-dup family on sf0.001's planted
  * revisions (`TextOps.plantedCorpus`: doc d % 20 == 0 gets a copy
  * d + 1000000 with a few tokens appended). t03 and t04 have no oracle,
  * so each returned pair is re-checked on the driver against its own
  * gate, and the planted pairs each finds are pinned by count. t57 and
  * t05 share the one overlap index; their counts must agree at w = 3.
  */
class NearDupPlantSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val texts: Map[Long, String] =
    TextOps.plantedCorpus(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** (doc_a, doc_b) of a pair table, after checking every pair is oriented
    * doc_a < doc_b and appears once.
    */
  private def orientedPairs(rows: Seq[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.forall { case (a, b) => a < b }, "a pair is not oriented doc_a < doc_b")
    assert(pairs.distinct.size == pairs.size, "a pair appears twice")
    pairs
  }

  private def plantedFound(pairs: Seq[(Long, Long)]): Int =
    pairs.count { case (a, b) => b == a + 1000000L && a % 20 == 0 }

  test("t03 minhash pairs pass their own Jaccard gate and find the planted revisions") {
    val rows = TextOps.nearDupMinhash(spark, dir).collect().toSeq
    val pairs = orientedPairs(rows)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val j = BigDecimal(TextKit.jaccardShingles(texts(a), texts(b)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j == r.getAs[Double]("jaccard"), s"($a, $b) reports a Jaccard the driver does not")
      assert(j >= 0.5, s"($a, $b) has Jaccard $j < 0.5")
    }
    // every one of sf0.001's 25 plants
    assert(plantedFound(pairs) == 25)
  }

  test("t04 simhash pairs pass their own Hamming gate and find the planted revisions") {
    val rows = TextOps.nearDupSimhash(spark, dir).collect().toSeq
    val pairs = orientedPairs(rows)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val h = java.lang.Long.bitCount(
        TextKit.simhash64(texts(a)) ^ TextKit.simhash64(texts(b)))
      assert(h == r.getAs[Int]("hamming"), s"($a, $b) reports a Hamming distance the driver does not")
      assert(h <= 6, s"($a, $b) has Hamming distance $h > 6")
    }
    // 12 of sf0.001's 25 plants pass the 16-bit-block screen and the
    // Hamming gate
    assert(plantedFound(pairs) == 12)
  }

  test("t57 at w = 3 counts exactly t05's candidate and gated pairs") {
    val corpus = TextOps.plantedCorpus(spark, dir)
    val w3 = TextOps.shingleSizeSweep(spark, dir, Seq(3)).collect().head
    assert(w3.getAs[Long]("n_candidates") == TextOps.ngramJaccardScores(corpus).count())
    assert(w3.getAs[Long]("n_predicted") == TextOps.ngramJaccardPairs(corpus).count())
  }
}
