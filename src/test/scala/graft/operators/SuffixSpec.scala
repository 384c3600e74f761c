package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** t29/t30 exact substring dedup: the distributed prefix-doubling plan must
  * equal the brute-force every-window mirror EXACTLY — positions, counts,
  * survivors, and the clipped corpus text.
  */
class SuffixSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def noise(seed: Long, n: Int): String = {
    val sb = new StringBuilder
    var s = seed
    while (sb.length < n) {
      s = graft.functions.ImageKit.mix64(s)
      sb.append(('a' + java.lang.Long.remainderUnsigned(s, 26L)).toChar)
      if (sb.length % 7 == 0) sb.append(' ')
    }
    sb.toString
  }

  private def distributedDup(docs: Seq[(Long, String)], L: Int): Map[(Long, Int), (Long, Boolean)] = {
    import spark.implicits._
    SuffixOps.dupWindowPositions(docs.toDF("doc_id", "text"), L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
  }

  test("hand corpus: dup positions == brute-force mirror at L=64, 16, 13, 8, 5") {
    val shared = noise(7L, 300)
    val repeatedTail = noise(11L, 90)
    val docs = Seq(
      (1L, noise(1L, 200) + shared + noise(2L, 100)),
      (2L, noise(3L, 150) + shared + noise(4L, 50)),
      // duplicate INSIDE one doc
      (3L, noise(5L, 80) + repeatedTail + noise(6L, 40) + repeatedTail),
      // shorter than any window at L>=64
      (4L, noise(8L, 40)),
      (5L, noise(9L, 500)))
    for (l <- Seq(64, 16, 13, 8, 5)) {
      val dist = distributedDup(docs, l)
      val mir = SuffixOps.mirrorDupPositions(docs, l)
      assert(dist == mir, s"dup-position mismatch at L=$l " +
        s"(dist=${dist.size}, mirror=${mir.size})")
      assert(mir.nonEmpty, s"planted duplicates not found at L=$l")
    }
    // the planted ~300-char shared slice must be fully covered at L=64
    val mir64 = SuffixOps.mirrorDupPositions(docs, 64)
    assert(mir64.keys.count(_._1 == 2L) >= shared.length - 64 + 1)
  }

  test("spanCorpus sf0.001: distributed == mirror; planted copies detected") {
    val docs = TextOps.spanCorpus(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val dist = distributedDup(docs, 64)
    val mir = SuffixOps.mirrorDupPositions(docs, 64)
    assert(dist == mir)
    // every planted doc (id >= 2e6) shares a 300-char slice with its source
    val plantIds = docs.map(_._1).filter(_ >= 2000000L)
    assert(plantIds.nonEmpty)
    plantIds.foreach { id =>
      val srcLen = docs.find(_._1 == id - 2000000L).get._2.length
      val expect = math.min(300, srcLen) - 64 + 1
      if (expect > 0)
        assert(mir.keys.count(_._1 == id) >= expect, s"plant $id under-detected")
    }
  }

  test("exact clip: distributed corpus == mirror kernel text-exactly") {
    val docs = TextOps.spanCorpus(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mir = SuffixOps.mirrorClipped(docs, 64)
    import spark.implicits._
    val dist = SuffixOps.exactClippedCorpus(docs.toDF("doc_id", "text"), 64)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dist.keySet == mir.keySet)
    dist.foreach { case (id, text) =>
      assert(text == mir(id), s"clip mismatch for doc $id")
    }
    // survivors keep one copy: the corpus-wide multiset of 64-windows of
    // the clipped corpus has no window duplicated MORE than it must be
    // (clipping is run-merged, so residual duplicates can remain at run
    // boundaries; the planted full-slice interior must be gone though)
    val clippedPlants = dist.filter(_._1 >= 2000000L)
    val bases = dist.filter(_._1 < 2000000L)
    clippedPlants.foreach { case (id, text) =>
      val src = bases(id - 2000000L)
      val sliceInterior = src.substring(0, math.min(300, src.length))
      if (sliceInterior.length >= 200)
        assert(!text.contains(sliceInterior.substring(64, 200)),
          s"plant $id still contains the shared slice interior")
    }
  }

  test("persisted suffix index: cross-epoch probe == full recompute restricted to the new epoch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val corpus = TextOps.spanCorpus(spark, dir)
    val all = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val root = graft.SparkTestBase.tempDir("graft-suffixidx")
    val e0 = corpus.where(col("doc_id") < 2000000L)
    val e1 = corpus.where(col("doc_id") >= 2000000L)
    SimIndex.writeSuffixIndex(e0, root, 0)
    SimIndex.writeSuffixIndex(e1, root, 1)
    val inc = SimIndex.crossEpochDupWindows(spark, root, 1, corpus)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    // full recompute over the union, restricted to epoch-1 (plant) docs
    val full = SuffixOps.mirrorDupPositions(all, 64)
      .filter(_._1._1 >= 2000000L)
    assert(inc == full, s"incremental probe != full recompute " +
      s"(inc=${inc.size}, full=${full.size})")
    assert(inc.nonEmpty, "planted cross-epoch copies not detected")
    // the planted slice interiors pair against epoch 0, where the source
    // doc (min id) wins survivorship — those positions must be
    // non-survivors (windows duplicated ONLY among plants may legitimately
    // keep a plant as survivor, so the assertion is per-content, not
    // corpus-wide: at least the slice-covered positions lose)
    assert(inc.exists(!_._2._2), "no plant position lost survivorship to epoch 0")
    // epoch 0 probed at epoch 0 sees only its own internal duplicates
    val e0Probe = SimIndex.crossEpochDupWindows(spark, root, 0, e0)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    val e0Full = SuffixOps.mirrorDupPositions(
      all.filter(_._1 < 2000000L), 64)
    assert(e0Probe == e0Full)
  }

  test("t31 exact contamination == brute mirror; quote plants flagged") {
    val corpus = TextOps.leakedCorpus(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val bench = TextOps.benchmarkDocs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val dist = SuffixOps.exactContaminationReport(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val mir = SuffixOps.mirrorContamination(corpus, bench, 64)
    assert(dist == mir, s"contamination mismatch (dist=${dist.size}, mir=${mir.size})")
    // benchmark docs self-flag; every quote plant with a >=64-char prefix
    // copy is flagged at position 0
    bench.foreach { case (id, text) =>
      if (text.length >= 64) assert(mir.contains(id), s"bench $id unflagged")
    }
    val plants = corpus.filter(_._1 >= 2000000L)
    assert(plants.nonEmpty)
    var verbatimPlants = 0
    plants.foreach { case (id, text) =>
      val src = bench.find(_._1 == id - 2000000L).get._2
      if (src.length >= 64 && text.startsWith(src.substring(0, 64))) {
        verbatimPlants += 1
        assert(mir.get(id).exists(_._2 == 0L), s"quote plant $id not flagged at pos 0")
      }
    }
    assert(verbatimPlants > 0, "no plant actually carries a 64-char verbatim prefix")
  }

  test("dupSpans extents are sane and cover non-survivor positions") {
    import spark.implicits._
    val docs = Seq(
      (1L, noise(21L, 100) + noise(31L, 120) + noise(22L, 100)),
      (2L, noise(23L, 100) + noise(31L, 120) + noise(24L, 100)))
    val spans = SuffixOps.dupSpans(docs.toDF("doc_id", "text"), 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc 1 is the survivor side (min doc_id): all clipped extents on doc 2
    assert(spans.nonEmpty)
    assert(spans.forall(_._1 == 2L))
    spans.foreach { case (_, f, t, n) =>
      assert(f >= 0 && t > f && n >= 1)
    }
  }
}
