package graft.operators

import graft.SparkTestBase.spark
import graft.sources.Gen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the count-min hot-host sketch (c22): the CMS one-sided
  * guarantee (never undercounts) must hold row by row against the exact
  * groupBy counts, the detected hot set must contain every truly-hot host,
  * and a deliberately-undersized sketch must stay one-sided even when
  * bucket collisions are forced.
  */
class SketchOpsSpec extends AnyFunSuite {

  private val N = 20000L

  private def exactCounts(): Map[String, Long] =
    Gen.seedsLocal(N.toInt)
      .groupBy(s => graft.functions.UrlKit.hostOf(
        graft.functions.UrlKit.canonicalize(s.url)))
      .map { case (h, ss) => h -> ss.size.toLong }

  test("c22 estimates never undercount; hot set complete; top-1 exact") {
    val rows = SketchOps.hotHosts(spark, N).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "no hot hosts detected on the cubic-skew frontier")
    rows.foreach { case (h, est, exact, over) =>
      assert(est >= exact, s"CMS undercounted $h: est=$est exact=$exact")
      assert(over == est - exact)
    }
    val exact = exactCounts()
    rows.foreach { case (h, _, ex, _) =>
      assert(exact.getOrElse(h, 0L) == ex, s"exact column wrong for $h")
    }
    // completeness: any host whose EXACT count clears the threshold must
    // be in the hot set (est >= exact makes misses impossible — verify)
    val threshold = math.ceil(2.0 * N.toDouble / Gen.NumHosts).toLong
    val trulyHot = exact.filter(_._2 >= threshold).keySet
    assert(trulyHot.nonEmpty && trulyHot.subsetOf(rows.map(_._1).toSet),
      "a truly-hot host was missed")
    // the skewed generator's dominant host ranks first by estimate too
    assert(rows.head._1 == exact.maxBy(e => (e._2, e._1))._1,
      "top-1 by estimate != top-1 by exact count")
  }

  test("c22 one-sided bound survives forced collisions (width 8 << 50 hosts)") {
    val rows = SketchOps.hotHosts(spark, N, depth = 3, width = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (h, est, exact) =>
      assert(est >= exact, s"undersized CMS undercounted $h")
    }
    assert(rows.exists { case (_, est, exact) => est > exact },
      "width 8 with 50 hosts produced zero collisions — bound not exercised")
  }

  // ---- c26: mergeable per-epoch HLL sketch store ----------------------

  private val HllN = 30000L
  private val spans = Seq((0L, HllN / 2), (HllN / 3, 3 * HllN / 4), (3 * HllN / 5, HllN))

  // A unioned sketch answers through the composite estimator while a
  // directly-built one keeps its HIP estimator (DataSketches HLL
  // semantics), so merged vs one-shot estimates differ deterministically
  // by up to a few sigma-rel (~1.3-1.6% each at lgK=12) — the gate here
  // is a combined-estimator 4% band; the accuracy gate vs TRUE distincts
  // (5%, which the merged path must meet on its own) is the next test.
  test("c26 merged per-epoch sketches track the one-shot sketch (combined-estimator band)") {
    val root = graft.SparkTestBase.tempDir("graft-hll-spec")
    spans.zipWithIndex.foreach { case ((lo, hi), ep) =>
      SketchOps.writeEpochHostHll(SketchOps.epochHostUrls(spark, lo, hi, HllN), root, ep)
    }
    val merged = SketchOps.cumulativeDistinctPerHost(spark, root)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = spans.map { case (lo, hi) => SketchOps.epochHostUrls(spark, lo, hi, HllN) }
      .reduce(_ unionByName _)
      .groupBy("host").agg(hll_sketch_agg(col("url_hash"), 12).as("hll"))
      .select(col("host"), hll_sketch_estimate(col("hll")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == oneShot.keySet)
    merged.foreach { case (h, est) =>
      assert(math.abs(est - oneShot(h)) <= math.max(3.0, 0.04 * oneShot(h)),
        s"merge lost information for $h: $est vs ${oneShot(h)}")
    }
  }

  test("c26 estimates within the lgK=12 error bound of exact distinct") {
    val rows = SketchOps.epochDistinctDemo(spark, HllN).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // 3 sigma at lgK=12: 3 * 1.04 / sqrt(4096) ~ 4.9%; small hosts are in
    // exact list/set mode so the bound is loose for them
    rows.foreach { case (h, est, exact) =>
      assert(math.abs(est - exact) <= math.max(2.0, 0.05 * exact),
        s"host $h: est $est vs exact $exact outside the HLL bound")
    }
  }

  test("c26 compaction: compact prefix + tail epochs == full merge (exact)") {
    val root = graft.SparkTestBase.tempDir("graft-hll-compact")
    spans.zipWithIndex.foreach { case ((lo, hi), ep) =>
      SketchOps.writeEpochHostHll(SketchOps.epochHostUrls(spark, lo, hi, HllN), root, ep)
    }
    SketchOps.compactHostHll(spark, root, upTo = 1)
    val viaCompact = SketchOps.cumulativeFromCompact(spark, root, compactedUpTo = 1, upTo = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = SketchOps.cumulativeDistinctPerHost(spark, root)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaCompact == full,
      "compact-prefix + tail answer diverged from the full epoch merge")
  }
}
