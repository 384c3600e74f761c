package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** g08 goldens: merging edge batches epoch by epoch through the
  * persisted label store must yield the EXACT label table a from-scratch
  * CC over the union produces — including when a late bridge edge merges
  * two components that were distinct for several epochs.
  */
class IncrementalCcSpec extends AnyFunSuite {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    DedupResolve.connectedComponents(
      edges.toDF("a", "b"), "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def incremental(batches: Seq[Seq[(Long, Long)]]): Map[Long, Long] = {
    val root = graft.SparkTestBase.tempDir("graft-g08-spec")
    var last: Map[Long, Long] = Map.empty
    batches.zipWithIndex.foreach { case (batch, e) =>
      last = DedupResolve.updateLabels(spark, root, e,
        batch.toDF("a", "b"), "a", "b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    last
  }

  test("epoch-wise merges == from-scratch CC on chains, stars, bridges") {
    // chain grown across epochs + a star + two components bridged late
    val b0 = Seq((1L, 2L), (10L, 11L), (20L, 21L), (30L, 40L))
    val b1 = Seq((2L, 3L), (11L, 12L), (22L, 21L), (50L, 51L))
    val b2 = Seq((3L, 4L), (12L, 20L), (40L, 50L)) // 12-20 and 40-50 bridge
    val got = incremental(Seq(b0, b1, b2))
    val want = cc(b0 ++ b1 ++ b2)
    assert(got == want)
    // the bridge genuinely merged two multi-epoch components
    assert(want(10L) == want(22L), "fixture: 10.. and 20.. should merge")
    assert(want(30L) == want(51L), "fixture: 30/40 and 50/51 should merge")
  }

  test("untouched components keep their labels across an epoch") {
    val root = graft.SparkTestBase.tempDir("graft-g08-spec2")
    DedupResolve.updateLabels(spark, root, 0,
      Seq((1L, 2L), (7L, 8L)).toDF("a", "b"), "a", "b")
    val after = DedupResolve.updateLabels(spark, root, 1,
      Seq((100L, 101L)).toDF("a", "b"), "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L,
      100L -> 100L, 101L -> 100L))
  }

  test("g08 query == from-scratch t07 resolution on the parquet corpus") {
    val dir = "/root/testdata/sf0.001"
    val got = DedupResolve.resolveNgramDupsIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val want = DedupResolve.resolveNgramDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == want)
  }
}
