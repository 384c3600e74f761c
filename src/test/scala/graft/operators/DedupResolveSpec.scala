package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for DedupResolve: the distributed min-label fixpoint must
  * equal a single-threaded union-find on the same pair list, exactly.
  */
class DedupResolveSpec extends AnyFunSuite {
  import spark.implicits._

  /** Textbook union-find with path compression — the sequential mirror. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // normalize: label every member with the component MIN (union by min
    // rank above keeps roots minimal, but re-derive defensively)
    val members = parent.keys.toSeq
    val byRoot = members.groupBy(find)
    byRoot.flatMap { case (_, ms) =>
      val lbl = ms.min
      ms.map(_ -> lbl)
    }.toMap
  }

  private def ccSpark(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupResolve.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("distributed contraction loop (gate forced off) equals union-find") {
    // r06: small pair graphs run a driver-local union-find; pin that the
    // DISTRIBUTED large/small-star loop still produces the identical
    // label table when the gate is disabled.
    val pairs = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 4), (10, 11), (11, 10),
      (30, 31), (32, 31), (5, 1))
    graft.SparkEnv.withConf(spark, "spark.graft.smallGraphLimit" -> "0") {
      assert(ccSpark(pairs) == unionFind(pairs))
    }
  }

  test("components equal union-find on chains, stars, cycles, singleton pairs") {
    val cases = Seq(
      // long chain — worst case for naive propagation (pointer jumping
      // must still converge inside the round budget)
      (1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // star
      (2L to 50L).map(i => (1L, i)),
      // two cycles + bridge
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)),
      // disjoint pairs, reversed order, self-dup edges
      Seq((5L, 4L), (100L, 90L), (90L, 100L), (7L, 7L), (8L, 7L))
    )
    for ((pairs, i) <- cases.zipWithIndex) {
      val expected = unionFind(pairs.filter(p => p._1 != p._2))
      assert(ccSpark(pairs) == expected, s"case $i diverged from union-find")
    }
  }

  test("random pair graphs equal union-find (deterministic seed)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 300
      val pairs = Seq.fill(250)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      assert(ccSpark(pairs) == unionFind(pairs), s"trial $trial diverged")
    }
  }

  test("t05 planted pairs collapse to base<->revision groups; corpus filter keeps survivors only") {
    val dir = "/root/testdata/sf0.001"
    val resolved = DedupResolve.resolveNgramDups(spark, dir).collect()
    // planted revisions (id >= 1e6) must never survive: their base doc
    // (id - 1e6) is in the same component and smaller
    val planted = resolved.filter(_.getLong(0) >= 1000000L)
    assert(planted.nonEmpty, "planted revisions missing from pair graph")
    assert(planted.forall(!_.getBoolean(2)), "a planted revision survived")
    // every component label is a member of the component and its min
    val byComp = resolved.groupBy(_.getLong(1))
    byComp.foreach { case (comp, ms) =>
      assert(ms.map(_.getLong(0)).min == comp, s"component $comp label is not the min member")
    }
    // mirror check on the actual t05 pairs
    val pairs = TextOps.nearDupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = unionFind(pairs)
    assert(resolved.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected,
      "distributed components diverged from union-find on t05 pairs")
    // corpus filter: kept = all docs minus non-survivors
    val kept = DedupResolve.dedupedCorpus(spark, dir).collect().map(_.getLong(0)).toSet
    val all = TextOps.plantedCorpus(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val drops = expected.collect { case (id, comp) if id != comp => id }.toSet
    assert(kept == all -- drops, "filtered corpus != corpus minus non-survivors")
  }

  test("spreadNarrow passes an input that already shuffles through without running a job") {
    import org.apache.spark.sql.functions.{col, concat, lit, max}
    // one partition: narrower than the session, so the first spread repartitions
    val corpus = spark.range(0, 200, 1, 1)
      .select(col("id").as("doc_id"), concat(lit("alpha beta gamma "), col("id")).as("text"))
    val aggregated = corpus.groupBy("doc_id").agg(max("text").as("text"))
    assert(graft.SparkTestBase.jobsStarted(TextOps.spreadNarrow(aggregated)) == 0)
    val spread = TextOps.spreadNarrow(corpus)
    assert(graft.SparkTestBase.jobsStarted(TextOps.spreadNarrow(spread)) == 0)
  }

  test("t11 multimodal resolve == union-find on caption+image edges; both modalities merge") {
    val dir = "/root/testdata/sf0.001"
    val pairs = MultimodalDedup.pairsCorpus(spark, dir)
    val capEdges = TextOps.ngramJaccardPairs(pairs.select("doc_id", "text"))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val imgEdges = MultimodalDedup.exactHashEdges(pairs, "doc_id", "img_hash")
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSeq // (b, a) order irrelevant
    // star edges produce the same components as the full hash-clique
    val groups = pairs.select("doc_id", "img_hash").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._2).values
    val cliqueEdges = groups.flatMap { ms =>
      val ids = ms.map(_._1).sorted
      ids.tail.map(b => (ids.head, b))
    }.toSeq
    assert(unionFind(capEdges ++ imgEdges) == unionFind(capEdges ++ cliqueEdges),
      "star edges changed components vs hash-clique")
    val resolved = MultimodalDedup.multimodalResolve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val expected = unionFind(capEdges ++ imgEdges)
    assert(resolved.map(t => t._1 -> t._2).toMap == expected,
      "multimodal components diverged from union-find")
    assert(resolved.forall(t => t._3 == (t._1 == t._2)), "survivor flag wrong")
    // both modalities contribute merges the other cannot: some component
    // joins two docs with no caption edge (image-merged), and some joins
    // docs in different image groups (caption-merged)
    val capUf = unionFind(capEdges)
    val imgOnlyMerge = expected.exists { case (id, comp) =>
      id != comp && capUf.getOrElse(id, id) != capUf.getOrElse(comp, comp)
    }
    val imgUf = unionFind(imgEdges)
    val capOnlyMerge = expected.exists { case (id, comp) =>
      id != comp && imgUf.getOrElse(id, id) != imgUf.getOrElse(comp, comp)
    }
    assert(imgOnlyMerge, "no image-only merge — image modality inert in the plant")
    assert(capOnlyMerge, "no caption-only merge — caption modality inert in the plant")
  }

  test("t27 survivor policy: keep-longest retains the planted revision, min-id the base") {
    val dir = "/root/testdata/sf0.001"
    val byLen = DedupResolve.longestSurvivorCorpus(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val byMin = DedupResolve.dedupedCorpus(spark, dir).collect()
      .map(_.getLong(0)).toSet
    // every planted pair (base, base+1e6) is a component: keep-longest
    // must pick the revision (longer — appended tokens), min-id the base
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .where(org.apache.spark.sql.functions.expr("doc_id % 20 = 0"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { base =>
      val rev = base + 1000000L
      // only assert on pairs that resolved as a 2-member component in BOTH
      // policies (a base coincidentally near-dup with another doc may sit
      // in a larger component where lengths decide differently)
      if (byMin.contains(base) && !byMin.contains(rev) &&
          (byLen.contains(rev) ^ byLen.contains(base))) {
        assert(byLen.contains(rev),
          s"keep-longest kept base $base over its longer revision $rev")
      }
    }
    // and the policies disagree somewhere (the contrast is non-vacuous)
    assert(byLen != byMin, "keep-longest == min-id on the planted corpus")
    // conservation: same number of survivors under both policies (same
    // components, one survivor each)
    assert(byLen.size == byMin.size)
  }
}
