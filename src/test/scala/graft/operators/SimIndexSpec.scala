package graft.operators

import graft.SparkTestBase.{spark, tempDir}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-index goldens: the incremental probes must equal full
  * recomputation exactly — the contract that lets a 100 TB pipeline probe
  * an index instead of re-shingling/re-hashing the corpus every epoch.
  */
class SimIndexSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def docsBase: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")

  /** Scripted 3-epoch corpus with planted cross-epoch copies:
    * epoch 0 = doc_id%3==0; epoch 1 = %3==1 + near-copies of epoch-0 docs;
    * epoch 2 = %3==2 + near-copies of epoch-0 docs (different stride).
    */
  private def epochDocs(e: Int): DataFrame = e match {
    case 0 => docsBase.where(pmod(col("doc_id"), lit(3)) === 0)
    case 1 => docsBase.where(pmod(col("doc_id"), lit(3)) === 1)
      .unionByName(docsBase.where(pmod(col("doc_id"), lit(30)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" appended revision marker tokens")).as("text")))
    case 2 => docsBase.where(pmod(col("doc_id"), lit(3)) === 2)
      .unionByName(docsBase.where(pmod(col("doc_id"), lit(45)) === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" appended revision marker tokens")).as("text")))
  }

  private def collectPairs(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("doc_a", "doc_b", "n_inter", "n_union").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("incremental cross-epoch near-dups equal full recompute, every epoch") {
    val root = tempDir("graft-simindex")
    var sawCrossEpoch = false
    for (e <- 0 to 2) {
      SimIndex.writeShingleIndex(epochDocs(e), root, e)
      // compaction mid-history: epoch 1's probe reads the compact alone,
      // epoch 2's reads compact + one partial — equality must be unchanged
      if (e == 1) SimIndex.compactShingleStats(spark, root, 1)
      val inc = collectPairs(SimIndex.crossEpochNearDups(spark, root, e))
      // full recompute over the corpus-so-far, restricted to pairs whose
      // newer side is epoch e — the corpus-knowledge the engine has at e
      val corpusSoFar = (0 to e).map(epochDocs).reduce(_ unionByName _)
      val eIds = epochDocs(e).select("doc_id").collect().map(_.getLong(0)).toSet
      val full = collectPairs(TextOps.ngramJaccardPairs(corpusSoFar))
        .filter(p => eIds.contains(p._1) || eIds.contains(p._2))
      assert(inc == full, s"epoch $e: incremental != full recompute " +
        s"(inc=${inc.size}, full=${full.size})")
      val cross = inc.exists(p => !(eIds.contains(p._1) && eIds.contains(p._2)))
      sawCrossEpoch ||= cross
      if (e > 0)
        assert(inc.nonEmpty, s"epoch $e: planted copies produced no pairs")
    }
    assert(sawCrossEpoch, "no cross-epoch pair ever surfaced — plant broken")
  }

  test("persisted LSH index probe equals the in-memory multi-probe ANN") {
    val root = tempDir("graft-lshindex")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    SimIndex.writeLshIndex(e, root, 0, nBits = 6)
    val queries = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probed = SimIndex.probeLsh(spark, root, 0, e, queries, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val mem = SimilarityOps.annLshTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(probed == mem, "persisted-index ANN diverged from in-memory ANN")
  }

  test("cross-epoch embedding near-dup equals full bucketed recompute") {
    val root = tempDir("graft-lshx")
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // epoch 0: even ids; epoch 1: odd ids + planted near-copies of epoch-0
    // vectors (tiny first-dim perturbation, the emb03 plant pattern)
    val e0 = base.where(pmod(col("vec_id"), lit(2)) === 0)
    val e1 = base.where(pmod(col("vec_id"), lit(2)) === 1)
      .unionByName(e0.where(pmod(col("vec_id"), lit(20)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") + lit(0.05)).cast("float")).otherwise(x))
            .as("embedding")))
    val all = e0.unionByName(e1)
    val nBits = 6
    SimIndex.writeLshIndex(e0, root, 0, nBits)
    SimIndex.writeLshIndex(e1, root, 1, nBits)
    val inc = SimIndex.crossEpochNearDupCosine(spark, root, 1, all)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full recompute mirror: bucket everything, all same-bucket pairs,
    // exact cosine, restricted to pairs involving an epoch-1 vector
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val bucketed = all.withColumn("bucket",
      graft.functions.GraftFunctions.lshBucket(spark, nBits, col("embedding")))
    val full = bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(SimilarityOps.cosineCol(col("a.embedding"), col("b.embedding")), 4).as("cos"))
      .where(col("cos") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e1Ids = e1.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = full.filter(p => e1Ids.contains(p._1) || e1Ids.contains(p._2))
    assert(inc == expected,
      s"incremental embedding near-dup diverged (inc=${inc.size}, full=${expected.size})")
    assert(inc.exists(p => p._2 >= 1000000L), "planted cross-epoch copy not found")
  }

  test("cross-epoch image near-dup through the persisted phash index equals full recompute") {
    val root = tempDir("graft-phashidx")
    import spark.implicits._
    // deterministic synthetic image table: random-ish 64-bit phashes are
    // ~never within hamming 3 of each other, so the only pairs are the
    // planted exact copies (same pixels re-crawled under a tracking URL)
    def img(i: Int): (String, Long) =
      (s"http://h${i % 7}.example/img-$i",
        graft.functions.ImageKit.mix64(i.toLong * 2654435761L + 13L))
    val e0 = spark.createDataset((0 until 60).map(img)).toDF("image_id", "phash")
    val e1 = spark.createDataset((60 until 100).map(img)).toDF("image_id", "phash")
      .unionByName(e0.where(pmod(xxhash64(col("image_id")), lit(5)) === 0)
        .select(concat(col("image_id"), lit("?utm=copy")).as("image_id"), col("phash")))
    def collectP(df: DataFrame): Set[(String, String, Long, Long, Int)] =
      df.select("image_a", "image_b", "img_a", "img_b", "hamming").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .toSet
    var sawCross = false
    for ((df, e) <- Seq(e0, e1).zipWithIndex) {
      SimIndex.writePhashIndex(df, root, e)
      SimIndex.writePhashPairIndex(df, root, e)
      val inc = collectP(SimIndex.crossEpochNearDupPhash(spark, root, e))
      val corpusSoFar = (0 to e).map(Seq(e0, e1)).reduce(_ unionByName _)
      val eIds = df.select("image_id").collect().map(_.getString(0)).toSet
      val full = collectP(ImageOps.nearDupPhash(corpusSoFar))
        .filter(p => eIds.contains(p._1) || eIds.contains(p._2))
      assert(inc == full, s"epoch $e: incremental phash probe != full recompute " +
        s"(inc=${inc.size}, full=${full.size})")
      sawCross ||= inc.exists(p => !(eIds.contains(p._1) && eIds.contains(p._2)))
    }
    assert(sawCross, "no cross-epoch image pair surfaced — plant broken")
    // compaction narrows the read path, never the result: fold epochs 0-1
    // into a compact, probe epoch 2 through compact+tail, compare to the
    // never-compacted probe (same root state — compact read is _SUCCESS
    // gated and the per-epoch dirs remain the source of truth). Both block
    // families store the epoch in their compacts, which the probes' new-
    // vs-old orientation reads.
    val e2 = spark.createDataset((100 until 130).map(img)).toDF("image_id", "phash")
      .unionByName(e0.limit(5)
        .select(concat(col("image_id"), lit("?v=2")).as("image_id"), col("phash")))
    SimIndex.writePhashIndex(e2, root, 2)
    SimIndex.writePhashPairIndex(e2, root, 2)
    val before2 = collectP(SimIndex.crossEpochNearDupPhash(spark, root, 2))
    val scaleBefore2 = collectP(SimIndex.crossEpochScaleMatches(spark, root, 2))
    SimIndex.compactPhashIndex(spark, root, 1)
    SimIndex.compactPhashPairIndex(spark, root, 1)
    val after = collectP(SimIndex.crossEpochNearDupPhash(spark, root, 2))
    assert(after == before2 && after.nonEmpty,
      s"compacted probe diverged (compact=${after.size}, tail=${before2.size})")
    val scaleAfter = collectP(SimIndex.crossEpochScaleMatches(spark, root, 2))
    assert(scaleAfter == scaleBefore2 && scaleAfter.nonEmpty,
      s"compacted pair-index probe diverged (compact=${scaleAfter.size}, tail=${scaleBefore2.size})")
  }

  test("c65 eval-set decontamination == brute mirror; every planted eval twin flagged, broadcast pinned") {
    val root = tempDir("graft-decontam")
    import spark.implicits._
    def img(i: Int): (String, Long) =
      (s"http://h${i % 7}.example/img-$i",
        graft.functions.ImageKit.mix64(i.toLong * 2654435761L + 13L))
    val e0 = spark.createDataset((0 until 60).map(img)).toDF("image_id", "phash")
    val e1 = spark.createDataset((60 until 100).map(img)).toDF("image_id", "phash")
    SimIndex.writePhashIndex(e0, root, 0)
    SimIndex.writePhashIndex(e1, root, 1)
    // eval set: exact twins of every 6th corpus image (a benchmark that
    // leaked into the crawl), 1-bit-noised twins of every 10th-not-6th
    // (near-dup leakage), plus never-matching fresh entries
    val corpus = (0 until 100).map(img)
    val evals =
      corpus.zipWithIndex.collect {
        case ((id, ph), i) if i % 6 == 0 => (s"eval:$id", ph)
        case ((id, ph), i) if i % 10 == 0 => (s"eval~$id", ph ^ (1L << (i % 64)))
      } ++ (0 until 8).map(k =>
        (s"eval:fresh-$k", graft.functions.ImageKit.mix64(k * 104729L + 7L)))
    val evalDf = spark.createDataset(evals).toDF("image_id", "phash")
    val got = SimIndex.decontaminateImages(spark, root, 1, evalDf).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getString(2), r.getLong(3))))
      .toMap
    // brute mirror: all corpus x eval pairs, best = min (hamming, xxhash)
    val mirror = corpus.flatMap { case (cid, cph) =>
      val hits = evals.map { case (eid, eph) =>
        (java.lang.Long.bitCount(cph ^ eph), CrawlOracle.xxhash64(eid), eid)
      }.filter(_._1 <= 3)
      if (hits.isEmpty) None
      else Some(cid -> ((hits.min._1, hits.min._3,
        hits.map(_._2).distinct.size.toLong)))
    }.toMap
    assert(got == mirror, s"decontamination != brute mirror " +
      s"(got=${got.size}, mirror=${mirror.size})")
    // plant accounting: every 6th exact-flagged at 0, every 10th-not-6th
    // near-flagged at 1, fresh evals match nothing
    corpus.zipWithIndex.foreach { case ((id, _), i) =>
      if (i % 6 == 0) assert(got(id)._1 == 0, s"exact leak $id missed")
      else if (i % 10 == 0) assert(got(id)._1 == 1, s"near leak $id missed")
      else assert(!got.contains(id), s"clean image $id falsely flagged")
    }
    // scale-shape pin: the eval side broadcasts; the corpus index is read
    // from parquet, never re-blocked
    val p = SimIndex.decontaminateImages(spark, root, 1, evalDf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"eval side did not broadcast:\n$p")
    assert(p.contains("FileScan parquet") || p.contains("Scan parquet"),
      s"corpus side must come from the persisted index:\n$p")
  }

  test("persisted IVF index probe equals the in-memory IVF ANN") {
    val root = tempDir("graft-ivfindex")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val kLists = SimilarityOps.clustersFor(e.count())
    SimIndex.writeIvfIndex(e, root, 0, nClusters = kLists, nIter = 2)
    val queries = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeN = SimilarityOps.probeDefault(kLists) // annIvfTopK's bounded default
    val probed = SimIndex.probeIvf(spark, root, 0, 0, e, queries, nProbe = probeN)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val mem = SimilarityOps.annIvfTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(probed == mem, "persisted IVF probe diverged from in-memory IVF")
  }

  test("incremental IVF list append equals single-epoch assignment") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val e0 = e.where(pmod(col("vec_id"), lit(2)) === 0)
    val e1 = e.where(pmod(col("vec_id"), lit(2)) === 1)
    val queries = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // split path: train+assign on epoch 0, APPEND epoch 1 against the
    // persisted centroids (no retrain)
    val rootSplit = tempDir("graft-ivfsplit")
    SimIndex.writeIvfIndex(e0, rootSplit, 0, nClusters = 16, nIter = 2)
    SimIndex.appendIvfLists(e1, rootSplit, centroidEpoch = 0, epoch = 1)
    // reference path: same centroids, whole corpus assigned in one epoch
    val rootOne = tempDir("graft-ivfone")
    SimIndex.writeIvfIndex(e0, rootOne, 0, nClusters = 16, nIter = 2)
    SimIndex.appendIvfLists(e, rootOne, centroidEpoch = 0, epoch = 0)
    def run(root: String, upTo: Int) =
      SimIndex.probeIvf(spark, root, 0, upTo, e, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(run(rootSplit, 1) == run(rootOne, 0),
      "incremental IVF append diverged from single-epoch assignment")
  }
}
