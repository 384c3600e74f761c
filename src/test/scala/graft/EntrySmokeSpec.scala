package graft

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry + every query runs on sf0.001 and returns
  * a sane, non-empty (where expected) result. Deep value checks live in the
  * DuckDB oracle (q, t01) and golden suites (c).
  */
class EntrySmokeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("near-dup family is total on an empty corpus (no crash, zero rows)") {
    // a freshly-bootstrapped pipeline runs these before any documents or
    // embeddings exist; empty-input must be a clean zero, not an exception
    val tmp = graft.SparkTestBase.tempDir("graft-empty")
    val docsSchema = spark.read.parquet(s"$dir/documents.parquet").schema
    val embSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docsSchema)
      .write.parquet(s"$tmp/documents.parquet")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], embSchema)
      .write.parquet(s"$tmp/embeddings.parquet")
    assert(graft.operators.TextOps.nearDupMinhash(spark, tmp).count() == 0)
    assert(graft.operators.TextOps.nearDupSimhash(spark, tmp).count() == 0)
    assert(graft.operators.TextOps.nearDupNgramJaccard(spark, tmp).count() == 0)
    assert(graft.operators.TextOps.containmentNearDup(spark, tmp).count() == 0)
    assert(graft.operators.TextOps.dedupOperatingPoints(spark, tmp).count() == 0)
    // the sweep reports one row per width, each with zero candidates
    assert(graft.operators.TextOps.shingleSizeSweep(spark, tmp).collect()
      .map(_.getAs[Long]("n_candidates")).toSeq == Seq(0L, 0L, 0L))
    // t24 trains no BPE merge when no document has two tokens
    assert(graft.operators.TextOps.bpeEncodedCorpus(spark, tmp).count() == 0)
    assert(graft.operators.SimilarityOps.nearDupCosine(spark, tmp).count() == 0)
    assert(graft.operators.SimilarityOps.bruteCosineTopK(spark, tmp).count() == 0)
    assert(graft.operators.SimilarityOps.annLshTopK(spark, tmp).count() == 0)
    assert(graft.operators.SimilarityOps.annPqTopK(spark, tmp).count() == 0)
    assert(graft.operators.SimilarityOps.annIvfPqTopK(spark, tmp).count() == 0)
  }

  // queries that may legitimately return 0 rows on tiny data
  private val mayBeEmpty = Set("q03_anti_join", "q09_setops")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("emb02 multi-probe ANN recall vs brute top-k >= 0.6 (measured 0.733 @ nBits=6, r=2)") {
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.operators.SimilarityOps.annLshTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.6, f"ANN recall $recall%.3f fell below the 0.6 floor")
  }

  test("emb04 IVF ANN recall vs brute top-k >= 0.6") {
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.SimilarityOps.annIvfTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.6, f"IVF recall $recall%.3f fell below the 0.6 floor")
  }

  test("emb05 PQ-ADC ANN recall vs brute top-k >= 0.6") {
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.operators.SimilarityOps.annPqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.6, f"PQ recall $recall%.3f fell below the 0.6 floor")
    // exact-refine discipline: every returned cos equals the brute cos for
    // the same (query, vec) pair — approximation may only affect WHICH
    // pairs are returned, never their scores
    val bruteCos = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    graft.operators.SimilarityOps.annPqTopK(spark, dir).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteCos(key) == r.getDouble(2), s"refined cos diverged for $key")
    }
  }

  test("emb06 IVF-PQ ANN recall vs brute top-k >= 0.6") {
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = graft.operators.SimilarityOps.annIvfPqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivfpq).size.toDouble / brute.size
    assert(recall >= 0.6, f"IVF-PQ recall $recall%.3f fell below the 0.6 floor")
    // composing the approximations can only SHRINK the candidate set the
    // PQ scan sees, and the exact-refine discipline must survive it
    val bruteCos = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    graft.operators.SimilarityOps.annIvfPqTopK(spark, dir).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteCos(key) == r.getDouble(2), s"refined cos diverged for $key")
    }
  }

  test("emb07 SQ8 ANN: recall >= 0.9 (int8 is nearly exact) + exact refine") {
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = graft.operators.SimilarityOps.annSqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(sq).size.toDouble / brute.size
    // SQ8 holds ~7 significant bits/dim — the floor is far above the
    // codebook methods' 0.6 (and emb07 additionally sits in the HARD
    // DuckDB oracle gate, which pins the exact rows)
    assert(recall >= 0.9, f"SQ8 recall $recall%.3f fell below the 0.9 floor")
    val bruteCos = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    graft.operators.SimilarityOps.annSqTopK(spark, dir).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteCos(key) == r.getDouble(2), s"refined cos diverged for $key")
    }
  }

  test("emb08 persisted SQ8 store == one-shot emb07 exactly (split-epoch append)") {
    val oneShot = graft.operators.SimilarityOps.annSqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val viaStore = graft.operators.SimilarityOps.annSqStoreDemo(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(viaStore == oneShot, "persisted-store SQ8 diverged from one-shot")
  }

  test("emb10 persisted PQ index == one-shot emb05 exactly; codebooks roundtrip") {
    val oneShot = graft.operators.SimilarityOps.annPqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    // full-corpus-trained codebooks persisted + read back + split-epoch
    // encode: identical codebooks + codes => identical ADC result
    val viaStore = graft.operators.SimilarityOps.annPqStoreDemo(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(viaStore == oneShot, "persisted-store PQ diverged from one-shot")
    // codebook parquet roundtrip is float-exact
    val root = graft.SparkTestBase.tempDir("graft-emb10-rt")
    val e = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val cents = graft.operators.SimilarityOps.pqTrain(e)
    graft.operators.SimilarityOps.writePqCodebooks(spark, cents, root)
    val back = graft.operators.SimilarityOps.readPqCodebooks(spark, root)
    assert(back.length == cents.length &&
      back.zip(cents).forall { case (a, b) =>
        a.length == b.length && a.zip(b).forall(p => p._1.sameElements(p._2)) },
      "codebooks did not roundtrip exactly")
  }

  test("emb10 stale codebooks (trained on epoch 0 only) still hold the recall floor") {
    // the PQ incremental story: later epochs encode against the ORIGINAL
    // codebooks — approximation degrades recall only, never scores
    val root = graft.SparkTestBase.tempDir("graft-emb10-stale")
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val epoch0 = e.where(pmod(col("vec_id"), lit(2)) === 0)
    graft.operators.SimilarityOps.writePqCodebooks(
      spark, graft.operators.SimilarityOps.pqTrain(epoch0), root)
    val cents = graft.operators.SimilarityOps.readPqCodebooks(spark, root)
    graft.operators.SimilarityOps.writePqCodes(epoch0, root, 0, cents)
    graft.operators.SimilarityOps.writePqCodes(
      e.where(pmod(col("vec_id"), lit(2)) === 1), root, 1, cents)
    val got = graft.operators.SimilarityOps
      .annPqTopKFromStore(spark, dir, root, uptoEpoch = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(got.contains).toDouble / brute.size
    assert(recall >= 0.6, s"stale-codebook PQ recall $recall < 0.6")
  }

  test("emb03 id-only candidate plan == direct vector-carrying form (golden)") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.SimilarityOps.nearDupCosine(spark, dir, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // pre-refactor reference formulation: self-join carries the vectors
    val base = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val planted = base.where(pmod(col("vec_id"), lit(20)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") + lit(0.05)).cast("float")).otherwise(x))
          .as("embedding"))
    val corpus = base.unionByName(planted)
    val bucketed = corpus.withColumn("bucket",
      graft.functions.GraftFunctions.lshBucket(spark, 6, col("embedding")))
    val want = bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(graft.operators.SimilarityOps.cosineCol(
          col("a.embedding"), col("b.embedding")), 4).as("cos"))
      .where(col("cos") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, "refactored emb03 diverged from the direct formulation")
  }

  test("similarity: ANN cosine values are a subset-of-corpus sanity check") {
    val brute = graft.operators.SimilarityOps.bruteCosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // ANN top-1 can never beat brute top-1 for the same query
    val bruteBest = brute.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._3).max }
    val ann = graft.operators.SimilarityOps.annLshTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    ann.groupBy(_._1).foreach { case (q, xs) =>
      assert(xs.map(_._2).max <= bruteBest(q) + 1e-9)
    }
  }
}
