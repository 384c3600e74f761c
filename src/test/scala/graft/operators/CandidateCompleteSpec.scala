package graft.operators

import graft.SparkTestBase.spark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The shared probe and approximate->exact refine, pinned at their
  * candidate-complete settings: probing every IVF list, or refining at
  * least the whole corpus, leaves each ANN path with brute force's
  * candidates, its exact cosine and its (cos desc, vec_id asc) ties, so
  * every path must return bruteCosineTopK's (query_id, vec_id, cos) rows
  * exactly. A divergence is a probe or refine that drops a candidate or
  * re-scores one differently.
  */
class CandidateCompleteSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("query_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private lazy val corpusN =
    spark.read.parquet(s"$dir/embeddings.parquet").count().toInt
  private lazy val kLists = SimilarityOps.clustersFor(corpusN)
  private lazy val brute = rows(SimilarityOps.bruteCosineTopK(spark, dir))

  private val paths: Seq[(String, () => DataFrame)] = Seq(
    "annIvfTopK, nProbe = kLists" -> (() =>
      SimilarityOps.annIvfTopK(spark, dir, nProbe = kLists)),
    "annPqTopK, refine = corpus" -> (() =>
      SimilarityOps.annPqTopK(spark, dir, refine = corpusN)),
    "annSqTopK, refine = corpus" -> (() =>
      SimilarityOps.annSqTopK(spark, dir, refine = corpusN)),
    "annIvfPqTopK, nProbe = kLists and refine = corpus" -> (() =>
      SimilarityOps.annIvfPqTopK(spark, dir, nProbe = kLists, refine = corpusN)))

  paths.foreach { case (name, run) =>
    test(s"$name returns brute force's rows") {
      assert(brute.size == 15, s"fixture: expected 3 queries x top-5, got ${brute.size}")
      val got = rows(run())
      assert(got == brute,
        s"$name diverged from brute force: missing ${brute -- got}, extra ${got -- brute}")
    }
  }
}
