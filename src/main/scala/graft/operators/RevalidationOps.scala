package graft.operators

import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** c51 — HTTP revalidation for recrawls (conditional GET / If-None-Match,
  * RFC 9110 §13): a due recrawl presents the validator of its LAST fetch;
  * if the server's current validator matches, the response is a 304 and
  * the page is dropped from the refetch frontier BEFORE robots/politeness
  * — its fetch budget, decode/encode work, and snapshot-row write all go
  * to pages that actually changed instead. In the sandbox the "server"
  * validator is the pure pair (contentVariant, captionVariant) of
  * (url_hash, epoch) — exactly the ETag contract: it changes iff the
  * served content or caption changes, so a 304 can never hide a revision.
  *
  * Scale shape: the check is a per-row O(epochs) integer kernel fused
  * into the due-set scan (no join, no shuffle, no driver traffic); the
  * due set itself is the recrawl schedule's output, a fraction of the
  * corpus. At 10^10-URL scale this is the difference between re-fetching
  * every due page and re-fetching only the changed ones — for news-like
  * change rates (~1/8 pixels, ~1/16 captions per epoch here) that is an
  * ~80% cut of recrawl fetch volume at zero revision loss.
  */
object RevalidationOps {

  /** True iff the page's validator at `atEpoch` equals its validator at
    * `lastFetch` — the single-threaded mirror of the distributed filter
    * (specs compare against it directly).
    */
  def notModifiedLocal(urlHash: Long, lastFetch: Int, atEpoch: Int): Boolean =
    CrawlPipeline.contentVariant(urlHash, atEpoch) ==
      CrawlPipeline.contentVariant(urlHash, lastFetch) &&
      CrawlPipeline.captionVariant(urlHash, atEpoch) ==
        CrawlPipeline.captionVariant(urlHash, lastFetch)

  /** Flag each due row with `not_modified`. Input needs (image_id,
    * last_fetch) — both recrawl policies (c25 staleness, c45 change-rate)
    * emit them, so revalidation is policy-blind. image_id is a
    * canonicalization fixed point (CrawlPipeline recrawl contract), so
    * xxhash64(image_id) IS the url_hash the fetch kernel was seeded with.
    */
  def withRevalidation(due: DataFrame, atEpoch: Int): DataFrame = {
    val nm = udf((h: Long, lastFetch: Int) => notModifiedLocal(h, lastFetch, atEpoch))
    due.withColumn("not_modified",
      nm(xxhash64(col("image_id")), col("last_fetch").cast("int")))
  }

  /** c51 demo: ONE revalidation-enabled recrawl crawl, summarized per
    * epoch — fetched rows, 304-skipped dues (recomputed from the committed
    * revision history through the same validator kernel the pipeline
    * used), and revised rows. The ON-vs-control contrast (savings real, no
    * revision lost) is pinned by RevalidationSpec on its own two runs —
    * the bench row only needs the wired path, not a second full crawl.
    */
  def revalidationDemo(spark: SparkSession, epochs: Int = 2,
                       seedsPerEpoch: Int = 200, budget: Int = 4000): DataFrame = {
    import spark.implicits._
    val root = graft.SparkEnv.scratchDir("graft-c51")
    CrawlPipeline.run(spark, root, untilEpoch = epochs, seedsPerEpoch = seedsPerEpoch,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = budget),
      recrawl = true, revalidate = true)
    val rows = (0 to epochs).map { e =>
      val revs = Snapshots.RevisionFamily.readEpochs(spark, root, Seq(e))
      val skipped =
        if (e == 0) 0L
        else {
          val prior = Snapshots.RevisionFamily.readEpochs(spark, root, 0 until e)
          withRevalidation(
            DiffJob.recrawlSchedule(prior, atEpoch = e).where(col("due")), e)
            .where(col("not_modified")).count()
        }
      (e, revs.count(), skipped,
        revs.where(col("change").startsWith("revised")).count())
    }
    rows.toDF("epoch", "n_fetched", "n_304_skipped", "n_revised")
      .orderBy("epoch")
  }
}
