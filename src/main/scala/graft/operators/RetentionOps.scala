package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Version-chain retention thinning (c48/q49) — the storage discipline the
  * reference's keep-every-version model lacks at scale: news-diff appends a
  * version row on every detected revision and keeps all of them forever,
  * which at a 10^10-URL frontier makes hot-revision pages (live blogs,
  * tickers) accumulate unbounded history. The standard fix (Bigtable-style
  * version GC) keeps FULL fidelity inside a recent window and THINS older
  * versions to a bounded subset that still anchors provenance and as-of
  * reconstruction:
  *
  *   - `window`:   every version with seq >= atSeq - keepWindow + 1
  *   - `first`:    the chain's first version ever (provenance anchor)
  *   - `boundary`: the last version BEFORE the window (as-of reconstruction
  *                 at the window edge stays exact)
  *   - `stride`:   every thinStride-th older version, anchored at the first
  *
  * Scale shape: the decision runs on the skinny (id, seq) projection only —
  * one exchange on id, two window functions, pure column predicates (no
  * UDF); payloads join back via ONE left-semi on the retained keys, so
  * image bytes never cross the decision exchange.
  */
object RetentionOps {

  /** Retained (id, seq, reason) under the policy; reason priority
    * window > first > boundary > stride (a row reports one reason).
    */
  def retentionKeys(
      versions: DataFrame,
      idCol: String,
      seqCol: String,
      atSeq: Long,
      keepWindow: Long,
      thinStride: Int): DataFrame = {
    require(keepWindow >= 1, "keepWindow must be >= 1")
    require(thinStride >= 1, "thinStride must be >= 1")
    val boundary = atSeq - keepWindow + 1
    // id keeps its source type (string image_ids in the pipeline, int64
    // custkeys in q49); only the sequence must be numeric
    val v = versions
      .select(col(idCol).as("id"), col(seqCol).cast("long").as("seq"))
      .distinct()
    val byId = Window.partitionBy("id")
    // old rows sort before the boundary, so among old rows rk = 1..n_old
    val flagged = v
      .withColumn("rk", row_number().over(byId.orderBy("seq")))
      .withColumn("n_old", count(when(col("seq") < boundary, 1)).over(byId))
    flagged
      .withColumn("reason",
        when(col("seq") >= boundary, "window")
          .when(col("rk") === 1, "first")
          .when(col("rk") === col("n_old"), "boundary")
          .when((col("rk") - 1) % thinStride === 0, "stride"))
      .where(col("reason").isNotNull)
      .select("id", "seq", "reason")
  }

  /** Filter a full (payload-carrying) history to the retained versions:
    * one left-semi on the key pair — the only place payload rows move.
    */
  def applyRetention(
      history: DataFrame,
      keys: DataFrame,
      idCol: String,
      seqCol: String): DataFrame =
    history.join(
      keys.select(col("id").as(s"__r_id"), col("seq").as(s"__r_seq")),
      col(idCol) === col("__r_id") &&
        col(seqCol).cast("long") === col("__r_seq"),
      "left_semi")

  /** q49 — the same kernel over the testdata `orders` table (a customer's
    * orders as its version chain, seq = days since 1992-01-01), which puts
    * the retention semantics into the HARD DuckDB oracle gate.
    */
  def ordersRetention(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey").as("cid"),
        datediff(col("o_orderdate"), lit("1992-01-01")).as("day"))
    retentionKeys(orders, "cid", "day", atSeq = 2400L, keepWindow = 400L,
      thinStride = 5)
      .orderBy("id", "seq")
  }

  /** c48 demo history: 48 chains of varying length/liveness — image i has
    * a version at epoch e (0..11) iff e == 0 or mix64(i*31+e) % 3 != 0;
    * chains whose hash kills late epochs are "dead" (no in-window rows, so
    * their latest survives via `boundary`).
    */
  def demoVersions(spark: org.apache.spark.sql.SparkSession, n: Int = 48): DataFrame = {
    import spark.implicits._
    val rows = for {
      i <- 0 until n
      e <- 0 to 11
      live = e == 0 || java.lang.Long.remainderUnsigned(
        graft.functions.ImageKit.mix64(i.toLong * 31L + e), 3L) != 0L
      dead = i % 5 == 0 && e > 5 // every 5th chain stops publishing at 5
      if live && !dead
    } yield (i.toLong, e.toLong)
    spark.createDataset(rows).toDF("image_id", "epoch")
  }

  /** c48 — retention over the demo snapshot-history chains. */
  def retentionDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    retentionKeys(demoVersions(spark), "image_id", "epoch",
      atSeq = 11L, keepWindow = 3L, thinStride = 3)
      .orderBy("id", "seq")

  // ---- pipeline wiring (CrawlPipeline.run(retainEvery > 0)) -----------

  /** Compute + persist the retained key set over the committed snapshot
    * history as `retained_keys/epoch=N`. Runs AFTER the manifest commit
    * (sibling-state discipline: a crash mid-write leaves no _SUCCESS and
    * readers fall back to the previous table; a resume overwrites
    * idempotently). Reads only the (image_id, epoch) projection — parquet
    * column pruning makes this a skinny scan of the archive; image bytes
    * never move.
    */
  def retainHistory(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      epoch: Int,
      keepWindow: Long,
      thinStride: Int): Unit =
    retentionKeys(
      graft.sources.Snapshots.readUpTo(spark, root, epoch)
        .select("image_id", "epoch"),
      "image_id", "epoch", epoch.toLong, keepWindow, thinStride)
      .write.mode("overwrite").parquet(s"$root/retained_keys/epoch=$epoch")

  /** Newest committed retained-keys epoch <= maxEpoch, or -1. Gated on the
    * _SUCCESS marker (crash-truncated writes are invisible).
    */
  def latestRetainedEpoch(root: String, maxEpoch: Int): Int =
    graft.sources.Snapshots.latestCompleteEpoch(root, "retained_keys", maxEpoch)

  /** The thinned archive view as of `epoch`: epochs the newest retained-keys
    * table has judged are semi-joined down to their survivors; epochs after
    * it (not yet judged) pass through in full. With no committed table this
    * is exactly the full history.
    */
  def readRetainedHistory(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      epoch: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val full = graft.sources.Snapshots.readUpTo(spark, root, epoch)
    val rk = latestRetainedEpoch(root, epoch)
    if (rk < 0) full
    else {
      val keys = spark.read.parquet(s"$root/retained_keys/epoch=$rk")
      full.where(col("epoch") > rk)
        .unionByName(
          applyRetention(full.where(col("epoch") <= rk), keys, "image_id", "epoch"))
    }
  }

  /** c53 demo — crawl-root VACUUM (Snapshots.vacuum, the Iceberg
    * remove-orphans/expire analog): a short crawl, three planted orphans
    * (uncommitted future epoch, marker-less half-written compact, crashed
    * manifest temp), one vacuum, one idempotence re-run; VacuumSpec pins
    * exact-orphan removal + resume-equals-control on top of this shape.
    */
  def vacuumDemo(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = graft.SparkEnv.scratchDir("graft-c53")
    CrawlPipeline.run(spark, root, untilEpoch = 1, seedsPerEpoch = 120,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 2000))
    val junk = Paths.get(s"$root/scheduled/epoch=9")
    Files.createDirectories(junk)
    Files.writeString(junk.resolve("part-junk.parquet"), "x")
    val half = Paths.get(graft.sources.SeenStore.SeenFamily.compactDir(root, 1))
    Files.createDirectories(half)
    Files.writeString(half.resolve("part-00000.parquet"), "x")
    Files.writeString(Paths.get(s"$root/_manifests/.epoch-9.json.tmp"), "{}")
    val removed = graft.sources.Snapshots.vacuum(root)
    val again = graft.sources.Snapshots.vacuum(root)
    Seq(
      ("orphans_planted", 3L),
      ("removed", removed),
      ("removed_on_rerun", again),
      ("committed_epoch",
        graft.sources.Snapshots.latestCommittedEpoch(root).toLong))
      .toDF("phase", "n")
  }
}
