package graft.operators

import graft.SparkEnv.deleteRecursively
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c72 — takedown / right-to-be-forgotten propagation through the
  * persisted similarity-index families (SimIndex). A web-scale corpus
  * lives under a constant drizzle of removal obligations — DMCA
  * takedowns, robots/opt-out retro-application, GDPR/CCPA erasure — and
  * deleting the corpus ROW is the easy half: every persisted index built
  * from it (shingle inverted index, phash block table, their derived
  * aggregates) still answers probes with the deleted content until it is
  * purged too.
  *
  * Design is the lakehouse delete model (Iceberg v2 position/equality
  * deletes, Delta deletion vectors), re-expressed over the repo's
  * epoch-layout parquet:
  *
  *  - **merge-on-read**: a takedown writes a tiny tombstone table
  *    (`tombstones_doc/epoch=N`, `tombstones_img/epoch=N`); probes
  *    broadcast-anti-join it. The index files are untouched — a takedown
  *    is O(takedown), never O(index).
  *  - **write-time aggregate maintenance**: the shingle family's df-cap
  *    reads a persisted corpus-wide document frequency; deleting docs
  *    LOWERS df, which can re-admit a previously capped shingle, so a
  *    row-filter alone is wrong. The takedown writer persists the deleted
  *    docs' per-shingle contribution once (`tombstone_df/epoch=N`, one
  *    index semi-join at write time) and every probe subtracts the summed
  *    partials — probe-time cost stays tombstone-sized.
  *  - **copy-on-write compaction**: periodically rewrite the affected
  *    epoch dirs minus tombstones (the actual data destruction RTBF
  *    requires), refresh derived stats from the rewritten rows, and clear
  *    the applied tombstones + df partials (they MUST go together: after
  *    the physical rewrite a still-standing tombstone_df would
  *    double-subtract). On a local FS the commit is delete+rename; on an
  *    object store this is the table format's atomic RewriteFiles.
  *
  * Gate: ForgetSpec — merge-on-read probe == plain probe over an index
  * REBUILT from the filtered corpus, exactly; same equality for the
  * tombstone-unaware probe after compaction; a df-cap-flip fixture proves
  * the aggregate maintenance (forgetting capped docs makes surviving
  * pairs VISIBLE); post-compaction epochs keep probing correctly.
  */
object ForgetOps {

  private def epochDirs(root: String, table: String): Seq[String] = {
    val dir = new java.io.File(s"$root/$table")
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .sortBy(_.getName.stripPrefix("epoch=").toInt)
      .map(_.getPath)
  }

  /** Rewrite one epoch dir minus the tombstoned keys: materialize the
    * filtered rows beside the original, then delete+rename (the local-FS
    * stand-in for a table format's atomic file-rewrite commit). The write
    * completes before the source is touched, so a crash leaves either the
    * old dir or old+.rewrite — never a hole.
    */
  private def rewriteMinus(spark: SparkSession, path: String,
                           tomb: DataFrame, key: String): Unit = {
    val tmp = path + ".rewrite"
    spark.read.parquet(path)
      .join(broadcast(tomb), Seq(key), "left_anti")
      .write.mode("overwrite").parquet(tmp)
    deleteRecursively(path)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(path))
  }

  // -------------------------------------------------- doc (shingle) family

  /** All pending doc tombstones (empty frame if none). Takedown-sized —
    * always broadcast at the probe.
    */
  def docTombstones(spark: SparkSession, root: String): DataFrame = {
    val dirs = epochDirs(root, "tombstones_doc")
    if (dirs.isEmpty) spark.range(0).select(col("id").as("doc_id"))
    else spark.read.parquet(dirs: _*).select("doc_id").distinct()
  }

  /** Summed per-shingle df contribution of every pending tombstone (the
    * maintenance term probes subtract from the persisted corpus df).
    */
  private def tombstoneDf(spark: SparkSession, root: String): DataFrame = {
    val dirs = epochDirs(root, "tombstone_df")
    if (dirs.isEmpty)
      spark.range(0).select(col("id").as("sh"), col("id").as("tdf"))
    else spark.read.parquet(dirs: _*).groupBy("sh").agg(sum("df").as("tdf"))
  }

  /** Record a takedown of `ids` (doc_id) at `epoch`: persist the
    * tombstones and, once, the deleted docs' per-shingle df contribution.
    * Idempotent — ids already tombstoned are dropped first, so a replayed
    * or overlapping takedown can never double-subtract df.
    */
  def writeDocTombstones(spark: SparkSession, root: String, epoch: Int,
                         ids: DataFrame): Unit = {
    ids.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .join(broadcast(docTombstones(spark, root)), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$root/tombstones_doc/epoch=$epoch")
    val written = spark.read.parquet(s"$root/tombstones_doc/epoch=$epoch")
    SimIndex.readShingleIndex(spark, root, epoch)
      .join(broadcast(written), Seq("doc_id"), "left_semi")
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$root/tombstone_df/epoch=$epoch")
  }

  /** Merge-on-read cross-epoch near-dup probe: SimIndex.crossEpochNearDups
    * with tombstoned docs excluded from both pair sides and the df-cap
    * evaluated on the maintained df' = persisted df − deleted
    * contribution. Probe-time extra cost: two broadcast anti-joins + a
    * tombstone-sized left join — independent of index size.
    */
  def crossEpochNearDupsForgetting(spark: SparkSession, root: String,
                                   epoch: Int, maxDf: Int = 64): DataFrame = {
    val tomb = docTombstones(spark, root)
    val idx = SimIndex.readShingleIndex(spark, root, epoch)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val dfAdj = SimIndex.summedDf(SimIndex.ShingleDfFamily.upTo(spark, root, epoch))
      .join(broadcast(tombstoneDf(spark, root)), Seq("sh"), "left")
      .select(col("sh"), (col("df") - coalesce(col("tdf"), lit(0L))).as("df"))
    val sizes = SimIndex.ShingleSizesFamily.upTo(spark, root, epoch)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    SimIndex.nearDupsFrom(idx, dfAdj, sizes, epoch, maxDf)
  }

  /** Copy-on-write apply: physically rewrite every shingle epoch dir
    * minus the pending tombstones, re-derive that epoch's sizes/df
    * partials from the rewritten rows, drop the now-stale derived
    * compacts and rebuild one fresh compact, then clear the applied
    * tombstones AND their df partials (leaving either would double-drop /
    * double-subtract against the now-physically-clean index). After this,
    * the tombstone-UNAWARE probe is already correct — the data is gone.
    */
  def compactForgetDocs(spark: SparkSession, root: String,
                        upToEpoch: Int): Unit = {
    val tomb = docTombstones(spark, root)
    if (tomb.isEmpty) return
    epochDirs(root, "shingle_index").foreach { path =>
      rewriteMinus(spark, path, tomb, "doc_id")
      val e = path.split("epoch=").last
      val rows = spark.read.parquet(path)
      rows.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        .write.mode("overwrite").parquet(s"$root/shingle_sizes/epoch=$e")
      rows.groupBy("sh").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$root/shingle_df/epoch=$e")
    }
    Seq("shingle_df_compact", "shingle_sizes_compact")
      .foreach(t => deleteRecursively(s"$root/$t"))
    SimIndex.compactShingleStats(spark, root, upToEpoch)
    Seq("tombstones_doc", "tombstone_df")
      .foreach(t => deleteRecursively(s"$root/$t"))
  }

  // ------------------------------------------------- image (phash) family

  def imgTombstones(spark: SparkSession, root: String): DataFrame = {
    val dirs = epochDirs(root, "tombstones_img")
    if (dirs.isEmpty)
      spark.range(0).select(col("id").cast("string").as("image_id"))
    else spark.read.parquet(dirs: _*).select("image_id").distinct()
  }

  /** Image takedown: tombstones only — the phash block table is purely
    * row-keyed (no maintained aggregate), so a filter is the whole
    * semantics. Idempotent like the doc writer.
    */
  def writeImgTombstones(spark: SparkSession, root: String, epoch: Int,
                         ids: DataFrame): Unit =
    ids.select(col("image_id").cast("string").as("image_id")).distinct()
      .join(broadcast(imgTombstones(spark, root)), Seq("image_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$root/tombstones_img/epoch=$epoch")

  /** Merge-on-read image copy-detection: crossEpochNearDupPhash with
    * tombstoned images excluded from both sides (one broadcast anti-join
    * on the block view).
    */
  def crossEpochNearDupPhashForgetting(spark: SparkSession, root: String,
                                       epoch: Int,
                                       maxHamming: Int = 3): DataFrame =
    SimIndex.nearDupPhashFrom(
      SimIndex.PhashBlocksFamily.upTo(spark, root, epoch)
        .join(broadcast(imgTombstones(spark, root)), Seq("image_id"), "left_anti"),
      epoch, maxHamming)

  /** Copy-on-write apply for the image family: rewrite the per-epoch
    * block dirs minus tombstones, drop + rebuild the block compact, clear
    * the applied tombstones.
    */
  def compactForgetImages(spark: SparkSession, root: String,
                          upToEpoch: Int): Unit = {
    val tomb = imgTombstones(spark, root)
    if (tomb.isEmpty) return
    epochDirs(root, "phash_blocks")
      .foreach(p => rewriteMinus(spark, p, tomb, "image_id"))
    deleteRecursively(s"$root/phash_blocks_compact")
    SimIndex.compactPhashIndex(spark, root, upToEpoch)
    deleteRecursively(s"$root/tombstones_img")
  }

  // -------------------------------------------- embedding (LSH) family

  def embTombstones(spark: SparkSession, root: String): DataFrame = {
    val dirs = epochDirs(root, "tombstones_emb")
    if (dirs.isEmpty) spark.range(0).select(col("id").as("vec_id"))
    else spark.read.parquet(dirs: _*).select("vec_id").distinct()
  }

  /** Embedding takedown: tombstones only — like the image family, the
    * persisted bucket table is purely row-keyed (a vector contributes
    * nothing to any maintained aggregate), so a filter is the whole
    * semantics. Idempotent like the other writers.
    */
  def writeEmbTombstones(spark: SparkSession, root: String, epoch: Int,
                         ids: DataFrame): Unit =
    ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
      .join(broadcast(embTombstones(spark, root)), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$root/tombstones_emb/epoch=$epoch")

  /** Merge-on-read embedding near-dup: crossEpochNearDupCosine with
    * tombstoned vectors excluded from both candidate sides (one broadcast
    * anti-join on the bucket view — the exact-verify side can never see a
    * tombstoned id because candidates only come from the filtered view).
    */
  def crossEpochNearDupCosineForgetting(spark: SparkSession, root: String,
                                        epoch: Int, vectors: DataFrame,
                                        threshold: Double = 0.99): DataFrame =
    SimIndex.nearDupCosineFrom(
      spark.read.parquet(s"$root/lsh_buckets").where(col("epoch") <= epoch)
        .join(broadcast(embTombstones(spark, root)), Seq("vec_id"), "left_anti"),
      epoch, vectors, threshold)

  /** Copy-on-write apply for the embedding family: rewrite the per-epoch
    * bucket dirs minus tombstones, clear the applied tombstones (the LSH
    * family keeps no compact table — partition discovery reads the epoch
    * dirs directly).
    */
  def compactForgetEmbeddings(spark: SparkSession, root: String): Unit = {
    val tomb = embTombstones(spark, root)
    if (tomb.isEmpty) return
    epochDirs(root, "lsh_buckets")
      .foreach(p => rewriteMinus(spark, p, tomb, "vec_id"))
    deleteRecursively(s"$root/tombstones_emb")
  }
}
