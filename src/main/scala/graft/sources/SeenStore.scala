package graft.sources

import graft.functions.{BloomAgg, CuckooAgg}
import graft.model.SeenEntry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** Persistent URL-seen set (SURVEY.md §2.1 S4, §7.3.5), plus the
  * per-host-bucket bloom and cuckoo builders (north_rule "partitioned
  * bloom/cuckoo URL-seen filter"). The crawl's dedupe is FrontierJob's
  * exact anti-join against this set; it keeps no filter at rest.
  *
  * At-rest layout under `root/`:
  *   url_seen/epoch=N/          — parquet of SeenEntry, the URLs first
  *                                scheduled at epoch N
  *   url_seen_compact/epoch=N/  — the whole seen set as of epoch N
  *                                ([[compact]], [[purgeHost]])
  *
  * Filter buckets are host-keyed (pmod(xxhash64(host), numBuckets)) so one
  * bucket's filter covers a stable slice of hosts; at 10^10 URLs each of
  * 256 buckets holds ~4e7 keys => ~48 MB of bloom at 1% FPP — individually
  * broadcastable. In-sandbox callers use small numBuckets/expectedItems;
  * the math is identical.
  */
object SeenStore {
  def bucketOf(hostCol: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(hostCol), lit(numBuckets)).cast("int")

  def emptySeen(spark: SparkSession): Dataset[SeenEntry] = {
    import spark.implicits._
    spark.emptyDataset[SeenEntry]
  }

  /** `url_seen/epoch=N`: the SeenEntry rows first seen at epoch N. */
  val SeenFamily: Snapshots.Family = Snapshots.Family("url_seen", Encoders.product[SeenEntry].schema)

  /** Loads ONLY entries of committed epochs: a crash after the epoch-N
    * url_seen write but before the manifest leaves an uncommitted epoch=N
    * dir on disk; re-running that epoch must NOT dedupe against its own
    * half-written seen entries (it would schedule nothing and silently
    * diverge from a straight run). The manifest is the single source of
    * truth for what exists. The read is the latest completed compact plus
    * the epoch dirs after it ([[Snapshots.Family.upTo]]).
    */
  def load(spark: SparkSession, root: String): Dataset[SeenEntry] = {
    import spark.implicits._
    SeenFamily.upTo(spark, root, Snapshots.latestCommittedEpoch(root)).as[SeenEntry]
  }

  /** Latest compacted epoch <= maxEpoch whose write COMPLETED — gated on
    * the parquet _SUCCESS marker, so a compaction interrupted mid-write is
    * invisible and load falls back to the previous compact + longer tail
    * (correctness never depends on compaction finishing).
    */
  def latestCompactEpoch(root: String, maxEpoch: Int): Int =
    SeenFamily.latestCompact(root, maxEpoch)

  /** Fold the seen set as of `upToEpoch` into its compact
    * ([[Snapshots.Family.compact]]: idempotent, and the per-epoch dirs
    * stay the replayable source of truth).
    */
  def compact(spark: SparkSession, root: String, upToEpoch: Int): Unit =
    SeenFamily.compact(spark, root, upToEpoch)

  /** Per-epoch overwrite (each epoch's entries land in their own epoch=N
    * dir exactly once) — idempotent when a crashed, uncommitted epoch is
    * re-run; append mode would duplicate its rows.
    */
  def append(newSeen: Dataset[SeenEntry], root: String, epoch: Int): Unit =
    newSeen.write.mode("overwrite").parquet(SeenFamily.dir(root, epoch))

  /** S9 — the seen set as a BUCKETED table (bucketBy url_hash, sorted
    * within buckets). The cumulative seen set is the BIG side of every
    * epoch's exact anti-join; stored bucketed, its scan already satisfies
    * the join's required hash distribution (Spark's bucket hash == the
    * shuffle Murmur3 hash), so the per-epoch dedupe exchanges ONLY the
    * epoch-sized frontier side — the 10^10-row side is never shuffled,
    * epoch after epoch. This is the at-scale shape of the compact root
    * (`compact()` keeps the plain-parquet layout for the resume path;
    * a production deployment points `compact` at this writer).
    *
    * `sortBy` additionally persists within-bucket order so the SMJ reads
    * the seen side sort-free. Requires a catalog table (the bucket
    * metadata lives in the catalog, not parquet); `path` makes it
    * external so the data sits with the crawl root.
    */
  def writeBucketed(seen: Dataset[SeenEntry], table: String, path: String,
                    nBuckets: Int = 32): Unit =
    seen.write.mode("overwrite")
      .bucketBy(nBuckets, "url_hash").sortBy("url_hash")
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Exact dedupe against the bucketed seen table: anti-join on url_hash
    * whose seen side is exchange-free (PlanSpec-pinned). SHUFFLE_MERGE is
    * pinned for the same reason as FrontierJob's size gate — at real seen
    * sizes a broadcast is impossible, and SMJ is what the bucketing (and
    * its persisted sort) is laid out for.
    */
  def dedupeAgainstBucketed(spark: SparkSession, frontier: DataFrame,
                            table: String): DataFrame =
    frontier.join(spark.table(table).hint("SHUFFLE_MERGE"),
      Seq("url_hash"), "left_anti")

  /** Build per-bucket blooms over a SeenEntry set — one fixed-size buffer
    * per (map partition, bucket) crosses the shuffle (map-side combine).
    */
  def buildBlooms(
      seen: Dataset[SeenEntry],
      numBuckets: Int,
      expectedPerBucket: Long,
      fpp: Double = 0.01): DataFrame = {
    val bloomUdaf = udaf(new BloomAgg(expectedPerBucket, fpp))
    seen
      .withColumn("host_bucket", bucketOf(col("host"), numBuckets))
      .groupBy("host_bucket")
      .agg(bloomUdaf(col("url_hash")).as("bloom"))
  }

  /** Build per-bucket cuckoo filters — the deletable alternative
    * (north_rule "bloom/cuckoo"): same bucketed shape and shuffle profile as
    * [[buildBlooms]], plus O(1) deletion (e.g. evicting a host's URLs after
    * a robots change) which a bloom cannot support.
    */
  def buildCuckoos(
      seen: Dataset[SeenEntry],
      numBuckets: Int,
      expectedPerBucket: Long): DataFrame = {
    val cuckooUdaf = udaf(new CuckooAgg(expectedPerBucket))
    seen
      .withColumn("host_bucket", bucketOf(col("host"), numBuckets))
      .groupBy("host_bucket")
      .agg(cuckooUdaf(col("url_hash")).as("cuckoo"))
  }

  /** No crawl writes a seen sidecar any more, so there is none to load.
    * Kept for the benchmark's callers only.
    */
  @deprecated("the crawl keeps no seen sidecar", "0.1.0")
  def loadBlooms(spark: SparkSession, root: String, epoch: Int): Map[Int, Array[Byte]] = Map.empty

  /** Purge ONE host's URLs from the seen set (a robots change or a
    * takedown => the host must become schedulable again): the seen table is
    * re-compacted at the latest committed epoch minus the host (load() then
    * reads exactly that compact — empty tail), so the next epoch's exact
    * anti-join re-admits the host. Returns the number of purged URLs.
    */
  def purgeHost(spark: SparkSession, root: String, host: String): Long = {
    import spark.implicits._
    val committed = Snapshots.latestCommittedEpoch(root)
    if (committed < 0) return 0L
    val purged = load(spark, root).where(col("host") === host).count()
    if (purged == 0L) return 0L
    // The CURRENT load() view minus the host, re-written as the compact at
    // `committed`. Reading load() (not the pre-compact epoch union) keeps
    // an earlier same-epoch purge/compaction visible — a second purge must
    // not resurrect the first's host. That makes this a self-overwrite
    // (the current compact may be both input and output), so the filtered
    // set is eagerly materialized (localCheckpoint) BEFORE the overwrite
    // deletes the input files; a crash mid-write leaves no _SUCCESS and
    // load() falls back to the pre-purge view — retry the purge.
    val kept = load(spark, root).where(col("host") =!= host)
      .select("url_hash", "host", "first_epoch").as[SeenEntry]
      .localCheckpoint(true)
    kept.write.mode("overwrite").parquet(SeenFamily.compactDir(root, committed))
    purged
  }
}
