package graft.sources

import graft.functions.{BloomAgg, Bloom64, Cuckoo64, CuckooAgg}
import graft.model.SeenEntry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** Persistent URL-seen set + partitioned bloom sidecars (SURVEY.md §2.1 S4,
  * §7.3.5; north_rule "partitioned bloom/cuckoo URL-seen filter").
  *
  * At-rest layout under `root/`:
  *   url_seen/epoch=N/   — parquet of SeenEntry, appended per epoch
  *   bloom/epoch=N/      — parquet (host_bucket:int, bloom:binary), the
  *                         CUMULATIVE sidecar as of epoch N
  *   cuckoo/epoch=N/     — parquet (host_bucket:int, cuckoo:binary), the
  *                         same for the cuckoo sidecar kind
  *
  * Buckets are host-keyed (pmod(xxhash64(host), numBuckets)) so one bucket's
  * bloom covers a stable slice of hosts; at 10^10 URLs each of 256 buckets
  * holds ~4e7 keys => ~48 MB at 1% FPP — individually broadcastable, and a
  * batch only deserializes buckets its hosts touch. In-sandbox tests use
  * small numBuckets/expectedItems; the math is identical.
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

  /** Build per-bucket cuckoo filters — the deletable sidecar alternative
    * (north_rule "bloom/cuckoo"): same bucketed shape and shuffle profile as
    * [[buildBlooms]], plus O(1) deletion (e.g. evicting a host's URLs after
    * a robots change) which a bloom cannot support.
    */
  def buildCuckoos(
      seen: Dataset[SeenEntry],
      numBuckets: Int,
      expectedPerBucket: Long,
      tableBuckets: Int = 0): DataFrame = {
    val cuckooUdaf = udaf(new CuckooAgg(expectedPerBucket, tableBuckets))
    seen
      .withColumn("host_bucket", bucketOf(col("host"), numBuckets))
      .groupBy("host_bucket")
      .agg(cuckooUdaf(col("url_hash")).as("cuckoo"))
  }

  /** The cumulative bloom sidecar as of `epoch` (`root/bloom/epoch=N`). */
  def loadBlooms(spark: SparkSession, root: String, epoch: Int): Map[Int, Array[Byte]] =
    loadSidecar(spark, root, "bloom", epoch)

  /** The cumulative cuckoo sidecar as of `epoch` (`root/cuckoo/epoch=N`). */
  def loadCuckoos(spark: SparkSession, root: String, epoch: Int): Map[Int, Array[Byte]] =
    loadSidecar(spark, root, "cuckoo", epoch)

  /** Load the bucket->serialized-filter map of `kind` ("bloom" or
    * "cuckoo") as of `epoch` for broadcast, or an empty map when there is
    * none yet. The sidecar is tiny relative to the frontier (numBuckets
    * rows) — collect is the intended pattern here, not a driver-side loop
    * over data.
    */
  def loadSidecar(spark: SparkSession, root: String, kind: String,
                  epoch: Int): Map[Int, Array[Byte]] =
    Snapshots.epochDirs(root, kind, Seq(epoch)).headOption
      .fold(Map.empty[Int, Array[Byte]])(p => sidecarMap(spark.read.parquet(p)))

  /** A `(host_bucket, bytes)` sidecar table, collected to the driver. */
  def sidecarMap(df: DataFrame): Map[Int, Array[Byte]] =
    df.collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap

  /** Persist a sidecar map as `root/<kind>/epoch=N` — one file of
    * numBuckets rows, the filter column named after the kind.
    */
  private def writeSidecar(spark: SparkSession, sidecar: Map[Int, Array[Byte]], root: String,
                           kind: String, epoch: Int): Unit = {
    import spark.implicits._
    sidecar.toSeq.toDF("host_bucket", kind)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/$kind/epoch=$epoch")
  }

  /** Merge an epoch's blooms into the prior cumulative sidecar (word-wise
    * OR, driver-side over numBuckets small byte arrays).
    */
  def mergeBloomMaps(a: Map[Int, Array[Byte]], b: Map[Int, Array[Byte]]): Map[Int, Array[Byte]] =
    mergeSidecarMaps(a, b, Bloom64.mergeSerialized)

  /** Cuckoo analog — fingerprint re-seating instead of OR; saturation on
    * capacity overflow degrades safely (see Cuckoo64.mergeSerialized).
    */
  def mergeCuckooMaps(a: Map[Int, Array[Byte]], b: Map[Int, Array[Byte]]): Map[Int, Array[Byte]] =
    mergeSidecarMaps(a, b, Cuckoo64.mergeSerialized)

  private def mergeSidecarMaps(
      a: Map[Int, Array[Byte]],
      b: Map[Int, Array[Byte]],
      merge: (Array[Byte], Array[Byte]) => Array[Byte]): Map[Int, Array[Byte]] =
    (a.keySet ++ b.keySet).iterator.map { k =>
      (a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) => k -> merge(x, y)
        case (Some(x), None)    => k -> x
        case (None, Some(y))    => k -> y
        case _                  => throw new IllegalStateException("unreachable")
      }
    }.toMap

  /** Advance the cumulative sidecar of `kind` from `prev` (epoch-1's) to
    * `epoch`: build this epoch's filters over `newSeen`, collect and merge
    * them into `prev`, persist `root/<kind>/epoch=N`.
    */
  def advanceSidecar(spark: SparkSession, root: String, kind: String, epoch: Int,
                     prev: Map[Int, Array[Byte]], newSeen: Dataset[SeenEntry],
                     numBuckets: Int, perBucket: Long): Unit = {
    val merged =
      if (kind == "cuckoo") advanceCuckoos(spark, root, epoch, prev, newSeen, numBuckets, perBucket)
      else mergeBloomMaps(prev, sidecarMap(buildBlooms(newSeen, numBuckets, perBucket)))
    writeSidecar(spark, merged, root, kind, epoch)
  }

  private def advanceCuckoos(spark: SparkSession, root: String, epoch: Int,
                             prev: Map[Int, Array[Byte]], newSeen: Dataset[SeenEntry],
                             numBuckets: Int, perBucket: Long): Map[Int, Array[Byte]] = {
    import spark.implicits._
    // Per-epoch tables MUST share the loaded cumulative sidecar's table
    // shape: fingerprint re-seating is only defined between equal bucket
    // counts (a stored index is hash & mask — positions in a
    // differently-masked table are not derivable), so after a saturation
    // rebuild has grown the persisted tables, new epochs build at the
    // grown shape, not the seed capacity. Building at perBucket here would
    // throw "cuckoo shape mismatch" on the first post-rebuild merge.
    val loadedShape =
      if (prev.isEmpty) 0 else prev.valuesIterator.map(Cuckoo64.tableBucketsOf).max
    var merged = mergeCuckooMaps(prev,
      sidecarMap(buildCuckoos(newSeen, numBuckets, perBucket, loadedShape)))
    // The merge accumulates every epoch's URLs into a fixed-capacity
    // table; once a bucket saturates its overflow flag makes every probe
    // answer "maybe" — correct (rows route to the exact anti-join) but the
    // sidecar benefit silently vanishes. Make saturation observable AND
    // self-healing: rebuild from the full seen set at a larger shape, sized
    // on the OBSERVED max per-bucket occupancy — buckets are host-keyed
    // over a Zipf-skewed host set, so the saturated bucket can sit far
    // above total/numBuckets and an average-sized rebuild may re-saturate
    // immediately (repeating the O(total-seen) rebuild every epoch for
    // nothing).
    def overflowedIn(m: Map[Int, Array[Byte]]): Seq[Int] =
      m.filter { case (_, bytes) =>
        Cuckoo64.isOverflowed(Cuckoo64.deserialize(bytes))
      }.keys.toSeq.sorted
    var overflowed = overflowedIn(merged)
    if (overflowed.nonEmpty) {
      // committed epochs + THIS epoch's (not-yet-committed) entries — a
      // rebuild that missed newSeen would give those URLs a false
      // "definitely fresh" next epoch, skipping the exact anti-join
      val allSeen = load(spark, root).union(newSeen)
      val perBucketCounts = allSeen
        .groupBy(bucketOf(col("host"), numBuckets).as("hb"))
        .agg(count(lit(1)).as("n")).as[(Int, Long)].collect()
      val total = perBucketCounts.map(_._2).sum
      val maxPer = perBucketCounts.map(_._2).max
      val curShape = math.max(loadedShape, Cuckoo64.numBucketsFor(perBucket))
      // 25% headroom over the fullest bucket, and at least double the
      // current shape (geometric growth bounds total rebuild work over the
      // crawl's lifetime to O(final-seen-set))
      var shape = math.max(Cuckoo64.numBucketsFor(maxPer + maxPer / 4), 2 * curShape)
      var attempt = 0
      while (overflowed.nonEmpty && attempt < 3) {
        System.err.println(s"[graft] cuckoo sidecar saturated in buckets " +
          s"${overflowed.mkString(",")} at epoch $epoch — rebuilding from " +
          s"$total seen URLs (max $maxPer/bucket) at $shape table buckets")
        merged = sidecarMap(buildCuckoos(allSeen, numBuckets, perBucket, shape))
        overflowed = overflowedIn(merged)
        if (overflowed.nonEmpty) { shape *= 2; attempt += 1 }
      }
      if (overflowed.nonEmpty)
        System.err.println(s"[graft] cuckoo sidecar healing FAILED at epoch " +
          s"$epoch: buckets ${overflowed.mkString(",")} still saturated — " +
          s"their rows route to the exact anti-join (correct, unaided)")
    }
    merged
  }

  /** Purge ONE host's URLs from the seen machinery — the deletable-sidecar
    * use case the north_rule's cuckoo branch exists for (robots change /
    * takedown => the host must become schedulable again). Two pieces:
    *
    *   1. The exact decider: the seen TABLE is re-compacted at the latest
    *      committed epoch minus the host (load() then reads exactly that
    *      compact — empty tail), so the next epoch's anti-join re-admits
    *      the host. This works under EITHER sidecar kind (a stale bloom
    *      "maybe" only routes the rows to the exact join, never drops
    *      them).
    *   2. The sidecar: with cuckoo sidecars the host's fingerprints are
    *      deleted IN PLACE, O(1) per key, no rescan of other hosts — the
    *      operation a bloom cannot perform at all (its stale bits answer
    *      "maybe" forever, taxing every future epoch with exact-join
    *      routing for the purged URLs). Only the host's own bucket is
    *      touched. Deletion on a SATURATED table is unsound (Cuckoo64
    *      contract), so that bucket is rebuilt from the remaining seen
    *      rows at its existing shape instead.
    *
    * The host's hashes are collected to the driver for the in-place
    * deletes: the per-bucket filter's own capacity (~seen/numBuckets)
    * bounds what one bucket can hold, so this collect is sidecar-scale,
    * not corpus-scale — the same boundedness as the sidecar maps
    * themselves. Returns the number of purged URLs.
    */
  def purgeHost(spark: SparkSession, root: String, host: String, numBuckets: Int): Long = {
    import spark.implicits._
    val committed = Snapshots.latestCommittedEpoch(root)
    if (committed < 0) return 0L
    val hashes = load(spark, root)
      .where(col("host") === host).select("url_hash").as[Long].collect()
    if (hashes.isEmpty) return 0L
    // 1. exact decider: the CURRENT load() view minus the host, re-written
    //    as the compact at `committed`. Reading load() (not the pre-compact
    //    epoch union) keeps an earlier same-epoch purge/compaction visible
    //    — a second purge must not resurrect the first's host. That makes
    //    this a self-overwrite (the current compact may be both input and
    //    output), so the filtered set is eagerly materialized
    //    (localCheckpoint) BEFORE the overwrite deletes the input files; a
    //    crash mid-write leaves no _SUCCESS and load() falls back to the
    //    pre-purge view — retry the purge.
    val kept = load(spark, root).where(col("host") =!= host)
      .select("url_hash", "host", "first_epoch").as[SeenEntry]
      .localCheckpoint(true)
    kept.write.mode("overwrite").parquet(SeenFamily.compactDir(root, committed))
    // 2. sidecar: in-place cuckoo deletes (bloom sidecars are left as-is —
    //    their stale bits are safe, just imprecise)
    val cuckoos = loadCuckoos(spark, root, committed)
    if (cuckoos.nonEmpty) {
      val bucket = spark.range(1)
        .select(bucketOf(lit(host), numBuckets)).head().getInt(0)
      cuckoos.get(bucket).foreach { bytes =>
        val table = Cuckoo64.deserialize(bytes)
        val updated =
          if (Cuckoo64.isOverflowed(table)) {
            // saturated => deletion unsound; rebuild THIS bucket from the
            // remaining (post-purge) seen rows at the existing shape
            val fresh = Cuckoo64.alloc(Cuckoo64.tableBucketsOf(bytes))
            SeenFamily.upTo(spark, root, committed)
              .where(bucketOf(col("host"), numBuckets) === bucket)
              .select("url_hash").as[Long].collect()
              .foreach(h => Cuckoo64.insert(fresh, h))
            fresh
          } else {
            hashes.foreach(h => Cuckoo64.delete(table, h))
            table
          }
        writeSidecar(spark, cuckoos.updated(bucket, Cuckoo64.serialize(updated)), root,
          "cuckoo", committed)
      }
    }
    hashes.length.toLong
  }
}
