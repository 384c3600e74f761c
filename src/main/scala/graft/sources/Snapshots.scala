package graft.sources

import graft.model.{Fetched, PartitionLineage, Revision, Scheduled, Snapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Epoch-snapshot store + manifest-based checkpointing (SURVEY.md §2.1
  * S2/S3/S6, §3 E3; north_rule "resumable from Iceberg snapshot checkpoints
  * with per-partition lineage and fetch/parse metrics").
  *
  * No iceberg-spark-runtime jar exists in this zero-egress sandbox
  * (SURVEY.md §7.0), so the Iceberg commit protocol is emulated with the
  * same observable semantics: epoch-partitioned parquet + an ATOMIC manifest
  * rename as the commit point. An epoch is committed iff
  * `root/_manifests/epoch-N.json` exists; a crash mid-write leaves data
  * files but no manifest, and resume re-runs the epoch idempotently
  * (deterministic inputs => identical outputs, overwrite mode). Swapping
  * this object for Iceberg `spark.table` calls is a sink-level change only.
  */
object Snapshots {

  /** The contract (input_hint) columns of the primary table. */
  private val SnapshotCols =
    Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "epoch")

  /** Parsed-rows-only view with exactly the input_hint schema. Epochs
    * written by the instrumented fetch wave carry fetch-log columns
    * (status/partition_id/elapsed_ms) and failure rows; both are dropped
    * here so every downstream consumer sees the contract table.
    */
  def read(spark: SparkSession, root: String, epoch: Int): DataFrame =
    parsedOnly(readRoot(spark, root)
      .where(col("epoch") === epoch)) // partition-pruned directory scan

  def readUpTo(spark: SparkSession, root: String, maxEpoch: Int): DataFrame =
    parsedOnly(readRoot(spark, root).where(col("epoch") <= maxEpoch))

  /** One epoch WITH the fetch-log columns (status, partition_id,
    * elapsed_ms) and failure rows — the fetch_log view of the same files.
    */
  def readRaw(spark: SparkSession, root: String, epoch: Int): DataFrame =
    readRoot(spark, root).where(col("epoch") === epoch)

  /** `snapshots/epoch=N`: the Fetched rows minus `epoch`, which is the dir. */
  val SnapshotFamily: Family = Family("snapshots",
    StructType(Encoders.product[Fetched].schema.filterNot(_.name == "epoch")))

  /** A root may straddle the fetch-log format change (older epochs
    * written without the status column). Plain parquet reads pick ONE
    * footer's schema for the whole root — if it has status, old-epoch
    * rows would read status=null; if it lacks status, new-epoch failure
    * rows would leak into the contract view. The root was therefore read
    * with mergeSchema=true — but that pays a footer-reading Spark job
    * over every file in the root on EVERY call, and the schema being
    * merged is static code knowledge: every format ever written is a
    * subset of [[RootSchema]] (the Fetched row + the epoch partition
    * column). Supplying it explicitly keeps the exact same read
    * semantics — parquet columns match by name, pre-status epochs read
    * their missing fetch-log columns as null, which is precisely the
    * [[parsedOnly]] contract ("null status = parsed") — minus the
    * per-call footer pass (guide §6: metadata work on the driver is a
    * fixed cost every scan pays; the pipeline demos call this reader
    * dozens of times per run).
    */
  private[graft] val RootSchema = SnapshotFamily.schema.add("epoch", IntegerType)

  private def readRoot(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(RootSchema).parquet(s"$root/snapshots")

  // null status = row from a pre-status epoch = it was parsed (failure
  // rows did not exist in that format)
  private def parsedOnly(df: DataFrame): DataFrame =
    df.where(coalesce(col("status"), lit("parsed")) === "parsed")
      .select(SnapshotCols.map(col): _*)

  /** Uninstrumented form (no fetch wave): every row is "parsed", the
    * partition is the write task, wall/dedupe counters are zero.
    */
  def writeEpoch(snaps: Dataset[Snapshot], root: String, epoch: Int): PartitionLineageSummary = {
    import snaps.sparkSession.implicits._
    val fetched = snaps.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map(s => Fetched(s.image_id, s.bytes, s.w, s.h, s.fmt, s.caption,
        s.phash, s.epoch, pid, "parsed", 0L))
    }
    writeEpochFetched(fetched, root, epoch)
  }

  /** Write one epoch's fetch-wave output + the full per-partition lineage
    * manifest (north_rule "per-partition lineage and fetch/parse metrics";
    * schema documented on [[graft.model.PartitionLineage]]) WITHOUT
    * committing. Failure rows land in the same files (null payload, tiny)
    * so the fetch log and the snapshot table are one write; [[read]] serves
    * the parsed-only contract view. Lineage is computed on the WRITTEN data
    * so the manifest describes what is actually at rest; `dedupeCounts`
    * (partition_id -> candidates dropped before scheduling, attributed by
    * the same hash(url_hash) routing as the wave) merges in driver-side —
    * it is at most one entry per fetch partition, never data-sized.
    * The caller finishes all of the epoch's sibling state (url_seen, bloom
    * sidecars, latest-version table) and only then calls
    * [[commitManifest]] — the manifest is the single atomic commit point, so
    * a crash anywhere before it leaves an uncommitted epoch that resume
    * re-runs idempotently (every write here is per-epoch overwrite).
    */
  def writeEpochFetched(
      fetched: Dataset[Fetched],
      root: String,
      epoch: Int,
      dedupeCounts: Map[Int, Long] = Map.empty,
      writePartitions: Int = 0): PartitionLineageSummary = {
    val spark = fetched.sparkSession
    import spark.implicits._
    // Output-file sizing (spark_optimization_guide §6): the fetch wave's
    // task count tracks parallelism, not data volume, so a small epoch
    // written as-is leaves one tiny file per fetch task and every
    // downstream root scan (plus its mergeSchema footer pass) pays a task
    // per file forever. Callers that know the epoch's row count pass a
    // target file count; the rebalance is a round-robin exchange AFTER the
    // pid/elapsed-assigning mapPartitions (which then runs map-side, so
    // the recorded partition_id lineage is byte-identical — pinned by the
    // lineage goldens). 0 = keep the wave's own partitioning.
    val sized =
      if (writePartitions > 0) fetched.repartition(writePartitions)
      else fetched
    // the epoch=N directory IS the partition value — keeping the data
    // column too would collide with partition inference on root scans
    sized.drop("epoch").write.mode("overwrite").parquet(SnapshotFamily.dir(root, epoch))
    val written = SnapshotFamily.readEpochs(spark, root, Seq(epoch))
    val parsed = col("status") === "parsed"
    val agg = written
      .groupBy(col("partition_id"))
      .agg(
        count(lit(1)).as("n_scheduled"),
        count(when(col("status") =!= "fetch_failed", 1)).as("n_fetched"),
        count(when(parsed, 1)).as("n_parsed"),
        count(when(!parsed, 1)).as("n_failed"),
        max(col("elapsed_ms")).as("wall_ms"),
        min(when(parsed, col("phash"))).as("min_phash"),
        max(when(parsed, col("phash"))).as("max_phash"),
        min(when(parsed, xxhash64(col("image_id")))).as("min_url_hash"),
        max(when(parsed, xxhash64(col("image_id")))).as("max_url_hash"))
      .as[(Int, Long, Long, Long, Long, Long,
           Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect()
    val byPid = agg.map(t => t._1 -> t).toMap
    val allPids = (byPid.keySet ++ dedupeCounts.keySet).toSeq.sorted
    val lineage = allPids.map { pid =>
      byPid.get(pid) match {
        case Some((_, nSched, nFetch, nParse, nFail, wall, mnP, mxP, mnU, mxU)) =>
          PartitionLineage(epoch, pid, nSched, dedupeCounts.getOrElse(pid, 0L),
            nFetch, nParse, nFail, wall, mnP, mxP, mnU, mxU)
        case None => // every candidate of this partition was deduped away
          PartitionLineage(epoch, pid, 0L, dedupeCounts(pid),
            0L, 0L, 0L, 0L, None, None, None, None)
      }
    }
    lineage.toDS().drop("epoch") // epoch=N dir IS the partition value
      .coalesce(1) // <= one row per fetch partition — never parallelism-sized
      .write.mode("overwrite").parquet(s"$root/lineage/epoch=$epoch")
    PartitionLineageSummary(epoch, lineage.map(_.n_parsed).sum, lineage.length)
  }

  final case class PartitionLineageSummary(epoch: Int, n_rows: Long, n_partitions: Int)

  def commitManifest(root: String, epoch: Int, nRows: Long, nParts: Int): Unit = {
    val dir = Paths.get(s"$root/_manifests")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".epoch-$epoch.json.tmp")
    val fin = dir.resolve(s"epoch-$epoch.json")
    Files.writeString(tmp, s"""{"epoch":$epoch,"n_rows":$nRows,"n_partitions":$nParts}""")
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Columns carried by the latest-version sidecar — everything the
    * revision diff needs and nothing else (bytes NEVER enter this table).
    */
  private val LatestCols = Seq("image_id", "epoch", "phash", "caption")

  /** Latest version per image_id as of `epoch` (`root/latest/epoch=N`).
    * Maintained so each epoch's revision diff touches current + latest-prior
    * only — O(|current| + |corpus|) flat in epoch count — instead of
    * re-windowing the entire snapshot history (which grows O(total
    * snapshots) per epoch: a scale-killer once epochs accumulate).
    */
  def readLatest(spark: SparkSession, root: String, epoch: Int): DataFrame =
    LatestFamily.readEpochs(spark, root, Seq(epoch)).withColumnRenamed("snap_epoch", "epoch")

  /** `latest/epoch=N` stores the row's own epoch as `snap_epoch`: the
    * epoch=N directory means "as of N", not the version's epoch.
    */
  val LatestFamily: Family = Family("latest",
    StructType.fromDDL("image_id STRING, snap_epoch INT, phash BIGINT, caption STRING"))

  /** latest(e) = current(e) ∪ (latest(e-1) ∖ ids present in current(e)).
    * Per-epoch overwrite of `latest/epoch=e` — idempotent under re-runs;
    * prior-epoch dirs are retained so resume reads a consistent version.
    */
  def writeLatest(spark: SparkSession, root: String, epoch: Int,
      exclude: Option[DataFrame] = None): Unit = {
    val cur = read(spark, root, epoch).select(LatestCols.map(col): _*)
    val prev0 = readLatest(spark, root, epoch - 1)
    // compliance exclusion (robots-policy tightening, c59): carried-forward
    // rows on the at-rest purge list drop here, in the same single write —
    // no read-back rewrite of the dir. Applies to PREV only: a row in the
    // CURRENT epoch was fetched under the new policy and stays by right.
    val prev = exclude.fold(prev0)(ex =>
      prev0.join(ex.select("image_id"), Seq("image_id"), "left_anti"))
    val merged = prev
      .join(cur.select("image_id"), Seq("image_id"), "left_anti")
      .unionByName(cur)
    merged.withColumnRenamed("epoch", "snap_epoch")
      .write.mode("overwrite").parquet(LatestFamily.dir(root, epoch))
  }

  /** S3c — crawl-root VACUUM (the remove-orphan-files/expire maintenance
    * an Iceberg deployment runs as a table procedure): deletes sibling
    * state that can never be read —
    *   - `epoch=N` dirs with N above the last committed manifest (crash
    *     leftovers; resume overwrites them anyway, but a crash LOOP would
    *     otherwise accumulate orphan files without bound),
    *   - epoch dirs missing their `_SUCCESS` marker (half-written output
    *     of a crashed job — every reader here is already marker-gated or
    *     overwrite-idempotent, so these are pure dead bytes),
    *   - stray manifest `.tmp` files (a crash between write and atomic
    *     move).
    * Committed state is never touched: the manifest IS the commit point,
    * so `epoch > latestCommitted || !_SUCCESS` is exactly the orphan
    * predicate. Offline maintenance — do not run concurrently with a
    * crawl epoch (the epoch in flight is, by definition, uncommitted).
    * Returns the number of directories/files removed.
    */
  def vacuum(root: String): Long = {
    val committed = latestCommittedEpoch(root)
    val rootDir = Paths.get(root)
    if (!Files.isDirectory(rootDir)) return 0L
    var removed = 0L
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally all.close()
    }
    import scala.jdk.CollectionConverters._
    val families = Files.list(rootDir)
    try families.iterator().asScala
      .filter(f => Files.isDirectory(f) && f.getFileName.toString != "_manifests")
      .foreach { fam =>
        val epochRe = "epoch=(\\d+)".r
        val kids = Files.list(fam)
        try kids.iterator().asScala.foreach { kid =>
          epochRe.findFirstMatchIn(kid.getFileName.toString).foreach { m =>
            val e = m.group(1).toInt
            val orphan = e > committed ||
              (Files.isDirectory(kid) && !Files.exists(kid.resolve("_SUCCESS")))
            if (orphan) { rmTree(kid); removed += 1 }
          }
        } finally kids.close()
      }
    finally families.close()
    val manifests = Paths.get(s"$root/_manifests")
    if (Files.isDirectory(manifests)) {
      val tmps = Files.list(manifests)
      try tmps.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".tmp"))
        .foreach { p => Files.delete(p); removed += 1 }
      finally tmps.close()
    }
    removed
  }

  /** The `root/<family>/epoch=e` dirs that exist, for e in `epochs`, in
    * order — committed or not: callers pass only epochs they may read.
    */
  def epochDirs(root: String, family: String, epochs: Seq[Int]): Seq[String] =
    epochs.map(e => s"$root/$family/epoch=$e").filter(p => new java.io.File(p).exists())

  /** Highest e <= maxEpoch whose `root/<family>/epoch=e` write COMPLETED
    * (the parquet _SUCCESS marker is there), or -1: a write interrupted
    * mid-way is invisible to readers gated on this.
    */
  def latestCompleteEpoch(root: String, family: String, maxEpoch: Int): Int =
    Option(new java.io.File(s"$root/$family").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.stripPrefix("epoch=").toInt)
      .filter(_ <= maxEpoch)
      .maxOption.getOrElse(-1)

  /** A committed epoch's schedule (`root/scheduled/epoch=N`). */
  def readScheduled(spark: SparkSession, root: String, epoch: Int): Dataset[Scheduled] = {
    import spark.implicits._
    ScheduledFamily.readEpochs(spark, root, Seq(epoch)).as[Scheduled]
  }

  /** The crawl's per-epoch schedule and revision diff, written as their
    * encoders' rows (epoch included).
    */
  val ScheduledFamily: Family = Family("scheduled", Encoders.product[Scheduled].schema)
  val RevisionFamily: Family = Family("revisions", Encoders.product[Revision].schema)

  /** An epoch-partitioned table family: one parquet dir per epoch,
    * `root/<name>/epoch=N`, each written once in overwrite mode, and
    * optional compacts `root/<name>_compact/epoch=N` that fold every epoch
    * up to N. Every read uses the static `schema` of the per-epoch files
    * (the writer's encoder, or a DDL next to the writer), as [[RootSchema]]
    * does: an inferred schema costs a footer-reading Spark job per read.
    *
    * A family with `epochInCompact` needs each row's epoch, which its
    * per-epoch files do not store: reads re-attach it from the dir name,
    * and its compacts store it as a column.
    */
  final case class Family(name: String, schema: StructType, epochInCompact: Boolean = false) {
    /** The columns every read of the family returns. */
    val readSchema: StructType = if (epochInCompact) schema.add("epoch", IntegerType) else schema

    def dir(root: String, epoch: Int): String = s"$root/$name/epoch=$epoch"

    def compactDir(root: String, epoch: Int): String = s"$root/${name}_compact/epoch=$epoch"

    /** The highest compact epoch <= maxEpoch whose write completed, or -1. */
    def latestCompact(root: String, maxEpoch: Int): Int =
      latestCompleteEpoch(root, s"${name}_compact", maxEpoch)

    def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.List.of[Row](), readSchema)

    /** The existing dirs among `epochs`, committed or not (callers pass
      * only epochs they may read), or an empty frame.
      */
    def readEpochs(spark: SparkSession, root: String, epochs: Seq[Int]): DataFrame = {
      val present = epochs.filter(e => new java.io.File(dir(root, e)).exists())
      if (!epochInCompact) scan(spark, present.map(dir(root, _)))
      else present
        .map(e => spark.read.schema(schema).parquet(dir(root, e)).withColumn("epoch", lit(e)))
        .reduceOption(_ unionByName _).getOrElse(empty(spark))
    }

    /** The family as of `upToEpoch`: the latest compact at or below
      * min(upToEpoch, maxCompactEpoch) whose write COMPLETED (its _SUCCESS
      * marker is there, so a compaction interrupted mid-write is invisible),
      * plus the per-epoch dirs after it. A 10^4-epoch family thus lists
      * O(compaction cadence) dirs per read, not 10^4; with no compact this
      * is every epoch dir.
      */
    def upTo(spark: SparkSession, root: String, upToEpoch: Int,
             maxCompactEpoch: Int = Int.MaxValue): DataFrame = {
      val c = latestCompact(root, math.min(upToEpoch, maxCompactEpoch))
      val compact = if (c >= 0) Seq(compactDir(root, c)) else Nil
      if (!epochInCompact) scan(spark, compact ++ epochDirs(root, name, c + 1 to upToEpoch))
      else (compact.map(p => scan(spark, Seq(p))) :+ readEpochs(spark, root, c + 1 to upToEpoch))
        .reduce(_ unionByName _)
    }

    /** Fold the family up to `upToEpoch` (through `fold`, which keeps the
      * schema) into `<name>_compact/epoch=upToEpoch`. Idempotent: a re-run
      * reads the PREVIOUS compact (maxCompactEpoch excludes its own target,
      * whose output may half-exist) and overwrites. The per-epoch dirs stay
      * on disk as the replayable source of truth; only the read narrows.
      */
    def compact(spark: SparkSession, root: String, upToEpoch: Int,
                fold: DataFrame => DataFrame = identity): Unit =
      fold(upTo(spark, root, upToEpoch, maxCompactEpoch = upToEpoch - 1))
        .write.mode("overwrite").parquet(compactDir(root, upToEpoch))

    private def scan(spark: SparkSession, paths: Seq[String]): DataFrame =
      if (paths.isEmpty) empty(spark) else spark.read.schema(readSchema).parquet(paths: _*)
  }

  /** Highest committed epoch, or -1 (E3 resume entry point). */
  def latestCommittedEpoch(root: String): Int = {
    val dir = Paths.get(s"$root/_manifests")
    if (!Files.isDirectory(dir)) return -1
    val re = "epoch-(\\d+)\\.json".r
    val it = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .flatMap(p => re.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
        .foldLeft(-1)(math.max)
    } finally it.close()
  }
}
