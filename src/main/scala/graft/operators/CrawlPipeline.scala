package graft.operators

import graft.functions.{GraftFunctions, ImageKit}
import graft.model._
import graft.sources.{Gen, SeenStore, Snapshots}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}

/** The multi-epoch crawl driver: E1 frontier -> synthetic fetch -> snapshot
  * commit -> seen-store merge -> E2 diff, resumable from the last committed
  * manifest (SURVEY.md §3; north_rule "each crawl epoch is resumable from
  * ... snapshot checkpoints with per-partition lineage and fetch/parse
  * metrics").
  */
object CrawlPipeline {

  final case class EpochSummary(epoch: Int, n_scheduled: Long)

  /** The c44 aged carryover: (url, priority) Seed rows. */
  val CarryoverFamily: Snapshots.Family =
    Snapshots.Family("carryover", Encoders.product[Seed].schema)

  /** The c59 robots-rejected rows, kept so a later flip can re-gate them. */
  val RobotsHeldFamily: Snapshots.Family = Snapshots.Family("robots_held", StructType.fromDDL(
    "url_canon STRING, url_hash BIGINT, host STRING, path STRING, priority DOUBLE"))

  /** The c59 purge list of the flip epoch. */
  val RobotsPurgedFamily: Snapshots.Family = Snapshots.Family("robots_purged",
    StructType.fromDDL("image_id STRING, host STRING, path STRING"))

  /** Deterministic "fetch": the sandbox has no network (SURVEY.md §2.1 S5),
    * so content is a pure function of (url_hash, epoch). Revision script:
    * ~1/8 of pages get a pixel revision at any given epoch, ~1/16 a caption
    * revision — variant counters accumulate so history is consistent.
    */
  def contentVariant(urlHash: Long, epoch: Int): Int = {
    var v = 0
    var e = 1
    while (e <= epoch) {
      if ((ImageKit.mix64(urlHash ^ (e * 0x9e37L)) & 0x7) == 0) v += 1
      e += 1
    }
    v
  }

  def captionVariant(urlHash: Long, epoch: Int): Int = {
    var v = 0
    var e = 1
    while (e <= epoch) {
      if ((ImageKit.mix64(urlHash ^ (e * 0x51edL)) & 0xf) == 0) v += 1
      e += 1
    }
    v
  }

  /** Deterministic failure classes for the synthetic fetch (the network
    * would provide these for free; url_hash-seeded so resume re-runs are
    * bit-identical): ~1/64 of scheduled fetches time out, ~1/128 of fetched
    * pages fail to parse. Both counters in the lineage manifest are real
    * because of this — nothing is hardcoded to succeed.
    */
  def fetchFails(urlHash: Long, epoch: Int): Boolean =
    (ImageKit.mix64(urlHash ^ (epoch * 0xa5f1L + 0x5bd1L)) & 63L) == 0L

  def parseFails(urlHash: Long, epoch: Int): Boolean =
    (ImageKit.mix64(urlHash ^ (epoch * 0xc3b7L + 0x2e63L)) & 127L) == 0L

  /** The fetch-partition routing expression: `repartition(n, col)` routes
    * rows by murmur3-hash(col) mod n, and this column replicates it exactly
    * (`hash` IS Murmur3 with HashPartitioning's seed), so dedupe drops —
    * which never reach the wave — are attributable to the fetch partition
    * they would have landed in, and the lineage manifest's per-partition
    * counters all describe the same unit of work.
    */
  def fetchPartitionId(urlHash: Column, numPartitions: Int): Column =
    pmod(hash(urlHash), lit(numPartitions)).cast("int")

  /** The instrumented fetch wave (S5+S6): explicitly hash-partitioned on
    * url_hash (uniform per-task load even under hot-host skew; per-host
    * pacing is carried by scheduled_at_ms, not task order), one decode/
    * encode pass per row, per-row status + monotone per-task elapsed so the
    * lineage aggregation recovers true task wall times. Failure rows carry
    * null payloads — they cost bytes only in the fetch log, never in a
    * shuffle.
    */
  def fetchInstrumented(
      scheduled: Dataset[Scheduled],
      epoch: Int,
      numPartitions: Int): Dataset[Fetched] = {
    import scheduled.sparkSession.implicits._
    scheduled
      .repartition(numPartitions, col("url_hash"))
      .mapPartitions { it =>
        val t0 = System.nanoTime()
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.map { s =>
          val row =
            if (fetchFails(s.url_hash, epoch))
              Fetched(s.url_canon, null, 0, 0, null, null, 0L, epoch,
                pid, "fetch_failed", 0L)
            else if (parseFails(s.url_hash, epoch))
              Fetched(s.url_canon, null, 0, 0, null, null, 0L, epoch,
                pid, "parse_failed", 0L)
            else {
              val fmt = if ((s.url_hash & 1L) == 0L) "png" else "jpeg"
              val snap = Gen.snapshotRow(
                imageId = s.url_canon,
                variant = contentVariant(s.url_hash, epoch),
                captionVer = captionVariant(s.url_hash, epoch),
                fmt = fmt, epoch = epoch)
              Fetched(snap.image_id, snap.bytes, snap.w, snap.h, snap.fmt,
                snap.caption, snap.phash, epoch, pid, "parsed", 0L)
            }
          row.copy(elapsed_ms = (System.nanoTime() - t0) / 1000000L)
        }
      }
  }

  // ---- c67: fetched-payload validation wired into the pipeline --------

  /** Deterministic payload damage class for the synthetic fetch (the real
    * network supplies these for free; url_hash-seeded so resume re-runs
    * are bit-identical): ~1/32 of parsed pages arrive damaged — half
    * TRUNCATED mid-stream (connection cut before the container's
    * dimension field: both the c55 trailer audit and the c63 dims sniff
    * refuse it), half substituted by a half-size THUMBNAIL (a CDN/proxy
    * re-render: container whole, trailer intact, magic matches — ONLY
    * the c63 header-dims-vs-catalog gate can catch it).
    * 0 = clean, 1 = truncated, 2 = thumbnail.
    */
  def payloadDamage(urlHash: Long, epoch: Int): Int = {
    val m = ImageKit.mix64(urlHash ^ (epoch * 0x6d2bL + 0x3c97L))
    if ((m & 31L) != 0L) 0 else (1 + ((m >>> 8) & 1L)).toInt
  }

  /** c55+c63 wired end-to-end: the pre-decode admission gate a fetch
    * pipeline runs on every response — magic sniff vs declared format,
    * trailer intact, header dims == catalog dims — as ONE codegen
    * projection over the fetch wave (nothing decoded; the damage
    * injection above is the only per-row kernel work and models the
    * network, not the gate). Rows failing the gate flip to status
    * `invalid_payload` with a null payload: they are fetched-but-not-
    * parsed in the lineage manifest, never enter the parsed contract
    * view, the revisions diff, or the latest table — but their URL is
    * already in the seen store (the fetch happened; retry is recrawl
    * policy, not dedupe policy). Off by default: base goldens stay
    * byte-identical.
    */
  def validateFetched(fetched: Dataset[Fetched], epoch: Int): Dataset[Fetched] = {
    val spark = fetched.sparkSession
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val damaged = fetched.mapPartitions(_.map { r =>
      if (r.status != "parsed") r
      else payloadDamage(CrawlOracle.xxhash64(r.image_id), epoch) match {
        case 1 => r.copy(bytes = r.bytes.take(12))
        case 2 =>
          val (px, w, h) = ImageKit.decodeGray(r.bytes)
          val tw = math.max(1, w / 2); val th = math.max(1, h / 2)
          val tp = ImageKit.resampleArea(px, w, h, tw, th)
            .map(v => math.max(0, math.min(255, math.round(v).toInt)))
          r.copy(bytes = ImageKit.encode(tp, tw, th, r.fmt))
        case _ => r
      }
    })
    val declaredPacked =
      shiftleft(col("w").cast("long"), 32).bitwiseOR(col("h").cast("long"))
    val ok = FetchAudit.sniffedFmtCol(col("bytes")) === col("fmt") &&
      FetchAudit.trailerOkCol(col("bytes")) &&
      GraftFunctions.headerDims64(col("bytes")) === declaredPacked
    damaged.toDF()
      .withColumn("status",
        when(col("status") === "parsed" && !ok, "invalid_payload")
          .otherwise(col("status")))
      .withColumn("bytes",
        when(col("status") === "invalid_payload", lit(null).cast("binary"))
          .otherwise(col("bytes")))
      .as[Fetched]
  }

  /** c67 demo rows: a 2-epoch validated crawl's per-epoch status ledger —
    * the auditable record the admission gate leaves in the fetch log
    * (parsed / invalid_payload / fetch_failed / parse_failed counts).
    */
  def payloadGateDemo(spark: SparkSession): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c67demo")
    // trimmed demo scale (c44/c51 precedent): ~8 expected damage rows
    // per epoch at 1/32 — the ledger stays non-vacuous (all four statuses
    // realized per epoch, probed 8 rows) and the wall drops ~1 s; the
    // fixed 2-epoch crawl cost dominates, and the semantics are pinned at
    // full scale by ValidationPipelineSpec
    run(spark, root, untilEpoch = 1, seedsPerEpoch = 350,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 250,
        defaultHostBudget = 4, maxHostBudget = 4),
      payloadValidation = true)
    (0 to 1).map(e => Snapshots.readRaw(spark, root, e)
        .groupBy(lit(e).as("epoch"), col("status"))
        .agg(count(lit(1)).as("n")))
      .reduce(_ unionByName _)
      .orderBy("epoch", "status")
  }

  /** c44 demo: tight-budget epochs with priority aging on (boost 2.0 —
    * above the whole fresh-priority range, so one carryover round outranks
    * every new discovery); one row per scheduled URL with its
    * first-scheduled epoch and whether it arrived via an aged carryover.
    * AgingSpec contrasts this against an aging-off control, where URLs
    * below the outlink priority floor starve behind fresh discoveries.
    *
    * 2 epochs (0..1) suffice for every row class: carryover is written at
    * epoch 0, boosted re-entries schedule at epoch 1, and the 2.0 boost
    * pushes any aged row past the was_aged threshold immediately (so rows
    * realize aged + un-aged + both first_epoch values); the
    * starvation-bound semantics are pinned by AgingSpec on its own longer
    * run, so the bench demo pays the ~40-action-per-epoch pipeline fixed
    * cost (see BENCH/PLANS.md) the minimum number of times.
    */
  def agingDemo(spark: SparkSession, epochs: Int = 1, seedsPerEpoch: Int = 400,
                budget: Int = 100): org.apache.spark.sql.DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c44")
    run(spark, root, untilEpoch = epochs, seedsPerEpoch = seedsPerEpoch,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = budget),
      aging = true, agingBoost = 2.0)
    val sched = (0 to epochs).map(e =>
      Snapshots.readScheduled(spark, root, e).select("url_hash", "host", "priority", "epoch"))
      .reduce(_ unionByName _)
    sched.groupBy("url_hash", "host")
      .agg(min("epoch").as("first_epoch"), max("priority").as("max_priority"))
      .select(col("url_hash"), col("host"), col("first_epoch").cast("int").as("first_epoch"),
        (col("max_priority") >= 2.0).as("was_aged"))
      .orderBy("url_hash")
  }

  /** c83 demo rows: a 3-epoch retrying crawl's failure ledger — every URL
    * that ever failed transiently, with its last outcome and whether the
    * retry budget still covers it. fanout 0 + identical per-epoch seeds
    * make epochs 1..2 pure retry waves, so the ledger directly exhibits
    * fail→retry→recover and fail→retry→fail chains.
    */
  def retryDemo(spark: SparkSession, epochs: Int = 2,
                seedsPerEpoch: Int = 400, retryMax: Int = 2): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c83")
    run(spark, root, untilEpoch = epochs, seedsPerEpoch = seedsPerEpoch,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 10000),
      outlinkFanout = 0, retryFailures = true, retryMax = retryMax)
    RetryOps.retryLedger(spark, root, epochs, retryMax)
      .where(col("n_transient") >= 1)
      .orderBy("image_id")
  }

  /** Synthetic outlink discovery (SURVEY.md §2.7 U1): each fetched page
    * links to a deterministic handful of other article URLs on its host.
    * With `crossHost` the LAST link of each fanout set instead targets a
    * deterministically chosen other host — the link pattern that gives
    * the crawl a real host graph (and g02 rank-ordered crawling something
    * to rank). Off by default: the base goldens stay byte-identical.
    */
  def outlinks(scheduled: Dataset[Scheduled], fanout: Int,
               crossHost: Boolean = false): Dataset[Seed] = {
    import scheduled.sparkSession.implicits._
    scheduled.flatMap { s =>
      (0 until fanout).map { k =>
        val a = java.lang.Long.remainderUnsigned(ImageKit.mix64(s.url_hash ^ (k + 1L)), 100000L)
        val host =
          if (crossHost && k == fanout - 1) crossHostOf(s.url_hash, k)
          else s.host
        Seed(s"http://$host/news/linked/art-$a", 0.25)
      }
    }
  }

  /** The deterministic cross-host target of a page's last outlink —
    * one formula, used by outlink generation AND by host-edge recovery
    * from committed schedules (so the edge list never needs persisting).
    */
  def crossHostOf(urlHash: Long, k: Int): String =
    Gen.hostName(java.lang.Long.remainderUnsigned(
      ImageKit.mix64(urlHash ^ 0x9e3779b97f4a7c15L ^ (k + 1L)), Gen.NumHosts).toInt)

  /** (src_host, dst_host) edges implied by a committed schedule's
    * cross-host outlinks — regenerated from the same formula, self-loops
    * dropped, deduplicated. The host graph is tiny relative to the page
    * tables, so this is one narrow pass + a distinct.
    */
  def hostEdgesFromScheduled(scheduled: Dataset[Scheduled], fanout: Int): DataFrame = {
    import scheduled.sparkSession.implicits._
    scheduled.flatMap { s =>
      val dst = crossHostOf(s.url_hash, fanout - 1)
      if (dst != s.host) Some((s.host, dst)) else None
    }.toDF("src", "dst").distinct()
  }

  /** g02 — rank-boost outlink priorities: each outlink's priority gains
    * its DESTINATION host's PageRank (authority flows to what gets
    * linked). The rank table is host-sized — broadcast; the arithmetic
    * is one double add over 6dp-rounded ranks, so the single-threaded
    * mirror reproduces it bit-for-bit.
    */
  def rankBoosted(outs: Dataset[Seed], hostRanks: DataFrame): Dataset[Seed] = {
    import outs.sparkSession.implicits._
    GraftFunctions.ensureRegistered(outs.sparkSession)
    outs.toDF()
      .withColumn("host", GraftFunctions.hostOf(col("url")))
      .join(broadcast(hostRanks.select(col("node").as("host"), col("pagerank"))),
        Seq("host"), "left")
      .select(col("url"),
        (col("priority") + coalesce(col("pagerank"), lit(0.0))).as("priority"))
      .as[Seed]
  }

  /** Run epochs [latestCommitted+1, untilEpoch] over a seed generator;
    * resume-safe: re-invoking after a crash (or on a fresh session) picks
    * up from the manifest (E3). Each epoch runs the stages of [[Crawl]] in
    * write order; the manifest commit is the last write.
    *
    * Single-tenant: the loop's shuffle-width and AQE settings are set on
    * `spark`'s own conf for the whole run ([[graft.SparkEnv.withConf]]), so
    * a query run concurrently on the same session sees them too.
    */
  def run(
      spark: SparkSession,
      root: String,
      untilEpoch: Int,
      seedsPerEpoch: Int,
      cfg0: FrontierJob.Config,
      outlinkFanout: Int = 2,
      fetchPartitions: Int = 32,
      compactSeenEvery: Int = 8,
      retainEvery: Int = 0,
      retainWindow: Long = 4L,
      retainStride: Int = 3,
      backoff: Boolean = false,
      backoffThresholdBp: Int = 1500,
      byteBudgetPerHost: Long = 0L,
      recrawl: Boolean = false,
      recrawlPolicy: String = "staleness",
      revalidate: Boolean = false,
      rankOrdered: Boolean = false,
      sitemaps: Boolean = false,
      adaptivePacing: Boolean = false,
      aging: Boolean = false,
      agingBoost: Double = 0.25,
      robotsFlipEpoch: Int = -1,
      robotsAvailability: Boolean = false,
      payloadValidation: Boolean = false,
      retryFailures: Boolean = false,
      retryMax: Int = 2): Seq[EpochSummary] = {
    require(recrawlPolicy == "staleness" || recrawlPolicy == "changerate",
      s"unknown recrawl policy: $recrawlPolicy")
    val c = new Crawl(spark, root, seedsPerEpoch, outlinkFanout, fetchPartitions,
      compactSeenEvery, retainEvery, retainWindow, retainStride, backoff, backoffThresholdBp,
      byteBudgetPerHost, recrawl, recrawlPolicy, revalidate, rankOrdered, sitemaps,
      adaptivePacing, aging, agingBoost, robotsFlipEpoch, robotsAvailability, payloadValidation,
      retryFailures, retryMax)
    graft.SparkEnv.withConf(spark,
      "spark.sql.shuffle.partitions" -> c.loopPartitions,
      "spark.sql.adaptive.enabled" -> "false")(
      (Snapshots.latestCommittedEpoch(root) + 1 to untilEpoch).map { epoch =>
        val cfg = cfg0.copy(epoch = epoch, epochT0Ms = cfg0.epochT0Ms + epoch * 3600000L)
        val seen = SeenStore.load(spark, root)
        val (deduped, dedupeCounts) = c.dedupe(c.seeds(epoch), seen)
        val toRobots = c.revisitFrontier(epoch, deduped)
        val robots = c.robots(epoch)
        val allowed = c.allowed(cfg, toRobots, robots)
        val scheduled = c.writeSchedule(cfg, toRobots, robots, allowed)
        deduped.unpersist()
        val nScheduled = scheduled.count()
        val summary = c.fetchAndSnapshot(epoch, scheduled, nScheduled, dedupeCounts)
        c.seenMerge(epoch, scheduled, seen)
        c.diffAndLatest(cfg)
        scheduled.unpersist()
        c.commit(epoch, summary)
        EpochSummary(epoch, nScheduled)
      })
  }

  /** One crawl's settings (the arguments of [[run]]) and its epoch stages.
    * Each stage owns its feature guard; every feature is off by default,
    * so the base goldens stay byte-identical. Every write goes to a
    * per-epoch `root/<family>/epoch=N` dir in overwrite mode, so a crash
    * before the manifest commit leaves an uncommitted epoch that resume
    * re-runs idempotently (pinned per writer by PipelineResumeSpec's
    * crash-point matrix).
    */
  private final class Crawl(
      spark: SparkSession, root: String, seedsPerEpoch: Int, outlinkFanout: Int,
      fetchPartitions: Int, compactSeenEvery: Int, retainEvery: Int, retainWindow: Long,
      retainStride: Int, backoff: Boolean,
      backoffThresholdBp: Int, byteBudgetPerHost: Long, recrawl: Boolean,
      recrawlPolicy: String, revalidate: Boolean, rankOrdered: Boolean, sitemaps: Boolean,
      adaptivePacing: Boolean, aging: Boolean, agingBoost: Double, robotsFlipEpoch: Int,
      robotsAvailability: Boolean, payloadValidation: Boolean, retryFailures: Boolean,
      retryMax: Int) {
    import spark.implicits._

    /** Size the epoch loop's shuffles to the FRONTIER, not the session
      * default; [[run]] also drops AQE inside the loop (the GraphOps loop
      * discipline): an epoch's tables are bounded by seeds+outlinks+recrawl
      * (~seedsPerEpoch x (1+fanout) rows), every epoch action is evaluated
      * eagerly in this scope, and AQE's per-exchange stage materialization
      * multiplied each demo's job count ~3x for nothing it could improve at
      * these sizes. Values are partitioning-invariant (politeness windows
      * and budgets are fully ordered; fetch pids are hash-derived at a
      * pinned width). Partitions are never raised above the session
      * setting, so a production-sized frontier keeps full width.
      */
    def loopPartitions: String = {
      val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
      val epochRows = seedsPerEpoch.toLong * (1L + math.max(0, outlinkFanout))
      math.max(1L, math.min(sessionParts, epochRows / 65536L + 1L)).toString
    }

    /** Seeds: Gen seeds, sitemap discoveries, the aged carryover and the
      * previous schedule's outlinks.
      */
    def seeds(epoch: Int): Dataset[Seed] = {
      // c29 wired end-to-end: sitemap discoveries enter at epoch 0 as
      // ordinary seeds (sitemap priority == seed priority) and take the
      // same canonicalize -> dedupe -> robots -> politeness path; later
      // epochs need no re-read because the synthetic catalog is static
      // (a real crawl re-reads on the sitemap's own change cadence).
      val sitemapSeeds =
        if (sitemaps && epoch == 0) SitemapOps.asSeeds(SitemapOps.sitemapEntries(spark))
        else spark.emptyDataset[Seed]
      // c44 wired end-to-end: URLs that were eligible last epoch but lost
      // the budget race re-enter with their priority AGED upward, so a
      // low-priority URL cannot starve behind an endless stream of
      // higher-priority discoveries — after ceil((p_max - p)/agingBoost)
      // epochs it outranks every fresh seed (priorities are bounded).
      // Carryover duplicates of still-live seeds are harmless: the
      // canonicalize dedupe keeps max(priority), so the BOOSTED copy wins.
      val agedCarryover =
        if (aging) CarryoverFamily.readEpochs(spark, root, Seq(epoch - 1)).as[Seed]
        else spark.emptyDataset[Seed]
      Gen.seeds(spark, seedsPerEpoch.toLong)
        .unionByName(sitemapSeeds)
        .unionByName(agedCarryover)
        .unionByName(outlinkSeeds(epoch))
    }

    private def outlinkSeeds(epoch: Int): Dataset[Seed] =
      if (epoch == 0) spark.emptyDataset[Seed]
      else {
        val outs = outlinks(Snapshots.readScheduled(spark, root, epoch - 1), outlinkFanout,
          crossHost = rankOrdered)
        if (!rankOrdered) outs
        else {
          // g02 rank-ordered crawling: host authority computed from the
          // edges the crawl has ALREADY observed (all committed schedules'
          // cross-host outlinks, recovered by formula — no persisted edge
          // table), boosting each outlink by its destination host's
          // PageRank. New URLs on well-linked hosts outrank link-farm spray
          // when budgets contend.
          val past = (0 until epoch).map(Snapshots.readScheduled(spark, root, _))
            .reduce(_ unionByName _)
          val edges = hostEdgesFromScheduled(past, outlinkFanout)
          if (edges.isEmpty) outs
          else rankBoosted(outs, GraphOps.pageRank(spark, edges, iters = 5, damping = 0.85))
        }
      }

    /** E1 canonicalize + dedupe, staged explicitly (vs runEpoch) so the
      * dedupe boundary is observable for the lineage manifest: n_deduped =
      * raw candidates minus dedupe survivors, per fetch partition. Both
      * sides are count-only aggregations over short-lived cached url-level
      * rows (never bytes); the counts themselves are <= fetchPartitions
      * rows. Returns the survivors, persisted (the caller unpersists them
      * once the schedule is written), and the counts; the frontier's cache
      * serves only the ledger, whose one action fills the survivors' cache.
      */
    def dedupe(seeds: Dataset[Seed], seen: Dataset[SeenEntry]): (DataFrame, Map[Int, Long]) = {
      val pidCol = fetchPartitionId(col("url_hash"), fetchPartitions)
      val frontier = FrontierJob.canonicalizeFrontierCounted(seeds).persist()
      val deduped = FrontierJob.dedupeAgainstSeen(frontier.drop("n_raw"), seen).persist()
      // one action for both sides of the dedupe ledger (raw candidates and
      // survivors per fetch partition) — the former two collects were two
      // full job launches per epoch for <=fetchPartitions rows each
      val rawAndSurv = frontier
        .groupBy(pidCol.as("partition_id")).agg(sum("n_raw").as("n_raw"))
        .join(
          deduped.groupBy(pidCol.as("partition_id")).agg(count(lit(1)).as("n")),
          Seq("partition_id"), "full_outer")
        .as[(Int, Option[Long], Option[Long])].collect()
      val survCounts = rawAndSurv.collect { case (pid, _, Some(n)) => pid -> n }.toMap
      val dedupeCounts = rawAndSurv
        .collect { case (pid, Some(raw), _) => pid -> (raw - survCounts.getOrElse(pid, 0L)) }
        .toMap.filter(_._2 > 0L)
      frontier.unpersist()
      (deduped, dedupeCounts)
    }

    /** The epoch's robots cache: the c59 generation flip, c30/c32 adaptive
      * delays and the c62 robots-fetch availability override.
      */
    def robots(epoch: Int): Dataset[RobotsEntry] = {
      // c59 wired: at robotsFlipEpoch the cache refreshes to the mutated
      // generation (policies open AND tighten)
      val cache =
        if (robotsFlipEpoch >= 0 && epoch >= robotsFlipEpoch) RobotsDiffOps.mutatedRobots(spark)
        else Gen.robots(spark)
      // c30/c32 wired end-to-end: epoch N schedules under delays learned
      // from epochs < N's observed fetch latencies (persisted mergeable
      // histograms — committed state, so resume re-learns identically);
      // robots' Crawl-delay stays the floor
      val paced =
        if (!adaptivePacing || epoch == 0) cache
        else PacingOps.withAdaptiveDelays(cache,
          PacingOps.adaptiveDelaysFrom(spark, root, epoch - 1))
      // c62 wired: this epoch's robots-fetch outcome overrides the rules
      // per RFC 9309 — 4xx hosts open fully, freshly-5xx hosts park,
      // chronically-5xx hosts serve the cached copy. Pure column over
      // the host catalog; everything downstream (applyRobots, schedule)
      // is availability-blind.
      if (!robotsAvailability) paced
      else paced.toDF().withColumn("rules",
          RobotsAvailabilityOps.effectiveRulesCol(col("rules"),
            RobotsAvailabilityOps.policyCol(col("host"), epoch, staleEpochs = 1)))
        .as[RobotsEntry]
    }

    /** The dedupe survivors plus the rows that re-enter the frontier
      * AROUND the seen dedupe (recrawls, retries) and, exactly at the
      * flip epoch, the c59 robots re-enqueue.
      */
    def revisitFrontier(epoch: Int, deduped: DataFrame): DataFrame = {
      val recrawled = recrawlFrontier(epoch)
      val toRobots = Seq(recrawled, retryFrontier(epoch, recrawled)).flatten
        .foldLeft(deduped)(_ unionByName _)
      // c59 wired end-to-end: exactly at the flip epoch, URLs held back
      // under the OLD policy in earlier epochs re-enter the frontier if
      // the NEW policy allows them (once — later epochs hold nothing under
      // the old generation). Re-enqueues are anti-joined against this
      // epoch's natural frontier so a re-seeded URL is not doubled; they
      // were never scheduled, so they cannot be in the seen store.
      if (epoch != robotsFlipEpoch || epoch == 0) toRobots
      else toRobots.unionByName(RobotsDiffOps.newlyAllowed(
          RobotsHeldFamily.readEpochs(spark, root, 0 until epoch),
          Gen.robots(spark).toDF(),
          RobotsDiffOps.mutatedRobots(spark).toDF())
        .join(toRobots.select("url_hash"), Seq("url_hash"), "left_anti"))
    }

    /** Recrawl mode (c25 wired end-to-end): articles DUE under the backoff
      * policy re-enter the frontier AROUND the seen-set dedupe (re-fetching
      * them is the point) but still pass robots + politeness like any
      * discovery — recrawls compete for the same host budgets. image_id ==
      * url_canon (a canonicalization fixed point), so the re-seeded rows
      * re-hash identically. Committed revisions only: resume recomputes
      * the same due set. Articles whose last fetch FAILED never reached the
      * revisions table and are not retried here (failure retry is a
      * different policy from content revisit).
      */
    private def recrawlFrontier(epoch: Int): Option[DataFrame] = {
      if (!recrawl || epoch == 0) None
      else {
        // policy switch (c25 staleness backoff vs c45 change-rate
        // estimator) — both emit the same (image_id, due, priority)
        // contract, so everything downstream is policy-blind
        val revs = Snapshots.RevisionFamily.readEpochs(spark, root, 0 until epoch)
        val sched =
          if (recrawlPolicy == "changerate")
            DiffJob.recrawlScheduleChangeRate(revs, atEpoch = epoch)
          else DiffJob.recrawlSchedule(revs, atEpoch = epoch)
        // c51 wired end-to-end: due pages whose validator (ETag analog —
        // the content/caption variant pair of the last fetch) still
        // matches the server's are 304s — dropped here, BEFORE robots/
        // politeness, so their budget goes to pages that changed. The
        // validator changes exactly when content does, so no revision is
        // ever lost (RevalidationSpec).
        val due0 = sched.where(col("due"))
        val due =
          if (!revalidate) due0
          else RevalidationOps.withRevalidation(due0, epoch).where(!col("not_modified"))
        Some(FrontierJob.canonicalizeFrontier(
          due.select(col("image_id").as("url"), col("priority")).as[Seed]))
      }
    }

    /** c83 wired end-to-end: URLs whose LAST attempt failed transiently
      * (fetch_failed / c67 invalid_payload) re-enter the frontier with a
      * bounded attempt budget — like recrawl they bypass the seen dedupe
      * (they ARE seen; refetching is the point) but pass robots +
      * politeness like any discovery. parse_failed is permanent (the
      * parser is deterministic — c83 scaladoc). Committed state only, so
      * resume recomputes the same due set.
      */
    private def retryFrontier(epoch: Int, recrawled: Option[DataFrame]): Option[DataFrame] =
      if (!retryFailures || epoch == 0) None
      else {
        val canon = FrontierJob.canonicalizeFrontier(
          RetryOps.dueForRetry(spark, root, epoch - 1, retryMax)
            .select(col("url"), col("priority")).as[Seed])
        // a URL due under BOTH recrawl (content revisit) and retry (a
        // scheduled recrawl that then failed) schedules once: the retry
        // copy yields
        Some(recrawled.fold(canon)(rc =>
          canon.join(rc.select("url_hash"), Seq("url_hash"), "left_anti")))
      }

    /** Robots, then backoff, then byte budget. */
    def allowed(cfg: FrontierJob.Config, toRobots: DataFrame,
                robots: Dataset[RobotsEntry]): DataFrame = {
      val epoch = cfg.epoch
      val robotsAllowed = FrontierJob.applyRobots(toRobots, robots, cfg)
      // c50 wired end-to-end: budgets of hosts that failed above threshold
      // last epoch shrink by the committed AIMD multiplier (floor 1 — a
      // sick host is slowed, never starved; clean epochs regrow it). The
      // multiplier only shrinks budgets, so the politeness top-K bound
      // (maxHostBudget) needs no re-sizing.
      val backedOff =
        if (!backoff || epoch == 0) robotsAllowed
        else BackoffOps.loadState(spark, root, epoch - 1)
          .fold(robotsAllowed)(BackoffOps.applyBackoff(robotsAllowed, _))
      // c54 wired end-to-end: per-host request budgets shrink to fit a
      // byte allowance using mean page sizes learned from committed
      // epochs (shrink-only, like backoff — the top-K bound stands; hosts
      // with no history keep their budget so first contact can measure).
      if (byteBudgetPerHost <= 0L || epoch == 0) backedOff
      else BandwidthOps.applyByteBudget(backedOff,
        BandwidthOps.hostByteStats(spark, root, epoch - 1), byteBudgetPerHost)
    }

    /** Writes robots_held, scheduled and carryover; returns the schedule,
      * persisted (the caller unpersists it after the diff).
      */
    def writeSchedule(cfg: FrontierJob.Config, toRobots: DataFrame,
                      robots: Dataset[RobotsEntry], allowed: DataFrame): Dataset[Scheduled] = {
      val epoch = cfg.epoch
      // this epoch's robots-rejected rows, kept so a future flip can
      // re-gate them; only when the feature is on
      if (robotsFlipEpoch >= 0) {
        toRobots
          .join(broadcast(robots.toDF().select(col("host"), col("rules"))), Seq("host"))
          .where(!FrontierJob.robotsAllowedCol(col("rules"), col("path")))
          .select("url_canon", "url_hash", "host", "path", "priority")
          .write.mode("overwrite").parquet(RobotsHeldFamily.dir(root, epoch))
      }
      val scheduled = FrontierJob
        .applyGlobalBudget(FrontierJob.schedule(allowed, cfg), cfg)
        .persist()
      scheduled.write.mode("overwrite").parquet(Snapshots.ScheduledFamily.dir(root, epoch))
      // c44: the budget-losers with aged priority. The carryover is at
      // most the eligible-minus-budget fraction of the epoch —
      // frontier-sized worst case, epoch-budget-sized typically — and
      // carries (url, priority) only.
      if (aging) {
        allowed.join(scheduled.toDF().select("url_hash"), Seq("url_hash"), "left_anti")
          .select(col("url_canon").as("url"),
            (col("priority") + lit(agingBoost)).as("priority"))
          .write.mode("overwrite").parquet(CarryoverFamily.dir(root, epoch))
      }
      scheduled
    }

    /** Fetch wave + snapshot data write (NOT yet committed: committing
      * before the seen merge would let a crash produce a committed epoch whose
      * URLs re-schedule), then the backoff and pacing state read off the
      * at-rest fetch log.
      */
    def fetchAndSnapshot(epoch: Int, scheduled: Dataset[Scheduled], nScheduled: Long,
                         dedupeCounts: Map[Int, Long]): Snapshots.PartitionLineageSummary = {
      // target ~32k snapshot rows per output file; when the epoch is big
      // enough that the wave's own partitioning already meets the target,
      // pass 0 (no rebalance) so a full-scale epoch never pays an extra
      // payload exchange just to re-bin files it would emit anyway
      val target = math.max(1L,
        math.min(fetchPartitions.toLong, nScheduled / 32768L + 1L)).toInt
      val fetched0 = fetchInstrumented(scheduled, epoch, fetchPartitions)
      // c67: the payload admission gate sits between the fetch wave and
      // the at-rest write — damaged payloads land in the fetch log as
      // invalid_payload (auditable), never in the parsed contract view
      val fetched =
        if (!payloadValidation) fetched0 else validateFetched(fetched0, epoch)
      val summary = Snapshots.writeEpochFetched(fetched, root, epoch, dedupeCounts,
        writePartitions = if (target >= fetchPartitions) 0 else target)
      // c50: this epoch's AIMD backoff state, from the at-rest fetch log
      if (backoff)
        BackoffOps.writeState(spark, root, epoch,
          Snapshots.readRaw(spark, root, epoch).select("image_id", "status"),
          backoffThresholdBp)
      // adaptive pacing: this epoch's latency histogram partial; the
      // kernel is url_hash-seeded so the observations are resume-stable
      if (adaptivePacing) {
        val lat = scheduled
          .select(col("host"), col("url_hash")).as[(String, Long)]
          .map { case (host, h) =>
            (host, PacingOps.fetchLatencyMs(h, epoch, PacingOps.isSlowHost(host)))
          }.toDF("host", "latency_ms")
        PacingOps.writeLatencyEpoch(lat, root, epoch)
      }
      summary
    }

    /** Seen merge: this epoch's newly scheduled URLs join the seen set. */
    def seenMerge(epoch: Int, scheduled: Dataset[Scheduled], seen: Dataset[SeenEntry]): Unit = {
      val newSeen0 = scheduled
        .select(col("url_hash"), col("host"), lit(epoch).as("first_epoch"))
      // recrawled/retried URLs are already in the seen store — re-appending
      // them would duplicate SeenEntry rows every revisit; the anti-join
      // runs only when a seen-bypass mode is on so the default path stays
      // byte-identical
      val newSeen = (
        if (recrawl || retryFailures)
          newSeen0.join(seen.toDF().select("url_hash"), Seq("url_hash"), "left_anti")
        else newSeen0
        ).as[SeenEntry]
      SeenStore.append(newSeen, root, epoch)
    }

    /** E2 diff for this epoch against the maintained latest-version table
      * (flat per-epoch cost — the full-history window form would grow
      * O(total snapshots) per epoch; equality golden-tested in
      * DiffAndPipelineSpec), then the latest table itself.
      */
    def diffAndLatest(cfg: FrontierJob.Config): Unit = {
      val epoch = cfg.epoch
      DiffJob.revisionsFromLatest(
          Snapshots.read(spark, root, epoch),
          Snapshots.readLatest(spark, root, epoch - 1),
          epoch, cfg.phashTau)
        .write.mode("overwrite").parquet(Snapshots.RevisionFamily.dir(root, epoch))
      // c59 wired (the tightening direction): at the flip epoch, rows
      // fetched under the OLD policy whose path the NEW generation
      // disallows purge from the maintained latest table — news-diff's
      // user-facing delete / stop-serving action. The purge list persists
      // FIRST and the exclusion reads it back from rest, so a crash
      // anywhere re-runs idempotently (purge list is a pure function of
      // committed latest(e-1) + the two static generations). Later epochs
      // need no re-purge: readLatest chains from the purged table, and the
      // new policy gates any refetch.
      if (epoch == robotsFlipEpoch) {
        RobotsDiffOps.purgeList(
            Snapshots.readLatest(spark, root, epoch - 1),
            Gen.robots(spark).toDF(),
            RobotsDiffOps.mutatedRobots(spark).toDF())
          .write.mode("overwrite").parquet(RobotsPurgedFamily.dir(root, epoch))
        Snapshots.writeLatest(spark, root, epoch,
          Some(RobotsPurgedFamily.readEpochs(spark, root, Seq(epoch))))
      } else Snapshots.writeLatest(spark, root, epoch)
    }

    /** The atomic commit point (everything above is at rest), then the
      * periodic seen-store compaction and version-chain retention (c48).
      * Both run AFTER the commit: their input is then fully committed, and
      * a crash mid-write leaves no _SUCCESS, so the next load falls back to
      * the previous compact + a longer tail.
      */
    def commit(epoch: Int, summary: Snapshots.PartitionLineageSummary): Unit = {
      Snapshots.commitManifest(root, epoch, summary.n_rows, summary.n_partitions)
      if (compactSeenEvery > 0 && (epoch + 1) % compactSeenEvery == 0)
        SeenStore.compact(spark, root, epoch)
      if (retainEvery > 0 && (epoch + 1) % retainEvery == 0)
        RetentionOps.retainHistory(spark, root, epoch, retainWindow, retainStride)
    }
  }
}
