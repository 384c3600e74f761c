package graft.operators

import graft.functions.{GraftFunctions, TopKAgg}
import graft.model._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** E1 — the crawl-epoch frontier job (SURVEY.md §3 E1; north_rule: "URL
  * canonicalization + 64-bit hashing feeding a partitioned bloom/cuckoo
  * URL-seen filter, a per-host politeness scheduler with robots.txt caching
  * and a priority queue (host-hashed salted partitioning to break skew on
  * hot news domains)").
  *
  * Shuffle inventory (kept explicit on purpose — SURVEY.md §4):
  *   1. batch-dedupe groupBy(url_hash)        — hash agg, partial+final
  *   2. anti-join vs url_seen on url_hash     — seen side only: the
  *                                              frontier side is already
  *                                              partitioned by (1)
  *   3. politeness top-K agg groupBy(host)    — bounded-heap partials:
  *                                              <= mapParts*hosts*k rows
  * robots join is broadcast (no shuffle); global budget is
  * TakeOrderedAndProject (per-partition heap, no full sort).
  */
object FrontierJob {

  /** Epoch scheduling parameters. Shared verbatim with CrawlOracle so
    * "identical seed lists and politeness budgets" is true by construction.
    */
  final case class Config(
      epoch: Int = 0,
      epochT0Ms: Long = 1704067200000L, // 2024-01-01T00:00:00Z — fixed, no wall clock
      globalBudget: Int = Int.MaxValue,
      defaultDelayMs: Long = 200L,
      defaultHostBudget: Int = 50,
      maxHostBudget: Int = 128, // upper bound across all hosts (top-K agg size)
      phashTau: Int = 10,
      robotsBroadcastMaxBytes: Long = 64L << 20)

  /** Canonicalize + hash + batch-dedupe a seed/outlink batch.
    * Dedupe keeps max(priority) per canonical URL (deterministic — no
    * first()/arbitrary pick). Runs as one codegen stage into a hash agg.
    *
    * The dedupe groups on the 8-byte url_hash, not the canonical string:
    * the engine's identity for a URL IS its xxhash64 everywhere downstream
    * (seen set, anti-join, blooms — matching the reference's hash-keyed
    * versions table), and an 8-byte grouping key keeps the agg hash table
    * and shuffle compare cost flat no matter how long URLs get.
    * min(url_canon) is a deterministic representative (equal for all rows
    * of a group absent a 64-bit collision).
    *
    * canon_url runs once per row: the null/blank filter sits after the
    * aggregation, on the representative. Placed before it, Catalyst
    * pushes the filter below the alias and the scan stage evaluates the
    * (mostly allocating) canonicalizer three times per row. The filter
    * there differs from a pre-filter only when a real URL's hash equals
    * xxhash64(null) or xxhash64("") — the same 64-bit collision class as
    * the min(url_canon) note above.
    *
    * Agg node choice (measured, round 4): min(string) forces SortAggregate
    * (string agg buffers are not HashAggregate-mutable). Two
    * hash-friendly alternatives were measured at 4M rows / local[8],
    * interleaved, 6 runs each: a typed ObjectHashAggregate Aggregator
    * (no sort, but per-row encoder ser/de) ran 3.6-4.2 s vs this form's
    * 2.85-3.0 s; max(struct(priority, url_canon)) still plans to
    * SortAggregate (struct buffer, same reason). The 8-byte-key
    * pre-exchange sort is cheaper than the udaf's encoder overhead —
    * SortAggregate stays.
    */
  def canonicalizeFrontier(seeds: Dataset[Seed]): DataFrame =
    canonicalizeFrontierCounted(seeds).drop("n_raw")

  /** Same, plus `n_raw` = raw candidate rows collapsed into each unique
    * URL — the in-batch half of the lineage manifest's n_deduped counter
    * rides the aggregation that exists anyway (no extra pass).
    */
  def canonicalizeFrontierCounted(seeds: Dataset[Seed]): DataFrame = {
    val spark = seeds.sparkSession
    GraftFunctions.ensureRegistered(spark)
    seeds
      .select(GraftFunctions.canonUrl(col("url")).as("url_canon"), col("priority"))
      .select(xxhash64(col("url_canon")).as("url_hash"), col("url_canon"), col("priority"))
      .groupBy("url_hash")
      .agg(max("priority").as("priority"), min("url_canon").as("url_canon"),
        count(lit(1)).as("n_raw"))
      .where(col("url_canon").isNotNull && length(col("url_canon")) > 0)
      .select(
        col("url_canon"),
        col("url_hash"),
        // host_of/path_of are the SAME kernel (UrlKit) the single-threaded
        // CrawlOracle uses — parse_url diverges on explicit non-default
        // ports (keeps host sans port) and returns NULL on authorities the
        // total canonicalizer happily emits, which would silently shift
        // politeness grouping / robots / bloom bucketing off-oracle.
        GraftFunctions.hostOf(col("url_canon")).as("host"),
        GraftFunctions.pathOf(col("url_canon")).as("path"),
        col("priority"),
        col("n_raw"))
  }

  /** The seen side of the exact anti-join, size-gated exactly like the
    * robots join (J2b): below the bound Spark may broadcast it (fine for a
    * young crawl); above it the SHUFFLE_MERGE hint forbids broadcast — at
    * 10^10-URL scale the seen set could never broadcast, and measured in
    * the sidecar-active scaling bench the driver-serial HashedRelation
    * build + per-run broadcast of a multi-M-row seen table is a FIXED cost
    * that degrades N->4N efficiency (the 4N level's wall is inflated
    * relatively more by any serial term). Catalyst plan stats only — no
    * extra action.
    */
  private def seenJoinSide(seen: Dataset[SeenEntry], maxBroadcastBytes: Long): DataFrame = {
    val s = seen.select("url_hash")
    val small = s.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(maxBroadcastBytes)
    if (small) s else s.hint("SHUFFLE_MERGE")
  }

  /** Default seen-broadcast gate. Catalyst's column-pruned parquet stats
    * run ~2.6 bytes per url_hash entry (compressed at-rest footprint, NOT
    * the in-memory HashedRelation, which is ~30-50x larger and whose
    * driver-serial build is the real cost) — 2 MB gates at roughly 800k
    * seen entries, past which the per-run build+broadcast fixed cost
    * degrades N->4N scaling (measured, BENCH/SIDECAR_SCALING.md).
    */
  val SeenBroadcastMaxBytes: Long = 2L << 20

  /** Exact dedupe against the persistent URL-seen set: one left-anti join
    * on `url_hash`. The frontier arrives hash-partitioned and sorted on
    * url_hash by the batch-dedupe aggregate, so the shuffled (size-gated)
    * form adds only the seen side's exchange and sort; below the gate the
    * seen side broadcasts (PlanSpec pins both forms).
    * `seenBroadcastMaxBytes = 0` forces the shuffled anti-join.
    *
    * No seen filter is probed here: as a join condition a bloom or cuckoo
    * probe is evaluated only on rows whose url_hash the seen side already
    * matched, where a filter with no false negatives always answers
    * "maybe". A filter pays only by pruning a join input before the join
    * (ROADMAP direction 1).
    */
  def dedupeAgainstSeen(
      frontier: DataFrame,
      seen: Dataset[SeenEntry],
      seenBroadcastMaxBytes: Long = SeenBroadcastMaxBytes): DataFrame =
    frontier.join(seenJoinSide(seen, seenBroadcastMaxBytes), Seq("url_hash"), "left_anti")

  /** The crawl no longer keeps a seen sidecar; `blooms` and `numBuckets`
    * are ignored. Kept for the benchmark's callers only.
    */
  @deprecated("the seen sidecar is gone; use dedupeAgainstSeen(frontier, seen)", "0.1.0")
  def dedupeAgainstSeen(frontier: DataFrame, seen: Dataset[SeenEntry],
                        blooms: Map[Int, Array[Byte]], numBuckets: Int): DataFrame =
    dedupeAgainstSeen(frontier, seen)

  /** robots.txt gate: join of the per-host rules cache, longest-prefix
    * allow/deny evaluated with higher-order array functions (no UDF). Hosts
    * absent from the cache are allowed with defaults.
    *
    * Join strategy is SIZE-GATED: a news-domain cache (tens of hosts) always
    * broadcasts, but at general-web scale a multi-GB robots cache would OOM
    * the driver — above cfg.robotsBroadcastMaxBytes (by Catalyst plan
    * stats, no extra action) the hint is dropped and the join shuffles
    * (sort-merge on host). Both plans are PlanSpec-pinned and golden-equal.
    */
  def applyRobots(frontier: DataFrame, robots: Dataset[RobotsEntry], cfg: Config): DataFrame = {
    val r = robots.select("host", "rules", "crawl_delay_ms", "host_budget")
    val small = r.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(cfg.robotsBroadcastMaxBytes)
    frontier
      .join(if (small) broadcast(r) else r.toDF(), Seq("host"), "left")
      .where(col("rules").isNull || robotsAllowedCol(col("rules"), col("path")))
      .withColumn("crawl_delay_ms", coalesce(col("crawl_delay_ms"), lit(cfg.defaultDelayMs)))
      // clamp to maxHostBudget: the top-K aggregator is sized at maxK =
      // cfg.maxHostBudget, so a larger robots budget would be silently
      // truncated there — clamp HERE (and identically in CrawlOracle) so
      // both sides honor the same effective budget by construction.
      .withColumn("host_budget",
        least(coalesce(col("host_budget"), lit(cfg.defaultHostBudget)), lit(cfg.maxHostBudget)))
      .drop("rules")
  }

  /** Longest-prefix robots match as a pure Catalyst column (SURVEY.md §2.2
    * P4): filter rules to prefixes of `path`, fold keeping the longest
    * (strictly longer wins; array order breaks ties), default allow.
    */
  def robotsAllowedCol(rules: Column, path: Column): Column = {
    val matched = filter(rules, r => startswith(path, r.getField("prefix")))
    val best = aggregate(
      matched,
      struct(lit(-1).as("len"), lit(true).as("allow")),
      (acc, r) =>
        when(length(r.getField("prefix")) > acc.getField("len"),
          struct(length(r.getField("prefix")).as("len"), r.getField("allow").as("allow")))
          .otherwise(acc))
    best.getField("allow")
  }

  /** c41 — FULL-language robots verdict as a pure Catalyst column (the
    * wildcard completion of P4's prefix engine): each pattern translates
    * to an anchored Java regex IN-PLAN ('*' -> '.*' after escaping every
    * non-alphanumeric octet — escaping non-alnum is always legal in Java
    * regex; trailing '$' strips to a regex end-anchor; no '$' appends the
    * implicit any-suffix), matching via regexp_like with a per-row
    * pattern (rules are data). Precedence per RFC 9309 §2.2.2: longest
    * pattern in octets decides, equal-length ties resolve to allow, no
    * match = allow. Kernel parity (RobotsKit.wildcardAllowed) is
    * fuzz-pinned in RobotsWildcardSpec.
    */
  def wildcardAllowedCol(rules: Column, path: Column): Column = {
    def regexOf(p: Column): Column = {
      val anchored = endswith(p, lit("$"))
      val body = when(anchored, regexp_replace(p, "\\$$", "")).otherwise(p)
      val esc = regexp_replace(body, "([^a-zA-Z0-9])", "\\\\$1")
      val starred = regexp_replace(esc, "\\\\\\*", ".*")
      concat(lit("^"), starred, when(anchored, lit("$")).otherwise(lit("")))
    }
    val matched = filter(rules, r => regexp_like(path, regexOf(r.getField("prefix"))))
    val best = aggregate(
      matched,
      struct(lit(-1).as("len"), lit(true).as("allow")),
      (acc, r) => {
        val len = length(r.getField("prefix"))
        when(len > acc.getField("len"),
          struct(len.as("len"), r.getField("allow").as("allow")))
          .when(len === acc.getField("len") && r.getField("allow"),
            struct(len.as("len"), lit(true).as("allow")))
          .otherwise(acc)
      })
    best.getField("allow")
  }

  /** Per-host politeness scheduling: the priority queue of the north_rule
    * as a bounded-heap top-K Aggregator (TopKAgg) with map-side combine.
    *
    * Each map partition keeps at most maxHostBudget candidates per host
    * before anything shuffles, so the exchange carries
    * min(rows, mapPartitions * hosts * k) rows — at 10^10-URL scale with
    * ~100-per-epoch budgets, orders of magnitude below the frontier size —
    * and a hot host's reduce-side merge cost is bounded by mapPartitions*k,
    * NOT by how many frontier rows hit that host: skew-immune by
    * construction (this subsumes explicit hot-host salting; CrawlGoldenSpec
    * pins it equal to the salted two-phase window formulation).
    *
    * Priority-queue order: (priority desc, url_hash asc) — url_hash is a
    * pure-column tiebreak and top-K selection is arrival-order-insensitive,
    * so the schedule is identical at any parallelism (SURVEY.md §7.3.1).
    * Slots and scheduled_at derive from the exploded rank; the exact
    * per-host budget (from robots) is enforced on the exploded slots.
    */
  def schedule(allowed: DataFrame, cfg: Config): DataFrame = {
    import allowed.sparkSession.implicits._
    // k must cover the largest per-host budget; budgets ride the robots
    // join, so cap at the config default vs the joined column max. The agg
    // keeps AT MOST maxK per host; the exact per-host budget is enforced
    // on the exploded slots below.
    val maxK = cfg.maxHostBudget
    val topk = udaf(new TopKAgg(maxK))
    val picked = allowed
      .groupBy("host")
      .agg(
        topk(col("priority"), col("url_hash"), col("url_canon"), col("path"))
          .as("top"),
        max("crawl_delay_ms").as("crawl_delay_ms"), // per-host constants
        max("host_budget").as("host_budget"))
    picked
      .select(col("host"), col("crawl_delay_ms"), col("host_budget"),
        posexplode(col("top")).as(Seq("slot", "cand")))
      .where(col("slot") < col("host_budget"))
      .select(
        col("cand.url_canon").as("url_canon"),
        col("cand.url_hash").as("url_hash"),
        col("host"),
        col("cand.path").as("path"),
        col("cand.priority").as("priority"),
        col("slot").cast("int").as("slot"),
        (lit(cfg.epochT0Ms) + col("slot") * col("crawl_delay_ms")).as("scheduled_at_ms"))
      .withColumn("epoch", lit(cfg.epoch))
  }

  /** c82 — POLITENESS COMPLIANCE AUDIT over a committed schedule: the
    * per-host SLA ledger an operator reads after (or during) an epoch —
    * n scheduled vs the robots host budget, the minimum observed
    * inter-fetch gap vs the host's Crawl-delay, and slot uniqueness.
    * These hold by construction of `schedule`; the audit makes the
    * guarantee an OBSERVABLE over at-rest data (the S6 lineage
    * discipline), so a regression in any scheduler rewrite — or a
    * hand-edited schedule — surfaces as audit rows, not as a banned
    * crawler. One window pass + one map-side-combined agg over the
    * schedule (never the page payloads), then a broadcast join against
    * the host-sized robots catalog.
    */
  def politenessAudit(scheduled: DataFrame, robots: DataFrame,
                      cfg: Config): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(col("slot").asc)
    val r = robots.select(col("host"),
      coalesce(col("crawl_delay_ms"), lit(cfg.defaultDelayMs)).as("delay_ms"),
      coalesce(col("host_budget"), lit(cfg.defaultHostBudget)).as("budget"))
    scheduled
      .withColumn("prev_ms", lag("scheduled_at_ms", 1).over(w))
      .groupBy("host")
      .agg(count(lit(1)).as("n_scheduled"),
        min(col("scheduled_at_ms") - col("prev_ms")).as("min_gap_ms"),
        countDistinct("slot").as("n_slots"))
      .join(broadcast(r), Seq("host"), "left")
      .select(col("host"), col("n_scheduled"), col("min_gap_ms"),
        col("delay_ms"), col("budget"),
        (col("min_gap_ms").isNull || col("min_gap_ms") >= col("delay_ms"))
          .as("gap_ok"),
        (col("n_scheduled") <= col("budget")).as("budget_ok"),
        (col("n_slots") === col("n_scheduled")).as("slots_ok"))
      .orderBy("host")
  }

  /** Optional per-REGISTRABLE-DOMAIN cap on top of the per-host schedule:
    * production politeness treats `img.cdn.site.co.uk` and
    * `www.site.co.uk` as ONE crawl target (publicsuffix.org semantics —
    * DomainOps), so a domain fanning out over many hosts must not multiply
    * its budget by its host count. Applied AFTER [[schedule]]: the input
    * is already bounded to hosts x host_budget rows, so the domain window
    * ranks a schedule-sized table, never the frontier; order (priority
    * desc, url_hash asc) keeps the cut deterministic at any parallelism.
    * SHRINK-only (the c50/c54 discipline): per-host budgets and slot
    * assignments stand, rows beyond the domain cap drop.
    */
  def applyDomainBudget(scheduled: DataFrame, domainBudget: Int): DataFrame = {
    val w = Window.partitionBy("domain")
      .orderBy(col("priority").desc, col("url_hash").asc)
    scheduled
      .withColumn("domain", DomainOps.registrableDomainCol(col("host")))
      .withColumn("domain_rank", row_number().over(w))
      .where(col("domain_rank") <= domainBudget)
      .drop("domain", "domain_rank")
  }

  /** Deterministic global epoch budget + total output order
    * (scheduled_at asc, priority desc, url_hash asc) — matches the oracle's
    * sequence; TakeOrderedAndProject when budget < Int.MaxValue.
    */
  def applyGlobalBudget(scheduled: DataFrame, cfg: Config): Dataset[Scheduled] = {
    import scheduled.sparkSession.implicits._
    val ordered = scheduled.orderBy(
      col("scheduled_at_ms").asc, col("priority").desc, col("url_hash").asc)
    val limited = if (cfg.globalBudget == Int.MaxValue) ordered else ordered.limit(cfg.globalBudget)
    limited
      .select("url_canon", "url_hash", "host", "path", "priority",
        "slot", "scheduled_at_ms", "epoch")
      .as[Scheduled]
  }

  /** Full E1 chain for one epoch (sans fetch/commit — see CrawlPipeline). */
  def runEpoch(
      seeds: Dataset[Seed],
      robots: Dataset[RobotsEntry],
      seen: Dataset[SeenEntry],
      cfg: Config): Dataset[Scheduled] = {
    val frontier = canonicalizeFrontier(seeds)
    val deduped = dedupeAgainstSeen(frontier, seen)
    val allowed = applyRobots(deduped, robots, cfg)
    applyGlobalBudget(schedule(allowed, cfg), cfg)
  }

  /** The sidecar arguments are ignored (see the deprecated
    * [[dedupeAgainstSeen]] overload). Kept for the benchmark's callers only.
    */
  @deprecated("the seen sidecar is gone; use runEpoch(seeds, robots, seen, cfg)", "0.1.0")
  def runEpoch(seeds: Dataset[Seed], robots: Dataset[RobotsEntry], seen: Dataset[SeenEntry],
               blooms: Map[Int, Array[Byte]], numBuckets: Int, cfg: Config): Dataset[Scheduled] =
    runEpoch(seeds, robots, seen, cfg)
}
