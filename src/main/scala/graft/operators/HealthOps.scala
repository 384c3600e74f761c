package graft.operators

import graft.functions.GraftFunctions
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** c85 — per-host CRAWL HEALTH ledger over committed state: the ops
  * dashboard a crawl operator reads before touching budgets — fetch
  * outcomes (parsed / transport-failed / parse-failed, failure basis
  * points) joined with content dynamics (revision basis points among
  * parsed fetches) per host across all committed epochs. Everything
  * derives from at-rest tables (fetch logs + revisions), so the ledger is
  * resume-stable and costs two status-column scans + one broadcast-sized
  * join at |hosts| rows — payload bytes are never read (parquet pruning).
  *
  * The gate is a real cross-check, not a mirror of the same code path:
  * fetch statuses are kernel-determined from (url_hash, epoch), so the
  * spec predicts every per-host count from the SCHEDULED tables + the
  * fetch kernels and compares against what the fetch LOGS say — a drift
  * between schedule and log (lost rows, double fetches, misattributed
  * failures) fails the ledger even though both sides are "committed".
  */
object HealthOps {

  /** Revised fetches per host in the revisions of epochs 0..uptoEpoch. */
  private def revisedPerHost(spark: SparkSession, root: String, uptoEpoch: Int): DataFrame =
    Snapshots.RevisionFamily.readEpochs(spark, root, 0 to uptoEpoch)
      .where(col("change").startsWith("revised"))
      .withColumn("host", GraftFunctions.hostOf(col("image_id")))
      .groupBy("host").agg(count(lit(1)).as("n_revised"))

  def hostHealth(spark: SparkSession, root: String, uptoEpoch: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val logs = (0 to uptoEpoch).map(e =>
        Snapshots.readRaw(spark, root, e).select(col("image_id"), col("status")))
      .reduce(_ unionByName _)
      .withColumn("host", GraftFunctions.hostOf(col("image_id")))
    val fetch = logs.groupBy("host").agg(
      count(lit(1)).as("n_fetched"),
      sum(when(col("status") === "parsed", 1L).otherwise(0L)).as("n_parsed"),
      sum(when(col("status") === "fetch_failed", 1L).otherwise(0L))
        .as("n_fetch_failed"),
      sum(when(col("status") === "parse_failed", 1L).otherwise(0L))
        .as("n_parse_failed"))
    val revs = revisedPerHost(spark, root, uptoEpoch)
    fetch.join(revs, Seq("host"), "left")
      .select(col("host"), col("n_fetched"), col("n_parsed"),
        col("n_fetch_failed"), col("n_parse_failed"),
        coalesce(col("n_revised"), lit(0L)).as("n_revised"),
        expr("(n_fetch_failed + n_parse_failed) * 10000 div n_fetched")
          .as("failure_bp"),
        when(col("n_parsed") === 0L, lit(0L))
          .otherwise(expr("coalesce(n_revised, 0) * 10000 div n_parsed"))
          .as("revision_bp"))
      .orderBy("host")
  }

  /** c86 — PARKED / SOFT-404 host detection: a host that serves the SAME
    * payload for many distinct URLs is a parked domain, a soft-404 error
    * page, or a paywall interstitial — crawling it further wastes budget
    * and poisons the corpus with boilerplate (every production crawl runs
    * this audit; cf. the DUST family c28/c31, which catches alias URLs,
    * while this catches alias CONTENT). Per source: the largest group of
    * byte-identical payloads (md5 over the text, the q12 idiom), its
    * share of the host's documents in integer basis points (`div`, so the
    * ledger is arithmetic-exact), and the verdict at the caller's share
    * threshold. Deterministic: the top group ties break on smallest md5.
    *
    * A fixed fraction of docs (doc_id%7==0) is rewritten to a per-source
    * placeholder payload — the deterministic "this URL answered with the
    * parked page" view both engines derive from the same parquet, so the
    * detector provably fires. Scale: ONE scan projected to (source,
    * 16-byte md5) — text never reaches an exchange; both groupBys
    * map-side-combine; the per-source argmax is a bounded min_by over
    * |md5-groups| rows.
    */
  def parkedHosts(spark: SparkSession, dir: String,
                  parkedBp: Int = 2000): DataFrame = {
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("domain parked - placeholder page for "), col("source")))
          .otherwise(col("text")).as("served"))
      .select(col("source"), md5(col("served").cast("binary")).as("payload_md5"))
    val groups = pages.groupBy("source", "payload_md5")
      .agg(count(lit(1)).as("n_dup"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_dup").desc, col("payload_md5").asc)
    groups
      .withColumn("n_docs", sum("n_dup").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("source"), col("n_docs"),
        col("payload_md5").as("top_md5"), col("n_dup").as("top_n"),
        expr("n_dup * 10000 div n_docs").as("dup_share_bp"))
      .withColumn("parked", col("dup_share_bp") >= parkedBp)
      .orderBy("source")
  }

  /** c85 demo rows: a 3-epoch crawl's health ledger (every host present,
    * failures realized by the 1/64 + 1/128 kernels).
    */
  def hostHealthDemo(spark: SparkSession, epochs: Int = 2,
                     seedsPerEpoch: Int = 500): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c85")
    CrawlPipeline.run(spark, root, untilEpoch = epochs,
      seedsPerEpoch = seedsPerEpoch,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 10000),
      recrawl = true)
    hostHealth(spark, root, epochs)
  }

  /** c88 — frontier PRIORITY CALIBRATION: exact Spearman rank correlation
    * between what the scheduler PAID per host (summed scheduled priority,
    * quantized to 1e-6 fixed-point longs so the per-host sums — and hence
    * the ranks — are order-free) and what the crawl GOT BACK (revisions
    * observed among that host's parsed fetches) — the audit that tells an
    * operator whether seed priorities actually predict content yield or
    * the budget is ranked by noise. ρ near 1: priorities earn their keep;
    * near 0: the frontier would do as well fetching round-robin; negative:
    * the priority model is actively wrong. Spearman (not Pearson, q67)
    * because budget decisions are ORDINAL — only the ranking ever matters
    * to the top-K scheduler.
    *
    * Committed state only (the c25/S6 discipline): scheduled + revisions
    * tables, so resume recomputes the identical figure. One scan of each,
    * two map-side-combined |hosts|-row aggs, the Relational.spearman
    * kernel's single-exchange double window, a 1-row verdict.
    */
  def priorityCalibration(spark: SparkSession, root: String,
                          uptoEpoch: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val spent = Snapshots.ScheduledFamily.readEpochs(spark, root, 0 to uptoEpoch)
      .groupBy("host")
      .agg(sum(round(col("priority") * 1e6).cast("long")).as("spent_q"))
    val per = spent.join(revisedPerHost(spark, root, uptoEpoch), Seq("host"), "left")
      .select(col("host"), col("spent_q"),
        coalesce(col("n_revised"), lit(0L)).as("n_revised"))
    Relational.spearman(per.withColumn("g", lit("all")),
        col("g"), col("host"), col("spent_q"), col("n_revised"))
      .select(col("n").as("n_hosts"), col("sum_d2"), col("spearman_rho"))
  }

  /** c88 demo rows: the calibration verdict over a recrawling run. Two
    * pipeline epochs (0..1) suffice for a non-degenerate statistic —
    * revisions realize at both epochs and the recrawl path is active at
    * epoch 1 — so the bench demo pays the per-epoch pipeline fixed cost
    * (BENCH/PLANS.md) the minimum number of times; HostHealthSpec gates
    * exactness on its own 3-epoch fixture.
    */
  def calibrationDemo(spark: SparkSession, epochs: Int = 1,
                      seedsPerEpoch: Int = 400): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c88")
    CrawlPipeline.run(spark, root, untilEpoch = epochs,
      seedsPerEpoch = seedsPerEpoch,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 10000),
      recrawl = true)
    priorityCalibration(spark, root, epochs)
  }

  /** c94 — per-host THROUGHPUT CEILING classification: is each host's
    * crawl rate limited by POLITENESS (its Crawl-delay caps legal
    * fetches per epoch), by BUDGET (c34's allocation), or by nothing
    * (demand met)? The one-line answer to "why is this host stale":
    * politeness-limited hosts can't be fixed with budget — they need
    * more epochs (c92's SLA shows the symptom, this names the cause);
    * budget-limited ones reallocate. Delay/budget are md5-synthesized
    * per host (the no-RNG discipline); ceiling = epoch_seconds/delay,
    * schedulable = least of the three, limiting factor decided with a
    * deterministic precedence (politeness before budget) so ties are
    * engine-identical — all BIGINTs and strings, hence oracled.
    */
  def throughputCeiling(spark: SparkSession, dir: String): DataFrame = {
    val demand = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("source").as("host"))
      .agg(count(lit(1)).as("demand_urls"))
    val params = demand
      .withColumn("delay_s",
        lit(1L) + conv(substring(md5(concat(lit("pd:"), col("host"))), 1, 6),
          16, 10).cast("long") % 5)
      .withColumn("budget_urls",
        lit(200L) + conv(substring(md5(concat(lit("pb:"), col("host"))),
          1, 6), 16, 10).cast("long") % 800)
      .withColumn("ceiling_urls", expr("3600 div delay_s"))
      .withColumn("schedulable_urls",
        least(col("demand_urls"), col("ceiling_urls"), col("budget_urls")))
    params.select(col("host"), col("demand_urls"), col("delay_s"),
        col("ceiling_urls"), col("budget_urls"), col("schedulable_urls"),
        when(col("schedulable_urls") === col("ceiling_urls")
          && col("ceiling_urls") <= col("budget_urls")
          && col("ceiling_urls") <= col("demand_urls"), "politeness")
          .when(col("schedulable_urls") === col("budget_urls")
            && col("budget_urls") <= col("demand_urls"), "budget")
          .otherwise("demand_met").as("limiting_factor"))
      .orderBy("host")
  }

  /** c87 — crawl-budget FAIRNESS audit: Jain's index (Jain/Chiu/Hawe,
    * DEC TR-301 1984) over what the crawl actually spent per host, for
    * both request count and byte volume — the one-number answer to "is
    * the corpus a balanced sample of the host population or did three
    * hot domains eat the budget?" J = (Σx)²/(n·Σx²) ∈ (0,1]: 1 = every
    * host got an equal share, 1/n = one host got everything. Read next
    * to c85's per-host ledger (this is the rollup) and c34's allocation
    * (this audits what allocation actually produced); the salted
    * politeness scheduler (J3/W2) exists precisely to keep this number
    * from collapsing under Zipf host skew.
    *
    * Integer-exact by construction: x (docs, bytes) are BIGINTs, so
    * numerator (Σx)² and denominator n·Σx² are exact BIGINT products and
    * J is ONE final double division rounded 6 dp; the dominant-host
    * share is an integer-div basis-point figure (the c85/c86 idiom).
    * Shape: ONE scan → per-host map-side-combined agg (|hosts| rows) →
    * a 2-row stack + rollup; nothing wider than (host, 2 longs) ever
    * reaches an exchange.
    */
  def budgetFairness(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), sum(length(col("text"))).as("bytes"))
      .select(expr(
        "stack(2, 'docs', docs, 'bytes', bytes) AS (measure, x)"))
      .groupBy("measure")
      .agg(count(lit(1)).as("n_hosts"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"), max("x").as("mx"))
      .select(col("measure"), col("n_hosts"),
        round((col("sx") * col("sx")).cast("double") /
          (col("n_hosts") * col("sxx")).cast("double"), 6).as("jain_index"),
        expr("mx * 10000 div sx").as("top_share_bp"))
      .orderBy("measure")

  /** c99 — BLOOM CAPACITY PLAN: a seen bloom's false-positive rate is
    * not a constant — it climbs as the seen set grows into the fixed bit
    * array, so the epoch at which FPR crosses budget is a number to know
    * BEFORE it happens. In graft a bloom never decides alone (a "maybe"
    * only ever sent a row to the exact anti-join, and the crawl now keeps
    * no bloom at all), so an FP there costs an exact lookup, not a lost
    * URL; the plan sizes a filter for that role, or for a crawler whose
    * filter does decide alone. Per future epoch e (seen-set
    * forecast n_e = e·|corpus| — every epoch contributes a corpus-sized
    * URL batch, matching the crawl pipeline's growth shape): the
    * standard-model FPR (1 − e^(−k·n/m))^k for the sidecar geometry
    * (bits/key at plan capacity, k hash functions), bit-fill in integer
    * bp, and the breach flag against `fprBudgetPpm` — compared on the
    * 1e-6-ROUNDED integer ppm so the verdict never sits on a float
    * boundary. Exact integers everywhere except the one exp() whose
    * rounding both engines share.
    *
    * Scale: |epochs| rows of pure projection off one count — a plan, not
    * a scan.
    */
  def bloomCapacityPlan(spark: SparkSession, dir: String,
                        bitsPerKey: Long = 10L, kHashes: Long = 7L,
                        planEpochs: Long = 8L,
                        horizonEpochs: Long = 16L,
                        fprBudgetPpm: Long = 10000L): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .agg(count(lit(1)).as("n_per_epoch"))
    base
      .withColumn("e", explode(sequence(lit(1L), lit(horizonEpochs))))
      .withColumn("m_bits", lit(bitsPerKey) * col("n_per_epoch")
        * lit(planEpochs))
      .withColumn("n_keys", col("e") * col("n_per_epoch"))
      .withColumn("fpr",
        pow(lit(1.0) - exp((-lit(kHashes.toDouble)
          * col("n_keys").cast("double"))
          / col("m_bits").cast("double")), kHashes.toDouble))
      .withColumn("fpr_ppm", round(col("fpr") * 1e6).cast("long"))
      .select(col("e").as("epoch"), col("n_keys"), col("m_bits"),
        expr("(10000 * n_keys * " + bitsPerKey + ") div m_bits")
          .as("fill_bp"),
        col("fpr_ppm"),
        round(col("fpr"), 6).as("fpr"),
        (col("fpr_ppm") > fprBudgetPpm).as("over_budget"))
      .orderBy("epoch")
  }
}
