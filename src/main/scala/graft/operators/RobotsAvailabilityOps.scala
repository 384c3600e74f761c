package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** robots.txt UNAVAILABILITY semantics (c62) — RFC 9309 §2.3.1.3/.4, the
  * fetch-outcome half of the robots story (c33 handles cache AGE, c59
  * handles policy CHANGE; this handles the fetch FAILING):
  *
  *   - "unavailable" (4xx): the protocol says the crawler MAY access any
  *     resource — effective policy is ALLOW ALL (empty rule set; P4's
  *     longest-prefix default-allows on no match);
  *   - "unreachable" (5xx): MUST assume COMPLETE DISALLOW (one
  *     empty-prefix disallow rule — "" is a prefix of every path);
  *   - 5xx persisting beyond the staleness horizon: MAY fall back to the
  *     cached copy — effective policy is the parsed rules again (a crawler
  *     that stays fully parked forever on a chronically-broken CDN would
  *     never crawl the host again; the RFC explicitly allows the cached
  *     copy "for a reasonably long period of time").
  *
  * Everything is a pure Column over the broadcast host catalog — the
  * frontier pays one broadcast join and P4's existing longest-prefix
  * fold; no UDF, no second pass. Fetch outcomes are synthesized
  * deterministically per (host, epoch) from xxhash64 (host classes:
  * chronic-5xx, 4xx, transient-5xx on even epochs, healthy), so every
  * branch occurs and the spec can mirror verdicts bit-for-bit.
  */
object RobotsAvailabilityOps {

  /** Host fetch-outcome class: 0 = chronic 5xx, 1 = 4xx unavailable,
    * 2 = 5xx on even epochs only (transient), else healthy.
    */
  def hostClassCol(host: Column): Column =
    pmod(xxhash64(concat(host, lit("#robots-class#"))), lit(16L))

  def hostClassLocal(host: String): Long =
    Math.floorMod(CrawlOracle.xxhash64(host + "#robots-class#"), 16L)

  /** Synthetic robots-fetch status for (host, epoch):
    * "server_error" | "unavailable" | "ok".
    */
  def statusCol(host: Column, epoch: Int): Column = {
    val cls = hostClassCol(host)
    when(cls === 0, lit("server_error"))
      .when(cls === 1, lit("unavailable"))
      .when(cls === 2 && lit(epoch % 2 == 0), lit("server_error"))
      .otherwise(lit("ok"))
  }

  def statusLocal(host: String, epoch: Int): String = hostClassLocal(host) match {
    case 0 => "server_error"
    case 1 => "unavailable"
    case 2 if epoch % 2 == 0 => "server_error"
    case _ => "ok"
  }

  /** Effective policy at `epoch`: the current status, with a 5xx only
    * escalating past complete-disallow once it has persisted for MORE
    * than `staleEpochs` consecutive epochs ending here.
    */
  def policyCol(host: Column, epoch: Int, staleEpochs: Int): Column = {
    val now = statusCol(host, epoch)
    val streakExceeds = (0 to staleEpochs)
      .map(b => statusCol(host, epoch - b) === "server_error")
      .reduce(_ && _)
    when(now === "unavailable", lit("allow_all_unavailable"))
      .when(now === "server_error" && streakExceeds, lit("cached_stale_error"))
      .when(now === "server_error", lit("disallow_all_unreachable"))
      .otherwise(lit("ok"))
  }

  def policyLocal(host: String, epoch: Int, staleEpochs: Int): String = {
    val now = statusLocal(host, epoch)
    val streakExceeds =
      (0 to staleEpochs).forall(b => statusLocal(host, epoch - b) == "server_error")
    if (now == "unavailable") "allow_all_unavailable"
    else if (now == "server_error" && streakExceeds) "cached_stale_error"
    else if (now == "server_error") "disallow_all_unreachable"
    else "ok"
  }

  private val RulesType = "array<struct<allow:boolean,prefix:string>>"

  /** Parsed rules overridden by the availability policy. */
  def effectiveRulesCol(rules: Column, policy: Column): Column =
    when(policy === "allow_all_unavailable", array().cast(RulesType))
      .when(policy === "disallow_all_unreachable",
        array(struct(lit(false).as("allow"), lit("").as("prefix"))).cast(RulesType))
      .otherwise(rules) // ok and cached_stale_error both serve the cache

  /** c62 — per-host report over a synthetic frontier: status, policy,
    * frontier rows allowed under the EFFECTIVE rules vs under the parsed
    * rules alone (the delta is what the RFC semantics change). Epoch 4 /
    * staleEpochs 1: chronic hosts exceed the streak (cached copy serves),
    * transient hosts sit in their first error epoch (complete disallow).
    * Crawl-domain (rows-only gate + RobotsAvailabilitySpec mirrors).
    */
  def availabilityReport(spark: SparkSession, epoch: Int = 4,
                         staleEpochs: Int = 1, nSeeds: Long = 4000L): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val robots = graft.sources.Gen.robots(spark).toDF()
    val frontier = FrontierJob.canonicalizeFrontier(
      graft.sources.Gen.seeds(spark, nSeeds))
    val verdicts = frontier
      .join(broadcast(robots.select(col("host"), col("rules"))), Seq("host"))
      .withColumn("policy", policyCol(col("host"), epoch, staleEpochs))
      .select(col("host"), col("policy"),
        FrontierJob.robotsAllowedCol(
          effectiveRulesCol(col("rules"), col("policy")), col("path")).as("eff_ok"),
        FrontierJob.robotsAllowedCol(col("rules"), col("path")).as("parsed_ok"))
    verdicts.groupBy("host", "policy")
      .agg(count(lit(1)).as("n_frontier"),
        sum(when(col("eff_ok"), 1L).otherwise(0L)).as("n_allowed_effective"),
        sum(when(col("parsed_ok"), 1L).otherwise(0L)).as("n_allowed_parsed"))
      .orderBy("host")
  }
}
