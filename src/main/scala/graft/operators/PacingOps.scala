package graft.operators

import graft.model.RobotsEntry
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Adaptive per-host politeness from OBSERVED fetch latency (c30) — the
  * feedback loop production crawlers (Heritzix/IRLbot conventions) run
  * on top of robots.txt: a host whose responses are slow gets a larger
  * crawl delay (delay >= factor x response time), because a static
  * default either hammers struggling servers or wastes budget on fast
  * ones. robots.txt stays the FLOOR — adaptation only ever slows a host
  * down (greatest(robots delay, learned delay)), never overrides an
  * operator-declared Crawl-delay downward.
  *
  * The estimator is the p95 (tail) latency, not the mean: politeness
  * must pace to the server's bad moments. percentile_disc is used on
  * BOTH engines (Spark percentile_disc == DuckDB quantile_disc, the q23
  * parity), so the report is DuckDB-oracled exactly — counts, integer
  * p95, and the clamped delay arithmetic are all engine-exact.
  *
  * Scale shape: one map-side-combined groupBy(host) over a (host,
  * latency) log — the exchange carries per-host partials; the learned
  * table is host-catalog-sized and broadcasts into the robots merge, so
  * re-pacing costs the frontier nothing.
  */
object PacingOps {

  /** Deterministic per-fetch latency log from the documents table (c27
    * synthesis discipline): base 50-250 ms jitter from doc_id; hosts
    * whose last digit is 3 or 7 are SLOW — every 3rd fetch hits a 900 ms
    * tail, so adaptation must key on the tail, not the mean. The spike
    * modulus is COPRIME with the doc->source assignment cycle: a modulus
    * sharing a factor with it would silently starve some hosts of spiked
    * doc_ids and make the plant vacuous there.
    */
  def syntheticFetchLatencies(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val lastDigit = substring(col("source"), -1, 1)
    docs.select(col("source").as("host"),
      (lit(50L) + pmod(col("doc_id") * 37L, lit(200L)) +
        when(lastDigit.isin("3", "7") && pmod(col("doc_id"), lit(3)) === 0,
          lit(900L)).otherwise(lit(0L))).as("latency_ms"))
  }

  /** Per-host adaptive delay: clamp(minDelay, factor * p95_latency,
    * maxDelay). Integer arithmetic end to end.
    */
  def adaptiveDelays(latencies: DataFrame, factor: Long = 10L,
                     minDelayMs: Long = 200L,
                     maxDelayMs: Long = 15000L): DataFrame =
    latencies.groupBy("host")
      .agg(count(lit(1)).as("n_fetches"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY latency_ms)")
          .cast("long").as("p95_ms"))
      .withColumn("adaptive_delay_ms",
        least(lit(maxDelayMs), greatest(lit(minDelayMs), col("p95_ms") * factor)))
      .orderBy("host")

  /** c30 — the driver-facing report over the synthetic latency log. */
  def pacingReport(spark: SparkSession, dir: String): DataFrame =
    adaptiveDelays(syntheticFetchLatencies(spark, dir))

  // ---- pipeline wiring: per-fetch latency kernel -----------------------

  /** Deterministic per-fetch latency for the PIPELINE's synthetic fetch
    * (the fetchFails/contentVariant discipline — the network would
    * provide this for free; url_hash-seeded so resume re-runs are
    * bit-identical): 50-305 ms jitter, plus a 900 ms tail on every 3rd
    * page of a SLOW host. Pure JVM kernel so single-threaded mirrors
    * reproduce it exactly.
    */
  def fetchLatencyMs(urlHash: Long, epoch: Int, slowHost: Boolean): Long =
    50L + (graft.functions.ImageKit.mix64(urlHash ^ (epoch * 0x77c1L + 0x11L)) & 0xffL) +
      (if (slowHost && java.lang.Long.remainderUnsigned(urlHash, 3L) == 0L) 900L
       else 0L)

  /** Slow-host class for the Gen catalog: every 4th host index. */
  def isSlowHost(host: String): Boolean = {
    val digits = host.takeWhile(_ != '.').filter(_.isDigit)
    digits.nonEmpty && digits.toInt % 4 == 0
  }

  // ---- c32: streaming / incremental pacing -----------------------------

  /** One epoch of latency observations persisted as a HISTOGRAM partial
    * (host, latency_ms, n) — the exact-mergeable percentile state: raw
    * quantiles don't merge, but count histograms do, and fetch latencies
    * are naturally low-cardinality (ms granularity, bounded range), so
    * the partial is tiny and the recomputed disc percentile is EXACT —
    * no t-digest approximation needed.
    */
  def writeLatencyEpoch(latencies: DataFrame, root: String, epoch: Int): Unit =
    latencies.groupBy("host", "latency_ms").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(LatencyFamily.dir(root, epoch))

  val LatencyFamily: Snapshots.Family = Snapshots.Family("latency_hist",
    StructType.fromDDL("host STRING, latency_ms BIGINT, n BIGINT"))

  /** Adaptive delays from the summed persisted histograms of epochs
    * 0..uptoEpoch (an epoch that wrote none, e.g. run before pacing was
    * turned on, adds nothing). The p95 is read off the cumulative
    * histogram with percentile_disc's own definition — smallest value
    * whose cume_dist (cumulative/total, in doubles) reaches the
    * percentage — so the store path equals the one-shot batch report
    * bit-for-bit.
    */
  def adaptiveDelaysFrom(spark: SparkSession, root: String, uptoEpoch: Int,
                         factor: Long = 10L, minDelayMs: Long = 200L,
                         maxDelayMs: Long = 15000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("latency_ms")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("host")
    LatencyFamily.readEpochs(spark, root, 0 to uptoEpoch)
      .groupBy("host", "latency_ms").agg(sum(col("n")).as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wAll))
      .where(col("cum").cast("double") / col("total").cast("double") >= 0.95)
      .groupBy("host")
      .agg(max(col("total")).as("n_fetches"), min(col("latency_ms")).as("p95_ms"))
      .withColumn("adaptive_delay_ms",
        least(lit(maxDelayMs), greatest(lit(minDelayMs), col("p95_ms") * factor)))
      .select("host", "n_fetches", "p95_ms", "adaptive_delay_ms")
      .orderBy("host")
  }

  /** The ACTION: merge learned delays into the robots cache the
    * scheduler already consumes — robots' Crawl-delay is the floor, the
    * learned tail delay only ever raises it. The learned table
    * broadcasts (host-catalog-sized); the output feeds
    * FrontierJob.applyRobots unchanged.
    */
  def withAdaptiveDelays(robots: Dataset[RobotsEntry],
                         report: DataFrame): Dataset[RobotsEntry] = {
    import robots.sparkSession.implicits._
    robots.toDF()
      .join(broadcast(report.select("host", "adaptive_delay_ms")),
        Seq("host"), "left")
      .withColumn("crawl_delay_ms",
        greatest(col("crawl_delay_ms"),
          coalesce(col("adaptive_delay_ms"), lit(0L))))
      .drop("adaptive_delay_ms")
      .as[RobotsEntry]
  }

  /** c97 — arrival BURSTINESS audit (Goh & Barabási, EPL'08): the pacing
    * decision c30 makes from latency has a twin on the DEMAND side —
    * whether new work arrives smoothly (Poisson, B ≈ 0) or in bursts
    * (B → 1, breaking any fixed per-epoch budget even when the MEAN rate
    * fits). Per event type, inter-arrival gaps under a fully
    * deterministic (ts, event_id) order are exact BIGINT milliseconds;
    * their count/sum/sum-of-squares ship as exact integers and the
    * coefficient of variation plus B = (σ−μ)/(σ+μ) are the rounded
    * doubles (variance computed in doubles from the integer moments —
    * the n·Σg² product would overflow BIGINT at sf0.1). Verdict bands
    * on B rounded first, so the CASE is engine-stable.
    *
    * Scale: one pruned scan → per-type lag window (the only exchange
    * carries type + two longs) → map-side-combined moment agg.
    */
  def arrivalBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("ms"), col("event_id"))
    val gaps = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      .withColumn("prev", lag("ms", 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("event_type"), (col("ms") - col("prev")).as("g"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("g").as("s"),
        sum(col("g") * col("g")).as("ss"))
      .withColumn("mean", col("s").cast("double") / col("n_gaps"))
      .withColumn("sd",
        sqrt((col("ss").cast("double") / col("n_gaps")
          - (col("s").cast("double") / col("n_gaps"))
          * (col("s").cast("double") / col("n_gaps")))
          * col("n_gaps").cast("double")
          / (col("n_gaps").cast("double") - 1.0)))
      .withColumn("b",
        round((col("sd") - col("mean")) / (col("sd") + col("mean")), 4))
      .select(col("event_type"), col("n_gaps"), col("s"), col("ss"),
        round(col("mean"), 2).as("mean_gap_ms"),
        round(col("sd") / col("mean"), 4).as("cv"),
        col("b").as("burstiness"),
        when(col("b") > 0.1, lit("bursty"))
          .when(col("b") < -0.1, lit("regular"))
          .otherwise(lit("poisson_like")).as("verdict"))
      .orderBy("event_type")
  }
}
