package graft.operators

import graft.functions.GraftFunctions
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** c54 — BANDWIDTH-aware host budgets. A crawl budget is ultimately bytes
  * transferred and stored, not request count: at equal request budgets a
  * host serving 4 MB pages costs ~40x one serving 100 KB pages (the
  * budget-enforcement theme of IRLbot, Lee et al. TWEB'09 — there for
  * spam, here for bandwidth). Per-host mean page size is learned from the
  * COMMITTED fetch history (octet_length over at-rest snapshot rows;
  * integer DIV end to end — engine-exact, resume recomputes identically),
  * and a per-host byte allowance converts to a request budget:
  * clamp(allowance DIV est_bytes, 1, host_budget). Applied exactly like
  * c50's backoff — post-robots, SHRINK-only (the politeness top-K bound
  * never re-sizes), broadcast host-sized state; hosts with no history
  * keep their request budget (first contact must be allowed to measure).
  */
object BandwidthOps {

  /** (host, est_bytes): integer mean page bytes per host over committed
    * epochs <= `upToEpoch` (parsed rows only — failures carry no bytes).
    */
  def hostByteStats(spark: SparkSession, root: String, upToEpoch: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    Snapshots.readUpTo(spark, root, upToEpoch)
      .select(GraftFunctions.hostOf(col("image_id")).as("host"),
        octet_length(col("bytes")).cast("long").as("nbytes"))
      .groupBy("host")
      .agg(expr("sum(nbytes) div count(1)").as("est_bytes"))
  }

  /** Shrink post-robots request budgets to fit `bytesPerHost`. */
  def applyByteBudget(allowed: DataFrame, stats: DataFrame,
                      bytesPerHost: Long): DataFrame =
    allowed.join(broadcast(stats), Seq("host"), "left")
      .withColumn("host_budget",
        when(col("est_bytes").isNull, col("host_budget"))
          .otherwise(greatest(lit(1L),
            least(col("host_budget").cast("long"),
              expr(s"$bytesPerHost div est_bytes"))).cast("int")))
      .drop("est_bytes")

  /** c54 demo: one byte-budgeted crawl; final epoch summarized per host —
    * learned mean page size, the implied request budget, and what
    * actually scheduled. BandwidthSpec pins stats==mirror, budget
    * enforcement, and the shrink-vs-control contrast on its own runs.
    */
  def bandwidthDemo(spark: SparkSession, epochs: Int = 2,
                    seedsPerEpoch: Int = 200,
                    bytesPerHost: Long = 24000L): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c54")
    CrawlPipeline.run(spark, root, untilEpoch = epochs, seedsPerEpoch = seedsPerEpoch,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 4000),
      byteBudgetPerHost = bytesPerHost)
    val stats = hostByteStats(spark, root, epochs - 1)
    val sched = Snapshots.readScheduled(spark, root, epochs)
      .groupBy("host").agg(count(lit(1)).cast("long").as("n_scheduled"))
    stats.join(sched, Seq("host"), "full_outer")
      .na.fill(0L, Seq("n_scheduled"))
      .withColumn("implied_budget",
        greatest(lit(1L), expr(s"$bytesPerHost div est_bytes")))
      .select("host", "est_bytes", "implied_budget", "n_scheduled")
      .orderBy("host")
  }

  /** c98 — token-bucket BACKLOG under a per-epoch byte cap, by the
    * LINDLEY recursion (Lindley '52: W_e = max(0, W_{e−1} + d_e − R)) —
    * the queueing answer to "this host's demand fits ON AVERAGE, but
    * does the backlog ever spike past what a crawl round can absorb?"
    * (c93 forecasts the demand trend; c94 classifies the steady-state
    * limiter; this computes the transient). The recursion looks
    * inherently sequential, but has the exact prefix-scan closed form
    * W_e = max(0, D_e − min(0, min_{k<e} D_k)) over the drift
    * D_e = cumdemand_e − R·e — two cumulative windows per host, no
    * iteration, no UDF, every value BIGINT (Spark's and DuckDB's
    * null-skipping `least/min` make the first row's empty prefix
    * behave as W_0 = 0 in both engines; golden-checked against the
    * sequential recursion). Per host: peak backlog, final backlog,
    * epochs-in-backlog, and a drains/oscillates/diverges verdict from
    * integer comparisons.
    *
    * Scale: the window partitions by host and the series is epochs-long
    * — frontier-sized data never enters; one scan of the synthesized
    * demand (c93's md5 discipline, same seeds — the two audits read the
    * same history).
    */
  def backlogLindley(spark: SparkSession, dir: String,
                     capBytes: Long = 30000L): DataFrame = {
    val hist = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source").as("host")).distinct()
      .withColumn("hh",
        conv(substring(md5(concat(lit("bf:"), col("host"))), 1, 6), 16, 10)
          .cast("long"))
      .select(col("host"), col("hh"),
        explode(sequence(lit(1L), lit(8L))).as("e"))
      .withColumn("demand",
        lit(10000L) + (col("hh") % 7) * 1000L * col("e") +
          conv(substring(md5(concat(lit("bfn:"), col("host"), lit(":"),
            col("e").cast("string"))), 1, 6), 16, 10).cast("long") % 997)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("e")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("e")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val backlog = hist
      .withColumn("drift", sum("demand").over(wCum) - lit(capBytes) * col("e"))
      .withColumn("w",
        greatest(lit(0L),
          col("drift") - least(lit(0L), min("drift").over(wPrev))))
    backlog.groupBy("host")
      .agg(sum("demand").as("total_demand"),
        max("w").as("peak_backlog"),
        max(when(col("e") === 8L, col("w"))).as("final_backlog"),
        sum(when(col("w") > 0L, 1L).otherwise(0L)).as("epochs_in_backlog"))
      .select(col("host"), col("total_demand"), col("peak_backlog"),
        col("final_backlog"), col("epochs_in_backlog"),
        when(col("peak_backlog") === 0L, lit("never_queued"))
          .when(col("final_backlog") === 0L, lit("drains"))
          .when(col("final_backlog") === col("peak_backlog"),
            lit("diverging"))
          .otherwise(lit("oscillating")).as("verdict"))
      .orderBy("host")
  }
}
