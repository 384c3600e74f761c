package graft.operators

import graft.functions.GraftFunctions
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** c50 — failure-aware host backoff (AIMD): the server-health axis of
  * politeness. Robots + crawl-delay encode what a host ASKS for; a host
  * answering with timeouts/5xx needs the crawler to slow down even when
  * robots would allow more (industry-standard crawler etiquette). Each
  * epoch, per-host fetch-failure rates update a budget MULTIPLIER with
  * additive-increase / multiplicative-decrease (Chiu-Jain fairness
  * dynamics, the TCP congestion-avoidance shape): rate above threshold
  * halves the multiplier, a clean epoch adds +0.1 back (capped at 1.0),
  * a host not fetched this epoch keeps its multiplier.
  *
  * Everything is integer basis points (10000 = 1.0, floor 625 = 1/16) so
  * the distributed update is bit-equal to the single-threaded mirror —
  * the same fixed-point discipline as t21/t23. The multiplier only ever
  * SHRINKS a budget, so FrontierJob's maxHostBudget top-K bound stays
  * valid with no re-sizing.
  *
  * Scale shape: the state table is host-sized (tiny vs pages — broadcast
  * on application), rates are one partial+final agg over the epoch's
  * fetch log, the update is one host-keyed outer join.
  */
object BackoffOps {

  val UnitBp = 10000
  val MinBp = 625
  val IncreaseBp = 1000

  /** Per-host failure rates of one epoch's fetch log, integer basis
    * points: (host, n_fetched, n_failed, fail_bp).
    */
  def epochRates(spark: SparkSession, fetchLog: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    fetchLog
      .select(GraftFunctions.hostOf(col("image_id")).as("host"), col("status"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_fetched"),
        sum(when(col("status") =!= "parsed", 1L).otherwise(0L)).as("n_failed"))
      .withColumn("fail_bp",
        // integer DIV, not `/` (double division could land a hair past an
        // integer boundary at extreme counts; the mirror divides in Int)
        expr(s"CAST(n_failed * $UnitBp DIV n_fetched AS INT)"))
  }

  /** One AIMD step: previous (host, mult_bp) state x this epoch's rates.
    * Hosts in neither table do not exist; hosts only in prev keep their
    * multiplier; hosts only in rates start from 1.0.
    */
  def updateState(prev: DataFrame, rates: DataFrame, thresholdBp: Int): DataFrame = {
    val p = prev.select(col("host"), col("mult_bp").as("prev_bp"))
    val r = rates.select(col("host"), col("fail_bp"))
    p.join(r, Seq("host"), "full_outer")
      .withColumn("base_bp", coalesce(col("prev_bp"), lit(UnitBp)))
      .withColumn("mult_bp",
        when(col("fail_bp").isNull, col("base_bp")) // not fetched: unchanged
          .when(col("fail_bp") > thresholdBp,
            greatest(lit(MinBp), (col("base_bp") / 2).cast("int")))
          .otherwise(least(lit(UnitBp), col("base_bp") + IncreaseBp)))
      .select(col("host"), col("mult_bp").cast("int").as("mult_bp"))
  }

  /** Local mirror of one AIMD step (golden tests). */
  def updateLocal(prevBp: Option[Int], failBp: Option[Int], thresholdBp: Int): Int = {
    val base = prevBp.getOrElse(UnitBp)
    failBp match {
      case None => base
      case Some(f) if f > thresholdBp => math.max(MinBp, base / 2)
      case _ => math.min(UnitBp, base + IncreaseBp)
    }
  }

  /** Persist this epoch's state from the committed-at-rest fetch log
    * (sibling-state discipline: runs before the manifest commit, a resume
    * overwrites idempotently).
    */
  def writeState(
      spark: SparkSession,
      root: String,
      epoch: Int,
      fetchLog: DataFrame,
      thresholdBp: Int): Unit = {
    val prev = loadState(spark, root, epoch - 1).getOrElse(StateFamily.empty(spark))
    updateState(prev, epochRates(spark, fetchLog), thresholdBp)
      .coalesce(1)
      .write.mode("overwrite").parquet(StateFamily.dir(root, epoch))
  }

  /** The per-epoch AIMD state: one multiplier per host. */
  val StateFamily: Snapshots.Family =
    Snapshots.Family("backoff", StructType.fromDDL("host STRING, mult_bp INT"))

  /** Committed state at `epoch`, or None (gated on _SUCCESS). */
  def loadState(spark: SparkSession, root: String, epoch: Int): Option[DataFrame] =
    if (new java.io.File(s"${StateFamily.dir(root, epoch)}/_SUCCESS").exists())
      Some(StateFamily.readEpochs(spark, root, Seq(epoch)))
    else None

  /** Shrink post-robots host budgets by the committed multipliers (floor 1
    * request — a backed-off host is slowed, never starved forever; its
    * clean fetches then regrow the multiplier). Broadcast: host-sized.
    */
  def applyBackoff(allowed: DataFrame, state: DataFrame): DataFrame =
    allowed.join(broadcast(state), Seq("host"), "left")
      .withColumn("host_budget",
        expr(s"GREATEST(1, CAST(host_budget * COALESCE(mult_bp, $UnitBp) " +
          s"DIV $UnitBp AS INT))"))
      .drop("mult_bp")

  /** c50 demo: three AIMD steps over a fabricated failure history —
    * host A fails hard twice then recovers, host B stays clean, host C
    * disappears after epoch 0 (multiplier frozen).
    */
  def backoffDemo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def log(rows: Seq[(String, String)]): DataFrame =
      rows.toDF("image_id", "status")
    val e0 = log(Seq.tabulate(8)(i => (s"http://a.example/p$i", if (i < 4) "fetch_failed" else "parsed")) ++
      Seq.tabulate(8)(i => (s"http://b.example/p$i", "parsed")) ++
      Seq.tabulate(4)(i => (s"http://c.example/p$i", "parsed")))
    val e1 = log(Seq.tabulate(8)(i => (s"http://a.example/q$i", if (i < 3) "fetch_failed" else "parsed")) ++
      Seq.tabulate(8)(i => (s"http://b.example/q$i", "parsed")))
    val e2 = log(Seq.tabulate(8)(i => (s"http://a.example/r$i", "parsed")) ++
      Seq.tabulate(8)(i => (s"http://b.example/r$i", "parsed")))
    val th = 2000
    val s0 = updateState(Seq.empty[(String, Int)].toDF("host", "mult_bp"),
      epochRates(spark, e0), th)
    val s1 = updateState(s0, epochRates(spark, e1), th)
    val s2 = updateState(s1, epochRates(spark, e2), th)
    Seq(0, 1, 2).map { e =>
      val s = Seq(s0, s1, s2)(e)
      s.withColumn("epoch", lit(e))
    }.reduce(_ unionByName _)
      .select("epoch", "host", "mult_bp")
      .orderBy("epoch", "host")
  }
}
