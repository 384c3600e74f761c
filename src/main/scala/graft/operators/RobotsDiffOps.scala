package graft.operators

import graft.functions.GraftFunctions
import graft.model.{RobotsEntry, RobotsRule}
import graft.sources.Gen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Robots POLICY diffing across cache generations + re-enqueue of
  * newly-allowed URLs — the engine's diff DNA (DiffJob tracks page
  * revisions) applied to the robots cache itself: when a host's robots.txt
  * changes between fetches, URLs the crawler held back under the OLD
  * policy may become crawlable, and paths fetched freely may become
  * disallowed. A production crawler re-gates on every robots refresh;
  * without this, a policy opening is only discovered when a URL happens to
  * be re-seeded.
  *
  * Scale shape: the rule diff explodes the two generations' rule arrays —
  * host-catalog-sized tables (10^7 rows at 100 TB), never the frontier —
  * into (host, allow, prefix) scalars and full-outer-joins them; the
  * re-enqueue check joins the HELD-BACK table (politeness-rejected rows,
  * a small fraction of the frontier) once against the broadcast
  * two-generation rule catalog, and both verdicts are P4's pure
  * longest-prefix column — no UDF, no second pass over the frontier.
  */
object RobotsDiffOps {

  /** Generation-2 robots: a deterministic policy mutation of
    * Gen.robotsLocal — hosts that disallowed `/news/politics` OPEN it
    * (rule dropped); hosts with no disallows TIGHTEN (new
    * `/news/sports` disallow). Both flip directions exist, so tests can
    * assert each.
    */
  def mutatedRobotsLocal(): IndexedSeq[RobotsEntry] =
    Gen.robotsLocal().map { r =>
      val opened = r.rules.filterNot(x => !x.allow && x.prefix == "/news/politics")
      val mutated =
        if (opened.length != r.rules.length) opened
        else if (r.rules.forall(_.allow))
          RobotsRule(allow = false, prefix = "/news/sports") +: r.rules
        else r.rules
      r.copy(rules = mutated, fetched_epoch = r.fetched_epoch + 1)
    }

  def mutatedRobots(spark: SparkSession): Dataset[RobotsEntry] = {
    import spark.implicits._
    spark.createDataset(mutatedRobotsLocal())
  }

  /** Per-host rule-set diff between two robots generations: rules added,
    * rules removed, only hosts whose policy actually changed.
    */
  def robotsPolicyDiff(oldR: DataFrame, newR: DataFrame): DataFrame = {
    def rules(df: DataFrame, tag: String) =
      df.select(col("host"), explode(col("rules")).as("r"))
        .select(col("host"), col("r.allow").as("allow"),
          col("r.prefix").as("prefix"), lit(1).as(tag))
    rules(oldR, "in_old")
      .join(rules(newR, "in_new"), Seq("host", "allow", "prefix"), "full_outer")
      .groupBy("host")
      .agg(sum(when(col("in_old").isNull, 1).otherwise(0)).cast("long").as("n_added"),
        sum(when(col("in_new").isNull, 1).otherwise(0)).cast("long").as("n_removed"))
      .where(col("n_added") > 0 || col("n_removed") > 0)
  }

  /** Held-back URLs whose verdict flips disallowed -> allowed under the
    * new generation (the re-enqueue set). `held` carries
    * (url_hash, host, path, priority).
    */
  def newlyAllowed(held: DataFrame, oldR: DataFrame, newR: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(held.sparkSession)
    held.join(
        broadcast(oldR.select(col("host"), col("rules").as("rules_old"))
          .join(newR.select(col("host"), col("rules").as("rules_new")), Seq("host"))),
        Seq("host"))
      .where(!FrontierJob.robotsAllowedCol(col("rules_old"), col("path")) &&
        FrontierJob.robotsAllowedCol(col("rules_new"), col("path")))
      .select(held.columns.toIndexedSeq.map(col): _*) // verdict columns drop; schema = held's
  }

  /** The opposite flip: rows ALREADY FETCHED whose path the new generation
    * disallows — the compliance purge/stop-recrawl list (RFC 9309 has no
    * retroactive clause, but production archives honor policy tightening
    * at their next retention pass; news-diff's user-facing deletes behave
    * the same way). Same broadcast-catalog shape as [[newlyAllowed]].
    */
  def newlyDisallowed(fetched: DataFrame, oldR: DataFrame, newR: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(fetched.sparkSession)
    fetched.join(
        broadcast(oldR.select(col("host"), col("rules").as("rules_old"))
          .join(newR.select(col("host"), col("rules").as("rules_new")), Seq("host"))),
        Seq("host"))
      .where(FrontierJob.robotsAllowedCol(col("rules_old"), col("path")) &&
        !FrontierJob.robotsAllowedCol(col("rules_new"), col("path")))
      .select(fetched.columns.toIndexedSeq.map(col): _*)
  }

  /** The compliance-purge list for a maintained latest table at a policy
    * flip: rows carried in `latest` (image_id == canonical URL — a
    * canonicalization fixed point) whose path the OLD generation allowed
    * and the NEW disallows. host/path derive from the id via the codegen
    * UrlKit expressions, so this is one scan of the payload-free latest
    * table against the broadcast two-generation catalog.
    */
  def purgeList(latest: DataFrame, oldR: DataFrame, newR: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(latest.sparkSession)
    val withHp = latest
      .withColumn("host", GraftFunctions.hostOf(col("image_id")))
      .withColumn("path", GraftFunctions.pathOf(col("image_id")))
    newlyDisallowed(withHp, oldR, newR).select("image_id", "host", "path")
  }

  /** c59 — per-host policy-change report over a synthetic two-generation
    * cache: rule delta + how many held-back URLs re-enqueue. The held set
    * is exactly the frontier rows the OLD policy rejected (the complement
    * of applyRobots's keep).
    */
  def robotsDiffDemo(spark: SparkSession, nSeeds: Long = 60000L): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val oldR = Gen.robots(spark).toDF()
    val newR = mutatedRobots(spark).toDF()
    val frontier = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, nSeeds, 16))
    val gated = frontier
      .join(broadcast(oldR.select(col("host"), col("rules"))), Seq("host"))
      .withColumn("ok", FrontierJob.robotsAllowedCol(col("rules"), col("path")))
      .select("url_hash", "host", "path", "priority", "ok")
    val held = gated.where(!col("ok")).drop("ok")
    val fetched = gated.where(col("ok")).drop("ok")
    val re = newlyAllowed(held, oldR, newR)
      .groupBy("host").agg(count(lit(1)).cast("long").as("n_reenqueued"))
    val purge = newlyDisallowed(fetched, oldR, newR)
      .groupBy("host").agg(count(lit(1)).cast("long").as("n_purged"))
    robotsPolicyDiff(oldR, newR)
      .join(re, Seq("host"), "left")
      .join(purge, Seq("host"), "left")
      .na.fill(0L, Seq("n_reenqueued", "n_purged"))
      .orderBy("host")
  }
}
