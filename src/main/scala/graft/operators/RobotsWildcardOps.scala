package graft.operators

import graft.functions.{GraftFunctions, RobotsKit}
import graft.sources.Gen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** c41 — FULL-language robots.txt matching (RFC 9309 §2.2.2: '*' wildcards
  * and '$' end-anchors), the completion of the P4 prefix engine whose
  * dropped-rule counter (c10's n_dropped_rules) has tracked this gap since
  * round 2. Additive by design: the base prefix parse/match path — and
  * every golden pinned to it — is untouched; `RobotsKit.parseWildcard`
  * keeps the wildcard rules and `FrontierJob.wildcardAllowedCol` evaluates
  * them in-plan.
  *
  * Scale shape: the rules dimension is host-catalog-sized and BROADCASTS;
  * the URL side joins it without shuffling. The pattern->regex translation
  * is columnar (regexp_replace chain), so a production deployment can
  * precompute the regex column ONCE into the robots_cache dimension at
  * parse time — per-row work is then a single regexp_like against a
  * catalog-bounded pattern set.
  */
object RobotsWildcardOps {

  /** Deterministic robots fixtures, all four wildcard shapes: end-anchored
    * extension bans, wildcard allow-overrides, exact-path anchors, mid-
    * pattern stars — plus the Google REP precedence example (shape 3:
    * an anchored "star .html" allow vs a "/page" disallow on /page.html).
    */
  def robotsTexts(nHosts: Int = 12): Seq[(String, String)] =
    (0 until nHosts).map { i =>
      val text = (i % 4) match {
        case 0 => "User-agent: *\nDisallow: /*.php$\nAllow: /news/\n"
        case 1 => "User-agent: *\nAllow: /news/*/open\nDisallow: /news/\n"
        case 2 => "User-agent: *\nDisallow: /tmp$\nDisallow: /cgi*bin/\n"
        case _ => "User-agent: *\nAllow: /*.html$\nDisallow: /page\n"
      }
      (Gen.hostName(i), text)
    }

  /** Paths chosen so every fixture shape fires at least one wildcard rule
    * AND at least one divergence from the prefix engine (which drops the
    * wildcard lines) exists per shape.
    */
  val samplePaths: Seq[String] = Seq(
    "/index.php", "/index.phpx", "/news/a.php", "/news/x/open/story",
    "/news/x/closed", "/tmp", "/tmp/session", "/cgi-data-bin/q",
    "/page.html", "/page", "/a/b.html", "/")

  /** c41 demo: every (host, path) pair under BOTH engines — the full
    * wildcard verdict and what the prefix subset (wildcard lines dropped)
    * would have decided; `diverges` marks rows the completion changes.
    */
  def wildcardVerdicts(spark: SparkSession, nHosts: Int = 12): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val texts = robotsTexts(nHosts)
    val wdf = spark.createDataset(texts.map { case (h, t) =>
      (h, RobotsKit.parseWildcard(t).rules) }).toDF("host", "wrules")
    val pdf = spark.createDataset(texts.map { case (h, t) =>
      (h, RobotsKit.parse(t).rules) }).toDF("host", "prules")
    val urls = spark.createDataset(
      for { i <- 0 until nHosts; p <- samplePaths } yield (Gen.hostName(i), p))
      .toDF("host", "path")
    urls.join(broadcast(wdf), Seq("host")).join(broadcast(pdf), Seq("host"))
      .select(col("host"), col("path"),
        FrontierJob.wildcardAllowedCol(col("wrules"), col("path")).as("allowed_full"),
        FrontierJob.robotsAllowedCol(col("prules"), col("path")).as("allowed_prefix"))
      .withColumn("diverges", col("allowed_full") =!= col("allowed_prefix"))
      .orderBy("host", "path")
  }
}
