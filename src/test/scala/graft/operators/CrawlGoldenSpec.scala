package graft.operators

import graft.SparkTestBase.{spark, withShufflePartitions}
import graft.model._
import graft.sources.{Gen, SeenStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests: the distributed frontier job must reproduce the
  * single-threaded CrawlOracle exactly — crawl ordering and URL-seen set
  * under identical seed lists and politeness budgets (north_rule), at
  * different parallelism levels (SURVEY.md §5.2, §7.3.1).
  */
class CrawlGoldenSpec extends AnyFunSuite {
  import spark.implicits._

  private val N = 3000
  private val cfg = FrontierJob.Config(epoch = 0, globalBudget = 1200)
  private lazy val robotsMap: Map[String, RobotsEntry] =
    Gen.robotsLocal().map(r => r.host -> r).toMap

  private def runSpark(shufflePartitions: Int, inputPartitions: Int): Vector[Scheduled] =
    withShufflePartitions(shufflePartitions) {
      FrontierJob.runEpoch(
        Gen.seeds(spark, N, inputPartitions), Gen.robots(spark),
        SeenStore.emptySeen(spark), Map.empty, 16, cfg)
        .collect().toVector
    }

  private lazy val oracle =
    CrawlOracle.runEpoch(Gen.seedsLocal(N), robotsMap, Set.empty, cfg)

  /** Reference for `FrontierJob.schedule`: the same schedule as a salted
    * two-phase WINDOW ranking after a full shuffle (phase 1 cuts each
    * (host, salt) slice to the host budget, phase 2 ranks the survivors
    * per host).
    */
  private def scheduleWindowed(allowed: org.apache.spark.sql.DataFrame,
                               cfg: FrontierJob.Config): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val saltBuckets = 16
    val salted = allowed
      .withColumn("salt", pmod(col("url_hash"), lit(saltBuckets)).cast("int"))
    val w1 = Window.partitionBy("host", "salt")
      .orderBy(col("priority").desc, col("url_hash").asc)
    val phase1 = salted
      .withColumn("rn1", row_number().over(w1))
      .where(col("rn1") <= col("host_budget"))
      .drop("rn1", "salt")
    val w2 = Window.partitionBy("host")
      .orderBy(col("priority").desc, col("url_hash").asc)
    phase1
      .withColumn("rn", row_number().over(w2))
      .where(col("rn") <= col("host_budget"))
      .withColumn("slot", (col("rn") - 1).cast("int"))
      .withColumn("scheduled_at_ms", lit(cfg.epochT0Ms) + (col("rn") - 1) * col("crawl_delay_ms"))
      .drop("rn", "host_budget", "crawl_delay_ms")
      .withColumn("epoch", lit(cfg.epoch))
  }

  test("crawl schedule == oracle sequence (order-exact)") {
    val got = runSpark(8, 8)
    assert(got.size == oracle.scheduled.size,
      s"count ${got.size} != oracle ${oracle.scheduled.size}")
    got.zip(oracle.scheduled).zipWithIndex.foreach { case ((g, o), i) =>
      assert(g == o, s"mismatch at position $i")
    }
  }

  test("schedule is parallelism-invariant (1 vs 32 shuffle partitions)") {
    assert(runSpark(1, 1) == runSpark(32, 16))
  }

  test("top-K-agg scheduler == two-phase-window scheduler") {
    val allowed = FrontierJob.applyRobots(
      FrontierJob.canonicalizeFrontier(Gen.seeds(spark, N, 8)), Gen.robots(spark), cfg)
    def norm(df: org.apache.spark.sql.DataFrame) =
      FrontierJob.applyGlobalBudget(df, cfg).collect().toVector
    assert(norm(FrontierJob.schedule(allowed, cfg)) ==
      norm(scheduleWindowed(allowed, cfg)))
  }

  test("politeness invariants: per-host budget + delay gaps") {
    val byHost = oracle.scheduled.groupBy(_.host)
    byHost.foreach { case (host, xs) =>
      val r = robotsMap(host)
      assert(xs.size <= r.host_budget, s"$host over budget")
      val sorted = xs.sortBy(_.slot)
      assert(sorted.map(_.slot) == (0 until xs.size).toVector, s"$host slots not dense")
      sorted.sliding(2).foreach {
        case Vector(a, b) =>
          assert(b.scheduled_at_ms - a.scheduled_at_ms == r.crawl_delay_ms,
            s"$host gap != crawl_delay")
        case _ =>
      }
    }
  }

  test("robots gate: disallowed prefixes never scheduled; allow-override respected") {
    oracle.scheduled.foreach { s =>
      assert(CrawlOracle.robotsAllowed(robotsMap(s.host).rules, s.path),
        s"disallowed path scheduled: ${s.url_canon}")
    }
    // the allow-override host type (rules: deny /news/local, allow /news/local/open)
    val rules = Seq(
      RobotsRule(allow = false, prefix = "/news/local"),
      RobotsRule(allow = true, prefix = "/news/local/open"),
      RobotsRule(allow = true, prefix = "/"))
    assert(!CrawlOracle.robotsAllowed(rules, "/news/local/x"))
    assert(CrawlOracle.robotsAllowed(rules, "/news/local/open/x"))
    assert(CrawlOracle.robotsAllowed(rules, "/news/tech/x"))
    // and the Spark column mirror agrees on the same cases
    val df = Seq(("/news/local/x", false), ("/news/local/open/x", true), ("/news/tech/x", true))
      .toDF("path", "want")
      .withColumn("rules", typedLit(rules.map(r => (r.allow, r.prefix))))
      .withColumn("rules", expr(
        "transform(rules, r -> named_struct('allow', r._1, 'prefix', r._2))"))
    val got = df.withColumn("got", FrontierJob.robotsAllowedCol(col("rules"), col("path")))
      .select("want", "got").collect()
    got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1)))
  }

  test("oracle parity on hostile URLs: non-default port, spaces, garbage (bloom path active)") {
    // parse_url would NULL or strip ports on several of these; the shared
    // UrlKit kernel must keep Spark and oracle host/path/bucketing identical,
    // and a null-ish row must never be silently dropped by the bloom flag.
    val hostile = Seq(
      Seed("http://news1.example.com:8080/x", 0.9), // explicit non-default port
      Seed("HTTP://News1.Example.com:80/a/../b#frag", 0.8),
      Seed("http://ex ample.com/a b?b=2&a=1", 0.7), // spaces in authority+path
      Seed("not a url at all", 0.6),
      Seed("http:///rooted/path", 0.5),
      Seed("://weird", 0.45),
      Seed("https://news2.example.com:443/ok?utm_source=x", 0.4),
      Seed("http://news1.example.com:8080/x?a=1", 0.3))
    val cfgH = cfg.copy(epoch = 1)
    val seenHash = CrawlOracle.xxhash64("http://seenhost.example.com/seen")
    val seen = Seq(SeenEntry(seenHash, "seenhost.example.com", 0)).toDS()
    // non-empty sidecar => the bloom-probe path (not the exact-only branch) runs
    val blooms = SeenStore.buildBlooms(seen, numBuckets = 16, expectedPerBucket = 128)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(blooms.nonEmpty)
    val got = FrontierJob.runEpoch(
      spark.createDataset(hostile), Gen.robots(spark), seen, blooms, 16, cfgH)
      .collect().toVector
    val want = CrawlOracle.runEpoch(hostile, robotsMap, Set(seenHash), cfgH)
    assert(got == want.scheduled)
    assert(got.size == hostile.size, "a hostile URL was silently dropped")
  }

  test("host budget above maxHostBudget is clamped identically on both sides") {
    val many = (0 until 300).map(i => Seed(s"http://hot.example.com/a$i", i / 300.0))
    val bigBudget = RobotsEntry("hot.example.com", Seq(RobotsRule(allow = true, prefix = "/")),
      0, 100L, host_budget = 9999) // > cfg.maxHostBudget (128)
    val cfgB = FrontierJob.Config(epoch = 0)
    val got = FrontierJob.runEpoch(
      spark.createDataset(many), spark.createDataset(Seq(bigBudget)),
      SeenStore.emptySeen(spark), Map.empty, 16, cfgB).collect().toVector
    val want = CrawlOracle.runEpoch(many, Map("hot.example.com" -> bigBudget), Set.empty, cfgB)
    assert(got == want.scheduled)
    assert(got.size == cfgB.maxHostBudget, "clamp not applied")
  }

  test("URL-seen dedupe: bloom-assisted path == exact path; final seen set == oracle") {
    // epoch 0 scheduled becomes the seen set; re-run the same seeds at epoch 1
    val seen = oracle.scheduled
      .map(s => SeenEntry(s.url_hash, s.host, 0)).toDS()
    val blooms = SeenStore.buildBlooms(seen, numBuckets = 16, expectedPerBucket = 4096)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val cfg1 = cfg.copy(epoch = 1)
    val frontier = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, N, 8))
    val exact = FrontierJob.dedupeAgainstSeen(frontier, seen, Map.empty, 16)
      .select("url_hash").as[Long].collect().sorted
    val bloomed = FrontierJob.dedupeAgainstSeen(frontier, seen, blooms, 16)
      .select("url_hash").as[Long].collect().sorted
    assert(exact.toSeq == bloomed.toSeq, "bloom path diverged from exact anti-join")
    // spark epoch-1 run equals oracle epoch-1 run end-to-end
    val sparkE1 = FrontierJob.runEpoch(Gen.seeds(spark, N, 8), Gen.robots(spark),
      seen, blooms, 16, cfg1).collect().toVector
    val oracleE1 = CrawlOracle.runEpoch(Gen.seedsLocal(N), robotsMap, oracle.seenAfter, cfg1)
    assert(sparkE1 == oracleE1.scheduled)
  }
}
