package graft.operators

import graft.SparkTestBase.spark
import graft.functions.UrlKit
import graft.model._
import graft.sources.{Gen, SeenStore}
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** `canonicalizeFrontierCounted` drops null and blank URLs AFTER the
  * batch-dedupe aggregate (so canon_url runs once per row). Pins what that
  * placement must preserve: the oracle's rows and raw-candidate count on a
  * batch full of null, empty, whitespace-only and duplicate URLs.
  */
class CanonicalizeFrontierSpec extends AnyFunSuite {
  import spark.implicits._

  private val batch: Seq[Seed] =
    Seq(Seed(null, 9.0), Seed("", 8.0), Seed("   ", 7.0), Seed("\t\n ", 6.0), Seed(null, 0.5),
      Seed("HTTP://News1.Example.COM:80/a/../b#f", 0.3),
      Seed("http://news1.example.com/b", 0.9),
      Seed(" http://news1.example.com/b ", 0.1),
      Seed("http://news2.example.com/x?y=1", 0.4),
      Seed("http://news2.example.com/x?y=1", 0.2)) ++
      Gen.seedsLocal(400) ++ Gen.seedsLocal(100)

  // no robots, budgets past any host's row count, no global budget: the
  // oracle's schedule then holds every canonical URL of the batch once
  private val cfg = FrontierJob.Config(defaultHostBudget = 1 << 20, maxHostBudget = 1 << 20)
  private lazy val oracle = CrawlOracle.runEpoch(batch, Map.empty, Set.empty, cfg)

  /** The batch from a generated source: over a local Seq, Catalyst would
    * evaluate (and so hide) the filters at optimization time.
    */
  private def seeds = {
    val rows = batch.toArray
    spark.range(0L, rows.length.toLong, 1L, 4).map(i => rows(i.toInt))
  }

  private def frontier = FrontierJob.canonicalizeFrontierCounted(seeds)

  test("null/blank/duplicate seeds: same rows and raw count as CrawlOracle") {
    val rows = frontier.select("url_canon", "url_hash", "host", "path", "priority")
      .as[(String, Long, String, String, Double)].collect()
    val want = oracle.scheduled.map(s => (s.url_canon, s.url_hash, s.host, s.path, s.priority))
    assert(rows.length == want.size, "a canonical URL appears more than once")
    assert(rows.toSet == want.toSet, "canonical frontier rows diverged from CrawlOracle")
    assert(rows.length == batch.size - oracle.dedupedInBatch)
    val nonBlank = batch.count(s => Option(UrlKit.canonicalize(s.url)).exists(_.nonEmpty))
    assert(nonBlank == batch.size - 5, "the batch must hold five null or blank URLs")
    val nRaw = frontier.agg(sum("n_raw")).head().getLong(0)
    assert(nRaw == nonBlank, s"sum(n_raw) $nRaw != non-blank input count $nonBlank")
    // the full epoch on the same batch stays oracle-equal
    val got = FrontierJob.runEpoch(seeds, spark.emptyDataset[RobotsEntry],
      SeenStore.emptySeen(spark), Map.empty, 16, cfg).collect().toVector
    assert(got == oracle.scheduled, "E1 schedule diverged from CrawlOracle")
  }

  test("canon_url is evaluated once per row in the final plan") {
    val df = frontier
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    val n = "canon_url\\(".r.findAllMatchIn(p).size
    assert(n == 1, s"canon_url appears $n times (want 1):\n$p")
  }
}
