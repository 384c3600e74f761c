package graft.operators

import graft.functions.UrlKit
import graft.model._
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The single-threaded reference oracle (SURVEY.md §2.10).
  *
  * /root/reference is EMPTY in this sandbox (SURVEY.md §0), so this ~100-LoC
  * plain-Scala crawler — priority queue per host + HashSet URL-seen + fixed
  * politeness budgets — *defines* the crawl ordering and URL-seen semantics
  * the north_rule requires the Spark job to match ("matching the reference
  * crawl ordering and final URL-seen set under identical seed lists and
  * politeness budgets"). Golden tests assert FrontierJob output ==
  * CrawlOracle output, at local[1] and local[32].
  *
  * Hashing parity: uses Spark's own XxHash64 (seed 42) on UTF8String bytes,
  * the exact function behind the built-in `xxhash64` column, so hashes agree
  * bit-for-bit with the distributed plan.
  */
object CrawlOracle {

  def xxhash64(s: String): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)

  def robotsAllowed(rules: Seq[RobotsRule], path: String): Boolean = {
    // independent String form of the robots_allowed expression's kernel
    // (RobotsKit.prefixAllowed): longest strictly-longer prefix wins; ties
    // keep the earliest rule; no match => allow. Lengths here are UTF-16
    // units, the kernel's are code points: they agree on BMP prefixes.
    var bestLen = -1
    var allow = true
    rules.foreach { r =>
      if (path.startsWith(r.prefix) && r.prefix.length > bestLen) {
        bestLen = r.prefix.length
        allow = r.allow
      }
    }
    allow
  }

  final case class EpochResult(
      scheduled: Vector[Scheduled],
      seenAfter: Set[Long],
      dedupedInBatch: Long)

  def runEpoch(
      seeds: Seq[Seed],
      robots: Map[String, RobotsEntry],
      seen: Set[Long],
      cfg: FrontierJob.Config): EpochResult = {
    // 1. canonicalize + batch dedupe keeping max priority
    val canon = scala.collection.mutable.HashMap.empty[String, Double]
    seeds.foreach { s =>
      val uc = UrlKit.canonicalize(s.url)
      if (uc != null && uc.nonEmpty)
        canon.updateWith(uc) {
          case Some(p) => Some(math.max(p, s.priority))
          case None    => Some(s.priority)
        }
    }
    val dedupedInBatch = seeds.size.toLong - canon.size
    // 2. drop seen; 3. robots gate
    val entries = canon.iterator.map { case (uc, p) =>
      FrontierEntry(uc, uc, xxhash64(uc), UrlKit.hostOf(uc), UrlKit.pathOf(uc), p)
    }.filterNot(e => seen.contains(e.url_hash))
      .filter { e =>
        robots.get(e.host).forall(r => robotsAllowed(r.rules, e.path))
      }.toVector
    // 4. per-host priority queue: (priority desc, url_hash asc), cap budget
    val perHost = entries.groupBy(_.host).toSeq.flatMap { case (host, es) =>
      val r = robots.get(host)
      // clamped identically to FrontierJob.applyRobots (top-K agg sizing)
      val budget = math.min(r.map(_.host_budget).getOrElse(cfg.defaultHostBudget), cfg.maxHostBudget)
      val delay = r.map(_.crawl_delay_ms).getOrElse(cfg.defaultDelayMs)
      es.sortBy(e => (-e.priority, e.url_hash))
        .take(budget)
        .zipWithIndex
        .map { case (e, slot) =>
          Scheduled(e.url_canon, e.url_hash, e.host, e.path, e.priority,
            slot, cfg.epochT0Ms + slot.toLong * delay, cfg.epoch)
        }
    }
    // 5. deterministic global order + epoch budget
    val ordered = perHost
      .sortBy(s => (s.scheduled_at_ms, -s.priority, s.url_hash))
      .take(cfg.globalBudget)
      .toVector
    EpochResult(ordered, seen ++ ordered.map(_.url_hash), dedupedInBatch)
  }
}
