package graft
package queries

import graft.operators._
import graft.sources.Gen
import org.apache.spark.sql.functions.{col, concat, count, lit, max, min, pmod, transform, when, xxhash64}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** c* — crawl-domain ops (canonicalize / dedupe / politeness / robots /
  * phash / revisions), mostly over deterministic synthetic inputs: they
  * run offline and DuckDB can't express most of them, so they are gated
  * by the scalatest golden suites against CrawlOracle. The few that read
  * the testdata carry DuckDB oracle SQL.
  */
object CrawlQueries {
  private def crawlCfg(budget: Int): FrontierJob.Config =
    FrontierJob.Config(epoch = 0, globalBudget = budget)

  private[graft] def crawlSchedule(spark: SparkSession, n: Int): DataFrame = {
    FrontierJob.runEpoch(
      Gen.seeds(spark, n), Gen.robots(spark),
      graft.sources.SeenStore.emptySeen(spark),
      crawlCfg(budget = math.max(200, n / 3)))
      .toDF()
      .orderBy(col("scheduled_at_ms").asc, col("priority").desc, col("url_hash").asc)
  }

  /** 3-epoch scripted snapshot history for the revision-diff query. */
  private def diffHistory(spark: SparkSession, nImages: Int): DataFrame = {
    import spark.implicits._
    val rows = for {
      epoch <- 0 to 2
      i <- 0 until nImages
    } yield {
      val urlHash = graft.functions.ImageKit.mix64(i.toLong * 7919L + 17L)
      val fmt = if ((urlHash & 1L) == 0L) "png" else "jpeg"
      Gen.snapshotRow(
        imageId = s"http://${Gen.hostName(i % 10)}/news/art-$i",
        variant = CrawlPipeline.contentVariant(urlHash, epoch),
        captionVer = CrawlPipeline.captionVariant(urlHash, epoch),
        fmt = fmt, epoch = epoch, w = 40, h = 28)
    }
    spark.createDataset(rows).toDF()
  }

  /** c30's pacing oracle SQL — shared verbatim by c32 (the streaming
    * histogram store must converge to the identical delay table).
    */
  private val PacingSql: String =
    """WITH docs AS (SELECT doc_id, source FROM documents),
      |lat AS (
      |  SELECT source AS host,
      |    50 + (doc_id * 37) % 200 +
      |    CASE WHEN right(source, 1) IN ('3','7') AND doc_id % 3 = 0
      |         THEN 900 ELSE 0 END AS latency_ms
      |  FROM docs)
      |SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
      |  CAST(quantile_disc(latency_ms, 0.95) AS BIGINT) AS p95_ms,
      |  CAST(least(15000, greatest(200,
      |    CAST(quantile_disc(latency_ms, 0.95) AS BIGINT) * 10)) AS BIGINT)
      |    AS adaptive_delay_ms
      |FROM lat GROUP BY host ORDER BY host""".stripMargin

  /** c28's rule-mining oracle SQL — shared verbatim by c31 (the
    * streaming/incremental miner must converge to identical rules).
    */
  private val DustRulesSql: String =
    """WITH docs AS (SELECT doc_id, source FROM documents),
        |log AS (
        |  SELECT source AS host,
        |    'http://' || source || '/item' || (doc_id % 7) || '/a' || doc_id AS url,
        |    md5('c:' || doc_id) AS content_hash
        |  FROM docs
        |  UNION ALL
        |  SELECT source AS host,
        |    'http://' || source || '/item' || (doc_id % 7) || '/a' || doc_id
        |      || '?sid=' || md5('x:' || doc_id) AS url,
        |    md5('c:' || doc_id) AS content_hash
        |  FROM docs WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT source AS host,
        |    'http://' || source || '/item' || (doc_id % 7) || '/a' || doc_id
        |      || '?ref=' || md5('y:' || doc_id) AS url,
        |    md5('c:' || doc_id) AS content_hash
        |  FROM docs WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT source AS host,
        |    'http://' || source || '/item' || (doc_id % 7) || '/a' || doc_id
        |      || '?v=2' AS url,
        |    md5('d:' || doc_id) AS content_hash
        |  FROM docs WHERE doc_id % 4 = 1
        |), wp AS (
        |  SELECT host, string_split(url, '?')[1] AS base_url,
        |         regexp_extract(url, '\?([a-z]+)=', 1) AS param, content_hash
        |  FROM log WHERE contains(url, '?')
        |), bare AS (
        |  SELECT host, url AS base_url, content_hash AS bare_hash
        |  FROM log WHERE NOT contains(url, '?')
        |), j AS (
        |  SELECT wp.host, wp.param, wp.content_hash, bare.bare_hash
        |  FROM wp JOIN bare ON wp.host = bare.host AND wp.base_url = bare.base_url
        |)
        |SELECT host, param, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(CASE WHEN content_hash = bare_hash THEN 1 END) AS BIGINT) AS n_same,
        |  CAST(count(*) - count(CASE WHEN content_hash = bare_hash THEN 1 END) AS BIGINT) AS n_diff,
        |  (count(CASE WHEN content_hash = bare_hash THEN 1 END) >= 2 AND
        |   count(*) - count(CASE WHEN content_hash = bare_hash THEN 1 END) = 0) AS irrelevant
        |FROM j GROUP BY host, param ORDER BY host, param""".stripMargin

  val all: Seq[Query] = Seq(
    Query("c01_canonicalize", (s, _) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Gen.seeds(s, 4000)
        .select(col("url"),
          graft.functions.GraftFunctions.canonUrl(col("url")).as("url_canon"))
        .withColumn("url_hash", org.apache.spark.sql.functions.xxhash64(col("url_canon")))
        .orderBy("url_hash", "url")
    }),
    Query("c02_frontier_dedupe", (s, _) =>
      FrontierJob.canonicalizeFrontier(Gen.seeds(s, 4000))
        .groupBy("host")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_unique"))
        .orderBy("host")),
    Query("c03_schedule", (s, _) => crawlSchedule(s, 4000)),
    Query("c04_revisions", (s, _) =>
      DiffJob.revisions(diffHistory(s, 60), epoch = 2, tau = 10).toDF()
        .orderBy("image_id")),
    Query("c05_bloom", (s, _) => {
      import s.implicits._
      val seen = FrontierJob.canonicalizeFrontier(Gen.seeds(s, 4000))
        .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
        .as[graft.model.SeenEntry]
      graft.sources.SeenStore.buildBlooms(seen, numBuckets = 16, expectedPerBucket = 2048)
        .select(col("host_bucket"),
          org.apache.spark.sql.functions.length(col("bloom")).as("bloom_bytes"))
        .orderBy("host_bucket")
    }),
    Query("c06_phash", (s, _) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      diffHistory(s, 40).where(col("epoch") === 0)
        .select(col("image_id"), col("w"), col("h"), col("fmt"), col("phash"),
          graft.functions.GraftFunctions.phash64(col("bytes")).as("phash_recomputed"))
        .orderBy("image_id")
    }),
    Query("c07_stream_politeness", (s, _) =>
      graft.streaming.StreamingJobs.politenessDemo(s)),
    Query("c08_img_features", (s, _) => {
      // comparator-safe projection: the oracle compare's pandas sort/hash crashes
      // on array<double> columns, so explode the feature vector to
      // (image_id, epoch, feat_idx, feat_value) scalar rows
      import org.apache.spark.sql.functions.{posexplode, round => rnd}
      ImageOps.features(diffHistory(s, 40)).toDF()
        .select(col("image_id"), col("epoch"), col("w"), col("h"), col("fmt"),
          rnd(col("mean_lum"), 4).as("mean_lum"),
          rnd(col("contrast"), 4).as("contrast"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_value")))
        .withColumn("feat_value", rnd(col("feat_value"), 4))
        .orderBy("image_id", "epoch", "feat_idx")
    }),
    Query("c09_img_psnr", (s, _) =>
      ImageOps.consecutivePsnr(diffHistory(s, 40)).orderBy("image_id", "epoch")),
    Query("c10_robots_parse", (s, _) => {
      // raw robots.txt TEXT -> structured robots_cache rows: render each
      // host's rules to text (round-trip property-tested in RobotsKitSpec),
      // append deterministic wildcard/anchor lines to a third of hosts
      // (outside the prefix engine's language => dropped AND counted),
      // parse distributed, explode the rule list
      import s.implicits._
      val texts = Gen.robotsLocal().zipWithIndex.map { case (r, i) =>
        val base = graft.functions.RobotsKit.render(r.rules, Some(r.crawl_delay_ms))
        val extra = (i % 3) match {
          case 0 => "Disallow: /tmp/*.gif\n"
          case 1 => "Disallow: /exact$\nDisallow: /cgi/*\n"
          case _ => ""
        }
        (r.host, base + extra)
      }
      s.createDataset(texts).toDF("host", "robots_txt")
        .as[(String, String)]
        .flatMap { case (host, txt) =>
          val p = graft.functions.RobotsKit.parse(txt)
          p.rules.zipWithIndex.map { case (r, i) =>
            (host, i, r.allow, r.prefix, p.crawlDelayMs.getOrElse(-1L), p.nDroppedRules)
          }
        }
        .toDF("host", "rule_idx", "allow", "prefix", "crawl_delay_ms", "n_dropped_rules")
        .orderBy("host", "rule_idx")
    }),
    Query("c11_cuckoo", (s, _) => {
      // deletable seen filter (north_rule "bloom/cuckoo"): occupancy
      // is deterministic (capacity margin => every insert succeeds
      // regardless of partition arrival order); membership/deletion
      // semantics are gated by CuckooSpec properties
      import s.implicits._
      val seen = FrontierJob.canonicalizeFrontier(Gen.seeds(s, 4000))
        .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
        .as[graft.model.SeenEntry]
      graft.sources.SeenStore.buildCuckoos(seen, numBuckets = 16, expectedPerBucket = 2048)
        .as[(Int, Array[Byte])]
        .map { case (bucket, bytes) =>
          val table = graft.functions.Cuckoo64.deserialize(bytes)
          (bucket, bytes.length, graft.functions.Cuckoo64.occupied(table),
            graft.functions.Cuckoo64.isOverflowed(table))
        }
        .toDF("host_bucket", "cuckoo_bytes", "n_occupied", "overflowed")
        .orderBy("host_bucket")
    }),
    Query("c12_frame_sample", (s, _) =>
      MediaOps.frameSample(Gen.media(s, 60)).toDF()
        .orderBy("media_id", "frame_idx")),
    Query("c13_audio_features", (s, _) =>
      MediaOps.audioWindows(Gen.media(s, 60)).toDF()
        .orderBy("media_id", "window_idx")),
    Query("c14_stream_dedupe", (s, _) =>
      graft.streaming.StreamingJobs.dedupeDemo(s)),
    Query("c15_crossmodal_neardup", (s, _) => {
      import s.implicits._
      // image side: phashes of frame 0/8 of the first videos PLANTED as
      // "known images" (identical pixels => hamming 0), plus the epoch-0
      // image table as distractors — demonstrates the op firing across
      // modalities on the shared phash space
      val planted = Gen.mediaLocal(10).filter(_.kind == "video").flatMap { m =>
        val (_, w, h) = graft.functions.MediaKit.videoHeader(m.bytes)
        Seq(0, 8).map { f =>
          val px = graft.functions.MediaKit.decodeFrame(m.bytes, f)
          (s"known-${m.media_id}-f$f", graft.functions.ImageKit.phashOfPixels(px, w, h))
        }
      }
      val images = planted.toDF("image_id", "phash")
        .unionByName(diffHistory(s, 20).where(col("epoch") === 0)
          .select(col("image_id"), col("phash")))
      MediaOps.crossModalNearDup(MediaOps.frameSample(Gen.media(s, 10)), images)
        .orderBy("media_id", "frame_idx", "image_id")
    }),
    Query("c16_incremental_neardup", (s, d) => {
      // persisted-index incremental near-dup (SimIndex): a 2-epoch corpus
      // where epoch 1 probes the PERSISTED epoch-0 shingle index without
      // re-shingling it — the crawl-loop "is this doc a copy of an earlier
      // one" semantic; golden-equality vs full recompute is pinned in
      // SimIndexSpec
      val root = graft.SparkEnv.scratchDir("graft-c16")
      val docs = s.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
      val e0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val e1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .unionByName(e0.where(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" appended revision marker tokens")).as("text")))
      operators.SimIndex.writeShingleIndex(e0, root, 0)
      operators.SimIndex.writeShingleIndex(e1, root, 1)
      operators.SimIndex.crossEpochNearDups(s, root, 1).orderBy("doc_a", "doc_b")
    }),
    Query("c17_image_dedup", (s, _) => {
      // image-payload corpus dedup end to end: planted exact/near copies
      // (same pixels under new URLs) -> phash-block pair generation ->
      // connected components -> survivor keep-list -> filtered table
      val base = diffHistory(s, 60).where(col("epoch") === 2)
        .select("image_id", "phash")
      val copies = base.where(pmod(xxhash64(col("image_id")), lit(5)) === 0)
        .select(concat(col("image_id"), lit("?utm=copy")).as("image_id"), col("phash"))
      ImageOps.dedupImageCorpus(base.unionByName(copies))
        .select("image_id", "phash").orderBy("image_id")
    }),
    Query("c18_stream_copydetect", (s, d) =>
      graft.streaming.StreamingJobs.copyDetectDemo(s, d)),
    Query("c19_image_index", (s, _) => {
      // persisted-index cross-epoch image near-dup (SimIndex phash_blocks):
      // epoch-1 images probe the PERSISTED epoch-0 block index without
      // re-blocking it — the c16/D10 pattern applied to the image payload;
      // incremental == full-recompute golden is pinned in SimIndexSpec
      val root = graft.SparkEnv.scratchDir("graft-c19")
      val base = diffHistory(s, 60).where(col("epoch") === 2)
        .select("image_id", "phash")
      val e0 = base.where(pmod(xxhash64(col("image_id")), lit(2)) === 0)
      val e1 = base.where(pmod(xxhash64(col("image_id")), lit(2)) === 1)
        .unionByName(e0.where(pmod(xxhash64(col("image_id")), lit(5)) === 0)
          .select(concat(col("image_id"), lit("?utm=copy")).as("image_id"), col("phash")))
      operators.SimIndex.writePhashIndex(e0, root, 0)
      operators.SimIndex.writePhashIndex(e1, root, 1)
      operators.SimIndex.crossEpochNearDupPhash(s, root, 1)
        .orderBy("image_a", "image_b")
    }),
    Query("c20_incremental_image_dedup", (s, _) => {
      // incremental admission of a new image epoch against the corpus-so-far
      // through the persisted phash index: dups of EXISTING content drop
      // regardless of hash order, new-new dup groups keep their min —
      // union-find-mirror golden in ImageOpsSpec
      val root = graft.SparkEnv.scratchDir("graft-c20")
      val base = diffHistory(s, 60).where(col("epoch") === 2)
        .select("image_id", "phash")
      val e0 = base.where(pmod(xxhash64(col("image_id")), lit(2)) === 0)
      val e1 = base.where(pmod(xxhash64(col("image_id")), lit(2)) === 1)
        .unionByName(e0.where(pmod(xxhash64(col("image_id")), lit(3)) === 0)
          .select(concat(col("image_id"), lit("?recrawl")).as("image_id"), col("phash")))
      operators.SimIndex.writePhashIndex(e0, root, 0)
      operators.SimIndex.writePhashIndex(e1, root, 1)
      ImageOps.dedupNewEpochImages(s, root, 1, e1)
        .select("image_id", "phash").orderBy("image_id")
    }),
    Query("c21_stream_image_copydetect", (s, _) =>
      graft.streaming.StreamingJobs.imageCopyDetectDemo(s)),
    Query("c22_hot_hosts", (s, _) => SketchOps.hotHosts(s, 20000)),
    // c23: the per-epoch exact dedupe against a BUCKETED cumulative seen
    // table — the anti-join's 10^10-row side is never exchanged
    // (PlanSpec-pinned); rows out = surviving frontier per host
    Query("c23_bucketed_seen", (s, _) => {
      import s.implicits._
      val tmp = graft.SparkEnv.scratchDir("graft-c23")
      val frontier = FrontierJob.canonicalizeFrontier(Gen.seeds(s, 20000)).toDF()
      val seen = frontier.where(pmod(col("url_hash"), lit(4)) === 0)
        .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
        .as[graft.model.SeenEntry]
      graft.sources.SeenStore.writeBucketed(seen, "c23_seen_bucketed", s"$tmp/seen")
      graft.sources.SeenStore.dedupeAgainstBucketed(s, frontier, "c23_seen_bucketed")
        .groupBy("host")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_new"))
        .orderBy("host")
    }),
    Query("c24_stream_sessions", (s, d) =>
      graft.streaming.StreamingJobs.sessionizedEvents(s, d)
        .orderBy("user_id", "session_start")),
    // c25: adaptive recrawl scheduling over the 3-epoch revision history —
    // the revisit policy between epochs (changed => due next epoch,
    // unchanged => linear backoff)
    Query("c25_recrawl_schedule", (s, _) => {
      val hist = diffHistory(s, 60)
      val revs = (0 to 2).map(e => DiffJob.revisions(hist, e, tau = 10).toDF())
        .reduce(_ unionByName _)
      DiffJob.recrawlSchedule(revs, atEpoch = 3).orderBy("image_id")
    }),
    // c26: cumulative distinct URLs per host via mergeable per-epoch HLL
    // sketches — recrawled URLs recur across epochs so exact per-epoch
    // counts can't be summed; the sketch store answers without rescanning
    // history (merged == one-shot + error bound pinned in SketchOpsSpec)
    Query("c26_epoch_distinct", (s, _) => SketchOps.epochDistinctDemo(s, 30000)),
    Query("c27_crawl_traps", (s, d) => operators.TrapOps.trapHostReport(s, d),
      // c27: crawl-trap detection — URL-shape features (repeated path
      // segments, query-param explosion) aggregated per host. The URL
      // synthesis, segment arithmetic, and the UNROUNDED count-derived
      // ratio (IEEE-identical across engines, q32 precedent) are mirrored
      // exactly.
      Some("""WITH docs AS (SELECT doc_id, source FROM documents),
        |urls AS (
        |  SELECT source AS host,
        |    'http://' || source || '/sec' || (doc_id % 7) || '/art-' || doc_id AS url
        |  FROM docs
        |  UNION ALL
        |  SELECT source AS host,
        |    'http://' || source || '/cal/2026/01/cal/2026/01/cal/2026/01/p' || doc_id AS url
        |  FROM docs WHERE doc_id % 5 = 0 AND right(source, 1) IN ('1','3','5','7','9')
        |  UNION ALL
        |  SELECT source AS host,
        |    'http://' || source || '/sec' || (doc_id % 7) || '/art-' || doc_id
        |      || '?sid=' || md5('s:' || doc_id) || '&ref=' || md5('r:' || doc_id) AS url
        |  FROM docs WHERE doc_id % 7 = 0 AND right(source, 1) IN ('2','6')
        |), parts AS (
        |  SELECT host, string_split(regexp_replace(url, '^[a-z]+://[^/]+', ''), '?') AS pq
        |  FROM urls
        |), feats AS (
        |  SELECT host,
        |    list_filter(string_split(pq[1], '/'), x -> x <> '') AS segs,
        |    CASE WHEN len(pq) >= 2 AND length(pq[2]) > 0
        |         THEN len(string_split(pq[2], '&')) ELSE 0 END AS n_params
        |  FROM parts
        |), flagged AS (
        |  SELECT host,
        |    (len(segs) - len(list_distinct(segs)) >= 4) OR n_params >= 2 AS is_trap
        |  FROM feats
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(CASE WHEN is_trap THEN 1 END) AS BIGINT) AS n_trap,
        |  CAST(count(CASE WHEN is_trap THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS trap_ratio,
        |  CAST(count(CASE WHEN is_trap THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) >= 0.1 AS trap_suspect
        |FROM flagged GROUP BY host ORDER BY host""".stripMargin)),
    // c28: DUST url-alias rule mining — learns which query params are
    // content-irrelevant per host from fetched (url, content-hash) pairs
    Query("c28_dust_rules", (s, d) => operators.DustOps.dustReport(s, d),
      // c28: DUST alias-rule mining — URL/content synthesis, the
      // (host, base_url) pair join, and the zero-refutation verdict are
      // mirrored exactly (string + count arithmetic only).
      Some(DustRulesSql)),
    // c29: sitemap.xml ingestion via native from_xml — the sitemaps.org
    // discovery channel, parsed typed and unioned into the seed path
    // (no DuckDB XML functions -> rows-only gate + SitemapSpec goldens)
    Query("c29_sitemap_ingest", (s, _) => operators.SitemapOps.sitemapEntries(s)),
    // c30: adaptive politeness — per-host crawl delay learned from
    // observed p95 fetch latency (robots stays the floor)
    Query("c30_adaptive_pacing", (s, d) => operators.PacingOps.pacingReport(s, d),
      // c30: adaptive pacing — latency synthesis, disc-percentile (Spark
      // percentile_disc == DuckDB quantile_disc, q23 parity), and the
      // integer clamp mirrored exactly.
      Some(PacingSql)),
    // c31: streaming DUST — three adversarially-sliced micro-batches
    // through the persisted delta-join store; final rules == c28's batch
    // miner, checked by the SAME oracle SQL
    Query("c31_stream_dust", (s, d) => graft.streaming.StreamingJobs.dustMineDemo(s, d),
      // c31: streaming DUST — the persisted incremental miner must converge
      // to the same rules, so it shares c28's oracle verbatim
      Some(DustRulesSql)),
    // c32: streaming pacing — mergeable latency histograms through the
    // persisted store; final delays == c30's batch report + oracle
    Query("c32_stream_pacing", (s, d) => graft.streaming.StreamingJobs.pacingMineDemo(s, d),
      // c32: streaming pacing must converge to the same delay table, so it
      // shares c30's oracle verbatim
      Some(PacingSql)),
    // c33: robots-cache TTL — stale hosts' pages held back, one
    // top-priority robots fetch scheduled instead (rows-only gate)
    Query("c33_robots_ttl", (s, _) => operators.RobotsTtlOps.ttlReport(s)),
    // c34: authority-weighted host budget allocation — largest-remainder
    // apportionment of the global fetch budget over PageRank (integer-exact)
    Query("c34_budget_allocation", (s, d) => operators.GraphOps.budgetAllocation(s, d),
      Some(operators.GraphOps.budgetOracleSql())),
    // c35: rendezvous-hash crawler shard assignment — minimal-movement
    // host ownership across fleet resizes (argmin folds in-row, no
    // per-(host,shard) exchange)
    Query("c35_shard_assign", (s, d) => operators.ShardOps.shardReport(s, d),
      Some(operators.ShardOps.shardOracleSql())),
    // c36: image+caption pair curation — LAION-style resolution/aspect/
    // caption/alignment/contrast gates over the input_hint table (bytes
    // decoded once, never shuffled; rows-only gate + ImageCurationSpec)
    Query("c36_image_curation", (s, _) => operators.ImageOps.curateImages(s)),
    // c37: content-defined-chunking storage dedup — per-epoch new-bytes
    // accounting over the page archive (gear rolling hash; rows-only
    // gate + CdcSpec goldens incl. the insertion-resync property)
    Query("c37_cdc_dedup", (s, _) => operators.CdcOps.dedupReport(s)),
    // c38: audio copy detection — Shazam-style constellation hashes with
    // an offset vote (trim+gain robust; rows-only gate + AudioCopySpec)
    Query("c38_audio_copydetect", (s, _) => operators.MediaOps.audioCopyDetect(s)),
    // c39: sitemap discovery FROM robots.txt (the sitemaps.org discovery
    // mechanism; only advertised sitemaps are fetched — rows-only gate)
    Query("c39_sitemap_discovery", (s, _) => operators.SitemapOps.discoveredEntries(s)),
    // c40: stream-static enrichment — per-micro-batch broadcast dimension
    // join (no state store); StreamingSpec pins stream == batch mirror
    Query("c40_stream_enrich", (s, _) => graft.streaming.StreamingJobs.enrichDemo(s)),
    // c41: FULL-language robots matching (RFC 9309 wildcards/anchors) —
    // both engines' verdicts side by side; spec pins kernel==column==REP
    Query("c41_robots_wildcard", (s, _) => operators.RobotsWildcardOps.wildcardVerdicts(s)),
    // c42: redirect-chain resolution — bounded-hop alias walk with loop
    // verdict; Spark iterates joins, DuckDB oracles via recursive CTE
    Query("c42_redirect_resolve", (s, d) => operators.RedirectOps.resolveRedirects(s, d),
      // c42: the oracle walks the same formula-derived successor graph by
      // recursive CTE (each node has ONE successor, so the walk per id is a
      // single path); the max-hops row per id is the resolution state.
      Some("""WITH RECURSIVE edges AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src,
        |           CASE WHEN doc_id % 5 <> 0 THEN doc_id - 1
        |                WHEN (doc_id // 5) % 10 = 9 THEN doc_id + 4 END AS dst
        |    FROM documents)
        |  WHERE dst IS NOT NULL
        |), walk(id, cur, hops) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents
        |  UNION ALL
        |  SELECT w.id, e.dst, w.hops + 1
        |  FROM walk w JOIN edges e ON e.src = w.cur
        |  WHERE w.hops < 8
        |), last AS (
        |  SELECT id, cur, hops,
        |         row_number() OVER (PARTITION BY id ORDER BY hops DESC) AS rn
        |  FROM walk
        |)
        |SELECT id, cur AS final_id, CAST(hops AS INT) AS n_hops,
        |       hops >= 8 AS exceeded
        |FROM last WHERE rn = 1""".stripMargin)),
    // c43: video scene-change detection — consecutive-frame phash deltas
    // over tau mark shot cuts; MediaOpsSpec pins cuts == planted bounds
    Query("c43_scene_changes", (s, _) => operators.MediaOps.sceneChangeDemo(s)),
    // c44: frontier priority AGING — budget losers re-enter boosted, so
    // no URL starves; AgingSpec pins the starvation contrast vs control
    Query("c44_priority_aging", (s, _) => operators.CrawlPipeline.agingDemo(s)),
    // c45: change-rate-adaptive recrawl scheduling (Cho & Garcia-Molina)
    // — revisit interval inverse in observed change count, engine-exact
    // integer estimator (monotone stand-in for the TOIT'03 MLE)
    Query("c45_recrawl_schedule", (s, d) => operators.RecrawlOps.recrawlSchedule(s, d),
      // c45: identical md5 change draws (('0x'||hex)::BIGINT == Spark's
      // conv(...,16,10) — the t21 parity), identical integer estimator.
      Some("""WITH hist AS (
        |  SELECT doc_id AS page_id,
        |    unnest(generate_series(1, 16)) AS epoch
        |  FROM documents
        |), flagged AS (
        |  SELECT page_id,
        |    CASE WHEN ('0x' || substr(md5(CAST(page_id AS VARCHAR) || ':' ||
        |      CAST(epoch AS VARCHAR)), 1, 6))::BIGINT % 8 < page_id % 8
        |      THEN 1 ELSE 0 END AS changed
        |  FROM hist
        |), est AS (
        |  SELECT page_id, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(sum(changed) AS BIGINT) AS n_changes
        |  FROM flagged GROUP BY page_id
        |)
        |SELECT page_id, n_obs, n_changes,
        |  greatest(1, n_obs // (n_changes + 1)) AS revisit_interval,
        |  16 + greatest(1, n_obs // (n_changes + 1)) AS next_due
        |FROM est ORDER BY page_id""".stripMargin)),
    // c46: crop-resistant image copy detection via TILED phashes — a
    // crop matches its source REGION's tile where whole-hash dedup is
    // blind; CropMatchSpec pins mirror equality + the blindness contrast
    Query("c46_crop_copydetect", (s, _) => operators.ImageOps.cropDetectDemo(s)),
    // c47: caption-divergence mining — phash clusters whose members carry
    // DIFFERENT normalized captions (silent caption edits / syndicated
    // copies with divergent words); CaptionDivergenceSpec pins mirror
    // equality + the normalization contract
    Query("c47_caption_divergence", (s, _) => operators.ImageOps.captionDivergenceDemo(s)),
    // c48: version-chain retention thinning — bounded history per page
    // (window/first/boundary/stride survivors); RetentionSpec pins mirror
    // equality + first/latest/window invariants; q49 is the oracled twin
    Query("c48_version_retention", (s, _) => operators.RetentionOps.retentionDemo(s)),
    // c49: word-level caption diff SCRIPTS (news-diff's user-facing diff
    // rendering as an operator); CaptionDiffSpec pins reconstruction +
    // LCS minimality (vs an independent DP) + mirror equality
    Query("c49_caption_diff", (s, _) => operators.DiffJob.captionDiffDemo(s)),
    // c50: failure-aware AIMD host backoff (integer basis points; wired
    // into CrawlPipeline as `backoff`); BackoffSpec pins the hand-computed
    // chain, mirror state, control-contrast shrink, recovery, resume
    Query("c50_host_backoff", (s, _) => operators.BackoffOps.backoffDemo(s)),
    // c51: HTTP revalidation for recrawls (conditional GET / 304) — due
    // pages with an unchanged validator skip the fetch wave entirely;
    // wired into CrawlPipeline as `revalidate`; RevalidationSpec pins
    // zero-unchanged-fetches + no-lost-revisions vs the control run
    Query("c51_revalidation", (s, _) => operators.RevalidationOps.revalidationDemo(s)),
    // c52: flip-invariant image near-dup — canonical phash
    // min(phash, phash of mirror) catches mirrored reposts whole-hash
    // dedup (c17) is blind to; same block-index scale shape as c17
    Query("c52_flip_dedup", (s, _) => operators.ImageOps.flipDetectDemo(s)),
    // c53: crawl-root vacuum (Iceberg remove-orphans/expire analog) —
    // deletes uncommitted epoch dirs, marker-less half-writes, manifest
    // temps; VacuumSpec pins exact-orphan removal + resume==control
    Query("c53_vacuum", (s, _) => operators.RetentionOps.vacuumDemo(s)),
    // c54: bandwidth-aware host budgets — request budgets shrink to fit a
    // per-host byte allowance using mean page sizes learned from the
    // committed fetch history; wired as CrawlPipeline byteBudgetPerHost
    Query("c54_byte_budget", (s, _) => operators.BandwidthOps.bandwidthDemo(s)),
    // c55: fetched-payload validation — magic-number sniff + container
    // trailer audit on the binary column, fused into the scan (no decode,
    // no payload shuffle); planted truncations/mislabels, mirror-golden
    Query("c55_fetch_validation", (s, _) => operators.FetchAudit.validationReport(s)),
    Query("c56_incremental_exact_dup", (s, d) => {
      // persisted exact-substring index (SimIndex.suffix_keys): epoch-1
      // docs (the t10 planted partial copies) probe epoch 0's PERSISTED
      // window keys — cross-epoch exact-copy gate at window granularity,
      // no re-hashing of epoch 0; incremental == full recompute is pinned
      // in SuffixSpec
      val root = graft.SparkEnv.scratchDir("graft-c56")
      val corpus = TextOps.spanCorpus(s, d)
      val e0 = corpus.where(col("doc_id") < 2000000L)
      val e1 = corpus.where(col("doc_id") >= 2000000L)
      operators.SimIndex.writeSuffixIndex(e0, root, 0)
      operators.SimIndex.writeSuffixIndex(e1, root, 1)
      operators.SimIndex.crossEpochDupWindows(s, root, 1, corpus)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_dup"),
          min("pos").cast("long").as("first_pos"),
          max("pos").cast("long").as("last_pos"))
        .orderBy("doc_id")
    }),
    // c57: no-reference blur audit — integer variance-of-Laplacian per
    // image, one decode pass emitting (id, long); planted blurred twins
    // must fail the gate (BlurSpec mirror-exact)
    Query("c57_blur_audit", (s, _) => ImageOps.blurAuditDemo(s)),
    // c58: streaming EXACT copy-detection — each micro-batch appends a
    // suffix-key mini-epoch and probes the corpus-so-far (c18's sibling at
    // window granularity); stream == full recompute pinned in StreamingSpec
    Query("c58_stream_exactcopy", (s, d) =>
      graft.streaming.StreamingJobs.exactCopyDetectDemo(s, d)),
    // c59: robots-policy diff across cache generations + re-enqueue of
    // newly-allowed held-back URLs (both verdicts are P4's pure column;
    // RobotsDiffSpec mirrors via the crawl oracle's kernel)
    Query("c59_robots_diff", (s, _) => operators.RobotsDiffOps.robotsDiffDemo(s)),
    // c60: sitemap-lastmod-driven recrawl — the PUSH change signal (c45
    // learns rates, c51 revalidates; lastmod is told): per-host
    // new/stale/fresh verdicts, kernel-mirror golden in SitemapSpec
    Query("c60_lastmod_recrawl", (s, _) => operators.SitemapOps.lastmodRecrawlDemo(s)),
    // c61: the per-domain budget cap in action (P6b wiring): before/after
    // counts per registrable domain; every domain lands at min(before, budget)
    Query("c61_domain_politeness", (s, _) => operators.DomainOps.domainBudgetDemo(s)),
    // c62: RFC 9309 robots UNAVAILABILITY semantics — 4xx = allow all,
    // fresh 5xx = complete disallow, stale 5xx = cached copy; per-host
    // effective-vs-parsed admission counts (mirror-golden)
    Query("c62_robots_availability",
      (s, _) => operators.RobotsAvailabilityOps.availabilityReport(s)),
    // c63: header-dimension audit — width/height sniffed from the PNG
    // IHDR / JPEG SOFn header via the codegen HeaderDims64 expression,
    // compared to the catalog's declared dims; planted half-size and
    // truncated payloads must fail (HeaderDimsSpec: kernel == full
    // ImageIO decode dims, audit == mirror)
    Query("c63_dims_audit", (s, _) => ImageOps.dimsAuditDemo(s)),
    // c64: EXIF-orientation-normalized copy detection — the orientation
    // tag (APP1/TIFF IFD walk, header bytes only) applied to the decoded
    // grid before hashing, so camera-rotated reposts of one photo pair up;
    // whole_hash_missed shows plain-phash blocking is blind to them
    // (ExifSpec: tag round-trip both endiannesses, transform laws,
    // matches == brute oriented-kernel mirror)
    Query("c64_exif_orientation", (s, _) => ImageOps.orientationDemo(s)),
    Query("c65_image_decontaminate", (s, _) => {
      // eval-set image decontamination through the persisted phash index:
      // a small benchmark set (re-keyed copies of every 6th corpus image
      // + disjoint never-matching entries) broadcasts against the
      // corpus-so-far's block table; flagged corpus images must be held
      // out of training (brute-mirror golden in SimIndexSpec)
      val root = graft.SparkEnv.scratchDir("graft-c65")
      val base = diffHistory(s, 60).where(col("epoch") === 2)
        .select("image_id", "phash")
      val e0 = base.where(pmod(xxhash64(col("image_id")), lit(2)) === 0)
      val e1 = base.where(pmod(xxhash64(col("image_id")), lit(2)) === 1)
      operators.SimIndex.writePhashIndex(e0, root, 0)
      operators.SimIndex.writePhashIndex(e1, root, 1)
      val evalSet = base.where(pmod(xxhash64(col("image_id")), lit(6)) === 0)
        .select(concat(lit("eval:"), col("image_id")).as("image_id"), col("phash"))
        .unionByName(s.range(8).select(
          concat(lit("eval:fresh-"), col("id")).as("image_id"),
          xxhash64(col("id") + 71L).as("phash")))
      operators.SimIndex.decontaminateImages(s, root, 1, evalSet)
        .orderBy("image_id")
    }),
    // c66: JPEG encode-quality audit — IJG quality inverted from the
    // luminance DQT (header bytes only, codegen expression); planted
    // low-quality re-encodes must flag LOW, png rows report -1
    // (JpegQualitySpec: estimate within +-1 of the actual encode quality
    // across 20..95, monotone, audit == kernel mirror)
    Query("c66_jpeg_quality", (s, _) => ImageOps.qualityAuditDemo(s)),
    // c67: payload admission gate wired into the crawl — per-epoch status
    // ledger of a validated 2-epoch run; damaged payloads (truncations +
    // CDN thumbnail substitutions) land as invalid_payload, never in the
    // parsed view (ValidationPipelineSpec: invalid set == damage-kernel
    // mirror, thumbnails provably need the c63 dims gate)
    Query("c67_payload_gate", (s, _) => operators.CrawlPipeline.payloadGateDemo(s)),
    // c68: rotation/flip copy detection with NO metadata (rotate-then-
    // strip reposts) — full dihedral orbit probed against stored hashes
    Query("c68_dihedral_copydetect", (s, _) => ImageOps.dihedralDemo(s)),
    // c69: uniform-border (letterbox/pillarbox/padding) audit — the
    // crop-or-drop curation signal for padded images
    Query("c69_border_audit", (s, _) => ImageOps.borderDemo(s)),
    // c70: per-IP politeness — the vhost-farm cap (budget keyed by
    // resolved address, not host)
    Query("c70_ip_politeness", (s, _) => operators.IpOps.ipBudgetDemo(s)),
    // c71: low-contrast / flat-payload audit — the no-signal curation drop
    Query("c71_contrast_audit", (s, _) => ImageOps.contrastDemo(s)),
    Query("c72_forget_takedown", (s, d) => {
      // takedown propagation through the persisted index (ForgetOps):
      // a 2-epoch corpus with planted cross-epoch copies, then a takedown
      // of part of the epoch-0 originals — the merge-on-read probe answers
      // WITHOUT the deleted docs (and with the df-cap maintained) while
      // the index files stay untouched; merge-on-read == rebuilt-from-
      // filtered-corpus and compaction goldens are pinned in ForgetSpec
      val root = graft.SparkEnv.scratchDir("graft-c72")
      val docs = s.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
      val e0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val e1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .unionByName(e0.where(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" appended revision marker tokens")).as("text")))
      operators.SimIndex.writeShingleIndex(e0, root, 0)
      operators.SimIndex.writeShingleIndex(e1, root, 1)
      // take down the %40==0 originals: every pair they anchored must go,
      // the %20-but-not-%40 pairs must stay
      operators.ForgetOps.writeDocTombstones(s, root, 1,
        docs.where(pmod(col("doc_id"), lit(40)) === 0).select("doc_id"))
      operators.ForgetOps.crossEpochNearDupsForgetting(s, root, 1)
        .orderBy("doc_a", "doc_b")
    }),
    // c73: rel=canonical consolidation — page-level alias channel folded
    // with c42's HTTP channel (redirect wins: a redirecting URL never
    // shows its tag); one combined walk + consolidated group sizes
    Query("c73_canonical_aliases", (s, d) => operators.CanonicalOps.consolidate(s, d),
      // c73: c42's walk over the COMBINED successor (the CASE order encodes
      // redirect-over-canonical priority) + consolidated group sizes
      Some("""WITH RECURSIVE edges AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src,
        |           CASE WHEN doc_id % 5 <> 0 THEN doc_id - 1
        |                WHEN (doc_id // 5) % 10 = 9 THEN doc_id + 4
        |                WHEN doc_id % 7 = 3 AND doc_id >= 3 THEN doc_id - 3
        |           END AS dst
        |    FROM documents)
        |  WHERE dst IS NOT NULL
        |), walk(id, cur, hops) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents
        |  UNION ALL
        |  SELECT w.id, e.dst, w.hops + 1
        |  FROM walk w JOIN edges e ON e.src = w.cur
        |  WHERE w.hops < 8
        |), last AS (
        |  SELECT id, cur, hops,
        |         row_number() OVER (PARTITION BY id ORDER BY hops DESC) AS rn
        |  FROM walk
        |), resolved AS (
        |  SELECT id AS doc_id, cur AS final_id, CAST(hops AS INT) AS n_hops,
        |         hops >= 8 AS exceeded
        |  FROM last WHERE rn = 1
        |)
        |SELECT doc_id, final_id, n_hops, exceeded,
        |       CAST(count(*) OVER (PARTITION BY final_id) AS BIGINT) AS n_aliases
        |FROM resolved""".stripMargin)),
    // c74: tone-curve-resistant copy detection — equalized-phash matcher
    // finds gamma/re-grade reposts the raw phash misses (contrast column)
    Query("c74_tone_copydetect", (s, _) => ImageOps.toneDetectDemo(s)),
    // c75: WARC-shaped archival record format round-trip through the
    // custom DSv2 source (pruned metadata scan + full payload scan)
    Query("c75_archive_roundtrip", (s, _) => sources.ArchiveSource.roundTripDemo(s)),
    // c76: image-caption alignment gate (LAION/DataComp CLIP-score
    // filter; deterministic two-tower stubs, per-row zero-exchange gate)
    Query("c76_alignment_gate", (s, _) => AlignOps.alignmentDemo(s)),
    // c77: scale-variant dedup (radius-6 combination blocking) + best-copy
    // election — keep the highest-resolution lossless member per cluster
    Query("c77_best_copy", (s, _) => ImageOps.bestCopyDemo(s)),
    // c78: incremental best-copy catalog — upgrade/evict/drop actions
    // through the persisted combination-block index
    Query("c78_catalog_upgrade", (s, _) => ImageOps.bestCopyCatalogDemo(s)),
    Query("c79_forget_embeddings", (s, d) => {
      // takedown propagation for the EMBEDDING index family (the c72
      // semantics over lsh_buckets): 2 epochs with planted re-embedded
      // copies, then a GDPR-style takedown of half the epoch-0 originals —
      // the merge-on-read probe answers without the deleted vectors while
      // the bucket files stay untouched; merge-on-read == rebuilt and
      // compaction goldens are pinned in ForgetSpec
      val root = graft.SparkEnv.scratchDir("graft-c79")
      val base = s.read.parquet(s"$d/embeddings.parquet")
        .select("vec_id", "embedding")
      val e0 = base.where(pmod(col("vec_id"), lit(2)) === 0)
      val e1 = base.where(pmod(col("vec_id"), lit(2)) === 1)
        .unionByName(e0.where(pmod(col("vec_id"), lit(20)) === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              when(i === 0, (x.cast("double") + lit(0.05)).cast("float")).otherwise(x))
              .as("embedding")))
      val all = e0.unionByName(e1)
      operators.SimIndex.writeLshIndex(e0, root, 0, 6)
      operators.SimIndex.writeLshIndex(e1, root, 1, 6)
      operators.ForgetOps.writeEmbTombstones(s, root, 1,
        base.where(pmod(col("vec_id"), lit(40)) === 0).select("vec_id"))
      operators.ForgetOps.crossEpochNearDupCosineForgetting(s, root, 1, all)
        .orderBy("vec_a", "vec_b")
    }),
    // c80: the same catalog kept current ONLINE (foreachBatch mini-epochs)
    Query("c80_stream_catalog",
      (s, _) => streaming.StreamingJobs.bestCopyCatalogDemo(s)),
    // c81: composed image corpus build — quality gates then best-copy
    // dedup over survivors, one declarative plan, per-row verdicts
    Query("c81_corpus_build", (s, _) => ImageOps.corpusBuildDemo(s)),
    // c82: per-host politeness SLA audit over the flagship schedule —
    // gap/budget/slot compliance as an observable (PolitenessAuditSpec
    // asserts every verdict column is true on engine-produced schedules)
    Query("c82_politeness_audit", (s, _) =>
      FrontierJob.politenessAudit(crawlSchedule(s, 2000), Gen.robots(s).toDF(),
        crawlCfg(budget = math.max(200, 2000 / 3)))),
    // c83: bounded failure-retry policy — transiently-failed URLs re-enter
    // the frontier around the seen dedupe with an attempt budget;
    // RetrySpec pins the due-set law and the retryMax bound
    Query("c83_failure_retry", (s, _) => CrawlPipeline.retryDemo(s)),
    // c84: the c83 retry ledger as LIVE keyed streaming state
    // (mapGroupsWithState); StreamingSpec pins stream == batch ledger
    Query("c84_stream_retry",
      (s, _) => streaming.StreamingJobs.retryLedgerDemo(s)),
    // c85: per-host crawl health ledger (fetch outcomes + revision rate)
    // over committed state; HostHealthSpec cross-checks schedule-vs-log
    Query("c85_host_health", (s, _) => HealthOps.hostHealthDemo(s)),
    // c86: parked/soft-404 host detection — per-source dominant identical
    // payload share (md5 groups, integer bp); DuckDB-oracled
    Query("c86_parked_hosts", (s, d) => HealthOps.parkedHosts(s, d),
      // c86: same placeholder-payload view, same md5 grouping and
      // (n_dup desc, md5 asc) argmax; integer-div basis points
      Some("""WITH pages AS (
        |  SELECT source,
        |    md5(CASE WHEN doc_id % 7 = 0
        |      THEN 'domain parked - placeholder page for ' || source
        |      ELSE text END) AS payload_md5
        |  FROM documents
        |), grp AS (
        |  SELECT source, payload_md5, CAST(count(*) AS BIGINT) AS n_dup
        |  FROM pages GROUP BY 1, 2
        |), ranked AS (
        |  SELECT source, payload_md5, n_dup,
        |    CAST(sum(n_dup) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_dup DESC, payload_md5 ASC) AS rn
        |  FROM grp
        |)
        |SELECT source, n_docs, payload_md5 AS top_md5, n_dup AS top_n,
        |  n_dup * 10000 // n_docs AS dup_share_bp,
        |  (n_dup * 10000 // n_docs) >= 2000 AS parked
        |FROM ranked WHERE rn = 1 ORDER BY source""".stripMargin)),
    // c87: crawl-budget fairness (Jain index over per-host docs/bytes,
    // exact BIGINT moments); DuckDB-oracled
    Query("c87_budget_fairness", (s, d) => HealthOps.budgetFairness(s, d),
      // c87: same per-source BIGINT moments, same integer-div share
      Some("""WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(length(text)) AS BIGINT) AS bytes
        |  FROM documents GROUP BY source
        |), st AS (
        |  SELECT 'docs' AS measure, docs AS x FROM per
        |  UNION ALL
        |  SELECT 'bytes', bytes FROM per
        |), agg AS (
        |  SELECT measure, CAST(count(*) AS BIGINT) AS n_hosts,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(max(x) AS BIGINT) AS mx
        |  FROM st GROUP BY measure
        |)
        |SELECT measure, n_hosts,
        |  round(CAST(sx * sx AS DOUBLE) / CAST(n_hosts * sxx AS DOUBLE), 6)
        |    AS jain_index,
        |  mx * 10000 // sx AS top_share_bp
        |FROM agg ORDER BY measure""".stripMargin)),
    // c88: frontier priority calibration — exact Spearman between
    // per-host scheduled priority and realized revision yield over
    // committed state; HostHealthSpec pins the plain-Scala mirror
    Query("c88_priority_calibration", (s, _) => HealthOps.calibrationDemo(s)),
    // c89: phash Hamming calibration per transform class — the evidence
    // behind the image-dedup radius (and c52's flip blindspot), mirror-
    // gated in ImageOpsSpec
    Query("c89_phash_calibration", (s, _) => ImageOps.phashCalibrationDemo(s)),
    // c90: CUSUM changepoint on per-host change rates — flags the
    // NON-stationary host c45's stationary estimate dilutes; exact
    // closed form cum - min(0, running_min(cum)) over integers — oracled
    Query("c90_rate_changepoint", (s, d) =>
      operators.RecrawlOps.changepointReport(s, d),
      // c90: identical md5 draws (t21/c45 parity) + the same CUSUM closed
      // form cum - least(0, running_min(cum)) — all BIGINT, hash-exact
      Some("""WITH hosts AS (
        |  SELECT DISTINCT source AS host FROM documents
        |), flagged AS (
        |  SELECT host,
        |    ('0x' || substr(md5('cp-shift:' || host), 1, 6))::BIGINT % 3 = 0
        |      AS shifted
        |  FROM hosts
        |), grid AS (
        |  SELECT host, shifted,
        |    CAST(e.epoch AS BIGINT) AS epoch, i.i AS i
        |  FROM flagged,
        |    (SELECT unnest(generate_series(1, 24)) AS epoch) e,
        |    (SELECT unnest(generate_series(1, 8)) AS i) i
        |), drawn AS (
        |  SELECT host, shifted, epoch,
        |    CASE WHEN ('0x' || substr(md5('cp:' || host || ':' ||
        |        CAST(epoch AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
        |        1, 6))::BIGINT % 8 <
        |      (CASE WHEN shifted AND epoch > 12 THEN 6 ELSE 1 END)
        |    THEN 1 ELSE 0 END AS changed
        |  FROM grid
        |), counts AS (
        |  SELECT host, shifted, epoch, CAST(sum(changed) AS BIGINT) AS x
        |  FROM drawn GROUP BY 1, 2, 3
        |), cums AS (
        |  SELECT host, shifted, epoch, x,
        |    sum(x - 3) OVER (PARTITION BY host ORDER BY epoch
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM counts
        |), scored AS (
        |  SELECT host, shifted, epoch, x,
        |    cum - least(0, min(cum) OVER (PARTITION BY host ORDER BY epoch
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        |  FROM cums
        |)
        |SELECT host, max(shifted) AS shifted, CAST(max(s) AS BIGINT) AS max_s,
        |  min(CASE WHEN s >= 8 THEN epoch END) AS alarm_epoch,
        |  CAST(sum(CASE WHEN epoch <= 12 THEN x END) AS BIGINT)
        |    AS pre_changes,
        |  CAST(sum(CASE WHEN epoch > 12 THEN x END) AS BIGINT)
        |    AS post_changes,
        |  CASE WHEN min(CASE WHEN s >= 8 THEN epoch END) IS NOT NULL
        |    THEN 'rate_shift' ELSE 'stable' END AS verdict
        |FROM scored GROUP BY host ORDER BY host""".stripMargin)),
    // c92: per-host freshness-SLA rollup — pages overdue vs their own
    // c45 adaptive interval, in basis points — oracled
    Query("c92_freshness_sla", (s, d) => operators.RecrawlOps.freshnessSla(s, d),
      // c92: identical md5 change draws + integer intervals (c45 parity),
      // identical age round-robin, BIGINT rollup
      Some("""WITH hist AS (
        |  SELECT doc_id AS page_id, source AS host,
        |    unnest(generate_series(1, 16)) AS epoch
        |  FROM documents
        |), flagged AS (
        |  SELECT page_id, host,
        |    CASE WHEN ('0x' || substr(md5(CAST(page_id AS VARCHAR) || ':' ||
        |      CAST(epoch AS VARCHAR)), 1, 6))::BIGINT % 8 < page_id % 8
        |      THEN 1 ELSE 0 END AS changed
        |  FROM hist
        |), est AS (
        |  SELECT page_id, host, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(sum(changed) AS BIGINT) AS n_changes
        |  FROM flagged GROUP BY 1, 2
        |), per AS (
        |  SELECT host,
        |    greatest(1, n_obs // (n_changes + 1)) AS ivl,
        |    page_id % 5 AS age
        |  FROM est
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(CASE WHEN age > ivl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overdue,
        |  (10000 * CAST(sum(CASE WHEN age > ivl THEN 1 ELSE 0 END)
        |    AS BIGINT)) // count(*) AS overdue_bp,
        |  min(ivl) AS min_interval, max(ivl) AS max_interval
        |FROM per GROUP BY host ORDER BY host""".stripMargin)),
    // c93: per-host byte-demand forecast — exact integer OLS (q68
    // machinery) over synthesized fetch history — oracled
    Query("c93_byte_forecast", (s, d) =>
      operators.RecrawlOps.byteDemandForecast(s, d),
      // c93: identical md5 base/noise draws (t21/c45 parity), identical
      // BIGINT moment combinations, one rounded division each
      Some("""WITH hosts AS (
        |  SELECT DISTINCT source AS host FROM documents
        |), seeded AS (
        |  SELECT host,
        |    ('0x' || substr(md5('bf:' || host), 1, 6))::BIGINT AS hh
        |  FROM hosts
        |), hist AS (
        |  SELECT host,
        |    CAST(e.e AS BIGINT) AS e,
        |    10000 + (hh % 7) * 1000 * CAST(e.e AS BIGINT)
        |      + ('0x' || substr(md5('bfn:' || host || ':' ||
        |          CAST(e.e AS VARCHAR)), 1, 6))::BIGINT % 997 AS bytes
        |  FROM seeded, (SELECT unnest(generate_series(1, 8)) AS e) e
        |), m AS (
        |  SELECT host, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(e) AS BIGINT) AS sx, CAST(sum(bytes) AS BIGINT) AS sy,
        |    CAST(sum(e * e) AS BIGINT) AS sxx,
        |    CAST(sum(e * bytes) AS BIGINT) AS sxy
        |  FROM hist GROUP BY host
        |)
        |SELECT host, n, sy AS total_bytes,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 4)
        |    AS slope_bytes_per_epoch,
        |  round(CAST(sy * sxx - sx * sxy
        |      + (n + 1) * (n * sxy - sx * sy) AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS forecast_next_epoch
        |FROM m ORDER BY host""".stripMargin)),
    // c94: throughput-ceiling classification — politeness vs budget vs
    // demand-met per host, deterministic precedence — oracled
    Query("c94_throughput_ceiling", (s, d) =>
      operators.HealthOps.throughputCeiling(s, d),
      // c94: identical md5 delay/budget draws; least() + deterministic
      // precedence for the limiting factor — all integers and strings
      Some("""WITH demand AS (
        |  SELECT source AS host, CAST(count(*) AS BIGINT) AS demand_urls
        |  FROM documents GROUP BY source
        |), params AS (
        |  SELECT host, demand_urls,
        |    1 + ('0x' || substr(md5('pd:' || host), 1, 6))::BIGINT % 5
        |      AS delay_s,
        |    200 + ('0x' || substr(md5('pb:' || host), 1, 6))::BIGINT % 800
        |      AS budget_urls
        |  FROM demand
        |), c AS (
        |  SELECT host, demand_urls, delay_s, budget_urls,
        |    3600 // delay_s AS ceiling_urls,
        |    least(demand_urls, 3600 // delay_s, budget_urls)
        |      AS schedulable_urls
        |  FROM params
        |)
        |SELECT host, demand_urls, delay_s, ceiling_urls, budget_urls,
        |  schedulable_urls,
        |  CASE WHEN schedulable_urls = ceiling_urls
        |      AND ceiling_urls <= budget_urls
        |      AND ceiling_urls <= demand_urls THEN 'politeness'
        |    WHEN schedulable_urls = budget_urls
        |      AND budget_urls <= demand_urls THEN 'budget'
        |    ELSE 'demand_met' END AS limiting_factor
        |FROM c ORDER BY host""".stripMargin)),
    // c95: URL mortality/tombstone policy over synthesized fetch
    // history — terminal-streak classification, per-host rollup — oracled
    Query("c95_url_mortality", (s, d) =>
      operators.RecrawlOps.urlMortality(s, d),
      // c95: same md5-seeded attempt synthesis; terminal streak =
      // FcEpochs - last success, classified and rolled up per host
      Some("""WITH att AS (
        |  SELECT doc_id, source AS host, CAST(e.e AS BIGINT) AS e,
        |    ('0x' || substr(md5('mort:' || doc_id || ':' ||
        |      CAST(e.e AS VARCHAR)), 1, 6))::BIGINT % 100 AS h
        |  FROM documents, (SELECT unnest(generate_series(1, 8)) AS e) e
        |), st AS (
        |  SELECT doc_id, host, e,
        |    CASE WHEN doc_id % 17 = 0 AND e >= 4 THEN 0
        |         WHEN h < 15 THEN 0 ELSE 1 END AS ok
        |  FROM att
        |), per AS (
        |  SELECT doc_id, host,
        |    coalesce(max(CASE WHEN ok = 1 THEN e END), 0) AS last_ok
        |  FROM st GROUP BY 1, 2
        |), cls AS (
        |  SELECT host, last_ok,
        |    CASE WHEN 8 - last_ok >= 4 THEN 'tombstoned'
        |         WHEN 8 - last_ok >= 2 THEN 'at_risk'
        |         ELSE 'alive' END AS state
        |  FROM per
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(CASE WHEN state = 'tombstoned' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_tombstoned,
        |  CAST(sum(CASE WHEN state = 'at_risk' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_at_risk,
        |  (10000 * CAST(sum(CASE WHEN state = 'tombstoned' THEN 1 ELSE 0
        |    END) AS BIGINT)) // count(*) AS dead_bp,
        |  coalesce(min(CASE WHEN state = 'tombstoned' THEN last_ok + 1
        |    END), -1) AS earliest_tombstone_epoch
        |FROM cls GROUP BY host ORDER BY host""".stripMargin)),
    // c96: Cho-Garcia-Molina change-rate estimator + revisit policy —
    // pooled per-host k/n with capped corner, banded — oracled
    Query("c96_change_rate", (s, d) =>
      operators.RecrawlOps.changeRatePolicy(s, d),
      // c96: same md5 synthesis and tier thresholds; lambda/interval from
      // the identical capped rational
      Some("""WITH vis AS (
        |  SELECT doc_id, source AS host,
        |    ('0x' || substr(md5('rvh:' || source), 1, 6))::BIGINT % 3
        |      AS tier,
        |    CAST(e.e AS BIGINT) AS e,
        |    ('0x' || substr(md5('rv:' || doc_id || ':' ||
        |      CAST(e.e AS VARCHAR)), 1, 6))::BIGINT % 100 AS h
        |  FROM documents, (SELECT unnest(generate_series(1, 8)) AS e) e
        |), ch AS (
        |  SELECT host,
        |    CASE WHEN h < (CASE tier WHEN 0 THEN 5 WHEN 1 THEN 25
        |      ELSE 60 END) THEN 1 ELSE 0 END AS changed
        |  FROM vis
        |), per AS (
        |  SELECT host,
        |    CAST(count(*) // 8 AS BIGINT) AS n_urls,
        |    CAST(count(*) AS BIGINT) AS n_visits,
        |    CAST(sum(changed) AS BIGINT) AS k_sum
        |  FROM ch GROUP BY host
        |), capped AS (
        |  SELECT *, least(k_sum, n_visits - 1) AS k_capped,
        |    CAST(least(k_sum, n_visits - 1) AS DOUBLE)
        |      / CAST(n_visits AS DOUBLE) AS x
        |  FROM per
        |)
        |SELECT host, n_urls, n_visits, k_sum,
        |  (10000 * k_sum) // n_visits AS change_bp,
        |  round(-ln(1.0 - x), 4) AS lambda_per_epoch,
        |  round(1.0 / -ln(1.0 - x), 4) AS revisit_epochs,
        |  CASE WHEN (10000 * k_sum) // n_visits >= 4000 THEN 'hot'
        |       WHEN (10000 * k_sum) // n_visits >= 1500 THEN 'warm'
        |       ELSE 'cold' END AS band
        |FROM capped ORDER BY host""".stripMargin)),
    // c97: Goh-Barabasi arrival burstiness per event type — exact gap
    // moments, B = (sd-mean)/(sd+mean) — oracled
    Query("c97_burstiness", (s, d) =>
      operators.PacingOps.arrivalBurstiness(s, d),
      // c97: same (ts, event_id)-ordered gaps in exact ms; variance in
      // doubles from the integer moments, B rounded before banding
      Some("""WITH t AS (
        |  SELECT event_type, event_id, epoch_ms(ts) AS ms FROM events
        |), g AS (
        |  SELECT event_type,
        |    ms - lag(ms) OVER (PARTITION BY event_type
        |      ORDER BY ms, event_id) AS g
        |  FROM t
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS s, CAST(sum(g * g) AS BIGINT) AS ss
        |  FROM g WHERE g IS NOT NULL GROUP BY 1
        |), f AS (
        |  SELECT *, CAST(s AS DOUBLE) / n_gaps AS mean,
        |    sqrt((CAST(ss AS DOUBLE) / n_gaps
        |      - (CAST(s AS DOUBLE) / n_gaps)
        |      * (CAST(s AS DOUBLE) / n_gaps))
        |      * CAST(n_gaps AS DOUBLE)
        |      / (CAST(n_gaps AS DOUBLE) - 1.0)) AS sd
        |  FROM m
        |), b AS (
        |  SELECT *, round((sd - mean) / (sd + mean), 4) AS b FROM f
        |)
        |SELECT event_type, n_gaps, s, ss,
        |  round(mean, 2) AS mean_gap_ms,
        |  round(sd / mean, 4) AS cv,
        |  b AS burstiness,
        |  CASE WHEN b > 0.1 THEN 'bursty'
        |       WHEN b < -0.1 THEN 'regular'
        |       ELSE 'poisson_like' END AS verdict
        |FROM b ORDER BY event_type""".stripMargin)),
    // c98: Lindley token-bucket backlog under a byte cap — prefix-scan
    // closed form, BIGINT, drains/diverges verdicts — oracled
    Query("c98_backlog_lindley", (s, d) =>
      operators.BandwidthOps.backlogLindley(s, d),
      // c98: c93's demand synthesis; Lindley backlog via the identical
      // prefix-min closed form (null-skipping least/min = W0 = 0)
      Some("""WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
        |hist AS (
        |  SELECT host, CAST(e.e AS BIGINT) AS e,
        |    10000 + (('0x' || substr(md5('bf:' || host), 1, 6))::BIGINT
        |      % 7) * 1000 * CAST(e.e AS BIGINT)
        |      + ('0x' || substr(md5('bfn:' || host || ':' ||
        |        CAST(e.e AS VARCHAR)), 1, 6))::BIGINT % 997 AS demand
        |  FROM hosts, (SELECT unnest(generate_series(1, 8)) AS e) e
        |), c AS (
        |  SELECT host, e, demand,
        |    sum(demand) OVER (PARTITION BY host ORDER BY e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - 30000 * e AS drift
        |  FROM hist
        |), w AS (
        |  SELECT host, e, demand, drift,
        |    greatest(0, drift - least(0, min(drift) OVER (
        |      PARTITION BY host ORDER BY e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
        |      AS w
        |  FROM c
        |)
        |SELECT host, CAST(sum(demand) AS BIGINT) AS total_demand,
        |  CAST(max(w) AS BIGINT) AS peak_backlog,
        |  CAST(max(CASE WHEN e = 8 THEN w END) AS BIGINT)
        |    AS final_backlog,
        |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS epochs_in_backlog,
        |  CASE WHEN max(w) = 0 THEN 'never_queued'
        |       WHEN max(CASE WHEN e = 8 THEN w END) = 0 THEN 'drains'
        |       WHEN max(CASE WHEN e = 8 THEN w END) = max(w)
        |         THEN 'diverging'
        |       ELSE 'oscillating' END AS verdict
        |FROM w GROUP BY host ORDER BY host""".stripMargin)),
    // c99: bloom FPR capacity plan — standard-model curve over
    // the seen-set forecast, ppm-rounded breach flag — oracled
    Query("c99_bloom_capacity", (s, d) =>
      operators.HealthOps.bloomCapacityPlan(s, d),
      // c99: same forecast shape and standard-model curve; breach compared
      // on rounded integer ppm
      Some("""WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_per_epoch FROM documents
        |), g AS (
        |  SELECT CAST(e.e AS BIGINT) AS epoch, n_per_epoch,
        |    10 * n_per_epoch * 8 AS m_bits,
        |    CAST(e.e AS BIGINT) * n_per_epoch AS n_keys
        |  FROM base, (SELECT unnest(generate_series(1, 16)) AS e) e
        |), f AS (
        |  SELECT *,
        |    pow(1.0 - exp((-7.0 * CAST(n_keys AS DOUBLE))
        |      / CAST(m_bits AS DOUBLE)), 7.0) AS fpr
        |  FROM g
        |)
        |SELECT epoch, n_keys, m_bits,
        |  (10000 * n_keys * 10) // m_bits AS fill_bp,
        |  CAST(round(fpr * 1e6) AS BIGINT) AS fpr_ppm,
        |  round(fpr, 6) AS fpr,
        |  CAST(round(fpr * 1e6) AS BIGINT) > 10000 AS over_budget
        |FROM f ORDER BY epoch""".stripMargin)),
    // c100: canonicalization rule attribution — per-rule fire counts
    // over the raw frontier; sound+complete vs canon_url (spec-gated;
    // the kernel is not SQL-expressible)
    Query("c100_canon_attribution", (s, _) =>
      operators.CanonicalOps.ruleAttribution(s)),
    // c101: STREAMING Lindley backlog — c98's recursion as keyed state
    // over demand micro-batches; StreamingSpec pins == batch closed form
    Query("c101_stream_backlog", (s, d) =>
      graft.streaming.StreamingJobs.backlogDemo(s, d))
  )
}
