package graft

import graft.model.Snapshot
import graft.operators._
import graft.sources.Gen
import org.apache.spark.sql.functions.{col, concat, count, lit, max, min, pmod, round, transform, when, xxhash64}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *   q* / t* / emb* — generic relational + training-data ops over the
  *     driver testdata, each paired with DuckDB SQL in `oracleSql`;
  *   c* — crawl-domain ops (canonicalize / dedupe / politeness / bloom /
  *     phash / revisions) over deterministic synthetic inputs (the sandbox
  *     has no network and DuckDB can't express them) — gated by the
  *     scalatest golden suites against CrawlOracle instead.
  */
object SparkEntry {

  /** Flagship: one full crawl-epoch schedule (E1) on synthetic seeds. */
  def entry(spark: SparkSession): DataFrame =
    crawlSchedule(spark, 2000)

  private def crawlCfg(budget: Int): FrontierJob.Config =
    FrontierJob.Config(epoch = 0, globalBudget = budget)

  private def crawlSchedule(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational breadth (DuckDB-oracled) --------------------------
    "q01_agg_pricing" -> ((s, d) => Relational.aggPricing(s, d)),
    "q02_join_broadcast" -> ((s, d) => Relational.joinBroadcastRevenue(s, d)),
    "q03_anti_join" -> ((s, d) => Relational.antiJoinCustomers(s, d)),
    "q04_semi_join" -> ((s, d) => Relational.semiJoinParts(s, d)),
    "q05_window_topk" -> ((s, d) => Relational.windowTopOrders(s, d)),
    "q06_window_lag" -> ((s, d) => Relational.windowEventGaps(s, d)),
    "q07_topk_global" -> ((s, d) => Relational.topOrders(s, d)),
    "q08_rollup" -> ((s, d) => Relational.rollupOrders(s, d)),
    "q09_setops" -> ((s, d) => Relational.setOpsNations(s, d)),
    "q10_json" -> ((s, d) => Relational.jsonProps(s, d)),
    "q11_array" -> ((s, d) => Relational.arrayStats(s, d)),
    "q12_dedup_exact" -> ((s, d) => Relational.dedupExactDocs(s, d)),
    "q13_range_join" -> ((s, d) => Relational.rangeShipLag(s, d)),
    "q14_star_join" -> ((s, d) => Relational.starRevenue(s, d)),
    "q15_distinct" -> ((s, d) => Relational.distinctCounts(s, d)),
    "q16_time_window" -> ((s, d) => Relational.timeWindowEvents(s, d)),
    "q17_politeness_analog" -> ((s, d) => Relational.politenessAnalog(s, d)),
    "q18_stream_window" -> ((s, d) => graft.streaming.StreamingJobs.windowedEventCounts(s, d)),
    "q19_setops2" -> ((s, d) => Relational.setOpsUnionIntersect(s, d)),
    "q20_theta_join" -> ((s, d) => Relational.thetaJoin(s, d)),
    "q21_cube" -> ((s, d) => Relational.cubeOrders(s, d)),
    // q56: GROUPING SETS proper — a multi-group shape rollup/cube can't
    // express (two independent one-column groupings, no grand total)
    "q56_grouping_sets" -> ((s, d) => Relational.groupingSetsOrders(s, d)),
    // q57: Z-order clustering zone maps — the write-time layout tool for
    // multi-column scan pruning (Morton bit-interleave, engine-exact)
    "q57_zorder_zones" -> ((s, d) => operators.LayoutOps.zorderZones(s, d)),
    // q58: gaps-and-islands — consecutive active days per (user, type)
    // via the day-minus-row_number constant; no self-join
    "q58_activity_islands" -> ((s, d) => Relational.activityIslands(s, d)),
    // q59: deterministic mode + lower median from ONE value histogram —
    // the scalable exact-median shape (no full-row sort, no approx sketch)
    "q59_mode_median" -> ((s, d) => Relational.modeMedian(s, d)),
    // q60: SCD2 dimension build — lag change-detect + lead interval-close,
    // one exchange on the dimension key, open rows at the 9999-12-31 sentinel
    "q60_scd2_dimension" -> ((s, d) => Relational.scd2Dimension(s, d)),
    // q61: ordered funnel — three min-filter aggs chained by user-key joins
    "q61_funnel" -> ((s, d) => Relational.funnelStages(s, d)),
    // q62: retention cohorts over the (user, day) distinct grid
    "q62_retention" -> ((s, d) => Relational.retentionCohorts(s, d)),
    // q63: basket-keyed co-occurrence pairs (support >= 2)
    "q63_cooccurrence" -> ((s, d) => Relational.coOccurrencePairs(s, d)),
    // q64: sweep-line max concurrency, half-open intervals
    "q64_max_concurrency" -> ((s, d) => Relational.maxConcurrency(s, d)),
    // q65: Gini skew index — integer cents, one final rounded division
    "q65_gini_skew" -> ((s, d) => Relational.giniRevenue(s, d)),
    // q66: rolling 7-day distinct users — linear explode-by-offset shape
    "q66_rolling_wau" -> ((s, d) => Relational.rollingWau(s, d)),
    // q67: Pearson correlation from exact integer moments
    "q67_correlation" -> ((s, d) => Relational.corrPricing(s, d)),
    // q68: regression slope/intercept/r² from the same integer moments
    "q68_regression" -> ((s, d) => Relational.regressionPricing(s, d)),
    // q69: Shannon entropy from a value histogram, fixed-point term sums
    "q69_entropy" -> ((s, d) => Relational.entropyQuantities(s, d)),
    // q70: median absolute deviation, integer-exact lower medians
    "q70_mad" -> ((s, d) => Relational.madQuantities(s, d)),
    // q71: ordered-set array aggregation (collect/sort/slice surface)
    "q71_topk_array" -> ((s, d) => Relational.topQuantitiesArray(s, d)),
    // q72: exact weighted percentiles — cumsum over per-distinct-value
    // weights, BIGINT cents throughout, weighted-lower-percentile pick
    "q72_weighted_percentile" -> ((s, d) => Relational.weightedPercentiles(s, d)),
    // q73: exact Spearman rank correlation (row_number ranks, BIGINT
    // sum of squared rank diffs, one rounded division) — oracled
    "q73_spearman" -> ((s, d) => Relational.spearmanSupplier(s, d)),
    // q74: geometric + harmonic means via fixed-point quantized terms
    // (integer sums, one final expression each) — oracled
    "q74_means" -> ((s, d) => Relational.meansQuantities(s, d)),
    // q75: trimmed + winsorized means — exact order statistics over
    // integers (rank-range sums are tie-permutation invariant) — oracled
    "q75_robust_means" -> ((s, d) => Relational.robustMeans(s, d)),
    // q76: chi-square independence + Cramér's V over lang × source —
    // integer-derived cell terms, 1e6 fixed-point sums — oracled
    "q76_chi_square" -> ((s, d) => Relational.chiSquareMix(s, d)),
    // q77: exact Kendall tau-b from BIGINT pair counts (no tie-break
    // policy needed, unlike q73's rho) — oracled
    "q77_kendall" -> ((s, d) => Relational.kendallSupplier(s, d)),
    // q78: Theil concentration index decomposed between/within source —
    // integer-log sums; decomposition identity holds EXACTLY — oracled
    "q78_theil" -> ((s, d) => Relational.theilDecomposition(s, d)),
    // g16: global clustering coefficient — 3·triangles/wedges, BIGINT —
    // oracled
    "g16_transitivity" -> ((s, d) =>
      operators.GraphOps.clusteringCoefficient(s, d)),
    // emb20: per-label embedding norm audit vs a planted 0.8f encoder
    // drift — quantized norm² rollup, drift fraction in bp — oracled
    "emb20_norm_audit" -> ((s, d) => operators.SimilarityOps.normAudit(s, d)),
    // q79: pairwise Mann-Whitney U across event types — doubled tied
    // ranks keep every rank sum BIGINT; AUC in integer bp — oracled
    "q79_mannwhitney" -> ((s, d) => Relational.mannWhitneyEvents(s, d)),
    // g17: Broder bow-tie decomposition of the directed host graph —
    // bounded-round fwd/bwd closures from the top-degree pivot — oracled
    "g17_bowtie" -> ((s, d) => operators.GraphOps.bowTie(s, d)),
    // q80: pairwise two-sample Kolmogorov-Smirnov — sup-gap numerator
    // exact by cross-multiplication (BIGINT max) — oracled
    "q80_ks_test" -> ((s, d) => Relational.ksEvents(s, d)),
    // emb21: per-label centroid drift between encoder epochs — quantized
    // per-dim sums, BIGINT deltas, single rounded RMS — oracled
    "emb21_centroid_drift" -> ((s, d) =>
      operators.SimilarityOps.centroidDrift(s, d)),
    // c95: URL mortality/tombstone policy over synthesized fetch
    // history — terminal-streak classification, per-host rollup — oracled
    "c95_url_mortality" -> ((s, d) =>
      operators.RecrawlOps.urlMortality(s, d)),
    // q81: Benford first-digit audit — digit via decimal substring,
    // embedded ppm constants, integer shares — oracled
    "q81_benford" -> ((s, d) => Relational.benfordPrices(s, d)),
    // q82: Theil-Sen robust slope — median pairwise rational under a
    // fully deterministic order, exact dy/dx shipped — oracled
    "q82_theil_sen" -> ((s, d) => Relational.theilSenSupplier(s, d)),
    // g18: hop-distance histogram + effective diameter — all-source
    // bounded BFS, cumulative bp, 90% flag — oracled
    "g18_effective_diameter" -> ((s, d) =>
      operators.GraphOps.distanceHistogram(s, d)),
    // emb22: per-dim variance profile + participation-ratio effective
    // dimensionality — exact integer moments per coordinate — oracled
    "emb22_dim_variance" -> ((s, d) =>
      operators.SimilarityOps.dimVarianceAudit(s, d)),
    // q83: Mann-Kendall monotone-trend test on daily series — BIGINT S
    // + tie-corrected variance, continuity-corrected z — oracled
    "q83_mann_kendall" -> ((s, d) => Relational.mannKendallTrend(s, d)),
    // t53: contamination overlap curve at n = 5/8/13 — the n-sweep that
    // calibrates t13's single-n choice, integer bp — oracled
    "t53_contamination_curve" -> ((s, d) =>
      TextOps.contaminationCurve(s, d)),
    // emb23: k-NN label purity on a probe sample — exact brute cosine,
    // emb01 tie-break, per-label purity in bp — oracled
    "emb23_knn_purity" -> ((s, d) =>
      operators.SimilarityOps.knnLabelPurity(s, d)),
    // q84: Gumbel block-maxima fit + 100-day return level — exact
    // integer moments, embedded constants — oracled
    "q84_gumbel_return" -> ((s, d) => Relational.gumbelReturnLevel(s, d)),
    // c97: Goh-Barabasi arrival burstiness per event type — exact gap
    // moments, B = (sd-mean)/(sd+mean) — oracled
    "c97_burstiness" -> ((s, d) =>
      operators.PacingOps.arrivalBurstiness(s, d)),
    // g19: co-citation host similarity — shared-destination self-join,
    // integer Jaccard over out-neighbor sets — oracled
    "g19_cocitation" -> ((s, d) =>
      operators.GraphOps.cocitationSimilarity(s, d)),
    // q85: Wald-Wolfowitz runs test — exact lower-median split, BIGINT
    // run count, z-banded clustering verdict — oracled
    "q85_runs_test" -> ((s, d) => Relational.runsTest(s, d)),
    // t54: Hill tail-index of doc lengths per lang — quantized log
    // excesses over adaptive top-k, one rounded division — oracled
    "t54_tail_index" -> ((s, d) => TextOps.tailIndex(s, d)),
    // emb24: margin-violation rate + mean margin — best-same vs
    // best-diff cosine per probe, quantized margins — oracled
    "emb24_margin_violations" -> ((s, d) =>
      operators.SimilarityOps.marginViolations(s, d)),
    // q86: ISO-weekday seasonality strength (correlation ratio) +
    // peak-day lift, quantized between-group terms — oracled
    "q86_seasonality" -> ((s, d) => Relational.weekdaySeasonality(s, d)),
    // t55: dup × quality cross-tab with Haldane odds ratio — pipeline-
    // ordering evidence, BIGINT cells — oracled
    "t55_dup_quality" -> ((s, d) =>
      operators.DedupResolve.dupQualityCrosstab(s, d)),
    // emb25: anisotropy audit — off-diagonal covariance energy share in
    // bp over quantized cross-moments — oracled
    "emb25_anisotropy" -> ((s, d) =>
      operators.SimilarityOps.anisotropyAudit(s, d)),
    // q87: ACF at lags 1 and 7 — denominator-cleared integer centering,
    // exact num/den, one rounded division — oracled
    "q87_autocorrelation" -> ((s, d) => Relational.autocorrelation(s, d)),
    // c98: Lindley token-bucket backlog under a byte cap — prefix-scan
    // closed form, BIGINT, drains/diverges verdicts — oracled
    "c98_backlog_lindley" -> ((s, d) =>
      operators.BandwidthOps.backlogLindley(s, d)),
    // emb26: hubness audit — k-occurrence distribution of exact top-5
    // lists, hub id, top-10 occupancy bp, exact Σocc² — oracled
    "emb26_hubness" -> ((s, d) =>
      operators.SimilarityOps.hubnessAudit(s, d)),
    // g20: modularity of the g11 LPA partition — cleared-denominator
    // BIGINT contributions, one rounded division — oracled
    "g20_modularity" -> ((s, d) => operators.GraphOps.modularity(s, d)),
    // t56: per-doc token entropy screen — quantized c·log2 c terms,
    // integer-compared low-entropy flag — oracled
    "t56_token_entropy" -> ((s, d) => TextOps.tokenEntropy(s, d)),
    // c99: bloom FPR capacity plan — standard-model curve over
    // the seen-set forecast, ppm-rounded breach flag — oracled
    "c99_bloom_capacity" -> ((s, d) =>
      operators.HealthOps.bloomCapacityPlan(s, d)),
    // q89: Fisher dispersion-index Poissonness test — one exact
    // rational statistic, verdict on rounded values — oracled
    "q89_dispersion" -> ((s, d) => Relational.dispersionTest(s, d)),
    // t57: shingle-WIDTH dedup calibration sweep (the axis t41's
    // threshold sweep doesn't cover) vs planted truth — oracled
    "t57_shingle_sweep" -> ((s, d) => TextOps.shingleSizeSweep(s, d)),
    // c100: canonicalization rule attribution — per-rule fire counts
    // over the raw frontier; sound+complete vs canon_url (spec-gated;
    // the kernel is not SQL-expressible)
    "c100_canon_attribution" -> ((s, _) =>
      operators.CanonicalOps.ruleAttribution(s)),
    // t58: dedup idempotence — t05's pair kernel on t08's kept corpus;
    // the residual is the df-cap blind-spot measure — oracled
    "t58_dedup_idempotence" -> ((s, d) => TextOps.dedupIdempotence(s, d)),
    // c101: STREAMING Lindley backlog — c98's recursion as keyed state
    // over demand micro-batches; StreamingSpec pins == batch closed form
    "c101_stream_backlog" -> ((s, d) =>
      graft.streaming.StreamingJobs.backlogDemo(s, d)),
    // t59: tokenizer fertility per language — codegen'd bpe_token_count
    // vs whitespace words, RE2-mirrorable regex kernel — oracled
    "t59_tokenizer_fertility" -> ((s, d) =>
      TextOps.tokenizerFertility(s, d)),
    // q90: Jarque-Bera log-normality of doc lengths — quantized logs,
    // BIGINT power sums, rounded-JB verdict — oracled
    "q90_jarque_bera" -> ((s, d) => Relational.jarqueBeraLengths(s, d)),
    // g21: PageRank stability under deterministic edge dropout —
    // Spearman rho + top-5 overlap between full and thinned ranks — oracled
    "g21_rank_stability" -> ((s, d) =>
      operators.GraphOps.rankStability(s, d)),
    // q91: Ljung-Box portmanteau lags 1-6 — q87's integer machinery,
    // fixed six-term association, chi-square-banded verdict — oracled
    "q91_ljung_box" -> ((s, d) => Relational.ljungBox(s, d)),
    // t52: diversity-saturation curve — per-shard new-type yield from a
    // single min-agg first-occurrence pass, BIGINT bp — oracled
    "t52_diversity_curve" -> ((s, d) => TextOps.diversityCurve(s, d)),
    // c96: Cho-Garcia-Molina change-rate estimator + revisit policy —
    // pooled per-host k/n with capped corner, banded — oracled
    "c96_change_rate" -> ((s, d) =>
      operators.RecrawlOps.changeRatePolicy(s, d)),
    "q22_levenshtein" -> ((s, d) => Relational.levenshteinDocs(s, d)),
    "q23_percentile" -> ((s, d) => Relational.percentiles(s, d)),
    "q24_window_misc" -> ((s, d) => Relational.windowMisc(s, d)),
    "q25_dates" -> ((s, d) => Relational.dateFunctions(s, d)),
    "q26_strings" -> ((s, d) => Relational.stringFunctions(s, d)),
    "q27_approx_distinct" -> ((s, d) => Relational.approxDistinct(s, d)),
    "q28_from_json" -> ((s, d) => Relational.jsonStruct(s, d)),
    "q29_range_frame" -> ((s, d) => Relational.windowRangeFrame(s, d)),
    "q30_scalar_subquery" -> ((s, d) => Relational.scalarSubquery(s, d)),
    "q40_exists_subquery" -> ((s, d) => Relational.existsSubquery(s, d)),
    // q41: MapType breadth — map built/read on the Spark side; the oracle
    // checks the same scalars relationally (maps never cross the gate)
    "q41_map_functions" -> ((s, d) => Relational.mapFunctions(s, d)),
    // q42: correlated scalar subquery in SELECT — the subquery family's
    // last member (q30 uncorrelated scalar, q40 correlated EXISTS)
    "q42_correlated_scalar" -> ((s, d) => Relational.correlatedScalarSubquery(s, d)),
    // q43: EXCEPT ALL / INTERSECT ALL — bag-semantics set ops
    "q43_setops_all" -> ((s, d) => Relational.setOpsAll(s, d)),
    // q44: bitwise aggregates — flag-mask folds
    "q44_bitwise_agg" -> ((s, d) => Relational.bitwiseAgg(s, d)),
    // q45: LATERAL correlated subquery — top-k per outer row, the join
    // form the window idiom (q05) can't express declaratively
    "q45_lateral_join" -> ((s, d) => Relational.lateralJoin(s, d)),
    // q46: IGNORE NULLS windows — carry-forward + nearest non-null
    // neighbors (gap-filling over sparse measurements)
    "q46_ignore_nulls" -> ((s, d) => Relational.ignoreNullsWindow(s, d)),
    // q47: null-aware anti join — NOT IN's ANSI tri-state semantics
    // (one planted NULL empties the branch; plain anti join would not)
    "q47_not_in_null" -> ((s, d) => Relational.notInNullAware(s, d)),
    // t22: the corpus BUILD end to end in one plan — dedup keep-list +
    // quality + repetition gates, then sequence packing of survivors
    "t22_corpus_build" -> ((s, d) => TextOps.corpusBuild(s, d)),
    // q48: RECURSIVE CTE multi-hop reachability (UnionLoop) — BFS min-hop
    // crawl depth from a seed host as ONE declarative plan
    "q48_recursive_cte" -> ((s, d) => Relational.recursiveReachability(s, d)),
    // q49: version-chain retention thinning (the c48 kernel over orders —
    // window/first/boundary/stride survivors) in the HARD oracle gate
    "q49_retention_thinning" -> ((s, d) => operators.RetentionOps.ordersRetention(s, d)),
    // q50: generic AS-OF join (tag-union + running last-ignoreNulls window,
    // one exchange, no range explosion) vs DuckDB's NATIVE ASOF JOIN
    "q50_asof_join" -> ((s, d) => Relational.asofAttribution(s, d)),
    // q51: statistical / regression aggregates (corr, covar, regr_* fit)
    // in one fused hash-agg pass
    "q51_stats_agg" -> ((s, d) => Relational.statsAgg(s, d)),
    // q52: fixed-width histogram via width_bucket; DuckDB oracle spells
    // out the identical double arithmetic
    "q52_histogram" -> ((s, d) => Relational.histogramBuckets(s, d)),
    // q53: mirror-host detection — content-hash overlap >=90% of the
    // smaller host's distinct pages (hosts + 16-byte hashes on exchanges)
    "q53_mirror_hosts" -> ((s, d) => Relational.mirrorHosts(s, d)),
    // t26: asymmetric CONTAINMENT near-dup (quote/excerpt pairs Jaccard
    // can't see) — same inverted-index discipline as t05
    "t26_containment" -> ((s, d) => TextOps.containmentNearDup(s, d)),
    // q54: Spark-4 VARIANT semi-structured path (parse_json once ->
    // typed variant_get) vs q10's per-access string parsing
    "q54_variant" -> ((s, d) => Relational.variantExtract(s, d)),
    // q55: registrable-domain (eTLD+1) rollup — pure-Column longest
    // public-suffix match (UrlKit snapshot), oracle re-derives it in
    // DuckDB CASE/list SQL independently
    "q55_domain_rollup" -> ((s, d) => operators.DomainOps.domainRollup(s, d)),
    // t23: TF-IDF top terms per doc — integer fixed-point idf so the
    // score/rank table is engine-exact (t21 discipline)
    "t23_tfidf_topterms" -> ((s, d) => TextOps.tfidfTopTerms(s, d)),
    "q31_grouping_sets" -> ((s, d) => Relational.groupingSets(s, d)),
    "q32_window_dist" -> ((s, d) => Relational.windowDistribution(s, d)),
    "q33_conditional_agg" -> ((s, d) => Relational.conditionalAgg(s, d)),
    "q34_string_agg" -> ((s, d) => Relational.stringAggNations(s, d)),
    "q35_unpivot" -> ((s, d) => Relational.unpivotMeasures(s, d)),
    "q36_session_window" -> ((s, d) => Relational.sessionWindows(s, d)),
    "q37_full_outer" -> ((s, d) => Relational.reconcileEpochs(s, d)),
    "q38_pivot" -> ((s, d) => Relational.pivotStatusRevenue(s, d)),
    // q39: stream-STREAM interval join (click->purchase attribution within
    // 30 min, both sides watermarked streams) — final table == the batch
    // interval join, which is what the oracle checks
    "q39_stream_join" -> ((s, d) => graft.streaming.StreamingJobs.streamStreamAttribution(s, d)),
    "g01_host_pagerank" -> ((s, d) => operators.GraphOps.hostPageRank(s, d)),
    // g04: HITS hubs & authorities over the same host citation graph —
    // the two-sided complement of g01 (hubs rank DISCOVERY value,
    // authorities rank fetch/quality value)
    "g04_host_hits" -> ((s, d) => operators.GraphOps.hostHits(s, d)),
    // g05: weakly-connected host components (mirror-domain clustering,
    // shared politeness identity) via the DedupResolve contraction
    "g05_host_components" -> ((s, d) => operators.GraphOps.hostComponents(s, d)),
    // g06: TrustRank — teleport restricted to trusted seed hosts; link
    // farms unreachable from the trust set converge to rank 0
    "g06_host_trustrank" -> ((s, d) => operators.GraphOps.hostTrustRank(s, d)),
    // g07: aggregated anchor text per cited target — top-2 anchors with
    // a total tie-break (counts reduce map-side before the rank)
    "g07_anchor_text" -> ((s, d) => operators.GraphOps.anchorText(s, d)),
    // g09: per-host triangle counts — degree-ordered wedge enumeration
    // (skew-proof apex fan-out); oracle mirrors with the naive triple join
    "g09_triangles" -> ((s, d) => operators.GraphOps.hostTriangles(s, d)),
    // g10: k-core decomposition by iterative peeling (id-only rounds);
    // KCoreSpec pins the sequential-peeling mirror + planted closed forms
    "g10_kcore" -> ((s, d) => operators.GraphOps.hostCoreNumbers(s, d)),
    // g11: label-propagation communities — synchronous rounds, fixed
    // count, (votes desc, label asc) ties; oracle unrolls the rounds
    "g11_communities" -> ((s, d) => operators.GraphOps.hostCommunities(s, d)),
    // g12: multi-source BFS hop distance from the seed hosts — frontier
    // rounds (settled anti-join), integer min-merge; oracle unrolls
    "g12_hop_distance" -> ((s, d) => operators.GraphOps.hostHopDistance(s, d)),
    // g13: sampled harmonic centrality — g12's BFS keyed by pivot, 1e6
    // fixed-point 1/d terms (q74 discipline), integer sums — oracled
    "g13_harmonic_centrality" -> ((s, d) =>
      operators.GraphOps.harmonicCentrality(s, d)),
    // g14: degree assortativity (Newman) — Pearson over edge-end degrees
    // from exact BIGINT moments — oracled
    "g14_assortativity" -> ((s, d) => operators.GraphOps.assortativity(s, d)),
    // g15: directed-edge reciprocity — semi-join on the swapped key,
    // integer bp — oracled
    "g15_reciprocity" -> ((s, d) => operators.GraphOps.reciprocity(s, d)),
    // t48: dup-cluster size histogram over t07's label table — the
    // dedup ROI distribution (removable docs per size) — oracled
    "t48_cluster_sizes" -> ((s, d) =>
      operators.DedupResolve.clusterSizeHistogram(s, d)),
    // t49: cluster-aware train/val/test split — clusters, not docs, are
    // the assignment unit; zero cross-split dup pairs hashed — oracled
    "t49_cluster_split" -> ((s, d) =>
      operators.DedupResolve.clusterAwareSplit(s, d)),
    // t50: mixture-weight solver — per-lang rates from target shares vs
    // available supply, unmet mass surfaced, BIGINT bp — oracled
    "t50_mixture_solver" -> ((s, d) => TextOps.mixtureSolver(s, d)),
    // t51: dedup survivorship-bias audit — per-lang share shift and
    // quantized KL(after||before) terms, BIGINT throughout — oracled
    "t51_dedup_shift" -> ((s, d) =>
      operators.DedupResolve.distributionShift(s, d)),
    // c94: throughput-ceiling classification — politeness vs budget vs
    // demand-met per host, deterministic precedence — oracled
    "c94_throughput_ceiling" -> ((s, d) =>
      operators.HealthOps.throughputCeiling(s, d)),
    // c93: per-host byte-demand forecast — exact integer OLS (q68
    // machinery) over synthesized fetch history — oracled
    "c93_byte_forecast" -> ((s, d) =>
      operators.RecrawlOps.byteDemandForecast(s, d)),
    // c34: authority-weighted host budget allocation — largest-remainder
    // apportionment of the global fetch budget over PageRank (integer-exact)
    "c34_budget_allocation" -> ((s, d) => operators.GraphOps.budgetAllocation(s, d)),
    // g03: warm-start rank refresh on the grown host graph (base ranks
    // recomputed in-call for the demo; the pipeline reads host_ranks)
    "g03_incremental_pagerank" -> ((s, d) =>
      operators.GraphOps.incrementalHostRank(s, d)),
    // g02: rank-ordered crawling — the operator chain that turns one
    // committed schedule into a PageRank-boosted next frontier: cross-host
    // outlinks -> implied host edges (recovered by formula, never
    // persisted) -> host PageRank -> each outlink's priority gains its
    // DESTINATION host's authority. The multi-epoch pipeline form
    // (rankOrdered = true, authority recomputed each epoch from all
    // committed schedules) is schedule-exact vs a single-threaded mirror
    // in RankOrderedCrawlSpec; this entry keeps the bench cost to one
    // schedule + one PageRank.
    "g02_rank_ordered_crawl" -> ((s, _) => {
      import s.implicits._
      // localCheckpoint: the schedule feeds two consumers (outlinks +
      // edge recovery) — materialize it once instead of re-running the
      // frontier per consumer. Coalesced first: the committed schedule is
      // budget-bounded (tiny next to the frontier that produced it), so
      // downstream graph work shouldn't inherit frontier parallelism.
      val sched = crawlSchedule(s, 4000).as[graft.model.Scheduled]
        .coalesce(8).localCheckpoint()
      val outs = CrawlPipeline.outlinks(sched, fanout = 2, crossHost = true)
      val edges = CrawlPipeline.hostEdgesFromScheduled(sched, fanout = 2)
      val ranks = operators.GraphOps.pageRank(s, edges, iters = 5, damping = 0.85)
      CrawlPipeline.rankBoosted(outs, ranks).toDF()
        .groupBy(graft.functions.GraftFunctions.hostOf(col("url")).as("host"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_outlinks"),
          round(org.apache.spark.sql.functions.sum(col("priority")), 6)
            .as("priority_mass"))
        .orderBy("host")
    }),
    "t01_text_quality" -> ((s, d) => TextOps.qualityStats(s, d)),
    // ---- training-data ops, non-SQL parts (rows-only + scalatest) -----
    "t02_text_profile" -> ((s, d) => TextOps.textProfile(s, d)),
    "t03_neardup_minhash" -> ((s, d) => TextOps.nearDupMinhash(s, d)),
    "t05_neardup_ngram" -> ((s, d) => TextOps.nearDupNgramJaccard(s, d)),
    "t06_repeated_spans" -> ((s, d) => TextOps.repeatedSpans(s, d)),
    "t07_dedup_resolve" -> ((s, d) => operators.DedupResolve.resolveNgramDups(s, d)),
    // g08: t07's resolution through the PERSISTED incremental label
    // store (two epoch merges) — shares t07's reachability oracle, so
    // the gate proves store == from-scratch
    "g08_incremental_cc" -> ((s, d) => operators.DedupResolve.resolveNgramDupsIncremental(s, d)),
    "t08_dedup_corpus" -> ((s, d) => operators.DedupResolve.dedupedCorpus(s, d)),
    // t36: SOFT dedup — survivors carry cluster multiplicity as a
    // training weight (count-aware alternative to hard dropping)
    "t36_dedup_weights" -> ((s, d) => operators.DedupResolve.weightedCorpus(s, d)),
    // t27: POLICY-parameterized survivor — keep-LONGEST (Lee et al.
    // ACL'22) instead of t08's min-id; argmax(score) per component via
    // one window over the label table, min-id tie-break
    "t27_survivor_policy" -> ((s, d) => operators.DedupResolve.longestSurvivorCorpus(s, d)),
    // t28: n-gram novelty scoring — per-doc fraction of corpus-unique
    // shingles, integer basis points (the "adds unseen content" selection
    // signal beside t21's "looks like the target")
    "t28_novelty" -> ((s, d) => TextOps.noveltyReport(s, d)),
    // t29: EXACT duplicated length-64 windows via prefix-doubling suffix
    // ranks (hash-composed ids, content-verified) — oracle brute-forces
    // every window with generate_series+substr
    "t29_exact_dupwindows" -> ((s, d) => operators.SuffixOps.dupWindowReport(s, d)),
    // t30: the exact-clip corpus action (non-survivor duplicated runs
    // removed); clipped text golden-gated vs the mirror in SuffixSpec
    "t30_exact_clip" -> ((s, d) => operators.SuffixOps.exactClipReport(s, d)),
    // t31: EXACT-substring benchmark decontamination (char-window form of
    // t13) — corpus keys semi-join the benchmark's, content join broadcast
    "t31_exact_decontaminate" -> ((s, d) =>
      operators.SuffixOps.exactContaminationReport(s, d)),
    // t32: C4-style line/document cleaning (Raffel et al. JMLR'20 §2.2) —
    // terminal-punct / >=5-word / no-"javascript" line rule + the
    // lorem-ipsum / curly-brace / <3-lines document drops, all one
    // codegen projection (zero exchanges); corpus planted line-by-line
    // from the docs' own words so DuckDB reconstructs it exactly
    "t32_c4_filter" -> ((s, d) => TextOps.c4Report(s, d)),
    // t33: aspect-ratio bucket packing (SDXL-style fixed-shape batches
    // over a variable-aspect image catalog) — integer argmin bucket
    // assignment + one windowed pack per bucket, ragged tail marked
    "t33_aspect_buckets" -> ((s, d) => ImageOps.aspectBucketReport(s, d)),
    // t34: BM25 top-k retrieval — Robertson-ratio idf + length-normalized
    // tf in t23's integer fixed point (hash-exact cross-engine); queries
    // derived in-plan from df ranks
    "t34_bm25_topk" -> ((s, d) => TextOps.bm25TopK(s, d)),
    // t37: Gopher document-quality rules (Rae et al. 2021 §A1.1) — five
    // per-row token rules + verdict, zero exchanges, fully SQL-expressible
    "t37_gopher_filter" -> ((s, d) => TextOps.gopherReport(s, d)),
    // t38: lexical diversity (TTR + hapax fraction) from one exploded
    // (doc, token) histogram that map-side-combines before its exchange
    "t38_lexical_diversity" -> ((s, d) => TextOps.lexicalDiversity(s, d)),
    // t39: Zipf slope per source — log-log frequency/rank regression from
    // fixed-point quantized moments (corpus distribution-health QA)
    "t39_zipf_slope" -> ((s, d) => TextOps.zipfSlope(s, d)),
    // t40: token-yield accounting — docs/tokens before+after dedup per
    // source (the dataset-card number; composes t08's keep-list with
    // t01's tokenization in one plan)
    "t40_token_yield" -> ((s, d) => TextOps.tokenYield(s, d)),
    // t41: dedup threshold operating-point audit — exact P/R per
    // candidate Jaccard gate vs the planted truth; one score-table pass
    "t41_operating_points" -> ((s, d) => TextOps.dedupOperatingPoints(s, d)),
    // t42: bigram-LM perplexity (order-aware upgrade of t14) — quantized
    // log2 fixed-point sums make it integer-exact, hence oracled
    "t42_bigram_perplexity" -> ((s, d) => TextOps.bigramPerplexity(s, d)),
    // t43: MinHash estimator calibration — k=16 estimate vs exact Jaccard
    // per audited pair, all integer bp (the audit behind t03's banding)
    "t43_minhash_calibration" -> ((s, d) => TextOps.minhashCalibration(s, d)),
    // t44: weighted corpus sampling — priority sampling (u/w, keep k
    // smallest per stratum) with deterministic md5 uniforms; emits the
    // reweighting threshold tau — oracled
    "t44_priority_sample" -> ((s, d) => TextOps.prioritySample(s, d)),
    // t45: per-source KL divergence from the corpus unigram distribution
    // — separable integer-log decomposition, BIGINT sums — oracled
    "t45_source_kl" -> ((s, d) => TextOps.sourceKlDivergence(s, d)),
    // t46: context-length operating curve — fit rate + truncation loss
    // per candidate max-seq-len, all BIGINT — oracled
    "t46_context_curve" -> ((s, d) => TextOps.contextLengthCurve(s, d)),
    // t47: cross-epoch vocabulary churn per lang — new types + OOV token
    // mass in bp, one scan, one conditional agg — oracled
    "t47_vocab_churn" -> ((s, d) => TextOps.vocabChurn(s, d)),
    "t09_corpus_curation" -> ((s, d) => TextOps.curatedCorpus(s, d)),
    "t10_span_clip" -> ((s, d) => TextOps.spanClippedCorpus(s, d)),
    "t11_multimodal_dedup" -> ((s, d) =>
      operators.MultimodalDedup.multimodalResolve(s, d)),
    "t12_stratified_sample" -> ((s, d) => TextOps.stratifiedSample(s, d)),
    "t13_decontaminate" -> ((s, d) => TextOps.contaminationReport(s, d)),
    // t14: unigram-LM perplexity filter (CCNet-style) — vocab broadcasts,
    // token stream never shuffles, planted gibberish must be flagged
    "t14_lm_filter" -> ((s, d) => TextOps.lmQualityReport(s, d)),
    // t15: temperature-scaled domain mixture (tau = 1/2) — deterministic
    // md5-threshold acceptance; rates broadcast, corpus never shuffles
    "t15_mixture_sample" -> ((s, d) => TextOps.mixtureReport(s, d)),
    // t16: content-hash train/eval split + near-dup leakage audit (the
    // in-corpus counterpart of t13's benchmark decontamination)
    "t16_split_leakage" -> ((s, d) => TextOps.splitLeakageReport(s, d)),
    // t17: deterministic sequence packing — md5 shuffle + per-shard
    // prefix sum + integer chunking (GPT-style doc concatenation)
    "t17_sequence_pack" -> ((s, d) => TextOps.sequencePack(s, d)),
    // t18: Gopher-style repetition filter — dup-token + top-n-gram
    // fractions, computed exchange-free (grams never leave the doc's row)
    "t18_repetition_filter" -> ((s, d) => TextOps.repetitionReport(s, d)),
    // t19: PII scrub — email/IPv4 redaction counts + scrubbed text,
    // a pure codegen'd per-row map (C4/CCNet/ROOTS-style release pass)
    "t19_pii_scrub" -> ((s, d) => TextOps.piiScrub(s, d)),
    // t20: BPE tokenizer-training kernel — corpus-wide adjacent-pair
    // counts (the per-round argmax input; multi-round trainer in BpeSpec)
    "t20_bpe_pairs" -> ((s, d) => TextOps.bpePairCounts(s, d)),
    // t24: BPE tokenizer APPLICATION — learned merges folded in rank
    // order, zero-exchange encode; parts-sum conservation pinned in spec
    "t24_bpe_encode" -> ((s, d) => TextOps.bpeEncodedCorpus(s, d)),
    // t25: paragraph-level exact dedup (CCNet §3.1) — keep the first
    // corpus-wide occurrence of every paragraph; strips the planted
    // cookie/newsletter boilerplate doc-level dedup can never see
    "t25_paragraph_dedup" -> ((s, d) => TextOps.paragraphDedup(s, d)),
    // t21: DSIR importance weights — hashed-unigram importance ratios in
    // integer fixed-point (engine-exact, no rounding), top-quartile select
    "t21_dsir_select" -> ((s, d) => TextOps.dsirWeights(s, d)),
    "c27_crawl_traps" -> ((s, d) => operators.TrapOps.trapHostReport(s, d)),
    // c28: DUST url-alias rule mining — learns which query params are
    // content-irrelevant per host from fetched (url, content-hash) pairs
    "c28_dust_rules" -> ((s, d) => operators.DustOps.dustReport(s, d)),
    // c29: sitemap.xml ingestion via native from_xml — the sitemaps.org
    // discovery channel, parsed typed and unioned into the seed path
    // (no DuckDB XML functions -> rows-only gate + SitemapSpec goldens)
    "c29_sitemap_ingest" -> ((s, _) => operators.SitemapOps.sitemapEntries(s)),
    // c30: adaptive politeness — per-host crawl delay learned from
    // observed p95 fetch latency (robots stays the floor)
    "c30_adaptive_pacing" -> ((s, d) => operators.PacingOps.pacingReport(s, d)),
    // c31: streaming DUST — three adversarially-sliced micro-batches
    // through the persisted delta-join store; final rules == c28's batch
    // miner, checked by the SAME oracle SQL
    "c31_stream_dust" -> ((s, d) => graft.streaming.StreamingJobs.dustMineDemo(s, d)),
    // c32: streaming pacing — mergeable latency histograms through the
    // persisted store; final delays == c30's batch report + oracle
    "c32_stream_pacing" -> ((s, d) => graft.streaming.StreamingJobs.pacingMineDemo(s, d)),
    // c33: robots-cache TTL — stale hosts' pages held back, one
    // top-priority robots fetch scheduled instead (rows-only gate)
    "c33_robots_ttl" -> ((s, _) => operators.RobotsTtlOps.ttlReport(s)),
    // c45: change-rate-adaptive recrawl scheduling (Cho & Garcia-Molina)
    // — revisit interval inverse in observed change count, engine-exact
    // integer estimator (monotone stand-in for the TOIT'03 MLE)
    "c45_recrawl_schedule" -> ((s, d) => operators.RecrawlOps.recrawlSchedule(s, d)),
    // c90: CUSUM changepoint on per-host change rates — flags the
    // NON-stationary host c45's stationary estimate dilutes; exact
    // closed form cum - min(0, running_min(cum)) over integers — oracled
    "c90_rate_changepoint" -> ((s, d) =>
      operators.RecrawlOps.changepointReport(s, d)),
    // c92: per-host freshness-SLA rollup — pages overdue vs their own
    // c45 adaptive interval, in basis points — oracled
    "c92_freshness_sla" -> ((s, d) => operators.RecrawlOps.freshnessSla(s, d)),
    // c35: rendezvous-hash crawler shard assignment — minimal-movement
    // host ownership across fleet resizes (argmin folds in-row, no
    // per-(host,shard) exchange)
    "c35_shard_assign" -> ((s, d) => operators.ShardOps.shardReport(s, d)),
    // c36: image+caption pair curation — LAION-style resolution/aspect/
    // caption/alignment/contrast gates over the input_hint table (bytes
    // decoded once, never shuffled; rows-only gate + ImageCurationSpec)
    "c36_image_curation" -> ((s, _) => operators.ImageOps.curateImages(s)),
    // c37: content-defined-chunking storage dedup — per-epoch new-bytes
    // accounting over the page archive (gear rolling hash; rows-only
    // gate + CdcSpec goldens incl. the insertion-resync property)
    "c37_cdc_dedup" -> ((s, _) => operators.CdcOps.dedupReport(s)),
    // c38: audio copy detection — Shazam-style constellation hashes with
    // an offset vote (trim+gain robust; rows-only gate + AudioCopySpec)
    "c38_audio_copydetect" -> ((s, _) => operators.MediaOps.audioCopyDetect(s)),
    // c39: sitemap discovery FROM robots.txt (the sitemaps.org discovery
    // mechanism; only advertised sitemaps are fetched — rows-only gate)
    "c39_sitemap_discovery" -> ((s, _) => operators.SitemapOps.discoveredEntries(s)),
    // c40: stream-static enrichment — per-micro-batch broadcast dimension
    // join (no state store); StreamingSpec pins stream == batch mirror
    "c40_stream_enrich" -> ((s, _) => graft.streaming.StreamingJobs.enrichDemo(s)),
    // c41: FULL-language robots matching (RFC 9309 wildcards/anchors) —
    // both engines' verdicts side by side; spec pins kernel==column==REP
    "c41_robots_wildcard" -> ((s, _) => operators.RobotsWildcardOps.wildcardVerdicts(s)),
    // c42: redirect-chain resolution — bounded-hop alias walk with loop
    // verdict; Spark iterates joins, DuckDB oracles via recursive CTE
    "c42_redirect_resolve" -> ((s, d) => operators.RedirectOps.resolveRedirects(s, d)),
    // c73: rel=canonical consolidation — page-level alias channel folded
    // with c42's HTTP channel (redirect wins: a redirecting URL never
    // shows its tag); one combined walk + consolidated group sizes
    "c73_canonical_aliases" -> ((s, d) => operators.CanonicalOps.consolidate(s, d)),
    // c43: video scene-change detection — consecutive-frame phash deltas
    // over tau mark shot cuts; MediaOpsSpec pins cuts == planted bounds
    "c43_scene_changes" -> ((s, _) => operators.MediaOps.sceneChangeDemo(s)),
    // c44: frontier priority AGING — budget losers re-enter boosted, so
    // no URL starves; AgingSpec pins the starvation contrast vs control
    "c44_priority_aging" -> ((s, _) => operators.CrawlPipeline.agingDemo(s)),
    // c46: crop-resistant image copy detection via TILED phashes — a
    // crop matches its source REGION's tile where whole-hash dedup is
    // blind; CropMatchSpec pins mirror equality + the blindness contrast
    "c46_crop_copydetect" -> ((s, _) => operators.ImageOps.cropDetectDemo(s)),
    // c47: caption-divergence mining — phash clusters whose members carry
    // DIFFERENT normalized captions (silent caption edits / syndicated
    // copies with divergent words); CaptionDivergenceSpec pins mirror
    // equality + the normalization contract
    "c47_caption_divergence" -> ((s, _) => operators.ImageOps.captionDivergenceDemo(s)),
    // c48: version-chain retention thinning — bounded history per page
    // (window/first/boundary/stride survivors); RetentionSpec pins mirror
    // equality + first/latest/window invariants; q49 is the oracled twin
    "c48_version_retention" -> ((s, _) => operators.RetentionOps.retentionDemo(s)),
    // c49: word-level caption diff SCRIPTS (news-diff's user-facing diff
    // rendering as an operator); CaptionDiffSpec pins reconstruction +
    // LCS minimality (vs an independent DP) + mirror equality
    "c49_caption_diff" -> ((s, _) => operators.DiffJob.captionDiffDemo(s)),
    // c50: failure-aware AIMD host backoff (integer basis points; wired
    // into CrawlPipeline as `backoff`); BackoffSpec pins the hand-computed
    // chain, mirror state, control-contrast shrink, recovery, resume
    "c50_host_backoff" -> ((s, _) => operators.BackoffOps.backoffDemo(s)),
    // c51: HTTP revalidation for recrawls (conditional GET / 304) — due
    // pages with an unchanged validator skip the fetch wave entirely;
    // wired into CrawlPipeline as `revalidate`; RevalidationSpec pins
    // zero-unchanged-fetches + no-lost-revisions vs the control run
    "c51_revalidation" -> ((s, _) => operators.RevalidationOps.revalidationDemo(s)),
    // c52: flip-invariant image near-dup — canonical phash
    // min(phash, phash of mirror) catches mirrored reposts whole-hash
    // dedup (c17) is blind to; same block-index scale shape as c17
    "c52_flip_dedup" -> ((s, _) => operators.ImageOps.flipDetectDemo(s)),
    // c53: crawl-root vacuum (Iceberg remove-orphans/expire analog) —
    // deletes uncommitted epoch dirs, marker-less half-writes, manifest
    // temps; VacuumSpec pins exact-orphan removal + resume==control
    "c53_vacuum" -> ((s, _) => operators.RetentionOps.vacuumDemo(s)),
    // c54: bandwidth-aware host budgets — request budgets shrink to fit a
    // per-host byte allowance using mean page sizes learned from the
    // committed fetch history; wired as CrawlPipeline byteBudgetPerHost
    "c54_byte_budget" -> ((s, _) => operators.BandwidthOps.bandwidthDemo(s)),
    // c55: fetched-payload validation — magic-number sniff + container
    // trailer audit on the binary column, fused into the scan (no decode,
    // no payload shuffle); planted truncations/mislabels, mirror-golden
    "c55_fetch_validation" -> ((s, _) => operators.FetchAudit.validationReport(s)),
    // c57: no-reference blur audit — integer variance-of-Laplacian per
    // image, one decode pass emitting (id, long); planted blurred twins
    // must fail the gate (BlurSpec mirror-exact)
    "c57_blur_audit" -> ((s, _) => ImageOps.blurAuditDemo(s)),
    // c63: header-dimension audit — width/height sniffed from the PNG
    // IHDR / JPEG SOFn header via the codegen HeaderDims64 expression,
    // compared to the catalog's declared dims; planted half-size and
    // truncated payloads must fail (HeaderDimsSpec: kernel == full
    // ImageIO decode dims, audit == mirror)
    "c63_dims_audit" -> ((s, _) => ImageOps.dimsAuditDemo(s)),
    // c64: EXIF-orientation-normalized copy detection — the orientation
    // tag (APP1/TIFF IFD walk, header bytes only) applied to the decoded
    // grid before hashing, so camera-rotated reposts of one photo pair up;
    // whole_hash_missed shows plain-phash blocking is blind to them
    // (ExifSpec: tag round-trip both endiannesses, transform laws,
    // matches == brute oriented-kernel mirror)
    "c64_exif_orientation" -> ((s, _) => ImageOps.orientationDemo(s)),
    // c68: rotation/flip copy detection with NO metadata (rotate-then-
    // strip reposts) — full dihedral orbit probed against stored hashes
    "c68_dihedral_copydetect" -> ((s, _) => ImageOps.dihedralDemo(s)),
    // c69: uniform-border (letterbox/pillarbox/padding) audit — the
    // crop-or-drop curation signal for padded images
    "c69_border_audit" -> ((s, _) => ImageOps.borderDemo(s)),
    // c70: per-IP politeness — the vhost-farm cap (budget keyed by
    // resolved address, not host)
    "c70_ip_politeness" -> ((s, _) => operators.IpOps.ipBudgetDemo(s)),
    // c71: low-contrast / flat-payload audit — the no-signal curation drop
    "c71_contrast_audit" -> ((s, _) => ImageOps.contrastDemo(s)),
    // c74: tone-curve-resistant copy detection — equalized-phash matcher
    // finds gamma/re-grade reposts the raw phash misses (contrast column)
    "c74_tone_copydetect" -> ((s, _) => ImageOps.toneDetectDemo(s)),
    // c75: WARC-shaped archival record format round-trip through the
    // custom DSv2 source (pruned metadata scan + full payload scan)
    "c75_archive_roundtrip" -> ((s, _) => sources.ArchiveSource.roundTripDemo(s)),
    // c76: image-caption alignment gate (LAION/DataComp CLIP-score
    // filter; deterministic two-tower stubs, per-row zero-exchange gate)
    "c76_alignment_gate" -> ((s, _) => AlignOps.alignmentDemo(s)),
    // c77: scale-variant dedup (radius-6 combination blocking) + best-copy
    // election — keep the highest-resolution lossless member per cluster
    "c77_best_copy" -> ((s, _) => ImageOps.bestCopyDemo(s)),
    // c78: incremental best-copy catalog — upgrade/evict/drop actions
    // through the persisted combination-block index
    "c78_catalog_upgrade" -> ((s, _) => ImageOps.bestCopyCatalogDemo(s)),
    // c80: the same catalog kept current ONLINE (foreachBatch mini-epochs)
    "c80_stream_catalog" ->
      ((s, _) => streaming.StreamingJobs.bestCopyCatalogDemo(s)),
    // c81: composed image corpus build — quality gates then best-copy
    // dedup over survivors, one declarative plan, per-row verdicts
    "c81_corpus_build" -> ((s, _) => ImageOps.corpusBuildDemo(s)),
    // c85: per-host crawl health ledger (fetch outcomes + revision rate)
    // over committed state; HostHealthSpec cross-checks schedule-vs-log
    "c85_host_health" -> ((s, _) => HealthOps.hostHealthDemo(s)),
    // c86: parked/soft-404 host detection — per-source dominant identical
    // payload share (md5 groups, integer bp); DuckDB-oracled
    "c86_parked_hosts" -> ((s, d) => HealthOps.parkedHosts(s, d)),
    // c87: crawl-budget fairness (Jain index over per-host docs/bytes,
    // exact BIGINT moments); DuckDB-oracled
    "c87_budget_fairness" -> ((s, d) => HealthOps.budgetFairness(s, d)),
    // c88: frontier priority calibration — exact Spearman between
    // per-host scheduled priority and realized revision yield over
    // committed state; HostHealthSpec pins the plain-Scala mirror
    "c88_priority_calibration" -> ((s, _) => HealthOps.calibrationDemo(s)),
    // c89: phash Hamming calibration per transform class — the evidence
    // behind the image-dedup radius (and c52's flip blindspot), mirror-
    // gated in ImageOpsSpec
    "c89_phash_calibration" -> ((s, _) => ImageOps.phashCalibrationDemo(s)),
    // c84: the c83 retry ledger as LIVE keyed streaming state
    // (mapGroupsWithState); StreamingSpec pins stream == batch ledger
    "c84_stream_retry" ->
      ((s, _) => streaming.StreamingJobs.retryLedgerDemo(s)),
    // c83: bounded failure-retry policy — transiently-failed URLs re-enter
    // the frontier around the seen dedupe with an attempt budget;
    // RetrySpec pins the due-set law and the retryMax bound
    "c83_failure_retry" -> ((s, _) => CrawlPipeline.retryDemo(s)),
    // c82: per-host politeness SLA audit over the flagship schedule —
    // gap/budget/slot compliance as an observable (PolitenessAuditSpec
    // asserts every verdict column is true on engine-produced schedules)
    "c82_politeness_audit" -> ((s, _) =>
      FrontierJob.politenessAudit(entry(s), Gen.robots(s).toDF(),
        crawlCfg(budget = math.max(200, 2000 / 3)))),
    // c66: JPEG encode-quality audit — IJG quality inverted from the
    // luminance DQT (header bytes only, codegen expression); planted
    // low-quality re-encodes must flag LOW, png rows report -1
    // (JpegQualitySpec: estimate within +-1 of the actual encode quality
    // across 20..95, monotone, audit == kernel mirror)
    "c66_jpeg_quality" -> ((s, _) => ImageOps.qualityAuditDemo(s)),
    // c67: payload admission gate wired into the crawl — per-epoch status
    // ledger of a validated 2-epoch run; damaged payloads (truncations +
    // CDN thumbnail substitutions) land as invalid_payload, never in the
    // parsed view (ValidationPipelineSpec: invalid set == damage-kernel
    // mirror, thumbnails provably need the c63 dims gate)
    "c67_payload_gate" -> ((s, _) => operators.CrawlPipeline.payloadGateDemo(s)),
    "t04_neardup_simhash" -> ((s, d) => TextOps.nearDupSimhash(s, d)),
    "emb01_cosine_topk" -> ((s, d) => SimilarityOps.bruteCosineTopK(s, d)),
    "emb02_ann_lsh" -> ((s, d) => SimilarityOps.annLshTopK(s, d)),
    "emb04_ann_ivf" -> ((s, d) => SimilarityOps.annIvfTopK(s, d)),
    "emb05_ann_pq" -> ((s, d) => SimilarityOps.annPqTopK(s, d)),
    "emb06_ann_ivfpq" -> ((s, d) => SimilarityOps.annIvfPqTopK(s, d)),
    // emb07: scalar-quantized int8 ANN — integer candidate dots are
    // engine-exact, so this is the first ANN in the HARD oracle gate
    "emb07_ann_sq8" -> ((s, d) => SimilarityOps.annSqTopK(s, d)),
    // emb08: persisted SQ8 code store — two epoch appends + a cumulative
    // probe; must return emb07's exact rows (same oracle)
    "emb08_ann_sq8_store" -> ((s, d) => SimilarityOps.annSqStoreDemo(s, d)),
    // emb11: predicate-FILTERED similarity search (hybrid vector +
    // metadata) — PRE-filter semantics: the predicate cuts the corpus
    // before ranking, so k true in-predicate neighbors always return
    "emb11_filtered_ann" -> ((s, d) => SimilarityOps.filteredCosineTopK(s, d)),
    // emb12: two-stage prefix-dimension retrieval — coarse rank on the
    // first 24 of 64 components (the only full-corpus pass; column-pruned
    // at scale), exact full-dim rerank over the overfetched candidates
    "emb12_prefix_rerank" -> ((s, d) => SimilarityOps.annPrefixRerankTopK(s, d)),
    // emb13: 1-bit sign-quantized Hamming ANN — 16-byte bitmaps, XOR +
    // popcount coarse scan, exact cosine rerank of the candidates
    "emb13_ann_binary" -> ((s, d) => SimilarityOps.annBinaryTopK(s, d)),
    // emb14: exact maximum-inner-product top-k (recommender/dual-encoder
    // scoring — raw dot, NOT cosine); the Bachrach norm-augmentation
    // reduction to cosine-ANN is spec-gated with a recall floor
    "emb14_mips_topk" -> ((s, d) => SimilarityOps.bruteMipsTopK(s, d)),
    // emb15: cosine range search — guaranteed-complete neighborhood at
    // cos >= tau; planted strong/weak twins prove the threshold separates
    "emb15_range_search" -> ((s, d) => SimilarityOps.rangeSearch(s, d)),
    // emb16: mutual k-NN edges over a deterministic eval sample — the
    // symmetric-neighborhood primitive for density-aware dedup seeding
    "emb16_mutual_knn" -> ((s, d) => SimilarityOps.mutualKnn(s, d)),
    // emb18: IVF operating-point sweep — recall@k vs probe count over ONE
    // trained index; the p=kLists row must hit 10000 bp (IvfSweepSpec)
    "emb18_ivf_sweep" -> ((s, d) => SimilarityOps.ivfOperatingPoints(s, d)),
    // emb19: multi-probe LSH operating-point sweep — recall + candidate
    // cost vs probe radius; radius=nBits row must be exact (LshSweepSpec)
    "emb19_lsh_sweep" -> ((s, d) => SimilarityOps.lshOperatingPoints(s, d)),
    // emb17: SQ8 quantization-error audit — per-label reconstruction
    // cosine distribution (index-quality gate before shipping emb08)
    "emb17_sq8_error" -> ((s, d) => SimilarityOps.sqErrorAudit(s, d)),
    // emb09: SemDeDup — k-means cluster-scoped semantic near-dup pairs
    // resolved to components; survivor = component-min (Abbas et al. '23)
    "emb09_semdedup" -> ((s, d) => SimilarityOps.semDedup(s, d)),
    // emb10: persisted PQ index — codebooks trained once + per-epoch code
    // tables; probe == one-shot emb05 (EntrySmokeSpec exact + stale floor)
    "emb10_ann_pq_store" -> ((s, d) => SimilarityOps.annPqStoreDemo(s, d)),
    "emb03_neardup_cosine" -> ((s, d) =>
      SimilarityOps.nearDupCosine(s, d).orderBy("vec_a", "vec_b")),
    // ---- crawl domain (synthetic inputs; scalatest-golden) ------------
    "c01_canonicalize" -> ((s, _) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      import s.implicits._
      Gen.seeds(s, 4000)
        .select(col("url"),
          graft.functions.GraftFunctions.canonUrl(col("url")).as("url_canon"))
        .withColumn("url_hash", org.apache.spark.sql.functions.xxhash64(col("url_canon")))
        .orderBy("url_hash", "url")
    }),
    "c02_frontier_dedupe" -> ((s, _) =>
      FrontierJob.canonicalizeFrontier(Gen.seeds(s, 4000))
        .groupBy("host")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_unique"))
        .orderBy("host")),
    "c03_schedule" -> ((s, _) => crawlSchedule(s, 4000)),
    "c04_revisions" -> ((s, _) =>
      DiffJob.revisions(diffHistory(s, 60), epoch = 2, tau = 10).toDF()
        .orderBy("image_id")),
    // c25: adaptive recrawl scheduling over the 3-epoch revision history —
    // the revisit policy between epochs (changed => due next epoch,
    // unchanged => linear backoff)
    "c25_recrawl_schedule" -> ((s, _) => {
      val hist = diffHistory(s, 60)
      val revs = (0 to 2).map(e => DiffJob.revisions(hist, e, tau = 10).toDF())
        .reduce(_ unionByName _)
      DiffJob.recrawlSchedule(revs, atEpoch = 3).orderBy("image_id")
    }),
    // c26: cumulative distinct URLs per host via mergeable per-epoch HLL
    // sketches — recrawled URLs recur across epochs so exact per-epoch
    // counts can't be summed; the sketch store answers without rescanning
    // history (merged == one-shot + error bound pinned in SketchOpsSpec)
    "c26_epoch_distinct" -> ((s, _) => SketchOps.epochDistinctDemo(s, 30000)),
    "c05_bloom" -> ((s, _) => {
      import s.implicits._
      val seen = FrontierJob.canonicalizeFrontier(Gen.seeds(s, 4000))
        .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
        .as[graft.model.SeenEntry]
      graft.sources.SeenStore.buildBlooms(seen, numBuckets = 16, expectedPerBucket = 2048)
        .select(col("host_bucket"),
          org.apache.spark.sql.functions.length(col("bloom")).as("bloom_bytes"))
        .orderBy("host_bucket")
    }),
    "c11_cuckoo" -> ((s, _) => {
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
    "c14_stream_dedupe" -> ((s, _) =>
      graft.streaming.StreamingJobs.dedupeDemo(s)),
    "c24_stream_sessions" -> ((s, d) =>
      graft.streaming.StreamingJobs.sessionizedEvents(s, d)
        .orderBy("user_id", "session_start")),
    "c18_stream_copydetect" -> ((s, d) =>
      graft.streaming.StreamingJobs.copyDetectDemo(s, d)),
    "c21_stream_image_copydetect" -> ((s, _) =>
      graft.streaming.StreamingJobs.imageCopyDetectDemo(s)),
    "c22_hot_hosts" -> ((s, _) => SketchOps.hotHosts(s, 20000)),
    // c23: the per-epoch exact dedupe against a BUCKETED cumulative seen
    // table — the anti-join's 10^10-row side is never exchanged
    // (PlanSpec-pinned); rows out = surviving frontier per host
    "c23_bucketed_seen" -> ((s, _) => {
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
    "c15_crossmodal_neardup" -> ((s, _) => {
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
    "c16_incremental_neardup" -> ((s, d) => {
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
    // c60: sitemap-lastmod-driven recrawl — the PUSH change signal (c45
    // learns rates, c51 revalidates; lastmod is told): per-host
    // new/stale/fresh verdicts, kernel-mirror golden in SitemapSpec
    "c60_lastmod_recrawl" -> ((s, _) => operators.SitemapOps.lastmodRecrawlDemo(s)),
    // c61: the per-domain budget cap in action (P6b wiring): before/after
    // counts per registrable domain; every domain lands at min(before, budget)
    "c61_domain_politeness" -> ((s, _) => operators.DomainOps.domainBudgetDemo(s)),
    // c59: robots-policy diff across cache generations + re-enqueue of
    // newly-allowed held-back URLs (both verdicts are P4's pure column;
    // RobotsDiffSpec mirrors via the crawl oracle's kernel)
    "c59_robots_diff" -> ((s, _) => operators.RobotsDiffOps.robotsDiffDemo(s)),
    // c62: RFC 9309 robots UNAVAILABILITY semantics — 4xx = allow all,
    // fresh 5xx = complete disallow, stale 5xx = cached copy; per-host
    // effective-vs-parsed admission counts (mirror-golden)
    "c62_robots_availability" ->
      ((s, _) => operators.RobotsAvailabilityOps.availabilityReport(s)),
    // c58: streaming EXACT copy-detection — each micro-batch appends a
    // suffix-key mini-epoch and probes the corpus-so-far (c18's sibling at
    // window granularity); stream == full recompute pinned in StreamingSpec
    "c58_stream_exactcopy" -> ((s, d) =>
      graft.streaming.StreamingJobs.exactCopyDetectDemo(s, d)),
    "c56_incremental_exact_dup" -> ((s, d) => {
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
    "c17_image_dedup" -> ((s, _) => {
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
    "c19_image_index" -> ((s, _) => {
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
    "c65_image_decontaminate" -> ((s, _) => {
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
    "c72_forget_takedown" -> ((s, d) => {
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
    "c79_forget_embeddings" -> ((s, d) => {
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
    "c20_incremental_image_dedup" -> ((s, _) => {
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
    "c12_frame_sample" -> ((s, _) =>
      MediaOps.frameSample(Gen.media(s, 60)).toDF()
        .orderBy("media_id", "frame_idx")),
    "c13_audio_features" -> ((s, _) =>
      MediaOps.audioWindows(Gen.media(s, 60)).toDF()
        .orderBy("media_id", "window_idx")),
    "c06_phash" -> ((s, _) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      diffHistory(s, 40).where(col("epoch") === 0)
        .select(col("image_id"), col("w"), col("h"), col("fmt"), col("phash"),
          graft.functions.GraftFunctions.phash64(col("bytes")).as("phash_recomputed"))
        .orderBy("image_id")
    }),
    "c07_stream_politeness" -> ((s, _) =>
      graft.streaming.StreamingJobs.politenessDemo(s)),
    "c08_img_features" -> ((s, _) => {
      // comparator-safe projection: the driver's pandas sort/hash crashes
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
    "c09_img_psnr" -> ((s, _) =>
      ImageOps.consecutivePsnr(diffHistory(s, 40)).orderBy("image_id", "epoch")),
    "c10_robots_parse" -> ((s, _) => {
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
    })
  )

  /** Shared CTE prefix for t07/t08: the t05 near-dup pair construction
    * (planted corpus -> word 3-gram shingles -> df-capped inverted index ->
    * Jaccard >= 0.5 pairs), ending open so callers append further CTEs.
    * RECURSIVE is declared here because the appended `reach` CTE needs it.
    */
  /** DuckDB mirror of TextOps.contaminationCurve: the t13 bench/corpus
    * fixture with one distinct-hit join block per n-gram length.
    */
  private def contaminationCurveOracleSql(ns: Seq[Int]): String = {
    def block(n: Int): String =
      s"""  SELECT $n AS ngram_n,
         |    CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_flagged_docs,
         |    CAST(count(*) AS BIGINT) AS n_hits
         |  FROM (
         |    SELECT DISTINCT doc_id,
         |      array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS ng
         |    FROM (SELECT doc_id, t,
         |      unnest(generate_series(1, greatest(len(t) - ${n - 1}, 0))) AS i
         |      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
         |        AS t FROM corpus))
         |  ) c JOIN (
         |    SELECT DISTINCT
         |      array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS ng
         |    FROM (SELECT t,
         |      unnest(generate_series(1, greatest(len(t) - ${n - 1}, 0))) AS i
         |      FROM (SELECT regexp_split_to_array(trim(text), '\\s+')
         |        AS t FROM bench))
         |  ) b USING (ng)""".stripMargin
    """WITH bench AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
      |), corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id,
      |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ')
      |      || ' then entirely novel commentary continues past the quotation' AS text
      |  FROM documents WHERE doc_id % 23 = 0
      |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus_docs FROM corpus),
      |hits AS (
      |""".stripMargin +
      ns.map(block).mkString("\n  UNION ALL\n") +
      """
        |)
        |SELECT CAST(ngram_n AS BIGINT) AS ngram_n, n_corpus_docs,
        |  n_flagged_docs, n_hits,
        |  (10000 * n_flagged_docs) // n_corpus_docs AS flagged_bp
        |FROM hits CROSS JOIN tot ORDER BY ngram_n""".stripMargin
  }

  /** DuckDB mirror of TextOps.shingleSizeSweep: one inverted-index +
    * df-cap + gate + truth-compare block per shingle width.
    */
  private def shingleSweepOracleSql(ws: Seq[Int]): String = {
    def block(w: Int): String =
      s"""  SELECT $w AS w,
         |    (SELECT CAST(count(*) AS BIGINT) FROM scored$w)
         |      AS n_candidates,
         |    (SELECT CAST(sum(CASE WHEN n_inter * 2 >= sa + sb - n_inter
         |      THEN 1 ELSE 0 END) AS BIGINT) FROM scored$w)
         |      AS n_predicted,
         |    CAST(sum(CASE WHEN pred = 1 AND is_true = 1 THEN 1 ELSE 0
         |      END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN pred = 1 AND is_true IS NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN pred IS NULL AND is_true = 1 THEN 1
         |      ELSE 0 END) AS BIGINT) AS fn
         |  FROM (
         |    SELECT d.pred, t.is_true
         |    FROM (
         |      SELECT doc_a, doc_b, 1 AS pred FROM scored$w
         |      WHERE n_inter * 2 >= sa + sb - n_inter
         |    ) d
         |    FULL OUTER JOIN truth t
         |      ON t.doc_a = d.doc_a AND t.doc_b = d.doc_b)""".stripMargin
    def shingleCte(w: Int): String =
      s"""sh$w AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(t, i, i + ${w - 1}), ' ') AS sh
         |  FROM (SELECT doc_id, t,
         |    unnest(generate_series(1, greatest(len(t) - ${w - 1}, 0))) AS i
         |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
         |      AS t FROM corpus))
         |), sz$w AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM sh$w GROUP BY doc_id
         |), scored$w AS (
         |  SELECT p.doc_a, p.doc_b, p.n_inter, sa.sz AS sa, sb.sz AS sb
         |  FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      CAST(count(*) AS BIGINT) AS n_inter
         |    FROM (SELECT doc_id, sh FROM sh$w WHERE sh NOT IN
         |      (SELECT sh FROM sh$w GROUP BY sh HAVING count(*) > 64)) a
         |    JOIN (SELECT doc_id, sh FROM sh$w WHERE sh NOT IN
         |      (SELECT sh FROM sh$w GROUP BY sh HAVING count(*) > 64)) b
         |      ON a.sh = b.sh AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) p
         |  JOIN sz$w sa ON p.doc_a = sa.doc_id
         |  JOIN sz$w sb ON p.doc_b = sb.doc_id
         |)""".stripMargin
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
      |  FROM documents WHERE doc_id % 20 = 0
      |), truth AS (
      |  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
      |    CAST(1 AS BIGINT) AS is_true
      |  FROM documents WHERE doc_id % 20 = 0
      |), """.stripMargin +
      ws.map(shingleCte).mkString(",\n") +
      ",\nsweep AS (\n" + ws.map(block).mkString("\n  UNION ALL\n") +
      """
        |)
        |SELECT CAST(w AS BIGINT) AS w, n_candidates, n_predicted,
        |  tp, fp, fn,
        |  round(CAST(tp AS DOUBLE)
        |    / CAST(greatest(tp + fp, 1) AS DOUBLE), 6) AS prec,
        |  round(CAST(tp AS DOUBLE)
        |    / CAST(greatest(tp + fn, 1) AS DOUBLE), 6) AS rec
        |FROM sweep ORDER BY w""".stripMargin
  }

  private val ngramPairSql: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
      |  FROM documents WHERE doc_id % 20 = 0
      |), toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
      |), shingles AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
      |), idx AS (
      |  SELECT doc_id, sh FROM shingles
      |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), dup_pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM pairs
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
      |)""".stripMargin

  /** emb07's SQ8 oracle SQL — shared verbatim by emb08 (the persisted
    * code store must return identical rows).
    */
  private val Sq8Sql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |codes AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS code
        |  FROM (
        |    SELECT vec_id, embedding,
        |      CASE WHEN m = 0 THEN CAST(1.0 AS DOUBLE) ELSE m / 127.0 END AS scale
        |    FROM (SELECT vec_id, embedding,
        |            list_max(list_transform(embedding,
        |              x -> abs(CAST(x AS DOUBLE)))) AS m
        |          FROM base))
        |), cq AS (
        |  SELECT vec_id, embedding, code,
        |    list_aggregate(list_transform(code, x -> x * x), 'sum') AS qq
        |  FROM codes
        |), q AS (
        |  SELECT vec_id AS query_id, code AS qcode, qq AS qqq
        |  FROM cq WHERE vec_id < 3
        |), approx AS (
        |  SELECT q.query_id, c.vec_id,
        |    CAST(list_aggregate(list_transform(generate_series(1, len(c.code)),
        |      i -> c.code[i] * q.qcode[i]), 'sum') AS DOUBLE)
        |      / sqrt(CAST(c.qq * q.qqq AS DOUBLE)) AS approx
        |  FROM cq c, q WHERE c.vec_id <> q.query_id
        |), cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY approx DESC, vec_id ASC) AS arank
        |    FROM approx) WHERE arank <= 50
        |), qv AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM base WHERE vec_id < 3
        |), scored AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(qv.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM cand
        |  JOIN base e ON cand.vec_id = e.vec_id
        |  JOIN qv ON cand.query_id = qv.query_id
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin

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

  def oracleSql: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |round(sum(l_extendedprice),2) AS sum_price, round(sum(l_discount),2) AS sum_disc,
        |count(*) AS n FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_broadcast" ->
      """SELECT n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
    "q03_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q04_semi_join" ->
      """SELECT p_brand, count(*) AS n_parts, round(sum(p_retailprice),2) AS sum_price
        |FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,
    "q05_window_topk" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin,
    "q06_window_lag" ->
      """SELECT event_id, user_id, coalesce(epoch_ms(ts) - epoch_ms(
        |lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)), -1) AS gap_ms
        |FROM events""".stripMargin,
    "q07_topk_global" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q08_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice),2) AS total FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q56_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice),2) AS total FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,
    // q57: the same Morton magic-number spread spelled step by step
    // (masks 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555 in
    // decimal); all BIGINT so both engines stay sign-free
    "q57_zorder_zones" ->
      """WITH base AS (
        |  SELECT CAST(l_partkey AS BIGINT) % 65536 AS pk,
        |         CAST(l_suppkey AS BIGINT) % 65536 AS sk
        |  FROM lineitem
        |), s1 AS (
        |  SELECT pk, sk,
        |    ((pk & 65535) | ((pk & 65535) << 8)) & 16711935 AS xa,
        |    ((sk & 65535) | ((sk & 65535) << 8)) & 16711935 AS xb
        |  FROM base
        |), s2 AS (
        |  SELECT pk, sk, (xa | (xa << 4)) & 252645135 AS xa,
        |         (xb | (xb << 4)) & 252645135 AS xb FROM s1
        |), s3 AS (
        |  SELECT pk, sk, (xa | (xa << 2)) & 858993459 AS xa,
        |         (xb | (xb << 2)) & 858993459 AS xb FROM s2
        |), s4 AS (
        |  SELECT pk, sk, (xa | (xa << 1)) & 1431655765 AS xa,
        |         (xb | (xb << 1)) & 1431655765 AS xb FROM s3
        |), keyed AS (
        |  SELECT pk, sk, xa | (xb << 1) AS z FROM s4
        |), zoned AS (
        |  SELECT pk, sk, z, CAST(ntile(32) OVER (
        |      ORDER BY z ASC, pk ASC, sk ASC) AS INT) AS zone
        |  FROM keyed
        |)
        |SELECT zone, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(pk) AS pk_min, max(pk) AS pk_max,
        |  min(sk) AS sk_min, max(sk) AS sk_max,
        |  min(z) AS z_min, max(z) AS z_max
        |FROM zoned GROUP BY zone""".stripMargin,
    // q58: same row_number trick; dates rendered as strings (timestamp
    // columns leave results only as formatted strings per convention)
    "q58_activity_islands" ->
      """WITH dd AS (
        |  SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS dy
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_type, dy,
        |    dy - CAST(row_number() OVER (
        |      PARTITION BY user_id, event_type ORDER BY dy) AS INTEGER) AS grp
        |  FROM dd
        |)
        |SELECT user_id, event_type,
        |  strftime(min(dy), '%Y-%m-%d') AS start_day,
        |  strftime(max(dy), '%Y-%m-%d') AS end_day,
        |  CAST(count(*) AS BIGINT) AS n_days
        |FROM g GROUP BY user_id, event_type, grp""".stripMargin,
    // q59: same histogram + windows; mode ties break on smallest value,
    // median is the LOWER median ((n+1) div 2 ordinal) — all integer
    "q59_mode_median" ->
      """WITH hist AS (
        |  SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3
        |), md AS (
        |  SELECT l_returnflag, l_linestatus, qty AS mode_qty, cnt AS mode_cnt
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY l_returnflag, l_linestatus
        |      ORDER BY cnt DESC, qty ASC) AS rn FROM hist)
        |  WHERE rn = 1
        |), me AS (
        |  SELECT l_returnflag, l_linestatus, qty AS median_lo_qty,
        |    total AS n_rows
        |  FROM (SELECT *,
        |      CAST(sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus
        |        ORDER BY qty) AS BIGINT) AS cum,
        |      CAST(sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus)
        |        AS BIGINT) AS total FROM hist)
        |  WHERE cum - cnt < (total + 1) // 2 AND (total + 1) // 2 <= cum
        |)
        |SELECT md.l_returnflag, md.l_linestatus, mode_qty, mode_cnt,
        |  median_lo_qty, n_rows
        |FROM md JOIN me USING (l_returnflag, l_linestatus)""".stripMargin,
    // q60: same two-window SCD2 build; dates as strings, open intervals at
    // the 9999-12-31 sentinel so hashing never sees NULL ordering
    "q60_scd2_dimension" ->
      """WITH ch AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_status
        |  FROM orders
        |), f AS (
        |  SELECT * FROM ch
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
        |)
        |SELECT o_custkey AS cust_id, o_orderstatus AS status,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
        |    '9999-12-31') AS valid_to,
        |  CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM f
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q09_setops" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    // q63: same basket self-join; DISTINCT first so support counts orders
    "q63_cooccurrence" ->
      """WITH d AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |)
        |SELECT a.pk AS part_a, b.pk AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM d a JOIN d b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY a.pk, b.pk
        |HAVING count(*) >= 2""".stripMargin,
    // q64: same sweep — ends (-1) sort before starts (+1) at equal t
    "q64_max_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (event_id % 3600) * 1000000 AS e
        |  FROM events
        |), pts AS (
        |  SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
        |  UNION ALL
        |  SELECT event_type, e AS t, -1 AS delta, event_id FROM iv
        |), run AS (
        |  SELECT event_type, t,
        |    sum(delta) OVER (PARTITION BY event_type
        |      ORDER BY t, delta, event_id) AS conc
        |  FROM pts
        |), mx AS (
        |  SELECT event_type, t, conc,
        |    max(conc) OVER (PARTITION BY event_type) AS max_conc
        |  FROM run
        |)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent,
        |  min(t) AS first_at_us
        |FROM mx WHERE conc = max_conc GROUP BY event_type""".stripMargin,
    // q65: same integer-cents Gini; the single double division at the end
    "q65_gini_skew" ->
      """WITH cents AS (
        |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100)
        |    AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT n_name, cents,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY cents, o_custkey) AS BIGINT) AS i
        |  FROM cents
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round((2.0 * sum(i * cents) - (count(*) + 1.0) * sum(cents)) /
        |    (CAST(count(*) AS DOUBLE) * sum(cents)), 4) AS gini
        |FROM ranked GROUP BY n_name""".stripMargin,
    // q67: same integer moments; HUGEINT sums cast to double at the end
    "q67_correlation" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem)
        |  GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |      (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)
        |    AS corr_qty_price
        |FROM m""".stripMargin,
    // q68: same moment discipline; slope/intercept/r2 one expression each
    "q68_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM (SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem)
        |  GROUP BY l_returnflag, l_linestatus
        |)
        |SELECT l_returnflag, l_linestatus, n,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4) AS slope,
        |  round((CAST(sy AS DOUBLE) -
        |    ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |     (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) /
        |    CAST(n AS DOUBLE), 4) AS intercept,
        |  round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
        |         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
        |    ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |     (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4) AS r2
        |FROM m""".stripMargin,
    // q69: same histogram; per-term cnt*log2(cnt) quantized to 1e-6 longs
    // so the cross-engine sum is integer-exact (ln/ln(2) on both sides)
    "q69_entropy" ->
      """WITH hist AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_returnflag, qty
        |)
        |SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(ln(CAST(sum(cnt) AS DOUBLE)) / ln(2.0) -
        |    (CAST(sum(CAST(round(CAST(cnt AS DOUBLE) *
        |        (ln(CAST(cnt AS DOUBLE)) / ln(2.0)) * 1e6) AS BIGINT))
        |      AS DOUBLE) / 1e6) / CAST(sum(cnt) AS DOUBLE), 4)
        |    AS entropy_bits
        |FROM hist GROUP BY l_returnflag""".stripMargin,
    // q70: lower medians over the compressed histogram, integers only
    "q70_mad" ->
      """WITH hist AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_returnflag, qty
        |), med AS (
        |  SELECT l_returnflag, qty AS med, total FROM (
        |    SELECT l_returnflag, qty, cnt,
        |      sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY qty) AS cum,
        |      sum(cnt) OVER (PARTITION BY l_returnflag) AS total
        |    FROM hist)
        |  WHERE cum - cnt < (total + 1) // 2 AND (total + 1) // 2 <= cum
        |), devhist AS (
        |  SELECT h.l_returnflag, abs(h.qty - m.med) AS dev,
        |    CAST(sum(h.cnt) AS BIGINT) AS cnt
        |  FROM hist h JOIN med m ON h.l_returnflag = m.l_returnflag
        |  GROUP BY h.l_returnflag, dev
        |)
        |SELECT d.l_returnflag, m.med AS median_qty, d.dev AS mad,
        |  d.total AS n_rows
        |FROM (
        |  SELECT l_returnflag, dev, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY dev) AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS total
        |  FROM devhist) d
        |JOIN med m ON d.l_returnflag = m.l_returnflag
        |WHERE d.cum - d.cnt < (d.total + 1) // 2
        |  AND (d.total + 1) // 2 <= d.cum""".stripMargin,
    // q66: same explode-by-offset rolling distinct
    "q66_rolling_wau" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
        |), spine AS (
        |  SELECT DISTINCT dy AS sd FROM grid
        |), expanded AS (
        |  SELECT g.user_id, g.dy + CAST(k.k AS INTEGER) AS sd
        |  FROM grid g CROSS JOIN
        |    (SELECT unnest(generate_series(0, 6)) AS k) k
        |), wau AS (
        |  SELECT e.sd, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
        |  FROM expanded e JOIN spine USING (sd) GROUP BY e.sd
        |), dau AS (
        |  SELECT dy AS sd, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM grid GROUP BY dy
        |)
        |SELECT strftime(wau.sd, '%Y-%m-%d') AS day, wau, dau
        |FROM wau JOIN dau USING (sd)""".stripMargin,
    // q61: same min-filter agg chain; strict-after (>) comparisons on
    // microsecond integers, -1 sentinel for unreached stages
    "q61_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, min(us) AS t_view_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT ev.user_id, min(ev.us) AS t_click_us
        |  FROM ev JOIN v USING (user_id)
        |  WHERE ev.event_type = 'click' AND ev.us > v.t_view_us
        |  GROUP BY ev.user_id
        |), p AS (
        |  SELECT ev.user_id, min(ev.us) AS t_purchase_us
        |  FROM ev JOIN c USING (user_id)
        |  WHERE ev.event_type = 'purchase' AND ev.us > c.t_click_us
        |  GROUP BY ev.user_id
        |)
        |SELECT v.user_id,
        |  CAST(1 + CASE WHEN c.t_click_us IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN p.t_purchase_us IS NULL THEN 0 ELSE 1 END AS INT)
        |    AS stage_reached,
        |  v.t_view_us,
        |  coalesce(c.t_click_us, -1) AS t_click_us,
        |  coalesce(p.t_purchase_us, -1) AS t_purchase_us
        |FROM v LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)""".stripMargin,
    // q62: same distinct-day grid + min cohort day + datediff offset
    "q62_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
        |), cohort AS (
        |  SELECT user_id, min(dy) AS cohort_day FROM days GROUP BY user_id
        |)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(dy - cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT days.user_id) AS BIGINT) AS n_users
        |FROM days JOIN cohort USING (user_id)
        |GROUP BY cohort.cohort_day, dy - cohort_day""".stripMargin,
    // t33: identical dims synthesis from p_partkey; bucket argmin is the
    // same integer (cost, b) total order (rank over a cross join here);
    // batch/slot arithmetic is integer division on a 0-based row_number
    "t33_aspect_buckets" ->
      """WITH dims AS (
        |  SELECT p_partkey, CAST(32 + p_partkey % 97 AS INT) AS w,
        |         CAST(32 + (p_partkey * 7) % 61 AS INT) AS h FROM part
        |), c AS (
        |  SELECT d.*, b.b AS bucket_ar, abs(100*d.w - b.b*d.h) AS cost
        |  FROM dims d CROSS JOIN (VALUES (50),(75),(100),(133),(200)) b(b)
        |), a AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_partkey
        |    ORDER BY cost, bucket_ar) AS rnb FROM c
        |), asg AS (
        |  SELECT p_partkey, w, h, bucket_ar FROM a WHERE rnb = 1
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket_ar
        |      ORDER BY p_partkey) - 1 AS rn,
        |    count(*) OVER (PARTITION BY bucket_ar) AS nb FROM asg
        |)
        |SELECT p_partkey, w, h, bucket_ar,
        |  CAST(rn // 8 AS BIGINT) AS batch_id,
        |  CAST(rn % 8 AS INT) AS slot,
        |  (rn // 8 < nb // 8) AS full_batch
        |FROM r ORDER BY p_partkey""".stripMargin,
    "q10_json" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |round(avg(value),4) AS avg_value FROM events GROUP BY event_type""".stripMargin,
    "q11_array" ->
      """SELECT label, count(*) AS n, max(dims) AS dims, round(avg(norm2),4) AS avg_norm2
        |FROM (SELECT label, len(embedding) AS dims,
        |round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'),4) AS norm2
        |FROM embeddings) GROUP BY label""".stripMargin,
    "q12_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q13_range_join" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority""".stripMargin,
    "q14_star_join" ->
      """SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""".stripMargin,
    "q15_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
        |count(*) AS n_rows FROM lineitem""".stripMargin,
    "q16_time_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |event_type, count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q17_politeness_analog" ->
      """SELECT user_id, event_id, CAST(rn - 1 AS BIGINT) AS slot,
        |1704067200000 + (rn - 1) * 200 AS scheduled_at_ms FROM (
        |SELECT user_id, event_id,
        |row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |FROM events) WHERE rn <= 5""".stripMargin,
    "q18_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |event_type, count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q19_setops2" ->
      """SELECT 'any' AS tag, nationkey FROM
        |(SELECT c_nationkey AS nationkey FROM customer
        | UNION SELECT s_nationkey AS nationkey FROM supplier)
        |UNION ALL
        |SELECT 'both' AS tag, nationkey FROM
        |(SELECT c_nationkey AS nationkey FROM customer
        | INTERSECT SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin,
    "q20_theta_join" ->
      """SELECT r_name, count(*) AS n_pairs FROM nation
        |JOIN region ON n_regionkey <> r_regionkey GROUP BY r_name""".stripMargin,
    "q21_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q22_levenshtein" ->
      """SELECT doc_id,
        |CAST(levenshtein(substring(text,1,30), substring(text,11,30)) AS BIGINT) AS lev_shift,
        |CAST(levenshtein(lang, source) AS BIGINT) AS lev_meta
        |FROM documents""".stripMargin,
    "q23_percentile" ->
      """SELECT l_returnflag,
        |round(quantile_disc(l_extendedprice, 0.5),2) AS p50,
        |round(quantile_disc(l_extendedprice, 0.9),2) AS p90,
        |count(*) AS n FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q24_window_misc" ->
      """SELECT event_id, user_id,
        |coalesce(lead(event_id) OVER w, -1) AS next_event,
        |first_value(event_id) OVER w AS first_event,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    "q25_dates" ->
      """SELECT o_orderkey,
        |CAST(year(o_orderdate) AS BIGINT) AS yr,
        |CAST(month(o_orderdate) AS BIGINT) AS mo,
        |CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
        |strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus90
        |FROM orders""".stripMargin,
    "q26_strings" ->
      """SELECT c_custkey,
        |upper(c_mktsegment) AS seg_up,
        |substring(c_name, 1, 8) AS name8,
        |concat_ws('|', c_mktsegment, c_name) AS joined,
        |lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS digits,
        |CAST(length(c_name) AS BIGINT) AS name_len
        |FROM customer""".stripMargin,
    "q27_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_exact,
        |(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |  <= count(DISTINCT l_partkey) * 0.1) AS approx_ok
        |FROM lineitem""".stripMargin,
    "q28_from_json" ->
      """SELECT event_type,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        |count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q29_range_frame" ->
      """SELECT event_id, user_id,
        |count(*) OVER w AS n_10min,
        |round(sum(value) OVER w, 2) AS sum_10min
        |FROM (SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
        |  RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q30_scalar_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders
        |WHERE o_totalprice > (SELECT max(s_acctbal) FROM supplier) * 20""".stripMargin,
    "q40_exists_subquery" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "t05_neardup_ngram" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
        |  FROM documents WHERE doc_id % 20 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        |), idx AS (
        |  SELECT doc_id, sh FROM shingles
        |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter""".stripMargin,
    // t07/t08: connected components over the t05 pair graph. The oracle
    // enumerates reachable nodes with a recursive CTE (set-semantics UNION
    // terminates it); component = min reachable id — the same label the
    // Spark fixpoint converges to.
    "t07_dedup_resolve" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |)
          |SELECT id AS doc_id, min(node) AS component,
          |  (id = min(node)) AS is_survivor
          |FROM reach GROUP BY id""".stripMargin),
    // g08 shares t07's oracle VERBATIM: the incremental store must return
    // the identical label table a from-scratch resolution produces.
    "g08_incremental_cc" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |)
          |SELECT id AS doc_id, min(node) AS component,
          |  (id = min(node)) AS is_survivor
          |FROM reach GROUP BY id""".stripMargin),
    // t22: the four verified fragments CHAINED — t05 pairs -> t07
    // components -> t08 keep-list (drops), then t01's quality gate and
    // t18's repetition gate over the kept docs, then t17's packing of
    // the survivors. The compare gates the composition end to end.
    // c42: the oracle walks the same formula-derived successor graph by
    // recursive CTE (each node has ONE successor, so the walk per id is a
    // single path); the max-hops row per id is the resolution state.
    "c42_redirect_resolve" ->
      """WITH RECURSIVE edges AS (
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
        |FROM last WHERE rn = 1""".stripMargin,
    // c73: c42's walk over the COMBINED successor (the CASE order encodes
    // redirect-over-canonical priority) + consolidated group sizes
    "c73_canonical_aliases" ->
      """WITH RECURSIVE edges AS (
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
        |FROM resolved""".stripMargin,
    // q48: identical ANSI recursive-CTE text runs on both engines; the
    // formula edge set bounds the expansion (out-degree 2, depth < 7)
    // despite cycles, and min-hop-per-node is order-independent.
    "q48_recursive_cte" ->
      """WITH RECURSIVE hops(node, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), h.depth + 1
        |  FROM hops h
        |  JOIN (
        |    SELECT n_nationkey AS src, (n_nationkey * 7 + 3) % 25 AS dst
        |    FROM nation
        |    UNION ALL
        |    SELECT n_nationkey AS src, (n_nationkey * 3 + 11) % 25 AS dst
        |    FROM nation
        |  ) e ON e.src = h.node
        |  WHERE h.depth < 7
        |)
        |SELECT h.node AS n_nationkey, n.n_name,
        |       CAST(MIN(h.depth) AS INT) AS min_hops
        |FROM hops h
        |JOIN nation n ON n.n_nationkey = h.node
        |GROUP BY h.node, n.n_name""".stripMargin,
    // q49: retention thinning — reason priority window > first > boundary
    // > stride; old rows rank 1..n_old because they sort before the
    // boundary; both engines emit (id, seq, reason) BIGINT/BIGINT/VARCHAR.
    "q49_retention_thinning" ->
      """WITH v AS (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS id,
        |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS seq
        |  FROM orders
        |), f AS (
        |  SELECT id, seq,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY seq) AS BIGINT) AS rk,
        |    CAST(count(CASE WHEN seq < 2001 THEN 1 END)
        |         OVER (PARTITION BY id) AS BIGINT) AS n_old
        |  FROM v
        |)
        |SELECT id, seq,
        |  CASE WHEN seq >= 2001 THEN 'window'
        |       WHEN rk = 1 THEN 'first'
        |       WHEN rk = n_old THEN 'boundary'
        |       WHEN (rk - 1) % 5 = 0 THEN 'stride' END AS reason
        |FROM f
        |WHERE (CASE WHEN seq >= 2001 THEN 'window'
        |            WHEN rk = 1 THEN 'first'
        |            WHEN rk = n_old THEN 'boundary'
        |            WHEN (rk - 1) % 5 = 0 THEN 'stride' END) IS NOT NULL""".stripMargin,
    // q50: DuckDB's native ASOF LEFT JOIN against our tag-union window
    // form; right side pre-deduped per (user, ts) so the match is unique;
    // gap in exact microseconds (ts is us-precision — 'second' granularity
    // would count boundary crossings, not elapsed time).
    "q50_asof_join" ->
      """WITH su AS (
        |  SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS signup_event
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
        |), pu AS (
        |  SELECT user_id, ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT CAST(p.event_id AS BIGINT) AS purchase_event,
        |  CAST(p.user_id AS BIGINT) AS user_id,
        |  s.signup_event,
        |  CAST(date_diff('microsecond', s.ts, p.ts) AS BIGINT) AS gap_us
        |FROM pu p ASOF LEFT JOIN su s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,
    // q51: identical aggregate definitions in both engines (corr /
    // covar_samp / covar_pop / regr_slope / regr_intercept / regr_r2 /
    // var_samp / stddev_pop); 4dp rounding absorbs summation-order noise.
    "q51_stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qp,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept_pq,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2_pq,
        |  round(var_samp(l_discount), 4) AS var_disc,
        |  round(stddev_pop(l_tax), 4) AS sdp_tax,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    // q52: DuckDB has no width_bucket — the CASE spells out Spark's exact
    // double arithmetic ((n*(v-lo))/(hi-lo) truncated; <lo -> 0,
    // >=hi -> n+1). floor() before the cast because DuckDB's
    // double->BIGINT cast ROUNDS where Spark's .toLong truncates.
    "q52_histogram" ->
      """SELECT bucket, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN l_extendedprice < 900.0 THEN 0
        |    WHEN l_extendedprice >= 105000.0 THEN 17
        |    ELSE CAST(floor(16.0 * (l_extendedprice - 900.0)
        |                    / (105000.0 - 900.0)) AS BIGINT) + 1 END AS bucket
        |  FROM lineitem)
        |GROUP BY 1""".stripMargin,
    // q53: mirror-host detection — planted '-m' hosts serve every third
    // page; flag pairs whose content-hash overlap covers >=90% of the
    // smaller host (integer compare, no floats).
    "q53_mirror_hosts" ->
      """WITH idx0 AS (
        |  SELECT DISTINCT host, ch FROM (
        |    SELECT source AS host, md5(text) AS ch FROM documents
        |    UNION ALL
        |    SELECT source || '-m' AS host, md5(text) AS ch
        |    FROM documents WHERE doc_id % 3 = 0)
        |), idx AS (
        |  SELECT host, ch FROM idx0
        |  WHERE ch NOT IN (SELECT ch FROM idx0 GROUP BY ch HAVING count(*) > 32)
        |), sizes AS (
        |  SELECT host, count(*) AS sz FROM idx GROUP BY 1
        |), pairs AS (
        |  SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.ch = b.ch AND a.host < b.host
        |  GROUP BY 1, 2
        |)
        |SELECT host_a, host_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b
        |FROM pairs
        |JOIN sizes sa ON host_a = sa.host
        |JOIN sizes sb ON host_b = sb.host
        |WHERE n_inter * 10 >= least(sa.sz, sb.sz) * 9""".stripMargin,
    // t26: containment near-dup over the excerpt corpus — t05's shingle
    // construction verbatim, asymmetric gate (>=50% of the smaller side)
    // minus the pairs Jaccard would already catch.
    "t26_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(t[1:greatest(len(t)//2, 5)], ' ')
        |      || ' excerpt quote trailer' AS text
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents)
        |  WHERE doc_id % 17 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        |), idx AS (
        |  SELECT doc_id, sh FROM shingles
        |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_inter, least(sa.sz, sb.sz) AS sz_min
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE n_inter * 2 >= least(sa.sz, sb.sz)
        |  AND n_inter * 2 < sa.sz + sb.sz - n_inter""".stripMargin,
    // q54: DuckDB extracts the same typed value via JSON path functions
    // (no VARIANT there) — values must agree across representations.
    "q54_variant" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |GROUP BY 1""".stripMargin,
    // q55: identical host synthesis, then an INDEPENDENT longest-suffix
    // formulation: only multi-label public suffixes need cases — known
    // single-label TLDs and the unknown-TLD fallback both take 2 labels.
    "q55_domain_rollup" ->
      """WITH hosts AS (
        |  SELECT (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'img.'
        |            ELSE '' END)
        |    || 'site' || CAST(doc_id % 97 AS VARCHAR) || '.'
        |    || (CASE doc_id % 7 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
        |          WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au'
        |          WHEN 5 THEN 'co.jp' ELSE 'weird.zz' END) AS host
        |  FROM documents
        |  UNION ALL
        |  SELECT 'co.uk' FROM documents WHERE doc_id % 50 = 0
        |), dom AS (
        |  SELECT host,
        |    CASE WHEN host = 'co.uk' OR host LIKE '%.co.uk'
        |           OR host = 'org.uk' OR host LIKE '%.org.uk'
        |           OR host = 'ac.uk' OR host LIKE '%.ac.uk'
        |           OR host = 'gov.uk' OR host LIKE '%.gov.uk'
        |           OR host = 'com.au' OR host LIKE '%.com.au'
        |           OR host = 'net.au' OR host LIKE '%.net.au'
        |           OR host = 'org.au' OR host LIKE '%.org.au'
        |           OR host = 'co.jp' OR host LIKE '%.co.jp'
        |           OR host = 'ne.jp' OR host LIKE '%.ne.jp'
        |           OR host = 'or.jp' OR host LIKE '%.or.jp'
        |           OR host = 'com.br' OR host LIKE '%.com.br'
        |           OR host = 'com.mx' OR host LIKE '%.com.mx'
        |         THEN 2 ELSE 1 END AS nsuf,
        |    string_split(host, '.') AS parts
        |  FROM hosts
        |)
        |SELECT array_to_string(parts[greatest(1, len(parts) - nsuf):], '.')
        |    AS domain,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM dom GROUP BY 1""".stripMargin,
    // t28: the t05 shingle construction over the RAW documents (no
    // plants), df==1 novelty in integer basis points.
    "t28_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), dfs AS (
        |  SELECT sh, count(*) AS df FROM shingles GROUP BY sh
        |)
        |SELECT s.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 10000
        |       // count(*) AS BIGINT) AS novelty_bp
        |FROM shingles s JOIN dfs d ON s.sh = d.sh
        |GROUP BY s.doc_id""".stripMargin,
    // t29: exact duplicated 64-char windows over the t10 planted
    // partial-copy corpus — the oracle materializes EVERY window (the
    // O(n*L) shape the prefix-doubling plan avoids) and groups by content.
    "t29_exact_dupwindows" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    'entirely fresh lead-in for copy ' || CAST(doc_id AS VARCHAR)
        |      || ' :: ' || substr(text, 1, 300)
        |      || ' :: and an unrelated tail section'
        |  FROM documents WHERE doc_id % 25 = 0
        |), w AS (
        |  SELECT c.doc_id, g.pos, substr(c.text, g.pos + 1, 64) AS win
        |  FROM corpus c, LATERAL (SELECT unnest(
        |    generate_series(0, length(c.text) - 64)) AS pos) g
        |  WHERE length(c.text) >= 64
        |), d AS (
        |  SELECT win FROM w GROUP BY win HAVING count(*) > 1
        |)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_dup,
        |  CAST(min(w.pos) AS BIGINT) AS first_pos,
        |  CAST(max(w.pos) AS BIGINT) AS last_pos
        |FROM w JOIN d USING (win)
        |GROUP BY w.doc_id""".stripMargin,
    // t31: t13's leaked-corpus/benchmark fixtures, char-window exact
    // overlap — oracle brute-forces both sides' windows.
    "t31_exact_decontaminate" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
        |), corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ')
        |      || ' then entirely novel commentary continues past the quotation' AS text
        |  FROM documents WHERE doc_id % 23 = 0
        |), bw AS (
        |  SELECT DISTINCT substr(b.text, g.pos + 1, 64) AS win
        |  FROM bench b, LATERAL (SELECT unnest(
        |    generate_series(0, length(b.text) - 64)) AS pos) g
        |  WHERE length(b.text) >= 64
        |), cw AS (
        |  SELECT c.doc_id, g.pos, substr(c.text, g.pos + 1, 64) AS win
        |  FROM corpus c, LATERAL (SELECT unnest(
        |    generate_series(0, length(c.text) - 64)) AS pos) g
        |  WHERE length(c.text) >= 64
        |)
        |SELECT cw.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |  CAST(min(cw.pos) AS BIGINT) AS first_pos,
        |  CAST(max(cw.pos) AS BIGINT) AS last_pos
        |FROM cw JOIN bw USING (win)
        |GROUP BY cw.doc_id""".stripMargin,
    // t23: TF-IDF — tokenization mirrors t14 (lower/trim + \s+ split),
    // idf in BIGINT fixed-point ((N*1e6) // df) so score/rank carry no
    // float anywhere; ties break on term text in both engines.
    "t23_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |), scored AS (
        |  SELECT t.doc_id, t.term, t.tf, df.df,
        |         t.tf * ((n.n_docs * 1000000) // df.df) AS score
        |  FROM tf t JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, score, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,
    // t34: same tokenization as t23; identical integer fixed-point BM25
    // arithmetic in both engines (DuckDB // == Spark div on positives;
    // sum(BIGINT) recast from HUGEINT)
    "t34_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        |), dft AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
        |), ranked AS (
        |  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS r
        |  FROM dft
        |), qterms AS (
        |  SELECT CAST(1 AS BIGINT) AS query_id, term FROM ranked
        |  WHERE r IN (10, 20, 30)
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT) AS query_id, term FROM ranked
        |  WHERE r IN (15, 25, 35)
        |), scored AS (
        |  SELECT q.query_id, t.doc_id,
        |    ((2*(st.n_docs - d.df) + 1) * 1000 // (2*d.df + 1)) *
        |    ((22*t.tf*st.sum_dl*1000) //
        |      (10*t.tf*st.sum_dl + 3*st.sum_dl + 9*l.dl*st.n_docs)) AS s
        |  FROM tf t JOIN qterms q USING (term) JOIN dl l USING (doc_id)
        |       JOIN dft d USING (term) CROSS JOIN stats st
        |), perdoc AS (
        |  SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score,
        |         CAST(count(*) AS BIGINT) AS n_terms
        |  FROM scored GROUP BY 1, 2
        |), topk AS (
        |  SELECT *, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT)
        |      AS rank
        |  FROM perdoc
        |)
        |SELECT query_id, doc_id, score, n_terms, rank
        |FROM topk WHERE rank <= 5""".stripMargin,
    "t37_gopher_filter" ->
      """WITH built AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0
        |           THEN array_to_string(string_split(text, ' ')[1:5], ' ')
        |         WHEN doc_id % 19 = 0
        |           THEN text || ' ## ## ## ## ## ## ## ## ## ## ## ##'
        |         WHEN doc_id % 23 = 0
        |           THEN regexp_replace(text, '[A-Za-z]', '7', 'g')
        |         WHEN doc_id % 29 = 0
        |           THEN text || ' ' || trim(repeat(repeat('x', 40) || ' ', 20))
        |         ELSE text END AS text
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                t -> t <> '') AS toks
        |  FROM built
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(toks, t -> length(t)))
        |        AS DOUBLE) / greatest(len(toks), 1), 4) AS mean_word_len,
        |    round(CAST((length(text) - length(replace(text, '#', '')))
        |        + CAST((length(text)
        |            - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
        |          AS INT) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS sym_ratio,
        |    round(CAST(len(list_filter(toks,
        |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(toks), 1), 4) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','a','data','table','join','row','scan','merge']))
        |      AS BIGINT) AS n_stop
        |  FROM tok
        |)
        |SELECT doc_id, n_words, mean_word_len, sym_ratio, alpha_frac, n_stop,
        |  CAST(CASE WHEN n_words BETWEEN 20 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
        |    AND n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS kept
        |FROM m ORDER BY doc_id""".stripMargin,
    "t22_corpus_build" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), kept AS (
          |  SELECT c.doc_id, c.text FROM corpus c
          |  WHERE c.doc_id NOT IN (SELECT id FROM drops)
          |), kt AS (
          |  SELECT k.doc_id, t.t FROM kept k JOIN toks t ON k.doc_id = t.doc_id
          |), qual AS (
          |  SELECT doc_id FROM kept
          |  WHERE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) >= 32
          |    AND round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
          |          / greatest(length(text), 1), 4) <= 0.1
          |), base18 AS (
          |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM kt
          |), g2 AS (
          |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
          |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-1, 0))) AS i FROM kt)
          |), m2 AS (
          |  SELECT doc_id, max(cnt) AS max2
          |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2) GROUP BY 1
          |), g3 AS (
          |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM kt)
          |), m3 AS (
          |  SELECT doc_id, max(cnt) AS max3
          |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2) GROUP BY 1
          |), rep AS (
          |  SELECT b.doc_id
          |  FROM base18 b LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
          |  WHERE round(1.0 - CAST(b.n_distinct AS DOUBLE) / greatest(b.n_tokens, 1), 4) <= 0.85
          |    AND round(CAST(COALESCE(max2, 0) AS DOUBLE) / greatest(b.n_tokens - 1, 1), 4) <= 0.3
          |    AND round(CAST(COALESCE(max3, 0) AS DOUBLE) / greatest(b.n_tokens - 2, 1), 4) <= 0.3
          |), surv AS (
          |  SELECT k.doc_id, k.text FROM kept k
          |  JOIN qual q ON k.doc_id = q.doc_id
          |  JOIN rep r ON k.doc_id = r.doc_id
          |), d17 AS (
          |  SELECT doc_id, doc_id % 8 AS shard,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |    md5('pack1:' || doc_id) AS ord
          |  FROM surv
          |), c17 AS (
          |  SELECT doc_id, shard, n_tokens,
          |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM d17
          |)
          |SELECT doc_id, shard, n_tokens,
          |  CAST(cum - n_tokens AS BIGINT) AS start_token,
          |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_first,
          |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS seq_last
          |FROM c17 ORDER BY doc_id""".stripMargin),
    "t08_dedup_corpus" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |)
          |SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT id FROM drops)"""
          .stripMargin),
    // t41: the t05 CTE prefix, ungated scores + planted truth, constant
    // threshold grid; tp/fp/fn integer-exact, P/R single divisions 6dp
    "t41_operating_points" ->
      (ngramPairSql +
        """, scores AS (
          |  SELECT doc_a, doc_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
          |  FROM pairs
          |  JOIN sizes sa ON doc_a = sa.doc_id
          |  JOIN sizes sb ON doc_b = sb.doc_id
          |), truth AS (
          |  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
          |    CAST(1 AS BIGINT) AS is_true
          |  FROM documents WHERE doc_id % 20 = 0
          |), joined AS (
          |  SELECT coalesce(s.n_inter, 0) AS n_inter,
          |    coalesce(s.n_union, 1) AS n_union,
          |    coalesce(t.is_true, 0) AS is_true
          |  FROM scores s
          |  FULL OUTER JOIN truth t ON s.doc_a = t.doc_a AND s.doc_b = t.doc_b
          |), grid AS (
          |  SELECT j.*, th.threshold_pct
          |  FROM joined j,
          |    (SELECT unnest([30, 40, 50, 60, 70, 80, 90]) AS threshold_pct) th
          |), pred AS (
          |  SELECT threshold_pct,
          |    CASE WHEN n_inter * 100 >= threshold_pct * n_union
          |      THEN 1 ELSE 0 END AS p,
          |    is_true
          |  FROM grid
          |)
          |SELECT threshold_pct,
          |  CAST(sum(p * is_true) AS BIGINT) AS tp,
          |  CAST(sum(p * (1 - is_true)) AS BIGINT) AS fp,
          |  CAST(sum((1 - p) * is_true) AS BIGINT) AS fn,
          |  round(CAST(sum(p * is_true) AS DOUBLE) /
          |    greatest(sum(p), 1), 6) AS prec,
          |  round(CAST(sum(p * is_true) AS DOUBLE) /
          |    greatest(sum(is_true), 1), 6) AS rec
          |FROM pred GROUP BY threshold_pct ORDER BY threshold_pct"""
          .stripMargin),
    // t43: the t05 CTE prefix supplies dup_pairs + full shingle strings;
    // same md5 permutations, same integer bp arithmetic both sides
    "t43_minhash_calibration" ->
      (ngramPairSql +
        """, cand AS (
          |  SELECT doc_a, doc_b FROM dup_pairs
          |  UNION
          |  SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
          |  WHERE doc_id % 20 = 0
          |    AND doc_id + 1 IN (SELECT doc_id FROM documents)
          |), perm AS (
          |  SELECT unnest(generate_series(0, 15)) AS i
          |), sig AS (
          |  SELECT doc_id, i,
          |    min(md5(CAST(i AS VARCHAR) || '#' || sh)) AS sg
          |  FROM shingles, perm GROUP BY doc_id, i
          |), mtc AS (
          |  SELECT c.doc_a, c.doc_b,
          |    CAST(sum(CASE WHEN a.sg = b.sg THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_match
          |  FROM cand c
          |  JOIN sig a ON a.doc_id = c.doc_a
          |  JOIN sig b ON b.doc_id = c.doc_b AND b.i = a.i
          |  GROUP BY 1, 2
          |), intr AS (
          |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
          |  FROM cand c
          |  JOIN shingles a ON a.doc_id = c.doc_a
          |  JOIN shingles b ON b.doc_id = c.doc_b AND b.sh = a.sh
          |  GROUP BY 1, 2
          |)
          |SELECT m.doc_a, m.doc_b, m.n_match,
          |  m.n_match * 625 AS est_bp,
          |  coalesce(i.n_inter, 0) * 10000
          |    // (sa.sz + sb.sz - coalesce(i.n_inter, 0)) AS exact_bp,
          |  abs(m.n_match * 625 - coalesce(i.n_inter, 0) * 10000
          |    // (sa.sz + sb.sz - coalesce(i.n_inter, 0))) AS err_bp
          |FROM mtc m
          |LEFT JOIN intr i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
          |JOIN sizes sa ON m.doc_a = sa.doc_id
          |JOIN sizes sb ON m.doc_b = sb.doc_id
          |ORDER BY m.doc_a, m.doc_b""".stripMargin),
    // t40: t08's drops CTE + per-source token rollup (planted copies
    // inherit their base doc's source via doc_id % 1e6)
    "t40_token_yield" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), flagged AS (
          |  SELECT c.doc_id, d.source,
          |    CAST(len(regexp_split_to_array(trim(c.text), '\s+')) AS BIGINT)
          |      AS n_tok,
          |    CASE WHEN c.doc_id IN (SELECT id FROM drops) THEN 0 ELSE 1 END
          |      AS kept
          |  FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 1000000
          |)
          |SELECT source, CAST(count(*) AS BIGINT) AS docs_total,
          |  CAST(sum(kept) AS BIGINT) AS docs_kept,
          |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
          |  CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
          |    AS tokens_kept,
          |  round(CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS DOUBLE)
          |    / sum(n_tok), 4) AS token_yield
          |FROM flagged GROUP BY source""".stripMargin),
    // t36: t08's reachability components + a component-size weight on
    // each survivor; unpaired docs weight 1 (COALESCE). Conservation:
    // SUM(weight) == corpus row count.
    "t36_dedup_weights" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), comp AS (
          |  SELECT id, min(node) AS comp FROM reach GROUP BY id
          |), csize AS (
          |  SELECT comp, CAST(count(*) AS BIGINT) AS w FROM comp GROUP BY comp
          |)
          |SELECT c.doc_id, COALESCE(z.w, CAST(1 AS BIGINT)) AS weight
          |FROM corpus c
          |LEFT JOIN comp m ON c.doc_id = m.id
          |LEFT JOIN csize z ON m.comp = z.comp AND m.id = m.comp
          |WHERE m.id IS NULL OR m.id = m.comp""".stripMargin),
    // t27: t08's reachability components, survivor = argmax(length) with
    // min-id tie-break (keep-longest policy) — same recursive CTE, one
    // extra window over the component table.
    "t27_survivor_policy" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), comps AS (
          |  SELECT id, min(node) AS comp FROM reach GROUP BY id
          |), ranked AS (
          |  SELECT c.id,
          |    row_number() OVER (PARTITION BY c.comp
          |      ORDER BY length(k.text) DESC, c.id ASC) AS rk
          |  FROM comps c JOIN corpus k ON c.id = k.doc_id
          |), drops AS (
          |  SELECT id FROM ranked WHERE rk <> 1
          |)
          |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
          |FROM corpus WHERE doc_id NOT IN (SELECT id FROM drops)"""
          .stripMargin),
    // t11: components over the UNION of caption near-dup edges (t05
    // kernel) and exact-image star edges (member -> group-min; same
    // components as the clique). Image identity mirrors
    // MultimodalDedup.pairsCorpus: (doc_id % 1000000) % 211.
    "t11_multimodal_dedup" ->
      (ngramPairSql +
        """, img AS (
          |  SELECT doc_id, (doc_id % 1000000) % 211 AS g FROM corpus
          |), img_edges AS (
          |  SELECT m.g_min AS doc_a, i.doc_id AS doc_b
          |  FROM img i
          |  JOIN (SELECT g, min(doc_id) AS g_min FROM img GROUP BY g) m
          |    ON i.g = m.g
          |  WHERE i.doc_id <> m.g_min
          |), edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |  UNION SELECT doc_a AS src, doc_b AS dst FROM img_edges
          |  UNION SELECT doc_b AS src, doc_a AS dst FROM img_edges
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |)
          |SELECT id AS pair_id, min(node) AS component,
          |  (id = min(node)) AS is_survivor
          |FROM reach GROUP BY id""".stripMargin),
    "t09_corpus_curation" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |)
          |SELECT doc_id,
          |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |  round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
          |    / greatest(length(text), 1), 4) AS punct_ratio
          |FROM corpus
          |WHERE doc_id NOT IN (SELECT id FROM drops)
          |  AND len(regexp_split_to_array(trim(text), '\s+')) >= 32
          |  AND round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
          |    / greatest(length(text), 1), 4) <= 0.1""".stripMargin),
    "q31_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin,
    "q32_window_dist" ->
      """SELECT event_id, user_id,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cdist,
        |coalesce(nth_value(event_id, 3) OVER w, -1) AS third_event
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)""".stripMargin,
    "q33_conditional_agg" ->
      """SELECT l_returnflag,
        |count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |round(sum(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0.0 END), 2) AS px_bulk,
        |count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q34_string_agg" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |string_agg(c_name, ',' ORDER BY c_name) AS names,
        |count(*) AS n
        |FROM customer WHERE c_custkey <= 200 GROUP BY 1""".stripMargin,
    "q35_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag, round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_price, round(sum(l_discount),2) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, 'qty' AS measure, sum_qty AS val FROM agg
        |UNION ALL SELECT l_returnflag, 'price' AS measure, sum_price AS val FROM agg
        |UNION ALL SELECT l_returnflag, 'disc' AS measure, sum_disc AS val FROM agg""".stripMargin,
    // q36: gaps-and-islands sessionization — a new session starts when the
    // gap from the previous event is >= 10 min (matching session_window's
    // half-open [start, last+gap) boundary); session end = last + gap.
    "q36_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    // q37: FULL OUTER reconciliation of two deterministic epoch views —
    // same md5 content hashes both engines (parity proven by q12).
    "q37_full_outer" ->
      """WITH prev AS (
        |  SELECT doc_id AS a_id, md5(text) AS a_hash
        |  FROM documents WHERE doc_id % 10 <> 0
        |), cur AS (
        |  SELECT doc_id AS b_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || '[rev]' ELSE text END) AS b_hash
        |  FROM documents WHERE doc_id % 7 <> 0
        |)
        |SELECT coalesce(a_id, b_id) AS doc_id,
        |  CASE WHEN a_id IS NULL THEN 'new'
        |       WHEN b_id IS NULL THEN 'gone'
        |       WHEN a_hash <> b_hash THEN 'revised'
        |       ELSE 'unchanged' END AS change
        |FROM prev FULL OUTER JOIN cur ON a_id = b_id""".stripMargin,
    // q38: pivot == conditional aggregation per pinned value (sum over an
    // empty set is NULL in both engines)
    "q38_pivot" ->
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS rev_f,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS rev_o,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS rev_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // q39: the stream-stream interval join's final table is the plain
    // batch interval join; purchase_value passes through UNROUNDED (both
    // engines re-emit the same parquet doubles, no arithmetic)
    "q39_stream_join" ->
      """SELECT a.event_id AS click_id, a.user_id AS user_id,
        |  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  b.event_id AS purchase_id,
        |  strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  b.value AS purchase_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin,
    // t12: hash-threshold stratified sampling — deterministic, so the
    // oracle reproduces the exact sampled set (hex md5 compares
    // lexicographically; threshold digit k keeps k/16 of the stratum).
    "t12_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE md5('smp1:' || CAST(doc_id AS VARCHAR))
        |      < (CASE WHEN lang = 'en' THEN '2' ELSE '8' END)""".stripMargin,
    // t44: priority sampling — identical md5 uniforms (('0x'||hex)::BIGINT
    // == conv(...,16,10), the t21/c45 parity), ONE IEEE division u/w, so
    // both engines rank and threshold identically; priority/tau emitted
    // unrounded (q32 precedent).
    "t44_priority_sample" ->
      """WITH base AS (
        |  SELECT lang, doc_id, greatest(n_chars, 1) AS w,
        |    greatest(('0x' || substr(md5('pri1:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT, 1) AS u
        |  FROM documents
        |), ranked AS (
        |  SELECT lang, doc_id, w,
        |    CAST(u AS DOUBLE) / w AS priority,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(u AS DOUBLE) / w, doc_id) AS rn
        |  FROM base
        |), tau AS (
        |  SELECT lang, priority AS tau FROM ranked WHERE rn = 9
        |)
        |SELECT r.lang, r.doc_id, r.w, r.priority, t.tau
        |FROM ranked r LEFT JOIN tau t ON r.lang = t.lang
        |WHERE r.rn <= 8
        |ORDER BY r.lang, r.doc_id""".stripMargin,
    // t45: same t38 tokenizer, same integer-log quantization (t42
    // discipline), same separable decomposition — BIGINT sums both
    // sides, one rounded division
    "t45_source_kl" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), sc AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), cc AS (
        |  SELECT source, tok, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY tok) AS BIGINT) AS cntc
        |  FROM sc
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS tc FROM sc
        |), per AS (
        |  SELECT source,
        |    CAST(sum(cnt * (CAST(round(log2(cnt) * 1e6) AS BIGINT)
        |      - CAST(round(log2(cntc) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS part,
        |    CAST(sum(cnt) AS BIGINT) AS t_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab
        |  FROM cc GROUP BY source
        |)
        |SELECT source, t_tokens, vocab,
        |  round(CAST(part + t_tokens
        |      * (CAST(round(log2(tc) * 1e6) AS BIGINT)
        |        - CAST(round(log2(t_tokens) * 1e6) AS BIGINT)) AS DOUBLE)
        |    / (CAST(t_tokens AS DOUBLE) * 1e6), 4) AS kl_bits
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,
    // t46: same t01 whitespace tokenizer; min/max/sum/integer-div over
    // BIGINTs — hash-exact
    "t46_context_curve" ->
      """WITH n AS (
        |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |    AS BIGINT) AS n
        |  FROM documents
        |), grid AS (
        |  SELECT n.n, l.max_len
        |  FROM n, (SELECT unnest([16, 32, 64, 128]) AS max_len) l
        |), agg AS (
        |  SELECT CAST(max_len AS BIGINT) AS max_len,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN n <= max_len THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fit_docs,
        |    CAST(sum(n) AS BIGINT) AS total_tokens,
        |    CAST(sum(least(n, max_len)) AS BIGINT) AS kept_tokens,
        |    CAST(sum(greatest(n - max_len, 0)) AS BIGINT)
        |      AS truncated_tokens
        |  FROM grid GROUP BY 1
        |)
        |SELECT max_len, n_docs, fit_docs,
        |  (10000 * fit_docs) // n_docs AS fit_bp,
        |  total_tokens, kept_tokens, truncated_tokens,
        |  (10000 * kept_tokens) // total_tokens AS kept_bp
        |FROM agg ORDER BY max_len""".stripMargin,
    // t13: benchmark decontamination — word-8-gram overlap vs the
    // deterministic benchmark slice (doc_id % 23). The oracle joins on
    // the n-gram STRINGS where Spark joins xxhash64 of the same strings
    // (t05 precedent); the quote-doc construction (first 20 tokens +
    // novel suffix) is mirrored token-for-token.
    "t13_decontaminate" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
        |), corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ')
        |      || ' then entirely novel commentary continues past the quotation' AS text
        |  FROM documents WHERE doc_id % 23 = 0
        |), bng AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, i, i + 7), ' ') AS ng
        |  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |        FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM bench))
        |), cng AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS ng
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus))
        |)
        |SELECT c.doc_id, count(*) AS n_hits
        |FROM cng c JOIN bng b USING (ng)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // t53: the t13 fixture swept over n = 5/8/13 — per-n distinct-hit
    // join blocks unioned into the curve
    "t53_contamination_curve" -> contaminationCurveOracleSql(Seq(5, 8, 13)),
    // t57: per-width inverted-index blocks, same df-cap and J >= 1/3
    // gate, same truth compare
    "t57_shingle_sweep" -> shingleSweepOracleSql(Seq(2, 3, 5)),
    // t58: t08's drops CTE, then the full t05 kernel re-run on the kept
    // corpus (df-cap recomputed on the smaller corpus, as in Spark)
    "t58_dedup_idempotence" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), kept AS (
          |  SELECT doc_id, text FROM corpus
          |  WHERE doc_id NOT IN (SELECT id FROM drops)
          |), ktoks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM kept
          |), ksh AS (
          |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
          |  FROM (SELECT doc_id, t,
          |    unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM ktoks)
          |), ksizes AS (
          |  SELECT doc_id, count(*) AS sz FROM ksh GROUP BY doc_id
          |), kidx AS (
          |  SELECT doc_id, sh FROM ksh
          |  WHERE sh NOT IN (SELECT sh FROM ksh GROUP BY sh HAVING count(*) > 64)
          |), kpairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          |  FROM kidx a JOIN kidx b ON a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |), kdup AS (
          |  SELECT doc_a, doc_b FROM kpairs
          |  JOIN ksizes sa ON doc_a = sa.doc_id
          |  JOIN ksizes sb ON doc_b = sb.doc_id
          |  WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
          |), nk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_kept FROM kept),
          |res AS (SELECT CAST(count(*) AS BIGINT) AS n_second_pass_pairs FROM kdup)
          |SELECT n_docs_kept, n_second_pass_pairs,
          |  (10000 * n_second_pass_pairs) // n_docs_kept AS residual_bp,
          |  n_second_pass_pairs = 0 AS is_fixpoint
          |FROM nk CROSS JOIN res""".stripMargin),
    // t59: same GPT-2-subset regex in RE2 (leftmost-first in both
    // engines), same integer bp arithmetic
    "t59_tokenizer_fertility" ->
      """WITH deco AS (
        |  SELECT lang,
        |    text || ' (rev ' || doc_id || '.7, it''s v2!)' AS text
        |  FROM documents
        |), per AS (
        |  SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS words,
        |    CAST(len(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
        |      AS BIGINT) AS bpe,
        |    CAST(strlen(text) AS BIGINT) AS bytes
        |  FROM deco
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(words) AS BIGINT) AS words,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  (10000 * CAST(sum(bpe) AS BIGINT)) // CAST(sum(words) AS BIGINT)
        |    AS fertility_bp,
        |  (10000 * CAST(sum(bytes) AS BIGINT)) // CAST(sum(bpe) AS BIGINT)
        |    AS bytes_per_token_bp
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    // q90: same 1e2-quantized logs, BIGINT power sums, identical
    // central-moment association
    "q90_jarque_bera" ->
      """WITH x AS (
        |  SELECT lang,
        |    CAST(round(log2(greatest(n_chars, 1)) * 100) AS BIGINT) AS x
        |  FROM documents
        |), m AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(x * x) AS BIGINT) AS s2,
        |    CAST(sum(x * x * x) AS BIGINT) AS s3,
        |    CAST(sum(x * x * x * x) AS BIGINT) AS s4
        |  FROM x GROUP BY 1
        |), f AS (
        |  SELECT *,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2
        |  FROM m
        |), g AS (
        |  SELECT *,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 2.0 * mean * mean * mean AS m3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 6.0 * mean * mean
        |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM f
        |), h AS (
        |  SELECT *, m3 / sqrt(m2 * m2 * m2) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS exk
        |  FROM g
        |), z AS (
        |  SELECT *, round(CAST(n AS DOUBLE) / 6.0
        |    * (skew * skew + exk * exk / 4.0), 4) AS jb
        |  FROM h
        |)
        |SELECT lang, n, s1, s2, s3, s4,
        |  round(skew, 4) AS skewness, round(exk, 4) AS ex_kurtosis, jb,
        |  CASE WHEN jb > 5.991 THEN 'non_normal'
        |       ELSE 'lognormal_consistent' END AS verdict
        |FROM z ORDER BY lang""".stripMargin,
    // q91: same centering, one window pass for all six lags, identical
    // six-term Q association
    "q91_ljung_box" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), cc AS (
        |  SELECT event_type, day,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
        |      - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS c
        |  FROM daily
        |), lagd AS (
        |  SELECT *,
        |    lag(c, 1) OVER w AS ck1, lag(c, 2) OVER w AS ck2,
        |    lag(c, 3) OVER w AS ck3, lag(c, 4) OVER w AS ck4,
        |    lag(c, 5) OVER w AS ck5, lag(c, 6) OVER w AS ck6
        |  FROM cc
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |), m AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(c * c) AS BIGINT) AS den,
        |    CAST(sum(CASE WHEN ck1 IS NOT NULL THEN c * ck1 ELSE 0 END) AS BIGINT) AS num1,
        |    CAST(sum(CASE WHEN ck2 IS NOT NULL THEN c * ck2 ELSE 0 END) AS BIGINT) AS num2,
        |    CAST(sum(CASE WHEN ck3 IS NOT NULL THEN c * ck3 ELSE 0 END) AS BIGINT) AS num3,
        |    CAST(sum(CASE WHEN ck4 IS NOT NULL THEN c * ck4 ELSE 0 END) AS BIGINT) AS num4,
        |    CAST(sum(CASE WHEN ck5 IS NOT NULL THEN c * ck5 ELSE 0 END) AS BIGINT) AS num5,
        |    CAST(sum(CASE WHEN ck6 IS NOT NULL THEN c * ck6 ELSE 0 END) AS BIGINT) AS num6
        |  FROM lagd GROUP BY 1
        |), z AS (
        |  SELECT *, round(CAST(n_days AS DOUBLE)
        |    * (CAST(n_days AS DOUBLE) + 2.0)
        |    * ((CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 1.0)
        |      + (CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 2.0)
        |      + (CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 3.0)
        |      + (CAST(num4 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num4 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 4.0)
        |      + (CAST(num5 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num5 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 5.0)
        |      + (CAST(num6 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num6 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 6.0)), 4) AS q_stat
        |  FROM m
        |)
        |SELECT event_type, n_days, den, num1, num2, num3, num4, num5,
        |  num6, q_stat,
        |  CASE WHEN q_stat > 12.5916 THEN 'autocorrelated'
        |       ELSE 'white_noise' END AS verdict
        |FROM z ORDER BY event_type""".stripMargin,
    // q89: same cleared rational T = (n·Σx² − (Σx)²)/Σx and rounded
    // band comparison
    "q89_dispersion" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1
        |), f AS (
        |  SELECT *, n * sxx - sx * sx AS num,
        |    round(CAST(n * sxx - sx * sx AS DOUBLE)
        |      / CAST(sx AS DOUBLE), 4) AS t_stat,
        |    round((CAST(n AS DOUBLE) - 1.0)
        |      + 2.0 * sqrt(2.0 * (CAST(n AS DOUBLE) - 1.0)), 4) AS hi,
        |    round((CAST(n AS DOUBLE) - 1.0)
        |      - 2.0 * sqrt(2.0 * (CAST(n AS DOUBLE) - 1.0)), 4) AS lo
        |  FROM m
        |)
        |SELECT event_type, n AS n_days, sx, num, t_stat,
        |  round(CAST(num AS DOUBLE) / CAST(sx AS DOUBLE)
        |    / (CAST(n AS DOUBLE) - 1.0), 4) AS dispersion,
        |  CASE WHEN t_stat > hi THEN 'overdispersed'
        |       WHEN t_stat < lo THEN 'underdispersed'
        |       ELSE 'poisson_consistent' END AS verdict
        |FROM f ORDER BY event_type""".stripMargin,
    // t54: same adaptive top-k, per-term quantized natural logs
    "t54_tail_index" ->
      """WITH x AS (
        |  SELECT lang, doc_id, greatest(n_chars, 1) AS x FROM documents
        |), ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY x DESC, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM x
        |), withk AS (
        |  SELECT *, least(10, n - 1) AS k,
        |    max(CASE WHEN rn = least(10, n - 1) + 1 THEN x END)
        |      OVER (PARTITION BY lang) AS xk
        |  FROM ranked
        |)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(max(k) AS BIGINT) AS k, CAST(max(xk) AS BIGINT) AS x_k,
        |  CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)
        |    - CAST(round(ln(CAST(xk AS DOUBLE)) * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_log_excess_q,
        |  round(CAST(max(k) AS DOUBLE) * 1e6
        |    / CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)
        |      - CAST(round(ln(CAST(xk AS DOUBLE)) * 1e6) AS BIGINT))
        |      AS DOUBLE), 4) AS hill_alpha
        |FROM withk WHERE rn <= k
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // t14: unigram-LM perplexity filter — gibberish plant construction,
    // Laplace arithmetic, and the rounded-then-compared flag mirrored
    // exactly (ln's last-ulp differences die in the 4 dp rounding; the
    // real-vs-gibberish nll gap is ~2x, nowhere near the threshold).
    "t14_lm_filter" ->
      """WITH train AS (
        |  SELECT doc_id, lower(trim(text)) AS text FROM documents
        |), gib AS (
        |  SELECT doc_id + 2000000 AS doc_id, gtext AS text FROM (
        |    SELECT doc_id,
        |      md5('g0:' || doc_id) || ' ' || md5('g1:' || doc_id) || ' ' ||
        |      md5('g2:' || doc_id) || ' ' || md5('g3:' || doc_id) || ' ' ||
        |      md5('g4:' || doc_id) || ' ' || md5('g5:' || doc_id) || ' ' ||
        |      md5('g6:' || doc_id) || ' ' || md5('g7:' || doc_id) AS gtext
        |    FROM documents WHERE doc_id % 25 = 0)
        |), corpus AS (
        |  SELECT * FROM train UNION ALL SELECT * FROM gib
        |), train_tok AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM train
        |), vocab AS (
        |  SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM train_tok GROUP BY tok
        |), tot AS (
        |  SELECT sum(c) AS t, CAST(count(*) AS DOUBLE) AS v FROM vocab
        |), doc_tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM corpus
        |), lp AS (
        |  SELECT d.doc_id, ln((COALESCE(vb.c, 0) + 1.0) / (tot.t + tot.v)) AS lp
        |  FROM doc_tok d LEFT JOIN vocab vb ON d.tok = vb.tok CROSS JOIN tot
        |), rep AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         round(-avg(lp), 4) AS nll
        |  FROM lp GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, nll, nll > 8.0 AS flagged
        |FROM rep ORDER BY doc_id""".stripMargin,
    // t15: temperature mixture — sqrt weights (IEEE-exact where pow is
    // not), 9 dp rate rounding before the threshold, md5-prefix
    // acceptance compared as fixed-width lowercase hex in both engines.
    "t15_mixture_sample" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY source),
        |tot AS (SELECT sum(n_docs) AS n_total,
        |               sum(sqrt(CAST(n_docs AS DOUBLE))) AS w_total FROM counts),
        |rates AS (
        |  SELECT source, n_docs,
        |    round(least(CAST(1.0 AS DOUBLE),
        |      floor(n_total * 0.25) * sqrt(CAST(n_docs AS DOUBLE)) /
        |        (w_total * CAST(n_docs AS DOUBLE))), 9) AS rate
        |  FROM counts CROSS JOIN tot),
        |thr AS (
        |  SELECT source, n_docs, rate,
        |    CASE WHEN rate >= 1.0 THEN 'g'
        |         ELSE lower(lpad(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT)), 8, '0'))
        |    END AS thr_hex
        |  FROM rates),
        |kept AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM d JOIN thr ON d.source = thr.source
        |  WHERE substr(md5('mix1:' || d.doc_id), 1, 8) < thr.thr_hex
        |  GROUP BY d.source)
        |SELECT t.source, t.n_docs, t.rate,
        |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM thr t LEFT JOIN kept k ON t.source = k.source
        |ORDER BY t.source""".stripMargin,
    // t17: md5-order prefix sums + integer division, mirrored exactly
    // (window sum over BIGINT; ROWS frame pinned in both engines).
    "t17_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    md5('pack1:' || doc_id) AS ord
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS start_token,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_first,
        |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin,
    // t16: t05's pair kernel + the content-hash split assignment —
    // construction, integer Jaccard gate, and the double-md5 split all
    // mirrored exactly.
    "t16_split_leakage" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' appended revision marker tokens' AS text
        |  FROM documents WHERE doc_id % 20 = 0
        |), splits AS (
        |  SELECT doc_id,
        |    CASE WHEN md5('spl1:' || md5(text)) < '4' THEN 'eval' ELSE 'train' END AS split
        |  FROM corpus
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), shingles AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        |), idx AS (
        |  SELECT doc_id, sh FROM shingles
        |  WHERE sh NOT IN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) > 64)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), nd AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
        |)
        |SELECT nd.doc_a, nd.doc_b, sa.split AS split_a, sb.split AS split_b,
        |       sa.split <> sb.split AS leaks
        |FROM nd
        |JOIN splits sa ON nd.doc_a = sa.doc_id
        |JOIN splits sb ON nd.doc_b = sb.doc_id
        |ORDER BY nd.doc_a, nd.doc_b""".stripMargin,
    // c27: crawl-trap detection — URL-shape features (repeated path
    // segments, query-param explosion) aggregated per host. The URL
    // synthesis, segment arithmetic, and the UNROUNDED count-derived
    // ratio (IEEE-identical across engines, q32 precedent) are mirrored
    // exactly.
    "c27_crawl_traps" ->
      """WITH docs AS (SELECT doc_id, source FROM documents),
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
        |FROM flagged GROUP BY host ORDER BY host""".stripMargin,
    // c28: DUST alias-rule mining — URL/content synthesis, the
    // (host, base_url) pair join, and the zero-refutation verdict are
    // mirrored exactly (string + count arithmetic only).
    "c28_dust_rules" -> DustRulesSql,
    // c31: streaming DUST — the persisted incremental miner must converge
    // to the same rules, so it shares c28's oracle verbatim
    "c31_stream_dust" -> DustRulesSql,
    // c30: adaptive pacing — latency synthesis, disc-percentile (Spark
    // percentile_disc == DuckDB quantile_disc, q23 parity), and the
    // integer clamp mirrored exactly.
    "c30_adaptive_pacing" -> PacingSql,
    // c45: identical md5 change draws (('0x'||hex)::BIGINT == Spark's
    // conv(...,16,10) — the t21 parity), identical integer estimator.
    "c45_recrawl_schedule" ->
      """WITH hist AS (
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
        |FROM est ORDER BY page_id""".stripMargin,
    // c32: streaming pacing must converge to the same delay table, so it
    // shares c30's oracle verbatim
    "c32_stream_pacing" -> PacingSql,
    // c90: identical md5 draws (t21/c45 parity) + the same CUSUM closed
    // form cum - least(0, running_min(cum)) — all BIGINT, hash-exact
    "c90_rate_changepoint" ->
      """WITH hosts AS (
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
        |FROM scored GROUP BY host ORDER BY host""".stripMargin,
    // emb01: brute cosine top-k IS plain SQL (round-4 verdict "missing
    // #4"). The cosine mirrors the Spark column arithmetic exactly —
    // per-element double casts, sequential list sums, dot/(norm*norm) —
    // so the UNROUNDED score ranks identically; ties break on vec_id in
    // both engines and the displayed cos rounds to 4dp after ranking.
    "emb01_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin,
    // emb11: emb01's brute SQL with the metadata predicate on the corpus
    // side — pre-filter semantics are exactly expressible, so the hybrid
    // search contract sits in the hard gate.
    "emb11_filtered_ann" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id AND e.vec_id % 3 = 0
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin,
    // emb13: sign-bit packing is exactly expressible — two 32-bit words
    // (1<<63 range-errors in DuckDB; the two-word form is engine-safe),
    // integer Hamming rank with vec_id tie-break, then emb01's exact
    // cosine over the candidate set. First Hamming-ANN query in the hard
    // gate.
    "emb13_ann_binary" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    CAST(list_aggregate(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
        |        THEN (CAST(1 AS BIGINT) << (i-1)) ELSE CAST(0 AS BIGINT) END), 'sum')
        |      AS BIGINT) AS w0,
        |    CAST(list_aggregate(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN CAST(embedding[i+32] AS DOUBLE) > 0
        |        THEN (CAST(1 AS BIGINT) << (i-1)) ELSE CAST(0 AS BIGINT) END), 'sum')
        |      AS BIGINT) AS w1
        |  FROM embeddings
        |), q0 AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
        |), qb AS (
        |  SELECT q0.query_id, b.w0 AS qw0, b.w1 AS qw1
        |  FROM q0 JOIN b ON b.vec_id = q0.query_id
        |), cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT qb.query_id, b.vec_id,
        |      row_number() OVER (PARTITION BY qb.query_id
        |        ORDER BY bit_count(xor(b.w0, qb.qw0)) + bit_count(xor(b.w1, qb.qw1)) ASC,
        |          b.vec_id ASC) AS crank
        |    FROM b, qb WHERE b.vec_id <> qb.query_id
        |  ) WHERE crank <= 60
        |), scored AS (
        |  SELECT c.query_id, c.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN q0 q ON q.query_id = c.query_id
        |)
        |SELECT query_id, vec_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin,
    // emb14: exact MIPS — emb01's scored CTE with the norm division
    // dropped, over the float-rounded magnitude-planted corpus;
    // identical ordered double summation, same tie-break.
    "emb14_mips_topk" ->
      """WITH scaled AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
        |      * (1.0 + (vec_id % 7) * 0.1) AS FLOAT)) AS embedding
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM scaled WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    AS dot
        |  FROM scaled e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, vec_id, round(dot, 4) AS dot, rank FROM (
        |  SELECT query_id, vec_id, dot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 5""".stripMargin,
    // emb15: range search — emb01's scored CTE thresholded on the rounded
    // cosine, over the twin-planted corpus rebuilt in SQL (float-rounded
    // element edits, same IEEE casts as the Spark transform).
    "emb15_range_search" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |), tw1 AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_concat([CAST(CAST(embedding[1] AS DOUBLE) + 0.05 AS FLOAT)],
        |      embedding[2:]) AS embedding
        |  FROM base WHERE vec_id < 3
        |), tw2 AS (
        |  SELECT vec_id + 2000000 AS vec_id,
        |    list_concat([embedding[1],
        |      CAST(CAST(embedding[2] AS DOUBLE) + 1.0 AS FLOAT)],
        |      embedding[3:]) AS embedding
        |  FROM base WHERE vec_id < 3
        |), corpus AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM tw1 UNION ALL SELECT * FROM tw2
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM base WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4) AS cos
        |  FROM corpus e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, vec_id, cos FROM scored WHERE cos >= 0.9""".stripMargin,
    // emb07: SQ8 ANN — the scales cancel in the quantized cosine, so the
    // candidate ranking is INTEGER dots + one exact-rounded sqrt/divide
    // (bit-identical across engines); the refine set re-scores with
    // emb01's exact cosine arithmetic. round() is half-away-from-zero in
    // both engines for the code quantization.
    "emb07_ann_sq8" -> Sq8Sql,
    "emb08_ann_sq8_store" -> Sq8Sql,
    // g01: host PageRank — the oracle unrolls the power iteration (same
    // edge derivation, per-step 10 dp rounding, dangling redistribution),
    // generated from one place so iters/damping can't drift.
    "q47_not_in_null" ->
      """SELECT 'no_null' AS op, c_custkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'with_null' AS op, c_custkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
        |   FROM orders)
        |ORDER BY op, c_custkey""".stripMargin,
    "q46_ignore_nulls" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'click' THEN NULL ELSE round(value, 2) END AS x
        |  FROM events
        |)
        |SELECT CAST(event_id AS BIGINT) AS event_id,
        |  last_value(x IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_fwd,
        |  lag(x, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_nn,
        |  lead(x, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_nn
        |FROM e ORDER BY event_id""".stripMargin,
    "q45_lateral_join" ->
      """SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, acctbal DESC, c.c_name""".stripMargin,
    "q44_bitwise_agg" ->
      """SELECT l_returnflag,
        |  CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS mask_and,
        |  CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS mask_or,
        |  CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS mask_xor,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q43_setops_all" ->
      """SELECT 'except_all' AS op, o_custkey FROM
        |  (SELECT o_custkey FROM orders
        |   EXCEPT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'intersect_all' AS op, o_custkey FROM
        |  (SELECT o_custkey FROM orders
        |   INTERSECT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY op, o_custkey""".stripMargin,
    "q42_correlated_scalar" ->
      """SELECT c_custkey,
        |  round(coalesce((SELECT max(o.o_totalprice) FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey), 0.0), 2) AS max_order
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "q41_map_functions" ->
      """SELECT o_custkey,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |  CAST(count(*) AS BIGINT) AS n_total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "g01_host_pagerank" -> operators.GraphOps.pageRankOracleSql(),
    "g04_host_hits" -> operators.GraphOps.hitsOracleSql(),
    "g05_host_components" -> operators.GraphOps.hostComponentsOracleSql(),
    "g06_host_trustrank" -> operators.GraphOps.trustRankOracleSql(),
    "g07_anchor_text" -> operators.GraphOps.anchorTextOracleSql(),
    "g09_triangles" -> operators.GraphOps.trianglesOracleSql(),
    "g11_communities" -> operators.GraphOps.lpaOracleSql(),
    "g12_hop_distance" -> operators.GraphOps.hopOracleSql(),
    // g13: the g12 oracle with the seed column carried through every
    // unrolled round; same 1e6 fixed-point 1/d quantization both sides
    "g13_harmonic_centrality" -> operators.GraphOps.harmonicOracleSql(),
    // g14: the g12 edge derivation, then the same exact integer moments
    "g14_assortativity" -> operators.GraphOps.assortativityOracleSql(),
    // g15: the g12 edge derivation, then the same reverse-edge count
    "g15_reciprocity" -> operators.GraphOps.reciprocityOracleSql(),
    // g16: the g12 edge derivation; triangles enumerated once (x<y<z)
    // where Spark folds g09's per-node counts /3 — same total
    "g16_transitivity" -> operators.GraphOps.transitivityOracleSql(),
    // g17: same thinned edges, pivot rule, and unrolled closures
    "g17_bowtie" -> operators.GraphOps.bowTieOracleSql(),
    // g18: all-source unrolled BFS + identical histogram arithmetic
    "g18_effective_diameter" ->
      operators.GraphOps.distanceHistogramOracleSql(),
    // g19: same dense edges, shared-destination join, integer Jaccard
    "g19_cocitation" -> operators.GraphOps.cocitationOracleSql(),
    // g20: g11's unrolled LPA + identical cleared-denominator arithmetic
    "g20_modularity" -> operators.GraphOps.modularityOracleSql(),
    // g21: the g01 chain twice (thinned citing set), identical rank
    // join and rho arithmetic
    "g21_rank_stability" -> operators.GraphOps.rankStabilityOracleSql(),
    // t56: t45's tokenizer; same quantized entropy terms and integer
    // flag comparison
    "t56_token_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), per AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c * CAST(round(log2(c) * 1e6) AS BIGINT)) AS BIGINT)
        |      AS term_q
        |  FROM c GROUP BY 1
        |), h AS (
        |  SELECT *, n_tokens * CAST(round(log2(n_tokens) * 1e6) AS BIGINT)
        |    - term_q AS hq
        |  FROM per
        |)
        |SELECT doc_id, n_tokens, vocab,
        |  round(CAST(hq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6), 4)
        |    AS entropy_bits,
        |  hq < 4 * n_tokens * 1000000 AS low_entropy
        |FROM h ORDER BY doc_id""".stripMargin,
    // c99: same forecast shape and standard-model curve; breach compared
    // on rounded integer ppm
    "c99_bloom_capacity" ->
      """WITH base AS (
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
        |FROM f ORDER BY epoch""".stripMargin,
    // q84: same daily-max cents, exact moments, embedded sqrt6/pi and
    // Euler constants, identical association
    "q84_gumbel_return" ->
      """WITH mx AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    max(CAST(round(value * 100) AS BIGINT)) AS mx
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(mx) AS BIGINT) AS s,
        |    CAST(sum(mx * mx) AS BIGINT) AS ss
        |  FROM mx GROUP BY 1
        |), f AS (
        |  SELECT *,
        |    CAST(s AS DOUBLE) / n_blocks AS mean_max,
        |    sqrt((CAST(ss AS DOUBLE) / n_blocks
        |      - (CAST(s AS DOUBLE) / n_blocks)
        |      * (CAST(s AS DOUBLE) / n_blocks))
        |      * CAST(n_blocks AS DOUBLE)
        |      / (CAST(n_blocks AS DOUBLE) - 1.0)) AS sd
        |  FROM m
        |), g AS (
        |  SELECT *, sd * 0.7796968012336793 AS beta,
        |    mean_max - 0.5772156649015329 * (sd * 0.7796968012336793)
        |      AS mu
        |  FROM f
        |)
        |SELECT event_type, n_blocks, s, ss,
        |  round(mean_max, 4) AS mean_max,
        |  round(sd, 4) AS sd_max,
        |  round(mu, 4) AS gumbel_mu,
        |  round(beta, 4) AS gumbel_beta,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 100.0)), 4)
        |    AS return_level_100d
        |FROM g ORDER BY event_type""".stripMargin,
    // c97: same (ts, event_id)-ordered gaps in exact ms; variance in
    // doubles from the integer moments, B rounded before banding
    "c97_burstiness" ->
      """WITH t AS (
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
        |FROM b ORDER BY event_type""".stripMargin,
    // q82: same per-supplier integer basis, same deterministic
    // (slope, dy, dx, pair) order, same lower-median pick
    "q82_theil_sen" ->
      """WITH per AS (
        |  SELECT l_returnflag, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), s AS (
        |  SELECT a.l_returnflag,
        |    b.qty - a.qty AS dx, b.cents - a.cents AS dy,
        |    CAST(b.cents - a.cents AS DOUBLE)
        |      / CAST(b.qty - a.qty AS DOUBLE) AS slope,
        |    a.l_suppkey AS ka, b.l_suppkey AS kb
        |  FROM per a JOIN per b ON a.l_returnflag = b.l_returnflag
        |    AND a.l_suppkey < b.l_suppkey
        |  WHERE b.qty - a.qty <> 0
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY slope, dy, dx, ka, kb) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS m
        |  FROM s
        |)
        |SELECT l_returnflag, CAST(m AS BIGINT) AS n_pairs,
        |  dy AS med_dy, dx AS med_dx,
        |  round(slope, 6) AS theil_sen_slope
        |FROM r WHERE rn = (m + 1) // 2
        |ORDER BY l_returnflag""".stripMargin,
    // q83: same daily aggregation, pair signs, tie correction, and
    // continuity-corrected z
    "q83_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT a.event_type, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day
        |  GROUP BY 1
        |), ties AS (
        |  SELECT event_type,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
        |    CAST(sum(t) AS BIGINT) AS n
        |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
        |    FROM daily GROUP BY 1, 2)
        |  GROUP BY 1
        |), j AS (
        |  SELECT s.event_type, s.s, ties.n,
        |    n * (n - 1) * (2 * n + 5) - tie_term AS var18
        |  FROM s JOIN ties USING (event_type)
        |), zt AS (
        |  SELECT *, CASE
        |    WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z
        |  FROM j
        |)
        |SELECT event_type, n AS n_days, s, var18, round(z, 4) AS z,
        |  CASE WHEN round(z, 4) >= 1.96 THEN 'rising'
        |       WHEN round(z, 4) <= -1.96 THEN 'falling'
        |       ELSE 'no_trend' END AS verdict
        |FROM zt ORDER BY event_type""".stripMargin,
    // q85: same lower-median split, lag transitions, and z association
    "q85_runs_test" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT *,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN x END)
        |      OVER (PARTITION BY event_type) AS med
        |  FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY x, day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM daily)
        |), signed AS (
        |  SELECT event_type, day,
        |    CASE WHEN x > med THEN 1 ELSE 0 END AS above
        |  FROM med WHERE x <> med
        |), runs AS (
        |  SELECT event_type, above,
        |    CASE WHEN lag(above) OVER (PARTITION BY event_type
        |        ORDER BY day) IS DISTINCT FROM above THEN 1 ELSE 0 END
        |      AS new_run
        |  FROM signed
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(new_run) AS BIGINT) AS r,
        |    CAST(sum(above) AS BIGINT) AS n_plus,
        |    CAST(sum(1 - above) AS BIGINT) AS n_minus
        |  FROM runs GROUP BY 1
        |), f AS (
        |  SELECT *, n_plus + n_minus AS nn,
        |    2.0 * n_plus * n_minus / CAST(n_plus + n_minus AS DOUBLE)
        |      + 1.0 AS mu_r
        |  FROM m
        |), z AS (
        |  SELECT *,
        |    round((CAST(r AS DOUBLE) - mu_r)
        |      / sqrt((mu_r - 1.0) * (mu_r - 2.0)
        |        / (CAST(nn AS DOUBLE) - 1.0)), 4) AS z
        |  FROM f
        |)
        |SELECT event_type, nn AS n_days_offmedian, n_plus, n_minus,
        |  r AS n_runs, round(mu_r, 4) AS expected_runs, z,
        |  CASE WHEN z <= -1.96 THEN 'clustered'
        |       WHEN z >= 1.96 THEN 'alternating'
        |       ELSE 'random' END AS verdict
        |FROM z ORDER BY event_type""".stripMargin,
    // q86: isodow == weekday()+1; same quantized between-group terms
    // and lift/eta2 arithmetic
    "q86_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), d AS (
        |  SELECT *, CAST(isodow(day) AS BIGINT) AS dow FROM daily
        |), perdow AS (
        |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(x) AS BIGINT) AS sx
        |  FROM d GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx_all,
        |    CAST(sum(x * x) AS BIGINT) AS ssx_all
        |  FROM d GROUP BY 1
        |), j AS (
        |  SELECT p.*, t.n_days, t.sx_all, t.ssx_all,
        |    (10000 * p.sx * t.n_days) // (p.nd * t.sx_all) AS lift_bp,
        |    CAST(round(CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)
        |      / CAST(p.nd AS DOUBLE) * 1e6) AS BIGINT) AS ssb_term_q
        |  FROM perdow p JOIN tot t USING (event_type)
        |), jj AS (
        |  SELECT *, max(lift_bp) OVER (PARTITION BY event_type)
        |    AS max_lift
        |  FROM j
        |), g AS (
        |  SELECT event_type, max(n_days) AS n_days,
        |    max(sx_all) AS sx_all, max(ssx_all) AS ssx_all,
        |    CAST(sum(ssb_term_q) AS BIGINT) AS ssb_q,
        |    min(CASE WHEN lift_bp = max_lift THEN dow END) AS peak_dow,
        |    CAST(max(max_lift) AS BIGINT) AS peak_lift_bp
        |  FROM jj GROUP BY 1
        |), f AS (
        |  SELECT *, CAST(round(CAST(sx_all AS DOUBLE)
        |    * CAST(sx_all AS DOUBLE) / CAST(n_days AS DOUBLE) * 1e6)
        |    AS BIGINT) AS grand_q
        |  FROM g
        |)
        |SELECT event_type, n_days, sx_all, ssb_q, grand_q,
        |  round(CAST(ssb_q - grand_q AS DOUBLE)
        |    / (CAST(ssx_all AS DOUBLE) * 1e6 - CAST(grand_q AS DOUBLE)),
        |    4) AS eta2,
        |  peak_dow, peak_lift_bp
        |FROM f ORDER BY event_type""".stripMargin,
    // q87: same integer centering and per-lag blocks
    "q87_autocorrelation" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), cc AS (
        |  SELECT event_type, day,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
        |      - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS c
        |  FROM daily
        |), l1 AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS k,
        |    CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN ck IS NOT NULL THEN c * ck ELSE 0 END)
        |      AS BIGINT) AS num,
        |    CAST(sum(c * c) AS BIGINT) AS den
        |  FROM (SELECT *, lag(c, 1) OVER (PARTITION BY event_type
        |    ORDER BY day) AS ck FROM cc)
        |  GROUP BY 1
        |), l7 AS (
        |  SELECT event_type, CAST(7 AS BIGINT) AS k,
        |    CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN ck IS NOT NULL THEN c * ck ELSE 0 END)
        |      AS BIGINT) AS num,
        |    CAST(sum(c * c) AS BIGINT) AS den
        |  FROM (SELECT *, lag(c, 7) OVER (PARTITION BY event_type
        |    ORDER BY day) AS ck FROM cc)
        |  GROUP BY 1
        |), u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l7)
        |SELECT event_type, k, n_days, num, den,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS acf
        |FROM u ORDER BY event_type, k""".stripMargin,
    // q79: same doubled-tied-rank histogram; z from identical integers
    // with identical association
    "q79_mannwhitney" ->
      """WITH hist AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), types AS (SELECT DISTINCT event_type FROM hist),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM types a JOIN types b ON a.event_type < b.event_type
        |), m AS (
        |  SELECT ta, tb, value,
        |    CAST(sum(CASE WHEN event_type = ta THEN cnt ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = tb THEN cnt ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM pairs JOIN hist ON event_type = ta OR event_type = tb
        |  GROUP BY 1, 2, 3
        |), r AS (
        |  SELECT ta, tb, ca, cb, ca + cb AS t,
        |    2 * sum(ca + cb) OVER (PARTITION BY ta, tb ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (ca + cb) + 1 AS avg2
        |  FROM m
        |), g AS (
        |  SELECT ta AS type_a, tb AS type_b,
        |    CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(ca * avg2) AS BIGINT) AS r2_a,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, n_a, n_b,
        |  r2_a - n_a * (n_a + 1) AS u2_a,
        |  (10000 * (r2_a - n_a * (n_a + 1))) // (2 * n_a * n_b) AS auc_bp,
        |  round((CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
        |      - CAST(n_a * n_b AS DOUBLE))
        |    / (2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
        |          * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
        |      / 12.0)), 4) AS z
        |FROM g ORDER BY type_a, type_b""".stripMargin,
    // q80: same merged histogram; sup-gap numerator cross-multiplied to
    // a BIGINT max; D and c from identical integers
    "q80_ks_test" ->
      """WITH hist AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), types AS (SELECT DISTINCT event_type FROM hist),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM types a JOIN types b ON a.event_type < b.event_type
        |), m AS (
        |  SELECT ta, tb, value,
        |    CAST(sum(CASE WHEN event_type = ta THEN cnt ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = tb THEN cnt ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM pairs JOIN hist ON event_type = ta OR event_type = tb
        |  GROUP BY 1, 2, 3
        |), c AS (
        |  SELECT ta, tb, ca, cb,
        |    sum(ca) OVER (PARTITION BY ta, tb ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (PARTITION BY ta, tb ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER (PARTITION BY ta, tb) AS na,
        |    sum(cb) OVER (PARTITION BY ta, tb) AS nb
        |  FROM m
        |), g AS (
        |  SELECT ta AS type_a, tb AS type_b,
        |    CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, n_a, n_b, ks_num,
        |  round(CAST(ks_num AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
        |  round(CAST(ks_num AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |    * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 4) AS c_stat
        |FROM g ORDER BY type_a, type_b""".stripMargin,
    // q81: same decimal-substring digit, same embedded ppm constants,
    // same (O-E)^2/E association
    "q81_benford" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit
        |  FROM cents WHERE cents > 0
        |), obs AS (
        |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
        |bf AS (
        |  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) AS v(digit, exp_ppm)
        |), j AS (
        |  SELECT CAST(bf.digit AS BIGINT) AS digit,
        |    coalesce(obs.n, 0) AS n,
        |    CAST(bf.exp_ppm AS BIGINT) AS exp_ppm, nt,
        |    CAST(nt * bf.exp_ppm AS DOUBLE) / 1e6 AS e
        |  FROM bf LEFT JOIN obs ON obs.digit = bf.digit CROSS JOIN tot
        |)
        |SELECT digit, n, (1000000 * n) // nt AS obs_ppm, exp_ppm,
        |  (1000000 * n) // nt - exp_ppm AS delta_ppm,
        |  round((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 4)
        |    AS chi2_term
        |FROM j ORDER BY digit""".stripMargin,
    // q78: same integer-log quantization (t45 discipline), same three
    // sums; the exact decomposition identity is hashed via the boolean
    "q78_theil" ->
      """WITH x AS (
        |  SELECT source, greatest(n_chars, 1) AS x FROM documents
        |), per AS (
        |  SELECT source, CAST(sum(x) AS BIGINT) AS sg,
        |    CAST(count(*) AS BIGINT) AS ng
        |  FROM x GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(sg) AS BIGINT) AS s, CAST(sum(ng) AS BIGINT) AS n
        |  FROM per
        |), sums AS (
        |  SELECT
        |    CAST(sum(x.x * (CAST(round(log2(x.x) * 1e6) AS BIGINT)
        |      + CAST(round(log2(t.n) * 1e6) AS BIGINT)
        |      - CAST(round(log2(t.s) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS tq_total,
        |    CAST(sum(x.x * (CAST(round(log2(x.x) * 1e6) AS BIGINT)
        |      + CAST(round(log2(p.ng) * 1e6) AS BIGINT)
        |      - CAST(round(log2(p.sg) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS tq_within,
        |    max(t.s) AS s, max(t.n) AS n
        |  FROM x JOIN per p ON p.source = x.source CROSS JOIN tot t
        |), btw AS (
        |  SELECT CAST(sum(p.sg * (CAST(round(log2(p.sg) * 1e6) AS BIGINT)
        |    + CAST(round(log2(t.n) * 1e6) AS BIGINT)
        |    - CAST(round(log2(p.ng) * 1e6) AS BIGINT)
        |    - CAST(round(log2(t.s) * 1e6) AS BIGINT))) AS BIGINT)
        |    AS tq_between
        |  FROM per p CROSS JOIN tot t
        |)
        |SELECT n, s AS total_chars,
        |  round(CAST(tq_total AS DOUBLE) / (CAST(s AS DOUBLE) * 1e6), 4)
        |    AS theil_total,
        |  round(CAST(tq_between AS DOUBLE) / (CAST(s AS DOUBLE) * 1e6), 4)
        |    AS theil_between,
        |  round(CAST(tq_within AS DOUBLE) / (CAST(s AS DOUBLE) * 1e6), 4)
        |    AS theil_within,
        |  tq_total = tq_between + tq_within AS decomposition_exact
        |FROM sums CROSS JOIN btw""".stripMargin,
    // t49: t07's labels + the same md5 cluster-hash split; the zero
    // cross-split pair count is part of the hashed result
    "t49_cluster_split" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), labels AS (
          |  SELECT id AS doc_id, min(node) AS component FROM reach GROUP BY id
          |), sp AS (
          |  SELECT c.doc_id,
          |    coalesce(l.component, c.doc_id) AS component,
          |    CASE ('0x' || substr(md5('split:' ||
          |        CAST(coalesce(l.component, c.doc_id) AS VARCHAR)), 1, 6))
          |        ::BIGINT % 10
          |      WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split
          |  FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id
          |), leak AS (
          |  SELECT CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
          |    AS BIGINT) AS cross_split_dup_pairs
          |  FROM dup_pairs p
          |  JOIN sp a ON a.doc_id = p.doc_a
          |  JOIN sp b ON b.doc_id = p.doc_b
          |)
          |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
          |  cross_split_dup_pairs
          |FROM sp CROSS JOIN leak
          |GROUP BY split, cross_split_dup_pairs ORDER BY split""".stripMargin),
    // c94: identical md5 delay/budget draws; least() + deterministic
    // precedence for the limiting factor — all integers and strings
    "c94_throughput_ceiling" ->
      """WITH demand AS (
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
        |FROM c ORDER BY host""".stripMargin,
    // t50: same integer bp arithmetic; en share fixed, remainder split
    // by integer div — hash-exact
    "t50_mixture_solver" ->
      """WITH avail AS (
        |  SELECT lang,
        |    CAST(sum(greatest(n_chars, 1)) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(sum(avail_tokens) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n_langs
        |  FROM avail
        |), solved AS (
        |  SELECT lang, avail_tokens,
        |    (t * 5000) // 10000 AS budget_tokens,
        |    CASE WHEN lang = 'en' THEN 4000
        |      ELSE (10000 - 4000) // (n_langs - 1) END AS share_bp
        |  FROM avail CROSS JOIN tot
        |), rated AS (
        |  SELECT lang, avail_tokens, share_bp,
        |    (budget_tokens * share_bp) // 10000 AS desired_tokens,
        |    least(10000, (10000 * ((budget_tokens * share_bp) // 10000))
        |      // avail_tokens) AS rate_bp
        |  FROM solved
        |)
        |SELECT lang, avail_tokens, share_bp, desired_tokens, rate_bp,
        |  (avail_tokens * rate_bp) // 10000 AS expected_tokens,
        |  greatest(desired_tokens - (avail_tokens * rate_bp) // 10000, 0)
        |    AS unmet_tokens,
        |  rate_bp = 10000 AND desired_tokens > avail_tokens
        |    AS supply_limited
        |FROM rated ORDER BY lang""".stripMargin,
    // t51: the t08 CTE prefix supplies the keep-list; same byte mass (strlen/octet_length)
    // byte mass, integer bp shares, and quantized KL terms
    "t51_dedup_shift" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), lb AS (
          |  SELECT d.lang, CAST(count(*) AS BIGINT) AS docs_before,
          |    CAST(sum(strlen(c.text)) AS BIGINT) AS bytes_before
          |  FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 1000000
          |  GROUP BY 1
          |), la AS (
          |  SELECT d.lang, CAST(count(*) AS BIGINT) AS docs_after,
          |    CAST(sum(strlen(c.text)) AS BIGINT) AS bytes_after
          |  FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 1000000
          |  WHERE c.doc_id NOT IN (SELECT id FROM drops)
          |  GROUP BY 1
          |), j AS (
          |  SELECT * FROM lb JOIN la USING (lang)
          |), tot AS (
          |  SELECT CAST(sum(bytes_before) AS BIGINT) AS tot_before,
          |    CAST(sum(bytes_after) AS BIGINT) AS tot_after
          |  FROM j
          |)
          |SELECT lang, docs_before, docs_after, bytes_before, bytes_after,
          |  (10000 * bytes_before) // tot_before AS share_before_bp,
          |  (10000 * bytes_after) // tot_after AS share_after_bp,
          |  (10000 * bytes_after) // tot_after
          |    - (10000 * bytes_before) // tot_before AS shift_bp,
          |  bytes_after * (CAST(round(log2(bytes_after) * 1e6) AS BIGINT)
          |    - CAST(round(log2(tot_after) * 1e6) AS BIGINT)
          |    - CAST(round(log2(bytes_before) * 1e6) AS BIGINT)
          |    + CAST(round(log2(tot_before) * 1e6) AS BIGINT)) AS klq_term
          |FROM j CROSS JOIN tot ORDER BY lang""".stripMargin),
    // t55: t08's drops CTE; same 2x2 cells and Haldane association
    "t55_dup_quality" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), drops AS (
          |  SELECT id FROM (SELECT id, min(node) AS comp FROM reach GROUP BY id)
          |  WHERE id <> comp
          |), q AS (
          |  SELECT doc_id,
          |    CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 30
          |      THEN 1 ELSE 0 END AS pass
          |  FROM corpus
          |), c2 AS (
          |  SELECT q.pass,
          |    CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END AS dropped
          |  FROM q LEFT JOIN drops d ON d.id = q.doc_id
          |), cells AS (
          |  SELECT
          |    CAST(sum(pass * (1 - dropped)) AS BIGINT) AS pass_kept,
          |    CAST(sum(pass * dropped) AS BIGINT) AS pass_dropped,
          |    CAST(sum((1 - pass) * (1 - dropped)) AS BIGINT) AS fail_kept,
          |    CAST(sum((1 - pass) * dropped) AS BIGINT) AS fail_dropped
          |  FROM c2
          |)
          |SELECT pass_kept, pass_dropped, fail_kept, fail_dropped,
          |  (10000 * pass_dropped) // (pass_kept + pass_dropped)
          |    AS pass_drop_bp,
          |  (10000 * fail_dropped) // (fail_kept + fail_dropped)
          |    AS fail_drop_bp,
          |  round((CAST(fail_dropped AS DOUBLE) + 0.5)
          |    * (CAST(pass_kept AS DOUBLE) + 0.5)
          |    / ((CAST(fail_kept AS DOUBLE) + 0.5)
          |      * (CAST(pass_dropped AS DOUBLE) + 0.5)), 4) AS odds_ratio,
          |  round(ln((CAST(fail_dropped AS DOUBLE) + 0.5)
          |    * (CAST(pass_kept AS DOUBLE) + 0.5)
          |    / ((CAST(fail_kept AS DOUBLE) + 0.5)
          |      * (CAST(pass_dropped AS DOUBLE) + 0.5))), 4) AS log_odds
          |FROM cells""".stripMargin),
    // t52: same word-3-gram shingles over RAW documents (no plant);
    // first-occurrence min + cumulative window, BIGINT bp
    "t52_diversity_curve" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id // 100 AS shard,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT shard, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |    AS sh
        |  FROM (SELECT doc_id, shard, t,
        |    unnest(generate_series(1, greatest(len(t)-2, 0))) AS i
        |    FROM toks)
        |), fo AS (
        |  SELECT sh, min(shard) AS first_shard FROM sh GROUP BY sh
        |), pershard AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_types
        |  FROM sh GROUP BY shard
        |), news AS (
        |  SELECT first_shard AS shard, CAST(count(*) AS BIGINT)
        |    AS n_new_types
        |  FROM fo GROUP BY 1
        |), nd AS (
        |  SELECT doc_id // 100 AS shard, CAST(count(*) AS BIGINT)
        |    AS n_docs
        |  FROM documents GROUP BY 1
        |)
        |SELECT p.shard, nd.n_docs, p.n_types,
        |  coalesce(nw.n_new_types, 0) AS n_new_types,
        |  CAST(sum(coalesce(nw.n_new_types, 0)) OVER (ORDER BY p.shard
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types,
        |  (10000 * coalesce(nw.n_new_types, 0)) // p.n_types
        |    AS novelty_bp
        |FROM pershard p
        |JOIN nd ON nd.shard = p.shard
        |LEFT JOIN news nw ON nw.shard = p.shard
        |ORDER BY p.shard""".stripMargin,
    // t48: t07's reachability CTE, then the same two group-bys
    "t48_cluster_sizes" ->
      (ngramPairSql +
        """, edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
          |  UNION
          |  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
          |), reach AS (
          |  SELECT src AS id, src AS node FROM edges
          |  UNION
          |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
          |), labels AS (
          |  SELECT id AS doc_id, min(node) AS component FROM reach GROUP BY id
          |), csizes AS (
          |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          |  FROM labels GROUP BY component
          |)
          |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
          |  cluster_size * CAST(count(*) AS BIGINT) AS n_docs,
          |  (cluster_size - 1) * CAST(count(*) AS BIGINT) AS removable
          |FROM csizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    // c93: identical md5 base/noise draws (t21/c45 parity), identical
    // BIGINT moment combinations, one rounded division each
    "c93_byte_forecast" ->
      """WITH hosts AS (
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
        |FROM m ORDER BY host""".stripMargin,
    // c95: same md5-seeded attempt synthesis; terminal streak =
    // FcEpochs - last success, classified and rolled up per host
    "c95_url_mortality" ->
      """WITH att AS (
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
        |FROM cls GROUP BY host ORDER BY host""".stripMargin,
    // c98: c93's demand synthesis; Lindley backlog via the identical
    // prefix-min closed form (null-skipping least/min = W0 = 0)
    "c98_backlog_lindley" ->
      """WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
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
        |FROM w GROUP BY host ORDER BY host""".stripMargin,
    // c96: same md5 synthesis and tier thresholds; lambda/interval from
    // the identical capped rational
    "c96_change_rate" ->
      """WITH vis AS (
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
        |FROM capped ORDER BY host""".stripMargin,
    // c92: identical md5 change draws + integer intervals (c45 parity),
    // identical age round-robin, BIGINT rollup
    "c92_freshness_sla" ->
      """WITH hist AS (
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
        |FROM per GROUP BY host ORDER BY host""".stripMargin,
    // t47: same t38 tokenizer, same parity split, same conditional agg
    "t47_vocab_churn" ->
      """WITH toks AS (
        |  SELECT lang, doc_id % 2 AS epoch,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), per AS (
        |  SELECT lang, tok,
        |    CAST(sum(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cnt_prev,
        |    CAST(sum(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cnt_cur
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), cur AS (SELECT * FROM per WHERE cnt_cur > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS cur_types,
        |  CAST(sum(CASE WHEN cnt_prev = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_types,
        |  (10000 * CAST(sum(CASE WHEN cnt_prev = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT)) // count(*) AS type_churn_bp,
        |  CAST(sum(cnt_cur) AS BIGINT) AS cur_tokens,
        |  CAST(sum(CASE WHEN cnt_prev = 0 THEN cnt_cur ELSE 0 END)
        |    AS BIGINT) AS oov_tokens,
        |  (10000 * CAST(sum(CASE WHEN cnt_prev = 0 THEN cnt_cur ELSE 0
        |    END) AS BIGINT)) // CAST(sum(cnt_cur) AS BIGINT) AS oov_bp
        |FROM cur GROUP BY lang ORDER BY lang""".stripMargin,
    // t42: same tokenization, same integer add-one bigram model, same
    // 1e-6 log2 quantization (the t39 discipline) — BIGINT sums both
    // sides, one final rounded division
    "t42_bigram_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS l
        |  FROM documents
        |), docs2 AS (SELECT doc_id, l FROM toks WHERE len(l) >= 2),
        |inst AS (
        |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM docs2, unnest(range(1, len(l))) AS t(i)
        |  GROUP BY doc_id, w1, w2
        |), c12 AS (
        |  SELECT w1, w2, sum(m) AS c12 FROM inst GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, sum(m) AS c1 FROM inst GROUP BY w1
        |), voc AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(l) AS tok FROM docs2)
        |), scored AS (
        |  SELECT i.doc_id, i.m,
        |    CAST(round(log2(c12.c12 + 1) * 1e6) AS BIGINT)
        |      - CAST(round(log2(c1.c1 + voc.v) * 1e6) AS BIGINT) AS qlp
        |  FROM inst i
        |  JOIN c12 ON i.w1 = c12.w1 AND i.w2 = c12.w2
        |  JOIN c1 ON i.w1 = c1.w1
        |  CROSS JOIN voc
        |)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(m * qlp) AS DOUBLE) / sum(m) / 1e6, 4)
        |    AS bits_per_bigram
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // c87: same per-source BIGINT moments, same integer-div share
    "c87_budget_fairness" ->
      """WITH per AS (
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
        |FROM agg ORDER BY measure""".stripMargin,
    // c86: same placeholder-payload view, same md5 grouping and
    // (n_dup desc, md5 asc) argmax; integer-div basis points
    "c86_parked_hosts" ->
      """WITH pages AS (
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
        |FROM ranked WHERE rn = 1 ORDER BY source""".stripMargin,
    // t38: same tokenization (lowercased alphanumeric runs), same
    // two-level histogram rollup; ratios rounded 4 dp on both sides
    "t38_lexical_diversity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
        |)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 4) AS ttr,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS hapax_frac
        |FROM tc GROUP BY doc_id""".stripMargin,
    // q74: same 1e-6 log2 / 1e9 reciprocal fixed-point terms, BIGINT
    // sums, one final expression each — hash-exact
    "q74_means" ->
      """WITH per AS (
        |  SELECT l_returnflag,
        |    CAST(round(log2(CAST(l_quantity AS BIGINT)) * 1e6) AS BIGINT)
        |      AS qlog,
        |    CAST(round(1e9 / CAST(l_quantity AS BIGINT)) AS BIGINT) AS qinv
        |  FROM lineitem
        |)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(pow(2.0, CAST(sum(qlog) AS DOUBLE) / count(*) / 1e6), 4)
        |    AS gmean_qty,
        |  round(CAST(count(*) AS DOUBLE) * 1e9 / CAST(sum(qinv) AS DOUBLE), 4)
        |    AS hmean_qty
        |FROM per GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q77: same per-supplier BIGINT aggregates, same pair-count
    // definitions (dx·dy sign), IEEE sqrt denominator — hash-exact
    "q77_kendall" ->
      """WITH per AS (
        |  SELECT l_returnflag, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.l_returnflag,
        |    a.qty - b.qty AS dx, a.cents - b.cents AS dy
        |  FROM per a JOIN per b
        |    ON a.l_returnflag = b.l_returnflag AND a.l_suppkey < b.l_suppkey
        |), cnt AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nd,
        |    CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM pairs GROUP BY 1
        |)
        |SELECT l_returnflag, n0, nc, nd, n1, n2,
        |  round(CAST(nc - nd AS DOUBLE)
        |    / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)), 4) AS tau_b
        |FROM cnt ORDER BY l_returnflag""".stripMargin,
    // emb20: same sequential double fold (emb01 parity), same float
    // drift plant (IEEE single multiply), same 1e6 quantization
    "emb20_norm_audit" ->
      """WITH planted AS (
        |  SELECT label, vec_id,
        |    CASE WHEN vec_id % 17 = 0
        |      THEN list_transform(embedding, x -> x * CAST(0.8 AS FLOAT))
        |      ELSE embedding END AS embedding
        |  FROM embeddings
        |), per AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(round(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') * 1e6)
        |      AS BIGINT) AS n2q,
        |    CAST(len(embedding) AS BIGINT) AS dim
        |  FROM planted
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  min(dim) AS min_dim, max(dim) AS max_dim,
        |  min(n2q) AS min_n2q, max(n2q) AS max_n2q,
        |  round(CAST(sum(n2q) AS DOUBLE) / count(*) / 1e6, 4) AS mean_norm2,
        |  CAST(sum(CASE WHEN n2q < 990000 OR n2q > 1010000 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_drifted,
        |  (10000 * CAST(sum(CASE WHEN n2q < 990000 OR n2q > 1010000
        |    THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS drifted_bp
        |FROM per GROUP BY label ORDER BY label""".stripMargin,
    // emb21: same quantized per-dim sums; parallel unnest zips the
    // component with its 0-based dim index
    "emb21_centroid_drift" ->
      """WITH base AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), drift AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(unnest(range(0, len(v))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(v) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |  FROM (
        |    SELECT label,
        |      CASE WHEN vec_id % 3 = 0
        |        THEN list_transform(embedding,
        |          x -> x * CAST(0.95 AS FLOAT) + CAST(0.02 AS FLOAT))
        |        ELSE embedding END AS v
        |    FROM embeddings)
        |), a AS (
        |  SELECT label, dim, CAST(sum(xq) AS BIGINT) AS sq_a,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1, 2
        |), b AS (
        |  SELECT label, dim, CAST(sum(xq) AS BIGINT) AS sq_b
        |  FROM drift GROUP BY 1, 2
        |), j AS (
        |  SELECT a.label, a.dim, a.n, b.sq_b - a.sq_a AS delta_q,
        |    max(abs(b.sq_b - a.sq_a)) OVER (PARTITION BY a.label)
        |      AS label_max
        |  FROM a JOIN b ON a.label = b.label AND a.dim = b.dim
        |)
        |SELECT label, max(n) AS n, CAST(count(*) AS BIGINT) AS dims,
        |  CAST(sum(delta_q * delta_q) AS BIGINT) AS l2q,
        |  max(abs(delta_q)) AS max_abs_delta_q,
        |  min(CASE WHEN abs(delta_q) = label_max THEN dim END)
        |    AS worst_dim,
        |  round(sqrt(CAST(sum(delta_q * delta_q) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) / (CAST(max(n) AS DOUBLE) * 1e6),
        |    6) AS rms_drift
        |FROM j GROUP BY label ORDER BY label""".stripMargin,
    // emb22: same quantized per-dim moments; variance/PR from identical
    // integers with identical association
    "emb22_dim_variance" ->
      """WITH pd AS (
        |  SELECT CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), m AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xq) AS BIGINT) AS s_q,
        |    CAST(sum(xq * xq) AS BIGINT) AS ss_q
        |  FROM pd GROUP BY dim
        |), v AS (
        |  SELECT *,
        |    CAST(ss_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e12
        |      - (CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
        |      * (CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
        |      AS variance
        |  FROM m
        |), q AS (
        |  SELECT *, CAST(round(variance * 1e9) AS BIGINT) AS vq FROM v
        |), t AS (
        |  SELECT CAST(sum(vq) AS BIGINT) AS sv,
        |    CAST(sum(vq * vq) AS BIGINT) AS svv
        |  FROM q
        |)
        |SELECT dim, n, s_q, ss_q,
        |  round(CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS mean,
        |  round(variance, 6) AS variance,
        |  vq < 100000 AS dead,
        |  round((CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |    / CAST(svv AS DOUBLE), 4) AS effective_dims
        |FROM q CROSS JOIN t ORDER BY dim""".stripMargin,
    // emb23: emb01's exact cosine + tie-break over the probe sample,
    // per-label purity from the same integers
    "emb23_knn_purity" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec,
        |    CAST(label AS BIGINT) AS probe_label
        |  FROM embeddings WHERE vec_id % 29 = 0
        |), scored AS (
        |  SELECT p.probe_id, p.probe_label, e.vec_id,
        |    CAST(e.label AS BIGINT) AS nlabel,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(p.pvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, p
        |  WHERE e.vec_id <> p.probe_id
        |), top AS (
        |  SELECT * FROM (
        |    SELECT probe_id, probe_label, nlabel,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY cos DESC, vec_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 5
        |)
        |SELECT probe_label AS label,
        |  CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
        |  CAST(count(*) AS BIGINT) AS n_neighbors,
        |  CAST(sum(CASE WHEN nlabel = probe_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matches,
        |  (10000 * CAST(sum(CASE WHEN nlabel = probe_label THEN 1 ELSE 0
        |    END) AS BIGINT)) // count(*) AS purity_bp
        |FROM top GROUP BY 1 ORDER BY label""".stripMargin,
    // emb24: same exact cosine; per-probe best-same/best-diff maxima,
    // margins quantized before the sum
    "emb24_margin_violations" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec,
        |    CAST(label AS BIGINT) AS probe_label
        |  FROM embeddings WHERE vec_id % 17 = 0
        |), scored AS (
        |  SELECT p.probe_id, p.probe_label,
        |    CAST(e.label AS BIGINT) AS nlabel,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(p.pvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, p
        |  WHERE e.vec_id <> p.probe_id
        |), per AS (
        |  SELECT probe_id, probe_label,
        |    max(CASE WHEN nlabel = probe_label THEN cos END) AS best_same,
        |    max(CASE WHEN nlabel <> probe_label THEN cos END) AS best_diff
        |  FROM scored GROUP BY 1, 2
        |), v AS (
        |  SELECT probe_label,
        |    CASE WHEN best_same IS NULL OR best_diff > best_same
        |      THEN 1 ELSE 0 END AS violated,
        |    CAST(round((coalesce(best_same, -1.0) - best_diff) * 1e6)
        |      AS BIGINT) AS margin_q
        |  FROM per
        |)
        |SELECT probe_label AS label, CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(sum(violated) AS BIGINT) AS n_violated,
        |  (10000 * CAST(sum(violated) AS BIGINT)) // count(*)
        |    AS violation_bp,
        |  CAST(sum(margin_q) AS BIGINT) AS sum_margin_q,
        |  round(CAST(sum(margin_q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1e6, 4) AS mean_margin
        |FROM v GROUP BY 1 ORDER BY label""".stripMargin,
    // emb25: same quantized cross-moments; covariances quantized before
    // the energy sums with identical association
    "emb25_anisotropy" ->
      """WITH comps AS (
        |  SELECT vec_id,
        |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), cm AS (
        |  SELECT a.dim AS i, b.dim AS j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a.xq * b.xq) AS BIGINT) AS sij
        |  FROM comps a JOIN comps b
        |    ON a.vec_id = b.vec_id AND a.dim < b.dim
        |  GROUP BY 1, 2
        |), mom AS (
        |  SELECT dim, CAST(sum(xq) AS BIGINT) AS s FROM comps GROUP BY 1
        |), wm AS (
        |  SELECT c.i, c.j,
        |    CAST(round((CAST(c.sij AS DOUBLE) / c.n
        |      - (CAST(mi.s AS DOUBLE) / c.n)
        |      * (CAST(mj.s AS DOUBLE) / c.n)) / 1e12 * 1e7) AS BIGINT)
        |      AS covq
        |  FROM cm c
        |  JOIN mom mi ON mi.dim = c.i
        |  JOIN mom mj ON mj.dim = c.j
        |), offa AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(covq * covq) AS BIGINT) AS off_energy_q
        |  FROM wm
        |), diag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS dims,
        |    CAST(sum(vq * vq) AS BIGINT) AS diag_energy_q
        |  FROM (
        |    SELECT dim,
        |      CAST(round((CAST(ss AS DOUBLE) / n
        |        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        |        / 1e12 * 1e7) AS BIGINT) AS vq
        |    FROM (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(xq) AS BIGINT) AS s,
        |      CAST(sum(xq * xq) AS BIGINT) AS ss
        |      FROM comps GROUP BY 1))
        |)
        |SELECT dims, n_pairs, off_energy_q, diag_energy_q,
        |  (10000 * off_energy_q) // (off_energy_q + diag_energy_q)
        |    AS anisotropy_bp,
        |  round(sqrt(CAST(off_energy_q AS DOUBLE)
        |    / CAST(n_pairs AS DOUBLE)) / 1e7, 6) AS rms_offdiag_cov,
        |  round(sqrt(CAST(diag_energy_q AS DOUBLE)
        |    / CAST(dims AS DOUBLE)) / 1e7, 6) AS rms_variance
        |FROM offa CROSS JOIN diag""".stripMargin,
    // emb26: emb01's cosine + tie-break; k-occurrence counts and the
    // same integer occupancy arithmetic
    "emb26_hubness" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec
        |  FROM embeddings WHERE vec_id % 7 = 0
        |), scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(p.pvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM embeddings e, p
        |  WHERE e.vec_id <> p.probe_id
        |), top AS (
        |  SELECT vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY cos DESC, vec_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 5
        |), occ AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS occ
        |  FROM top GROUP BY 1
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY occ DESC, vec_id ASC)
        |    AS rn
        |  FROM occ
        |), np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM p)
        |SELECT n_probes, CAST(sum(occ) AS BIGINT) AS n_slots,
        |  CAST(count(*) AS BIGINT) AS n_distinct_neighbors,
        |  max(occ) AS max_k_occurrence,
        |  min(CASE WHEN rn = 1 THEN vec_id END) AS hub_vec_id,
        |  (10000 * CAST(sum(CASE WHEN rn <= 10 THEN occ ELSE 0 END)
        |    AS BIGINT)) // CAST(sum(occ) AS BIGINT) AS top10_share_bp,
        |  CAST(sum(occ * occ) AS BIGINT) AS occ_sq_sum
        |FROM r CROSS JOIN np GROUP BY n_probes""".stripMargin,
    // q75: same rank ranges (tie order cannot matter — rank-range sums
    // select a fixed multiset of values), same integer sums, one rounded
    // division each — hash-exact
    "q75_robust_means" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY
        |      CAST(l_quantity AS BIGINT)) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |), kd AS (
        |  SELECT *, CAST(floor(n / 10) AS BIGINT) AS k FROM ranked
        |)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n, max(k) AS k,
        |  max(CASE WHEN rn = k + 1 THEN qty END) AS lo,
        |  max(CASE WHEN rn = n - k THEN qty END) AS hi,
        |  round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN qty END)
        |    AS DOUBLE) / (max(n) - 2 * max(k)), 4) AS trimmed_mean,
        |  round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN qty END)
        |    + max(k) * (max(CASE WHEN rn = k + 1 THEN qty END)
        |      + max(CASE WHEN rn = n - k THEN qty END)) AS DOUBLE)
        |    / max(n), 4) AS winsorized_mean
        |FROM kd GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q76: same (O·N − rT·cT)²/(rT·cT·N) integer-derived cell terms over
    // the FULL r×c grid (zero cells included), same 1e6 quantization,
    // IEEE sqrt for V — hash-exact
    "q76_chi_square" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2
        |), rt AS (
        |  SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1
        |), ct AS (
        |  SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rt) AS r,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ct) AS c
        |  FROM cells
        |), grid AS (
        |  SELECT rt.rt, ct.ct, coalesce(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source
        |), terms AS (
        |  SELECT n, r, c,
        |    CAST(round(CAST(o * n - rt * ct AS DOUBLE)
        |      * CAST(o * n - rt * ct AS DOUBLE)
        |      / CAST(rt * ct * n AS DOUBLE) * 1e6) AS BIGINT) AS term_q
        |  FROM grid CROSS JOIN tot
        |)
        |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
        |  CAST(sum(term_q) AS BIGINT) AS chi2_q,
        |  round(CAST(sum(term_q) AS DOUBLE) / 1e6, 4) AS chi2,
        |  round(sqrt(CAST(sum(term_q) AS DOUBLE) / 1e6
        |    / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 4) AS cramers_v
        |FROM terms GROUP BY n, r, c""".stripMargin,
    // q73: same row_number ranks (x desc, suppkey asc), same BIGINT d²
    // sum, one rounded division — hash-exact
    "q73_spearman" ->
      """WITH per AS (
        |  SELECT l_returnflag, l_suppkey,
        |    sum(CAST(l_quantity AS BIGINT)) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), ranked AS (
        |  SELECT l_returnflag,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY qty DESC, l_suppkey ASC) AS BIGINT) AS rx,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents DESC, l_suppkey ASC) AS BIGINT) AS ry
        |  FROM per
        |)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
        |  CASE WHEN count(*) > 1 THEN
        |    round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE) /
        |      (CAST(count(*) AS DOUBLE) * count(*) * count(*) - count(*)), 6)
        |  ELSE 1.0 END AS spearman_rho
        |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q72: same BIGINT-cents cumsum over per-distinct-qty weights; the
    // weighted lower percentile is an integer pick, hash-exact
    "q72_weighted_percentile" ->
      """WITH perq AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT l_returnflag, qty, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM perq
        |)
        |SELECT l_returnflag,
        |  min(CASE WHEN cumw * 100 >= totw * 50 THEN qty END) AS p50_qty,
        |  min(CASE WHEN cumw * 100 >= totw * 90 THEN qty END) AS p90_qty,
        |  min(CASE WHEN cumw * 100 >= totw * 99 THEN qty END) AS p99_qty,
        |  CAST(max(totw) AS BIGINT) AS total_cents
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q71: DuckDB's ordered list() aggregate mirrors sort-inside-the-agg
    "q71_topk_array" ->
      """SELECT l_returnflag,
        |  (list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT) DESC))[1:3]
        |    AS top3_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // emb17: same scalar quantizer (round(x/scale), scale = maxabs/127),
    // cosine(original, dequantized) quantized to 1e-6 longs before the
    // min/mean aggregate so both engines sum integers
    "emb17_sq8_error" ->
      """WITH d AS (
        |  SELECT label, embedding,
        |    CASE WHEN ma = 0 THEN 1.0 ELSE ma / 127.0 END AS scale
        |  FROM (SELECT label, embedding,
        |          list_aggregate(list_transform(embedding,
        |            x -> abs(CAST(x AS DOUBLE))), 'max') AS ma
        |        FROM embeddings)
        |), c AS (
        |  SELECT label, CAST(round(
        |    list_aggregate(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) *
        |           (CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT)
        |            * scale)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(generate_series(1, len(embedding)),
        |         i -> (CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT)
        |               * scale) *
        |              (CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT)
        |               * scale)), 'sum')))
        |    * 1e6) AS BIGINT) AS cq
        |  FROM d
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(min(cq) AS DOUBLE) / 1e6, 6) AS min_cos,
        |  round(CAST(sum(cq) AS DOUBLE) / 1e6 / count(*), 4) AS mean_cos
        |FROM c GROUP BY label""".stripMargin,
    // t39: same histogram + top-R window; log2 terms quantized to 1e-6
    // longs so the moment sums are integer-exact across engines
    "t39_zipf_slope" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents
        |), hist AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
        |  FROM toks WHERE tok <> '' GROUP BY source, tok
        |), ranked AS (
        |  SELECT source, freq,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY freq DESC, tok ASC) AS rank
        |  FROM hist
        |), q AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(rank AS DOUBLE)) / ln(2.0) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(freq AS DOUBLE)) / ln(2.0) * 1e6) AS BIGINT) AS y
        |  FROM ranked WHERE rank <= 50
        |), m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM q GROUP BY source
        |)
        |SELECT source, n AS n_ranks,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4)
        |    AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) -
        |    ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |     (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) /
        |    CAST(n AS DOUBLE) / 1e6, 4) AS zipf_intercept
        |FROM m""".stripMargin,
    // emb16: emb01's cosine kernel over the sampled self-join; mutuality
    // via the swapped-id join; a < b canonical direction
    "emb16_mutual_knn" ->
      """WITH s AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
        |), scored AS (
        |  SELECT q.vec_id AS a, e.vec_id AS b,
        |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(q.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        |  FROM s q, s e WHERE q.vec_id <> e.vec_id
        |), knn AS (
        |  SELECT a, b, cos FROM (
        |    SELECT a, b, cos,
        |      row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
        |    FROM scored) WHERE rank <= 3
        |)
        |SELECT x.a AS vec_a, x.b AS vec_b, round(x.cos, 4) AS cos
        |FROM knn x JOIN knn y ON x.a = y.b AND x.b = y.a
        |WHERE x.a < x.b""".stripMargin,
    "t21_dsir_select" -> TextOps.dsirOracleSql(),
    "c34_budget_allocation" -> operators.GraphOps.budgetOracleSql(),
    "c35_shard_assign" -> operators.ShardOps.shardOracleSql(),
    "t01_text_quality" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_act,
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |  / greatest(length(text), 1), 4) AS punct_ratio
        |FROM documents""".stripMargin,
    // t18: identical planted corpus (repeat()/trim() exist in both
    // engines), gram counting mirrored relationally (unnest + group by —
    // same semantics as the Spark side's in-row run-length HOF).
    "t18_repetition_filter" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN trim(repeat('spam ', 60))
        |         ELSE trim(repeat('click here now ', 30)) END AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
        |), base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM toks
        |), g2 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-1, 0))) AS i FROM toks)
        |), m2 AS (
        |  SELECT doc_id, max(cnt) AS max2
        |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2) GROUP BY 1
        |), g3 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM toks)
        |), m3 AS (
        |  SELECT doc_id, max(cnt) AS max3
        |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2) GROUP BY 1
        |), stats AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    round(1.0 - CAST(b.n_distinct AS DOUBLE) / greatest(b.n_tokens, 1), 4) AS dup_tok_frac,
        |    round(CAST(COALESCE(m2.max2, 0) AS DOUBLE) / greatest(b.n_tokens - 1, 1), 4) AS top2_frac,
        |    round(CAST(COALESCE(m3.max3, 0) AS DOUBLE) / greatest(b.n_tokens - 2, 1), 4) AS top3_frac
        |  FROM base b LEFT JOIN m2 ON b.doc_id = m2.doc_id
        |              LEFT JOIN m3 ON b.doc_id = m3.doc_id
        |)
        |SELECT doc_id, n_tokens, dup_tok_frac, top2_frac, top3_frac,
        |  CAST(CASE WHEN dup_tok_frac <= 0.85 AND top2_frac <= 0.3
        |             AND top3_frac <= 0.3 THEN 1 ELSE 0 END AS INT) AS kept
        |FROM stats ORDER BY doc_id""".stripMargin,
    // t20: pair counting mirrored relationally; the (cnt desc, pair asc)
    // total order makes the LIMIT 5 engine-exact.
    "t20_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |), p AS (
        |  SELECT t[i] AS tok_l, t[i+1] AS tok_r
        |  FROM (SELECT t, unnest(generate_series(1, greatest(len(t)-1, 0))) AS i FROM toks)
        |)
        |SELECT tok_l, tok_r, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, tok_l, tok_r LIMIT 5""".stripMargin,
    // t25: identical paragraph construction (20-word chunks + the two
    // planted boilerplate families); first-occurrence = min (doc_id,
    // para_idx) per exact paragraph text — a fully ordered row_number, so
    // both engines decide identically; string_agg ORDER BY para_idx ==
    // Spark's array_sort(struct(para_idx, para)) reassembly.
    "t25_paragraph_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |wv AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base),
        |nat AS (
        |  SELECT doc_id,
        |    CAST(unnest(generate_series(0, (len(w)-1)//20)) AS INT) AS para_idx,
        |    w FROM wv
        |),
        |natp AS (
        |  SELECT doc_id, para_idx,
        |    array_to_string(w[para_idx*20+1 : para_idx*20+20], ' ') AS para
        |  FROM nat
        |),
        |p AS (
        |  SELECT * FROM natp
        |  UNION ALL SELECT doc_id, -1 AS para_idx,
        |    'we use cookies to improve your experience accept to continue' AS para
        |    FROM base WHERE doc_id % 7 = 3
        |  UNION ALL SELECT doc_id, 999 AS para_idx,
        |    'subscribe to our newsletter for daily updates and offers' AS para
        |    FROM base WHERE doc_id % 5 = 1
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY md5(para)
        |  ORDER BY doc_id, para_idx) AS rn FROM p)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(para, ' ' ORDER BY para_idx) FILTER (rn = 1), '') AS text_deduped
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t19: identical planted corpus; Java regex and RE2 agree on these
    // ASCII patterns; DuckDB regexp_replace needs the explicit 'g' flag
    // (Spark's is global by default).
    "t19_pii_scrub" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text_scrubbed
        |FROM corpus ORDER BY doc_id""".stripMargin,
    // t32: identical line-planted corpus (1-based inclusive list slices ==
    // Spark's slice(arr, from, n)); the line rule is a list_filter lambda,
    // the document rule plain contains() — no engine-specific behavior
    // (verified: sf corpus has no newlines/tabs/double spaces, no natural
    // 'javascript'/'lorem ipsum'/'{' occurrences, >=10 words per doc).
    "t32_c4_filter" ->
      """WITH wv AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), built AS (
        |  SELECT doc_id,
        |    array_to_string(w[1:8], ' ') || '.' AS l1,
        |    array_to_string(w[1:3], ' ') AS l2,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN array_to_string(w[4:12], ' ') || ' javascript needed?'
        |      ELSE array_to_string(w[4:12], ' ') || '?' END AS l3,
        |    array_to_string(w[2:9], ' ') || '!' AS l4,
        |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
        |         WHEN doc_id % 13 = 0 THEN 'var f = function() { return; }'
        |         ELSE array_to_string(w[3:10], ' ') || ' extra words here too.'
        |    END AS l5
        |  FROM wv
        |), page AS (
        |  SELECT doc_id, [l1, l2, l3, l4, l5] AS ls,
        |    concat_ws(chr(10), l1, l2, l3, l4, l5) AS txt FROM built
        |), flt AS (
        |  SELECT doc_id, ls, txt,
        |    list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |      AND NOT contains(l, 'javascript')) AS kl
        |  FROM page
        |)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kl) AS BIGINT) AS n_kept,
        |  array_to_string(kl, ' | ') AS text_clean,
        |  CAST(CASE WHEN len(kl) >= 3 AND NOT contains(txt, 'lorem ipsum')
        |            AND NOT contains(txt, '{') THEN 1 ELSE 0 END AS INT) AS kept
        |FROM flt ORDER BY doc_id""".stripMargin
  )
}
