package graft.operators

import graft.functions.{GraftFunctions, TextKit}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Training-data text operators over the `documents` table (builder brief:
  * dedup / language-ID / quality / fingerprinting as first-class engine
  * components).
  */
object TextOps {

  // NOT repartitioned after the read even though the local sf dirs hold
  // one small file per table (single-task scans): the zero-exchange scan
  // pass is a plan-pinned design gate for the quality filters (GopherSpec
  // "the only exchange is the presentation sort"). The compute-dense
  // kernels instead spread their own input via [[spreadNarrow]].
  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Spread a narrow corpus across the session's cores ahead of a
    * compute-dense per-doc kernel (tokenize/shingle/hash/regex), guide
    * §2.5 "input skew: one huge unsplittable file ... repartition
    * immediately after the read": the local sf dirs hold ONE small
    * parquet file per table, so without this every shingle pass runs as
    * a single task while the other cores idle (t22 3.3 s -> 20 s when a
    * global spread was reverted in r06). Applied INSIDE the heavy
    * kernels only — the quality filters keep their plan-pinned
    * zero-exchange scans — and gated on the planned scan actually being
    * narrower than the session width, so a production multi-split corpus
    * adds no exchange. An input whose plan already holds an exchange is
    * already spread and passes unchanged: counting its partitions through
    * `toRdd` would run its shuffle stages just for the probe. Over
    * scan/union/projection shapes the probe runs no job. The round-robin
    * split is deterministic (sortBeforeRepartition is on) and every
    * consumer is an aggregation/join or ends in a presentation sort, so
    * results are split-invariant.
    */
  private[operators] def spreadNarrow(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val shuffled = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan.exists(_.isInstanceOf[Exchange])
      case p => p.exists(_.isInstanceOf[Exchange])
    }
    if (!shuffled && 2 * df.queryExecution.toRdd.getNumPartitions <= sc.defaultParallelism)
      df.repartition(sc.defaultParallelism)
    else df
  }

  /** The whitespace tokenizer over `text` — the form every DuckDB oracle
    * mirrors as `regexp_split_to_array(trim(text), '\s+')`.
    */
  private[operators] val words: Column = split(trim(col("text")), "\\s+")

  /** Lower-cased alphanumeric runs of `text`, empty tokens dropped. */
  private val alnumWords: Column =
    filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")

  /** log2(c) as a 1e-6 fixed-point long: quantized before any sum, so the
    * sums are integer-exact in every engine at any partitioning.
    */
  private[operators] def log2q(c: Column): Column =
    round(log(2.0, c) * 1e6).cast("long")

  /** (doc_id, t) with `t` the whitespace tokens of each doc's text. */
  private def tokensOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), words.as("t"))

  /** 0-based start offsets of every `n`-token window of the array `t`.
    * Guarded because Spark's `sequence(0, k)` DESCENDS for k < 0: an
    * unguarded window over a doc shorter than `n` would fabricate grams.
    */
  private def windowStarts(t: Column, n: Int): Column =
    when(size(t) >= n, sequence(lit(0), size(t) - n))
      .otherwise(array().cast("array<int>"))

  /** The space-joined word `n`-grams of the token array `t`, in order,
    * repeats kept.
    */
  private def ngrams(t: Column, n: Int): Column =
    transform(windowStarts(t, n), i =>
      concat_ws(" ", (1 to n).map(k => element_at(t, i + k)): _*))

  /** The df-capped inverted-index overlap join over a (doc_id, sh) table:
    * every doc pair sharing a shingle that occurs in at most `maxDf` docs,
    * as (doc_a < doc_b, n_inter, sz_a, sz_b). n_inter = |A ∩ B| over the
    * capped index; sz = the doc's uncapped set size. Shingles above the
    * cap are dropped BEFORE the self-join (a hot stop-shingle joins df²
    * pairs), and every exchange carries (doc_id, sh) rows only.
    */
  private def overlapIndex(shingles: DataFrame, maxDf: Int): DataFrame = {
    // The shingle table feeds four consumers (sizes, the df-cap, both
    // self-join sides). Exchange reuse was assumed to serve them from one
    // map output, but the consumers prune different columns, so their
    // shuffle subtrees are NOT byte-identical and the corpus was being
    // re-tokenized per consumer — measured directly in the r06 plan audit
    // (t22: 72 Exchanges, 0 reused). localCheckpoint materializes the
    // (doc_id, sh) rows once (ids+hashes only, never text) and is
    // self-cleaning via the ContextCleaner; at production scale this is a
    // written intermediate table — see SimIndex. Callers spread the
    // corpus before the shingle pass so the one-time materialization uses
    // every core.
    val sh = shingles.localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("sh")
    val idx = sh.join(hot, Seq("sh"), "left_anti")
    val pairs = idx.as("a")
      .join(idx.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    withSizes(pairs, sizes)
  }

  /** Pairs (doc_a, doc_b, ...) joined to both sides' (doc_id, sz) set
    * sizes as sz_a and sz_b.
    */
  private[operators] def withSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")

  /** The t05 score row (doc_a, doc_b, n_inter, n_union) of sized pairs. */
  private[operators] def jaccardScored(sized: DataFrame): DataFrame =
    sized.withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .select("doc_a", "doc_b", "n_inter", "n_union")

  /** Jaccard >= 1/2 without a float: 2·|A ∩ B| >= |A ∪ B|. */
  private[operators] val jaccardGate: Column = col("n_inter") * 2 >= col("n_union")

  /** The near-dup family's plant rule: every 20th doc gets a revision. */
  private val isPlanted: Column = pmod(col("doc_id"), lit(20)) === 0

  /** The planted revisions of a (doc_id, text) frame: id + 1e6, a few
    * tokens appended — the near-dup family's known positives, a
    * construction the DuckDB oracles rebuild verbatim.
    */
  private[graft] def plantedRevisions(base: DataFrame): DataFrame =
    base.where(isPlanted)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" appended revision marker tokens")).as("text"))

  /** The planted truth: one (doc_a = d, doc_b = d + 1e6) pair per planted
    * revision.
    */
  private def plantTruth(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).where(isPlanted)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"))

  /** SQL-checkable slice of quality scoring: char/token/punct stats. */
  def qualityStats(spark: SparkSession, dir: String): DataFrame =
    qualityStatsOf(docs(spark, dir))

  /** Same quality metrics over any (doc_id, text) frame (t01 kernel,
    * reused by the t09 curation pipeline).
    */
  def qualityStatsOf(corpus: DataFrame): DataFrame =
    corpus.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_act"),
      size(words).cast("long").as("n_tokens"),
      round(
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double") /
          greatest(length(col("text")), lit(1)), 4).as("punct_ratio"))

  /** t09 — the composed training-data curation step: the planted corpus
    * minus near-dup non-survivors (t08's keep-list semantics via
    * DedupResolve) AND minus low-quality docs (t01's metrics) — the
    * "dedupe then filter" pipeline every corpus build runs, as ONE
    * declarative plan (Catalyst fuses the quality filter into the scan
    * side of the keep-list anti-join).
    */
  def curatedCorpus(spark: SparkSession, dir: String,
                    minTokens: Long = 32L, maxPunct: Double = 0.1): DataFrame = {
    val corpus = spreadNarrow(plantedCorpus(spark, dir))
    val kept = DedupResolve.filterCorpus(
      corpus, "doc_id", ngramJaccardPairs(corpus), "doc_a", "doc_b")
    qualityStatsOf(kept)
      .where(col("n_tokens") >= minTokens && col("punct_ratio") <= maxPunct)
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"))
      .orderBy("doc_id")
  }

  /** t12 — DETERMINISTIC stratified corpus sampling: per-language keep
    * rates applied by hash threshold, not RNG. Every training-corpus
    * build downsamples over-represented strata (here: en to 1/8, the
    * rest to 1/2); doing it with `rand()` makes the corpus irreproducible
    * and shuffle-order-dependent, so the standard trick is a salted
    * cryptographic hash of the stable key compared against the rate
    * threshold — the same row is kept or dropped on every run, at any
    * parallelism, on any engine (which is what lets DuckDB oracle it
    * hash-exactly). Hex md5 compares lexicographically: a one-hex-digit
    * prefix threshold 'k' keeps k/16 of keys.
    *
    * Scale: a narrow filter fused into the scan — no shuffle, no state;
    * rates are retuned by re-running with a different salt/threshold
    * (the salt "smp1:" namespaces this sample against every other
    * hash-of-doc_id use in the pipeline).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val thr = when(col("lang") === "en", lit("2")).otherwise(lit("8"))
    docs(spark, dir)
      .where(md5(concat(lit("smp1:"), col("doc_id").cast("string"))) < thr)
      .select("doc_id", "lang", "source")
  }

  /** t44 — WEIGHTED corpus sampling via priority sampling (Duffield, Lund
    * & Thorup, JACM'07): each doc draws priority u/w where u is a
    * deterministic 32-bit uniform from md5 of the doc id (t12's
    * reproducible-sampling discipline — no RNG, no shuffle-order
    * dependence) and w = n_chars; each language stratum keeps the k docs
    * with the SMALLEST priority. Selection probability is ~min(1, w/tau)
    * — long documents are proportionally favored, the standard
    * token-budget-aware corpus draw — and the emitted threshold tau (the
    * (k+1)-th smallest priority) is exactly the reweighting constant the
    * unbiased estimator needs (each kept doc represents max(w, tau)
    * weight). u and w are integers, so priority is ONE IEEE division and
    * every engine ranks identically (u is floored to 1 so priority stays
    * finite and positive; ties break on doc_id; priority emitted
    * UNROUNDED — the q32 integer-derived-division precedent).
    *
    * Scale: a per-stratum top-k — bounded-heap shape, the exchange
    * carries (lang, doc_id, two integers); text never moves. The salt
    * "pri1:" namespaces these draws against every other hash-of-doc_id
    * use in the pipeline.
    */
  def prioritySample(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("priority"), col("doc_id"))
    val ranked = docs(spark, dir)
      .select(col("lang"), col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        greatest(conv(substring(
            md5(concat(lit("pri1:"), col("doc_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10).cast("long"),
          lit(1L)).as("u"))
      .withColumn("priority", col("u").cast("double") / col("w"))
      .withColumn("rn", row_number().over(w))
    val tau = ranked.where(col("rn") === k + 1)
      .select(col("lang"), col("priority").as("tau"))
    ranked.where(col("rn") <= k)
      .join(broadcast(tau), Seq("lang"), "left")
      .select(col("lang"), col("doc_id"), col("w"), col("priority"),
        col("tau"))
      .orderBy("lang", "doc_id")
  }

  /** Full text profile: heuristic language-ID, quality score, simhash +
    * rolling-hash fingerprints, BPE-ish token count (custom codegen'd
    * expressions — rows-only gate + scalatest).
    */
  def textProfile(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(
      col("doc_id"),
      col("lang"),
      GraftFunctions.langId(col("text")).as("lang_pred"),
      round(GraftFunctions.qualityScore(col("text")), 4).as("quality"),
      GraftFunctions.simhash64(col("text")).as("simhash"),
      GraftFunctions.rollingFingerprint(col("text")).as("fingerprint"),
      GraftFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
  }

  /** MinHash+LSH near-duplicate detection (shingle -> minhash -> band ->
    * bucket-join -> exact-Jaccard verify), the canonical large-corpus
    * near-dup plan:
    *
    *   1. band keys per doc via one codegen'd expression (no UDF);
    *   2. posexplode -> shuffle is (doc_id, band) pairs only — text stays
    *      out of the self-join (at 100 TB the candidate join must carry
    *      ids, never payloads);
    *   3. candidate pairs = equi-join on (band_idx, band_key), a<b;
    *   4. exact verify joins text back by id for the (small) candidate set.
    *
    * A deterministic 5% of docs is planted as near-dup copies so the
    * operator provably fires on the test corpus.
    */
  def nearDupMinhash(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val corpus = plantedCorpus(spark, dir)
    // the banding pass shingles + hashes every doc k times — spread it;
    // the verify join reads text by id for the small candidate set only
    val banded = spreadNarrow(corpus)
      .select(col("doc_id"),
        posexplode(GraftFunctions.minhashBands(col("text"))).as(Seq("band_idx", "band_key")))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val jaccard = udf((a: String, b: String) => TextKit.jaccardShingles(a, b))
    candidates
      .join(corpus.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "text_a"), "doc_a")
      .join(corpus.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "text_b"), "doc_b")
      .withColumn("jaccard", round(jaccard(col("text_a"), col("text_b")), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ---- t13: benchmark decontamination ------------------------------
  //
  // The training-data step the near-dup family does NOT cover: eval-set
  // LEAKAGE detection (Brown et al., NeurIPS'20 appendix C — n-gram
  // overlap against held-out benchmarks). Near-dup dedupe compares the
  // corpus against itself; decontamination compares it against a tiny
  // external set, so the right plan is shaped completely differently:
  // the benchmark n-gram set (10^5-10^6 entries even for large suites)
  // broadcasts, and the 10^10-doc corpus side stays narrow end-to-end —
  // per-doc n-grams are deduped with array_distinct INSIDE the row
  // (never shuffled), the membership test is a broadcast-hash semi join,
  // and the only exchange in the whole plan is the partial-agg'd per-doc
  // hit counts (~flagged-docs-sized). No corpus shuffle, no self-join.

  /** Deterministic stand-in for a held-out eval benchmark: every 23rd
    * document's text. (A real pipeline reads the suite from its own
    * table; the derivation only exists so both engines see the same
    * benchmark.)
    */
  def benchmarkDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).where(pmod(col("doc_id"), lit(23)) === 0)
      .select("doc_id", "text")

  /** Corpus with planted leakage: the base documents plus "quote" docs
    * that copy each benchmark doc's first 20 tokens and continue with
    * novel commentary — the partial-containment case (a doc QUOTING the
    * eval set) that exact dedupe misses and n-gram overlap catches.
    */
  def leakedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val quotes = base.where(pmod(col("doc_id"), lit(23)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(
          concat_ws(" ", slice(words, 1, 20)),
          lit(" then entirely novel commentary continues past the quotation"))
          .as("text"))
    base.unionByName(quotes)
  }

  /** Hashed word n-gram set per doc — wordShingles generalized to n,
    * with the per-doc dedupe done by array_distinct INSIDE the row
    * instead of a post-explode distinct(): the n-gram stream of a doc
    * never leaves its input partition.
    */
  def wordNgrams(corpus: DataFrame, n: Int): DataFrame =
    tokensOf(corpus).select(col("doc_id"),
      explode(array_distinct(transform(ngrams(col("t"), n), xxhash64(_)))).as("ng"))

  /** t13 — contamination report: (doc_id, n_hits) for every corpus doc
    * sharing at least one word `n`-gram with the benchmark. n = 8 by
    * default (the 8-to-13-gram range the published decontamination
    * setups use; 3 would flag on common phrases).
    */
  def contaminationReport(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val benchNg = wordNgrams(benchmarkDocs(spark, dir), n)
      .select("ng").distinct()
    wordNgrams(leakedCorpus(spark, dir), n)
      .join(broadcast(benchNg), Seq("ng"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** The corpus ACTION: the leaked corpus minus every flagged doc (the
    * benchmark rows themselves and all quoting docs drop). Keep-list
    * anti-join on ids only — payload text joins nothing.
    */
  def decontaminatedCorpus(spark: SparkSession, dir: String, n: Int = 8): DataFrame =
    leakedCorpus(spark, dir)
      .join(contaminationReport(spark, dir, n).select("doc_id"),
        Seq("doc_id"), "left_anti")

  /** The t05/t07/t08 demo corpus: every 20th base doc gets a planted
    * near-identical revision (id + 1e6, a few appended tokens) so the
    * near-dup family has known-positive pairs with a DuckDB-expressible
    * construction.
    */
  def plantedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    base.unionByName(plantedRevisions(base))
  }

  /** t26 demo corpus: every 17th base doc gets a planted EXCERPT doc
    * (id + 2e6) quoting its first half (>=5 tokens) plus a short novel
    * trailer — the "article quoting another article" case where Jaccard
    * stays low (sizes differ) but containment in the smaller doc is high.
    * DuckDB-expressible construction (list slice + array_to_string).
    */
  def excerptCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val excerpts = tokensOf(base.where(pmod(col("doc_id"), lit(17)) === 0))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(
          array_join(slice(col("t"), lit(1),
            greatest((size(col("t")) / 2).cast("int"), lit(5))), " "),
          lit(" excerpt quote trailer")).as("text"))
    base.unionByName(excerpts)
  }

  /** Containment near-dup pairs — the ASYMMETRIC companion of t05's
    * Jaccard (Broder, SEQUENCES'97 distinguishes resemblance from
    * containment): gate on |sh(a) ∩ sh(b)| / min(|sh(a)|, |sh(b)|), which
    * catches a short doc quoted inside a long one where Jaccard dilutes
    * below any usable threshold. Same scale discipline as
    * ngramJaccardPairs — one shingle index (hashed 3-grams, df-capped),
    * exchanges carry (doc_id, long) only, integer threshold compare.
    */
  def containmentPairs(corpus: DataFrame, maxDf: Int = 64): DataFrame =
    overlapIndex(wordShingles(spreadNarrow(corpus)), maxDf)
      // containment >= 0.5 of the smaller side, exact integer compare —
      // AND not already a Jaccard-level near-dup (2*inter < union), so the
      // result is precisely the pairs t05 CANNOT see
      .withColumn("sz_min", least(col("sz_a"), col("sz_b")))
      .where(col("n_inter") * 2 >= col("sz_min") &&
        col("n_inter") * 2 < col("sz_a") + col("sz_b") - col("n_inter"))
      .select("doc_a", "doc_b", "n_inter", "sz_min")

  /** t26 — containment near-dup over the excerpt demo corpus (oracled). */
  def containmentNearDup(spark: SparkSession, dir: String, maxDf: Int = 64): DataFrame =
    containmentPairs(excerptCorpus(spark, dir), maxDf)
      .orderBy("doc_a", "doc_b")

  /** t28 — n-gram NOVELTY scoring (data-selection signal complementary to
    * t21's distribution matching: DSIR scores "looks like the target",
    * novelty scores "adds content the corpus doesn't already have" — the
    * side RHO-1/DoReMi-style selection mixes in): per doc, the fraction of
    * its distinct 3-gram shingles that are corpus-UNIQUE (df == 1), in
    * integer basis points (t21/t23 fixed-point discipline — engine-exact,
    * no float anywhere). Plan: the t05 shingle index feeds a df count and
    * joins back on the 8-byte hash; both exchanges carry (doc_id, long)
    * only, and the df table is shingle-sized, never corpus-text-sized.
    */
  def noveltyReport(spark: SparkSession, dir: String): DataFrame = {
    val shingles = wordShingles(docs(spark, dir).select("doc_id", "text"))
    val dfCounts = shingles.groupBy("sh").agg(count(lit(1)).as("df"))
    shingles.join(dfCounts, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 DIV n_shingles"))
      .select("doc_id", "n_shingles", "n_novel", "novelty_bp")
      .orderBy("doc_id")
  }

  /** Distinct hashed word-3-gram shingles of a (doc_id, text) frame —
    * the unit of the t05 inverted index and the persisted SimIndex tables
    * (the two MUST share this kernel so a persisted index built here is
    * probe-compatible with the in-memory operator).
    */
  def wordShingles(corpus: DataFrame): DataFrame =
    tokensOf(corpus)
      .select(col("doc_id"), explode(transform(ngrams(col("t"), 3), xxhash64(_))).as("sh"))
      .distinct()

  /** wordShingles without the xxhash64 — the STRING 3-grams, for
    * operators whose arithmetic must reproduce in DuckDB (t43's md5
    * permutations need the text; the engine-local xxhash64 key stays the
    * right choice everywhere the shingle never leaves Spark).
    */
  def wordShingleStrings(corpus: DataFrame): DataFrame =
    tokensOf(corpus).select(col("doc_id"), explode(ngrams(col("t"), 3)).as("sh"))
      .distinct()

  /** Exact word-3-gram Jaccard near-dup via an inverted shingle index —
    * the exact counterpart of [[nearDupMinhash]] (which estimates the same
    * measure probabilistically). DuckDB-oracled end to end (t05).
    *
    * Plan (the scale-honest shape):
    *   1. shingle: tokens -> distinct word 3-grams per doc; the shuffle key
    *      is `xxhash64(shingle)` so exchanges carry (doc_id, long), never
    *      shingle text (collision probability over the corpus is ~m^2/2^65
    *      — negligible, and intersection counts are unaffected without
    *      collisions, so the integer output stays oracle-exact);
    *   2. df-cap: shingles occurring in more than `maxDf` docs are dropped
    *      from the index BEFORE the self-join (a hot stop-shingle joins
    *      df^2 pairs — the quadratic blowup at web scale). The cap makes
    *      n_inter a conservative estimate; it is applied identically in
    *      the DuckDB oracle so the gate stays exact.
    *   3. pair counts: inverted-index self-join on the shingle hash with
    *      doc_a < doc_b -> count = |A ∩ B| (id-only shuffle);
    *   4. threshold without floats: Jaccard >= 1/2 iff 2*|A∩B| >= |A∪B|;
    *      output (n_inter, n_union) as integers — no double division that
    *      could round differently across engines.
    */
  def nearDupNgramJaccard(spark: SparkSession, dir: String, maxDf: Int = 64): DataFrame =
    ngramJaccardPairs(plantedCorpus(spark, dir), maxDf)
      .orderBy("doc_a", "doc_b")

  /** Exact n-gram-Jaccard near-dup pairs over any (doc_id, text) corpus —
    * the t05 kernel, also the full-recompute mirror for the persisted
    * incremental index (SimIndexSpec).
    */
  def ngramJaccardPairs(corpus: DataFrame, maxDf: Int = 64): DataFrame =
    ngramJaccardScores(corpus, maxDf).where(jaccardGate)

  /** The t05 kernel WITHOUT the 0.5-Jaccard gate: every candidate pair
    * sharing at least one under-df-cap shingle, with its exact
    * intersection/union sizes — the score table a threshold sweep (t41)
    * or a caller-chosen operating point consumes. Same plan discipline
    * as t05 (text never on an exchange; ReuseExchange serves the shared
    * distinct-shingle subtree).
    */
  def ngramJaccardScores(corpus: DataFrame, maxDf: Int = 64): DataFrame =
    jaccardScored(overlapIndex(wordShingles(spreadNarrow(corpus)), maxDf))

  /** t41 — dedup threshold OPERATING-POINT audit: exact precision/recall
    * of the n-gram-Jaccard detector at each candidate threshold, against
    * the planted ground truth (doc_id%20==0 -> a +1e6 revision copy, the
    * same construction both engines derive from the parquet). This is the
    * sweep a pipeline owner runs BEFORE picking t05's 0.5 gate — the gate
    * is only defensible with the curve that justifies it.
    *
    * Shape: ONE score-table pass (ngramJaccardScores — the expensive part,
    * computed once), full-outer-joined with the truth pairs so missed
    * positives (no shared shingle at all) still count as FN, then each row
    * fans out to the constant 7-threshold grid (explode of a literal
    * array — no extra exchange; the groupBy(threshold) reduces to 7 rows
    * map-side). Predicted-at-theta is the integer test
    * n_inter*100 >= theta*n_union, so TP/FP/FN are integer-exact;
    * precision/recall are single integer divisions (bit-identical across
    * engines) rounded to 6 dp.
    */
  def dedupOperatingPoints(spark: SparkSession, dir: String,
                           maxDf: Int = 64): DataFrame = {
    val scores = ngramJaccardScores(plantedCorpus(spark, dir), maxDf)
    val truth = plantTruth(spark, dir).withColumn("is_true", lit(1L))
    val joined = scores
      .join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_union"), lit(1L)).as("n_union"),
        coalesce(col("is_true"), lit(0L)).as("is_true"))
    joined
      .select(col("n_inter"), col("n_union"), col("is_true"),
        explode(lit(Array(30, 40, 50, 60, 70, 80, 90))).as("threshold_pct"))
      .withColumn("pred",
        (col("n_inter") * 100 >= col("threshold_pct") * col("n_union"))
          .cast("long"))
      .groupBy("threshold_pct")
      .agg(
        sum(col("pred") * col("is_true")).as("tp"),
        sum(col("pred") * (lit(1L) - col("is_true"))).as("fp"),
        sum((lit(1L) - col("pred")) * col("is_true")).as("fn"))
      .select(col("threshold_pct"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") /
          greatest(col("tp") + col("fp"), lit(1L)), 6).as("prec"),
        round(col("tp").cast("double") /
          greatest(col("tp") + col("fn"), lit(1L)), 6).as("rec"))
      .orderBy("threshold_pct")
  }

  /** t43 — MinHash ESTIMATOR CALIBRATION: per audited pair, the k=16
    * MinHash Jaccard estimate next to the exact Jaccard, with the error
    * in integer basis points — the measurement that justifies t03's
    * banding parameters the way t41's P/R sweep justifies t05's gate
    * (Broder'97 gives E[est] = J and Var = J(1-J)/k; this audit shows
    * the realized error on THIS corpus's planted near-dups and on
    * adjacent non-dup controls). Everything is integer-exact, hence
    * DuckDB-oracled: est_bp = n_match · (10000/k) (matching permutation
    * count times an integer), exact_bp = n_inter·10000 div n_union,
    * err_bp = |est − exact| — no FP anywhere.
    *
    * Shape: audited pairs = the t05 detector's own output (the gated
    * dup_pairs) plus deterministic adjacent control pairs; signatures
    * are ONE explode of the distinct-shingle table by the constant k
    * permutations, map-side-combined min() per (doc, perm) — exchanges
    * carry (doc_id, i, 32-char hex), never documents; the exact side
    * re-joins full shingle sets ONLY for the audited pairs' docs. The
    * signature table (k strings per doc, vs the full shingle set) is
    * exactly the fixed-size sketch the production path ships at 10^10
    * scale; this operator prices what that compression costs.
    */
  def minhashCalibration(spark: SparkSession, dir: String,
                         k: Int = 16): DataFrame = {
    require(10000 % k == 0, s"k=$k must divide 10000 for exact est_bp")
    val corpus = spreadNarrow(plantedCorpus(spark, dir))
    // two consumers (sizes, the k-fold signature explode) — materialize
    // the string-shingle table once (the ngramJaccardScores lesson)
    val sh = wordShingleStrings(corpus).localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val base = docs(spark, dir).select("doc_id")
    val cand = ngramJaccardPairs(corpus).select("doc_a", "doc_b")
      .unionByName(
        base.where(isPlanted)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 1L).as("doc_b"))
          .join(base.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
          .select("doc_a", "doc_b"))
      .distinct()
    val sig = sh
      .select(col("doc_id"), explode(sequence(lit(0), lit(k - 1))).as("i"),
        col("sh"))
      .select(col("doc_id"), col("i"),
        md5(concat(col("i").cast("string"), lit("#"), col("sh"))).as("w"))
      .groupBy("doc_id", "i").agg(min("w").as("sg"))
    val m = cand
      .join(sig.select(col("doc_id").as("doc_a"), col("i"), col("sg").as("sga")),
        Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("i"), col("sg").as("sgb")),
        Seq("doc_b", "i"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("sga") === col("sgb"), 1L).otherwise(0L)).as("n_match"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    withSizes(m.join(inter, Seq("doc_a", "doc_b"), "left")
        .na.fill(0L, Seq("n_inter")), sizes)
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        (col("n_match") * lit((10000 / k).toLong)).as("est_bp"),
        expr("n_inter * 10000 div (sz_a + sz_b - n_inter)").as("exact_bp"))
      .withColumn("err_bp", abs(col("est_bp") - col("exact_bp")))
      .orderBy("doc_a", "doc_b")
  }

  /** The t06/t10 demo corpus: base docs plus a deterministic 4% planted as
    * PARTIAL copies — a verbatim 300-byte slice of the source inside
    * otherwise-new text (fresh lead-in, unrelated tail), so span-level
    * operators have known positives that doc-level dedup would mishandle.
    */
  def spanCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select("doc_id", "text").as[(Long, String)]
    val planted = base.filter(_._1 % 25 == 0).map { case (id, text) =>
      val slice = text.substring(0, math.min(300, text.length))
      (id + 2000000L, s"entirely fresh lead-in for copy $id :: " + slice +
        " :: and an unrelated tail section")
    }
    base.union(planted).toDF("doc_id", "text")
  }

  /** The repeated-span pair kernel over any (doc_id, text) corpus — see
    * [[repeatedSpans]] for the plan discipline.
    */
  def repeatedSpanPairs(corpus: DataFrame,
                        minAnchors: Int = 2, maxDf: Int = 64): DataFrame = {
    import corpus.sparkSession.implicits._
    val anchors = corpus.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        TextKit.winnowedWindows(text).iterator.map { case (off, h) => (h, id, off) }
      }.toDF("h", "doc_id", "off")
    val hot = anchors.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") > maxDf).select("h")
    val idx = anchors.join(hot, Seq("h"), "left_anti")
    idx.as("a")
      .join(idx.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(countDistinct(col("a.h")).as("n_anchors"),
        min(col("a.off")).as("a_from"), max(col("a.off")).as("a_to"),
        min(col("b.off")).as("b_from"), max(col("b.off")).as("b_to"))
      .where(col("n_anchors") >= minAnchors)
  }

  /** Repeated-span detection — the shuffle-friendly screen of
    * exact-substring dedup (Lee et al. ACL 2022 use a suffix array; at
    * Spark scale the equivalent signal is an inverted index of winnowed
    * rolling-hash anchors, TextKit.winnowedWindows): any byte span of
    * length >= k + w - 1 shared verbatim between two documents is
    * GUARANTEED to produce at least one identical anchor, so joining
    * anchors finds every long verbatim overlap (boilerplate, quotes,
    * mirrored paragraphs). Plan discipline matches t05: exchanges carry
    * (hash, doc_id, offset) scalars only; anchors whose document frequency
    * exceeds `maxDf` (universal boilerplate) are dropped before the
    * self-join. Output per pair: anchor count + the offset extent of the
    * shared material in each document.
    *
    * A deterministic 4% of docs is planted as partial copies (a verbatim
    * 300-byte slice inside otherwise-new text) so the operator provably
    * fires on the test corpus.
    */
  def repeatedSpans(spark: SparkSession, dir: String,
                    minAnchors: Int = 2, maxDf: Int = 64): DataFrame =
    repeatedSpanPairs(spanCorpus(spark, dir), minAnchors, maxDf)
      .orderBy("doc_a", "doc_b")

  /** Span-level corpus ACTION for the repeated-span screen (round-4
    * verdict "missing #1"): turn the (doc_a, doc_b, extents) pairs into a
    * span-CLIPPED corpus — keep doc_a's copy (pairs are oriented doc_a <
    * doc_b), remove the shared extent from doc_b, preserve doc_b's text
    * outside it. This is the Lee-et-al partial-overlap action every
    * web-scale text pipeline runs where doc-level drop would over-delete
    * (boilerplate, quoted paragraphs, syndicated intros).
    *
    * Scale shape: the extents table is ~the dup-pair rate of the corpus
    * and carries (doc_id, few ints) only — it aggregates per clipped doc
    * then joins the payload corpus on doc_id (broadcastable at typical
    * dup rates; the corpus side never shuffles then). Untouched docs take
    * the when() fast path — the UDF runs only on rows with extents.
    */
  def clipRepeatedSpans(corpus: DataFrame, spans: DataFrame, k: Int = 50): DataFrame = {
    val extents = spans.groupBy(col("doc_b").as("doc_id"))
      .agg(collect_list(struct(col("b_from"), col("b_to"))).as("extents"))
    val clip = udf { (text: String, ext: Seq[org.apache.spark.sql.Row]) =>
      TextKit.clipSpans(text, ext.map(r => (r.getInt(0), r.getInt(1))), k)
    }
    corpus.join(extents, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("extents").isNull, col("text"))
          .otherwise(clip(col("text"), col("extents"))).as("text"))
  }

  /** t10 — the driver-facing composition: span pairs over the planted
    * partial-copy corpus, clipped, projected to comparator-safe scalars
    * (the clipped text itself is golden-gated against a single-threaded
    * mirror in RepeatedSpansSpec).
    */
  def spanClippedCorpus(spark: SparkSession, dir: String,
                        minAnchors: Int = 2, maxDf: Int = 64): DataFrame = {
    val corpus = spanCorpus(spark, dir)
    val clipped = clipRepeatedSpans(corpus, repeatedSpanPairs(corpus, minAnchors, maxDf))
    clipped.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        xxhash64(col("text")).as("clip_hash"))
      .orderBy("doc_id")
  }

  // ---- t14: unigram-LM perplexity filter (CCNet-style) ----------------

  /** The LM-scored corpus: every real document plus a planted GIBBERISH
    * doc for each 25th real one (8 md5-hex tokens the training corpus
    * cannot contain — deterministic and DuckDB-reconstructible, the c27
    * URL-synthesis discipline applied to text). Plants shift to
    * doc_id + 2e6 (the near-dup family plants at +1e6).
    */
  private[operators] def lmScoredCorpus(spark: SparkSession, dir: String): DataFrame = {
    val gib = docs(spark, dir).where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", (0 until 8).map(k =>
          md5(concat(lit(s"g$k:"), col("doc_id").cast("string")))): _*).as("text"))
    lmTrainCorpus(spark, dir).unionByName(gib)
  }

  /** The LM's training slice: the REAL documents only — scoring plants
    * must not contaminate the model (they would otherwise vote their own
    * tokens into the vocabulary).
    */
  private[operators] def lmTrainCorpus(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), lower(trim(col("text"))).as("text"))

  /** t14 — LM "perplexity" quality filter (the CCNet-style step, Wenzek
    * et al. LREC'20: score each document under a language model trained
    * on a reference corpus; gibberish and non-linguistic content lands
    * far from the corpus distribution and is dropped). A unigram model
    * with Laplace smoothing keeps the arithmetic cross-engine exact
    * (DuckDB-oracled) while the PLAN is the production shape:
    *
    *   - the vocab table is one map-side-combined agg over the training
    *     corpus and then BROADCASTS to the scoring join (Heaps' law —
    *     vocab grows ~sqrt(corpus), so it broadcasts long after the
    *     corpus stops fitting anywhere);
    *   - (T, V) normalizers are a 1-row aggregate cross-joined in-plan
    *     (plans as a broadcast; never collected);
    *   - the token stream therefore NEVER shuffles for the lookup — the
    *     only wide exchange carries per-doc partial (sum, count) pairs.
    *
    * Per-token log-likelihood: ln((c(tok)+1)/(T+V)), unseen c = 0. The
    * report emits nll = round(-avg, 4) (lower = more corpus-like);
    * `flagged` compares the ROUNDED nll against the threshold so both
    * engines decide from the identical value (ln's last-ulp differences
    * are absorbed by the 4 dp rounding; the real-vs-gibberish gap is ~2x,
    * nowhere near the boundary).
    */
  def lmQualityReport(spark: SparkSession, dir: String,
                      nllThreshold: Double = 8.0): DataFrame =
    lmScoreAgainst(lmVocabOf(lmTrainCorpus(spark, dir)),
      lmScoredCorpus(spark, dir), nllThreshold)

  /** The (tok, c) unigram table of a training corpus — mergeable counts
    * (the property the persisted store exploits).
    */
  def lmVocabOf(trainCorpus: DataFrame): DataFrame =
    trainCorpus.select(explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** Score any (doc_id, text) corpus against an explicit (tok, c) vocab —
    * the kernel behind both the one-shot t14 report and the persisted/
    * incremental path (identical arithmetic: the cast-to-double of
    * integer counts is value-exact, so the two paths are golden-equal).
    */
  def lmScoreAgainst(vocab: DataFrame, corpus: DataFrame,
                     nllThreshold: Double = 8.0): DataFrame = {
    val v = vocab.select(col("tok"), col("c").cast("double").as("c"))
    val totals = v.agg(sum(col("c")).as("t"),
      count(lit(1)).cast("double").as("v"))
    corpus
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .join(broadcast(v), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        log((coalesce(col("c"), lit(0.0)) + 1.0) / (col("t") + col("v"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), round(-avg(col("lp")), 4).as("nll"))
      .withColumn("flagged", col("nll") > nllThreshold)
      .orderBy("doc_id")
  }

  // ---- t14b: persisted / incremental LM vocab --------------------------

  /** Persisted per-epoch vocab partials (the SeenStore/SimIndex
    * persisted-state discipline applied to the LM): `lm_vocab/epoch=N`
    * holds the (tok, c) counts of epoch N's training slice only.
    * Unigram counts are MERGEABLE, so the cumulative model at epoch E is
    * groupBy(tok).sum over partials 0..E — extending the LM by an epoch
    * re-reads vocab tables (Heaps'-law small), never the earlier text
    * (at 100 TB the text IS the cost).
    */
  def writeVocabEpoch(trainSlice: DataFrame, root: String, epoch: Int): Unit =
    lmVocabOf(trainSlice).write.mode("overwrite")
      .parquet(s"$root/lm_vocab/epoch=$epoch")

  /** The cumulative vocab through `uptoEpoch` — sum of persisted
    * partials.
    */
  def readVocab(spark: SparkSession, root: String, uptoEpoch: Int): DataFrame =
    spark.read.parquet((0 to uptoEpoch).map(e => s"$root/lm_vocab/epoch=$e"): _*)
      .groupBy("tok").agg(sum(col("c")).as("c"))

  /** The corpus ACTION: drop every flagged doc. The flagged list is a
    * tiny fraction of the corpus, so the anti-join broadcasts and the
    * payload side never shuffles.
    */
  def lmFilteredCorpus(spark: SparkSession, dir: String,
                       nllThreshold: Double = 8.0): DataFrame =
    lmScoredCorpus(spark, dir).join(
      broadcast(lmQualityReport(spark, dir, nllThreshold)
        .where(col("flagged")).select("doc_id")),
      Seq("doc_id"), "left_anti")

  // ---- t17: sequence packing -------------------------------------------

  /** t17 — deterministic SEQUENCE PACKING: pretraining consumes the
    * corpus as fixed-length token sequences built by concatenating
    * shuffled documents and chunking at the budget (docs may straddle a
    * boundary — the GPT-style packing, not bin-packing). Relationally
    * that is: a deterministic order (md5 of doc_id — a reproducible
    * "shuffle", t12's discipline), a prefix sum, and integer division —
    * every column engine-exact.
    *
    * Scale shape: packing is PER-SHARD (partitionBy(shard) window), the
    * way real pipelines shard their tokenized corpus — a single global
    * prefix sum would serialize on one partition at 100 TB. Shard
    * assignment is doc_id-deterministic so the layout is reproducible
    * end to end.
    */
  def sequencePack(spark: SparkSession, dir: String,
                   budget: Int = 512, shards: Int = 8): DataFrame =
    sequencePackOf(docs(spark, dir), budget, shards)

  /** t17 kernel over any (doc_id, text) corpus (t22 packs the BUILT
    * corpus through this same code).
    */
  def sequencePackOf(corpus: DataFrame,
                     budget: Int = 512, shards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    corpus.select(col("doc_id"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        size(words).cast("long").as("n_tokens"),
        md5(concat(lit("pack1:"), col("doc_id"))).as("ord"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_token"),
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble))
          .cast("long").as("seq_first"),
        floor((col("cum") - 1) / lit(budget.toDouble))
          .cast("long").as("seq_last"))
      .orderBy("doc_id")
  }

  /** t22 — the corpus BUILD end to end, as ONE declarative plan: dedup
    * keep-list (t05 pairs -> t07 components -> survivors), quality gate
    * (t01 metrics), repetition gate (t18 metrics), then sequence packing
    * (t17) of what survives. This is the pipeline a training-data release
    * actually runs; expressing it as one plan lets Catalyst fuse the
    * quality/repetition filters into the post-anti-join scan and share
    * the corpus scan across gate branches. Every stage reuses its
    * already-oracled kernel, and the composed DuckDB oracle chains the
    * same four verified SQL fragments — the gate checks the COMPOSITION,
    * not just the parts.
    */
  def corpusBuild(spark: SparkSession, dir: String,
                  minTokens: Long = 32L, maxPunct: Double = 0.1,
                  maxDup: Double = 0.85, maxTopGram: Double = 0.3): DataFrame = {
    // spread once at the top: `kept` is checkpointed with the corpus's
    // partitioning, and the three downstream per-doc stat branches
    // (quality/repetition/packing) are regex-dense
    val corpus = spreadNarrow(plantedCorpus(spark, dir))
    // kept feeds three downstream branches (quality gate, repetition gate,
    // packing); materialize it once instead of re-running the dedup
    // anti-join per branch (r06 plan audit: no exchange reuse across the
    // branches' differently-pruned subtrees)
    val kept = DedupResolve.filterCorpus(
      corpus, "doc_id", ngramJaccardPairs(corpus), "doc_a", "doc_b")
      .localCheckpoint()
    val qualOk = qualityStatsOf(kept)
      .where(col("n_tokens") >= minTokens && col("punct_ratio") <= maxPunct)
      .select("doc_id")
    val repOk = repetitionStatsOf(kept)
      .where(col("dup_tok_frac") <= maxDup &&
        col("top2_frac") <= maxTopGram && col("top3_frac") <= maxTopGram)
      .select("doc_id")
    sequencePackOf(
      kept.join(qualOk, Seq("doc_id"), "left_semi")
        .join(repOk, Seq("doc_id"), "left_semi"))
  }

  // ---- t16: train/eval split + leakage audit ---------------------------

  /** Content-keyed deterministic split: eval iff md5('spl1:' ||
    * md5(text)) < '4' (25%). Keying the hash on the CONTENT — never the
    * doc_id — co-locates exact duplicates in one split by construction;
    * what a content hash cannot co-locate is NEAR-duplicates, which is
    * exactly the residual [[splitLeakageReport]] audits.
    */
  def splitAssign(corpus: DataFrame): DataFrame =
    corpus.withColumn("split",
      when(md5(concat(lit("spl1:"), md5(col("text")))) < "4", lit("eval"))
        .otherwise(lit("train")))

  /** t16 — eval-split LEAKAGE audit: the corpus's near-dup pairs (t05's
    * exact integer-gated n-gram Jaccard kernel) joined against the split
    * assignment; a pair that crosses the boundary leaks eval content
    * into train — the in-corpus counterpart of t13's benchmark
    * decontamination (Lee et al. ACL'22 measure exactly this residual
    * after hash-splitting). Split table carries (doc_id, split) only and
    * the pair set is tiny, so both joins broadcast at real dup rates.
    */
  def splitLeakageReport(spark: SparkSession, dir: String): DataFrame = {
    val splits = splitAssign(plantedCorpus(spark, dir)).select("doc_id", "split")
    nearDupNgramJaccard(spark, dir)
      .join(splits.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "split_a"), Seq("doc_a"))
      .join(splits.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "split_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leaks"))
      .orderBy("doc_a", "doc_b")
  }

  /** The ACTION: a leak-free TRAIN corpus — drop the train-side doc of
    * every crossing pair (eval is the protected set, so train pays).
    * The drop list is a fraction of the (already tiny) pair set:
    * broadcast anti-join, train side never shuffles.
    */
  def leakFreeTrainCorpus(spark: SparkSession, dir: String): DataFrame = {
    val assigned = splitAssign(plantedCorpus(spark, dir))
    val leaks = splitLeakageReport(spark, dir).where(col("leaks"))
    val dropIds = leaks.select(col("doc_a").as("doc_id"), col("split_a").as("split"))
      .unionByName(leaks.select(col("doc_b").as("doc_id"), col("split_b").as("split")))
      .where(col("split") === "train").select("doc_id").distinct()
    assigned.where(col("split") === "train")
      .join(broadcast(dropIds), Seq("doc_id"), "left_anti")
      .select("doc_id", "split")
  }

  // ---- t15: temperature-scaled domain mixture sampling ----------------

  /** Per-source acceptance rates for a temperature-mixed corpus sample:
    * sampling weight w_s = n_s^tau with tau = 1/2 (the standard
    * temperature flattening — over-represented domains are downsampled,
    * the tail is kept; tau is FIXED at 1/2 because sqrt is IEEE-exact in
    * every engine where pow is not, which is what lets DuckDB reproduce
    * the rates bit-for-bit). Expected sample size = targetFrac * N,
    * allocated proportional to w_s; rate_s = min(1, quota_s / n_s),
    * rounded to 9 dp so the one order-dependent term (the w_s sum)
    * cannot leak into the acceptance threshold.
    */
  private[operators] def mixtureRates(spark: SparkSession, dir: String,
                                      targetFrac: Double): DataFrame = {
    val counts = docs(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(sqrt(col("n_docs").cast("double"))).as("w_total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("rate", round(
        least(lit(1.0),
          floor(col("n_total") * targetFrac) * sqrt(col("n_docs").cast("double")) /
            (col("w_total") * col("n_docs").cast("double"))), 9))
      // acceptance threshold as fixed-width lowercase hex: a doc is kept
      // iff its md5 prefix sorts below it ('g' > every hex digit = keep
      // all). Lexicographic compare on fixed-width hex IS the numeric
      // compare, and avoids parsing hex to ints (engine-specific).
      .withColumn("thr_hex",
        when(col("rate") >= 1.0, lit("g"))
          .otherwise(lower(lpad(hex(
            floor(col("rate") * 4294967296.0).cast("long")), 8, "0"))))
  }

  /** The kept rows under the mixture: deterministic md5-threshold
    * acceptance per doc (t12's reproducible-sampling discipline: same
    * row kept on every run, at any parallelism, on any engine). The rate
    * table is domain-sized — broadcast; the corpus side is a narrow
    * filter fused into the scan.
    */
  def mixtureSample(spark: SparkSession, dir: String,
                    targetFrac: Double = 0.25): DataFrame =
    docs(spark, dir).select("doc_id", "source")
      .join(broadcast(mixtureRates(spark, dir, targetFrac)
        .select("source", "thr_hex")), Seq("source"))
      .where(substring(md5(concat(lit("mix1:"), col("doc_id"))), 1, 8) <
        col("thr_hex"))
      .select("doc_id", "source")

  /** t15 — the driver-facing mixture report: per source, corpus count,
    * 9 dp acceptance rate, and the realized kept count (DuckDB-oracled;
    * the realized counts pin the per-row accept decisions without
    * dumping the rows).
    */
  def mixtureReport(spark: SparkSession, dir: String,
                    targetFrac: Double = 0.25): DataFrame = {
    val kept = mixtureSample(spark, dir, targetFrac)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    mixtureRates(spark, dir, targetFrac)
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** t18 corpus: documents plus planted REPETITIVE spam — a unigram
    * flood on every 50th id and a looping 3-gram slogan on the remaining
    * multiples of 25. Both shapes are constructible with repeat()/trim()
    * in plain SQL, so the DuckDB oracle builds the IDENTICAL corpus.
    */
  def repetitionCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val spam = base.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(50)) === 0,
          trim(repeat(lit("spam "), 60)))
          .otherwise(trim(repeat(lit("click here now "), 30))).as("text"))
    base.unionByName(spam)
  }

  /** t18 kernel — Gopher-style repetition metrics (Rae et al. 2021,
    * "Scaling Language Models", appendix A1.1: repetitious documents are
    * filtered on duplicate-fraction and top-n-gram-fraction signals):
    *   dup_tok_frac — fraction of tokens that repeat an earlier token;
    *   topN_frac    — fraction of n-gram OCCURRENCES taken by the single
    *                  most frequent n-gram (normalized by the n-gram
    *                  count so a uniform k-gram loop scores ~1/1, not >1).
    * Scale shape: the grams of a document never leave its own row — the
    * top-gram count is array_sort + ONE run-length aggregate HOF, so the
    * whole metrics job is a single codegen'd map over the scan with ZERO
    * exchanges (vs the naive explode + groupBy(doc_id, gram) which
    * shuffles every gram occurrence of a 100 TB corpus twice).
    */
  def repetitionStatsOf(corpus: DataFrame): DataFrame = {
    def topGramFrac(n: Int): Column = {
      val grams = array_sort(ngrams(col("t"), n))
      // run-length max over the sorted grams: state = (prev, run, best)
      val best = aggregate(
        grams,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, g) => {
          val run = when(g === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(g.as("prev"), run.as("run"),
            greatest(st.getField("best"), run).as("best"))
        },
        st => st.getField("best"))
      round(best.cast("double") /
        greatest(size(col("t")) - (n - 1), lit(1)), 4)
    }
    tokensOf(corpus).select(
      col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      round(lit(1.0) - size(array_distinct(col("t"))).cast("double") /
        greatest(size(col("t")), lit(1)), 4).as("dup_tok_frac"),
      topGramFrac(2).as("top2_frac"),
      topGramFrac(3).as("top3_frac"))
  }

  /** t18 — repetition metrics + keep decision over the planted corpus.
    * Thresholds sized from the measured NATURAL maxima at sf0.01
    * (dup 0.7234 / top2 0.1667 / top3 0.1429): every natural doc passes,
    * while both spam shapes fail by construction (a looping k-gram
    * drives top-k-frac to ~1/1 of the gram stream — 1.0 for the flood,
    * ~0.34 for the 3-gram slogan — and the tiny vocabulary pushes
    * dup_tok_frac past 0.96).
    */
  def repetitionReport(spark: SparkSession, dir: String,
                       maxDup: Double = 0.85,
                       maxTopGram: Double = 0.3): DataFrame =
    repetitionStatsOf(repetitionCorpus(spark, dir))
      .withColumn("kept",
        (col("dup_tok_frac") <= maxDup &&
          col("top2_frac") <= maxTopGram &&
          col("top3_frac") <= maxTopGram).cast("int"))
      .orderBy("doc_id")

  /** t19 corpus: documents plus planted PII variants — every 10th doc
    * reappears (id + 3000000) with a deterministic email + IPv4 appended,
    * both constructible in plain SQL so the oracle builds the identical
    * corpus. The natural corpus carries no PII (no '@', no dotted quads),
    * so the filter's false-positive rate is directly observable.
    */
  def piiCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val planted = base.where(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 now")).as("text"))
    base.unionByName(planted)
  }

  /** ASCII-safe patterns shared by both engines (Java regex and RE2 agree
    * on char classes, bounded repetition, and \b here — no lookaround, no
    * unicode classes).
    */
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** t19 — PII scrubbing, the redaction pass every public-web training
    * corpus runs before release (C4, CCNet, ROOTS all scrub emails /
    * dotted quads with exactly this regexp-replace shape): per-doc match
    * counts plus the redacted text. Pure per-row map — codegen'd
    * regexp_count/regexp_replace, ZERO exchanges; at 100 TB this is a
    * scan-speed pass fused into whatever else touches the text.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiCorpus(spark, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>").as("text_scrubbed"))
      .orderBy("doc_id")

  // ---- t32: C4-style line/document filters (Raffel et al., JMLR 2020) --

  /** t32 corpus: line-structured pages built deterministically from each
    * doc's words (the natural corpus is single-line, so the line
    * discipline C4 filters on is planted — and SQL-reconstructible, the
    * t18/t19 oracle pattern). Per doc: a good 8-word sentence; a 3-word
    * fragment (too short); a 9-word question that every 7th doc taints
    * with "javascript"; an 8-word exclamation; and a tail line that every
    * 11th doc replaces with a lorem-ipsum plant and every 13th (not also
    * 11th) with a curly-brace code plant — C4's two whole-document drops.
    */
  def c4Corpus(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    def seg(from: Int, n: Int): Column =
      array_join(slice(w, from, n), " ")
    val l1 = concat(seg(1, 8), lit("."))
    val l2 = seg(1, 3)
    val l3 = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(seg(4, 9), lit(" javascript needed?")))
      .otherwise(concat(seg(4, 9), lit("?")))
    val l4 = concat(seg(2, 8), lit("!"))
    val l5 = when(pmod(col("doc_id"), lit(11)) === 0,
        lit("lorem ipsum dolor sit amet."))
      .when(pmod(col("doc_id"), lit(13)) === 0,
        lit("var f = function() { return; }"))
      .otherwise(concat(seg(3, 8), lit(" extra words here too.")))
    docs(spark, dir).select(col("doc_id"),
      concat_ws("\n", l1, l2, l3, l4, l5).as("text"))
  }

  /** t32 — the C4 cleaning pass (Raffel et al. JMLR'20 §2.2, the most-run
    * heuristic filter in LLM data work): LINE rule — keep only lines that
    * end in terminal punctuation, have >= 5 words, and don't mention
    * javascript; DOCUMENT rule — drop pages with < 3 retained lines, any
    * "lorem ipsum", or a curly brace. Everything is one codegen'd
    * projection (split + filter/size HOFs + rlike), ZERO exchanges — at
    * 100 TB this is a scan-speed pass fused into the ingest scan.
    */
  def c4Filter(corpus: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val keptLines = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= 5 &&
        !l.contains("javascript"))
    corpus.select(col("doc_id"),
        size(lines).as("n_lines"),
        size(keptLines).cast("long").as("n_kept"),
        array_join(keptLines, " | ").as("text_clean"),
        (!col("text").contains("lorem ipsum") &&
          !col("text").contains("{")).as("doc_ok"))
      .withColumn("kept",
        (col("n_kept") >= 3 && col("doc_ok")).cast("int"))
      .drop("doc_ok")
      .withColumn("n_lines", col("n_lines").cast("long"))
      .orderBy("doc_id")
  }

  def c4Report(spark: SparkSession, dir: String): DataFrame =
    c4Filter(c4Corpus(spark, dir))

  // ---- t20: BPE merge mining (Sennrich et al., ACL 2016) --------------
  //
  // Tokenizer training is a corpus-scale job: each round counts ADJACENT
  // symbol pairs across the whole corpus, picks the most frequent pair,
  // and rewrites every document with that pair merged. The count is one
  // map-side-combined groupBy per round (pairs reduce to a vocab²-bounded
  // key space, tiny vs the corpus); the rewrite is a per-row fold that
  // never leaves the document's partition; the only driver traffic is the
  // 1-row argmax per round. Word-level symbols here (the testdata corpus
  // is word-granular); byte-level BPE is the same plan with a different
  // initial alphabet.

  /** Corpus-wide adjacent-pair counts of a (doc_id, t: array<string>)
    * frame — the per-round kernel.
    */
  private[operators] def pairCounts(toks: DataFrame): DataFrame =
    toks
      .select(explode(transform(windowStarts(col("t"), 2), i => struct(
        element_at(col("t"), i + 1).as("tok_l"),
        element_at(col("t"), i + 2).as("tok_r")))).as("p"))
      .groupBy(col("p.tok_l").as("tok_l"), col("p.tok_r").as("tok_r"))
      .agg(count(lit(1)).as("cnt"))

  /** t20 — the ORACLED slice: top-5 round-1 pair counts with a total
    * (cnt desc, pair asc) tie-break.
    */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    pairCounts(tokensOf(docs(spark, dir).select("doc_id", "text")))
      .orderBy(col("cnt").desc, col("tok_l"), col("tok_r"))
      .limit(5)

  /** Left-to-right greedy merge of one (l, r) pair in every document —
    * the BPE rewrite. A sequential scan per row (a pair consumes its left
    * token, so "a a a" merges to ["a a", "a"], not twice), expressed as
    * one aggregate HOF with (out, pending) state; the merged symbol is
    * the space-join of its parts. Zero exchanges.
    */
  private[operators] def applyMerge(toks: DataFrame, l: String, r: String): DataFrame =
    toks.select(col("doc_id"),
      aggregate(
        col("t"),
        struct(array().cast("array<string>").as("out"), lit("").as("pend")),
        (st, x) => {
          val out = st.getField("out")
          val pend = st.getField("pend")
          when(pend === "", struct(out.as("out"), x.as("pend")))
            .when(pend === lit(l) && x === lit(r),
              struct(concat(out, array(lit(s"$l $r"))).as("out"),
                lit("").as("pend")))
            .otherwise(struct(concat(out, array(pend)).as("out"), x.as("pend")))
        },
        st => when(st.getField("pend") === "", st.getField("out"))
          .otherwise(concat(st.getField("out"), array(st.getField("pend")))))
        .as("t"))

  /** Multi-round BPE trainer: returns (round, tok_l, tok_r, cnt) for each
    * selected merge — fewer than `rounds` when no document has two
    * symbols left (an empty or all-single-token corpus trains none).
    * One collect of ONE row per round; the rewritten corpus is
    * localCheckpoint'd so round N+1's count doesn't replay round N's
    * rewrite lineage. Top-1 counts are provably non-increasing across
    * rounds (a merge only removes occurrences of existing pairs; pairs it
    * creates inherit a subset of a removed pair's occurrences) — BpeSpec
    * asserts that invariant besides the mirror equality.
    */
  def bpeTrain(spark: SparkSession, corpus: DataFrame,
               rounds: Int = 3): Seq[(Int, String, String, Long)] = {
    @annotation.tailrec
    def train(round: Int, toks: DataFrame,
              out: Vector[(Int, String, String, Long)]): Seq[(Int, String, String, Long)] =
      if (round > rounds) out
      else pairCounts(toks)
        .orderBy(col("cnt").desc, col("tok_l"), col("tok_r"))
        .limit(1).collect().headOption match {
        case None => out
        case Some(top) =>
          val (l, r, c) = (top.getString(0), top.getString(1), top.getLong(2))
          train(round + 1, applyMerge(toks, l, r).localCheckpoint(), out :+ ((round, l, r, c)))
      }
    train(1, tokensOf(corpus), Vector.empty)
  }

  /** t24 — BPE tokenizer APPLICATION (the encode half of Sennrich
    * ACL'16; t20 trains the merges, this runs them over a corpus — the
    * step every pretraining pipeline executes on 100 TB while training
    * touched only a sample): encoding = the learned merges folded in RANK
    * ORDER over the token stream, each round the same zero-exchange
    * aggregate-HOF rewrite the trainer used (BPE's defining property:
    * rank-ordered re-application reproduces the trainer's segmentation).
    * So the whole encode is ONE codegen'd map pass per merge with no
    * shuffle at all — merges are plan-time constants (vocab-sized,
    * driver-held), never a join side.
    */
  def bpeEncode(toks: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(toks) { case (t, (l, r)) => applyMerge(t, l, r) }

  /** t24 query: per-doc token accounting under the learned tokenizer.
    * `n_raw` is recovered IN-ROW from the merged symbols (each carries
    * its parts space-joined, so parts-sum == original token count — a
    * conservation invariant BpeSpec pins), keeping the whole query a
    * single pass with zero exchanges after the trainer's bounded rounds.
    */
  def bpeEncodedCorpus(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    // the iterative merge application re-tokenizes every doc per round
    val corpus = spreadNarrow(docs(spark, dir).select("doc_id", "text"))
    val merges = bpeTrain(spark, corpus, rounds).map(m => (m._2, m._3))
    bpeEncode(tokensOf(corpus), merges)
      .select(col("doc_id"),
        aggregate(transform(col("t"), x => size(split(x, " "))),
          lit(0), (a, x) => a + x).as("n_raw"),
        size(col("t")).as("n_bpe"))
      .withColumn("n_merged", col("n_raw") - col("n_bpe"))
      .orderBy("doc_id")
  }

  /** Boilerplate paragraphs planted by [[paragraphTable]] — shared literals
    * so their cross-doc copies are exact (the thing paragraph dedup fires
    * on). Exposed for the spec's contrast assertions.
    */
  private[operators] val CookiePara =
    "we use cookies to improve your experience accept to continue"
  private[operators] val NewsletterPara =
    "subscribe to our newsletter for daily updates and offers"

  /** t25 fixture: the documents table re-cut into PARAGRAPHS (20-word
    * chunks — the corpus has no newlines, so the chunking is the
    * deterministic stand-in for paragraph breaks; swapping in a real
    * split(text,'\n\n') changes ONE expression, not the plan), with two
    * planted boilerplate families: a cookie-notice HEADER (para_idx -1,
    * docs ≡3 mod 7) and a newsletter FOOTER (para_idx 999, docs ≡1 mod 5)
    * — the exact shape (nav chrome, consent banners) CCNet's paragraph
    * dedup exists to strip.
    */
  def paragraphTable(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val nat = base.select(col("doc_id"), words.as("w"))
      .selectExpr("doc_id",
        "posexplode(transform(sequence(0, (size(w)-1) div 20), " +
          "i -> array_join(slice(w, i*20+1, 20), ' '))) AS (para_idx, para)")
    val header = base.where("doc_id % 7 = 3")
      .selectExpr("doc_id", "-1 AS para_idx", s"'$CookiePara' AS para")
    val footer = base.where("doc_id % 5 = 1")
      .selectExpr("doc_id", "999 AS para_idx", s"'$NewsletterPara' AS para")
    nat.unionByName(header).unionByName(footer)
  }

  /** t25 — PARAGRAPH-level exact dedup (CCNet, Wenzek et al. LREC'20 §3.1:
    * hash every paragraph, keep only the first occurrence corpus-wide —
    * the pass that strips boilerplate/nav/consent chrome which doc-level
    * dedup can never see because the surrounding document is unique).
    * First occurrence = min (doc_id, para_idx) instance per exact
    * paragraph text, decided by row_number over md5(para) — fully ordered,
    * so deterministic at any parallelism. Scale shape: the dedup decision
    * is one hash-partitioned exchange (paragraph text crosses ONCE —
    * inherent, the decision is on content; CCNet shards exactly this way)
    * and reassembly is one doc_id exchange of the kept paragraphs;
    * map-side combine doesn't apply (keys are near-distinct), no
    * all-pairs anything.
    */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("para"))).orderBy(col("doc_id"), col("para_idx"))
    paragraphTable(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("para_idx"), col("para"))))),
            x => x.getField("para")), " ").as("text_deduped"))
      .orderBy("doc_id")
  }

  /** t21 — DSIR-style importance weighting (Xie et al., NeurIPS 2023:
    * select raw-corpus documents whose hashed-n-gram distribution looks
    * like a trusted TARGET corpus). Target here = the 'en' slice; features
    * = word unigrams hashed into 64 buckets (first 8 md5 hex digits, a
    * conversion both engines perform bit-identically).
    *
    * Deviation, deliberate: DSIR scores with log-probability ratios;
    * ln() is not bit-identical across engines (unlike sqrt — see t15's
    * tau=1/2 note), so the cross-engine contract uses the RATIO itself in
    * integer fixed-point: score_b = ((cnt_t+1)·10^6·(total_r+64)) div
    * ((cnt_r+1)·(total_t+64)) — add-1-smoothed importance ratio, scaled,
    * floor-divided. Every arithmetic step is BIGINT-exact, so weights,
    * ranks, and the top-quartile selection are reproducible on any
    * engine at any parallelism with NO rounding tolerance at all.
    * (Swapping in log scores changes one column, not the plan.)
    *
    * Scale shape: token occurrences reduce map-side to (doc, bucket) and
    * (bucket) counts; the bucket score table is 64 rows (broadcast); the
    * only corpus-sized exchanges carry ids + integers.
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  nBuckets: Int = 64, scale: Long = 1000000L): DataFrame =
    dsirWeightsOf(docs(spark, dir).select("doc_id", "lang", "text"),
      "en", nBuckets, scale)

  /** t21 kernel over any (doc_id, lang, text) corpus — the target slice
    * is `lang = targetLang`.
    */
  def dsirWeightsOf(corpus: DataFrame, targetLang: String,
                    nBuckets: Int = 64, scale: Long = 1000000L): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), col("lang"), explode(words).as("tok"))
      .withColumn("b", pmod(
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(nBuckets.toLong)))
    val cntDb = toks.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt_db"))
    val rawB = toks.groupBy("b").agg(count(lit(1)).as("cnt_r"))
    val tgtB = toks.where(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("cnt_t"))
    val totals = toks.agg(
      count(lit(1)).as("total_r"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("total_t"))
    val scores = rawB.join(tgtB, Seq("b"), "left").crossJoin(totals)
      .select(col("b"), expr(
        s"((coalesce(cnt_t, 0) + 1) * $scale * (total_r + $nBuckets)) div " +
          s"((cnt_r + 1) * (total_t + $nBuckets))").as("score"))
    val weights = cntDb.join(broadcast(scores), Seq("b"))
      .groupBy("doc_id").agg(sum(col("cnt_db") * col("score")).as("weight"))
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("weight").desc, col("doc_id"))
    weights.crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("weight"),
        // rn <= n_docs div 4, kept non-nullable (div is nullable)
        (lit(4L) * row_number().over(w) <= col("n_docs")).cast("int").as("selected"))
      .orderBy("doc_id")
  }

  def dsirOracleSql(nBuckets: Int = 64, scale: Long = 1000000L): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % $nBuckets AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM documents)
       |), cnt_db AS (
       |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt_db FROM toks GROUP BY 1, 2
       |), raw_b AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS cnt_r FROM toks GROUP BY 1
       |), tgt_b AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS cnt_t FROM toks WHERE lang = 'en' GROUP BY 1
       |), totals AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total_r,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS total_t
       |  FROM toks
       |), scores AS (
       |  SELECT r.b,
       |    ((COALESCE(t.cnt_t, 0) + 1) * $scale * (total_r + $nBuckets)) //
       |      ((r.cnt_r + 1) * (total_t + $nBuckets)) AS score
       |  FROM raw_b r LEFT JOIN tgt_b t ON r.b = t.b, totals
       |), weights AS (
       |  SELECT d.doc_id, CAST(sum(d.cnt_db * s.score) AS BIGINT) AS weight
       |  FROM cnt_db d JOIN scores s ON d.b = s.b GROUP BY 1
       |), k AS (SELECT count(*) // 4 AS k FROM documents)
       |SELECT doc_id, weight,
       |  CAST(CASE WHEN row_number() OVER (ORDER BY weight DESC, doc_id) <= k.k
       |       THEN 1 ELSE 0 END AS INT) AS selected
       |FROM weights, k ORDER BY doc_id""".stripMargin

  // ---- t23: TF-IDF top terms -------------------------------------------

  /** t23 — TF-IDF keyword extraction (Spärck Jones, J.Doc 1972 — public
    * technique): the per-document top-k most DISTINCTIVE terms, the first
    * representation retrieval / corpus-exploration stacks build over a
    * crawled corpus. Arithmetic discipline (the t21 fixed-point lesson):
    * idf is INTEGER fixed-point — `idf_fp = (N * 1e6) div df` — instead of
    * `ln(N/df)`, because ln() is not bit-identical across engines while
    * BIGINT division is exact everywhere; idf_fp is strictly monotone in
    * N/df, so per-document ranks agree with the classic formulation up to
    * the 1e-6 quantization, and the whole (score, rank) table reproduces
    * with NO rounding tolerance — which is what puts t23 in the hard
    * DuckDB oracle gate.
    *
    * Scale shape: the token stream shuffles ONCE into the (doc_id, term)
    * tf aggregate (map-side combined — the exchange carries distinct
    * per-doc terms, not token occurrences); df derives from tf by a
    * term-keyed re-agg whose output is vocab-sized (Heaps' law ~
    * sqrt(corpus)) and joins back BROADCAST; N is a 1-row aggregate
    * cross-joined in-plan, never collected; top-k is a per-doc window
    * over the doc-partitioned tf table.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfTopTermsOf(docs(spark, dir), k)

  /** Per-(doc_id, term) counts `tf` of the lower-cased whitespace terms
    * of a (doc_id, text) frame, empty terms dropped — the t23/t34 term
    * table, map-side combined before its one doc-keyed exchange.
    */
  private def termFreqs(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** t23 kernel over any (doc_id, text) frame. */
  def tfidfTopTermsOf(corpus: DataFrame, k: Int = 3): DataFrame = {
    val tf = termFreqs(corpus)
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfT), "term").crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n_docs * 1000000) div df)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }

  /** t34 — BM25 top-k retrieval (Robertson/Spärck-Jones 1976 probabilistic
    * weighting, k1=1.2 b=0.75), the ranked-retrieval primitive behind
    * corpus search / decontamination-candidate lookup / eval-set mining.
    * Scoring is t23's integer fixed-point discipline so the DuckDB oracle
    * matches hash-exactly at any parallelism: the idf factor is the raw
    * Robertson ratio (N-df+0.5)/(df+0.5) at scale 1000 WITHOUT the log
    * (a documented monotone-argument variant — ln() is libm-dependent and
    * not bit-identical across engines, and integer sums are
    * addition-order-free where double sums are not), and the
    * length-normalized tf factor tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) is
    * cleared of fractions by multiplying through by 20*sum_dl:
    * 22*tf*sum_dl / (10*tf*sum_dl + 3*sum_dl + 9*dl*N), at scale 1000.
    * Queries are derived in-plan (terms at df-ranks {10,20,30} and
    * {15,25,35}) so the operator is self-contained and deterministic.
    *
    * Scale shape: tf and dl are doc-keyed aggs of one tokenize pass (the
    * exchange is reused); df is a vocab-sized re-agg (Heaps' law ~ sqrt
    * of corpus) that joins back BROADCAST, as do the query terms and the
    * 1-row stats; the only big exchange is the doc-keyed one. The final
    * top-k window partitions by query_id — fine for a handful of queries
    * (TopKAgg is the bounded-heap path for query fan-out); the df-rank
    * window is a global sort of the SMALL vocab table only.
    */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    bm25TopKOf(docs(spark, dir), k)

  /** t34 kernel over any (doc_id, text) frame. */
  def bm25TopKOf(corpus: DataFrame, k: Int = 5): DataFrame = {
    val tf = termFreqs(corpus)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val wDf = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").desc, col("term").asc)
    val ranked = dfT.withColumn("r", row_number().over(wDf))
    val qterms =
      ranked.where(col("r").isin(10, 20, 30))
        .select(lit(1L).as("query_id"), col("term"))
        .unionByName(ranked.where(col("r").isin(15, 25, 35))
          .select(lit(2L).as("query_id"), col("term")))
    val scored = tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .join(broadcast(dfT.select("term", "df")), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", expr(
        "((2*(n_docs - df) + 1) * 1000 div (2*df + 1)) * " +
          "((22*tf*sum_dl*1000) div (10*tf*sum_dl + 3*sum_dl + 9*dl*n_docs))"))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(sum("s").as("score"), count(lit(1)).cast("long").as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    perDoc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "score", "n_terms", "rank")
  }

  /** SimHash near-dup: fingerprint once, candidate pairs by identical
    * 16-bit prefix block (cheap bucketing), verify by Hamming distance.
    */
  def nearDupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val sh = spreadNarrow(plantedCorpus(spark, dir))
      .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("simhash"))
    // 4 rotated 16-bit blocks: docs within Hamming<=6 of a 64-bit hash agree
    // on at least one block w.h.p. (pigeonhole gives >=1 exact block for
    // Hamming<=3; 4 blocks is the standard recall/cost point).
    val blocked = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*))
        .as("block"))
      .select(col("doc_id"), col("simhash"),
        col("block.blk").as("blk"), col("block.key").as("key"))
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= maxHamming)
  }

  // ---- t37: Gopher document-quality rules (Rae et al. 2021, §A1.1) ----
  //
  // The second most-run heuristic filter family after C4 (t32): word-count
  // bounds, mean-word-length bounds, symbol-to-word ratio, alphabetic-word
  // fraction, and the required-stopword rule. Everything is per-row token
  // arithmetic over a split — one codegen'd projection, ZERO exchanges, so
  // at 100 TB it is a scan-speed pass fused into the ingest scan (the same
  // shape argument as t32). All five rules and the verdict are plain SQL,
  // so the whole operator sits in the HARD DuckDB oracle gate.

  /** Planted Gopher-violation corpus: each modulus wires exactly one rule
    * hot (first match wins, mirroring the oracle's CASE):
    * %17 truncated to 5 words (word-count floor), %19 hash-spam appended
    * (symbol ratio), %23 letters digitized (alpha fraction + stopwords),
    * %29 twenty 40-char words appended (mean-word-length ceiling).
    */
  def gopherCorpus(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val longWords = Array.fill(20)("x" * 40).mkString(" ")
    val planted = when(pmod(col("doc_id"), lit(17)) === 0,
        array_join(slice(w, 1, 5), " "))
      .when(pmod(col("doc_id"), lit(19)) === 0,
        concat(col("text"), lit(" ## ## ## ## ## ## ## ## ## ## ## ##")))
      .when(pmod(col("doc_id"), lit(23)) === 0,
        regexp_replace(col("text"), "[A-Za-z]", "7"))
      .when(pmod(col("doc_id"), lit(29)) === 0,
        concat(col("text"), lit(" " + longWords)))
      .otherwise(col("text"))
    docs(spark, dir).select(col("doc_id"), planted.as("text"))
  }

  /** Gopher rule metrics + keep verdict over any (doc_id, text) frame.
    * Ratios are rounded to 4 dp BEFORE the threshold comparisons so both
    * engines gate on identical values (the t01/t32 rounding discipline).
    * The required-word set is Gopher's "must contain >= 2 of a short list
    * of ubiquitous words" rule with the list adapted to the test corpus's
    * vocabulary (Gopher's own list — the/be/to/of/and/... — is an
    * English-frequency artifact; the rule is set membership, not the set).
    */
  def gopherStatsOf(corpus: DataFrame,
                    minWords: Long = 20L, maxWords: Long = 100000L,
                    minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                    maxSymRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
                    minStop: Int = 2): DataFrame = {
    val stopwords = Seq("the", "a", "data", "table", "join", "row", "scan", "merge")
    val toks = filter(words, t => t =!= "")
    val nWords = size(col("toks")).cast("long")
    val sumLen = aggregate(col("toks"), lit(0),
      (acc, t) => acc + length(t)).cast("double")
    val nAlpha = size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("double")
    val hashes = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val ellipses = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("int")
    corpus
      .withColumn("toks", toks)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        round(sumLen / greatest(col("n_words"), lit(1L)), 4))
      .withColumn("sym_ratio",
        round((hashes + ellipses).cast("double") /
          greatest(col("n_words"), lit(1L)), 4))
      .withColumn("alpha_frac",
        round(nAlpha / greatest(col("n_words"), lit(1L)), 4))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("toks")),
          array(stopwords.map(lit): _*))).cast("long"))
      .withColumn("kept",
        (col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("sym_ratio") <= maxSymRatio &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stop") >= minStop).cast("int"))
      .select("doc_id", "n_words", "mean_word_len", "sym_ratio",
        "alpha_frac", "n_stop", "kept")
      .orderBy("doc_id")
  }

  def gopherReport(spark: SparkSession, dir: String): DataFrame =
    gopherStatsOf(gopherCorpus(spark, dir))

  /** t40 — TOKEN-YIELD accounting: docs and TOKENS before/after near-dup
    * dedup, per source — the dataset-card number every corpus release
    * reports ("X B tokens after dedup") and the per-source signal a
    * mixture designer reads (a source whose token yield collapses is a
    * mirror/repost farm, however many documents it contributes). Composes
    * t08's keep-list (reachability components, min-id survivor) with
    * t01's tokenization as ONE declarative plan: token counts fuse into
    * the corpus scan, the keep flag is a left join against the
    * survivor-id list, and the rollup map-side-combines to |sources| rows.
    */
  def tokenYield(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(spark, dir)
    val kept = DedupResolve
      .filterCorpus(corpus, "doc_id", nearDupNgramJaccard(spark, dir),
        "doc_a", "doc_b")
      .select(col("doc_id")).withColumn("kept", lit(1L))
    val src = docs(spark, dir).select(col("doc_id").as("base_id"), col("source"))
    corpus
      .withColumn("base_id", col("doc_id") % 1000000L)
      .withColumn("n_tok", size(words).cast("long"))
      .join(src, Seq("base_id"))
      .join(kept, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_total"),
        sum(coalesce(col("kept"), lit(0L))).as("docs_kept"),
        sum("n_tok").as("tokens_total"),
        sum(when(col("kept").isNotNull, col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("docs_total"), col("docs_kept"),
        col("tokens_total"), col("tokens_kept"),
        round(col("tokens_kept").cast("double") / col("tokens_total"), 4)
          .as("token_yield"))
      .orderBy("source")
  }

  /** t39 — ZIPF SLOPE per source: the log-log regression of token
    * frequency on frequency rank over the top `topR` ranks — the corpus
    * diagnostic for frequency-distribution health (natural text sits near
    * slope −1, Zipf's law; machine-generated/boilerplate corpora flatten
    * or cliff, and a slope drifting across crawl epochs flags a source
    * turning into template spam). Shape: token histogram map-side-combines
    * per (source, token); ranking is a per-source top-R window over the
    * compressed histogram (never raw tokens); the regression reuses q68's
    * exact-moment discipline with log2(rank)/log2(freq) QUANTIZED to
    * fixed-point longs (1e-6) before the moment sums, so cross-engine and
    * cross-partition sums are integer-exact and the slope is ONE final
    * double expression rounded 4 dp.
    */
  def zipfSlope(spark: SparkSession, dir: String, topR: Int = 50): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("source"),
        explode(alnumWords).as("tok"))
    val hist = toks.groupBy("source", "tok").agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("freq").desc, col("tok").asc)
    val q = hist.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topR)
      .select(col("source"),
        log2q(col("rank")).as("x"),
        log2q(col("freq")).as("y"))
    val m = q.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val slope = (nD * col("sxy") - col("sx").cast("double") * col("sy")) /
      (nD * col("sxx") - col("sx").cast("double") * col("sx"))
    m.select(col("source"), col("n").as("n_ranks"),
        round(slope, 4).as("zipf_slope"),
        round((col("sy").cast("double") - slope * col("sx")) / nD / 1e6, 4)
          .as("zipf_intercept"))
      .orderBy("source")
  }

  /** t38 — LEXICAL DIVERSITY profile per document: type-token ratio and
    * hapax fraction (the vocabulary-richness signals a corpus mixer uses
    * next to t01's surface quality and t28's cross-corpus novelty — a
    * low-TTR doc is boilerplate/template spam even when its punctuation
    * and length look clean; Gopher's repetition rules are the n-gram
    * generalization, t18). Shape: one explode + a (doc, token) count that
    * MAP-SIDE-COMBINES before the only exchange, then a per-doc rollup of
    * O(types) rows — token text never crosses a shuffle wider than the
    * distinct (doc, token) pairs, and the base table is scanned once.
    * Tokens are lowercased alphanumeric runs; ratios rounded 4 dp (the
    * t01 discipline) so both engines gate on identical values.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        explode(alnumWords).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 4)
          .as("hapax_frac"))
      .orderBy("doc_id")
  }

  /** t45 — per-source KL DIVERGENCE from the corpus unigram distribution
    * (domain-shift audit, the distributional cousin of q76's categorical
    * mix test): KL(p_source ‖ p_corpus) in bits says how far a source's
    * vocabulary usage drifts from the corpus it feeds — the number an
    * operator watches per epoch to catch a source pivoting content (the
    * DSIR/t21 importance-weight family reads the same signal per doc).
    * Exactness comes from two moves: (1) every log2 argument is an
    * INTEGER count (the t42 discipline — never a ratio), quantized to a
    * 1e6 fixed-point LONG; (2) the per-word sum SEPARATES —
    * Σ cnt·(L(cnt)+L(T_c)−L(cnt_c)−L(T_s)) =
    * Σ cnt·(L(cnt)−L(cnt_c)) + T_s·(L(T_c)−L(T_s)) — so the totals
    * never touch the per-row terms and the whole statistic is BIGINT
    * sums with ONE final rounded division. No smoothing is needed: the
    * corpus contains each source, so cnt_c ≥ cnt_s > 0 for every term.
    *
    * Scale: corpus counts come from a window over the (source, tok)
    * table — the corpus is tokenized ONCE and never re-scanned, and no
    * vocab table needs to broadcast (unlike t14's filter, this stays
    * correct when the vocabulary outgrows a broadcast); exchanges carry
    * (source, tok, two longs).
    */
  def sourceKlDivergence(spark: SparkSession, dir: String): DataFrame = {
    val sc = docs(spark, dir)
      .select(col("source"),
        explode(alnumWords).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val cc = sc.withColumn("cntc",
      sum("cnt").over(org.apache.spark.sql.expressions.Window
        .partitionBy("tok")))
    val tot = sc.agg(sum("cnt").as("tc"))
    cc.groupBy("source")
      .agg(sum(col("cnt") * (log2q(col("cnt")) - log2q(col("cntc")))).as("part"),
        sum("cnt").as("t_tokens"), count(lit(1)).as("vocab"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("t_tokens"), col("vocab"),
        round((col("part")
          + col("t_tokens") * (log2q(col("tc")) - log2q(col("t_tokens"))))
          .cast("double") / (col("t_tokens").cast("double") * 1e6), 4)
          .as("kl_bits"))
      .orderBy("source")
  }

  /** t46 — CONTEXT-LENGTH operating curve: the economics of the
    * max-sequence-length knob every training run sets before t17 packs a
    * single shard — for each candidate length L, what fraction of docs
    * fit whole, how many tokens survive truncate-to-L, and how many are
    * thrown away. Too-short L silently discards the tails of long
    * documents (and with them most long-range structure); too-long L
    * pays attention cost for padding — this prices the trade ON THIS
    * CORPUS, completing the estimator-audit rule (t41/t43/emb18/c89:
    * every knob ships its measured curve). Token counts use the t01
    * whitespace tokenizer (DuckDB parity established); everything
    * downstream is min/max/sum/integer-div over BIGINTs — hash-exact.
    *
    * Scale: one scan to per-doc counts, a 4-way literal explode, one
    * map-side-combined groupBy whose exchange carries (L, five longs).
    */
  def contextLengthCurve(spark: SparkSession, dir: String,
                         lens: Seq[Long] = Seq(16L, 32L, 64L, 128L)): DataFrame =
    docs(spark, dir)
      .select(size(words).cast("long").as("n"))
      .select(col("n"), explode(array(lens.map(lit): _*)).as("max_len"))
      .groupBy("max_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") <= col("max_len"), 1L).otherwise(0L))
          .as("fit_docs"),
        sum("n").as("total_tokens"),
        sum(least(col("n"), col("max_len"))).as("kept_tokens"),
        sum(greatest(col("n") - col("max_len"), lit(0L)))
          .as("truncated_tokens"))
      .select(col("max_len"), col("n_docs"), col("fit_docs"),
        expr("(10000 * fit_docs) div n_docs").as("fit_bp"),
        col("total_tokens"), col("kept_tokens"), col("truncated_tokens"),
        expr("(10000 * kept_tokens) div total_tokens").as("kept_bp"))
      .orderBy("max_len")

  /** t50 — corpus MIXTURE-WEIGHT SOLVER: the planning step BEFORE t15's
    * sampler runs — given per-language target shares of a token budget
    * (en 40%, the rest split evenly — the DoReMi-style mixture spec),
    * derive each language's sampling rate from what the corpus actually
    * HAS, and surface where the plan is infeasible (supply-limited
    * languages whose available tokens fall short of their target; the
    * unmet mass is the number that forces either a budget cut or a
    * target renegotiation — hiding it behind silent renormalization is
    * the classic mixture bug). Everything is BIGINT basis-point
    * arithmetic with integer division — engine-exact, hence oracled.
    *
    * Scale: one scan to per-lang totals; the solver is |langs| rows of
    * pure projection.
    */
  def mixtureSolver(spark: SparkSession, dir: String,
                    budgetBp: Long = 5000L, enShareBp: Long = 4000L): DataFrame = {
    val avail = docs(spark, dir).groupBy("lang")
      .agg(sum(greatest(col("n_chars"), lit(1L))).as("avail_tokens"))
    val tot = avail.agg(sum("avail_tokens").as("t"),
      count(lit(1)).as("n_langs"))
    avail.crossJoin(broadcast(tot))
      .withColumn("budget_tokens", expr(s"(t * $budgetBp) div 10000"))
      .withColumn("share_bp",
        when(col("lang") === "en", lit(enShareBp))
          .otherwise(expr(s"(10000 - $enShareBp) div (n_langs - 1)")))
      .withColumn("desired_tokens",
        expr("(budget_tokens * share_bp) div 10000"))
      .withColumn("rate_bp",
        least(lit(10000L),
          expr("(10000 * desired_tokens) div avail_tokens")))
      .withColumn("expected_tokens",
        expr("(avail_tokens * rate_bp) div 10000"))
      .select(col("lang"), col("avail_tokens"), col("share_bp"),
        col("desired_tokens"), col("rate_bp"), col("expected_tokens"),
        greatest(col("desired_tokens") - col("expected_tokens"), lit(0L))
          .as("unmet_tokens"),
        (col("rate_bp") === 10000L
          && col("desired_tokens") > col("avail_tokens"))
          .as("supply_limited"))
      .orderBy("lang")
  }

  /** t47 — cross-epoch VOCABULARY CHURN per language: how much of the
    * current epoch's vocabulary (and token mass) is new relative to the
    * previous epoch — the retraining trigger for every fixed-vocabulary
    * consumer downstream (a BPE tokenizer, t14's LM vocab, t21's hashed
    * features): high OOV token mass means those models are scoring text
    * they have never seen. Epochs are a deterministic doc_id-parity
    * split (even = previous, odd = current); per (lang, token) the two
    * epoch counts come from ONE conditional aggregation over ONE scan,
    * then a per-lang rollup counts new types and OOV token mass in basis
    * points — all BIGINT, hence oracled.
    *
    * Scale: the same single-scan shape as t45 — no vocab broadcast, two
    * map-side-combined groupBys, exchanges carry (lang, tok, counts).
    */
  def vocabChurn(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), pmod(col("doc_id"), lit(2L)).as("epoch"),
        explode(alnumWords).as("tok"))
      .groupBy("lang", "tok")
      .agg(sum(when(col("epoch") === 0L, 1L).otherwise(0L)).as("cnt_prev"),
        sum(when(col("epoch") === 1L, 1L).otherwise(0L)).as("cnt_cur"))
      .where(col("cnt_cur") > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("cur_types"),
        sum(when(col("cnt_prev") === 0L, 1L).otherwise(0L)).as("new_types"),
        sum("cnt_cur").as("cur_tokens"),
        sum(when(col("cnt_prev") === 0L, col("cnt_cur")).otherwise(0L))
          .as("oov_tokens"))
      .select(col("lang"), col("cur_types"), col("new_types"),
        expr("(10000 * new_types) div cur_types").as("type_churn_bp"),
        col("cur_tokens"), col("oov_tokens"),
        expr("(10000 * oov_tokens) div cur_tokens").as("oov_bp"))
      .orderBy("lang")

  /** t42 — BIGRAM-LM perplexity per document, integer-EXACT and therefore
    * DuckDB-oracled: the sequence-model upgrade of t14's unigram filter
    * (CCNet filters on a KenLM 5-gram; the bigram form is the smallest
    * model that sees word ORDER, so shuffled/templated text scores worse
    * than its unigram profile suggests). t14 stays the broadcast-vocab
    * production filter; t42 brings the perplexity FAMILY into the hard
    * rows+schema+hash gate, which t14's raw-double ln() average cannot
    * join (FP summation order). The trick is the t39 discipline: add-one
    * bigram log-prob = log2(c12+1) - log2(c1+V) where every argument is
    * an INTEGER, each log2 is quantized to a fixed-point long (1e-6)
    * BEFORE summation, so the per-doc sum is a BIGINT — order-free — and
    * bits/bigram is ONE final double division rounded 4 dp.
    *
    * Shape: ONE token scan — bigram instances compress to per-doc
    * (w1, w2, m) counts map-side before any exchange and the grouped
    * table is checkpointed once; corpus bigram counts c12, prefix counts
    * c1 (folded over c12), and the vocabulary size V (distinct w1 ∪ w2 —
    * provably the scored docs' token vocabulary, no extra corpus pass)
    * all derive from those blocks, and c12/c1/V reach the scorer as
    * broadcasts. Text crosses exchanges only as distinct bigram strings,
    * never whole documents; PlanSpec pins zero parquet scans in the
    * final scoring plan.
    */
  def bigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), alnumWords.as("l"))
      .where(size(col("l")) >= 2)
    // The per-doc instance table feeds FOUR consumers (the scorer, c12,
    // c1, and both vocab branches). Declaratively AQE's ReuseExchange
    // only serves the consumers that land in the same stage wave (the
    // broadcast stages materialize concurrently and two of the four
    // rebuilt from a fresh corpus scan — measured, PlanSpec pins the
    // fixed shape), so materialize it ONCE: localCheckpoint computes the
    // map-side-combined count table a single time and every derived
    // table folds over those blocks — the corpus text is read exactly
    // once at any scale, the same call KenLM-style count pipelines make
    // when they persist the count table before deriving the model.
    val inst = toks.select(col("doc_id"),
        explode(transform(windowStarts(col("l"), 2), i => struct(
          element_at(col("l"), i + 1).as("w1"),
          element_at(col("l"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val c12 = inst.groupBy("w1", "w2").agg(sum("m").as("c12"))
    // c1 folds over c12, not inst: the prefix count is the same number
    // either way (sum over w2 of sum over docs == sum over docs), but
    // this way c1's subtree IS c12's subtree + one |bigrams|-row agg, so
    // ReuseExchange serves both corpus tables from the instance stream's
    // single shuffle instead of re-scanning the corpus a third time
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    // V from the bigram stream, not a third corpus pass: every token of a
    // >=2-token doc occurs as some bigram's w1 or w2 (docs below the
    // length floor are excluded from scoring anyway), so distinct(w1)
    // UNION distinct(w2) IS the scored vocabulary — and both branches
    // fold over the instance subtree instead of re-reading text
    val vocab = inst.select(col("w1").as("tok"))
      .union(inst.select(col("w2").as("tok")))
      .agg(count_distinct(col("tok")).as("v"))
    inst
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("m"),
        (log2q(col("c12") + 1L) - log2q(col("c1") + col("v"))).as("qlp"))
      .groupBy("doc_id")
      .agg(sum("m").as("n_bigrams"), sum(col("m") * col("qlp")).as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sq").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("bits_per_bigram"))
      .orderBy("doc_id")
  }

  /** t52 — corpus DIVERSITY-SATURATION curve: as the corpus grows in
    * acquisition order (doc_id shards of `shardSize`), how many NEW
    * distinct word-3-grams does each shard still contribute? t28 scores
    * a DOCUMENT's novelty against the finished corpus; this scores the
    * GROWTH — the curve every "should we crawl more of this source?"
    * decision reads: when new-type yield per shard flattens (Heaps'-law
    * saturation), additional same-source data buys tokens but no
    * diversity, and the budget belongs elsewhere (c34/c54). Per shard:
    * docs, distinct types present, types whose corpus-FIRST occurrence
    * is this shard, the cumulative type count, and new-type yield in
    * integer basis points — all BIGINT.
    *
    * Scale: shingles explode once; first-occurrence is ONE min-agg per
    * type (map-side combined, id+hash-sized rows — at 100 TB the string
    * shingle would be the xxhash64 key, kept as text here only for the
    * DuckDB mirror); the curve itself is |shards| rows through a
    * single-partition window — a driver-sized aggregate, not a data
    * exchange.
    */
  def diversityCurve(spark: SparkSession, dir: String,
                     shardSize: Long = 100L): DataFrame = {
    val sh = wordShingleStrings(docs(spark, dir).select("doc_id", "text"))
      .withColumn("shard", expr(s"doc_id div $shardSize"))
    val pres = sh.select(col("shard"), col("sh")).distinct()
    val firstOcc = pres.groupBy("sh").agg(min("shard").as("first_shard"))
    val perShard = pres.groupBy("shard").agg(count(lit(1)).as("n_types"))
    val news = firstOcc.groupBy("first_shard")
      .agg(count(lit(1)).as("n_new_types"))
    val nDocs = docs(spark, dir)
      .select(expr(s"doc_id div $shardSize").as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("shard")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perShard
      .join(nDocs, Seq("shard"))
      .join(news.withColumnRenamed("first_shard", "shard"), Seq("shard"),
        "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("cum_types", sum("n_new_types").over(w))
      .withColumn("novelty_bp", expr("(10000 * n_new_types) div n_types"))
      .select("shard", "n_docs", "n_types", "n_new_types", "cum_types",
        "novelty_bp")
      .orderBy("shard")
  }

  /** t53 — CONTAMINATION OVERLAP CURVE at multiple n-gram lengths: t13
    * flags docs at one fixed n; this draws the n-sweep every released
    * decontamination report publishes (GPT-3 ran 13-grams, smaller n
    * over-flags common phrases, larger n misses edited quotes) — the
    * calibration that justifies the chosen n. Per n ∈ {5, 8, 13}:
    * corpus docs with ≥1 benchmark n-gram hit, total distinct (doc,
    * n-gram) hits, and the flagged share of the corpus in integer bp —
    * the planted 20-token quotes stay flagged at every n while
    * common-phrase noise must fall away as n grows.
    *
    * Scale: per n one benchmark-side distinct (broadcast — the eval set
    * is tiny by construction) + one hash-join over hashed n-grams;
    * three single-row aggregates union into the curve.
    */
  def contaminationCurve(spark: SparkSession, dir: String,
                         ns: Seq[Int] = Seq(5, 8, 13)): DataFrame = {
    val corpus = leakedCorpus(spark, dir)
    val bench = benchmarkDocs(spark, dir)
    val total = corpus.agg(count(lit(1)).as("n_corpus_docs"))
    ns.map { n =>
      val bng = wordNgrams(bench, n).select("ng").distinct()
      wordNgrams(corpus, n).join(broadcast(bng), Seq("ng"))
        .agg(countDistinct(col("doc_id")).as("n_flagged_docs"),
          count(lit(1)).as("n_hits"))
        .withColumn("ngram_n", lit(n.toLong))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(total))
      .select(col("ngram_n"), col("n_corpus_docs"), col("n_flagged_docs"),
        col("n_hits"),
        expr("(10000 * n_flagged_docs) div n_corpus_docs")
          .as("flagged_bp"))
      .orderBy("ngram_n")
  }

  /** t54 — HILL TAIL-INDEX of the document-length distribution per
    * language (Hill '75): the heavy-tail exponent α̂ = k / Σ ln(x_i/x_k)
    * over the top-k order statistics — the number that sizes every
    * skew defense in this engine (α < 2 means length variance is
    * effectively unbounded: maxPartitionBytes, packing bins (t17), and
    * salting fan-out must assume giants; α > 3 means the tail is tame
    * and uniform splits suffice). Exact construction: lengths are
    * BIGINTs, k adapts deterministically (min(10, n−1)), each log is
    * quantized to a 1e6 fixed-point long BEFORE the sum (the t45
    * discipline — summation order can't matter), x_k and the excess-log
    * sum ship as integers, α̂ is the single rounded division.
    *
    * Scale: one pruned scan; per-lang top-k via rank window over
    * (length, doc_id) — series rows only, no pairs.
    */
  def tailIndex(spark: SparkSession, dir: String): DataFrame = {
    def lq(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val x = docs(spark, dir)
      .select(col("lang"), col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("x"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("x").desc, col("doc_id").asc)
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val ranked = x
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("k", least(lit(10L), col("n") - 1L))
      .withColumn("xk",
        max(when(col("rn") === col("k") + 1L, col("x"))).over(wN))
    ranked.where(col("rn") <= col("k"))
      .groupBy("lang")
      .agg(max("n").as("n_docs"), max("k").as("k"), max("xk").as("x_k"),
        sum(lq(col("x")) - lq(col("xk"))).as("sum_log_excess_q"))
      .select(col("lang"), col("n_docs"), col("k"), col("x_k"),
        col("sum_log_excess_q"),
        round(col("k").cast("double") * 1e6
          / col("sum_log_excess_q").cast("double"), 4).as("hill_alpha"))
      .orderBy("lang")
  }

  /** t56 — per-document TOKEN ENTROPY screen: the unigram-entropy
    * quality gate between t38 (type/token ratios — counts, no
    * distribution shape) and t42 (bigram perplexity — needs a trained
    * LM): a doc whose token distribution has abnormally LOW entropy is
    * repetitive boilerplate (one token dominating), abnormally high
    * entropy relative to its length is shuffled junk — both pass
    * length/TTR gates. Exact q69 discipline per doc: token counts are
    * BIGINT, each c·log2(c) term is quantized to a 1e-6 fixed-point
    * long so the per-doc sum is an integer sum, H = log2(n) −
    * Σc·log2(c)/n is one rounded double, and the low-entropy flag
    * compares INTEGERS (n·lq(n) − Σc·lq(c) < threshold·n·1e6) so the
    * verdict never sits on a float boundary.
    *
    * Scale: explode → per-(doc, token) counts → per-doc sum — all
    * map-side combined; no joins, no windows.
    */
  def tokenEntropy(spark: SparkSession, dir: String,
                   minBits: Long = 4L): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("doc_id"),
        explode(alnumWords).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c") * log2q(col("c"))).as("term_q"))
      .withColumn("hq", col("n_tokens") * log2q(col("n_tokens")) - col("term_q"))
      .select(col("doc_id"), col("n_tokens"), col("vocab"),
        round(col("hq").cast("double")
          / (col("n_tokens").cast("double") * 1e6), 4).as("entropy_bits"),
        (col("hq") < lit(minBits) * col("n_tokens") * 1000000L)
          .as("low_entropy"))
      .orderBy("doc_id")
  }

  /** t57 — SHINGLE-SIZE dedup calibration sweep: t41 sweeps the Jaccard
    * THRESHOLD at fixed 3-gram shingles; this sweeps the other design
    * axis — the shingle width w ∈ {2, 3, 5} — at the engine's fixed
    * gate (J ≥ 1/2, t05's 2·inter ≥ |A|+|B|−inter form). Small w makes
    * common phrases shingle-collide (recall up, precision down); large
    * w makes any edit break shared shingles (precision up, recall
    * down); the sweep against the planted revision truth is the
    * empirical basis for the engine's w = 3 default. Per w: candidate
    * and predicted-dup pair counts, tp/fp/fn as BIGINTs, P/R as single
    * rounded divisions. Same inverted-index + df-cap shape as t05 at
    * every w — the sweep changes the kernel parameter, not the plan.
    */
  def shingleSizeSweep(spark: SparkSession, dir: String,
                       widths: Seq[Int] = Seq(2, 3, 5)): DataFrame = {
    val corpus = spreadNarrow(plantedCorpus(spark, dir))
    val truth = plantTruth(spark, dir)
    widths.map { wdt =>
      val dup = jaccardScored(
          overlapIndex(wordNgrams(corpus, wdt).withColumnRenamed("ng", "sh"), 64))
        .withColumn("is_dup", jaccardGate.cast("long"))
      val volumes = dup.agg(count(lit(1)).as("n_candidates"),
        sum("is_dup").as("n_predicted"))
      val joined = dup.where(col("is_dup") === 1L)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("pred"))
        .join(truth.withColumn("is_true", lit(1L)),
          Seq("doc_a", "doc_b"), "full_outer")
      joined.agg(
          sum(when(col("pred") === 1L && col("is_true") === 1L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1L && col("is_true").isNull, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("pred").isNull && col("is_true") === 1L, 1L)
            .otherwise(0L)).as("fn"))
        .crossJoin(broadcast(volumes))
        .withColumn("w", lit(wdt.toLong))
    }.reduce(_ unionByName _)
      .select(col("w"), col("n_candidates"), col("n_predicted"),
        col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double")
          / greatest(col("tp") + col("fp"), lit(1L)).cast("double"), 6)
          .as("prec"),
        round(col("tp").cast("double")
          / greatest(col("tp") + col("fn"), lit(1L)).cast("double"), 6)
          .as("rec"))
      .orderBy("w")
  }

  /** t58 — dedup IDEMPOTENCE / second-pass RESIDUAL audit: is one dedup
    * pass enough? Formally it need NOT be — the df-cap is computed on
    * the corpus the pass sees, so shingles that were over-cap (dropped
    * from the index) in pass 1 can fall UNDER the cap once duplicates
    * are removed, surfacing candidate pairs the first pass was blind
    * to. This audit runs t05's pair kernel on t08's kept corpus and
    * reports the residual: zero = the pipeline is a fixpoint at this
    * corpus (ship one pass), nonzero = the measured argument for a
    * second pass (or a df-cap chosen on pre-dedup counts). One row,
    * all BIGINT + one flag.
    */
  def dedupIdempotence(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(spark, dir)
    // kept feeds the count AND the second-pass pair kernel — materialize
    // once (the second shingle pass over kept is the semantics; re-running
    // the FIRST dedup for each consumer was not)
    val kept = DedupResolve.filterCorpus(corpus, "doc_id",
      nearDupNgramJaccard(spark, dir), "doc_a", "doc_b")
      .localCheckpoint()
    val nKept = kept.agg(count(lit(1)).as("n_docs_kept"))
    val residual = ngramJaccardPairs(kept)
      .agg(count(lit(1)).as("n_second_pass_pairs"))
    nKept.crossJoin(broadcast(residual))
      .select(col("n_docs_kept"), col("n_second_pass_pairs"),
        expr("(10000 * n_second_pass_pairs) div n_docs_kept")
          .as("residual_bp"),
        (col("n_second_pass_pairs") === 0L).as("is_fixpoint"))
  }

  /** t59 — TOKENIZER FERTILITY per language: BPE-ish tokens per
    * whitespace word, the metric behind every "CJK costs 3× the tokens"
    * budget argument — fertility decides how many RAW bytes a language
    * needs per TRAINED token, so the t50 mixture solver's per-language
    * budgets are only comparable after dividing by it. The Spark side
    * runs the 2.9e codegen'd `bpe_token_count` Expression; the kernel
    * is a pure leftmost-first regex (the GPT-2 pattern subset), which
    * RE2 replicates exactly, so the whole row joins the hard oracle
    * gate. Per language: docs, whitespace words, BPE tokens, bytes;
    * fertility and bytes-per-token in integer basis points.
    *
    * Scale: one scan, everything per-row codegen, one map-side agg.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // the raw fixture is pure space-separated letter-words (fertility
    // would be exactly 1.0 everywhere); the deterministic decoration
    // adds the punctuation/number/contraction mass real web text has,
    // identically in both engines
    docs(spark, dir)
      .withColumn("text",
        concat(col("text"), lit(" (rev "), col("doc_id"), lit(".7, it's v2!)")))
      .select(col("lang"),
        size(words).cast("long").as("words"),
        expr("bpe_token_count(text)").cast("long").as("bpe"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("words").as("words"),
        sum("bpe").as("bpe_tokens"), sum("bytes").as("bytes"))
      .select(col("lang"), col("n_docs"), col("words"), col("bpe_tokens"),
        col("bytes"),
        expr("(10000 * bpe_tokens) div words").as("fertility_bp"),
        expr("(10000 * bytes) div bpe_tokens").as("bytes_per_token_bp"))
      .orderBy("lang")
  }
}
