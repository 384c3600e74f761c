package graft

import graft.operators.{DiffJob, FrontierJob, Relational, SimilarityOps, TextOps}
import graft.sources.{Gen, SeenStore}
import java.nio.file.{Files, Paths}

/** Dev-only: dumps `explain("formatted")` for the flagship plans into
  * BENCH/PLANS.md — the human-readable companion to PlanSpec (which pins
  * the same properties as failing tests). Re-run after any plan-shaping
  * change: `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkEnv.session(8)

    def fmt(df: org.apache.spark.sql.DataFrame): String = {
      val qe = df.queryExecution
      qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    }

    val sections = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]

    // E1 crawl schedule — the flagship: canonicalize -> batch dedupe ->
    // exact seen anti-join -> robots broadcast -> bounded-heap politeness
    // top-K -> deterministic order
    {
      import spark.implicits._
      val seen = Seq(graft.model.SeenEntry(42L, "news0.example.com", 0)).toDS()
      val sched = FrontierJob.runEpoch(
        Gen.seeds(spark, 2000), Gen.robots(spark), seen,
        FrontierJob.Config(globalBudget = 500))
      sections += (("E1 crawl-epoch schedule (FrontierJob.runEpoch)",
        "canonicalize + xxhash64 in one codegen stage into the batch-dedupe aggregate; " +
          "one exact left-anti join on url_hash against the seen set (broadcast below " +
          "FrontierJob.SeenBroadcastMaxBytes, shuffled SMJ above it); BroadcastHashJoin for " +
          "robots; partial+final ObjectHashAggregate for the bounded-heap politeness top-K",
        fmt(sched.toDF())))
    }

    // E2 revision diff (latest-table form) — bytes-free scans
    {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-planaudit").toString
      spark.createDataset((0 until 50).map(i =>
        Gen.snapshotRow(s"http://news0.example.com/a-$i", 0, 0, "png", epoch = 0)))
        .drop("epoch").write.mode("overwrite").parquet(s"$dir/snapshots/epoch=0")
      val hist = spark.read.parquet(s"$dir/snapshots")
      val latestPrev = graft.sources.Snapshots.readLatest(spark, dir, -1)
      sections += (("E2 revision diff (latest-table equi-join form)",
        "ReadSchema on every scan excludes `bytes` (column pruning pushed to parquet); " +
          "flat cost per epoch — one equi-join vs the maintained latest table",
        fmt(DiffJob.revisionsFromLatest(hist, latestPrev, 0, 10).toDF())))
    }

    sections += (("q01 pricing aggregate",
      "PushedFilters + partial/final HashAggregate; scan reads only the 5 needed columns",
      fmt(Relational.aggPricing(spark, sfDir))))

    sections += (("q14 star join",
      "dimension joins broadcast; fact scan prunes to join keys + measures",
      fmt(Relational.starRevenue(spark, sfDir))))

    sections += (("t05 n-gram Jaccard near-dup",
      "single shingle-index shuffle serves sizes/df-cap/both join sides via ReusedExchange; " +
        "exchanges carry (doc_id, xxhash64) only",
      fmt(TextOps.nearDupNgramJaccard(spark, sfDir))))

    sections += (("t06 repeated-span dedup screen",
      "winnowed-anchor inverted index; exchanges carry (hash, doc_id, offset) scalars; " +
        "df-cap anti-join precedes the pair self-join",
      fmt(TextOps.repeatedSpans(spark, sfDir))))

    sections += (("emb03 embedding near-dup",
      "candidate self-join carries (bucket, vec_id) only; vectors re-join after the " +
        "broadcast semi-join restriction — no embedding column on candidate exchanges",
      fmt(SimilarityOps.nearDupCosine(spark, sfDir, nBits = 6))))

    sections += (("t10 span-clipped corpus (clipRepeatedSpans)",
      "extents aggregate carries (doc_id, two ints per pair) only and joins the " +
        "payload corpus once on doc_id; untouched docs take the when() fast path " +
        "(UDF evaluated only under extents IS NOT NULL). The initial plan below " +
        "shows the general SMJ form (extents size unknown at plan time); AQE " +
        "converts it to a broadcast join at typical dup rates — and at dup rates " +
        "where the extents table is genuinely huge, the doc_id-partitioned SMJ " +
        "(payload shuffled ONCE) is the correct fallback, not a defect",
      fmt(TextOps.clipRepeatedSpans(
        TextOps.spanCorpus(spark, sfDir),
        TextOps.repeatedSpanPairs(TextOps.spanCorpus(spark, sfDir))))))

    {
      import org.apache.spark.sql.functions._
      val root = Files.createTempDirectory("graft-planaudit-c19").toString
      val imgs = spark.range(200).select(
        concat(lit("http://h"), pmod(col("id"), lit(7)), lit(".example/img-"), col("id"))
          .as("image_id"),
        xxhash64(col("id")).as("phash"))
      graft.operators.SimIndex.writePhashIndex(imgs.where(pmod(col("id"), lit(2)) === 0), root, 0)
      graft.operators.SimIndex.writePhashIndex(imgs.where(pmod(col("id"), lit(2)) === 1), root, 1)
      sections += (("c19 cross-epoch image near-dup via persisted phash index",
        "both join sides scan ONLY the persisted block index (ids + 8-byte phash — " +
          "no image table, no re-blocking); epoch partition pruning cuts the new side; " +
          "exact bit_count verify reads phash straight off the index rows",
        fmt(graft.operators.SimIndex.crossEpochNearDupPhash(spark, root, 1))))
    }

    {
      import org.apache.spark.sql.functions.{col, concat_ws, lit, pmod, xxhash64}
      val tmp = Files.createTempDirectory("graft-planaudit-c23").toString
      import spark.implicits._
      val frontier = spark.range(0, 2000)
        .select(xxhash64(col("id")).as("url_hash"),
          concat_ws("", lit("h"), pmod(col("id"), lit(50))).as("host"))
      val seen = frontier.where(pmod(col("url_hash"), lit(4)) === 0)
        .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
        .as[graft.model.SeenEntry]
      SeenStore.writeBucketed(seen, "planaudit_seen_bucketed", s"$tmp/seen")
      sections += (("c23 exact dedupe vs BUCKETED seen table",
        "the cumulative seen side scans `Bucketed: true` and satisfies the SMJ " +
          "distribution with NO exchange — only the epoch-sized frontier side " +
          "shuffles; at 10^10 seen URLs this deletes the big shuffle from every epoch",
        fmt(SeenStore.dedupeAgainstBucketed(spark, frontier, "planaudit_seen_bucketed"))))
    }

    {
      import org.apache.spark.sql.functions.col
      val pairs = graft.operators.MultimodalDedup.pairsCorpus(spark, sfDir)
      val capE = TextOps.ngramJaccardPairs(pairs.select("doc_id", "text"))
        .select(col("doc_a").cast("long").as("doc_a"),
          col("doc_b").cast("long").as("doc_b"))
      val imgE = graft.operators.MultimodalDedup.exactHashEdges(
        pairs, "doc_id", "img_hash")
      sections += (("t11 multimodal dedup edge union (caption near-dup + image stars)",
        "caption family reuses the t05 inverted-index shape (ids+shingle-hash " +
          "exchanges); image family is ONE window shuffle on (doc_b, img_hash) " +
          "emitting k-1 star edges per hash group — same components as the " +
          "clique at linear cost; no text payload on any exchange (PlanSpec pin)",
        fmt(capE.unionByName(imgE))))
    }

    {
      import org.apache.spark.sql.functions.col
      // one power-iteration step, pre-checkpoint: the shape that repeats 10x
      import org.apache.spark.sql.functions.{count, lit, round}
      val edges = graft.operators.GraphOps.sourceEdges(spark, sfDir)
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct().persist()
      val n = nodes.count()
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(outdeg, "src").persist()
      edgesDeg.count()
      // the loop checkpoints each step's output, so a mid-run step reads
      // ranks as a flat RDD scan — mirror that here
      val ranks0 = nodes.withColumn("rank", round(lit(1.0) / n, 10))
        .localCheckpoint()
      sections += (("g01 host PageRank (one power-iteration step)",
        "per iteration: ONE equi-join (ranks x degree-annotated edges) + ONE " +
          "groupBy(dst) with partial_sum BEFORE the exchange (map-side " +
          "combine) + the 1-row dangling agg cross-joined IN-PLAN (never " +
          "collected — BNL-Cross BuildRight on one row), so the whole step " +
          "is one Spark job; rows on every exchange are (node, double) — " +
          "no payload; the loop localCheckpoints each step so step 10's " +
          "plan is identical to step 1's",
        fmt(graft.operators.GraphOps.step(nodes, outdeg, edgesDeg, ranks0,
          n, 0.85))))
    }

    sections += (("q37 full-outer epoch reconciliation",
      "both sides project to (doc_id, md5) BEFORE the exchange — the SMJ " +
        "full outer ships ~40-byte rows, payload text never leaves the scan; " +
        "ReadSchema prunes documents to (doc_id, text)",
      fmt(Relational.reconcileEpochs(spark, sfDir))))

    sections += (("t14 unigram-LM perplexity filter",
      "the vocab (Heaps'-law small) and the (T,V) 1-row normalizer both " +
        "BROADCAST — the exploded token stream reaches its lookup without " +
        "an exchange (no SortMergeJoin anywhere); the only wide exchange " +
        "carries per-doc partial (sum,count) pairs; ReadSchema prunes " +
        "documents to (doc_id, text)",
      fmt(TextOps.lmQualityReport(spark, sfDir))))

    sections += (("c28 DUST alias-rule mining",
      "the pair join keys on (host, base_url) and both sides carry " +
        "(host, base, 32-char digest) only — content bytes never exist in " +
        "this plan; the report aggregate is (hosts x params)-sized",
      fmt(graft.operators.DustOps.dustReport(spark, sfDir))))

    sections += (("emb07 SQ8 scalar-quantized ANN",
      "the scan side is the codes table (1 byte/dim); query codes + float " +
        "query vectors broadcast; candidate scoring is integer dots inside " +
        "the projection (no UDF); floats re-enter only for the top-50 " +
        "exact-refine rejoin",
      fmt(SimilarityOps.annSqTopK(spark, sfDir))))

    sections += (("t17 sequence packing",
      "one exchange on the shard key, then a per-shard running-sum window " +
        "— no global single-partition window (a global prefix sum would " +
        "serialize at 100 TB); everything after the window is a narrow " +
        "projection of integer arithmetic",
      fmt(TextOps.sequencePack(spark, sfDir))))

    sections += (("q53 mirror-host detection",
      "payload hashed at the scan (md5 fused into the projection); the " +
        "inverted-index self-join and every aggregate exchange move " +
        "(host, 16-byte hash) rows only — page text never shuffles; " +
        "df-cap anti-join prunes boilerplate before the quadratic join",
      fmt(Relational.mirrorHosts(spark, sfDir))))

    sections += (("t29 exact substring dedup (prefix-doubling suffix ranks)",
      "seed 8-char window identities are substring+xxhash64 FUSED into the " +
        "scan-side explode projection (text is consumed and dropped before " +
        "any exchange); each doubling round is one sort-merge self-join on " +
        "(doc_id, pos+w) over (doc_id:long, pos:int, r:long) rows — " +
        "log2(L/8) int/long-only shuffles total; the content-verify stage " +
        "re-joins the payload once on doc_id for the dup-rate-sized " +
        "candidate set only",
      fmt(operators.SuffixOps.dupWindowReport(spark, sfDir))))

    sections += (("emb12 prefix-dimension rerank",
      "coarse stage ranks on a 24-element slice (at production scale its " +
        "own parquet column — the scan prunes the other 5/8 of vector " +
        "bytes); ranking exchanges carry (query_id, vec_id, score) only; " +
        "the candidate set and queries broadcast back for the exact " +
        "full-dim rerank — full vectors never shuffle",
      fmt(SimilarityOps.annPrefixRerankTopK(spark, sfDir))))

    // c63 header-dims audit — parquet-backed so the projection survives
    // to the physical plan (a LocalRelation corpus constant-folds away)
    {
      val dir = Files.createTempDirectory("graft-planaudit-c63").toString
      graft.operators.ImageOps.dimsCorpus(spark).write.mode("overwrite").parquet(dir)
      sections += (("c63 header-dims audit (pre-decode gate)",
        "ONE whole-stage-codegen Project directly over the parquet scan — " +
          "header_dims64 reads <=~30 header bytes per row, nothing decoded, " +
          "no exchange, no UDF node",
        fmt(graft.operators.ImageOps.dimsAudit(spark.read.parquet(dir)))))
    }

    // t33 aspect bucket packing
    sections += (("t33 aspect-ratio bucket packing",
      "bucket argmin is a least() over (cost, b) structs inside the scan " +
        "projection (no Expand, no join); ONE hash exchange on bucket_ar " +
        "serves the row_number window AND the bucket count window",
      fmt(graft.operators.ImageOps.aspectBucketPack(
        graft.operators.ImageOps.aspectBucketCorpus(spark, sfDir)))))

    // t32 C4 cleaning pass
    sections += (("t32 C4-style line/document cleaning",
      "the entire line rule + document rule is one codegen projection " +
        "(split + filter/size HOFs + rlike) over the documents scan; the " +
        "only exchange is the presentation sort",
      fmt(TextOps.c4Report(spark, sfDir))))

    // t34 BM25 ranked retrieval
    sections += (("t34 BM25 ranked retrieval",
      "the corpus-sized tf table is the only shuffled relation (one " +
        "doc-keyed exchange family); df, in-plan query terms and the " +
        "1-row stats all come back as broadcasts; scoring is integer " +
        "fixed point inside codegen; text never rides an exchange",
      fmt(TextOps.bm25TopK(spark, sfDir))))

    // c68 dihedral (metadata-free rotation) copy detection
    sections += (("c68 dihedral copy detection (rotate-then-strip reposts)",
      "one decode pass emits the 8-hash orbit; the orbit explode and " +
        "4x16-bit blocking carry ids+hashes only — image bytes stop at " +
        "the decode pass and never reach an exchange; per-pair best " +
        "(hamming, orientation) is a min(struct) hash aggregate",
      fmt(graft.operators.ImageOps.dihedralMatches(
        graft.operators.ImageOps.dihedralCorpus(spark)))))

    // c77 scale-variant matches (radius-6 combination blocking)
    sections += (("c77 scale-variant matches (radius-6 combination blocking)",
      "28 combination keys explode from the phash inside codegen (no " +
        "decode — the hash is an index column); every pair exchange " +
        "carries ids + the 8-byte phash only, bytes/captions never " +
        "shuffle; exact verify is a bit_count on the joined hashes",
      fmt(graft.operators.ImageOps.scaleMatches(
        graft.operators.ImageOps.scaleCorpus(spark, 32)))))

    // t38 lexical diversity
    sections += (("t38 lexical diversity (TTR/hapax per doc)",
      "the (doc, token) histogram map-side-combines before its exchange " +
        "(partial_count below the innermost hashpartitioning); the scan " +
        "prunes to doc_id+text; the per-doc rollup is a second partial+" +
        "final agg over O(types) rows",
      fmt(TextOps.lexicalDiversity(spark, sfDir))))

    // g09 degree-ordered triangle counting
    sections += (("g09 host triangles (degree-ordered wedge join)",
      "orientation by (degree, name) bounds apex fan-out O(sqrt m); " +
        "every exchange carries host strings + counts only; the doc scan " +
        "feeds the edge derivation with doc_id+source and never text",
      fmt(graft.operators.GraphOps.hostTriangles(spark, sfDir))))

    // t40 token-yield accounting (dedup + tokenization composed)
    sections += (("t40 token-yield accounting (docs/tokens after dedup)",
      "token counts fuse into the corpus scan (one pass), the keep flag " +
        "is a left join against the survivor-id list, the rollup " +
        "map-side-combines to |sources| rows; document text feeds the " +
        "shingle index once and never rides the yield exchanges",
      fmt(TextOps.tokenYield(spark, sfDir))))

    val md = new StringBuilder
    md.append("# BENCH/PLANS — flagship physical plans (explain formatted)\n\n")
    md.append("Generated by `graft.PlanAudit` (re-run after plan-shaping changes).\n")
    md.append("Each property called out below is ALSO pinned as a failing test in\n")
    md.append("PlanSpec / CuckooSpec — this file is the human-readable companion.\n")
    sections.foreach { case (title, props, plan) =>
      md.append(s"\n## $title\n\nPinned properties: $props\n\n```\n")
      md.append(plan.trim.take(14000))
      md.append("\n```\n")
    }
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/PLANS.md"), md.toString)
    println(s"wrote BENCH/PLANS.md (${sections.size} sections)")
    spark.stop()
  }
}
