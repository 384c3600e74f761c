package graft

import graft.SparkTestBase.spark
import graft.functions.{Bloom64, GraftFunctions}
import graft.operators.{DiffJob, FrontierJob, Relational}
import graft.sources.{Gen, SeenStore}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan property tests: the scale claims in README/SURVEY are
  * pinned here so a refactor that silently de-optimizes a plan (probe
  * falls out of codegen, bytes column sneaks into a scan, pushdown lost)
  * fails CI, not a 100 TB run.
  */
class PlanSpec extends AnyFunSuite {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Final plan AFTER execution — AQE only collapses codegen stages (the
    * `*(n)` markers) once the query has run; collect() drives THIS
    * QueryExecution (a write would re-plan a fresh one and leave this plan
    * isFinalPlan=false).
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString()
  }

  /** The codegen bloom probe (`GraftFunctions.bloomMaybeSeen`) over the
    * per-bucket blooms of `seen`, keyed like `SeenStore.buildBlooms`.
    */
  private def bloomProbe(seen: Seq[graft.model.SeenEntry]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    val blooms = SeenStore.buildBlooms(seen.toDS(), numBuckets = 16, expectedPerBucket = 128)
      .collect().map(r => r.getInt(0) -> Bloom64.deserialize(r.getAs[Array[Byte]](1))).toMap
    GraftFunctions.bloomMaybeSeen(spark, spark.sparkContext.broadcast(blooms),
      SeenStore.bucketOf(col("host"), 16), col("url_hash"))
  }

  test("frontier bloom probe is a codegen expression inside the scan stage (no UDF)") {
    val probed = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 100))
      .where(bloomProbe(Seq(graft.model.SeenEntry(42L, "h", 0))))
    val p = finalPlan(probed)
    assert(p.contains("bloom_maybe_seen"), "bloom probe expression missing from plan")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "bloom probe fell back to a UDF")
    // the probe filter must sit inside a WholeStageCodegen span: the final
    // plan prefixes codegen'd operators with '*(n)'
    val probeLine = p.linesIterator.find(_.contains("bloom_maybe_seen")).get
    assert(probeLine.contains("*("),
      s"bloom probe not in a codegen stage: $probeLine")
  }

  test("revision diff scans never read the bytes column (both forms)") {
    val dir = graft.SparkTestBase.tempDir("graft-planspec")
    spark.createDataset((0 until 10).map(i =>
      Gen.snapshotRow(s"http://h/a-$i", 0, 0, "png", epoch = 0)))
      .drop("epoch").write.mode("overwrite").parquet(s"$dir/snapshots/epoch=0")
    val hist = spark.read.parquet(s"$dir/snapshots")
    val pWindow = plan(DiffJob.revisions(hist, 0, 10).toDF())
    val latestPrev = graft.sources.Snapshots.readLatest(spark, dir, -1)
    val pLatest = plan(DiffJob.revisionsFromLatest(hist, latestPrev, 0, 10).toDF())
    for ((name, p) <- Seq("window" -> pWindow, "latest" -> pLatest)) {
      p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
        assert(!l.contains("bytes"), s"$name diff scan reads bytes: $l")
      }
    }
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = plan(Relational.aggPricing(spark, "/root/testdata/sf0.001"))
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("LessThanOrEqual(l_shipdate") ||
      scanLine.contains("IsNotNull(l_shipdate"),
      s"no pushed filter on lineitem scan: $scanLine")
    // column pruning: the 7-of-16-column projection reaches the reader
    val readLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readLine.contains("l_comment"), s"scan reads unprojected columns: $readLine")
  }

  test("emb03: embeddings never ride a shuffle before candidate restriction") {
    // static plan + no size-based broadcasts: every join that WOULD shuffle
    // at scale shows its exchange here (tiny inputs would otherwise hide it)
    SparkEnv.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.operators.SimilarityOps.nearDupCosine(spark, "/root/testdata/sf0.001")
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.nonEmpty, "expected visible exchanges with AQE off")
      // the candidate (bucket) exchanges are id-only
      val bucketShuffles = shuffles.filter(_.outputPartitioning.toString.contains("bucket"))
      assert(bucketShuffles.nonEmpty, "bucket-blocking exchange missing")
      bucketShuffles.foreach { s =>
        assert(!s.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"candidate exchange carries a vector column: ${s.output.map(_.name)}")
      }
      // any exchange that does carry vectors sits ABOVE the broadcast
      // candidate-id semi-join, i.e. moves candidate vectors only — the
      // full corpus never pays an embedding shuffle
      shuffles.filter(_.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
        .foreach { s =>
          val restricted = s.child.collect {
            case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
                if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
          }
          assert(restricted.nonEmpty,
            s"embedding-carrying exchange is not candidate-restricted:\n$s")
        }
    }
  }

  test("two bloom sidecars built in one session resolve independently (no cross-wiring)") {
    import org.apache.spark.sql.functions.col
    val frontier = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 300))
    val rows = frontier.select("url_hash", "host").as[(Long, String)].collect().sortBy(_._1)
    val seenA = rows.take(40).map { case (h, host) => graft.model.SeenEntry(h, host, 0) }
    val seenB = rows.takeRight(40).map { case (h, host) => graft.model.SeenEntry(h, host, 0) }
    // build BOTH plans before evaluating EITHER — a shared registry name
    // would bind both probes to whichever bloom map registered last
    val maybeA = frontier.where(bloomProbe(seenA.toIndexedSeq))
    val maybeB = frontier.where(bloomProbe(seenB.toIndexedSeq))
    val gotA = maybeA.select(col("url_hash")).as[Long].collect().toSet
    val gotB = maybeB.select(col("url_hash")).as[Long].collect().toSet
    // a bloom has no false negatives, and each side's keys are almost all
    // "definitely new" to the other side's bloom (1% FPP)
    assert(seenA.forall(e => gotA(e.url_hash)), "probe A used the wrong bloom")
    assert(seenB.forall(e => gotB(e.url_hash)), "probe B used the wrong bloom")
  }

  test("q19 single-pass plan: 2 file scans, 1 aggregate exchange; == set-op form") {
    val dir = "/root/testdata/sf0.001"
    val df = Relational.setOpsUnionIntersect(spark, dir)
    // the adaptive plan prints Final AND Initial sections — count the final only
    val p = finalPlan(df).split("== Initial Plan ==")(0)
    val nScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(nScans == 2, s"expected 2 file scans, saw $nScans:\n$p")
    val got = df.collect().map(r => (r.getString(0), r.get(1).toString)).toSet
    val want = Relational.setOpsUnionIntersectViaOps(spark, dir)
      .collect().map(r => (r.getString(0), r.get(1).toString)).toSet
    assert(got == want, "single-pass q19 diverged from union/intersect operator form")
  }

  test("robots join falls back to shuffle (SMJ) above the broadcast size gate") {
    // tiny test table would auto-broadcast
    SparkEnv.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val frontier = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 300))
      val big = FrontierJob.Config(robotsBroadcastMaxBytes = 0L) // force the large-cache path
      val forced = FrontierJob.applyRobots(frontier, Gen.robots(spark), big)
      val p = plan(forced)
      assert(p.contains("SortMergeJoin"), s"large robots cache still broadcast:\n$p")
      assert(!p.contains("BroadcastHashJoin"))
      // both strategies schedule identically
      val cfgB = FrontierJob.Config(globalBudget = 200)
      val cfgS = cfgB.copy(robotsBroadcastMaxBytes = 0L)
      def sched(cfg: FrontierJob.Config) = FrontierJob.runEpoch(
        Gen.seeds(spark, 300), Gen.robots(spark),
        SeenStore.emptySeen(spark), cfg).collect().toVector
      assert(sched(cfgB) == sched(cfgS), "shuffled robots join changed the schedule")
    }
  }

  test("robots join broadcasts; politeness agg is partial+final (map-side combine)") {
    val cfg = FrontierJob.Config()
    val allowed = FrontierJob.applyRobots(
      FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 100)), Gen.robots(spark), cfg)
    assert(plan(allowed).contains("BroadcastHashJoin"), "robots join not broadcast")
    val sched = FrontierJob.schedule(allowed, cfg)
    val p = plan(sched)
    // typed Aggregator via udaf() plans as ObjectHashAggregate with a
    // partial pass before the exchange
    val aggIdx = p.linesIterator.zipWithIndex.filter(_._1.contains("ObjectHashAggregate")).map(_._2).toSeq
    assert(aggIdx.size >= 2, s"expected partial+final ObjectHashAggregate pair:\n$p")
  }

  /** Final-plan section of an executed AQE plan (AdaptiveSparkPlan.toString
    * appends the pre-execution initial plan after this marker).
    */
  private def finalSection(df: org.apache.spark.sql.DataFrame): String =
    finalPlan(df).split("== Initial Plan ==")(0)

  private def countLines(p: String, needle: String): Int = p.linesIterator.count(_.contains(needle))

  test("E1 dedupe is one pass over the frontier subtree") {
    // The seen check is the exact anti-join alone: the canonicalize+dedupe
    // subtree is consumed once, so the final adaptive plan shows ONE
    // MapPartitions (seed scan), no Union and no ReusedExchange (a second
    // consumer of the dedupe exchange), ONE final dedupe aggregate, and no
    // seen-filter probe. NOTE: inspect the plan of the SAME QueryExecution
    // that ran (collect()); a plan printed before execution is the initial
    // one (isFinalPlan=false).
    val seen = Seq(graft.model.SeenEntry(42L, "news0.example.com", 0)).toDS()
    // seeds pinned to an explicit multi-partition split: r06's adaptive
    // source partitioning gives 2000 rows ONE partition, and a
    // single-partition child satisfies the dedupe's distribution with no
    // Exchange at all, which would make the exchange pins below vacuous.
    val sched = FrontierJob.runEpoch(Gen.seeds(spark, 2000, 8), Gen.robots(spark), seen,
      FrontierJob.Config(globalBudget = 500))
    val p = finalSection(sched.toDF())
    assert(!p.contains("_maybe_seen"), s"a seen-filter probe is in the plan:\n$p")
    assert(countLines(p, "MapPartitions") == 1,
      s"seed scan executed ${countLines(p, "MapPartitions")} times (want 1):\n$p")
    assert(countLines(p, "Union") == 0, s"dedupe split into a Union:\n$p")
    assert(countLines(p, "ReusedExchange") == 0,
      s"dedupe exchange consumed twice (ReusedExchange):\n$p")
    val finalAggs = p.linesIterator.count(l =>
      l.contains("SortAggregate") && l.contains("min(url_canon") && !l.contains("partial_"))
    assert(finalAggs == 1, s"$finalAggs final dedupe aggregates (want 1):\n$p")
  }

  test("seen anti-join is size-gated: forced-shuffle path is SMJ and golden-equal") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions.{col, lit}
    // below the gate Spark may broadcast the seen side; forcing the gate
    // to 0 must yield a SortMergeJoin (the only honest plan at 10^10
    // seen URLs — a broadcast would mean a driver-serial HashedRelation
    // build per epoch) with identical results
    val dir = graft.SparkTestBase.tempDir("graft-planspec-seen")
    FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 500))
      .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
      .write.mode("overwrite").parquet(dir)
    val seen = spark.read.parquet(dir).as[graft.model.SeenEntry]
    object stages extends AdaptiveSparkPlanHelper
    // multi-partition seeds, so the batch dedupe has its own Exchange
    val frontier = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, 2000, 8))
    val default = FrontierJob.dedupeAgainstSeen(frontier, seen)
    val forced = FrontierJob.dedupeAgainstSeen(frontier, seen, 0L)
    val p = finalSection(forced)
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
      s"forced-gate seen join is not a shuffled SMJ anti-join:\n$p")
    // the dedupe aggregate's output is already hash-partitioned and
    // sorted on url_hash: the join shuffles and sorts the seen side only
    assert(countLines(p, "Exchange hashpartitioning") == 2,
      s"want only the dedupe and seen Exchanges:\n$p")
    val smj = stages.collect(forced.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
    }
    assert(smj.size == 1, s"want one SortMergeJoin:\n$p")
    def aboveDedupe(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: SortAggregateExec => Nil
      case _ => n +: n.children.flatMap(aboveDedupe)
    }
    val added = aboveDedupe(smj.head.left).filter {
      case _: SortExec | _: ShuffleExchangeExec | _: ShuffleQueryStageExec => true
      case _ => false
    }
    assert(added.isEmpty, s"forced-gate dedupe added a frontier-side Sort/Exchange:\n$p")
    val a = default.select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    val b = forced.select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "gated seen join changed the dedupe result")
  }

  test("E1 row path is compiled: no CodegenFallback expression in either seen-join form") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // canon_url, host_of, path_of and robots_allowed generate code; an
    // interpreted expression (a higher-order function, a UDF) evaluated per
    // frontier row would show here. Aggregate functions are exempt: the
    // politeness top-K is an ImperativeAggregate, which Spark never codegens.
    object stages extends AdaptiveSparkPlanHelper
    val seen = Seq(graft.model.SeenEntry(42L, "news0.example.com", 0)).toDS()
    val cfg = FrontierJob.Config(globalBudget = 500)
    val seeds = Gen.seeds(spark, 2000, 8)
    val broadcastForm = FrontierJob.runEpoch(seeds, Gen.robots(spark), seen, cfg)
    val shuffledForm = FrontierJob.applyGlobalBudget(FrontierJob.schedule(
      FrontierJob.applyRobots(FrontierJob.dedupeAgainstSeen(
        FrontierJob.canonicalizeFrontier(seeds), seen, 0L), Gen.robots(spark), cfg), cfg), cfg)
    Seq("broadcast" -> broadcastForm, "seenBroadcastMaxBytes = 0" -> shuffledForm).foreach {
      case (form, sched) =>
        assert(sched.collect().nonEmpty, s"$form: empty schedule")
        val fallbacks = stages.collect(sched.queryExecution.executedPlan) { case n => n }
          .flatMap(_.expressions.flatMap(_.collect {
            case f: CodegenFallback if !f.isInstanceOf[AggregateFunction] => f.prettyName
          }))
        assert(fallbacks.isEmpty,
          s"$form: interpreted expressions ${fallbacks.distinct.mkString(", ")} in\n" +
            sched.queryExecution.executedPlan)
    }
  }

  test("bucketed seen table: anti-join exchanges only the frontier side; golden-equal") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit, pmod, xxhash64}
    val tmp = graft.SparkTestBase.tempDir("graft-bucketed")
    // map-only frontier (no internal exchange) so the single exchange the
    // pin counts below is unambiguously the join's frontier side
    val frontier = spark.range(0, 2000)
      .select(xxhash64(col("id")).as("url_hash"),
        concat_ws("", lit("h"), pmod(col("id"), lit(50))).as("host"))
    val seen = frontier.where(pmod(col("url_hash"), lit(4)) === 0)
      .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
      .as[graft.model.SeenEntry]
    SeenStore.writeBucketed(seen, "planspec_seen_bucketed", s"$tmp/seen")
    val dd = SeenStore.dedupeAgainstBucketed(spark, frontier, "planspec_seen_bucketed")
    // final executed plan only — AdaptiveSparkPlan.toString appends the
    // pre-execution initial plan after this marker
    val p = finalPlan(dd).split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
      s"bucketed dedupe is not an SMJ anti-join:\n$p")
    // the bucketed scan satisfies the join distribution: the ONLY
    // exchange in the plan is the frontier side's — the 10^10-row seen
    // side shuffling every epoch is exactly what bucketing removes
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange (frontier side only), got $exchanges:\n$p")
    assert(p.contains("Bucketed: true"), s"seen scan not bucketed:\n$p")
    // golden: same survivors as the plain anti-join
    val plain = frontier.join(seen.toDF(), Seq("url_hash"), "left_anti")
    assert(dd.select("url_hash").collect().map(_.getLong(0)).sorted.toSeq ==
      plain.select("url_hash").collect().map(_.getLong(0)).sorted.toSeq,
      "bucketed dedupe diverged from plain anti-join")
  }

  test("t09 curation keep-list anti-join broadcasts the small drop side") {
    // the drop-list (non-survivor near-dup members) is a small fraction of
    // the corpus — Catalyst must broadcast it, not shuffle the corpus
    val df = graft.operators.TextOps.curatedCorpus(spark, "/root/testdata/sf0.001")
    val p = finalPlan(df)
    val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(anti.nonEmpty, s"keep-list anti-join missing:\n$p")
    assert(anti.exists(_.contains("BroadcastHashJoin")),
      s"keep-list anti-join does not broadcast the drop side:\n${anti.mkString("\n")}")
  }

  test("image near-dup pair exchanges carry ids+phash only (no payload columns)") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64, concat}
    val base = spark.range(0, 200).selectExpr(
      "concat('http://imgs/x-', id) AS image_id",
      "xxhash64(concat('p', id)) AS phash")
    val copies = base.where(pmod(xxhash64(col("image_id")), lit(5)) === 0)
      .select(concat(col("image_id"), lit("?copy")).as("image_id"), col("phash"))
    val pairs = graft.operators.ImageOps.nearDupPhash(base.unionByName(copies))
    val p = finalPlan(pairs)
    // every Exchange row must mention only id/phash/block columns — a
    // bytes/caption column leaking onto the pair exchange would be the
    // payload-shuffle scale bug this plan exists to avoid
    p.linesIterator.filter(_.trim.startsWith("+- Exchange")).foreach { l =>
      assert(!l.contains("bytes") && !l.contains("caption"),
        s"payload column on a pair exchange: $l")
    }
    assert(pairs.collect().nonEmpty, "planted copies produced no pairs")
  }

  test("c77 scale-match pair exchanges carry ids+phash only (no payload columns)") {
    val pairs = graft.operators.ImageOps.scaleMatches(
      graft.operators.ImageOps.scaleCorpus(spark, 32))
    val p = finalPlan(pairs)
    p.linesIterator.filter(_.trim.startsWith("+- Exchange")).foreach { l =>
      assert(!l.contains("bytes") && !l.contains("caption"),
        s"payload column on a c77 pair exchange: $l")
    }
    assert(pairs.collect().nonEmpty, "planted scale trios produced no pairs")
  }

  test("t11 multimodal edge union: no text payload on any exchange") {
    import org.apache.spark.sql.functions.col
    val pairs = graft.operators.MultimodalDedup.pairsCorpus(
      spark, "/root/testdata/sf0.001")
    val capE = graft.operators.TextOps.ngramJaccardPairs(
      pairs.select("doc_id", "text"))
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
    val imgE = graft.operators.MultimodalDedup.exactHashEdges(
      pairs, "doc_id", "img_hash")
    val p = finalPlan(capE.unionByName(imgE))
    // both edge families must be ids(+hash)-only on the wire: caption
    // text leaking onto either family's exchanges is the payload-shuffle
    // bug the star-edge/inverted-index designs exist to avoid
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text payload on an edge exchange: $l")
    }
  }

  test("q37 full-outer reconciliation: SMJ on pre-hashed 2-column sides") {
    val p = finalPlan(Relational.reconcileEpochs(spark, "/root/testdata/sf0.001"))
    assert(p.contains("FullOuter"), s"no full outer join in plan:\n$p")
    // the join children must exchange (id, md5) projections — the text
    // payload stays below the hash projection, never on the wire
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text payload on the join exchange: $l")
    }
    // filters reach the scans (doc_id % k <> 0 is not pushable as a
    // parquet filter, but the scan must prune to the 2 used columns)
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("lang") && !l.contains("source") && !l.contains("n_chars"),
        s"reconcile scan reads unused columns: $l")
    }
  }

  test("t05 shingle index is served once via ReuseExchange (five consumers)") {
    // the distinct shingle index feeds sizes, the df-cap, and both
    // self-join sides; an explicit persist measured SLOWER than letting
    // ReuseExchange serve the byte-identical shuffle subtree — pin that
    // the reuse actually happens so a refactor that perturbs one consumer
    // (breaking subtree identity) fails here, not at 100 TB
    val df = graft.operators.TextOps.nearDupNgramJaccard(
      spark, "/root/testdata/sf0.001")
    val p = finalPlan(df)
    assert(p.contains("ReusedExchange"),
      s"shingle-index exchange no longer reused:\n$p")
  }

  test("t13 decontamination: benchmark n-grams broadcast; corpus never self-shuffles") {
    // the whole point of the plan shape: the tiny benchmark n-gram set
    // broadcasts into a hash join, the corpus side has NO exchange before
    // the membership test (in-row array_distinct, not a post-explode
    // distinct), and the only shuffle is the per-doc hit-count agg
    val df = graft.operators.TextOps.contaminationReport(
      spark, "/root/testdata/sf0.001")
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark n-gram set no longer broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side shuffled into an SMJ:\n$p")
    // the only n-gram-keyed exchange allowed is the BENCHMARK side's
    // distinct (benchmark-sized, feeds the broadcast). The corpus n-gram
    // stream must never hash-shuffle — that would add a second one.
    // (AdaptiveSparkPlan.toString appends the never-executed Initial Plan
    // — count in the Final Plan section only)
    val finalSection = p.split("== Initial Plan ==")(0)
    val ngExchanges = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning(ng"))
    assert(ngExchanges <= 1,
      s"corpus n-grams hash-shuffled (expected only the benchmark distinct):\n$finalSection")
  }

  test("c27 trap action: suspect-host list broadcasts; frontier side stays narrow") {
    val report = graft.operators.TrapOps.trapHostReport(
      spark, "/root/testdata/sf0.001")
    val frontier = graft.operators.TrapOps.syntheticUrls(
      spark, "/root/testdata/sf0.001")
    val p = finalPlan(graft.operators.TrapOps.filterTrapHosts(frontier, report))
    val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(anti.nonEmpty, s"trap-host anti-join missing:\n$p")
    assert(anti.exists(_.contains("BroadcastHashJoin")),
      s"suspect-host anti-join does not broadcast:\n${anti.mkString("\n")}")
  }

  test("t14 LM filter: vocab broadcasts; token stream never sort-merge-joins") {
    val p = finalPlan(graft.operators.TextOps.lmQualityReport(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join does not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffled for a sort-merge join:\n$p")
    // column pruning: only doc_id + text reach the documents reader
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("lang") && !l.contains("source"),
        s"LM filter scan reads unprojected columns: $l")
    }
  }

  test("t15 mixture: rate table broadcasts; accept filter codegen'd, no UDF") {
    val p = finalPlan(graft.operators.TextOps.mixtureSample(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"),
      s"rate join does not broadcast:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"),
      s"mixture acceptance fell back to a UDF:\n$p")
  }

  test("c28 DUST rewrite: rule table broadcasts; frontier never shuffles") {
    val log = graft.operators.DustOps.syntheticUrlLog(
      spark, "/root/testdata/sf0.001")
    val rules = graft.operators.DustOps.dustReport(
      spark, "/root/testdata/sf0.001")
    val p = finalPlan(graft.operators.DustOps.rewriteFrontier(
      log.select("host", "url"), rules))
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.nonEmpty && joins.exists(j =>
      j.contains("BroadcastHashJoin") && j.contains("LeftOuter")),
      s"rule join does not broadcast:\n${joins.mkString("\n")}")
    // the frontier side must reach the join without its own Exchange: the
    // only exchanges in the final plan belong to the (tiny) rule-mining
    // subtree or the broadcast itself
    val frontierShuffles = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("url#"))
      .filterNot(_.contains("base_url")).toSeq
    assert(frontierShuffles.isEmpty,
      s"frontier shuffled for the rewrite:\n${frontierShuffles.mkString("\n")}")
  }

  test("c35 rendezvous argmin folds in-row: no Generate, no per-(host,shard) exchange") {
    val p = finalPlan(graft.operators.ShardOps.shardReport(
      spark, "/root/testdata/sf0.001"))
    // the in-row aggregate HOF must not plan as an explode (Generate) +
    // re-aggregation — that shape shuffles |hosts| x |shards| rows
    assert(!p.contains("Generate"), s"rendezvous exploded:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).size
    // host-catalog distinct (+AQE reads) and the final sort only
    assert(exchanges <= 4, s"unexpected exchanges ($exchanges):\n$p")
  }

  test("t21 DSIR: bucket-score table broadcasts; no text on weight exchanges") {
    val p = finalPlan(graft.operators.TextOps.dsirWeights(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"score join does not broadcast:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"text payload on a weight exchange: $l")
    }
  }

  test("c37 CDC: chunk bytes never reach an exchange (pruned before the store agg)") {
    val p = finalPlan(graft.operators.CdcOps.dedupReport(spark, n = 60, epochs = 2))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("chunk_bytes") && !l.contains("bytes#"),
        s"chunk payload on a store exchange: $l")
    }
  }

  test("c38 audio fingerprints: no payload bytes on the vote exchanges") {
    val p = finalPlan(graft.operators.MediaOps.audioCopyDetect(spark, n = 20))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes"), s"audio payload on a vote exchange: $l")
    }
  }

  test("t23 TF-IDF: df table broadcasts back; tf agg is partial+final; no text on exchanges") {
    val p = finalPlan(graft.operators.TextOps.tfidfTopTerms(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"df join does not broadcast:\n$p")
    // map-side combine: the (doc_id, term) count must be a two-phase
    // HashAggregate so the token exchange carries distinct per-doc terms
    assert("HashAggregate.*partial_count".r.findFirstIn(p.toLowerCase)
      .isDefined || p.contains("partial_count") || p.contains("partial count") ||
      "HashAggregate\\(keys=\\[doc_id".r.findFirstIn(p).isDefined,
      s"tf aggregate shape unexpected:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"document text on a tf/df exchange: $l")
    }
  }

  test("c43 scene detection: one window exchange on media_id, no frame pixels beyond the sampler") {
    val p = finalPlan(graft.operators.MediaOps.sceneChangeDemo(spark, n = 12))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes"), s"video payload on an exchange: $l")
    }
    assert(p.contains("Window"), s"no window operator in the plan:\n$p")
  }

  test("c45 recrawl estimate: change flag is a codegen expression, one agg exchange, no UDF") {
    val p = finalPlan(graft.operators.RecrawlOps.recrawlSchedule(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "change draw fell back to a UDF")
    // one hash-partitioned exchange for the per-page agg (plus the
    // global orderBy's range exchange) — the history rows never shuffle
    // wider than (page_id, changed); count only the EXECUTED plan, not
    // the "== Initial Plan ==" section AQE appends to the string
    val executed = p.split("== Initial Plan ==").head
    val hashEx = executed.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"extra exchanges in the estimate:\n$p")
  }

  test("c46 tiled phash: no image bytes on any exchange; candidate join carries ids+hashes") {
    val p = finalPlan(graft.operators.ImageOps.cropDetectDemo(spark))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes"), s"image payload on an exchange: $l")
    }
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi-join in the match plan:\n$p")
  }

  test("t25 paragraph dedup: text crosses the dedup exchange ONCE; decision is a window, no UDF") {
    val p = finalPlan(graft.operators.TextOps.paragraphDedup(
      spark, "/root/testdata/sf0.001"))
    assert(!p.toLowerCase.contains("scalaudf"), "paragraph kernel fell back to a UDF")
    // the full document text column must never reach an exchange — only
    // paragraphs (post-chunking) may; the md5 partition key is computed
    // pre-exchange
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"whole-document text on an exchange: $l")
    }
    assert(p.contains("Window"), s"first-occurrence decision lost its window:\n$p")
  }

  test("q50 as-of join: tag-union form shuffles ONCE on the key, no join node at all") {
    val p = finalPlan(graft.operators.Relational.asofAttribution(
      spark, "/root/testdata/sf0.001"))
    // the whole as-of resolves as union + window — there must be NO join
    // operator (a range/theta join here would row-explode at scale); hash
    // exchanges: one for the right-side (user, ts) dedup agg + one for the
    // window key, nothing else; count the executed plan only
    val executed = p.split("== Initial Plan ==").head
    assert(!executed.contains("Join"), s"as-of fell back to a join:\n$p")
    val hashEx = executed.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"extra exchanges in the as-of plan:\n$p")
    assert(executed.contains("Window"), s"running-last window missing:\n$p")
  }

  test("c47 caption divergence: captions never reach a pair/CC exchange, no UDF") {
    val p = finalPlan(graft.operators.ImageOps.captionDivergenceDemo(spark))
    assert(!p.toLowerCase.contains("scalaudf"), "divergence path fell back to a UDF")
    // captions may cross ONLY the final per-component aggregate exchange
    // (keyed by comp); the pair join and the CC fixpoint move ids+hashes.
    // The agg exchange partitions by comp#, so any exchange line whose
    // PARTITION KEY mentions cap/caption while not being the comp agg is
    // a leak; simpler robust pin: caption bytes never appear on an
    // exchange hash-partitioned by blk/key (the candidate join).
    p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") &&
        (l.contains("blk#") || l.contains("key#"))).foreach { l =>
      assert(!l.contains("cap"), s"caption on a candidate-join exchange: $l")
    }
    assert(p.contains("HashAggregate") || p.contains("SortAggregate") ||
      p.contains("ObjectHashAggregate"), s"no aggregate in the plan:\n$p")
  }

  test("q53 mirror hosts / t26 containment: page text never rides an exchange") {
    val dir = "/root/testdata/sf0.001"
    Seq(
      graft.operators.Relational.mirrorHosts(spark, dir),
      graft.operators.TextOps.containmentNearDup(spark, dir)
    ).foreach { df =>
      val p = finalPlan(df)
      // both kernels hash the payload at the scan (md5 / xxhash64 shingle)
      // so every exchange moves (key, hash) rows only — a text# attribute
      // on any hash-partitioned exchange is the quadratic payload-shuffle
      // bug the inverted-index shape exists to avoid
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
        assert(!l.contains("text#"), s"document text on an exchange: $l")
      }
    }
  }

  test("emb12 prefix rerank: full vectors never on a ranking exchange; queries broadcast") {
    val p = finalPlan(graft.operators.SimilarityOps
      .annPrefixRerankTopK(spark, "/root/testdata/sf0.001"))
    // the coarse top-overfetch*k and the exact rerank both rank via a
    // window partitioned by query_id — those exchanges must carry scores
    // and ids, never the 64-dim vectors (the whole point of the two-stage
    // split: vectors are read, reduced to a score, and dropped pre-shuffle)
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("embedding#") && !l.contains("qvec#") && !l.contains("pre#"),
        s"vector column on a ranking exchange: $l")
    }
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"candidate/query sides did not broadcast:\n$p")
  }

  test("c52 flip dedup: image bytes stop at the decode pass, never an exchange") {
    val p = finalPlan(graft.operators.ImageOps.flipDetectDemo(spark))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes#"), s"image bytes on an exchange: $l")
    }
  }

  test("c63 dims audit: one codegen projection, no hash exchange, no UDF") {
    // parquet-backed (a LocalRelation corpus constant-folds the whole
    // projection away at plan time — nothing left to pin)
    val dir = graft.SparkTestBase.tempDir("graft-c63-plan")
    graft.operators.ImageOps.dimsCorpus(spark).write
      .mode("overwrite").parquet(dir)
    val df = graft.operators.ImageOps.dimsAudit(spark.read.parquet(dir))
    val p = plan(df)
    assert(p.contains("header_dims64"), s"HeaderDims64 not in the plan:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"c63 must not shuffle — the verdict is per-row:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "c63 must stay a native expression")
    assert(p.contains("*(1) Project"),
      s"c63 projection should be inside one whole-stage codegen span:\n$p")
  }

  test("c64 orientation matches: image bytes stop at the decode pass, never an exchange") {
    val p = finalPlan(graft.operators.ImageOps.orientationDemo(spark))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes#"), s"image bytes on an exchange: $l")
    }
  }

  test("t29 suffix ranks: document text never rides an exchange; doubling joins are int/long-only") {
    val p = finalPlan(graft.operators.SuffixOps
      .dupWindowReport(spark, "/root/testdata/sf0.001"))
    // seed identities are hashed in the scan stage (substring+xxhash64
    // fused into the explode projection); every doubling self-join and the
    // hot-key group move (doc_id, pos, long) rows; only the dup-rate-sized
    // verify stage may put the 64-char `win` slice on an exchange — full
    // document text on ANY exchange is the O(corpus*L) shape t29 avoids
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"document text on an exchange: $l")
    }
  }

  test("c56 suffix-index probe: persisted keys probe without text on exchanges") {
    val dir = "/root/testdata/sf0.001"
    val root = graft.SparkTestBase.tempDir("planspec-c56")
    val corpus = graft.operators.TextOps.spanCorpus(spark, dir)
    import org.apache.spark.sql.functions.col
    graft.operators.SimIndex.writeSuffixIndex(
      corpus.where(col("doc_id") < 2000000L), root, 0)
    graft.operators.SimIndex.writeSuffixIndex(
      corpus.where(col("doc_id") >= 2000000L), root, 1)
    val p = finalPlan(graft.operators.SimIndex
      .crossEpochDupWindows(spark, root, 1, corpus))
    // the index side is (doc_id, pos, k) parquet; the payload joins once
    // on doc_id for the candidate set — text on a hash exchange would mean
    // the probe re-shuffles the corpus it exists to avoid re-reading
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"document text on an exchange: $l")
    }
  }

  test("t34 BM25: df/query/stats sides broadcast; document text never on an exchange") {
    val p = finalPlan(graft.operators.TextOps.bm25TopK(
      spark, "/root/testdata/sf0.001"))
    // three small sides (query terms, df, 1-row stats) must come back as
    // broadcasts — the corpus-sized tf table is the only shuffled relation
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"small sides of the BM25 join do not broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row stats side not broadcast:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"document text on an exchange: $l")
    }
  }

  test("c68 dihedral matches: image bytes stop at the decode pass, never an exchange") {
    val p = finalPlan(graft.operators.ImageOps.dihedralDemo(spark))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes#"), s"image bytes on an exchange: $l")
    }
  }

  test("t38 lexical diversity: partial agg before the exchange; scan prunes to doc_id+text") {
    val p = finalPlan(graft.operators.TextOps.lexicalDiversity(
      spark, "/root/testdata/sf0.001"))
    // the (doc, token) histogram must map-side-combine: a partial_count
    // HashAggregate must sit BELOW the innermost hash exchange (children
    // print after parents, so "below" = after the LAST exchange line in
    // the final-plan section)
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    val lastExchange = lines.lastIndexWhere(_.contains("Exchange hashpartitioning"))
    assert(lastExchange > 0, s"no hash exchange found:\n$p")
    assert(lines.drop(lastExchange).exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")),
      s"token histogram does not map-side-combine before its exchange:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("source") && !l.contains("n_chars"),
        s"t38 scan reads unused columns: $l")
    }
  }

  test("g09 triangles: exchanges carry host strings + counts only, no doc payloads") {
    val p = finalPlan(graft.operators.GraphOps.hostTriangles(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#") && !l.contains("bytes#"),
        s"payload column on a triangle exchange: $l")
    }
    // the doc scan feeds the edge derivation only: doc_id + source
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text"), s"g09 scan reads text: $l")
    }
  }

  test("emb16 mutual k-NN: the sample side broadcasts; corpus scans prune to id+embedding") {
    val p = finalPlan(graft.operators.SimilarityOps.mutualKnn(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"eval sample does not broadcast against the sampled corpus:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("label"), s"emb16 scan reads unused label column: $l")
    }
  }

  test("t42 bigram LM: vocab size broadcasts; no UDF; bigram counts partial-agg before exchanges") {
    val p = finalPlan(graft.operators.TextOps.bigramPerplexity(
      spark, "/root/testdata/sf0.001"))
    // the 1-row vocabulary total must reach the scorer as a broadcast,
    // never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"vocab total does not broadcast:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "bigram LM fell back to a UDF")
    // every derived table (scorer, c12, c1, vocab) folds over the
    // checkpointed instance blocks — the corpus text is NOT re-read by
    // any consumer, so the final plan contains zero parquet scans
    val fin = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(fin.count(_.contains("FileScan parquet")) == 0,
      s"a t42 consumer re-scans the corpus instead of the instance table:\n$p")
    assert(fin.exists(_.contains("Scan ExistingRDD")),
      s"instance table is not served from checkpoint blocks:\n$p")
  }

  test("t43 MinHash calibration: signature min() partial-aggs; no UDF anywhere") {
    val p = finalPlan(graft.operators.TextOps.minhashCalibration(
      spark, "/root/testdata/sf0.001"))
    // the (doc, perm) min-signature must map-side-combine so the k-fold
    // exploded shingle stream collapses to k rows per doc BEFORE its
    // exchange — this is what makes the sketch the cheap side at scale
    assert(p.contains("partial_min"),
      s"signature min does not map-side-combine:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "MinHash calibration fell back to a UDF")
  }

  test("c86/c87 health audits: scans prune to the audited columns; single-scan stacks") {
    val p86 = finalPlan(graft.operators.HealthOps.parkedHosts(
      spark, "/root/testdata/sf0.001"))
    p86.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#") && !l.contains("served#"),
        s"c86 puts payload text on an exchange: $l")
    }
    val p87 = finalPlan(graft.operators.HealthOps.budgetFairness(
      spark, "/root/testdata/sf0.001"))
    val fin87 = p87.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    fin87.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("doc_id") && !l.contains("n_chars"),
        s"c87 scan reads unused columns: $l")
    }
    assert(fin87.count(_.contains("FileScan parquet")) == 1,
      s"c87 scans the table more than once:\n$p87")
  }

  test("g12 hop distance: exchanges carry (node, dist) scalars only") {
    val p = finalPlan(graft.operators.GraphOps.hostHopDistance(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#") && !l.contains("bytes#"),
        s"payload column on a BFS exchange: $l")
    }
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text"), s"g12 scan reads text: $l")
    }
  }

  test("q75 robust means: window and groupBy share ONE group-key exchange; scan prunes to flag+qty") {
    val p = finalPlan(graft.operators.Relational.robustMeans(
      spark, "/root/testdata/sf0.001"))
    // the rank window partitions on l_returnflag and the aggregation
    // groups on the same key — Catalyst must reuse the partitioning, so
    // exactly one hash exchange survives (the orderBy adds a range one)
    val hashExchanges = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan =="))
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected 1 shared group-key exchange, got $hashExchanges:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("l_extendedprice") && !l.contains("l_shipdate"),
        s"q75 scan reads unused columns: $l")
    }
  }

  test("c90 changepoint: distinct/windows/agg share ONE host exchange; scan prunes to source") {
    val p = finalPlan(graft.operators.RecrawlOps.changepointReport(
      spark, "/root/testdata/sf0.001"))
    // hosts.distinct partitions on host; the per-epoch count agg (host
    // subset-satisfies its keys), both CUSUM windows, and the final
    // groupBy(host) must all reuse that partitioning
    val hashExchanges = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan =="))
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected 1 shared host exchange, got $hashExchanges:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("doc_id"),
        s"c90 scan reads unused columns: $l")
    }
  }

  test("g13 harmonic centrality: exchanges carry (seed,node,dist) scalars; no text read") {
    val p = finalPlan(graft.operators.GraphOps.harmonicCentrality(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#") && !l.contains("n_chars#"),
        s"payload column on a centrality exchange: $l")
    }
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars"),
        s"g13 scan reads unused columns: $l")
    }
  }

  test("q76 chi-square: every total reaches the grid by broadcast; scan prunes to lang+source") {
    val p = finalPlan(graft.operators.Relational.chiSquareMix(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"chi-square totals do not broadcast to the grid:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("doc_id"),
        s"q76 scan reads unused columns: $l")
    }
  }

  test("t45 source KL: corpus tokenized ONCE (single documents scan); counts partial-agg before their exchange") {
    val p = finalPlan(graft.operators.TextOps.sourceKlDivergence(
      spark, "/root/testdata/sf0.001"))
    // the separable decomposition means corpus counts come from a window
    // over the (source, tok) table — a second tokenizing scan (or a
    // self-join rebuilding it) would betray the shape
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    val docScans = lines.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans == 1, s"expected 1 documents scan, got $docScans:\n$p")
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")),
      s"token counts do not map-side-combine:\n$p")
  }

  test("q78 theil: per-source totals broadcast back; scan prunes to source+n_chars") {
    val p = finalPlan(graft.operators.Relational.theilDecomposition(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals do not broadcast to the doc rows:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("doc_id"),
        s"q78 scan reads unused columns: $l")
    }
  }

  test("t49 cluster split: corpus text stays off the assignment exchanges") {
    val p = finalPlan(graft.operators.DedupResolve.clusterAwareSplit(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on a split-assignment exchange: $l")
    }
  }

  test("c94 throughput ceiling: single documents scan pruned to source; map-side agg") {
    val p = finalPlan(graft.operators.HealthOps.throughputCeiling(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1,
      s"expected 1 documents scan:\n$p")
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")),
      s"demand counts do not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars"),
        s"c94 scan reads unused columns: $l")
    }
  }

  test("q79 mann-whitney: pair list broadcasts onto the histogram; scan prunes to type+value") {
    val p = finalPlan(graft.operators.Relational.mannWhitneyEvents(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"type-pair list does not broadcast onto the histogram:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(l.contains("struct<event_type:string,value:double>"),
        s"q79 scan reads more than type+value: $l")
    }
  }

  test("g17 bow-tie: documents scans prune to doc_id+source (no text/payload)") {
    val p = finalPlan(graft.operators.GraphOps.bowTie(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"g17 scan reads unused columns: $l")
    }
  }

  test("t51 dedup shift: corpus text stays off the language-join exchanges") {
    val p = finalPlan(graft.operators.DedupResolve.distributionShift(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on a shift-audit exchange: $l")
    }
  }

  test("q80 ks: pair list broadcasts onto the histogram; scan prunes to type+value") {
    val p = finalPlan(graft.operators.Relational.ksEvents(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"type-pair list does not broadcast onto the histogram:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(l.contains("struct<event_type:string,value:double>"),
        s"q80 scan reads more than type+value: $l")
    }
  }

  test("emb21 centroid drift: whole vectors stay off the per-dim exchanges") {
    val p = finalPlan(graft.operators.SimilarityOps.centroidDrift(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("embedding#"),
        s"full embedding on a per-dim exchange: $l")
    }
  }

  test("c95 url mortality: single documents scan pruned to doc_id+source; map-side agg") {
    val p = finalPlan(graft.operators.RecrawlOps.urlMortality(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1,
      s"expected 1 documents scan:\n$p")
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"per-URL agg does not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"c95 scan reads unused columns: $l")
    }
  }

  test("q81 benford: single orders scan pruned to o_totalprice; constants broadcast") {
    val p = finalPlan(graft.operators.Relational.benfordPrices(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"benford constants/total do not broadcast:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(l.contains("struct<o_totalprice:double>"),
        s"q81 scan reads more than o_totalprice: $l")
    }
  }

  test("t52 diversity curve: raw text stays off the type-count exchanges") {
    val p = finalPlan(graft.operators.TextOps.diversityCurve(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on a diversity exchange: $l")
    }
  }

  test("c96 change rate: single documents scan pruned to doc_id+source; map-side agg") {
    val p = finalPlan(graft.operators.RecrawlOps.changeRatePolicy(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1,
      s"expected 1 documents scan:\n$p")
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"per-host agg does not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"c96 scan reads unused columns: $l")
    }
  }

  test("q82 theil-sen: pairs form over per-supplier aggregates; scan pruned to 4 columns") {
    val p = finalPlan(graft.operators.Relational.theilSenSupplier(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("l_shipdate") && !l.contains("l_orderkey")
        && !l.contains("l_discount"),
        s"q82 scan reads unused columns: $l")
    }
  }

  test("g18 effective diameter: documents scans prune to doc_id+source") {
    val p = finalPlan(graft.operators.GraphOps.distanceHistogram(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"g18 scan reads unused columns: $l")
    }
  }

  test("emb22 dim variance: whole vectors stay off the per-dim exchanges") {
    val p = finalPlan(graft.operators.SimilarityOps.dimVarianceAudit(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("embedding#"),
        s"full embedding on a per-dim exchange: $l")
    }
  }

  test("q83 mann-kendall: pairs form over per-day aggregates; scan pruned to type+ts") {
    val p = finalPlan(graft.operators.Relational.mannKendallTrend(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id")
        && !l.contains("value"),
        s"q83 scan reads unused columns: $l")
    }
  }

  test("t53 contamination curve: benchmark n-gram sides broadcast") {
    val p = finalPlan(graft.operators.TextOps.contaminationCurve(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark n-gram set does not broadcast:\n$p")
  }

  test("emb23 knn purity: probe sample broadcasts; corpus never self-joins by shuffle") {
    val p = finalPlan(graft.operators.SimilarityOps.knnLabelPurity(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe sample does not broadcast:\n$p")
  }

  test("q84 gumbel: two-level agg map-side combines; scan pruned to type+ts+value") {
    val p = finalPlan(graft.operators.Relational.gumbelReturnLevel(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"daily-max agg does not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id"),
        s"q84 scan reads unused columns: $l")
    }
  }

  test("c97 burstiness: the only exchange carries type + two longs (no props/value)") {
    val p = finalPlan(graft.operators.PacingOps.arrivalBurstiness(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("props#") && !l.contains("value#"),
        s"payload on a burstiness exchange: $l")
    }
  }

  test("g19 cocitation: documents scans prune to doc_id+source") {
    val p = finalPlan(graft.operators.GraphOps.cocitationSimilarity(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"g19 scan reads unused columns: $l")
    }
  }

  test("q85 runs test: no pair join — series rows only; scan pruned to type+ts") {
    val p = finalPlan(graft.operators.Relational.runsTest(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct"),
      s"runs test formed a pair join:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id")
        && !l.contains("value"),
        s"q85 scan reads unused columns: $l")
    }
  }

  test("t54 tail index: scan pruned to lang+doc_id+n_chars (no text)") {
    val p = finalPlan(graft.operators.TextOps.tailIndex(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("source"),
        s"t54 scan reads unused columns: $l")
    }
  }

  test("emb24 margin violations: probes broadcast; per-probe maxima map-side-combine") {
    val p = finalPlan(graft.operators.SimilarityOps.marginViolations(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe sample does not broadcast:\n$p")
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"per-probe maxima do not map-side-combine:\n$p")
  }

  test("q86 seasonality: per-day counts map-side-combine; scan pruned to type+ts") {
    val p = finalPlan(graft.operators.Relational.weekdaySeasonality(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"daily counts do not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id")
        && !l.contains("value"),
        s"q86 scan reads unused columns: $l")
    }
  }

  test("t55 dup-quality crosstab: corpus text stays off the label-join exchanges") {
    val p = finalPlan(graft.operators.DedupResolve.dupQualityCrosstab(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on a crosstab exchange: $l")
    }
  }

  test("emb25 anisotropy: cross-moment exchanges carry (i, j, partials) — no vectors") {
    val p = finalPlan(graft.operators.SimilarityOps.anisotropyAudit(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("embedding#"),
        s"full embedding on a cross-moment exchange: $l")
    }
  }

  test("q87 autocorrelation: no pair join; scan pruned to type+ts") {
    val p = finalPlan(graft.operators.Relational.autocorrelation(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct"),
      s"acf formed a pair join:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id")
        && !l.contains("value"),
        s"q87 scan reads unused columns: $l")
    }
  }

  test("c98 lindley backlog: windows partition by host; scan pruned to source") {
    val p = finalPlan(graft.operators.BandwidthOps.backlogLindley(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"c98 scan reads unused columns: $l")
    }
  }

  test("emb26 hubness: probes broadcast; occurrence counting is id-only") {
    val p = finalPlan(graft.operators.SimilarityOps.hubnessAudit(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe sample does not broadcast:\n$p")
  }

  test("g20 modularity: documents scans prune to doc_id+source") {
    val p = finalPlan(graft.operators.GraphOps.modularity(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"g20 scan reads unused columns: $l")
    }
  }

  test("t56 token entropy: per-doc counts map-side-combine; text off exchanges") {
    val p = finalPlan(graft.operators.TextOps.tokenEntropy(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"token counts do not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on an entropy exchange: $l")
    }
  }

  test("c99 bloom capacity: one count agg — a plan, not a scan of rows") {
    val p = finalPlan(graft.operators.HealthOps.bloomCapacityPlan(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(l.contains("struct<>"),
        s"c99 reads row data where a count suffices: $l")
    }
  }

  test("q89 dispersion: two-level agg map-side combines; scan pruned to type+ts") {
    val p = finalPlan(graft.operators.Relational.dispersionTest(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"daily counts do not map-side-combine:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id")
        && !l.contains("value"),
        s"q89 scan reads unused columns: $l")
    }
  }

  test("t57 shingle sweep: raw text stays off the pair exchanges at every width") {
    val p = finalPlan(graft.operators.TextOps.shingleSizeSweep(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on a sweep exchange: $l")
    }
  }

  test("t59 fertility: per-row codegen (no UDF fallback); one map-side agg") {
    val p = finalPlan(graft.operators.TextOps.tokenizerFertility(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"bpe_token_count fell back to a UDF:\n$p")
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(lines.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"fertility counts do not map-side-combine:\n$p")
  }

  test("q90 jarque-bera: scan pruned to lang+n_chars (no text)") {
    val p = finalPlan(graft.operators.Relational.jarqueBeraLengths(
      spark, "/root/testdata/sf0.001"))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("source") && !l.contains("doc_id"),
        s"q90 scan reads unused columns: $l")
    }
  }

  test("g21 rank stability: documents scans prune to doc_id+source") {
    val p = finalPlan(graft.operators.GraphOps.rankStability(
      spark, "/root/testdata/sf0.001", iters = 3))
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("n_chars") && !l.contains("lang"),
        s"g21 scan reads unused columns: $l")
    }
  }

  test("q91 ljung-box: one window pass carries all six lags (single sort exchange family)") {
    val p = finalPlan(graft.operators.Relational.ljungBox(
      spark, "/root/testdata/sf0.001"))
    val lines = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    val windows = lines.count(_.trim.startsWith("Window"))
    assert(windows <= 2,
      s"expected the six lags to share windows (<=2 Window nodes), got $windows:\n$p")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("user_id")
        && !l.contains("value"),
        s"q91 scan reads unused columns: $l")
    }
  }

  test("t44 priority sample: tau side broadcasts; text never scanned or shuffled") {
    val p = finalPlan(graft.operators.TextOps.prioritySample(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-stratum threshold tau does not broadcast:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text on a sampling exchange: $l")
    }
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text") && !l.contains("source"),
        s"t44 scan reads unused columns: $l")
    }
  }
}
