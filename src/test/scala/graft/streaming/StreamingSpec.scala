package graft.streaming

import graft.SparkTestBase.spark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("streaming windowed agg == batch equivalent") {
    val streamed = StreamingJobs.windowedEventCounts(spark, dir)
      .orderBy("hour_ts", "event_type").collect().toSeq
    val batch = graft.operators.Relational.timeWindowEvents(spark, dir)
      .orderBy("hour_ts", "event_type").collect().toSeq
    assert(streamed == batch, "stream complete-mode result != batch groupBy")
  }

  test("streaming session windows == batch session_window (q36-oracled)") {
    val streamed = StreamingJobs.sessionizedEvents(spark, dir)
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = graft.operators.Relational.sessionWindows(spark, dir)
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed.nonEmpty, "no sessions produced")
    assert(streamed == batch,
      "streaming session windows != batch session_window result")
  }

  test("restart from checkpoint: stop, add files, resume == single-shot batch") {
    val src = graft.SparkTestBase.tempDir("graft-restart-src")
    val ckpt = graft.SparkTestBase.tempDir("graft-restart-ckpt")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.where(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    val phase1 = StreamingJobs.windowedEventCountsFrom(spark, src, ckpt, "restart_p1")
      .agg(sum("n")).collect()(0).getLong(0)
    // phase 2: new files land, the query restarts from the SAME checkpoint
    ev.where(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val resumed = StreamingJobs.windowedEventCountsFrom(spark, src, ckpt, "restart_p2")
      .orderBy("hour_ts", "event_type").collect().toSeq
    val batch = StreamingJobs.hourlyAgg(ev)
      .orderBy("hour_ts", "event_type").collect().toSeq
    assert(phase1 == ev.where(col("event_id") % 2 === 0).count(),
      "phase-1 table does not reflect exactly the phase-1 rows")
    assert(resumed.map(_.getLong(2)).sum == ev.count(),
      "resume re-read committed files (double count) or dropped new ones")
    assert(resumed == batch, "restarted stream != single-shot batch result")
  }

  test("stream-stream interval join == batch interval join (q39-oracled)") {
    val streamed = StreamingJobs.streamStreamAttribution(spark, dir)
      .orderBy("click_id", "purchase_id").collect().toSeq
    val batchEvents = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val batch = StreamingJobs.attributionJoin(batchEvents)
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(streamed.nonEmpty, "no click->purchase attributions produced")
    assert(streamed == batch, "stream-stream join != batch interval join")
  }

  test("stateful politeness: budgets + cross-batch state carry-over") {
    val out = StreamingJobs.politenessDemo(spark, n = 2000, budget = 30)
      .select("host", "slot").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val byHost = out.groupBy(_._1)
    assert(byHost.nonEmpty)
    byHost.foreach { case (host, xs) =>
      val slots = xs.map(_._2).sorted.toSeq
      assert(slots == (0 until xs.length), s"$host slots not dense 0..n-1: state lost across batches?")
      assert(xs.length <= 30, s"$host exceeded budget")
    }
    // at least one host must have hit the budget cap across 3 micro-batches
    assert(byHost.values.exists(_.length == 30), "no host reached budget — test too weak")
  }

  test("stateful politeness: hot host >> budget picks exact top-K, then drains") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val budget = 25
    // one host floods 10k rows into a single micro-batch — the state fn
    // must keep only a budget-bounded buffer AND still select the exact
    // top-K by (priority desc, url_hash asc)
    val rows = (0 until 10000).map { i =>
      ("hot.example.com", graft.functions.ImageKit.mix64(i.toLong), (i % 97) / 97.0)
    }
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double)]
    val out = StreamingJobs.statefulPoliteness(
      stream.toDS(), budget, delayMs = 100L, t0Ms = 0L)
    val q = out.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("hot_host").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      stream.addData(rows.take(500)) // budget exhausted: must emit nothing
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hot_host")
      .select("url_hash", "slot").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._2)
    val want = rows.sortBy(r => (-r._3, r._2)).take(budget).map(_._2)
    assert(got.length == budget, s"expected $budget rows, got ${got.length}")
    assert(got.map(_._1).toSeq == want, "hot-host top-K != exact selection")
    assert(got.map(_._2).toSeq == (0 until budget), "slots not dense")
  }

  test("streaming dedupe keeps exactly the first arrival of each url_hash") {
    val n = 1200
    val got = graft.streaming.StreamingJobs.dedupeDemo(spark, n)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // single-threaded mirror: first occurrence per canonical hash
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val seen = scala.collection.mutable.LinkedHashMap.empty[Long, (String, String)]
    graft.sources.Gen.seedsLocal(n).zipWithIndex.foreach { case (s, i) =>
      val uc = graft.functions.UrlKit.canonicalize(s.url)
      if (uc != null && uc.nonEmpty) {
        val h = graft.operators.CrawlOracle.xxhash64(uc)
        if (!seen.contains(h))
          seen(h) = (graft.functions.UrlKit.hostOf(uc),
            fmt.format(new java.util.Date(1704067200000L + i * 1000L)))
      }
    }
    val want = seen.toSeq.map { case (h, (host, ts)) => (h, host, ts) }.sortBy(_._1)
    assert(got.length == want.length,
      s"row count ${got.length} != distinct hashes ${want.length}")
    assert(got.toSeq == want, "streaming dedupe != first-arrival mirror")
  }

  test("streaming copy-detection == per-epoch batch probe of the persisted index") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.streaming.StreamingJobs.copyDetectDemo(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    // mirror: rebuild the same 3-mini-epoch index batch-side and probe per
    // epoch — the stream must produce exactly these pairs in these batches
    // (crossEpochNearDups itself is golden vs full recompute in
    // SimIndexSpec, so transitively the stream equals full recompute)
    import org.apache.spark.sql.functions._
    val root = graft.SparkTestBase.tempDir("graft-c18-mirror")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").where(pmod(col("doc_id"), lit(4)) < 2) // demo's corpus slice
    val e0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val e1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val e2 = e0.where(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" appended revision marker tokens")).as("text"))
    graft.operators.SimIndex.writeShingleIndex(e0, root, 0)
    graft.operators.SimIndex.writeShingleIndex(e1, root, 1)
    graft.operators.SimIndex.writeShingleIndex(e2, root, 2)
    val expected = (1 to 2).flatMap { e =>
      graft.operators.SimIndex.crossEpochNearDups(spark, root, e)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), e))
    }.toSet
    assert(out == expected, s"stream pairs diverged (out=${out.size}, exp=${expected.size})")
    assert(out.exists(_._5 == 2), "planted copies not flagged in their arrival batch")
  }

  test("streaming exact copy-detection == full every-window recompute, per arrival batch") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // identical construction to exactCopyDetectDemo, but against a KNOWN
    // root so the POSITION-level epochs are readable (the demo aggregates)
    val corpus = graft.operators.TextOps.spanCorpus(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val e0 = corpus.filter(t => t._1 < 2000000L && t._1 % 2 == 0)
    val e1 = corpus.filter(t => t._1 < 2000000L && t._1 % 2 != 0)
    val e2 = corpus.filter(_._1 >= 2000000L)
    // independent streaming run against a KNOWN root via the raw job
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkTestBase.tempDir("graft-c58-golden")
    e0.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$root/docs/epoch=0")
    graft.operators.SimIndex.writeSuffixIndex(
      spark.read.parquet(s"$root/docs/epoch=0"), root, 0)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.streamingExactCopyDetect(stream.toDS(), root, 1)
    try {
      stream.addData(e1.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(e2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$root/exact_copy")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3),
        r.getAs[Int]("epoch"))).toSet
    val expected = Seq((1, e0 ++ e1, e1), (2, e0 ++ e1 ++ e2, e2)).flatMap {
      case (e, soFar, newDocs) =>
        val ids = newDocs.map(_._1).toSet
        graft.operators.SuffixOps.mirrorDupPositions(soFar, 64)
          .collect { case ((id, p), (n, surv)) if ids(id) => (id, p, n, surv, e) }
    }.toSet
    assert(out == expected,
      s"stream exact-dup positions diverged (out=${out.size}, exp=${expected.size})")
    assert(out.exists(_._5 == 2), "planted copies not flagged in their arrival batch")
  }

  test("streaming image copy-detection == full phash recompute, per arrival batch") {
    import org.apache.spark.sql.functions._
    import graft.SparkTestBase.spark
    import spark.implicits._
    val out = graft.streaming.StreamingJobs.imageCopyDetectDemo(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5))).toSet
    // strong mirror: FULL nearDupPhash recompute over the corpus-so-far at
    // each mini-epoch, restricted to pairs touching that epoch's images —
    // the stream (which probes the persisted index incrementally) must
    // produce exactly these pairs in exactly these batches
    def img(i: Int): (String, Long) =
      (s"http://h${i % 7}.example/img-$i",
        graft.functions.ImageKit.mix64(i.toLong * 2654435761L + 13L))
    val epochs: Seq[Seq[(String, Long)]] = Seq(
      (0 until 60).map(img),
      (60 until 100).map(img),
      (0 until 60).map(img).take(12).map { case (id, p) => (s"$id?utm=copy", p) })
    val expected = (1 to 2).flatMap { e =>
      val soFar = epochs.take(e + 1).flatten
      val eIds = epochs(e).map(_._1).toSet
      graft.operators.ImageOps.nearDupPhash(soFar.toDF("image_id", "phash"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getInt(4), e))
        .filter(p => eIds.contains(p._1) || eIds.contains(p._2))
    }.toSet
    assert(out == expected, s"image stream pairs diverged (out=${out.size}, exp=${expected.size})")
    assert(out.exists(_._6 == 2), "planted image copies not flagged in their arrival batch")
    assert(out.forall(_._5 == 0), "exact re-crawls should pair at hamming 0")
  }

  test("streaming best-copy catalog == per-epoch batch admission, per arrival batch") {
    import org.apache.spark.sql.functions._
    import graft.SparkTestBase.spark
    val out = graft.streaming.StreamingJobs.bestCopyCatalogDemo(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // mirror: the identical epoch sequence admitted batch-side in a fresh
    // root; the stream's per-batch action deltas must match exactly
    val root = graft.SparkTestBase.tempDir("graft-c80-mirror")
    val all = graft.operators.ImageOps.scaleCorpus(spark)
      .select("image_id", "phash", "w", "h", "fmt")
    val grp = regexp_extract(col("image_id"), "img-(\\d+)-", 1).cast("long")
    val isFull = col("image_id").endsWith("-full")
    val e0 = all.where((pmod(grp, lit(2)) === 0 && !isFull) ||
      (pmod(grp, lit(2)) === 1 && isFull) || col("image_id").endsWith("-solo"))
    val e1 = all.where(pmod(grp, lit(2)) === 0 && isFull)
    val e2 = all.where(pmod(grp, lit(2)) === 1 && !isFull &&
      !col("image_id").endsWith("-solo"))
    graft.operators.ImageOps.admitEpochBestCopy(spark, root, 0, e0)
    graft.operators.ImageOps.admitEpochBestCopy(spark, root, 1, e1)
    graft.operators.ImageOps.admitEpochBestCopy(spark, root, 2, e2)
    val expected = (1 to 2).flatMap { e =>
      graft.operators.ImageOps.upgradeActions(spark, root, e)
        .collect().map(r => (r.getString(0), r.getString(1), e))
    }.toSet
    assert(out == expected,
      s"stream catalog actions diverged (out=${out.size}, exp=${expected.size})")
    assert(out.exists(_._2 == "evicted"), "no upgrade eviction in the stream")
    assert(out.exists(p => p._2 == "dropped_new" && p._3 == 2),
      "late lesser copies not dropped in their arrival batch")
  }

  test("stream-static enrichment == batch mirror (c40); defaults on unknown hosts") {
    import spark.implicits._
    val n = 900
    val streamed = StreamingJobs.enrichDemo(spark, n).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3),
        r.getLong(4), r.getInt(5))).toSet
    val feed = StreamingJobs.enrichFeed(n)
    val batch = StreamingJobs.enrichJoin(
      spark.createDataset(feed.toIndexedSeq).toDF("url_hash", "host", "path"),
      graft.sources.Gen.robots(spark).toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3),
        r.getLong(4), r.getInt(5))).toSet
    assert(streamed == batch, "stream-static join != batch broadcast join")
    // non-vacuity: the robots verdict actually fires, and the planted
    // unknown hosts take the left-join default policy
    assert(streamed.exists(!_._4), "no disallowed row — robots verdict vacuous")
    assert(streamed.exists(_._4), "no allowed row")
    val unknown = streamed.filter(_._2.startsWith("unknown-"))
    assert(unknown.size == 7 &&
      unknown.forall(t => t._4 && t._5 == 500L && t._6 == 40),
      "unknown-host rows did not take the default policy")
  }

  test("streaming retry ledger == batch retryLedgerOf over the same waves (c84)") {
    import spark.implicits._
    // epochs == 1 < maxRetries so the final wave's repeat failures are
    // still inside the retry budget — the ledger's "due" verdict is
    // realized (with epochs == maxRetries every last-wave failure is
    // exhausted and due would be vacuously false everywhere); n sized so
    // the 1/64-per-epoch failure kernel plants a double-failure chain
    val (n, epochs, maxRetries) = (20000, 1, 2)
    val streamed = StreamingJobs.retryLedgerDemo(spark, n, epochs, maxRetries)
      .collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getString(2), r.getLong(3), r.getBoolean(4))).toMap
    val waves = StreamingJobs.retryOutcomeWaves(n, epochs)
    val logs = spark.createDataset(waves.flatten.toIndexedSeq)
      .toDF("image_id", "status", "epoch")
    val batch = graft.operators.RetryOps.retryLedgerOf(logs, maxRetries)
      .where(org.apache.spark.sql.functions.col("n_transient") >= 1).collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getString(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(streamed == batch, "stream keyed state != batch ledger")
    // non-vacuity: the fixture realizes recovery, re-failure, and due rows
    assert(batch.values.exists(_._2 == "parsed"), "no recovered URL")
    assert(batch.values.exists(v => v._2 == "fetch_failed" && v._4),
      "no URL still due for retry")
    assert(batch.values.exists(_._3 >= 2L), "no multi-failure chain")
    assert(batch.values.exists(v => v._2 == "parsed" && v._3 == 1L),
      "no single-failure recovery row")
  }

  test("c101 streaming lindley backlog == c98 batch closed form, column for column") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingJobs.backlogDemo(spark, dir).collect()
      .map(r => r.getAs[String]("host") ->
        (r.getAs[Long]("total_demand"), r.getAs[Long]("peak_backlog"),
          r.getAs[Long]("final_backlog"),
          r.getAs[Long]("epochs_in_backlog"))).toMap
    val batch = graft.operators.BandwidthOps.backlogLindley(spark, dir)
      .collect()
      .map(r => r.getAs[String]("host") ->
        (r.getAs[Long]("total_demand"), r.getAs[Long]("peak_backlog"),
          r.getAs[Long]("final_backlog"),
          r.getAs[Long]("epochs_in_backlog"))).toMap
    assert(streamed == batch, "stream keyed state != batch prefix-scan")
    // non-vacuity: the synthesized demand realizes queued AND idle hosts
    assert(batch.values.exists(_._2 > 0L), "no host ever queues")
    assert(batch.values.exists(_._2 == 0L), "every host queues")
  }
}
