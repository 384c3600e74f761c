package graft.streaming

import graft.model.{Scheduled, Seed}

/** Keyed politeness state (top-level: Catalyst encoders need a public
  * constructor for codegen).
  */
final case class HostState(nextSlot: Int)
final case class BacklogState(w: Long, peak: Long, inBacklog: Long,
    total: Long, lastEpoch: Long)
final case class RetryState(lastEpoch: Int, lastStatus: String, nTransient: Long)
final case class RetryVerdict(image_id: String, last_epoch: Int,
    last_status: String, n_transient: Long, due: Boolean)
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Structured Streaming skin (SURVEY.md §2.10 phase-2): the same epoch
  * semantics expressed over streams. Batch remains the production path
  * (epochs are resumable micro-batches by construction); these jobs prove
  * the operators carry over: watermarked windowed aggregation, and per-host
  * politeness as explicit keyed state via flatMapGroupsWithState.
  */
object StreamingJobs {

  /** Tumbling 1h windowed counts over the events table consumed AS A
    * STREAM, complete-mode memory sink. The final table equals the batch
    * groupBy — which is exactly what the DuckDB oracle checks (q18).
    * One trigger processes all available files: splitting into
    * one-file-per-trigger added nothing to parity but re-aggregated and
    * re-collected the full result to the driver EVERY trigger (complete-
    * mode memory sink is O(result) per trigger — 22% of the round-1 bench).
    */
  def windowedEventCounts(spark: SparkSession, dir: String): DataFrame =
    withFewStatePartitions(spark) { windowedEventCountsImpl(spark, dir) }

  private def windowedEventCountsImpl(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val name = s"stream_win_${math.abs(dir.hashCode)}"
    // FileStreamSource needs a directory; the sf dirs hold one file per
    // table, so stream the dir with a glob pinned to the events table.
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events*.parquet")
      .parquet(dir)
    runToTable(hourlyAgg(stream), ckptDir(name), name)
  }

  /** The tumbling agg body, shared verbatim by the streaming paths and
    * the batch-parity mirrors (watermark is a no-op on bounded input).
    */
  private[graft] def hourlyAgg(events: DataFrame): DataFrame =
    events
      // NTZ -> LTZ under the pinned UTC session (watermarks require TIMESTAMP)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        col("event_type"), col("n"), col("total"))

  private def runToTable(agg: DataFrame, ckpt: String, name: String): DataFrame = {
    val spark = agg.sparkSession
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** q18's windowed agg with an EXPLICIT checkpoint over a dedicated
    * source directory — the restartable form. A stopped query restarted
    * with the same checkpoint resumes from the offset log + state store:
    * already-committed files are never re-read (no double counting) and
    * the restored agg state folds the new files in — the streaming
    * counterpart of the batch epoch/manifest resume discipline. The
    * StreamingSpec golden stops after phase-1 files, adds phase-2 files,
    * restarts, and requires the final table to equal a single-shot batch
    * over everything.
    */
  def windowedEventCountsFrom(spark: SparkSession, srcDir: String,
                              ckpt: String, name: String): DataFrame =
    withFewStatePartitions(spark) {
      val batchSchema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(batchSchema).parquet(srcDir)
      runToTable(hourlyAgg(stream), ckpt, name)
    }

  /** Streaming SESSION windows (c24 — the streaming form of q36):
    * gap-based per-user sessions over the events table consumed as a
    * stream. session_window is the one window family whose boundaries are
    * DATA-dependent — the state store must MERGE adjacent sessions when a
    * late row bridges their gap, which tumbling (q18) never does. Complete
    * mode: the final table must equal the batch `Relational.sessionWindows`
    * (itself q36 DuckDB-oracled), so the streaming path inherits oracle
    * parity transitively (pinned in StreamingSpec).
    */
  def sessionizedEvents(spark: SparkSession, dir: String, gapMin: Int = 10): DataFrame =
    withFewStatePartitions(spark) { sessionizedEventsImpl(spark, dir, gapMin) }

  private def sessionizedEventsImpl(spark: SparkSession, dir: String, gapMin: Int): DataFrame = {
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val name = s"stream_sess_${math.abs(dir.hashCode)}"
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events*.parquet")
      .parquet(dir)
    val agg = stream
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMin minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("total"))
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckptDir(name))
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-STREAM interval join (q39): click->purchase attribution —
    * purchases joined to any click by the same user within the preceding
    * 30 minutes, both sides consumed as streams. This is the one join
    * family where BOTH inputs are unbounded: each side buffers rows in
    * the state store and the event-time range condition plus the
    * watermarks bound how long a buffered click can still match (state
    * eviction, not correctness, is what the bounds buy — inner-join
    * matches emit immediately). The final table equals the identical
    * batch interval join, which is what the DuckDB oracle checks —
    * values pass through unrounded, so both engines emit the parquet
    * doubles bit-for-bit.
    */
  def streamStreamAttribution(spark: SparkSession, dir: String): DataFrame =
    withFewStatePartitions(spark) { streamStreamAttributionImpl(spark, dir) }

  private def streamStreamAttributionImpl(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val name = s"stream_join_${math.abs(dir.hashCode)}"
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events*.parquet")
      .parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val joined = attributionJoin(stream)
    val q = joined.writeStream
      .outputMode(OutputMode.Append()) // stream-stream joins are append-only
      .option("checkpointLocation", ckptDir(name))
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("click_id", "purchase_id")
  }

  /** The join itself, shared verbatim by the streaming path and the
    * batch-parity mirror in StreamingSpec (same plan, bounded input).
    */
  private[graft] def attributionJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      clicks("user_id") === purchases("p_user") &&
        purchases("purchase_ts") >= clicks("click_ts") &&
        purchases("purchase_ts") <= clicks("click_ts") + expr("interval 30 minutes"))
      .select(col("click_id"), col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        col("purchase_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value").as("purchase_value"))
  }

  /** Stateful streams pin their state-partition count from
    * spark.sql.shuffle.partitions at FIRST batch and pay per-partition
    * state-store files + maintenance EVERY trigger — 32 partitions for a
    * few thousand demo rows is pure fixed cost. Scope the demos to 4
    * (measured: warm politeness demo 1.6 s at 4 vs ~4 s at 8 in a hot
    * session); a production stream sizes this to its key cardinality.
    */
  // The streaming queries themselves never use AQE (unsupported — Spark
  // disables it with a warning); but the foreachBatch BODIES are batch
  // queries, and AQE materialized each of their exchanges as its own job
  // at micro-batch sizes the 4-partition setting already handles (the
  // graph/pipeline loop discipline).
  private def withFewStatePartitions[T](spark: SparkSession)(body: => T): T =
    graft.SparkEnv.withConf(spark,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")(body)

  /** Streaming state/offset checkpoints on the fast local dir (tmpfs when
    * available): the default java.io.tmpdir sits on the slow root disk and
    * its per-batch state-store + offset-log fsyncs dominated these demos'
    * wall time. A real cluster would point this at fast local storage or a
    * DFS; the choice of directory is deployment config, not semantics.
    * Deleted at JVM exit, like every [[graft.SparkEnv.scratchDir]].
    */
  private def ckptDir(name: String): String = graft.SparkEnv.scratchDir(s"ckpt-$name-")

  /** Per-host politeness as EXPLICIT streaming state: each incoming
    * frontier entry takes the host's next slot (FIFO within arrival order,
    * budget-capped), state carried across micro-batches by
    * flatMapGroupsWithState — the streaming analog of the batch window
    * scheduler, with the priority queue materialized as keyed state.
    */
  def statefulPoliteness(
      entries: Dataset[(String, Long, Double)], // (host, url_hash, priority)
      budget: Int,
      delayMs: Long,
      t0Ms: Long): Dataset[Scheduled] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(_._1)
      .flatMapGroupsWithState[HostState, Scheduled](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (host, rows, state: GroupState[HostState]) =>
          var next = state.getOption.map(_.nextSlot).getOrElse(0)
          // Bounded selection: the host can take at most (budget - next)
          // more slots, so keep ONLY that many rows in memory — a sorted
          // bounded buffer with binary-search insert, same order as the
          // batch scheduler: (priority desc, url_hash asc). A full
          // toSeq.sortBy here would materialize a hot host's entire
          // micro-batch and OOM at scale; this is O(rem) memory however
          // many rows the batch throws at one host.
          // PRECONDITION (matching the batch pipeline, where dedupe precedes
          // scheduling): rows are unique by url_hash within a micro-batch.
          // An exact (priority, url_hash) tie is therefore a duplicate of
          // the same URL; when the buffer is full the first-arrived copy is
          // kept and the duplicate dropped — the same row survives either
          // way, so selection is still arrival-order-insensitive.
          val rem = math.max(0, budget - next)
          var buf = new Array[(String, Long, Double)](0)
          if (rem > 0) rows.foreach { r =>
            val n = buf.length
            val worse = n == rem &&
              !(r._3 > buf(n - 1)._3 || (r._3 == buf(n - 1)._3 && r._2 < buf(n - 1)._2))
            if (!worse) {
              var lo = 0; var hi = n
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                val m = buf(mid)
                if (m._3 > r._3 || (m._3 == r._3 && m._2 < r._2)) lo = mid + 1 else hi = mid
              }
              val outLen = math.min(n + 1, rem)
              val nb = new Array[(String, Long, Double)](outLen)
              System.arraycopy(buf, 0, nb, 0, lo)
              if (lo < outLen) {
                nb(lo) = r
                System.arraycopy(buf, lo, nb, lo + 1, outLen - lo - 1)
              }
              buf = nb
            }
          } else rows.foreach(_ => ()) // drain: budget exhausted
          val out = buf.iterator.map { r =>
            val s = Scheduled(s"http://$host/", r._2, host, "/", r._3,
              next, t0Ms + next.toLong * delayMs, 0)
            next += 1
            s
          }.toVector
          state.update(HostState(next))
          out.iterator
      }
  }

  /** Streaming URL-seen dedupe — the S4 seen-set expressed as BOUNDED
    * streaming state: `dropDuplicatesWithinWatermark(url_hash)` keeps the
    * first arrival of each hash and lets the watermark EXPIRE dedupe state
    * older than the horizon. That bound is the point at web scale: a batch
    * seen-set grows with the corpus forever, while the stream stage holds
    * only hashes younger than the watermark; re-discoveries older than the
    * horizon fall through to the exact batch anti-join downstream — the
    * same safety contract as the bloom pre-filter (the approximate/bounded
    * stage reduces volume, the exact store decides membership).
    */
  def streamingDedupe(
      entries: Dataset[(Long, String, java.sql.Timestamp)], // (url_hash, host, ts)
      horizon: String = "10 minutes"): DataFrame =
    entries.toDF("url_hash", "host", "ts")
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("url_hash")

  /** Driver-contract wrapper: streamingDedupe over a MemoryStream of
    * locally-generated frontier entries (3 micro-batches, ~30% duplicate
    * canonical URLs across batches); rows-only gate — StreamingSpec
    * asserts first-arrival semantics against a single-threaded mirror.
    */
  def dedupeDemo(spark: SparkSession, n: Int = 3000): DataFrame =
    withFewStatePartitions(spark) { dedupeDemoImpl(spark, n) }

  private def dedupeDemoImpl(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed: Array[(Long, String, java.sql.Timestamp)] =
      graft.sources.Gen.seedsLocal(n).zipWithIndex.flatMap { case (s, i) =>
        val uc = graft.functions.UrlKit.canonicalize(s.url)
        if (uc == null || uc.isEmpty) None
        else Some((graft.operators.CrawlOracle.xxhash64(uc),
          graft.functions.UrlKit.hostOf(uc),
          new java.sql.Timestamp(1704067200000L + i * 1000L)))
      }.toArray
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    // horizon wider than the feed's 50-min event-time span: no state
    // expires mid-demo, so the output is exactly global first-arrival and
    // the single-threaded mirror needs no watermark modeling (expiry
    // timing is engine-internal; the BOUND is what production relies on)
    val out = streamingDedupe(stream.toDS(), horizon = "2 hours")
    val name = s"stream_dedupe_$n"
    val q = out.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(name))
      .format("memory").queryName(name).start()
    try {
      val third = feed.length / 3
      stream.addData(feed.take(third).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(feed.slice(third, 2 * third).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(feed.drop(2 * third).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
      .select(col("url_hash"), col("host"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
      .orderBy("url_hash")
  }

  /** Driver-contract wrapper: run statefulPoliteness over a MemoryStream
    * of synthetic frontier entries split into 3 micro-batches; returns the
    * full scheduled output (rows-only gate; scalatest asserts budget/slot
    * invariants and cross-batch state carry-over).
    */
  def politenessDemo(spark: SparkSession, n: Int = 3000, budget: Int = 40): DataFrame =
    withFewStatePartitions(spark) { politenessDemoImpl(spark, n, budget) }

  private def politenessDemoImpl(spark: SparkSession, n: Int, budget: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // MemoryStream input is built with the LOCAL generator + kernels (the
    // same pure functions the distributed plan codegens), not by collecting
    // a Spark job to the driver — the stream harness feeds test data, it
    // must not pull a distributed frontier through the driver.
    val frontier: Array[(String, Long, Double)] = {
      val canon = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      graft.sources.Gen.seedsLocal(n).foreach { s =>
        val uc = graft.functions.UrlKit.canonicalize(s.url)
        if (uc != null && uc.nonEmpty)
          canon.updateWith(uc) {
            case Some(p) => Some(math.max(p, s.priority))
            case None    => Some(s.priority)
          }
      }
      canon.iterator.map { case (uc, p) =>
        (graft.functions.UrlKit.hostOf(uc), graft.operators.CrawlOracle.xxhash64(uc), p)
      }.toArray.sortBy(e => (e._1, e._2))
    }
    val stream = MemoryStream[(String, Long, Double)]
    val out = statefulPoliteness(stream.toDS(), budget, delayMs = 200L, t0Ms = 1704067200000L)
    val name = s"stream_polite_$n"
    val q = out.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(name))
      .format("memory").queryName(name).start()
    try {
      val third = frontier.length / 3
      stream.addData(frontier.take(third).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(frontier.slice(third, 2 * third).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(frontier.drop(2 * third).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).orderBy("host", "slot")
  }

  /** c84 — the c83 retry ledger as LIVE keyed streaming state: fetch
    * outcomes arrive as a stream, mapGroupsWithState keeps each URL's
    * (last epoch, last status, transient-failure count) and emits the
    * updated retry verdict per micro-batch — the online form of
    * RetryOps.retryLedgerOf (which recomputes the same ledger from
    * at-rest fetch logs). State is one tiny fixed-size record per URL
    * that has EVER failed or fetched — a production deployment would
    * bound it with a state TTL on recovered URLs; the demo keeps
    * NoTimeout so the batch-parity golden needs no expiry modeling.
    */
  def streamingRetryLedger(
      outcomes: Dataset[(String, String, Int)], // (image_id, status, epoch)
      maxRetries: Int): Dataset[RetryVerdict] = {
    import outcomes.sparkSession.implicits._
    def transient(s: String) = s == "fetch_failed" || s == "invalid_payload"
    outcomes
      .groupByKey(_._1)
      .mapGroupsWithState[RetryState, RetryVerdict](
        GroupStateTimeout.NoTimeout()) {
        case (id, rows, state: GroupState[RetryState]) =>
          var st = state.getOption.getOrElse(RetryState(-1, "", 0L))
          // epochs are monotone per URL (one outcome per epoch); apply in
          // epoch order so a batch spanning several waves folds correctly
          rows.toSeq.sortBy(_._3).foreach { case (_, status, epoch) =>
            st = RetryState(epoch, status,
              st.nTransient + (if (transient(status)) 1L else 0L))
          }
          state.update(st)
          RetryVerdict(id, st.lastEpoch, st.lastStatus, st.nTransient,
            transient(st.lastStatus) && st.nTransient <= maxRetries)
      }
  }

  /** Driver-contract wrapper: feed the exact per-epoch fetch-outcome waves
    * a retry-enabled crawl produces (wave 0 = every URL; wave e = the
    * previous wave's transient failures, kernel-predicted), one micro-batch
    * per epoch; returns the FINAL ledger (last verdict per URL, restricted
    * to URLs that ever failed). StreamingSpec asserts it equals the batch
    * RetryOps.retryLedgerOf over the concatenated log.
    */
  def retryLedgerDemo(spark: SparkSession, n: Int = 3000,
                      epochs: Int = 2, maxRetries: Int = 2): DataFrame =
    withFewStatePartitions(spark) { retryLedgerDemoImpl(spark, n, epochs, maxRetries) }

  private[graft] def retryOutcomeWaves(
      n: Int, epochs: Int): Seq[Array[(String, String, Int)]] = {
    // local kernels only (the politenessDemo discipline): canonical URLs,
    // xxhash identity, and the same fetchFails/parseFails kernels the
    // distributed fetch wave runs
    val canon = scala.collection.mutable.LinkedHashSet.empty[String]
    graft.sources.Gen.seedsLocal(n).foreach { s =>
      val uc = graft.functions.UrlKit.canonicalize(s.url)
      if (uc != null && uc.nonEmpty) canon += uc
    }
    var wave = canon.toArray.sorted
    (0 to epochs).map { e =>
      val outcomes = wave.map { uc =>
        val h = graft.operators.CrawlOracle.xxhash64(uc)
        val status =
          if (graft.operators.CrawlPipeline.fetchFails(h, e)) "fetch_failed"
          else if (graft.operators.CrawlPipeline.parseFails(h, e)) "parse_failed"
          else "parsed"
        (uc, status, e)
      }
      wave = outcomes.filter(_._2 == "fetch_failed").map(_._1)
      outcomes
    }
  }

  private def retryLedgerDemoImpl(spark: SparkSession, n: Int,
                                  epochs: Int, maxRetries: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, String, Int)]
    val out = streamingRetryLedger(stream.toDS(), maxRetries)
    val name = s"stream_retry_$n"
    val q = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckptDir(name))
      .format("memory").queryName(name).start()
    try {
      retryOutcomeWaves(n, epochs).foreach { wave =>
        stream.addData(wave.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    // final verdict per URL = the row from its LAST update (epochs are
    // monotone, so max last_epoch picks it deterministically)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("image_id").orderBy(col("last_epoch").desc)
    spark.table(name)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") === 1 && col("n_transient") >= 1)
      .drop("rn")
      .orderBy("image_id")
  }

  /** Streaming copy-detection — the ONLINE form of the news-diff
    * "is this article a copy of an earlier one" check, wired through the
    * persisted similarity index (SimIndex): every micro-batch of incoming
    * documents is shingled and appended as its own mini-epoch, then probed
    * against the ENTIRE corpus-so-far (earlier epochs are never
    * re-shingled). foreachBatch is the right streaming primitive here: the
    * probe is a batch join against an external, growing table — exactly
    * the pattern Structured Streaming documents for stream-static joins
    * whose static side must advance transactionally with the stream.
    * Per-batch pair output lands under `root/copy_pairs/epoch=N` (same
    * per-epoch overwrite idempotence as every other sink in the engine).
    */
  def streamingCopyDetect(
      docs: Dataset[(Long, String)],
      root: String,
      startEpoch: Int): org.apache.spark.sql.streaming.StreamingQuery =
    docs.toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(s"copydetect_$startEpoch"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val epoch = startEpoch + batchId.toInt
        graft.operators.SimIndex.writeShingleIndex(batch, root, epoch)
        graft.operators.SimIndex.crossEpochNearDups(spark, root, epoch)
          .write.mode("overwrite").parquet(s"$root/copy_pairs/epoch=$epoch")
      }
      .start()

  /** Streaming EXACT copy-detection through the persisted suffix index —
    * [[streamingCopyDetect]]'s window-granular sibling (that one flags
    * near-dups via shingle Jaccard; this one flags EXACT duplicated
    * length-L windows, the t29 semantic, online): each micro-batch commits
    * its docs (`root/docs/epoch=N`) and suffix keys (SimIndex
    * .writeSuffixIndex) as a mini-epoch, then probes the corpus-so-far
    * (SimIndex.crossEpochDupWindows — content-verified, no re-hash of
    * earlier epochs); per-batch duplicated positions land under
    * `root/exact_copy/epoch=N`.
    */
  def streamingExactCopyDetect(
      docs: Dataset[(Long, String)],
      root: String,
      startEpoch: Int): org.apache.spark.sql.streaming.StreamingQuery =
    docs.toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(s"exactcopy_$startEpoch"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val epoch = startEpoch + batchId.toInt
        batch.write.mode("overwrite").parquet(s"$root/docs/epoch=$epoch")
        val committed = spark.read.parquet(s"$root/docs/epoch=$epoch")
        graft.operators.SimIndex.writeSuffixIndex(committed, root, epoch)
        val docsUpTo = spark.read.parquet(s"$root/docs")
          .where(col("epoch") <= epoch).select("doc_id", "text")
        graft.operators.SimIndex.crossEpochDupWindows(spark, root, epoch, docsUpTo)
          .write.mode("overwrite").parquet(s"$root/exact_copy/epoch=$epoch")
      }
      .start()

  /** Driver-contract demo (c58): epoch 0 = the spanCorpus base docs,
    * indexed batch-side; the stream delivers fresh docs then the planted
    * partial copies — whose slice windows the probe must flag on arrival.
    * Golden equality per batch vs full every-window recompute is pinned in
    * StreamingSpec.
    */
  def exactCopyDetectDemo(spark: SparkSession, dir: String): DataFrame =
    withFewStatePartitions(spark) { exactCopyDetectDemoImpl(spark, dir) }

  private def exactCopyDetectDemoImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkEnv.scratchDir("graft-c58")
    val corpus = graft.operators.TextOps.spanCorpus(spark, dir)
    val base = corpus.where(col("doc_id") < 2000000L)
    val e0 = base.where(pmod(col("doc_id"), lit(2)) === 0)
    e0.write.mode("overwrite").parquet(s"$root/docs/epoch=0")
    graft.operators.SimIndex.writeSuffixIndex(
      spark.read.parquet(s"$root/docs/epoch=0"), root, 0)
    val fresh = base.where(pmod(col("doc_id"), lit(2)) === 1)
      .as[(Long, String)].collect()
    val plants = corpus.where(col("doc_id") >= 2000000L)
      .as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val q = streamingExactCopyDetect(stream.toDS(), root, startEpoch = 1)
    try {
      stream.addData(fresh.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(plants.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$root/exact_copy")
      .groupBy(col("doc_id"), col("epoch").as("found_in_batch"))
      .agg(count(lit(1)).cast("long").as("n_dup"),
        min("pos").cast("long").as("first_pos"))
      .orderBy("doc_id", "found_in_batch")
  }

  /** Streaming IMAGE copy-detection — [[streamingCopyDetect]]'s twin on
    * the payload the north_rule is about: each micro-batch of
    * (image_id, phash) rows appends to the persisted phash block index as
    * its own mini-epoch (SimIndex.writePhashIndex) and probes the
    * corpus-so-far for near-dups (no re-blocking of earlier epochs);
    * per-batch pairs land under `root/image_copy_pairs/epoch=N`. The
    * online "is this image a re-crawl/copy of one we already hold" check.
    */
  def streamingImageCopyDetect(
      images: Dataset[(String, Long)],
      root: String,
      startEpoch: Int,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    images.toDF("image_id", "phash").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(s"imgcopydetect_$startEpoch"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val epoch = startEpoch + batchId.toInt
        graft.operators.SimIndex.writePhashIndex(batch, root, epoch)
        graft.operators.SimIndex.crossEpochNearDupPhash(spark, root, epoch)
          .write.mode("overwrite").parquet(s"$root/image_copy_pairs/epoch=$epoch")
        // online index maintenance: a stream writes one mini-epoch per
        // micro-batch, so a long run would pay an O(batches) listing per
        // probe — fold the block dirs periodically (crash-safe + idempotent
        // like the probe itself; the probed pairs are unchanged either way,
        // pinned by the stream==recompute golden running with cadence 1)
        if (compactEvery > 0 && epoch % compactEvery == 0)
          graft.operators.SimIndex.compactPhashIndex(spark, root, epoch)
      }
      .start()

  /** Driver-contract demo (c21): epoch 0 images indexed batch-side; the
    * stream delivers new images in two micro-batches, the second carrying
    * exact re-crawls of epoch-0 images under tracking URLs — flagged as
    * cross-epoch copies. Golden equality per batch vs full recompute is
    * pinned in StreamingSpec.
    */
  def imageCopyDetectDemo(spark: SparkSession): DataFrame =
    withFewStatePartitions(spark) { imageCopyDetectDemoImpl(spark) }

  private def imageCopyDetectDemoImpl(spark: SparkSession): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkEnv.scratchDir("graft-c21")
    def img(i: Int): (String, Long) =
      (s"http://h${i % 7}.example/img-$i",
        graft.functions.ImageKit.mix64(i.toLong * 2654435761L + 13L))
    val e0 = (0 until 60).map(img)
    graft.operators.SimIndex.writePhashIndex(
      e0.toDF("image_id", "phash"), root, 0)
    val fresh = (60 until 100).map(img)
    val copies = e0.take(12).map { case (id, p) => (s"$id?utm=copy", p) }
    val stream = MemoryStream[(String, Long)]
    // cadence 1: batch 2's probe reads compact(1) + tail(2) — the
    // compacted read path is exercised INSIDE the golden equality
    val q = streamingImageCopyDetect(stream.toDS(), root, startEpoch = 1,
      compactEvery = 1)
    try {
      stream.addData(fresh)
      q.processAllAvailable()
      stream.addData(copies)
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$root/image_copy_pairs")
      .select(col("image_a"), col("image_b"), col("img_a"), col("img_b"),
        col("hamming"), col("epoch").as("found_in_batch"))
      .orderBy("image_a", "image_b")
  }

  /** Streaming DUST rule mining (c31): each micro-batch of fetched
    * (host, url, content_hash) rows appends its observation partials and
    * pair DELTA to the persisted store (DustOps.writeDustEpoch — the
    * incremental-join identity pairs an alias with a bare URL from ANY
    * earlier batch, or a later one), so the crawl's alias rules tighten
    * online without ever re-joining history.
    */
  def streamingDustMine(
      logs: Dataset[(String, String, String)],
      root: String,
      startEpoch: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    logs.toDF("host", "url", "content_hash").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(s"dust_$startEpoch"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.DustOps.writeDustEpoch(batch, root,
          startEpoch + batchId.toInt)
      }
      .start()

  /** Driver-contract demo (c31): the synthetic fetched-URL log arrives
    * over three micro-batches in an ADVERSARIAL slicing (url-hash based,
    * so many aliases precede their bare counterpart); the final persisted
    * rules must equal the one-shot batch miner — which is what the
    * DuckDB oracle (c28's SQL, shared verbatim) checks.
    */
  def dustMineDemo(spark: SparkSession, dir: String): DataFrame =
    withFewStatePartitions(spark) { dustMineDemoImpl(spark, dir) }

  private def dustMineDemoImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkEnv.scratchDir("graft-c31")
    val rows = graft.operators.DustOps.syntheticUrlLog(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // deterministic 3-way slicing on the URL text, uncorrelated with the
    // row kind — bare and alias forms of one page usually land in
    // DIFFERENT batches, which is exactly the case the delta join covers
    def slice(u: String): Int = math.floorMod(u.hashCode, 3)
    val stream = MemoryStream[(String, String, String)]
    val q = streamingDustMine(stream.toDS(), root)
    try {
      (0 until 3).foreach { k =>
        stream.addData(rows.filter(r => slice(r._2) == k).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    graft.operators.DustOps.dustRulesFrom(spark, root, uptoEpoch = 2)
  }

  /** Streaming adaptive pacing (c32): each micro-batch of (host,
    * latency_ms) fetch observations appends an exact-mergeable histogram
    * partial (PacingOps.writeLatencyEpoch); the per-host delay table is
    * recomputed from the summed histograms — raw percentiles don't
    * merge, count histograms do, so the online delays equal the batch
    * miner's exactly at every point in the stream.
    */
  def streamingPacing(
      latencies: Dataset[(String, Long)],
      root: String,
      startEpoch: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    latencies.toDF("host", "latency_ms").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(s"pacing_$startEpoch"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.PacingOps.writeLatencyEpoch(batch, root,
          startEpoch + batchId.toInt)
      }
      .start()

  /** Driver-contract demo (c32): the synthetic latency log arrives over
    * three url-hash-sliced micro-batches; the final store-derived delay
    * table must equal the one-shot batch report (c30's oracle SQL,
    * shared verbatim).
    */
  def pacingMineDemo(spark: SparkSession, dir: String): DataFrame =
    withFewStatePartitions(spark) { pacingMineDemoImpl(spark, dir) }

  private def pacingMineDemoImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkEnv.scratchDir("graft-c32")
    val rows = graft.operators.PacingOps.syntheticFetchLatencies(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val stream = MemoryStream[(String, Long)]
    val q = streamingPacing(stream.toDS(), root)
    try {
      (0 until 3).foreach { k =>
        stream.addData(rows.zipWithIndex
          .filter { case (_, i) => i % 3 == k }.map(_._1).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    graft.operators.PacingOps.adaptiveDelaysFrom(spark, root, uptoEpoch = 2)
  }

  /** Streaming BEST-COPY catalog maintenance (c80) — the c78 upgrade
    * semantics kept current online: each micro-batch of
    * (image_id, phash, w, h, fmt) rows admits as its own mini-epoch
    * through the persisted combination-block index
    * (ImageOps.admitEpochBestCopy), and the epoch's catalog DELTA
    * (admitted / dropped_new / evicted) lands under
    * `root/catalog_actions/epoch=N` — so a late-arriving original
    * EVICTS the thumbnail that circulated first, while the stream runs.
    */
  def streamingBestCopyCatalog(
      images: Dataset[(String, Long, Int, Int, String)],
      root: String,
      startEpoch: Int): org.apache.spark.sql.streaming.StreamingQuery =
    images.toDF("image_id", "phash", "w", "h", "fmt").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(s"bestcopy_$startEpoch"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val epoch = startEpoch + batchId.toInt
        graft.operators.ImageOps.admitEpochBestCopy(spark, root, epoch, batch)
        graft.operators.ImageOps.upgradeActions(spark, root, epoch)
          .write.mode("overwrite").parquet(s"$root/catalog_actions/epoch=$epoch")
      }
      .start()

  /** Driver-contract demo (c80): epoch 0 = the scale corpus's lesser
    * copies of even groups + full pngs of odd groups, admitted
    * batch-side; the stream delivers the rest in two micro-batches —
    * first the even groups' full pngs (each admits AND evicts its
    * half-jpeg incumbent), then the odd groups' lesser copies (all
    * drop). Stream == per-epoch batch recompute is pinned in
    * StreamingSpec.
    */
  def bestCopyCatalogDemo(spark: SparkSession): DataFrame =
    withFewStatePartitions(spark) { bestCopyCatalogDemoImpl(spark) }

  private def bestCopyCatalogDemoImpl(spark: SparkSession): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkEnv.scratchDir("graft-c80")
    val all = graft.operators.ImageOps.scaleCorpus(spark)
      .select("image_id", "phash", "w", "h", "fmt")
    val grp = regexp_extract(col("image_id"), "img-(\\d+)-", 1).cast("long")
    val isFull = col("image_id").endsWith("-full")
    val e0 = all.where((pmod(grp, lit(2)) === 0 && !isFull) ||
      (pmod(grp, lit(2)) === 1 && isFull) || col("image_id").endsWith("-solo"))
    graft.operators.ImageOps.admitEpochBestCopy(spark, root, 0, e0)
    def rows(df: DataFrame) = df
      .as[(String, Long, Int, Int, String)].collect()
    val upgrades = rows(all.where(pmod(grp, lit(2)) === 0 && isFull))
    val lateLessers = rows(all
      .where(pmod(grp, lit(2)) === 1 && !isFull &&
        !col("image_id").endsWith("-solo")))
    val stream = MemoryStream[(String, Long, Int, Int, String)]
    val q = streamingBestCopyCatalog(stream.toDS(), root, startEpoch = 1)
    try {
      stream.addData(upgrades)
      q.processAllAvailable()
      stream.addData(lateLessers)
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$root/catalog_actions")
      .select(col("image_id"), col("action"), col("epoch").as("in_batch"))
      .orderBy("in_batch", "action", "image_id")
  }

  /** Driver-contract demo (c18): epoch 0 = half the documents table,
    * indexed batch-side; the stream delivers the other half in two
    * micro-batches, the second carrying planted near-copies of epoch-0
    * docs — which the probe must flag as cross-epoch copies. Golden
    * equality per batch vs full recompute is pinned in StreamingSpec.
    */
  def copyDetectDemo(spark: SparkSession, dir: String): DataFrame =
    withFewStatePartitions(spark) { copyDetectDemoImpl(spark, dir) }

  private def copyDetectDemoImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.SparkEnv.scratchDir("graft-c18")
    // demo runs on a deterministic quarter of the table: the semantics are
    // what the golden pins; the full-corpus cost story belongs to t05/c16
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").where(pmod(col("doc_id"), lit(4)) < 2)
    val e0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    graft.operators.SimIndex.writeShingleIndex(e0, root, 0)
    val rest = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .as[(Long, String)].collect()
    val planted = e0.where(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" appended revision marker tokens")).as("text"))
      .as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val q = streamingCopyDetect(stream.toDS(), root, startEpoch = 1)
    try {
      stream.addData(rest.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(planted.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$root/copy_pairs")
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("epoch").as("found_in_batch"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- c40: stream-STATIC enrichment join --------------------------------

  /** The join body shared verbatim between the streaming path and the
    * batch mirror (the q39 discipline): broadcast-hash LEFT join of
    * frontier entries against the host policy dimension + the P4
    * longest-prefix robots verdict, defaults applied where the dimension
    * has no row for the host.
    */
  private[graft] def enrichJoin(entries: DataFrame, dim: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(entries.sparkSession)
    entries.join(broadcast(dim), Seq("host"), "left")
      .select(col("url_hash"), col("host"), col("path"),
        (col("rules").isNull ||
          graft.operators.FrontierJob.robotsAllowedCol(col("rules"), col("path")))
          .as("allowed"),
        coalesce(col("crawl_delay_ms"), lit(500L)).as("crawl_delay_ms"),
        coalesce(col("host_budget"), lit(40)).as("host_budget"))
  }

  /** c40 — stream-STATIC enrichment (the dimension join every streaming
    * pipeline runs, and the one join family the streaming suite lacked:
    * q18 aggregates, c14/c24 hold keyed state, q39 buffers BOTH sides —
    * here the unbounded frontier joins a bounded, slowly-changing
    * dimension). No state store is involved, which is the point: Spark
    * re-plans the static side into every micro-batch, a host-catalog-sized
    * dimension BROADCASTS, and the stream side never shuffles — per-batch
    * cost is O(batch), independent of how long the stream has run. At
    * 100 TB the dimension (robots/policy per host) is ~10^7 rows —
    * broadcast territory — while the frontier stream is unbounded.
    */
  def streamStaticEnrich(
      entries: Dataset[(Long, String, String)], // (url_hash, host, path)
      dim: DataFrame): DataFrame =
    enrichJoin(entries.toDF("url_hash", "host", "path"), dim)

  /** Driver-contract wrapper: 3 micro-batches of canonicalized frontier
    * entries (plus planted unknown-dimension hosts exercising the left
    * side) enriched against the Gen.robots catalog; rows-only gate —
    * StreamingSpec asserts stream == batch mirror exactly.
    */
  def enrichDemo(spark: SparkSession, n: Int = 3000): DataFrame =
    withFewStatePartitions(spark) { enrichDemoImpl(spark, n) }

  private[graft] def enrichFeed(n: Int): Array[(Long, String, String)] =
    (graft.sources.Gen.seedsLocal(n).flatMap { s =>
      val uc = graft.functions.UrlKit.canonicalize(s.url)
      if (uc == null || uc.isEmpty) None
      else Some((graft.operators.CrawlOracle.xxhash64(uc),
        graft.functions.UrlKit.hostOf(uc), graft.functions.UrlKit.pathOf(uc)))
    } ++ (0 until 7).map(i =>
      (9000000L + i, s"unknown-$i.example", s"/page/$i"))).toArray

  private def enrichDemoImpl(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = graft.sources.Gen.robots(spark).toDF()
    val feed = enrichFeed(n)
    val stream = MemoryStream[(Long, String, String)]
    val out = streamStaticEnrich(stream.toDS(), dim)
    val name = s"stream_enrich_$n"
    val q = out.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir(name))
      .format("memory").queryName(name).start()
    try {
      val third = feed.length / 3
      stream.addData(feed.take(third).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(feed.slice(third, 2 * third).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(feed.drop(2 * third).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).orderBy("url_hash", "path")
  }

  /** c101 — STREAMING Lindley backlog: c98's token-bucket recursion as
    * keyed state — per-epoch demand rows arrive as a stream and each
    * host's W advances by the textbook W ← max(0, W + d − R) (the
    * sequential form the batch prefix-scan was proven equal to), so the
    * backlog monitor runs ONLINE while c98 remains the at-rest audit.
    * mapGroupsWithState keeps (w, peak, in-backlog, total) per host;
    * every micro-batch emits the host's running summary and the demo
    * reads the LAST update — StreamingSpec pins it equal to the batch
    * closed form on the identical synthesized demand, column for
    * column. State is one 5-long tuple per host — bounded by the host
    * universe, the same budget as the politeness state.
    */
  def streamingBacklog(entries: Dataset[(String, Long, Long)],
                       capBytes: Long): DataFrame = {
    val spark = entries.sparkSession
    import spark.implicits._
    entries.groupByKey(_._1)
      .mapGroupsWithState[BacklogState, (String, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        case (host, it, state) =>
          val p = state.getOption.getOrElse(BacklogState(0L, 0L, 0L, 0L, 0L))
          var w = p.w; var peak = p.peak; var inb = p.inBacklog
          var tot = p.total; var last = p.lastEpoch
          it.toSeq.sortBy(_._2).foreach { case (_, e, d) =>
            tot += d
            w = math.max(0L, w + d - capBytes)
            if (w > peak) peak = w
            if (w > 0L) inb += 1L
            last = e
          }
          state.update(BacklogState(w, peak, inb, tot, last))
          (host, tot, peak, w, inb)
      }
      .toDF("host", "total_demand", "peak_backlog", "final_backlog",
        "epochs_in_backlog")
  }

  /** Driver-contract wrapper: streamingBacklog over a MemoryStream of
    * the SAME md5-synthesized demand history c98 audits (locally
    * generated with the identical kernel), epochs 1-3 / 4-6 / 7-8 as
    * three micro-batches; returns the last update per host.
    */
  def backlogDemo(spark: SparkSession, dir: String,
                  capBytes: Long = 30000L): DataFrame =
    withFewStatePartitions(spark) { backlogDemoImpl(spark, dir, capBytes) }

  private[graft] def demandLocal(host: String, e: Long): Long = {
    def h6(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(3).map("%02x".format(_))
        .mkString, 16)
    10000L + (h6(s"bf:$host") % 7L) * 1000L * e +
      h6(s"bfn:$host:$e") % 997L
  }

  private def backlogDemoImpl(spark: SparkSession, dir: String,
                              capBytes: Long): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hosts = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().collect().map(_.getString(0)).sorted
    def wave(es: Range): IndexedSeq[(String, Long, Long)] =
      for { e <- es; h <- hosts.toIndexedSeq }
        yield (h, e.toLong, demandLocal(h, e.toLong))
    val stream = MemoryStream[(String, Long, Long)]
    val out = streamingBacklog(stream.toDS(), capBytes)
    val name = "stream_backlog"
    val q = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckptDir(name))
      .format("memory").queryName(name).start()
    try {
      stream.addData(wave(1 to 3)); q.processAllAvailable()
      stream.addData(wave(4 to 6)); q.processAllAvailable()
      stream.addData(wave(7 to 8)); q.processAllAvailable()
    } finally q.stop()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("host")
      .orderBy(col("total_demand").desc)
    spark.table(name)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .orderBy("host")
  }
}
