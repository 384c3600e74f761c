package perfbench

import graft.model.Scheduled
import graft.operators.{CrawlOracle, CrawlPipeline, FrontierJob}
import graft.sources.{Gen, SeenStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** `crawl_epochs`: whole resumable crawl epochs through
  * `CrawlPipeline.run` with default features plus `recrawl = true` (without
  * it no URL is fetched twice and the E2 revision diff never fires). One op
  * is one epoch >= 1, called through the resume path (`untilEpoch = e`).
  */
object CrawlEpochs {
  val SeedsPerEpoch = 2000
  val Fanout = 2
  val Buckets = 16 // CrawlPipeline.run's default sidecar bucket count
  val MinEpochs = 3
  // the seen store compacts after epoch 7 by default; staying below it
  // keeps every timed epoch the same kind of work
  val MaxEpoch = 6

  /** `CrawlPipeline.run` draws its seeds from `Gen.seeds` with a fixed
    * generator seed, so the benchmark seed moves the seed count instead,
    * which re-draws every article id; seed 42 gives exactly 20000.
    */
  def seedsPerEpoch(seed: Long): Int =
    SeedsPerEpoch + java.lang.Math.floorMod(seed - Gen.GenSeed, 1000L).toInt

  def crawl(spark: SparkSession, root: String, until: Int, n: Int): Seq[CrawlPipeline.EpochSummary] =
    CrawlPipeline.run(spark, root, until, n, FrontierJob.Config(), outlinkFanout = Fanout,
      fetchPartitions = spark.sparkContext.defaultParallelism, recrawl = true)

  /** Order-free digest of the committed state a resume must reproduce:
    * scheduled rows, revisions and seen-store entries of epochs <= upTo.
    */
  def digest(spark: SparkSession, root: String, upTo: Int): Seq[String] =
    for {
      table <- Seq("scheduled", "revisions", "url_seen")
      e <- 0 to upTo
      path = s"$root/$table/epoch=$e"
      if new java.io.File(path).exists()
    } yield {
      val df = spark.read.parquet(path)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
      s"$table/epoch=$e:${r.getLong(0)}:${r.get(1)}"
    }

  def run(spark: SparkSession, opts: Opts, out: Outcome, spans: Spans): Unit = {
    import spark.implicits._
    val n = seedsPerEpoch(opts.seed)
    def root(name: String) = s"${opts.scratch}/crawl-$name"

    // untimed warm pass, which is also the uninterrupted reference run
    spans("warm")(crawl(spark, root("straight"), 1, n))
    // set-up: bootstrap epoch 0 of a fresh crawl root, three times (once
    // when traced: set-up time is an end-to-end figure); the first root
    // carries the timed epochs
    val setups = (1 to (if (opts.trace) 1 else 3)).map { k =>
      val t0 = System.nanoTime()
      spans("setup")(crawl(spark, root(s"boot$k"), 0, n))
      (System.nanoTime() - t0) / 1e9
    }
    val timedRoot = root("boot1")
    val layers = if (opts.trace) Some(LayerListener.register(spark)) else None
    var e1 = Seq.empty[Map[String, Double]]
    // traced only: before each epoch, E1's stages on that epoch's seeds and
    // outlinks against the root's committed seen store and sidecar
    def probe(e: Int): Unit = if (opts.trace) spans(s"e1 probe $e") {
      val prev = spark.read.parquet(s"$timedRoot/scheduled/epoch=${e - 1}")
        .select("url_canon", "url_hash", "host", "path", "priority", "slot", "scheduled_at_ms")
        .withColumn("epoch", lit(e - 1)).as[Scheduled]
      val seeds = Gen.seeds(spark, n.toLong).unionByName(CrawlPipeline.outlinks(prev, Fanout))
      val base = FrontierJob.Config()
      val cfg = base.copy(epoch = e, epochT0Ms = base.epochT0Ms + e * 3600000L)
      e1 :+= E1Layers.measure(spans, seeds, Gen.robots(spark), SeenStore.load(spark, timedRoot),
        SeenStore.loadBlooms(spark, timedRoot, e - 1), Buckets, math.max(1024L, n.toLong), cfg, reps = 1)
    }

    // epochs 1, 2, ... through the resume path, one call each, until
    // `seconds` pass (at least MinEpochs, at most MaxEpoch)
    val t0 = System.nanoTime()
    val timed = Seq.newBuilder[(Double, Long, Map[String, Double])]
    var e = 1
    while (e <= MaxEpoch && (e <= MinEpochs || (System.nanoTime() - t0) / 1e9 < opts.seconds)) {
      probe(e)
      out.op(s"epoch $e") {
        var scheduled = 0L
        val (w, v) = Measure.op(layers, spans, s"epoch $e", Some(timedRoot)) {
          scheduled = crawl(spark, timedRoot, e, n).last.n_scheduled
        }
        timed += ((w, scheduled, v))
      }
      HeapWatch.sample()
      e += 1
    }
    val epochs = timed.result()

    // outputs, checked once outside the timed ops
    val straight = digest(spark, root("straight"), 1)
    val resumed = digest(spark, timedRoot, 1)
    if (straight != resumed) {
      out.fail(s"crawl_epochs: resumed state ${resumed.mkString(" ")} != uninterrupted " +
        straight.mkString(" "))
      out.failed = out.attempted
    }
    val got = spark.read.parquet(s"$timedRoot/scheduled/epoch=0").as[Scheduled]
      .collect().toVector.sortBy(s => (s.scheduled_at_ms, -s.priority, s.url_hash))
    val want = CrawlOracle.runEpoch(Gen.seedsLocal(n), Gen.robotsLocal().map(r => r.host -> r).toMap,
      Set.empty, FrontierJob.Config()).scheduled
    if (got != want) {
      out.fail(s"crawl_epochs: epoch-0 schedule (${got.size} rows) differs from CrawlOracle's ${want.size}")
      out.failed = out.attempted
    }

    val epochS = Stats.median(epochs.map(_._1))
    out.endToEnd("setup_s") = (Stats.median(setups), "s")
    out.endToEnd("epoch_s") = (epochS, "s")
    out.endToEnd("urls_per_s") = (Stats.median(epochs.map { case (w, s, _) => s / w }), "1/s")
    out.endToEnd("driver_heap_mb") = (HeapWatch.maxMb, "MB")

    if (opts.trace) {
      E1Layers.units.foreach { case (k, u) => out.perLayer(k) = (Stats.median(e1.map(_(k))), u) }
      Measure.medians(epochs.map(_._3)).foreach { case (k, v) => out.perLayer(k) = v }
      out.perLayer("trace.epoch_s") = (epochS, "s")
    }
  }
}
