package perfbench

import graft.model.{Seed, SeenEntry}
import graft.operators.{CrawlOracle, FrontierJob}
import graft.sources.Gen
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** One E1 epoch in the epoch >= 1 shape: a quarter of the URL space is
  * already in a parquet seen table, and one op runs `FrontierJob.runEpoch`
  * into a `noop` sink.
  *
  *   - `frontier_seen`: the op first builds the bloom sidecar from the seen
  *     table and collects it to the driver; the bloom routes rows around
  *     the exact anti-join.
  *   - `frontier_exact`: same input, no sidecar, so every row takes the
  *     exact anti-join. It bypasses the sidecar's mechanism: a change to
  *     the sidecar should leave it unchanged.
  */
object Frontier {
  val Seeds = 250000L
  val Buckets = 64
  val WarmOps = 4
  val MinOps = 4
  val Setups = 4

  /** Rows [block * n, block * n + n) of `Gen.seedOf(_, n)`: seed 42 is
    * block 0, exactly `Gen.seeds(spark, n)`; other seeds draw the same
    * distribution from another row block.
    */
  def seeds(spark: SparkSession, n: Long, block: Long): Dataset[Seed] = {
    import spark.implicits._
    val parts = math.max(1L, math.min((n + 16383) / 16384, spark.sparkContext.defaultParallelism.toLong))
    spark.range(0L, n, 1L, parts.toInt).mapPartitions(_.map(i => Gen.seedOf(i + block * n, n)))
  }

  def seedsLocal(n: Long, block: Long): IndexedSeq[Seed] =
    (0L until n).map(i => Gen.seedOf(i + block * n, n))

  def run(spark: SparkSession, opts: Opts, out: Outcome, spans: Spans, sidecar: Boolean): Unit = {
    import spark.implicits._
    val block = opts.seed - Gen.GenSeed
    val n = Seeds
    val nSeen = n / 4
    val perBucket = math.max(1024L, nSeen / Buckets)
    val cfg = FrontierJob.Config(epoch = 1)
    val robots = Gen.robots(spark)
    val input = seeds(spark, n, block)

    // set-up: the committed seen table the epoch reads. The first write
    // runs cold; more follow after the warm pass, and setup_s is the
    // median of all of them.
    def setup(k: Int): Double = {
      val t0 = System.nanoTime()
      spans("setup")(FrontierJob.canonicalizeFrontier(seeds(spark, nSeen, block))
        .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
        .write.mode("overwrite").parquet(s"${opts.scratch}/seen-$k"))
      (System.nanoTime() - t0) / 1e9
    }
    val cold = setup(0)
    val seen = spark.read.parquet(s"${opts.scratch}/seen-0").as[SeenEntry]
    // the single-threaded oracle runs beside the untimed warm pass
    val seenSet = seen.select("url_hash").as[Long].collect().toSet
    val oracle = Future(CrawlOracle.runEpoch(seedsLocal(n, block),
      Gen.robotsLocal().map(r => r.host -> r).toMap, seenSet, cfg))(ExecutionContext.global)
    def sidecarMap(): Map[Int, Array[Byte]] =
      if (sidecar) E1Layers.buildSidecar(seen, Buckets, perBucket) else Map.empty
    def epoch(blooms: Map[Int, Array[Byte]]) =
      FrontierJob.runEpoch(input, robots, seen, blooms, Buckets, cfg)
    var sidecarS = Seq.empty[Double]
    def op(): Unit = {
      val t0 = System.nanoTime()
      val blooms = spans("sidecar")(sidecarMap())
      sidecarS :+= (System.nanoTime() - t0) / 1e9
      spans("e1")(epoch(blooms).write.format("noop").mode("overwrite").save())
    }

    spans("warm")((1 to WarmOps).foreach { _ => op(); HeapWatch.sample() })
    val setups = cold +: (1 until Setups).map(setup)
    sidecarS = Seq.empty
    val layers = if (opts.trace) Some(LayerListener.register(spark)) else None
    var perOp = Seq.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    val walls = Seq.newBuilder[Double]
    var i = 0
    while (i < MinOps || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
      out.op(s"op $i") {
        val (w, v) = Measure.op(layers, spans, "frontier_op")(op())
        walls += w
        perOp :+= v
      }
      HeapWatch.sample()
      i += 1
    }

    // outputs, checked once outside the timed ops
    val (deduped, got) = spans("check") {
      val got = epoch(sidecarMap()).collect().toVector
      val want = Await.result(oracle, Duration.Inf)
      if (got != want.scheduled) {
        out.fail(s"${opts.workload}: ${got.size} scheduled rows differ from CrawlOracle's " +
          want.scheduled.size)
        out.failed = out.attempted
      }
      (n - want.dedupedInBatch, got)
    }

    val epochS = Stats.median(walls.result())
    out.endToEnd("setup_s") = (Stats.median(setups), "s")
    out.endToEnd("epoch_s") = (epochS, "s")
    out.endToEnd("urls_per_s") = ((deduped + got.size) / epochS, "1/s")
    out.endToEnd("driver_heap_mb") = (HeapWatch.maxMb, "MB")

    if (opts.trace) {
      val e1 = E1Layers.measure(spans, input, robots, seen, sidecarMap(), Buckets, perBucket, cfg,
        reps = 3)
      E1Layers.units.foreach { case (k, u) =>
        out.perLayer(k) = (if (k == "SeenStore.sidecar_build_s" && sidecar) Stats.median(sidecarS)
                           else e1(k), u)
      }
      Measure.medians(perOp).foreach { case (k, v) => out.perLayer(k) = v }
      out.perLayer("trace.epoch_s") = (epochS, "s")
    }
  }
}
