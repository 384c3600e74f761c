package perfbench

import graft.functions.{Bloom64, GraftFunctions}
import graft.model.{RobotsEntry, Seed, SeenEntry}
import graft.operators.FrontierJob
import graft.sources.SeenStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

/** The E1 frontier broken into its stages by calling FrontierJob's public
  * functions the way `FrontierJob.runEpoch` composes them. Prefix k (the
  * first k stages) runs to a `noop` sink; a stage's self time is prefix k
  * minus prefix k-1.
  */
object E1Layers {
  val Stages = Seq("canonicalize", "dedupe", "robots", "schedule", "budget")

  def units: Seq[(String, String)] =
    Seq("SeenStore.sidecar_build_s" -> "s", "SeenStore.sidecar_bytes" -> "bytes") ++
      Stages.map(s => s"FrontierJob.${s}_s" -> "s") :+ ("FrontierJob.bloom_maybe_frac" -> "ratio")

  def sidecarBytes(m: Map[Int, Array[Byte]]): Double = m.valuesIterator.map(_.length.toLong).sum.toDouble

  /** Collects the per-bucket blooms of `seen`, as the frontier op does. */
  def buildSidecar(seen: Dataset[SeenEntry], numBuckets: Int, perBucket: Long): Map[Int, Array[Byte]] =
    SeenStore.buildBlooms(seen, numBuckets, perBucket)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap

  private def prefixes(seeds: Dataset[Seed], robots: Dataset[RobotsEntry], seen: Dataset[SeenEntry],
                       blooms: Map[Int, Array[Byte]], numBuckets: Int,
                       cfg: FrontierJob.Config): Seq[() => DataFrame] = {
    def canon = FrontierJob.canonicalizeFrontier(seeds)
    def dedupe = FrontierJob.dedupeAgainstSeen(canon, seen, blooms, numBuckets)
    def allowed = FrontierJob.applyRobots(dedupe, robots, cfg)
    def sched = FrontierJob.schedule(allowed, cfg)
    Seq(() => canon, () => dedupe, () => allowed, () => sched,
      () => FrontierJob.applyGlobalBudget(sched, cfg).toDF())
  }

  /** Rows the bloom sends to the exact anti-join over rows surviving the
    * batch dedupe; the probe is the same codegen expression the frontier
    * uses.
    */
  private def maybeFrac(seeds: Dataset[Seed], blooms: Map[Int, Array[Byte]], numBuckets: Int): Double = {
    // no sidecar: dedupeAgainstSeen sends every row to the anti-join
    if (blooms.isEmpty) return 1.0
    val canon = FrontierJob.canonicalizeFrontier(seeds)
    val spark = canon.sparkSession
    val bc = spark.sparkContext.broadcast(blooms.map { case (b, bytes) => b -> Bloom64.deserialize(bytes) })
    val probe = coalesce(GraftFunctions.bloomMaybeSeen(spark, bc,
      SeenStore.bucketOf(col("host"), numBuckets), col("url_hash")), lit(true))
    val row = canon.agg(count(lit(1)), sum(when(probe, 1L).otherwise(0L))).head()
    bc.destroy()
    if (row.getLong(0) == 0L) 0.0 else row.getLong(1).toDouble / row.getLong(0)
  }

  /** One measurement of every E1 layer. `blooms` is the sidecar the
    * dedupe stage probes (empty: the exact path); the sidecar build is
    * timed on `seen` with `perBucket` expected entries per bucket.
    */
  def measure(spans: Spans, seeds: Dataset[Seed], robots: Dataset[RobotsEntry],
              seen: Dataset[SeenEntry], blooms: Map[Int, Array[Byte]], numBuckets: Int,
              perBucket: Long, cfg: FrontierJob.Config, reps: Int): Map[String, Double] = {
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      spans(name)(body)
      (System.nanoTime() - t0) / 1e9
    }
    val build = Stats.median((1 to reps).map(_ =>
      timed("SeenStore.buildBlooms")(buildSidecar(seen, numBuckets, perBucket))))
    val ps = prefixes(seeds, robots, seen, blooms, numBuckets, cfg)
    val cumulative = ps.zip(Stages).map { case (p, stage) =>
      Stats.median((1 to reps).map(_ =>
        timed(s"FrontierJob.prefix.$stage")(p().write.format("noop").mode("overwrite").save())))
    }
    val self = cumulative.zip(0.0 +: cumulative).map { case (a, b) => a - b }
    Map("SeenStore.sidecar_build_s" -> build, "SeenStore.sidecar_bytes" -> sidecarBytes(blooms),
      "FrontierJob.bloom_maybe_frac" -> maybeFrac(seeds, blooms, numBuckets)) ++
      Stages.zip(self).map { case (s, v) => s"FrontierJob.${s}_s" -> v }
  }
}
