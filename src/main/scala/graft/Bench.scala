package graft

import java.nio.file.{Files, Paths}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEnv.cpus
    val spark = SparkEnv.session(cpus)
    // deterministic order + a tiny first action to absorb session spin-up
    spark.range(1000).count()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a crashed query must surface, not masquerade as a timing
      try fn(spark, sfDir).count()
      catch {
        case e: Throwable =>
          failures += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // headline metric companion: E1 frontier throughput (URLs deduped +
    // scheduled per second, BASELINE.md numerator) at this session's
    // parallelism on a 1M synthetic frontier — the cross-level scaling
    // evidence lives in BENCH/BASELINE.md (graft.ScalingBench, fresh JVM
    // per level; this in-session figure runs after 40+ queries in a hot
    // GC-pressured session and reads systematically lower).
    val frontier = {
      import graft.operators.FrontierJob
      import graft.sources.{Gen, SeenStore}
      val n = 1000000L
      val cfg = FrontierJob.Config(epoch = 0)
      def job() = FrontierJob.runEpoch(Gen.seeds(spark, n, 64), Gen.robots(spark),
        SeenStore.emptySeen(spark), Map.empty, 64, cfg)
      job().write.format("noop").mode("overwrite").save() // warm
      val numer = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, n, 64)).count() +
        job().count()
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        job().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      numer / walls.min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failures":$fails,"n_failures":${failures.length},""" +
      s""""frontier_urls_per_sec":${f"$frontier%.1f"},"frontier_cores":$cpus,"sf":"$sfDir"}"""
    println(json)
    // sbt wraps stdout in [info] prefixes the driver's parser chokes on —
    // always leave the raw JSON line on disk too
    Files.writeString(Paths.get("BENCH_LOCAL.json"), json + "\n")
    spark.stop()
  }
}
