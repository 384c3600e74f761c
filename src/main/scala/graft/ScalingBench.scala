package graft

import graft.operators.FrontierJob
import graft.sources.{Gen, SeenStore}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Cluster-size scaling evidence: the same E1 frontier job on the same
  * input at two or more parallelism levels, and the N -> 4N throughput
  * scaling efficiency between neighbouring levels.
  *
  * Methodology: each level runs in its OWN fresh JVM (spawned child) so
  * JIT/codegen/GC state cannot leak between levels; inside a level the full
  * E1 frontier job (generate seeds -> canonicalize -> xxhash64 -> batch
  * dedupe -> robots gate -> salted politeness windows -> deterministic
  * global order) executes once to warm, then 4 timed runs with a `noop`
  * sink; the minimum wall is reported (robust to host noise).
  * Throughput numerator = rows surviving dedupe + rows assigned a
  * politeness slot. local[N] stands in for N executors in "local" mode;
  * "cluster" mode runs real executor JVMs.
  *
  * Output: one JSON line per child (wall, throughput and the summed task
  * metrics of every task the child ran) and one summary JSON line with the
  * best child per level and each pair's efficiency. It writes no report
  * file: the BENCH/ docs record runs as appended rows.
  */
object ScalingBench {

  /** In-child level runner. mode:
    *   "local"   — local[cores]: threads share one JVM (cores = `level`)
    *   "cluster" — local-cluster[level, coresPerExec, memMb]: REAL separate
    *               executor JVMs (level = executor count) launched by an
    *               in-process standalone Worker — per-executor heaps/GC and
    *               cross-JVM netty shuffle, the honest "N executors" shape.
    */
  private def runLevelInProcess(level: Int, n: Long, mode: String): String = {
    val coresPerExec = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "4").toInt
    val execMemMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "2048").toInt
    val cores = if (mode == "cluster") level * coresPerExec else level
    // Fixed shuffle-partition override: by default partitions = cores, which
    // COUPLES THE PLAN SHAPE TO THE LEVEL — at the small level each reduce
    // task then processes levels-ratio x more rows in the same per-executor
    // heap (spill/GC cliff), understating the small level and the measured
    // efficiency. Setting the same value at both levels compares the
    // IDENTICAL plan on different resources (how a real cluster sizes
    // partitions: for the data, not the node count).
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cores.toString)
    // AQE partition coalescing OFF by default in the scaling protocol
    // (overridable via SPARK_GRAFT_AQE_COALESCE): measured on the
    // sidecar-active job, coalescing shrank post-shuffle stages below the
    // big level's executor count — cores sat idle, task-core-time stayed
    // flat (work-conserving) while walls refused to scale (eff 0.61-0.73);
    // with the same 16 partitions actually EXECUTED at both levels the
    // pair measures 0.87+. Same principle as the fixed shuffle-partition
    // override above: compare the identical plan on different resources.
    val aqeCoalesce = sys.env.getOrElse("SPARK_GRAFT_AQE_COALESCE", "false")
    val spark =
      if (mode == "cluster")
        SparkEnv.applyCommon(SparkSession.builder()
          .master(s"local-cluster[$level,$coresPerExec,$execMemMb]")
          .appName(s"graft-scaling-x$level")
          // one executor per worker, sized exactly to the worker (defaults
          // would request 1g executors — and then -Xms2g > -Xmx1g makes the
          // executor JVM die in a relaunch loop)
          .config("spark.executor.memory", s"${execMemMb}m")
          .config("spark.executor.cores", coresPerExec.toString)
          .config("spark.executor.extraClassPath", classesPath)
          // fixed pre-touched executor heaps (see spawnLevel notes)
          .config("spark.executor.extraJavaOptions",
            s"-Xms${execMemMb}m -XX:+AlwaysPreTouch")
          .config("spark.io.compression.codec", "zstd"))
          .getOrCreate()
      else SparkEnv.session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    // task-metric sums (ms): run, GC, deserialize, shuffle write, fetch wait
    val metrics = new java.util.concurrent.atomic.AtomicLongArray(5)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          metrics.addAndGet(0, m.executorRunTime)
          metrics.addAndGet(1, m.jvmGCTime)
          metrics.addAndGet(2, m.executorDeserializeTime)
          metrics.addAndGet(3, m.shuffleWriteMetrics.writeTime / 1000000)
          metrics.addAndGet(4, m.shuffleReadMetrics.fetchWaitTime)
        }
      }
    })
    val json = SparkEnv.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> aqeCoalesce,
        "spark.sql.shuffle.partitions" -> shufParts) {
      val cfg = FrontierJob.Config(epoch = 0)
      val sidecar = seenMode
      val seenDs: org.apache.spark.sql.Dataset[graft.model.SeenEntry] =
        if (sidecar == "none") SeenStore.emptySeen(spark)
        else {
          import spark.implicits._
          import org.apache.spark.sql.functions.{col, lit}
          val seenN = n / 4
          val seenPath =
            s"${SparkEnv.localDir.getOrElse(System.getProperty("java.io.tmpdir"))}/seen-$seenN"
          // reuse is gated on the _SUCCESS marker, not bare dir existence: a
          // run killed mid-write leaves a partial parquet directory that a
          // bare exists() check would silently read, skewing every
          // subsequent seen-set bench against a wrong seen set
          if (!new java.io.File(s"$seenPath/_SUCCESS").exists())
            FrontierJob.canonicalizeFrontier(Gen.seeds(spark, seenN, InputParts))
              .select(col("url_hash"), col("host"), lit(0).as("first_epoch"))
              .write.mode("overwrite").parquet(seenPath)
          spark.read.parquet(seenPath).as[graft.model.SeenEntry]
        }
      def job() = FrontierJob.runEpoch(
        Gen.seeds(spark, n, InputParts), Gen.robots(spark), seenDs, cfg)
      job().write.format("noop").mode("overwrite").save() // warm JIT + codegen
      val deduped = FrontierJob.canonicalizeFrontier(Gen.seeds(spark, n, InputParts)).count()
      val scheduled = job().count()
      val walls = (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        job().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val wall = walls.min
      val thr = (deduped + scheduled) / wall
      f"""{"cores":$cores,"deduped":$deduped,"scheduled":$scheduled,"wall":$wall%.2f,"walls":[${walls.map(w => f"$w%.2f").mkString(",")}],"thr":$thr%.1f,"sidecar":"$sidecar",""" +
        s""""runTimeMs":${metrics.get(0)},"gcMs":${metrics.get(1)},"deserMs":${metrics.get(2)},"shufWriteMs":${metrics.get(3)},"shufFetchWaitMs":${metrics.get(4)}}"""
    }
    spark.stop()
    json
  }

  /** Seed-table partitions, the same at every level (every recorded
    * protocol ran 64).
    */
  private val InputParts = 64

  /** The seen-set shape, `SPARK_GRAFT_SIDECAR`: "none" (default) is the
    * epoch-0 shape, an empty seen set; "bloom" is the epoch >= 1 shape, a
    * quarter of the URL space already seen (persisted to parquet untimed,
    * like a real epoch reading the committed seen table). The name and
    * values predate the removal of the crawl's seen sidecar and are kept
    * so BENCH/SIDECAR_SCALING.md rows stay comparable; no filter is built.
    */
  private def seenMode: String = {
    val m = sys.env.getOrElse("SPARK_GRAFT_SIDECAR", "none")
    require(m == "none" || m == "bloom", s"SPARK_GRAFT_SIDECAR must be none or bloom, not $m")
    m
  }

  /** Directory/jar holding graft classes (for executor classpaths). */
  private def classesPath: String =
    getClass.getProtectionDomain.getCodeSource.getLocation.getPath

  /** CPUs this process may actually run on (affinity mask from
    * /proc/self/status), so pinning works on hosts whose CPU ids are not
    * contiguous-from-0 (offline CPUs, cgroup cpusets, NUMA holes); falls
    * back to 0..nproc-1 when /proc is unreadable.
    */
  private def allowedCpus: Seq[Int] = {
    val spec = try {
      Files.readString(Paths.get("/proc/self/status")).linesIterator
        .find(_.startsWith("Cpus_allowed_list:")).map(_.split(":")(1).trim)
    } catch { case _: Exception => None }
    spec.filter(_.nonEmpty).map { s =>
      s.split(",").toSeq.flatMap { part =>
        part.split("-").map(_.trim) match {
          case Array(a, b) => a.toInt to b.toInt
          case Array(a)    => Seq(a.toInt)
        }
      }
    }.getOrElse(0 until Runtime.getRuntime.availableProcessors())
  }

  private def tasksetBin: Option[String] =
    Seq("/usr/bin/taskset", "/bin/taskset", "/usr/sbin/taskset")
      .find(p => Files.isExecutable(Paths.get(p)))

  private def spawnLevel(level: Int, n: Long, mode: String): Map[String, Double] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // java.class.path lacks the app jar under spark-submit (it loads the
    // jar via a child classloader) — append our own code-source location.
    val selfJar = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
    val cp = System.getProperty("java.class.path") +
      java.io.File.pathSeparator + selfJar
    // Cluster-faithful level isolation, established by measurement (round 2):
    //  1. taskset pins the level to exactly `cores` CPUs — a real N-executor
    //     cluster has N cores TOTAL, including for GC/JIT; unpinned local[8]
    //     borrows the other 24 cores for GC+JIT and inflates the N-level
    //     denominator of the efficiency ratio.
    //  2. FIXED PRE-TOUCHED heap (-Xms=-Xmx, AlwaysPreTouch): this sandbox
    //     commits anon pages at ~130 MB/s behind a kernel lock once the JVM
    //     footprint grows past the pre-provisioned few GB (measured: 6 GiB
    //     pretouch 5 s, 12 GiB 95 s, 24 GiB 186 s wall / 68 CPU-MINUTES sys)
    //     — a growing -Xmx24g heap therefore serializes every level on page
    //     faults, which is exactly the round-1 "pure codegen work doesn't
    //     scale 8->32 in one JVM" mystery: the extra cores sat in the
    //     kernel, not in Spark. Pre-touching once at JVM start (untimed)
    //     and never growing keeps timed runs on recycled warm pages.
    // Heap ~cores but capped low: the fault-cost curve is superlinear in
    // footprint, so the 4N level gets LESS heap per core than N — a
    // conservative handicap on the numerator side of the efficiency ratio.
    val coresPerExec = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "4").toInt
    val cores = if (mode == "cluster") level * coresPerExec else level
    // child DRIVER heap: in cluster mode executors carry their own fixed
    // pre-touched heaps (runLevelInProcess), the driver stays small
    val heap = sys.env.getOrElse("SPARK_GRAFT_HEAP",
      if (mode == "cluster") "2g" else s"${math.max(2, cores / 8)}g")
    // pin to the first `cores` CPUs of the ACTUAL affinity mask (stable
    // across interleaved levels by construction); skip pinning gracefully
    // when taskset is absent or the mask is smaller than the level
    val cpus = allowedCpus
    val pin = tasksetBin match {
      case Some(bin) if cpus.size >= cores =>
        Seq(bin, "-c", cpus.take(cores).mkString(","))
      case _ => Seq.empty
    }
    val cmd = (pin ++ Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xms$heap", s"-Xmx$heap", "-XX:+AlwaysPreTouch",
      "-Dspark.ui.enabled=false",
      // zstd halves the tmpfs shuffle footprint vs lz4 — fewer slow-path
      // page faults inside timed runs; identical setting at every level
      "-Dspark.io.compression.codec=zstd",
      "-cp", cp,
      "graft.ScalingBench", "level", level.toString, n.toString, mode)).asJava
    val pb = new ProcessBuilder(cmd).redirectErrorStream(true)
    // the standalone Worker's executor launcher needs a binary-dist layout;
    // honor the caller's environment, defaulting to this sandbox's install
    pb.environment().put("SPARK_HOME", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_SCALA_VERSION",
      sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))
    SparkEnv.localDir.foreach(d => pb.environment().put("SPARK_LOCAL_DIRS", d))
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    p.waitFor()
    val line = out.linesIterator.find(_.startsWith("""{"cores"""")).getOrElse(
      throw new IllegalStateException(s"no level JSON from child (level=$level):\n$out"))
    println(line)
    // tiny flat-JSON parse (no deps)
    """"(\w+)":([0-9.]+)""".r.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "level") {
      println(runLevelInProcess(args(1).toInt, args(2).toLong,
        if (args.length >= 4) args(3) else "local"))
      return
    }
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "16000000").toLong
    val sidecar = seenMode
    // mode "local": levels are thread counts in one JVM (local[N]);
    // mode "cluster": levels are EXECUTOR counts (local-cluster — separate
    // executor JVMs x SPARK_GRAFT_EXEC_CORES cores each)
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "local")
    val levels = sys.env.getOrElse("SPARK_GRAFT_LEVELS",
      if (mode == "cluster") "2,8" else "2,8,32").split(",").map(_.trim.toInt)
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    // interleaved A/B/C/A/B/C child JVMs; best wall per level — the sandbox
    // host has multi-second noise bursts AND degrades monotonically within a
    // session (page-fault cost grows with cumulative memory churn), so only
    // interleaved same-session comparisons are meaningful.
    val runs: Seq[(Int, Map[String, Double])] =
      (1 to rounds).flatMap(_ => levels.map(c => c -> spawnLevel(c, n, mode)))
    val best: Map[Int, Map[String, Double]] =
      runs.groupBy(_._1).view.mapValues(_.map(_._2).minBy(_("wall"))).toMap
    val pairs = levels.sliding(2).filter(_.length == 2).map { case Array(lo, hi) =>
      val eff = (best(hi)("thr") / best(lo)("thr")) / (hi.toDouble / lo)
      (lo, hi, eff)
    }.toSeq
    val deduped = best(levels.head)("deduped").toLong
    val scheduled = best(levels.head)("scheduled").toLong
    val levelJson = levels.map { c =>
      val m = best(c)
      s"""{"cores":$c,"wall":${m("wall")},"thr":${m("thr")}}"""
    }.mkString("[", ",", "]")
    val pairJson = pairs.map { case (lo, hi, e) =>
      s"""{"n_cores":$lo,"four_n_cores":$hi,"efficiency":${f"$e%.3f"}}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"metric":"frontier_scaling","n_urls":$n,"mode":"$mode","rounds":$rounds,"sidecar":"$sidecar","deduped":$deduped,"scheduled":$scheduled,""" +
        s""""levels":$levelJson,"pairs":$pairJson}"""
    println(json)
  }
}
