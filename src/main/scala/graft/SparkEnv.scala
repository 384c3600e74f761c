package graft

import org.apache.spark.sql.SparkSession

/** The one owner of session config. Every main and the test base build
  * their session with [[session]] (ScalingBench's pinned protocol shapes
  * and ExtensionsCheck's bare builder extend [[applyCommon]] or bypass it
  * on purpose), and every scoped conf change inside the engine or a spec
  * goes through [[withConf]], which restores the caller's values on exit.
  */
object SparkEnv {
  /** tmpfs-backed spark.local.dir when available. Measured in this sandbox:
    * shuffle files on the root disk serialize multi-core local mode (E1 at
    * local[32] ran no faster than local[8]); on /dev/shm the same job
    * scaled 2.4x. A real cluster provides fast local shuffle disks; tmpfs
    * is the local-mode stand-in.
    */
  def localDir: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val p = new java.io.File(shm, "graft-spark-local")
      p.mkdirs()
      Some(p.getAbsolutePath)
    } else None
  }

  /** Scratch root for demo pipeline state (per-epoch parquet, indexes,
    * manifests): the fast local dir (tmpfs) when available, else the JVM
    * temp dir. Same rationale as the streaming checkpoint placement in
    * StreamingJobs.ckptDir — java.io.tmpdir sits on the slow root disk and
    * the demos' many tiny state writes/commits were disk-bound there. A
    * real deployment points scratch at fast local storage or a DFS; the
    * directory choice is deployment config, not semantics.
    */
  def scratchDir(prefix: String): String = localDir match {
    case Some(d) =>
      java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get(d), prefix).toString
    case None => java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Local-mode cores of the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The shipped session: `local[cores]`, one shuffle partition per core,
    * [[applyCommon]], WARN logging. Returns the active session if one
    * already exists in this JVM.
    */
  def session(cores: Int = cpus): SparkSession = {
    val spark = applyCommon(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with each `key -> value` set on `spark`'s runtime conf,
    * then restores every key to its previous value, or unsets it if it had
    * none, also when `body` throws. Anything lazy that `body` returns runs
    * under the restored conf, so materialize results inside the scope.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def applyCommon(b: SparkSession.Builder): SparkSession.Builder = {
    localDir.foreach(d => b.config("spark.local.dir", d))
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Let AQE re-optimize (coalesce) the output partitioning of cached
      // plans: the pipeline demos persist frontier/dedupe intermediates,
      // and with the default (false) every downstream stage of a cached
      // plan is pinned to spark.sql.shuffle.partitions tasks regardless of
      // data size — at demo scale that is 32 tasks per scan for a few
      // hundred rows (guide §2.4/§2.2: fewer, larger partitions).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The ContextCleaner reclaims shuffle files and localCheckpoint
      // blocks only after the driver GCs their references; its forced-GC
      // interval defaults to 30min — longer than a whole bench run, so a
      // 295-query session accumulates every query's shuffle files (on the
      // tmpfs local dir: RAM) and checkpoint blocks until the end (guide
      // §5: unpersist when done / cut what tasks hold). 2min bounds the
      // within-run footprint at a few driver GCs per run; deployment
      // config, not semantics.
      .config("spark.cleaner.periodicGC.interval", "2min")
  }
}
