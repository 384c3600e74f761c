package graft

import java.nio.file.{Files, LinkOption, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one owner of session config. Every main and the test base build
  * their session with [[session]] (ScalingBench's local-cluster level
  * extends [[applyCommon]] with its executor shape, and the test-scope
  * ExtensionsCheck's bare builder bypasses it, on purpose), and every
  * scoped conf change inside the engine or a spec goes through
  * [[withConf]], which restores the caller's values on exit.
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
    * directory choice is deployment config, not semantics. The dir is
    * deleted when the JVM exits.
    */
  def scratchDir(prefix: String): String = deleteAtExit(localDir match {
    case Some(d) => Files.createTempDirectory(Paths.get(d), prefix).toString
    case None => Files.createTempDirectory(prefix).toString
  })

  /** Registers `dir` to be deleted, with everything under it, when the
    * JVM exits; returns `dir`.
    */
  private[graft] def deleteAtExit(dir: String): String = {
    exitHook
    exitDirs.add(dir)
    dir
  }

  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private lazy val exitHook: Unit = {
    sys.addShutdownHook(exitDirs.forEach { d =>
      try deleteRecursively(d)
      catch { case NonFatal(e) => System.err.println(s"[graft] cannot delete $d: $e") }
    })
    ()
  }

  /** Deletes `path` and everything under it, without following symlinks.
    * A missing path is a no-op.
    */
  private[graft] def deleteRecursively(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists)
      finally all.close()
    }
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
    *
    * The change is made on `spark` itself, not on a child session, so it
    * is visible to every query on that session for the scope. The loops
    * that use it (the crawl, graph and streaming loops) are therefore
    * single-tenant: a query run concurrently on the same session sees the
    * scoped conf.
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

  /** Runs a loop `body` whose tables hold about `rows` rows in
    * [[withConf]] scope: shuffle partitions sized to the data,
    * max(1, min(session setting, rows / rowsPerPartition + 1)), and AQE
    * off. The width is never raised above the session setting. The loops
    * (crawl epochs, graph iterations) evaluate each step eagerly on
    * already-sized shuffles, so AQE's per-exchange stage materialization
    * only multiplies their job count.
    */
  def withLoopConf[T](spark: SparkSession, rows: Long, rowsPerPartition: Long)(body: => T): T = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val parts = math.max(1L, math.min(sessionParts, rows / rowsPerPartition + 1L))
    withConf(spark,
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false")(body)
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
