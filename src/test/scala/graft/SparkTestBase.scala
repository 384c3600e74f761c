package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM), built
  * with the same config the mains ship.
  */
object SparkTestBase {
  lazy val spark: SparkSession = SparkEnv.session(8)

  def withShufflePartitions[T](n: Int)(f: => T): T =
    SparkEnv.withConf(spark, "spark.sql.shuffle.partitions" -> n.toString)(f)

  /** A fresh dir in java.io.tmpdir, deleted when the test JVM exits. It
    * stays off the tmpfs scratch root of [[SparkEnv.scratchDir]]: a suite
    * run writes about 2 GB of these dirs, which would sit in RAM there.
    */
  def tempDir(prefix: String): String =
    SparkEnv.deleteAtExit(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** The Spark jobs `body` starts on this thread (and on the threads its
    * queries spawn). Jobs are told apart by a job group private to the
    * call; a marker job run after the body, once seen by the listener,
    * proves every earlier job-start event was delivered.
    */
  def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsStarted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "jobsStarted marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
