package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM), built
  * with the same config the mains ship.
  */
object SparkTestBase {
  lazy val spark: SparkSession = SparkEnv.session(8)

  def withShufflePartitions[T](n: Int)(f: => T): T =
    SparkEnv.withConf(spark, "spark.sql.shuffle.partitions" -> n.toString)(f)

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
