package graft

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `SparkEnv.withConf` is the only place that changes a shared session's
  * conf: every scope must hand the caller's values back unchanged. And a
  * `SparkEnv.scratchDir` does not outlive its JVM.
  */
class SparkEnvSpec extends AnyFunSuite {
  private val Parts = "spark.sql.shuffle.partitions"
  private val Absent = "spark.graft.test.absentKey"

  test("withConf sets the values inside the scope and restores them on exit") {
    val before = spark.conf.get(Parts)
    val inside = SparkEnv.withConf(spark, Parts -> "3", Absent -> "x") {
      (spark.conf.get(Parts), spark.conf.get(Absent))
    }
    assert(inside == ("3", "x"))
    assert(spark.conf.get(Parts) == before)
  }

  test("withConf restores the values when the body throws") {
    val before = spark.conf.get(Parts)
    intercept[IllegalStateException] {
      SparkEnv.withConf(spark, Parts -> "3", Absent -> "x") {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(Parts) == before)
    assert(spark.conf.getOption(Absent).isEmpty)
  }

  test("withConf unsets a key that was absent before, rather than leaving it set") {
    assert(spark.conf.getOption(Absent).isEmpty)
    SparkEnv.withConf(spark, Absent -> "x")(())
    assert(spark.conf.getOption(Absent).isEmpty)
  }

  test("a scratch dir and its files are deleted when the JVM exits") {
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java",
      "-cp", System.getProperty("java.class.path"), "graft.ScratchDirCheck").asJava
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, s"ScratchDirCheck JVM failed:\n$out")
    val dir = out.linesIterator.find(_.startsWith("SCRATCH|"))
      .getOrElse(fail(s"no SCRATCH line in:\n$out")).stripPrefix("SCRATCH|")
    assert(dir.nonEmpty && !new java.io.File(dir).exists())
  }
}
