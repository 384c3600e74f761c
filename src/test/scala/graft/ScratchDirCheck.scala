package graft

/** SparkEnvSpec's child-JVM entry: makes a scratch dir and a test temp
  * dir, writes a file into each, prints both dirs and exits, so the spec
  * can check that JVM exit deleted them.
  */
object ScratchDirCheck {
  def main(args: Array[String]): Unit = {
    Seq("SCRATCH" -> SparkEnv.scratchDir("graft-scratchcheck"),
      "TEMP" -> SparkTestBase.tempDir("graft-tempcheck")).foreach { case (kind, dir) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part-0"), "x")
      println(s"$kind|$dir")
    }
  }
}
