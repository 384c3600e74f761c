package graft

/** SparkEnvSpec's child-JVM entry: makes a scratch dir, writes a file into
  * it, prints the dir and exits, so the spec can check that JVM exit
  * deleted it.
  */
object ScratchDirCheck {
  def main(args: Array[String]): Unit = {
    val dir = SparkEnv.scratchDir("graft-scratchcheck")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part-0"), "x")
    println(s"SCRATCH|$dir")
  }
}
