package graft.plans

/** ExtensionsSpec's child-JVM entry: proves GraftExtensions wires the scalar
  * surface into plain `spark.sql` through the public `spark.sql.extensions`
  * config alone (no ensureRegistered call anywhere on this path). Run in
  * its own JVM because extensions bind at session construction — an
  * existing test session cannot pick them up retroactively.
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-check")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val row = spark.sql(
      "SELECT canon_url('HTTP://News1.Example.COM:80/a/../b#f') AS c, " +
        "host_of('http://a.b.c:8080/x') AS h, " +
        "bpe_token_count('hello, extension world') AS t").head()
    println(s"EXTCHECK|${row.get(0)}|${row.get(1)}|${row.get(2)}")
    spark.stop()
  }
}
