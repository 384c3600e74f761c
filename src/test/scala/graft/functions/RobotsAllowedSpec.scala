package graft.functions

import graft.SparkEnv
import graft.SparkTestBase.spark
import graft.model.RobotsRule
import graft.operators.{FrontierJob, RobotsDiffOps}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The longest-prefix robots verdict as Spark's filter + aggregate
  * higher-order functions: the form `robots_allowed` replaced, kept as
  * the reference for its three-valued answers.
  */
object RobotsHofReference {
  def allowedCol(rules: Column, path: Column): Column = {
    val matched = filter(rules, r => startswith(path, r.getField("prefix")))
    val best = aggregate(
      matched,
      struct(lit(-1).as("len"), lit(true).as("allow")),
      (acc, r) =>
        when(length(r.getField("prefix")) > acc.getField("len"),
          struct(length(r.getField("prefix")).as("len"), r.getField("allow").as("allow")))
          .otherwise(acc))
    best.getField("allow")
  }
}

class RobotsAllowedSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("rules", ArrayType(StructType(Seq(
      StructField("allow", BooleanType), StructField("prefix", StringType))))),
    StructField("path", StringType)))

  /** Seeded rows covering null rules, null elements, null prefixes, null
    * allows, null paths, empty prefixes, equal-length ties and non-ASCII
    * prefixes (whose byte and code-point lengths differ).
    */
  private def drawn(n: Int, seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val prefixes = Seq("", "/", "/a", "/b", "/a/", "/ab", "/a/b", "/é", "/ab/", "/例",
      "/例え", "/ü/x", "/A", "/a/b/c", null)
    val paths = Seq(null, "", "/", "/a", "/a/b", "/a/b/c/d", "/ab", "/ab/x", "/b/x",
      "/é/x", "/例え/x", "/ü/x", "/A/b", "/e")
    val allows = Seq[java.lang.Boolean](true, false, null)
    (0 until n).map { i =>
      val rules =
        if (rnd.nextInt(10) == 0) null
        else (0 until rnd.nextInt(6)).map { _ =>
          if (rnd.nextInt(8) == 0) null
          else Row(allows(rnd.nextInt(allows.size)), prefixes(rnd.nextInt(prefixes.size)))
        }
      Row(i, rules, paths(rnd.nextInt(paths.size)))
    }
  }

  private def pinned: Seq[Row] = Seq(
    Row(0, null, "/a"), // null rules -> null
    Row(1, Seq(Row(false, "/")), null), // null path matches nothing -> true
    Row(2, Seq(null, Row(false, null), Row(true, "/a")), "/a/b"), // nulls skipped
    Row(3, Seq(Row(false, "/a"), Row(true, "/b")), "/a/x"), // plain longest match
    Row(4, Seq(Row(false, "/ab"), Row(true, "/ab")), "/ab"), // equal tie: first wins
    Row(5, Seq(Row(true, "/a"), Row(null, "/a/b")), "/a/b/c"), // null allow wins -> null
    Row(6, Seq(Row(false, ""), Row(true, "/")), "/x"), // empty prefix matches all
    Row(7, Seq(Row(false, "/例え"), Row(true, "/abcd")), "/例え/x"), // 3 chars, 7 bytes
    Row(8, Seq(Row(true, "/例"), Row(false, "/例え")), "/例え/x"), // longer non-ASCII match
    Row(9, Seq.empty[Row], "/x")) // no rules -> true

  /** (id, robots_allowed, reference) with Option for SQL null. */
  private def verdicts(rows: Seq[Row]): Seq[(Int, Option[Boolean], Option[Boolean])] = {
    GraftFunctions.ensureRegistered(spark)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .select(col("id"),
        FrontierJob.robotsAllowedCol(col("rules"), col("path")),
        RobotsHofReference.allowedCol(col("rules"), col("path")))
      .collect().toSeq
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Boolean]),
        Option(r.get(2)).map(_.asInstanceOf[Boolean])))
  }

  private def assertSame(got: Seq[(Int, Option[Boolean], Option[Boolean])]): Unit =
    got.foreach { case (id, mine, ref) =>
      assert(mine == ref, s"row $id: robots_allowed=$mine, reference=$ref")
    }

  test("robots_allowed == the higher-order reference: pinned null, tie and non-ASCII cases") {
    val got = verdicts(pinned).sortBy(_._1)
    assertSame(got)
    assert(got.map(_._2) == Seq(None, Some(true), Some(true), Some(false), Some(false),
      None, Some(true), Some(false), Some(false), Some(true)))
  }

  test("robots_allowed == the higher-order reference on a seeded fuzz, codegen and interpreted") {
    val rows = drawn(5000, 20261019L)
    val compiled = verdicts(rows)
    assertSame(compiled)
    Seq(None, Some(true), Some(false)).foreach { v =>
      assert(compiled.exists(_._3 == v), s"no reference verdict $v drawn")
    }
    val interpreted = SparkEnv.withConf(spark,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(verdicts(rows))
    assertSame(interpreted)
    assert(interpreted.sortBy(_._1) == compiled.sortBy(_._1))
  }

  test("a robots verdict resolves in a fresh session with no graft functions registered") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("robots_allowed"))
    import fresh.implicits._
    val oldR = Seq(("h", Seq(RobotsRule(allow = false, prefix = "/x")))).toDF("host", "rules")
    val newR = Seq(("h", Seq.empty[RobotsRule])).toDF("host", "rules")
    val held = Seq((1L, "h", "/x/1"), (2L, "h", "/y")).toDF("url_hash", "host", "path")
    val reenqueued = RobotsDiffOps.newlyAllowed(held, oldR, newR)
      .collect().map(_.getLong(0)).toSeq
    assert(reenqueued == Seq(1L))
  }
}
