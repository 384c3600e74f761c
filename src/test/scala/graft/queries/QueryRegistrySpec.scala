package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: five family lists, each query declared once. A
  * `Seq` can repeat a name that `SparkEntry`'s `toMap` views would
  * silently drop, so uniqueness is checked on the lists themselves.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val families = Seq(
    "q" -> RelationalQueries.all,
    "t" -> TrainingDataQueries.all,
    "c" -> CrawlQueries.all,
    "g" -> GraphQueries.all,
    "emb" -> EmbeddingQueries.all)
  private val all = families.flatMap(_._2)

  test("query names are unique across the five family lists") {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: $dups")
    assert(graft.SparkEntry.queries.size == all.size)
  }

  test("295 queries, 196 of them with DuckDB oracle SQL") {
    assert(all.size == 295)
    assert(all.count(_.oracleSql.isDefined) == 196)
    assert(graft.SparkEntry.oracleSql.size == 196)
  }

  test("each name's prefix matches the family file that declares it") {
    families.foreach { case (prefix, qs) =>
      val wrong = qs.map(_.name).filterNot(_.matches(s"$prefix\\d+_.*"))
      assert(wrong.isEmpty, s"not $prefix* queries: $wrong")
    }
  }
}
