package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The entry points `Verify` and `Bench` run — see SURVEY.md §7.
  *
  * The queries are declared once each, one file per family under
  * `graft.queries`: RelationalQueries (q*), TrainingDataQueries (t*),
  * CrawlQueries (c*), GraphQueries (g*) and EmbeddingQueries (emb*).
  * `queries` and `oracleSql` are views of those lists.
  */
object SparkEntry {

  /** Flagship: one full crawl-epoch schedule (E1) on synthetic seeds. */
  def entry(spark: SparkSession): DataFrame =
    CrawlQueries.crawlSchedule(spark, 2000)

  private val all: Seq[Query] =
    RelationalQueries.all ++ TrainingDataQueries.all ++ CrawlQueries.all ++
      GraphQueries.all ++ EmbeddingQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracleSql.map(q.name -> _)).toMap
}
