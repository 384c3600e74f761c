package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared bench query: its name, its Spark implementation over a
  * testdata dir, and, for the DuckDB-oracled ones, the SQL whose DuckDB
  * result must equal it. The name's prefix (q/t/c/g/emb) names the family
  * file that declares it.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: Option[String] = None)
