package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** c35 — crawler shard assignment by rendezvous (highest-random-weight)
  * hashing (Thaler & Ravishankar, IEEE/ACM ToN 1998).
  *
  * Why the crawl needs it: politeness state, robots caches, and per-host
  * seen filters are all keyed by HOST, so a host must be owned by exactly
  * one crawler shard. The naive `hash(host) % S` reassigns ~(1 - 1/S) of
  * all hosts whenever the shard count changes — a fleet resize would
  * invalidate nearly every shard's warm state. Rendezvous hashing gives
  * each (host, shard) pair an independent score and assigns the host to
  * the argmin; when a shard is ADDED, a host moves only if the new shard
  * wins its argmin, so exactly ~1/(S+1) of hosts move and every move is
  * TO the new shard (no host ever moves between two old shards). That
  * minimal-movement guarantee is what makes live fleet resizes cheap at
  * 10^7-host scale.
  *
  * Scale shape: the argmin over shard ids folds INSIDE the host's own row
  * (one aggregate HOF over `sequence(0, S-1)`) — no explode, no
  * per-(host, shard) exchange; the only shuffle in the whole job is the
  * distinct() building the (tiny) host catalog. Scores are md5 (present
  * and bit-identical in both engines), so the assignment is
  * engine-reproducible and the DuckDB oracle is hash-exact.
  */
object ShardOps {

  /** Deterministic host catalog derived from the documents table (both
    * engines build the identical catalog with integer arithmetic).
    */
  def hostsOf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(concat(lit("host"),
        pmod(col("doc_id"), lit(997)).cast("string")).as("host"))
      .distinct()

  /** Rendezvous winner for one host over shards 0..nShards-1: argmin of
    * md5(host|shard), folded in-row ('~' sorts above every hex digit, so
    * it is a safe +inf sentinel for the running best).
    */
  def rendezvousShard(host: Column, nShards: Int): Column =
    aggregate(
      sequence(lit(0), lit(nShards - 1)),
      struct(lit("~").as("best"), lit(-1).as("shard")),
      (st, s) => {
        val sc = md5(concat_ws("|", host, s.cast("string")))
        when(sc < st.getField("best"),
          struct(sc.as("best"), s.cast("int").as("shard")))
          .otherwise(st)
      },
      st => st.getField("shard"))

  /** c35 — assignment at S and S+1 shards side by side, with the per-host
    * `moved` flag. The rendezvous guarantee (every moved host lands on
    * the NEW shard; ~1/(S+1) of hosts move) is asserted in ShardSpec.
    */
  def shardReport(spark: SparkSession, dir: String,
                  s1: Int = 8, s2: Int = 9): DataFrame =
    hostsOf(spark, dir)
      .select(col("host"),
        rendezvousShard(col("host"), s1).as("shard8"),
        rendezvousShard(col("host"), s2).as("shard9"))
      .withColumn("moved", (col("shard8") =!= col("shard9")).cast("int"))
      .orderBy("host")

  /** DuckDB mirror: identical catalog, identical md5 scores, argmin via
    * arg_min over an unnested shard series.
    */
  def shardOracleSql(s1: Int = 8, s2: Int = 9): String =
    s"""WITH hosts AS (
       |  SELECT DISTINCT 'host' || CAST(doc_id % 997 AS VARCHAR) AS host
       |  FROM documents
       |), s1 AS (
       |  SELECT host, arg_min(s, md5(host || '|' || CAST(s AS VARCHAR))) AS shard8
       |  FROM hosts, (SELECT unnest(generate_series(0, ${s1 - 1})) AS s)
       |  GROUP BY host
       |), s2 AS (
       |  SELECT host, arg_min(s, md5(host || '|' || CAST(s AS VARCHAR))) AS shard9
       |  FROM hosts, (SELECT unnest(generate_series(0, ${s2 - 1})) AS s)
       |  GROUP BY host
       |)
       |SELECT h.host, CAST(s1.shard8 AS INT) AS shard8,
       |       CAST(s2.shard9 AS INT) AS shard9,
       |       CAST(CASE WHEN s1.shard8 <> s2.shard9 THEN 1 ELSE 0 END AS INT) AS moved
       |FROM hosts h JOIN s1 ON h.host = s1.host JOIN s2 ON h.host = s2.host
       |ORDER BY h.host""".stripMargin
}
