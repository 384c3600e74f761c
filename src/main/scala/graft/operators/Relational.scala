package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Generic relational operator breadth over the driver testdata (SURVEY.md
  * §2.3-2.8, §5.1/§5.5): each method here is paired with ANSI SQL in
  * `SparkEntry.oracleSql` and gated by the driver's DuckDB compare.
  *
  * Conventions for oracle parity (the compare hashes values under sorted
  * column names): every computed column is aliased identically on both
  * sides; doubles are round()ed; timestamps leave the result only as
  * formatted strings; ties in every window/top-k are broken by a unique key
  * column so ordering is deterministic at any parallelism.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Q1-style pricing summary: scan -> filter -> hash agg (partial+final). */
  def aggPricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_discount"), 2).as("sum_disc"),
        count(lit(1)).as("n"))

  /** Broadcast-join star arm: orders x customer x nation (dims broadcast). */
  def joinBroadcastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))

  /** Left-anti join (NOT EXISTS): customers without orders. */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")

  /** Left-semi join (EXISTS): brands having shipped lineitems. */
  def semiJoinParts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .join(t(spark, dir, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"), round(sum("p_retailprice"), 2).as("sum_price"))

  /** Ranking window: top-3 orders per customer (tie-broken by orderkey). */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rn").cast("long").as("rn"))
  }

  /** Analytic lag window: inter-event gap per user in milliseconds. */
  def windowEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .select(col("event_id"), col("user_id"),
        coalesce(unix_millis(col("ts").cast("timestamp")) - unix_millis(col("prev_ts").cast("timestamp")), lit(-1L))
          .as("gap_ms"))
  }

  /** Global top-K: TakeOrderedAndProject, no full sort. */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))

  /** Rollup cube over order status x priority. */
  def rollupOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))

  /** Set operation: nations with customers but no suppliers. */
  def setOpsNations(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(spark, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  /** JSON extraction over events.props. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("value"), 4).as("avg_value"))

  /** Array (higher-order) functions over embeddings. */
  def arrayStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .withColumn("dims", size(col("embedding")).cast("long"))
      .withColumn("norm2",
        round(
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")),
          4))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), max("dims").as("dims"),
        round(avg("norm2"), 4).as("avg_norm2"))

  /** Exact dedup by content hash (training-data pipeline op #1). */
  def dedupExactDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Equi-join + range predicate: items shipped within 30 days of order. */
  def rangeShipLag(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))

  /** Multi-way star join: region-level revenue. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))

  /** Exact + approximate distinct counts. */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** Tumbling time window (1 h) over the events stream table. */
  def timeWindowEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))

  /** UNION (distinct) + INTERSECT in one tagged result — single-pass form:
    * one side-tagged union, ONE shuffle (groupBy key), membership flags,
    * and the two result tags exploded from the same aggregated row. The
    * naive `c.union(s).distinct ∪ c.intersect(s)` costs 4 file scans + 3
    * exchanges because Catalyst does not CSE the repeated subtrees; this
    * plan reads each table once (PlanSpec-pinned) and is golden-equal to
    * the set-operator form below.
    */
  def setOpsUnionIntersect(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val s = t(spark, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.withColumn("side", lit(0)).unionByName(s.withColumn("side", lit(1)))
      .groupBy("nationkey")
      .agg(max(when(col("side") === 0, 1).otherwise(0)).as("in_c"),
        max(when(col("side") === 1, 1).otherwise(0)).as("in_s"))
      .select(
        explode(when(col("in_c") === 1 && col("in_s") === 1,
            array(lit("any"), lit("both")))
          .otherwise(array(lit("any")))).as("tag"),
        col("nationkey"))
  }

  /** The same query via the union/distinct/intersect OPERATORS (U1/U3
    * coverage) — kept as the semantics reference; golden-tested equal to
    * the single-pass plan above.
    */
  def setOpsUnionIntersectViaOps(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val s = t(spark, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.union(s).distinct().select(lit("any").as("tag"), col("nationkey"))
      .unionByName(c.intersect(s).select(lit("both").as("tag"), col("nationkey")))
  }

  /** Non-equi theta join (BroadcastNestedLoopJoin): nation x region pairs
    * with differing regionkey.
    */
  def thetaJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") =!= col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_pairs"))

  /** Full CUBE over two dims (grouping-sets breadth beyond q08's rollup). */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))

  /** GROUPING SETS with a shape neither ROLLUP nor CUBE can express:
    * two independent single-column groupings, no pair level and no grand
    * total (q56) — Spark 4's Dataset.groupingSets API, one Expand +
    * one aggregate exchange like any multi-group plan.
    */
  def groupingSetsOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))

  /** Edit-distance scalar (the caption-diff magnitude function of the
    * revision engine) under the SQL oracle via documents text slices.
    */
  def levenshteinDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        levenshtein(substring(col("text"), 1, 30), substring(col("text"), 11, 30))
          .cast("long").as("lev_shift"),
        levenshtein(col("lang"), col("source")).cast("long").as("lev_meta"))

  /** Exact discrete percentiles per group (median etc.). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"), 2).as("p50"),
        round(expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"), 2).as("p90"),
        count(lit(1)).as("n"))

  /** Window-function breadth: lead, first_value, ntile over a frame. */
  def windowMisc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        coalesce(lead("event_id", 1).over(w), lit(-1L)).as("next_event"),
        first("event_id").over(w).as("first_event"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  /** RANGE-frame window (W4 frame breadth): per-user trailing 10-minute
    * moving event count/sum over EVENT TIME — a range frame ranges over the
    * ORDER BY value, not row positions, so simultaneous/late rows inside
    * the horizon are included however many there are (the politeness
    * rate-limit analog: "requests to this host in the last N seconds").
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"))
      .rangeBetween(-600000L, Window.currentRow)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_10min"),
        round(sum(col("value")).over(w), 2).as("sum_10min"))
  }

  /** Scalar subquery through the SQL front-end (Catalyst rewrites it to a
    * broadcast of the single-row aggregate — no per-row re-evaluation):
    * orders above a threshold derived from another table. The threshold
    * compares two parquet doubles (max is order-insensitive), so the
    * predicate is bit-deterministic across engines — no avg()-style
    * float-summation boundary.
    */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_v")
    t(spark, dir, "supplier").createOrReplaceTempView("graft_supplier_v")
    spark.sql(
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM graft_orders_v
        |WHERE o_totalprice > (SELECT max(s_acctbal) FROM graft_supplier_v) * 20
        |""".stripMargin)
  }

  /** q40 — CORRELATED EXISTS + NOT EXISTS in one query (the subquery
    * family q30's uncorrelated scalar form doesn't touch): customers
    * holding a big order but no 'F'-status order. Catalyst rewrites the
    * correlated predicates to a left-semi + left-anti join pair
    * (RewritePredicateSubquery) — the declarative form plans exactly like
    * the hand-built J1/J5 joins, which is the point being exercised.
    */
  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("graft_customer_v")
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_v40")
    spark.sql(
      """SELECT c_custkey, c_name
        |FROM graft_customer_v c
        |WHERE EXISTS (SELECT 1 FROM graft_orders_v40 o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders_v40 o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey
        |""".stripMargin)
  }

  /** q42 — CORRELATED SCALAR subquery in the SELECT list (the last
    * member of the subquery family: q30 = uncorrelated scalar, q40 =
    * correlated EXISTS): each customer's max single-order price.
    * Catalyst's RewriteCorrelatedScalarSubquery turns it into a LEFT
    * OUTER join against the pre-aggregated subquery — the declarative
    * form plans like the hand-built J4/A5 combination.
    */
  def correlatedScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("graft_customer_v42")
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_v42")
    spark.sql(
      """SELECT c_custkey,
        |  round(coalesce((SELECT max(o.o_totalprice) FROM graft_orders_v42 o
        |                  WHERE o.o_custkey = c.c_custkey), 0.0), 2) AS max_order
        |FROM graft_customer_v42 c
        |ORDER BY c_custkey
        |""".stripMargin)
  }

  /** q43 — EXCEPT ALL / INTERSECT ALL: the BAG-semantics set ops (q09/
    * q19 cover the distinct forms). Bag difference keeps surplus
    * multiplicity — the semantics dedupe ledgers need ("orders minus the
    * finished ones, counted").
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val all = t(spark, dir, "orders").select("o_custkey")
    val fin = t(spark, dir, "orders")
      .where(col("o_orderstatus") === "F").select("o_custkey")
    all.exceptAll(fin).select(lit("except_all").as("op"), col("o_custkey"))
      .unionByName(all.intersectAll(fin)
        .select(lit("intersect_all").as("op"), col("o_custkey")))
      .orderBy("op", "o_custkey")
  }

  /** q44 — bitwise aggregates (bit_and / bit_or / bit_xor): the flag-mask
    * folds (capability intersection, any-seen union, parity) that bitmap
    * sidecars reduce to.
    */
  def bitwiseAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("bit_and(CAST(l_linenumber AS BIGINT))").as("mask_and"),
        expr("bit_or(CAST(l_linenumber AS BIGINT))").as("mask_or"),
        expr("bit_xor(CAST(l_linenumber AS BIGINT))").as("mask_xor"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Date/time scalar breadth: year, month, dayofweek-ish, datediff. */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_eoy"),
        date_format(col("o_orderdate") + expr("INTERVAL 90 DAYS"), "yyyy-MM-dd")
          .as("plus90"))

  /** String scalar breadth: case, substring, concat, pad, regexp_extract. */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_up"),
        substring(col("c_name"), 1, 8).as("name8"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        length(col("c_name")).cast("long").as("name_len"))

  /** HLL approximate distinct (A2's second half — the monitoring-path
    * counter). Spark's HLL++ and DuckDB's HLL give different point
    * estimates, so the ORACLE-STABLE output is the exact count plus the
    * engine-independent assertion that the approximation lands within the
    * configured error envelope (10% >> default rsd 5%) — both engines emit
    * (n_exact, true) iff their own sketch behaves.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("n_exact"),
        (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
          <= countDistinct(col("l_partkey")) * lit(0.1)).as("approx_ok"))

  /** from_json with a DECLARED schema (§2.8 map/json second half): parse
    * events.props into a typed struct, then aggregate on the parsed field.
    */
  def jsonStruct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k"))
      .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"))

  /** SESSION windows (the gap-based window family tumbling/range frames
    * cannot express): per-user event sessions that close after `gapMin`
    * minutes of silence — Spark's session_window (dynamic merge; the
    * streaming politeness state's batch twin). Boundary semantics: an
    * event exactly `gap` after the previous one starts a NEW session
    * (session windows are half-open [start, last+gap)); the oracle's
    * gaps-and-islands form uses >= to match. session end = last event +
    * gap, by definition on both sides.
    */
  def sessionWindows(spark: SparkSession, dir: String, gapMin: Int = 10): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMin minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("total"))

  /** Explicit GROUPING SETS beyond q08's rollup / q21's cube (A6 breadth):
    * the caller-chosen set list ((status, priority), (status), ()) through
    * the SQL front-end — DuckDB shares the syntax verbatim.
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_gs_v")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice), 2) AS total
        |FROM graft_orders_gs_v
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |""".stripMargin)
  }

  /** Window DISTRIBUTION functions (W4 breadth): percent_rank / cume_dist /
    * nth_value. Values are emitted UNROUNDED — (rank-1)/(n-1) and
    * rank_ties/n are single IEEE divisions of integers, bit-identical
    * across engines, and the driver's 9dp normalization does the rest
    * (rounding here could only ADD a boundary).
    */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").asc, col("event_id").asc)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        coalesce(nth_value(col("event_id"), 3).over(w), lit(-1L)).as("third_event"))
  }

  /** Conditional aggregation (A1 breadth): FILTER-style counts and CASE
    * sums in one grouped pass — the "count only the interesting rows
    * without a second scan" shape every metrics rollup uses.
    */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(when(col("l_discount") > 0.05, 1)).as("n_disc"),
        round(sum(when(col("l_quantity") > 25, col("l_extendedprice"))
          .otherwise(lit(0.0))), 2).as("px_bulk"),
        count(lit(1)).as("n"))

  /** Deterministic ordered string aggregation (A-family breadth): per-group
    * concat in an EXPLICIT sort order — sort_array(collect_list) fixes the
    * nondeterministic arrival order a bare collect_list would leak into
    * the output (DuckDB: string_agg ... ORDER BY). Input bounded so group
    * strings stay small.
    */
  def stringAggNations(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .where(col("c_custkey") <= 200)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("c_name")))).as("names"),
        count(lit(1)).as("n"))

  /** UNPIVOT via stack() (U-family breadth): wide per-group measures to
    * (measure, val) rows — the Spark-native unpivot operator; the oracle
    * expresses the same reshape as a UNION ALL.
    */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_discount"), 2).as("sum_disc"))
      .select(col("l_returnflag"),
        expr("stack(3, 'qty', sum_qty, 'price', sum_price, 'disc', sum_disc) AS (measure, val)"))

  /** Epoch-over-epoch snapshot reconciliation (q37): the one join family
    * the inventory lacked — FULL OUTER. Two deterministic epoch views of
    * the corpus (old crawl misses doc_id%10==0, new crawl misses %7==0,
    * every %5==0 doc was revised between them) are joined on the stable
    * key and every key classified new / gone / revised / unchanged — the
    * crawl-bookkeeping pass that semi/anti/inner joins (q03/q04/q14) each
    * express only one arm of.
    *
    * Scale: both sides are projected to (key, md5) BEFORE the join — 40-ish
    * bytes/row on the exchange, payload text never ships; the equi-key
    * full outer plans as a sort-merge join co-partitioned on doc_id.
    */
  def reconcileEpochs(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val prev = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("a_id"), md5(col("text")).as("a_hash"))
    val cur = docs.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("b_id"),
        md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit("[rev]")))
          .otherwise(col("text"))).as("b_hash"))
    prev.join(cur, col("a_id") === col("b_id"), "full_outer")
      .select(
        coalesce(col("a_id"), col("b_id")).as("doc_id"),
        when(col("a_id").isNull, "new")
          .when(col("b_id").isNull, "gone")
          .when(col("a_hash") =!= col("b_hash"), "revised")
          .otherwise("unchanged").as("change"))
  }

  /** PIVOT (q38): long-to-wide reshape with an explicit value list — the
    * inverse of q35's unpivot. Pinning the pivot values (`Seq("F","O",
    * "P")`) keeps the plan a single partial+final hash aggregate; an
    * unpinned pivot needs an extra distinct-values job first, which at
    * 10^10 rows is a full extra pass just to learn the column list.
    */
  def pivotStatusRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .select(col("o_orderpriority"), col("F").as("rev_f"),
        col("O").as("rev_o"), col("P").as("rev_p"))

  /** Politeness-scheduler operator shape under the SQL oracle: per-key
    * ranked slots with budget cap + slot arithmetic (mirrors FrontierJob
    * W1/W2 on a relational input so DuckDB can check it).
    */
  def politenessAnalog(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("user_id"), col("event_id"),
        (col("rn") - 1).cast("long").as("slot"),
        (lit(1704067200000L) + (col("rn") - 1) * lit(200L)).as("scheduled_at_ms"))
  }

  /** q45 — LATERAL correlated subquery in FROM (SPARK-34382; DuckDB
    * implements the same ANSI construct): per-nation top-2 customers by
    * account balance — the "top-k per outer row" idiom. Unlike the
    * window-function form (q05), the lateral form lets the inner query
    * see the outer row directly; Catalyst decorrelates it into a
    * LateralJoin and pushes the per-group limit below the join.
    */
  def lateralJoin(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("graft_nation_v45")
    t(spark, dir, "customer").createOrReplaceTempView("graft_customer_v45")
    spark.sql(
      """SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        |FROM graft_nation_v45 n,
        |LATERAL (SELECT c_name, c_acctbal FROM graft_customer_v45
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, acctbal DESC, c.c_name
        |""".stripMargin)
  }

  /** q48 — RECURSIVE CTE multi-hop reachability (SPARK-24497, new in
    * Spark 4.x — the iteration-in-SQL family none of q01..q47 touches):
    * BFS minimum hop distance from a seed host over a deterministic
    * 2-out-degree link graph, the declarative form of "crawl to depth d
    * from this seed" (the driver loop DedupResolve/GraphOps run by hand
    * is here a single UnionLoop plan). Edges derive from the nation table
    * by formula (dst = (src*7+3)%25 and (src*3+11)%25) so the expansion
    * is bounded (out-degree 2, depth < 7 => <= 255 path rows) on any
    * engine despite cycles; the final aggregate collapses paths to
    * min-hop per reached node. DuckDB runs the identical ANSI text.
    */
  def recursiveReachability(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("graft_nation_v48")
    spark.sql(
      """WITH RECURSIVE hops(node, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), h.depth + 1
        |  FROM hops h
        |  JOIN (
        |    SELECT n_nationkey AS src, (n_nationkey * 7 + 3) % 25 AS dst
        |    FROM graft_nation_v48
        |    UNION ALL
        |    SELECT n_nationkey AS src, (n_nationkey * 3 + 11) % 25 AS dst
        |    FROM graft_nation_v48
        |  ) e ON e.src = h.node
        |  WHERE h.depth < 7
        |)
        |SELECT h.node AS n_nationkey, n.n_name,
        |       CAST(MIN(h.depth) AS INT) AS min_hops
        |FROM hops h
        |JOIN graft_nation_v48 n ON n.n_nationkey = h.node
        |GROUP BY h.node, n.n_name
        |""".stripMargin)
  }

  /** q46 — IGNORE NULLS window functions (the W-family's last gap:
    * q06/q24/q29 use the null-respecting forms): carry-forward of the
    * last non-null observation plus nearest non-null neighbors — the
    * gap-filling idiom for sparse measurements (here: 'click' events
    * carry no value). Same windows, different null handling; Spark's
    * last/lag/lead all take an ignoreNulls flag, DuckDB spells it
    * `IGNORE NULLS` inline.
    */
  def ignoreNullsWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    t(spark, dir, "events")
      .withColumn("x", when(col("event_type") === "click",
        lit(null).cast("double")).otherwise(round(col("value"), 2)))
      .select(col("event_id").cast("long").as("event_id"),
        last(col("x"), ignoreNulls = true).over(frame).as("carry_fwd"),
        lag(col("x"), 1, null, true).over(w).as("prev_nn"),
        lead(col("x"), 1, null, true).over(w).as("next_nn"))
      .orderBy("event_id")
  }

  /** q47 — NULL-AWARE anti join: `NOT IN` over a subquery is only an
    * anti join when the key set is null-free; ONE null in the set makes
    * the predicate UNKNOWN for every non-matching row (ANSI tri-state),
    * so the result is EMPTY. Spark plans the nullable branch as a
    * null-aware anti join (BroadcastNestedLoopJoin + NAAJ); an engine
    * that lowered it to a plain anti join would return rows here and
    * fail the gate. Both branches in one query: the null-free branch
    * behaves as q03's anti join, the planted-null branch contributes
    * zero rows.
    */
  def notInNullAware(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("graft_customer_v47")
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_v47")
    spark.sql(
      """SELECT 'no_null' AS op, c_custkey FROM graft_customer_v47
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM graft_orders_v47 WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'with_null' AS op, c_custkey FROM graft_customer_v47
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
        |   FROM graft_orders_v47)
        |ORDER BY op, c_custkey
        |""".stripMargin)
  }

  /** q41 — MapType breadth (§2.8's transient-map claim exercised for
    * real): per-customer status->count map built with map_from_entries
    * over a sorted entry list (sorted so the map's internal order is
    * deterministic), then read back through map_keys / element_at /
    * map_values + aggregate. The oracle computes the same SCALARS
    * relationally — maps never cross the comparator (map column order
    * is engine-internal, scalars are not).
    */
  def mapFunctions(spark: SparkSession, dir: String): DataFrame = {
    val byStatus = t(spark, dir, "orders")
      .groupBy("o_custkey", "o_orderstatus").agg(count(lit(1)).as("n"))
    byStatus.groupBy("o_custkey")
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("o_orderstatus"), col("n"))))).as("status_map"))
      .select(col("o_custkey"),
        size(map_keys(col("status_map"))).cast("long").as("n_statuses"),
        coalesce(element_at(col("status_map"), "F"), lit(0L)).as("n_f"),
        coalesce(element_at(col("status_map"), "O"), lit(0L)).as("n_o"),
        aggregate(map_values(col("status_map")), lit(0L), (a, x) => a + x)
          .as("n_total"))
      .orderBy("o_custkey")
  }

  /** q51 — statistical / linear-regression aggregates (the "does caption
    * length track image size" family of corpus diagnostics): corr, both
    * covariance forms, and the regr_* fit per group, all in one hash-agg
    * pass (Spark fuses the shared moment sums; one exchange on the group
    * key). Doubles rounded 4dp on both sides — Spark and DuckDB use
    * different update orders, agreeing to ~1e-12 relative.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covs_qp"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("covp_qp"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope_pq"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept_pq"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2_pq"),
        round(var_samp(col("l_discount")), 4).as("var_disc"),
        round(stddev_pop(col("l_tax")), 4).as("sdp_tax"),
        count(lit(1)).as("n"))

  /** q52 — fixed-width histogram via `width_bucket` (the latency/size
    * distribution primitive behind the pacing histograms, here in the
    * HARD oracle gate): bucket ids are computed per row (codegen'd, no
    * shuffle) and counted in one hash agg. DuckDB has no width_bucket;
    * the oracle spells out the same double arithmetic
    * (floor(n*(v-lo)/(hi-lo))+1, clamped to 0 / n+1 outside [lo,hi)).
    */
  def histogramBuckets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(width_bucket(col("l_extendedprice"),
        lit(900.0), lit(105000.0), lit(16)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))

  /** q53 — mirror-host detection (the crawl-side dual of DUST path-rule
    * mining: hosts serving the SAME content under different names —
    * www/non-www, CDN aliases, literal mirrors). Kernel: distinct
    * (host, content_hash) -> inverted index on the hash, df-capped so a
    * boilerplate page shared by every host can't quadratically explode
    * the self-join -> host-pair overlap counts -> flag pairs whose
    * overlap covers >=90% of the smaller host's distinct content.
    * Exchanges carry (host, 16-byte md5) only — page bodies never
    * shuffle. Demo input: documents.source as host, with planted mirror
    * hosts serving every third page (DuckDB-expressible construction).
    */
  def mirrorHosts(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents")
      .select(col("source").as("host"), md5(col("text")).as("ch"))
    val mirrors = t(spark, dir, "documents")
      .where(pmod(col("doc_id"), lit(3)) === 0)
      .select(concat(col("source"), lit("-m")).as("host"), md5(col("text")).as("ch"))
    val idx0 = base.unionByName(mirrors).distinct()
    val hot = idx0.groupBy("ch").agg(count(lit(1)).as("df"))
      .where(col("df") > 32).select("ch")
    val idx = idx0.join(hot, Seq("ch"), "left_anti")
    val sizes = idx.groupBy("host").agg(count(lit(1)).as("sz"))
    val pairs = idx.as("a")
      .join(idx.as("b"), col("a.ch") === col("b.ch") && col("a.host") < col("b.host"))
      .groupBy(col("a.host").as("host_a"), col("b.host").as("host_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(sizes.select(col("host").as("host_a"), col("sz").as("sz_a")), "host_a")
      .join(sizes.select(col("host").as("host_b"), col("sz").as("sz_b")), "host_b")
      .where(col("n_inter") * 10 >= least(col("sz_a"), col("sz_b")) * 9)
      .select("host_a", "host_b", "n_inter", "sz_a", "sz_b")
      .orderBy("host_a", "host_b")
  }

  /** q54 — semi-structured props through Spark 4's VARIANT type:
    * parse_json -> binary variant -> typed variant_get, the parse-once
    * path that replaces q10's per-access string parsing (GetJsonObject
    * re-tokenizes the JSON text on every extraction; a variant column is
    * parsed once — at 100 TB you store the variant and every downstream
    * extraction is a binary field lookup). DuckDB has no VARIANT; the
    * oracle extracts the same typed value via its JSON path functions —
    * the VALUES must agree even though the engines' representations
    * differ.
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").cast("long").as("sum_k"),
        min("k").cast("long").as("min_k"),
        max("k").cast("long").as("max_k"))

  /** q50 — generic AS-OF join (J4's snapshot form generalized to any
    * event stream, in the HARD oracle gate against DuckDB's native ASOF
    * JOIN): each purchase matches the LATEST signup of the same user with
    * signup.ts <= purchase.ts. Spark has no native as-of operator; the
    * scalable shape is tag-union + one running last(ignoreNulls) window —
    * ONE exchange on the key, no range-join row explosion, no per-row
    * subquery. Right rows are pre-deduped to one per (user, ts) (max
    * event_id) so the match is deterministic in both engines; equal
    * timestamps match (side 0 sorts before side 1 == ASOF's >=); the gap
    * is exact BIGINT microseconds (ts is stored at us precision — second-
    * level date_diff would count boundary crossings, not elapsed time).
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val su = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("signup_event"))
    val pu = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val tagged = su
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("signup_event"), lit(null).cast("long").as("event_id"))
      .unionByName(pu.select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("signup_event"), col("event_id")))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("matched_signup", last(col("signup_event"), ignoreNulls = true).over(w))
      .withColumn("matched_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("event_id").cast("long").as("purchase_event"),
        col("user_id").cast("long").as("user_id"),
        col("matched_signup").cast("long").as("signup_event"),
        (unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("matched_ts").cast("timestamp"))).as("gap_us"))
      .orderBy("purchase_event")
  }

  /** q58 — gaps-and-islands: collapse each user's consecutive ACTIVE DAYS
    * per event type into [start, end] islands (the classic streak /
    * retention-run analysis; also the shape of crawl-side "contiguous
    * epochs a host was reachable"). The standard row_number trick: day
    * minus rank is constant within a run, so islands fall out of one
    * distinct + one window + one groupBy — three key-partitioned
    * exchanges, no self-join (the naive LEFT JOIN day-1 form is quadratic
    * on skewed users and can't map-side-combine).
    */
  def activityIslands(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("dy"))
      .distinct()
    val w = Window.partitionBy("user_id", "event_type").orderBy("dy")
    days
      .withColumn("grp", date_sub(col("dy"), row_number().over(w)))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(min("dy").as("start_day"), max("dy").as("end_day"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("event_type"),
        date_format(col("start_day"), "yyyy-MM-dd").as("start_day"),
        date_format(col("end_day"), "yyyy-MM-dd").as("end_day"),
        col("n_days"))
      .orderBy("user_id", "event_type", "start_day")
  }

  /** q60 — SCD2 (type-2 slowly-changing dimension) build from a change
    * log: per customer, collapse the o_orderstatus sequence (ordered by
    * order date, then key) into validity intervals [valid_from, valid_to)
    * with a version number and an is_current flag. The warehouse-standard
    * shape: lag() marks change rows, lead() on the filtered change rows
    * closes each interval — two windows over ONE (custkey) partitioning
    * that Catalyst plans as a single exchange reused by both sorts; no
    * self-join, no gaps-and-islands groupBy needed because SCD2 keeps one
    * row per run already. At 100 TB the change log shuffles once on the
    * dimension key and every downstream op is per-key local. Open
    * intervals render as '9999-12-31' (the usual SCD2 sentinel) so the
    * oracle hash has no NULL-ordering dependence.
    */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev_status", lag("o_orderstatus", 1).over(w))
      .where(col("prev_status").isNull ||
        col("prev_status") =!= col("o_orderstatus"))
    val wc = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    changes
      .withColumn("version", row_number().over(wc))
      .withColumn("next_from", lead(col("o_orderdate"), 1).over(wc))
      .select(col("o_custkey").as("cust_id"),
        col("o_orderstatus").as("status"),
        col("version").cast("int").as("version"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("next_from"), "yyyy-MM-dd"),
          lit("9999-12-31")).as("valid_to"),
        when(col("next_from").isNull, lit(1)).otherwise(lit(0))
          .cast("int").as("is_current"))
      .orderBy("cust_id", "version")
  }

  /** q61 — ordered 3-stage FUNNEL (view -> click -> purchase): per user,
    * the earliest view, the earliest click strictly after it, the earliest
    * purchase strictly after that. The scalable shape is three min-filter
    * aggregations chained by user-key equi-joins — each agg map-side
    * combines the event stream down to one row per user before its
    * exchange, and the joins are on the same user key so AQE reuses the
    * partitioning; no per-user event collection, no windows over the raw
    * stream. Times render as unix microseconds (BIGINT, -1 when the stage
    * was never reached) so both engines hash identical integers.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t_view_us"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("us") > col("t_view_us"))
      .groupBy("user_id").agg(min("us").as("t_click_us"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("us") > col("t_click_us"))
      .groupBy("user_id").agg(min("us").as("t_purchase_us"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        (lit(1) + when(col("t_click_us").isNotNull, 1).otherwise(0) +
          when(col("t_purchase_us").isNotNull, 1).otherwise(0))
          .cast("int").as("stage_reached"),
        col("t_view_us"),
        coalesce(col("t_click_us"), lit(-1L)).as("t_click_us"),
        coalesce(col("t_purchase_us"), lit(-1L)).as("t_purchase_us"))
      .orderBy("user_id")
  }

  /** q62 — retention COHORT matrix: cohort = each user's first active day,
    * cell = distinct users from that cohort active day_offset days later.
    * One distinct over (user, day), one min-agg for the cohort day, one
    * user-key join, one (cohort, offset) count — every exchange is on a
    * key the data is already compressed on (O(users x active-days) rows,
    * never the raw event count). The day-granularity cohort avoids any
    * week-truncation convention mismatch between engines.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("dy")).distinct()
    val cohort = days.groupBy("user_id").agg(min("dy").as("cohort_day"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort_day"), datediff(col("dy"), col("cohort_day"))
        .cast("long").as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q63 — market-basket CO-OCCURRENCE mining (parts bought together; the
    * crawl-side analog is "hosts co-linked from the same page"): pair
    * counts via a basket-keyed self-join. The shape is scale-safe because
    * the join key is the BASKET id — per-key work is quadratic only in
    * basket size (bounded small), the pair count map-side-combines, and
    * nothing ever builds the global item x item matrix; the distinct()
    * first collapses repeat lines so support counts orders, not lines.
    */
  def coOccurrencePairs(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    d.as("a").join(d.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .where(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
  }

  /** q64 — MAX CONCURRENCY per event type via the sweep-line (+1/-1)
    * trick (the "max simultaneous fetches per host" / peak-sessions
    * shape): synthesize a deterministic duration per event, union start
    * (+1) and end (-1) points, running-sum over ONE (type)-partitioned
    * order, then max + earliest attaining instant. Half-open intervals:
    * ends sort before starts at the same instant (delta asc), so a
    * back-to-back pair never counts as 2. No interval self-join — the
    * naive overlap join is quadratic on hot types; the sweep is one
    * exchange + one sort.
    */
  def maxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val iv = t(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("s"))
      .withColumn("e", col("s") + pmod(col("event_id"), lit(3600)) * 1000000L)
    val pts = iv.select(col("event_type"), col("s").as("t"),
        lit(1).as("delta"), col("event_id"))
      .unionByName(iv.select(col("event_type"), col("e").as("t"),
        lit(-1).as("delta"), col("event_id")))
    val w = Window.partitionBy("event_type")
      .orderBy(col("t"), col("delta"), col("event_id"))
    val conc = pts.withColumn("conc", sum("delta").over(w))
    val wMax = Window.partitionBy("event_type")
    conc.withColumn("max_conc", max("conc").over(wMax))
      .where(col("conc") === col("max_conc"))
      .groupBy("event_type")
      .agg(max("conc").cast("long").as("max_concurrent"),
        min("t").as("first_at_us"))
      .orderBy("event_type")
  }

  /** q65 — GINI concentration index of customer revenue per nation (the
    * exact statistic behind the frontier's skew decisions: "how hot are
    * the hot keys" — a Gini near 1 is the regime where salting pays).
    * Everything that must be exact is integer: revenues convert to cents
    * (BIGINT) before any sum, the rank-weighted sums are integer, and the
    * only floating point is ONE final division rounded to 4 dp —
    * identical in both engines regardless of partial-aggregation order.
    * Ties on revenue are rank-permutation-invariant in the formula, so
    * the custkey tie-break is for engine parity, not correctness.
    */
  def giniRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cents = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val byNation = cents
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey"), col("cents"))
    val w = Window.partitionBy("n_name").orderBy(col("cents"), col("o_custkey"))
    byNation.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").as("total_cents"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("n_name"), col("n_customers"), col("total_cents"),
        round((lit(2.0) * col("six") - (col("n_customers") + lit(1.0)) * col("total_cents")) /
          (col("n_customers").cast("double") * col("total_cents")), 4).as("gini"))
      .orderBy("n_name")
  }

  /** q66 — rolling 7-day DISTINCT users (WAU) next to DAU, the sliding
    * windowed-distinct every engagement dashboard runs (crawl-side:
    * "hosts fetched in the trailing week"). COUNT(DISTINCT) over a RANGE
    * frame doesn't exist in either engine, and the range-join form
    * rescans the grid per spine day; the LINEAR shape explodes each
    * (user, day) into the <= 7 spine days it can serve (one
    * explode(sequence(0,6))), semi-restricts to days that actually
    * occur, and counts distinct per spine day — O(7 x grid) rows total,
    * all exchanges on already-compressed keys.
    */
  def rollingWau(spark: SparkSession, dir: String): DataFrame = {
    val grid = t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("dy")).distinct()
    val spine = grid.select(col("dy").as("sd")).distinct()
    val expanded = grid
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("k"), col("dy"))
      .select(col("user_id"), date_add(col("dy"), col("k")).as("sd"))
    val wau = expanded.join(spine, "sd")
      .groupBy("sd").agg(countDistinct("user_id").as("wau"))
    val dau = grid.groupBy(col("dy").as("sd"))
      .agg(countDistinct("user_id").as("dau"))
    wau.join(dau, "sd")
      .select(date_format(col("sd"), "yyyy-MM-dd").as("day"),
        col("wau"), col("dau"))
      .orderBy("day")
  }

  /** q67 — PEARSON CORRELATION per group with engine-exact determinism:
    * built-in corr() accumulates doubles in partition order (FP
    * non-associativity makes the 15th digit partition-count-dependent),
    * so instead the five moments are summed as INTEGERS (quantity as-is,
    * price quantized to whole units so sum(y^2) stays well under 2^53 at
    * sf >= 1) and the correlation is ONE final double expression rounded
    * 4 dp — the same discipline as q65's Gini. This is also the shape
    * that scales: the moment agg map-side-combines to one row per group.
    */
  def corrPricing(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    m.select(col("l_returnflag"), col("n"),
        round((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) /
          sqrt((col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")) *
            (col("n").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))), 4)
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** q59 — deterministic MODE + LOWER MEDIAN per group, computed from ONE
    * value histogram (the scalable exact-median shape: groupBy(key, value)
    * map-side-combines to O(distinct values) rows per group, then mode and
    * median are windows over the compressed histogram — never a full-row
    * sort, never percentile_approx's engine-specific sketch). Determinism
    * conventions so the oracle can reproduce bit-for-bit: mode ties break
    * on the SMALLEST value; median is the lower median (element at ordinal
    * (n+1) div 2 of the sorted multiset) — integer in, integer out, no
    * interpolation doubles.
    */
  def modeMedian(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag", "l_linestatus", "qty")
      .agg(count(lit(1)).as("cnt"))
    val grp = Seq("l_returnflag", "l_linestatus")
    val wMode = Window.partitionBy(grp.map(col): _*)
      .orderBy(col("cnt").desc, col("qty").asc)
    val mode = hist.withColumn("rn", row_number().over(wMode))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("qty").as("mode_qty"), col("cnt").as("mode_cnt"))
    val wCum = Window.partitionBy(grp.map(col): _*).orderBy("qty")
    val wAll = Window.partitionBy(grp.map(col): _*)
    val med = hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("total", sum("cnt").over(wAll))
      // lower-median ordinal lands inside this value's cumulative run
      .where(col("cum") - col("cnt") < expr("(total + 1) div 2") &&
        expr("(total + 1) div 2") <= col("cum"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("qty").as("median_lo_qty"), col("total").as("n_rows"))
    mode.join(med, grp)
      .select(col("l_returnflag"), col("l_linestatus"), col("mode_qty"),
        col("mode_cnt"), col("median_lo_qty"), col("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q68 — SIMPLE LINEAR REGRESSION per group (slope / intercept / r²,
    * the regr_slope/regr_intercept/regr_r2 family) from the SAME exact
    * integer five-moment aggregate as q67: x = quantity, y = whole-unit
    * price, moments summed as longs (partition-order-exact), then the
    * three statistics are each ONE final double expression rounded 4 dp.
    * One map-side-combined agg to |groups| rows — nothing about this
    * shape changes at 100 TB.
    */
  def regressionPricing(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val varXN = nD * col("sxx") - col("sx").cast("double") * col("sx")
    val varYN = nD * col("syy") - col("sy").cast("double") * col("sy")
    m.select(col("l_returnflag"), col("l_linestatus"), col("n"),
        round(covN / varXN, 4).as("slope"),
        round((col("sy").cast("double") - (covN / varXN) * col("sx")) / nD, 4)
          .as("intercept"),
        round(covN * covN / (varXN * varYN), 4).as("r2"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q69 — SHANNON ENTROPY (bits) of the per-group quantity distribution,
    * partition-order-exact: the value histogram map-side-combines to
    * O(distinct values) rows per group (q59's discipline); each
    * histogram row contributes cnt·log2(cnt) QUANTIZED to a fixed-point
    * long (1e6 units) so the cross-partition/cross-engine sum is an
    * INTEGER sum — any ulp-level libm disagreement between engines moves
    * one term by ±1e-6 and is absorbed by the final 4 dp rounding,
    * instead of compounding through a float accumulation. H = log2(n) −
    * Σcnt·log2(cnt)/n.
    */
  def entropyQuantities(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag", "qty")
      .agg(count(lit(1)).as("cnt"))
    hist.groupBy("l_returnflag")
      .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
        sum(round(col("cnt").cast("double") * log(2.0, col("cnt")) * 1e6)
          .cast("long")).as("qterms"))
      .select(col("l_returnflag"), col("n"), col("n_distinct"),
        round(log(2.0, col("n")) -
          (col("qterms").cast("double") / 1e6) / col("n").cast("double"), 4)
          .as("entropy_bits"))
      .orderBy("l_returnflag")
  }

  /** q70 — MEDIAN ABSOLUTE DEVIATION per group, integer-exact end to end:
    * lower-median of quantity from the compressed value histogram (q59's
    * shape — never a full-row sort), then lower-median of |qty − med|
    * from a SECOND histogram pass over the same O(distinct) rows (the
    * deviation histogram derives from the value histogram, not the base
    * table, so the base table is scanned once). No interpolation doubles
    * anywhere — both engines agree bit-for-bit.
    */
  def madQuantities(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag", "qty")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused by both median passes; O(groups·distinct) rows
    def lowerMedian(h: DataFrame, valueCol: String, out: String): DataFrame = {
      val wCum = Window.partitionBy("l_returnflag").orderBy(valueCol)
      val wAll = Window.partitionBy("l_returnflag")
      h.withColumn("cum", sum("cnt").over(wCum))
        .withColumn("total", sum("cnt").over(wAll))
        .where(col("cum") - col("cnt") < expr("(total + 1) div 2") &&
          expr("(total + 1) div 2") <= col("cum"))
        .select(col("l_returnflag"), col(valueCol).as(out), col("total"))
    }
    val med = lowerMedian(hist, "qty", "med")
    val devHist = hist
      .join(med.select("l_returnflag", "med"), Seq("l_returnflag"))
      .select(col("l_returnflag"), abs(col("qty") - col("med")).as("dev"),
        col("cnt"))
      .groupBy("l_returnflag", "dev").agg(sum("cnt").as("cnt"))
    lowerMedian(devHist, "dev", "mad")
      .join(med.select(col("l_returnflag"), col("med").as("median_qty")),
        Seq("l_returnflag"))
      .select(col("l_returnflag"), col("median_qty"), col("mad"),
        col("total").as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** q71 — ORDERED-SET array aggregation: the top-3 quantities per group
    * AS an array column (the collect/sort/slice surface — result sets that
    * carry small ordered lists instead of exploding to rows). collect_list
    * arrival order is parallelism-dependent, so determinism comes from
    * value-sorting INSIDE the aggregate expression before the slice; the
    * DuckDB mirror uses its ordered list() aggregate. Note the scale
    * contract: collect_list materializes the whole group — acceptable
    * here ONLY because the slice keeps a constant 3 and groups are few;
    * the row-scale form of the same query is q05's bounded-heap TopKAgg.
    */
  def topQuantitiesArray(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag")
      .agg(
        slice(reverse(array_sort(collect_list("qty"))), 1, 3).as("top3_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Generic exact SPEARMAN rank correlation per group: entities are
    * ranked by x and by y (row_number with a deterministic entity-id
    * tie-break — documented policy: distinct ranks, not averaged ties,
    * so the statistic is integer-exact and parallelism-independent),
    * then rho = 1 − 6·Σd²/(n³−n) with Σd² a BIGINT — ONE final double
    * division rounded 6 dp (the q67 Pearson discipline, monotone-
    * association edition: Spearman sees "bigger x ⇒ bigger y" even when
    * the relation is nonlinear, which is why ops dashboards prefer it).
    * Shape: one map-side-combined per-entity agg, two window passes over
    * the SAME (group) partitioning — one exchange total — then a
    * |groups|-row rollup.
    */
  def spearman(per: DataFrame, group: Column, entity: Column,
               x: Column, y: Column): DataFrame = {
    val g = per.select(group.as("grp"), entity.as("ent"),
      x.as("x"), y.as("y"))
    val wx = Window.partitionBy("grp").orderBy(col("x").desc, col("ent").asc)
    val wy = Window.partitionBy("grp").orderBy(col("y").desc, col("ent").asc)
    g.withColumn("rx", row_number().over(wx).cast("long"))
      .withColumn("ry", row_number().over(wy).cast("long"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sum_d2"))
      .select(col("grp"), col("n"), col("sum_d2"),
        when(col("n") > 1L,
          round(lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n") * col("n") * col("n") - col("n")).cast("double"), 6))
          .otherwise(lit(1.0)).as("spearman_rho"))
  }

  /** q73 — Spearman between a supplier's shipped volume and its revenue
    * within each return-flag class: do the highest-volume suppliers also
    * bill the most, or does pricing skew decouple the two? Revenue in
    * BIGINT cents (q65 idiom) so the per-entity sums — and therefore the
    * ranks — are engine-exact.
    */
  def spearmanSupplier(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    spearman(per, col("l_returnflag"), col("l_suppkey"),
      col("qty"), col("cents"))
      .withColumnRenamed("grp", "l_returnflag")
      .orderBy("l_returnflag")
  }

  /** q74 — GEOMETRIC and HARMONIC means per group, engine-exact: both are
    * textbook FP-summation-order traps (Πx overflows/underflows so
    * everyone sums logs; Σ1/x sums tiny doubles — either way the
    * cross-partition sum depends on arrival order), resolved with the
    * t39/q69 quantization discipline: each per-row term — log2(x) for the
    * geometric mean, 1e9/x for the harmonic — is rounded to a fixed-point
    * LONG before aggregation, so the sums are integer-exact at any
    * parallelism and each mean is ONE final double expression rounded
    * 4 dp. The ±1e-6 (resp. ±1e-9-scale) per-term quantization error is
    * orders of magnitude below the final rounding.
    */
  def meansQuantities(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"))
      .select(col("l_returnflag"),
        round(log(2.0, col("qty")) * 1e6).cast("long").as("qlog"),
        round(lit(1e9) / col("qty")).cast("long").as("qinv"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("qlog").as("slog"),
        sum("qinv").as("sinv"))
      .select(col("l_returnflag"), col("n"),
        round(pow(lit(2.0),
          col("slog").cast("double") / col("n") / 1e6), 4).as("gmean_qty"),
        round(col("n").cast("double") * 1e9 /
          col("sinv").cast("double"), 4).as("hmean_qty"))
      .orderBy("l_returnflag")

  /** q72 — exact WEIGHTED percentiles (p50/p90/p99 of quantity, weighted
    * by revenue cents) per return flag: the "which quantity level carries
    * half the money" cut that unweighted percentile_disc (q23) cannot
    * answer. Shape: pre-aggregate weight per DISTINCT (flag, qty) first —
    * the cumulative-sum window then runs over |flags|x|distinct qty| rows
    * (a few hundred) instead of every lineitem, and its ordering is unique
    * per partition so the cumsum is deterministic at any parallelism. All
    * arithmetic stays in BIGINT cents (round(x*100)::long, the q65 idiom);
    * the percentile is the smallest qty whose cumulative weight reaches
    * p% of the total (weighted lower percentile), so the result is
    * integer-exact and hash-comparable — no FP summation order anywhere.
    */
  def weightedPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val perQty = t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy("l_returnflag", "qty")
      .agg(sum("cents").as("w"))
    val cw = Window.partitionBy("l_returnflag").orderBy("qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perQty
      .withColumn("cumw", sum("w").over(cw))
      .withColumn("totw", sum("w").over(Window.partitionBy("l_returnflag")))
    def pct(p: Int) =
      min(when(col("cumw") * 100 >= col("totw") * p, col("qty"))).as(s"p${p}_qty")
    cum.groupBy("l_returnflag")
      .agg(pct(50), pct(90), pct(99), max("totw").as("total_cents"))
      .orderBy("l_returnflag")
  }

  /** q75 — TRIMMED and WINSORIZED means per group, exact: the robust-mean
    * pair every per-host/stratum quality aggregation wants once outliers
    * exist (a handful of garbage rows must not move the stratum's score).
    * Both are pure order statistics over integers, so unlike their
    * floating-point textbook forms they join the hash gate exactly: rank
    * rows per group with row_number over the value (tie ORDER is
    * irrelevant — every term below selects a rank RANGE, and the multiset
    * of equal values inside a rank range is invariant under tie
    * permutation), trim k = floor(n/10) rows at each end; the trimmed
    * mean is one integer-sum division, and the winsorized mean re-adds k
    * copies of the surviving extremes (the (k+1)-th and (n-k)-th smallest
    * values) — integers until one final rounded division each.
    *
    * Scale: the 100 TB form first hash-aggregates to (grp, value, weight)
    * — distinct quantities are tiny — then runs the same rank ranges over
    * cumulative weights (the q72 shape); at bench scale the direct window
    * keeps the plan to a single exchange on grp.
    */
  def robustMeans(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
    val ranked = base
      .withColumn("rn",
        row_number().over(Window.partitionBy("l_returnflag").orderBy("qty")))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("l_returnflag")))
      .withColumn("k", floor(col("n") / 10))
    ranked.groupBy("l_returnflag")
      .agg(
        max("n").as("n"), max("k").as("k"),
        sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
          col("qty"))).as("interior"),
        max(when(col("rn") === col("k") + 1, col("qty"))).as("lo"),
        max(when(col("rn") === col("n") - col("k"), col("qty"))).as("hi"))
      .select(col("l_returnflag"), col("n"), col("k"), col("lo"), col("hi"),
        round(col("interior").cast("double") / (col("n") - col("k") * 2), 4)
          .as("trimmed_mean"),
        round((col("interior") + col("k") * (col("lo") + col("hi")))
          .cast("double") / col("n"), 4).as("winsorized_mean"))
      .orderBy("l_returnflag")
  }

  /** q77 — exact KENDALL tau-b rank correlation per group (the same
    * supplier volume-vs-revenue question as q73's Spearman, under the
    * statistic with the cleaner tie story): tau-b is DEFINED on pair
    * counts — concordant, discordant, x-tied, y-tied — so unlike
    * rho it needs no tie-break policy at all, and every count is a
    * BIGINT; the denominator sqrt((n0−n1)(n0−n2)) is IEEE-correctly
    * rounded in every engine, leaving ONE rounded division. Shipping
    * both (q73+q77) lets c88-style calibrations cross-check their
    * verdicts across rank statistics.
    *
    * Scale: the pair self-join is over per-ENTITY aggregates (suppliers
    * per flag — bounded and tiny next to the fact table), never over
    * rows; the exchanges carry (flag, suppkey, two longs).
    */
  def kendallSupplier(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val a = per.select(col("l_returnflag"), col("l_suppkey").as("ka"),
      col("qty").as("xa"), col("cents").as("ya"))
    val b = per.select(col("l_returnflag"), col("l_suppkey").as("kb"),
      col("qty").as("xb"), col("cents").as("yb"))
    val pairs = a.join(b, Seq("l_returnflag")).where(col("ka") < col("kb"))
      .withColumn("dx", col("xa") - col("xb"))
      .withColumn("dy", col("ya") - col("yb"))
    pairs.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("n2"))
      .select(col("l_returnflag"), col("n0"), col("nc"), col("nd"),
        col("n1"), col("n2"),
        round((col("nc") - col("nd")).cast("double")
          / sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
            .cast("double")), 4).as("tau_b"))
      .orderBy("l_returnflag")
  }

  /** q78 — THEIL INDEX of corpus concentration, DECOMPOSED into
    * between-source and within-source components (Theil'67): c87's Jain
    * index says HOW skewed the byte distribution is; Theil says WHERE
    * the skew lives — a high between-source share means a few sources
    * dominate (rebalance the source mix), a high within-source share
    * means every source mixes giants and stubs (per-doc length caps
    * help, source mixing does not). Exact in bits via the t45
    * integer-log discipline: T_total = (1/S)·Σ x·(L(x)+L(n)−L(S)),
    * T_between = (1/S)·Σ_g S_g·(L(S_g)+L(n)−L(n_g)−L(S)), T_within
    * summed directly per group — and the three QUANTIZED sums satisfy
    * total = between + within EXACTLY (the cross terms cancel
    * term-by-term in the integer domain), which the oracle's hash
    * compare therefore also pins.
    *
    * Scale: one scan; per-source totals broadcast back; exchanges carry
    * (source, two longs).
    */
  def theilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    def lq(c: Column): Column = round(log(2.0, c) * 1e6).cast("long")
    val x = t(spark, dir, "documents")
      .select(col("source"), greatest(col("n_chars"), lit(1L)).as("x"))
    val perSource = x.groupBy("source")
      .agg(sum("x").as("sg"), count(lit(1)).as("ng"))
    val tot = perSource.agg(sum("sg").as("s"), sum("ng").as("n"))
    val joined = x.join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(tot))
    val sums = joined.agg(
      sum(col("x") * (lq(col("x")) + lq(col("n")) - lq(col("s"))))
        .as("tq_total"),
      sum(col("x") * (lq(col("x")) + lq(col("ng")) - lq(col("sg"))))
        .as("tq_within"),
      max("s").as("s"), max("n").as("n"))
    val between = perSource.crossJoin(broadcast(tot))
      .agg(sum(col("sg") * (lq(col("sg")) + lq(col("n")) - lq(col("ng"))
        - lq(col("s")))).as("tq_between"))
    sums.crossJoin(broadcast(between))
      .select(col("n"), col("s").as("total_chars"),
        round(col("tq_total").cast("double") / (col("s").cast("double") * 1e6),
          4).as("theil_total"),
        round(col("tq_between").cast("double")
          / (col("s").cast("double") * 1e6), 4).as("theil_between"),
        round(col("tq_within").cast("double")
          / (col("s").cast("double") * 1e6), 4).as("theil_within"),
        (col("tq_total") === col("tq_between") + col("tq_within"))
          .as("decomposition_exact"))
  }

  /** q76 — CHI-SQUARE independence test over the lang × source
    * contingency table, with Cramér's V: the corpus-mix audit ("is the
    * language mix independent of the source?") behind stratified
    * sampling and drift alarms — a V drifting epoch-over-epoch means a
    * source changed what it publishes. The per-cell term is rewritten as
    * (O·N − rT·cT)²/(rT·cT·N) so numerator and denominator are
    * integer-derived (zero cells of the FULL r×c grid included — their
    * term is E itself); each term is quantized to a 1e6 fixed-point LONG
    * before the sum (the q74 discipline — cell order cannot matter), and
    * V's sqrt is IEEE-correctly-rounded in every engine, so one rounded
    * expression each ships hash-exact.
    *
    * Scale: cells/rows/cols are tiny aggregates of one scan; the grid is
    * r×c rows with every total broadcast — the corpus is read once.
    */
  def chiSquareMix(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("lang").agg(sum("o").as("rt"))
    val cols = cells.groupBy("source").agg(sum("o").as("ct"))
    val tot = cells.agg(sum("o").as("n"))
      .crossJoin(rows.agg(count(lit(1)).as("r")))
      .crossJoin(cols.agg(count(lit(1)).as("c")))
    val grid = rows.crossJoin(cols)
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("num",
        (col("o") * col("n") - col("rt") * col("ct")).cast("double"))
      .withColumn("term_q",
        round(col("num") * col("num")
          / (col("rt") * col("ct") * col("n")).cast("double") * 1e6)
          .cast("long"))
    grid.groupBy("n", "r", "c")
      .agg(sum("term_q").as("chi2_q"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"), col("chi2_q"),
        round(col("chi2_q").cast("double") / 1e6, 4).as("chi2"),
        round(sqrt(col("chi2_q").cast("double") / 1e6
          / (col("n") * least(col("r") - 1, col("c") - 1)).cast("double")),
          4).as("cramers_v"))
  }

  /** q79 — pairwise MANN-WHITNEY U rank-sum test (Mann & Whitney '47)
    * across event types: "does event type A carry systematically larger
    * values than type B?" — the distribution-free two-sample test behind
    * every A/B readout where t-tests are wrong (crawl latencies, doc
    * lengths, quality scores are all heavy-tailed). Exact by
    * construction: the corpus compresses to a (type, value, count)
    * histogram (q59 discipline — never a full-row sort), per-pair merged
    * tied ranks are kept DOUBLED so average ranks stay integers
    * (avg2 = 2·cum_incl − t + 1), and the rank sums, U (doubled), the
    * tie term Σ(t³−t), and the AUC effect size in integer basis points
    * (U/(n_a·n_b), the rank-biserial probability) are all BIGINT. The
    * normal-approximation z (tie-corrected, no continuity correction) is
    * the single rounded double, computed from the same integers in both
    * engines with identical association.
    *
    * Scale: one scan → histogram (map-side combined); the pair list is
    * |types|² and broadcasts to the histogram (BNLJ over a tiny build
    * side); per-pair windows partition by (type_a, type_b) — value rows,
    * not event rows, cross the exchanges.
    */
  def mannWhitneyEvents(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "events")
      .where(col("value").isNotNull)
      .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
    val types = hist.select(col("event_type").as("ta")).distinct()
    val pairs = types.crossJoin(types.select(col("ta").as("tb")))
      .where(col("ta") < col("tb"))
    val merged = broadcast(pairs)
      .join(hist, col("event_type") === col("ta")
        || col("event_type") === col("tb"))
      .groupBy("ta", "tb", "value")
      .agg(sum(when(col("event_type") === col("ta"), col("cnt"))
          .otherwise(0L)).as("ca"),
        sum(when(col("event_type") === col("tb"), col("cnt"))
          .otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val w = Window.partitionBy("ta", "tb").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = merged
      .withColumn("avg2", lit(2L) * sum("t").over(w) - col("t") + 1L)
    ranked.groupBy("ta", "tb")
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
        sum(col("ca") * col("avg2")).as("r2_a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .withColumn("u2_a", col("r2_a") - col("n_a") * (col("n_a") + 1L))
      .withColumn("n", col("n_a") + col("n_b"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_a"), col("n_b"), col("u2_a"),
        expr("(10000 * u2_a) div (2 * n_a * n_b)").as("auc_bp"),
        round((col("u2_a").cast("double") - (col("n_a") * col("n_b"))
            .cast("double"))
          / (lit(2.0) * sqrt((col("n_a").cast("double")
              * col("n_b").cast("double"))
            * ((col("n").cast("double") + 1.0)
              - col("ties").cast("double")
                / (col("n").cast("double")
                  * (col("n").cast("double") - 1.0)))
            / 12.0)), 4).as("z"))
      .orderBy("type_a", "type_b")
  }

  /** q80 — pairwise two-sample KOLMOGOROV-SMIRNOV statistic across event
    * types: q79 asks "is A systematically larger?" (location); KS asks
    * "is A's distribution DIFFERENT at all?" (any shape divergence —
    * the drift alarm for latency/quality/score distributions where the
    * mean moves last). Exact by cross-multiplication: at every merged
    * histogram value the ECDF gap |F_a − F_b| = |cum_a·n_b − cum_b·n_a|
    * / (n_a·n_b), so the supremum's NUMERATOR is an integer max over
    * integer terms (ks_num, hash-exact); D and the sample-size-scaled
    * statistic c = D·sqrt(n_a·n_b/n) are single rounded doubles from
    * the same integers. Same histogram + broadcast-pair shape as q79:
    * value rows, never event rows, cross the exchanges.
    */
  def ksEvents(spark: SparkSession, dir: String): DataFrame = {
    val hist = t(spark, dir, "events")
      .where(col("value").isNotNull)
      .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
    val types = hist.select(col("event_type").as("ta")).distinct()
    val pairs = types.crossJoin(types.select(col("ta").as("tb")))
      .where(col("ta") < col("tb"))
    val merged = broadcast(pairs)
      .join(hist, col("event_type") === col("ta")
        || col("event_type") === col("tb"))
      .groupBy("ta", "tb", "value")
      .agg(sum(when(col("event_type") === col("ta"), col("cnt"))
          .otherwise(0L)).as("ca"),
        sum(when(col("event_type") === col("tb"), col("cnt"))
          .otherwise(0L)).as("cb"))
    val w = Window.partitionBy("ta", "tb").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("ta", "tb")
    val cum = merged
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
      .withColumn("na", sum("ca").over(wp))
      .withColumn("nb", sum("cb").over(wp))
      .withColumn("gap",
        abs(col("cuma") * col("nb") - col("cumb") * col("na")))
    cum.groupBy("ta", "tb")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        max("gap").as("ks_num"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_a"), col("n_b"), col("ks_num"),
        round(col("ks_num").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("d"),
        round(col("ks_num").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double"))
          * sqrt((col("n_a").cast("double") * col("n_b").cast("double"))
            / (col("n_a").cast("double") + col("n_b").cast("double"))), 4)
          .as("c_stat"))
      .orderBy("type_a", "type_b")
  }

  /** q81 — BENFORD first-digit audit (Newcomb 1881 / Benford '38) over
    * order totals: naturally-grown magnitudes follow P(d) = log10(1+1/d);
    * synthetic, capped, or fabricated values don't — the classic
    * anomaly screen for any "organic" numeric column (payment amounts,
    * byte counts, fetch sizes). Engine-exact construction: the value
    * becomes BIGINT cents, the first significant digit is a SUBSTRING of
    * its decimal rendering (no float log10 anywhere near the data), the
    * expected Benford shares are nine embedded ppm CONSTANTS (rounded
    * log10(1+1/d)·1e6 — no libm call in either engine), and observed
    * shares/deltas are integer ppm. The per-digit chi-square
    * contribution (O−E)²/E is the single rounded double, from the same
    * integers with the same association in both engines.
    *
    * Scale: one pruned scan → 9-row digit histogram (map-side combined);
    * everything after is constant-size.
    */
  def benfordPrices(spark: SparkSession, dir: String): DataFrame = {
    val benford = spark.createDataFrame(Seq(
      (1L, 301030L), (2L, 176091L), (3L, 124939L), (4L, 96910L),
      (5L, 79181L), (6L, 66947L), (7L, 57992L), (8L, 51153L),
      (9L, 45757L))).toDF("digit", "exp_ppm")
    val obs = t(spark, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .where(col("cents") > 0L)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum("n").as("nt"))
    benford.join(obs, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("nt") * col("exp_ppm")).cast("double") / 1e6)
      .select(col("digit"), col("n"),
        expr("(1000000 * n) div nt").as("obs_ppm"), col("exp_ppm"),
        (expr("(1000000 * n) div nt") - col("exp_ppm")).as("delta_ppm"),
        round((col("n").cast("double") - col("e"))
          * (col("n").cast("double") - col("e")) / col("e"), 4)
          .as("chi2_term"))
      .orderBy("digit")
  }

  /** q82 — THEIL-SEN robust slope per group (Theil '50 / Sen '68): the
    * median of all pairwise slopes — the robust counterpart of q68's
    * least-squares fit, immune to the outlier entities that drag OLS
    * (one host with a byte-count spike bends q68's line; it moves
    * Theil-Sen by one rank). Same per-supplier integer basis as
    * q77's Kendall (volume vs revenue cents); each pairwise slope is a
    * RATIONAL dy/dx whose double rendering is identical in both engines,
    * the lower median is picked by row_number under a fully
    * deterministic (slope, dy, dx, entity-pair) order, and the chosen
    * pair's dy/dx ship as exact BIGINTs next to the rounded slope.
    *
    * Scale: pairs form over per-entity AGGREGATES (q77's shape — never
    * over fact rows); exchanges carry (flag, key, two longs).
    */
  def theilSenSupplier(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val a = per.select(col("l_returnflag"), col("l_suppkey").as("ka"),
      col("qty").as("xa"), col("cents").as("ya"))
    val b = per.select(col("l_returnflag"), col("l_suppkey").as("kb"),
      col("qty").as("xb"), col("cents").as("yb"))
    val slopes = a.join(b, Seq("l_returnflag")).where(col("ka") < col("kb"))
      .withColumn("dx", col("xb") - col("xa"))
      .withColumn("dy", col("yb") - col("ya"))
      .where(col("dx") =!= 0L)
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("slope"), col("dy"), col("dx"), col("ka"), col("kb"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("l_returnflag")))
      .where(col("rn") === expr("(m + 1) div 2"))
      .select(col("l_returnflag"), col("m").as("n_pairs"),
        col("dy").as("med_dy"), col("dx").as("med_dx"),
        round(col("slope"), 6).as("theil_sen_slope"))
      .orderBy("l_returnflag")
  }

  /** q83 — MANN-KENDALL trend test per event type (Mann '45 / Kendall):
    * the non-parametric "is this daily series trending?" monitor —
    * q82/q68 fit a slope ACROSS entities; MK asks the TIME question the
    * drift alarms (c90 CUSUM catches level SHIFTS) don't: a slow
    * monotone creep that never trips a changepoint. S = Σ_{i<j}
    * sign(x_j − x_i) over the daily-count series is BIGINT-exact, the
    * tie-corrected variance numerator 18·Var(S) = n(n−1)(2n+5) −
    * Σt(t−1)(2t+5) is BIGINT-exact, and the continuity-corrected z
    * ((S−1)/σ for S>0, (S+1)/σ for S<0) is the single rounded double;
    * verdict thresholded at |z| ≥ 1.96 in a deterministic CASE.
    *
    * Scale: the pair join is over per-DAY aggregates (≤ series length,
    * tiny next to the event table); one scan feeds the day counts.
    */
  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val a = daily.select(col("event_type"), col("day").as("da"),
      col("x").as("xa"))
    val b = daily.select(col("event_type"), col("day").as("db"),
      col("x").as("xb"))
    val s = a.join(b, Seq("event_type")).where(col("da") < col("db"))
      .groupBy("event_type")
      .agg(sum(signum((col("xb") - col("xa")).cast("double")).cast("long"))
        .as("s"))
    val ties = daily.groupBy("event_type", "x")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tie_term"), sum("t").as("n"))
    s.join(ties, Seq("event_type"))
      .withColumn("var18",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L)
          - col("tie_term"))
      .withColumn("z",
        when(col("s") > 0L, (col("s").cast("double") - 1.0)
          / sqrt(col("var18").cast("double") / 18.0))
          .when(col("s") < 0L, (col("s").cast("double") + 1.0)
            / sqrt(col("var18").cast("double") / 18.0))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n").as("n_days"), col("s"),
        col("var18"), round(col("z"), 4).as("z"),
        when(round(col("z"), 4) >= 1.96, lit("rising"))
          .when(round(col("z"), 4) <= -1.96, lit("falling"))
          .otherwise(lit("no_trend")).as("verdict"))
      .orderBy("event_type")
  }

  /** q84 — GUMBEL block-maxima fit + RETURN LEVEL (Gumbel '58 /
    * Fisher-Tippett): extreme-value capacity planning — q23's
    * percentiles describe the bulk, but "what daily maximum do we see
    * once per 100 days?" is a tail question percentiles under-answer
    * (the empirical max is one noisy draw; the EV fit pools every
    * block). Daily maxima of the value column in BIGINT cents, method-
    * of-moments Gumbel fit (β̂ = s·√6/π, μ̂ = m − γ·β̂, both constants
    * embedded as literals — no libm constant generation), and the
    * T-day return level μ̂ − β̂·ln(−ln(1−1/T)). Moments are exact
    * integers; the four fitted numbers are rounded doubles computed
    * with identical association in both engines.
    *
    * Scale: one scan → per-day max (map-side combined) → per-type
    * 3-moment agg; everything after is |types| rows of projection.
    */
  def gumbelReturnLevel(spark: SparkSession, dir: String,
                        retDays: Double = 100.0): DataFrame = {
    val maxima = t(spark, dir, "events")
      .where(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "day").agg(max("cents").as("mx"))
    maxima.groupBy("event_type")
      .agg(count(lit(1)).as("n_blocks"), sum("mx").as("s"),
        sum(col("mx") * col("mx")).as("ss"))
      .withColumn("mean_max", col("s").cast("double") / col("n_blocks"))
      .withColumn("sd",
        sqrt((col("ss").cast("double") / col("n_blocks")
          - (col("s").cast("double") / col("n_blocks"))
          * (col("s").cast("double") / col("n_blocks")))
          * col("n_blocks").cast("double")
          / (col("n_blocks").cast("double") - 1.0)))
      .withColumn("beta", col("sd") * 0.7796968012336793)
      .withColumn("mu",
        col("mean_max") - lit(0.5772156649015329) * col("beta"))
      .select(col("event_type"), col("n_blocks"), col("s"), col("ss"),
        round(col("mean_max"), 4).as("mean_max"),
        round(col("sd"), 4).as("sd_max"),
        round(col("mu"), 4).as("gumbel_mu"),
        round(col("beta"), 4).as("gumbel_beta"),
        round(col("mu") - col("beta")
          * log(-log(lit(1.0) - lit(1.0) / retDays)), 4)
          .as("return_level_100d"))
      .orderBy("event_type")
  }

  /** q85 — WALD-WOLFOWITZ RUNS TEST per event type (Wald & Wolfowitz
    * '40): q83 asks "is the daily series trending?"; this asks the
    * orthogonal randomness question — do above/below-median days
    * CLUSTER (too few runs: regime-switching, weekly seasonality) or
    * ALTERNATE (too many runs: negative feedback, load balancing
    * artifacts)? The lower-median split comes off the exact daily
    * counts (q59 lower-median discipline, no interpolation), the run
    * count R is a BIGINT lag-transition sum, n₊/n₋ are BIGINTs, and
    * the normal z = (R − μ_R)/σ_R with μ_R = 2n₊n₋/n + 1 is the single
    * rounded double; verdict thresholded at ±1.96 on the rounded z.
    *
    * Scale: pairs never form — one per-day agg, one per-type window
    * for the median and the lag, one moment agg; series rows only.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val wRank = Window.partitionBy("event_type").orderBy(col("x"), col("day"))
    val wN = Window.partitionBy("event_type")
    val med = daily
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("med",
        max(when(col("rn") === expr("(n + 1) div 2"), col("x"))).over(wN))
    val signed = med
      .where(col("x") =!= col("med"))
      .withColumn("above", (col("x") > col("med")).cast("long"))
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val runs = signed
      .withColumn("prev", lag("above", 1).over(wSeq))
      .withColumn("new_run",
        when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L))
    runs.groupBy("event_type")
      .agg(sum("new_run").as("r"),
        sum("above").as("n_plus"),
        sum(lit(1L) - col("above")).as("n_minus"))
      .withColumn("nn", col("n_plus") + col("n_minus"))
      .withColumn("mu_r",
        lit(2.0) * col("n_plus") * col("n_minus")
          / col("nn").cast("double") + 1.0)
      .withColumn("sigma_r",
        sqrt((col("mu_r") - 1.0) * (col("mu_r") - 2.0)
          / (col("nn").cast("double") - 1.0)))
      .withColumn("z",
        round((col("r").cast("double") - col("mu_r")) / col("sigma_r"), 4))
      .select(col("event_type"), col("nn").as("n_days_offmedian"),
        col("n_plus"), col("n_minus"), col("r").as("n_runs"),
        round(col("mu_r"), 4).as("expected_runs"), col("z"),
        when(col("z") <= -1.96, lit("clustered"))
          .when(col("z") >= 1.96, lit("alternating"))
          .otherwise(lit("random")).as("verdict"))
      .orderBy("event_type")
  }

  /** q86 — DAY-OF-WEEK SEASONALITY strength per event type: the
    * correlation ratio η² = SS_between/SS_total over ISO weekday groups
    * of the daily series — q83/q85 detect trend and clustering; this
    * quantifies the weekly CYCLE (the dominant periodicity in human
    * traffic, and the one a recrawl scheduler should phase-lock to
    * before c96's rate tiers mean anything). Daily counts are BIGINT;
    * per-weekday and grand sums are exact; η² is the single rounded
    * double from those integers, and the peak weekday's lift over the
    * uniform share — (7·Σx_dow·n_days)/(n_dow·7·Σx) reduced to integer
    * bp — plus its argmax (min-weekday tie-break) are integers.
    *
    * Scale: one pruned scan → per-day counts (map-side combined) →
    * 7-row-per-type aggregates; no window over data rows.
    */
  def weekdaySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      .withColumn("dow", weekday(col("day")).cast("long") + 1L)
    val perDow = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("nd"), sum("x").as("sx"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sx_all"),
        sum(col("x") * col("x")).as("ssx_all"))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    val j = perDow.join(tot, Seq("event_type"))
      .withColumn("lift_bp",
        expr("(10000 * sx * n_days) div (nd * sx_all)"))
      .withColumn("max_lift", max("lift_bp").over(wT))
      // quantized BEFORE the cross-weekday sum (order-free): sx² is an
      // exact double (< 2^53), /nd and ·1e6 round identically in both
      // engines, so the per-weekday term is a deterministic long
      .withColumn("ssb_term_q",
        round(col("sx").cast("double") * col("sx").cast("double")
          / col("nd").cast("double") * 1e6).cast("long"))
    j.groupBy("event_type")
      .agg(max("n_days").as("n_days"), max("sx_all").as("sx_all"),
        max("ssx_all").as("ssx_all"),
        sum("ssb_term_q").as("ssb_q"),
        min(when(col("lift_bp") === col("max_lift"), col("dow")))
          .as("peak_dow"),
        max("max_lift").as("peak_lift_bp"))
      .withColumn("grand_q",
        round(col("sx_all").cast("double") * col("sx_all").cast("double")
          / col("n_days").cast("double") * 1e6).cast("long"))
      .select(col("event_type"), col("n_days"), col("sx_all"),
        col("ssb_q"), col("grand_q"),
        round((col("ssb_q") - col("grand_q")).cast("double")
          / (col("ssx_all").cast("double") * 1e6
            - col("grand_q").cast("double")), 4).as("eta2"),
        col("peak_dow"), col("peak_lift_bp"))
      .orderBy("event_type")
  }

  /** q87 — sample AUTOCORRELATION of the daily series at lags 1 and 7:
    * the ACF is THE first time-series diagnostic — lag-1 says whether
    * yesterday predicts today (momentum vs mean-reversion feeds c96's
    * revisit intervals), lag-7 confirms or refutes q86's weekly cycle
    * through a different statistic. INTEGER-EXACT by clearing
    * denominators: centering on the rational mean S/n becomes
    * c_t = n·x_t − S (BIGINT), so numerator Σ c_t·c_{t−k} and
    * denominator Σ c_t² are exact integer sums shipped alongside the
    * one rounded division r_k = num/den.
    *
    * Scale: per-type windows over the daily series (series rows only);
    * the two lags share one centered table.
    */
  def autocorrelation(spark: SparkSession, dir: String,
                      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val wT = Window.partitionBy("event_type")
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val centered = daily
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s", sum("x").over(wT))
      .withColumn("c", col("n") * col("x") - col("s"))
    lags.map { k =>
      centered
        .withColumn("ck", lag("c", k).over(wSeq))
        .groupBy("event_type")
        .agg(max("n").as("n_days"),
          sum(when(col("ck").isNotNull, col("c") * col("ck"))
            .otherwise(0L)).as("num"),
          sum(col("c") * col("c")).as("den"))
        .withColumn("k", lit(k.toLong))
    }.reduce(_ unionByName _)
      .select(col("event_type"), col("k"), col("n_days"), col("num"),
        col("den"),
        round(col("num").cast("double") / col("den").cast("double"), 4)
          .as("acf"))
      .orderBy("event_type", "k")
  }

  /** q89 — POISSON DISPERSION INDEX test per event type (Fisher '50
    * index-of-dispersion): c96's change-rate estimator and every
    * Poisson-thinning assumption downstream are only valid if arrivals
    * ARE Poisson — this is the test that licenses them. The statistic
    * T = (n−1)·s²/x̄ collapses to ONE exact rational
    * (n·Σx² − (Σx)²)/Σx over the daily counts; T ≈ n−1 under Poisson,
    * T ≫ n−1 is overdispersion (clumping — c97's burstiness seen
    * through a χ² lens), T ≪ n−1 underdispersion. Numerator and
    * denominator ship as BIGINTs; T, the dispersion ratio D = T/(n−1),
    * and the ±2σ normal band on χ²_{n−1} are rounded doubles with the
    * verdict compared on the ROUNDED values.
    *
    * Scale: one pruned scan → per-day counts → per-type 3-moment agg.
    */
  def dispersionTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("t_stat",
        round(col("num").cast("double") / col("sx").cast("double"), 4))
      .withColumn("hi", round((col("n").cast("double") - 1.0)
        + lit(2.0) * sqrt(lit(2.0) * (col("n").cast("double") - 1.0)), 4))
      .withColumn("lo", round((col("n").cast("double") - 1.0)
        - lit(2.0) * sqrt(lit(2.0) * (col("n").cast("double") - 1.0)), 4))
      .select(col("event_type"), col("n").as("n_days"), col("sx"),
        col("num"), col("t_stat"),
        round(col("num").cast("double") / col("sx").cast("double")
          / (col("n").cast("double") - 1.0), 4).as("dispersion"),
        when(col("t_stat") > col("hi"), lit("overdispersed"))
          .when(col("t_stat") < col("lo"), lit("underdispersed"))
          .otherwise(lit("poisson_consistent")).as("verdict"))
      .orderBy("event_type")
  }

  /** q90 — JARQUE-BERA log-normality test of document lengths per
    * language (Jarque & Bera '80): t54's Hill index assumes a POWER
    * tail; the competing (and for web text, common) hypothesis is a
    * LOG-NORMAL body — JB on the log-lengths separates them, and the
    * answer decides whether capacity planning extrapolates with q84's
    * extreme-value machinery (heavy tail) or a lognormal σ (tame).
    * Engine-exact: logs are quantized to 1e2 fixed-point longs, the
    * four raw power sums are BIGINT (the 1e2 scale is what keeps Σxq⁴
    * inside BIGINT at sf0.1), central moments / skewness / excess
    * kurtosis / JB are doubles computed from those integers with
    * identical association, and the verdict compares the ROUNDED JB to
    * the χ²₂ 95% point.
    */
  def jarqueBeraLengths(spark: SparkSession, dir: String): DataFrame = {
    val xq = round(log(2.0, greatest(col("n_chars"), lit(1L))) * 100)
      .cast("long")
    val m = t(spark, dir, "documents")
      .select(col("lang"), xq.as("x"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mean * mean
    val m3 = (col("s3").cast("double") / nD) -
      lit(3.0) * mean * (col("s2").cast("double") / nD) +
      lit(2.0) * mean * mean * mean
    val m4 = (col("s4").cast("double") / nD) -
      lit(4.0) * mean * (col("s3").cast("double") / nD) +
      lit(6.0) * mean * mean * (col("s2").cast("double") / nD) -
      lit(3.0) * mean * mean * mean * mean
    val skew = m3 / sqrt(m2 * m2 * m2)
    val exk = m4 / (m2 * m2) - lit(3.0)
    val jb = nD / lit(6.0) * (skew * skew + exk * exk / lit(4.0))
    m.withColumn("jb", round(jb, 4))
      .select(col("lang"), col("n"), col("s1"), col("s2"), col("s3"),
        col("s4"), round(skew, 4).as("skewness"),
        round(exk, 4).as("ex_kurtosis"), col("jb"),
        when(col("jb") > 5.991, lit("non_normal"))
          .otherwise(lit("lognormal_consistent")).as("verdict"))
      .orderBy("lang")
  }

  /** q91 — LJUNG-BOX portmanteau test over lags 1..6 (Ljung & Box '78):
    * q87 reads single lags; the portmanteau asks the JOINT question —
    * "is this series white noise at all?" — the one-number gate a
    * forecasting model (c93's OLS, c96's Poisson) must pass on its
    * residual series before its predictions mean anything. Built on
    * q87's denominator-cleared integer machinery: one window pass
    * carries all six lags, each autocorrelation is an exact integer
    * num_k over the shared den, and Q = n(n+2)·Σ r_k²/(n−k) is written
    * as an explicit six-term expression so the summation ORDER is fixed
    * in both engines; verdict compares rounded Q to the χ²₆ 95% point.
    */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val wT = Window.partitionBy("event_type")
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    var centered = daily
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s", sum("x").over(wT))
      .withColumn("c", col("n") * col("x") - col("s"))
    (1 to 6).foreach { k =>
      centered = centered.withColumn(s"ck$k", lag("c", k).over(wSeq))
    }
    val aggCols = Seq(max("n").as("n_days"),
      sum(col("c") * col("c")).as("den")) ++
      (1 to 6).map(k =>
        sum(when(col(s"ck$k").isNotNull, col("c") * col(s"ck$k"))
          .otherwise(0L)).as(s"num$k"))
    val aggd = centered.groupBy("event_type")
      .agg(aggCols.head, aggCols.tail: _*)
    val nD = col("n_days").cast("double")
    def rk2(k: Int): Column = {
      val r = col(s"num$k").cast("double") / col("den").cast("double")
      r * r / (nD - k.toDouble)
    }
    val q = nD * (nD + 2.0) *
      (rk2(1) + rk2(2) + rk2(3) + rk2(4) + rk2(5) + rk2(6))
    aggd.withColumn("q_stat", round(q, 4))
      .select((Seq(col("event_type"), col("n_days"), col("den")) ++
        (1 to 6).map(k => col(s"num$k")) ++
        Seq(col("q_stat"),
          when(col("q_stat") > 12.5916, lit("autocorrelated"))
            .otherwise(lit("white_noise")).as("verdict"))): _*)
      .orderBy("event_type")
  }
}
