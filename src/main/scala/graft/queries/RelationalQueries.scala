package graft
package queries

import graft.operators._

/** q* — relational breadth over the testdata tables (joins, windows,
  * rollups, set ops, statistics), each with its DuckDB oracle SQL.
  */
object RelationalQueries {
  val all: Seq[Query] = Seq(
    Query("q01_agg_pricing", (s, d) => Relational.aggPricing(s, d),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |round(sum(l_extendedprice),2) AS sum_price, round(sum(l_discount),2) AS sum_disc,
        |count(*) AS n FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q02_join_broadcast", (s, d) => Relational.joinBroadcastRevenue(s, d),
      Some("""SELECT n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin)),
    Query("q03_anti_join", (s, d) => Relational.antiJoinCustomers(s, d),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),
    Query("q04_semi_join", (s, d) => Relational.semiJoinParts(s, d),
      Some("""SELECT p_brand, count(*) AS n_parts, round(sum(p_retailprice),2) AS sum_price
        |FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin)),
    Query("q05_window_topk", (s, d) => Relational.windowTopOrders(s, d),
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin)),
    Query("q06_window_lag", (s, d) => Relational.windowEventGaps(s, d),
      Some("""SELECT event_id, user_id, coalesce(epoch_ms(ts) - epoch_ms(
        |lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)), -1) AS gap_ms
        |FROM events""".stripMargin)),
    Query("q07_topk_global", (s, d) => Relational.topOrders(s, d),
      Some("""SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),
    Query("q08_rollup", (s, d) => Relational.rollupOrders(s, d),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice),2) AS total FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)),
    Query("q09_setops", (s, d) => Relational.setOpsNations(s, d),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin)),
    Query("q10_json", (s, d) => Relational.jsonProps(s, d),
      Some("""SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |round(avg(value),4) AS avg_value FROM events GROUP BY event_type""".stripMargin)),
    Query("q11_array", (s, d) => Relational.arrayStats(s, d),
      Some("""SELECT label, count(*) AS n, max(dims) AS dims, round(avg(norm2),4) AS avg_norm2
        |FROM (SELECT label, len(embedding) AS dims,
        |round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'),4) AS norm2
        |FROM embeddings) GROUP BY label""".stripMargin)),
    Query("q12_dedup_exact", (s, d) => Relational.dedupExactDocs(s, d),
      Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin)),
    Query("q13_range_join", (s, d) => Relational.rangeShipLag(s, d),
      Some("""SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority""".stripMargin)),
    Query("q14_star_join", (s, d) => Relational.starRevenue(s, d),
      Some("""SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""".stripMargin)),
    Query("q15_distinct", (s, d) => Relational.distinctCounts(s, d),
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
        |count(*) AS n_rows FROM lineitem""".stripMargin)),
    Query("q16_time_window", (s, d) => Relational.timeWindowEvents(s, d),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |event_type, count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Query("q17_politeness_analog", (s, d) => Relational.politenessAnalog(s, d),
      Some("""SELECT user_id, event_id, CAST(rn - 1 AS BIGINT) AS slot,
        |1704067200000 + (rn - 1) * 200 AS scheduled_at_ms FROM (
        |SELECT user_id, event_id,
        |row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |FROM events) WHERE rn <= 5""".stripMargin)),
    Query("q18_stream_window", (s, d) => graft.streaming.StreamingJobs.windowedEventCounts(s, d),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |event_type, count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Query("q19_setops2", (s, d) => Relational.setOpsUnionIntersect(s, d),
      Some("""SELECT 'any' AS tag, nationkey FROM
        |(SELECT c_nationkey AS nationkey FROM customer
        | UNION SELECT s_nationkey AS nationkey FROM supplier)
        |UNION ALL
        |SELECT 'both' AS tag, nationkey FROM
        |(SELECT c_nationkey AS nationkey FROM customer
        | INTERSECT SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin)),
    Query("q20_theta_join", (s, d) => Relational.thetaJoin(s, d),
      Some("""SELECT r_name, count(*) AS n_pairs FROM nation
        |JOIN region ON n_regionkey <> r_regionkey GROUP BY r_name""".stripMargin)),
    Query("q21_cube", (s, d) => Relational.cubeOrders(s, d),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),
    Query("q22_levenshtein", (s, d) => Relational.levenshteinDocs(s, d),
      Some("""SELECT doc_id,
        |CAST(levenshtein(substring(text,1,30), substring(text,11,30)) AS BIGINT) AS lev_shift,
        |CAST(levenshtein(lang, source) AS BIGINT) AS lev_meta
        |FROM documents""".stripMargin)),
    Query("q23_percentile", (s, d) => Relational.percentiles(s, d),
      Some("""SELECT l_returnflag,
        |round(quantile_disc(l_extendedprice, 0.5),2) AS p50,
        |round(quantile_disc(l_extendedprice, 0.9),2) AS p90,
        |count(*) AS n FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Query("q24_window_misc", (s, d) => Relational.windowMisc(s, d),
      Some("""SELECT event_id, user_id,
        |coalesce(lead(event_id) OVER w, -1) AS next_event,
        |first_value(event_id) OVER w AS first_event,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin)),
    Query("q25_dates", (s, d) => Relational.dateFunctions(s, d),
      Some("""SELECT o_orderkey,
        |CAST(year(o_orderdate) AS BIGINT) AS yr,
        |CAST(month(o_orderdate) AS BIGINT) AS mo,
        |CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
        |strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus90
        |FROM orders""".stripMargin)),
    Query("q26_strings", (s, d) => Relational.stringFunctions(s, d),
      Some("""SELECT c_custkey,
        |upper(c_mktsegment) AS seg_up,
        |substring(c_name, 1, 8) AS name8,
        |concat_ws('|', c_mktsegment, c_name) AS joined,
        |lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS digits,
        |CAST(length(c_name) AS BIGINT) AS name_len
        |FROM customer""".stripMargin)),
    Query("q27_approx_distinct", (s, d) => Relational.approxDistinct(s, d),
      Some("""SELECT count(DISTINCT l_partkey) AS n_exact,
        |(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |  <= count(DISTINCT l_partkey) * 0.1) AS approx_ok
        |FROM lineitem""".stripMargin)),
    Query("q28_from_json", (s, d) => Relational.jsonStruct(s, d),
      Some("""SELECT event_type,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        |count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Query("q29_range_frame", (s, d) => Relational.windowRangeFrame(s, d),
      Some("""SELECT event_id, user_id,
        |count(*) OVER w AS n_10min,
        |round(sum(value) OVER w, 2) AS sum_10min
        |FROM (SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
        |  RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)""".stripMargin)),
    Query("q30_scalar_subquery", (s, d) => Relational.scalarSubquery(s, d),
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders
        |WHERE o_totalprice > (SELECT max(s_acctbal) FROM supplier) * 20""".stripMargin)),
    Query("q31_grouping_sets", (s, d) => Relational.groupingSets(s, d),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin)),
    Query("q32_window_dist", (s, d) => Relational.windowDistribution(s, d),
      Some("""SELECT event_id, user_id,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cdist,
        |coalesce(nth_value(event_id, 3) OVER w, -1) AS third_event
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)""".stripMargin)),
    Query("q33_conditional_agg", (s, d) => Relational.conditionalAgg(s, d),
      Some("""SELECT l_returnflag,
        |count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |round(sum(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0.0 END), 2) AS px_bulk,
        |count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Query("q34_string_agg", (s, d) => Relational.stringAggNations(s, d),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |string_agg(c_name, ',' ORDER BY c_name) AS names,
        |count(*) AS n
        |FROM customer WHERE c_custkey <= 200 GROUP BY 1""".stripMargin)),
    Query("q35_unpivot", (s, d) => Relational.unpivotMeasures(s, d),
      Some("""WITH agg AS (
        |  SELECT l_returnflag, round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_price, round(sum(l_discount),2) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, 'qty' AS measure, sum_qty AS val FROM agg
        |UNION ALL SELECT l_returnflag, 'price' AS measure, sum_price AS val FROM agg
        |UNION ALL SELECT l_returnflag, 'disc' AS measure, sum_disc AS val FROM agg""".stripMargin)),
    Query("q36_session_window", (s, d) => Relational.sessionWindows(s, d),
      // q36: gaps-and-islands sessionization — a new session starts when the
      // gap from the previous event is >= 10 min (matching session_window's
      // half-open [start, last+gap) boundary); session end = last + gap.
      Some("""WITH marked AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM sess GROUP BY user_id, sid""".stripMargin)),
    Query("q37_full_outer", (s, d) => Relational.reconcileEpochs(s, d),
      // q37: FULL OUTER reconciliation of two deterministic epoch views —
      // same md5 content hashes both engines (parity proven by q12).
      Some("""WITH prev AS (
        |  SELECT doc_id AS a_id, md5(text) AS a_hash
        |  FROM documents WHERE doc_id % 10 <> 0
        |), cur AS (
        |  SELECT doc_id AS b_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || '[rev]' ELSE text END) AS b_hash
        |  FROM documents WHERE doc_id % 7 <> 0
        |)
        |SELECT coalesce(a_id, b_id) AS doc_id,
        |  CASE WHEN a_id IS NULL THEN 'new'
        |       WHEN b_id IS NULL THEN 'gone'
        |       WHEN a_hash <> b_hash THEN 'revised'
        |       ELSE 'unchanged' END AS change
        |FROM prev FULL OUTER JOIN cur ON a_id = b_id""".stripMargin)),
    Query("q38_pivot", (s, d) => Relational.pivotStatusRevenue(s, d),
      // q38: pivot == conditional aggregation per pinned value (sum over an
      // empty set is NULL in both engines)
      Some("""SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS rev_f,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS rev_o,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS rev_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),
    // q39: stream-STREAM interval join (click->purchase attribution within
    // 30 min, both sides watermarked streams) — final table == the batch
    // interval join, which is what the oracle checks
    Query("q39_stream_join", (s, d) => graft.streaming.StreamingJobs.streamStreamAttribution(s, d),
      // q39: the stream-stream interval join's final table is the plain
      // batch interval join; purchase_value passes through UNROUNDED (both
      // engines re-emit the same parquet doubles, no arithmetic)
      Some("""SELECT a.event_id AS click_id, a.user_id AS user_id,
        |  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  b.event_id AS purchase_id,
        |  strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  b.value AS purchase_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin)),
    Query("q40_exists_subquery", (s, d) => Relational.existsSubquery(s, d),
      Some("""SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),
    // q41: MapType breadth — map built/read on the Spark side; the oracle
    // checks the same scalars relationally (maps never cross the gate)
    Query("q41_map_functions", (s, d) => Relational.mapFunctions(s, d),
      Some("""SELECT o_custkey,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |  CAST(count(*) AS BIGINT) AS n_total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    // q42: correlated scalar subquery in SELECT — the subquery family's
    // last member (q30 uncorrelated scalar, q40 correlated EXISTS)
    Query("q42_correlated_scalar", (s, d) => Relational.correlatedScalarSubquery(s, d),
      Some("""SELECT c_custkey,
        |  round(coalesce((SELECT max(o.o_totalprice) FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey), 0.0), 2) AS max_order
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin)),
    // q43: EXCEPT ALL / INTERSECT ALL — bag-semantics set ops
    Query("q43_setops_all", (s, d) => Relational.setOpsAll(s, d),
      Some("""SELECT 'except_all' AS op, o_custkey FROM
        |  (SELECT o_custkey FROM orders
        |   EXCEPT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'intersect_all' AS op, o_custkey FROM
        |  (SELECT o_custkey FROM orders
        |   INTERSECT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY op, o_custkey""".stripMargin)),
    // q44: bitwise aggregates — flag-mask folds
    Query("q44_bitwise_agg", (s, d) => Relational.bitwiseAgg(s, d),
      Some("""SELECT l_returnflag,
        |  CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS mask_and,
        |  CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS mask_or,
        |  CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS mask_xor,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // q45: LATERAL correlated subquery — top-k per outer row, the join
    // form the window idiom (q05) can't express declaratively
    Query("q45_lateral_join", (s, d) => Relational.lateralJoin(s, d),
      Some("""SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, acctbal DESC, c.c_name""".stripMargin)),
    // q46: IGNORE NULLS windows — carry-forward + nearest non-null
    // neighbors (gap-filling over sparse measurements)
    Query("q46_ignore_nulls", (s, d) => Relational.ignoreNullsWindow(s, d),
      Some("""WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'click' THEN NULL ELSE round(value, 2) END AS x
        |  FROM events
        |)
        |SELECT CAST(event_id AS BIGINT) AS event_id,
        |  last_value(x IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_fwd,
        |  lag(x, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_nn,
        |  lead(x, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_nn
        |FROM e ORDER BY event_id""".stripMargin)),
    // q47: null-aware anti join — NOT IN's ANSI tri-state semantics
    // (one planted NULL empties the branch; plain anti join would not)
    Query("q47_not_in_null", (s, d) => Relational.notInNullAware(s, d),
      Some("""SELECT 'no_null' AS op, c_custkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'with_null' AS op, c_custkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
        |   FROM orders)
        |ORDER BY op, c_custkey""".stripMargin)),
    // q48: RECURSIVE CTE multi-hop reachability (UnionLoop) — BFS min-hop
    // crawl depth from a seed host as ONE declarative plan
    Query("q48_recursive_cte", (s, d) => Relational.recursiveReachability(s, d),
      // q48: identical ANSI recursive-CTE text runs on both engines; the
      // formula edge set bounds the expansion (out-degree 2, depth < 7)
      // despite cycles, and min-hop-per-node is order-independent.
      Some("""WITH RECURSIVE hops(node, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), h.depth + 1
        |  FROM hops h
        |  JOIN (
        |    SELECT n_nationkey AS src, (n_nationkey * 7 + 3) % 25 AS dst
        |    FROM nation
        |    UNION ALL
        |    SELECT n_nationkey AS src, (n_nationkey * 3 + 11) % 25 AS dst
        |    FROM nation
        |  ) e ON e.src = h.node
        |  WHERE h.depth < 7
        |)
        |SELECT h.node AS n_nationkey, n.n_name,
        |       CAST(MIN(h.depth) AS INT) AS min_hops
        |FROM hops h
        |JOIN nation n ON n.n_nationkey = h.node
        |GROUP BY h.node, n.n_name""".stripMargin)),
    // q49: version-chain retention thinning (the c48 kernel over orders —
    // window/first/boundary/stride survivors) in the HARD oracle gate
    Query("q49_retention_thinning", (s, d) => operators.RetentionOps.ordersRetention(s, d),
      // q49: retention thinning — reason priority window > first > boundary
      // > stride; old rows rank 1..n_old because they sort before the
      // boundary; both engines emit (id, seq, reason) BIGINT/BIGINT/VARCHAR.
      Some("""WITH v AS (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS id,
        |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS seq
        |  FROM orders
        |), f AS (
        |  SELECT id, seq,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY seq) AS BIGINT) AS rk,
        |    CAST(count(CASE WHEN seq < 2001 THEN 1 END)
        |         OVER (PARTITION BY id) AS BIGINT) AS n_old
        |  FROM v
        |)
        |SELECT id, seq,
        |  CASE WHEN seq >= 2001 THEN 'window'
        |       WHEN rk = 1 THEN 'first'
        |       WHEN rk = n_old THEN 'boundary'
        |       WHEN (rk - 1) % 5 = 0 THEN 'stride' END AS reason
        |FROM f
        |WHERE (CASE WHEN seq >= 2001 THEN 'window'
        |            WHEN rk = 1 THEN 'first'
        |            WHEN rk = n_old THEN 'boundary'
        |            WHEN (rk - 1) % 5 = 0 THEN 'stride' END) IS NOT NULL""".stripMargin)),
    // q50: generic AS-OF join (tag-union + running last-ignoreNulls window,
    // one exchange, no range explosion) vs DuckDB's NATIVE ASOF JOIN
    Query("q50_asof_join", (s, d) => Relational.asofAttribution(s, d),
      // q50: DuckDB's native ASOF LEFT JOIN against our tag-union window
      // form; right side pre-deduped per (user, ts) so the match is unique;
      // gap in exact microseconds (ts is us-precision — 'second' granularity
      // would count boundary crossings, not elapsed time).
      Some("""WITH su AS (
        |  SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS signup_event
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
        |), pu AS (
        |  SELECT user_id, ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT CAST(p.event_id AS BIGINT) AS purchase_event,
        |  CAST(p.user_id AS BIGINT) AS user_id,
        |  s.signup_event,
        |  CAST(date_diff('microsecond', s.ts, p.ts) AS BIGINT) AS gap_us
        |FROM pu p ASOF LEFT JOIN su s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin)),
    // q51: statistical / regression aggregates (corr, covar, regr_* fit)
    // in one fused hash-agg pass
    Query("q51_stats_agg", (s, d) => Relational.statsAgg(s, d),
      // q51: identical aggregate definitions in both engines (corr /
      // covar_samp / covar_pop / regr_slope / regr_intercept / regr_r2 /
      // var_samp / stddev_pop); 4dp rounding absorbs summation-order noise.
      Some("""SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qp,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept_pq,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2_pq,
        |  round(var_samp(l_discount), 4) AS var_disc,
        |  round(stddev_pop(l_tax), 4) AS sdp_tax,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin)),
    // q52: fixed-width histogram via width_bucket; DuckDB oracle spells
    // out the identical double arithmetic
    Query("q52_histogram", (s, d) => Relational.histogramBuckets(s, d),
      // q52: DuckDB has no width_bucket — the CASE spells out Spark's exact
      // double arithmetic ((n*(v-lo))/(hi-lo) truncated; <lo -> 0,
      // >=hi -> n+1). floor() before the cast because DuckDB's
      // double->BIGINT cast ROUNDS where Spark's .toLong truncates.
      Some("""SELECT bucket, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN l_extendedprice < 900.0 THEN 0
        |    WHEN l_extendedprice >= 105000.0 THEN 17
        |    ELSE CAST(floor(16.0 * (l_extendedprice - 900.0)
        |                    / (105000.0 - 900.0)) AS BIGINT) + 1 END AS bucket
        |  FROM lineitem)
        |GROUP BY 1""".stripMargin)),
    // q53: mirror-host detection — content-hash overlap >=90% of the
    // smaller host's distinct pages (hosts + 16-byte hashes on exchanges)
    Query("q53_mirror_hosts", (s, d) => Relational.mirrorHosts(s, d),
      // q53: mirror-host detection — planted '-m' hosts serve every third
      // page; flag pairs whose content-hash overlap covers >=90% of the
      // smaller host (integer compare, no floats).
      Some("""WITH idx0 AS (
        |  SELECT DISTINCT host, ch FROM (
        |    SELECT source AS host, md5(text) AS ch FROM documents
        |    UNION ALL
        |    SELECT source || '-m' AS host, md5(text) AS ch
        |    FROM documents WHERE doc_id % 3 = 0)
        |), idx AS (
        |  SELECT host, ch FROM idx0
        |  WHERE ch NOT IN (SELECT ch FROM idx0 GROUP BY ch HAVING count(*) > 32)
        |), sizes AS (
        |  SELECT host, count(*) AS sz FROM idx GROUP BY 1
        |), pairs AS (
        |  SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_inter
        |  FROM idx a JOIN idx b ON a.ch = b.ch AND a.host < b.host
        |  GROUP BY 1, 2
        |)
        |SELECT host_a, host_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b
        |FROM pairs
        |JOIN sizes sa ON host_a = sa.host
        |JOIN sizes sb ON host_b = sb.host
        |WHERE n_inter * 10 >= least(sa.sz, sb.sz) * 9""".stripMargin)),
    // q54: Spark-4 VARIANT semi-structured path (parse_json once ->
    // typed variant_get) vs q10's per-access string parsing
    Query("q54_variant", (s, d) => Relational.variantExtract(s, d),
      // q54: DuckDB extracts the same typed value via JSON path functions
      // (no VARIANT there) — values must agree across representations.
      Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |GROUP BY 1""".stripMargin)),
    // q55: registrable-domain (eTLD+1) rollup — pure-Column longest
    // public-suffix match (UrlKit snapshot), oracle re-derives it in
    // DuckDB CASE/list SQL independently
    Query("q55_domain_rollup", (s, d) => operators.DomainOps.domainRollup(s, d),
      // q55: identical host synthesis, then an INDEPENDENT longest-suffix
      // formulation: only multi-label public suffixes need cases — known
      // single-label TLDs and the unknown-TLD fallback both take 2 labels.
      Some("""WITH hosts AS (
        |  SELECT (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'img.'
        |            ELSE '' END)
        |    || 'site' || CAST(doc_id % 97 AS VARCHAR) || '.'
        |    || (CASE doc_id % 7 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
        |          WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au'
        |          WHEN 5 THEN 'co.jp' ELSE 'weird.zz' END) AS host
        |  FROM documents
        |  UNION ALL
        |  SELECT 'co.uk' FROM documents WHERE doc_id % 50 = 0
        |), dom AS (
        |  SELECT host,
        |    CASE WHEN host = 'co.uk' OR host LIKE '%.co.uk'
        |           OR host = 'org.uk' OR host LIKE '%.org.uk'
        |           OR host = 'ac.uk' OR host LIKE '%.ac.uk'
        |           OR host = 'gov.uk' OR host LIKE '%.gov.uk'
        |           OR host = 'com.au' OR host LIKE '%.com.au'
        |           OR host = 'net.au' OR host LIKE '%.net.au'
        |           OR host = 'org.au' OR host LIKE '%.org.au'
        |           OR host = 'co.jp' OR host LIKE '%.co.jp'
        |           OR host = 'ne.jp' OR host LIKE '%.ne.jp'
        |           OR host = 'or.jp' OR host LIKE '%.or.jp'
        |           OR host = 'com.br' OR host LIKE '%.com.br'
        |           OR host = 'com.mx' OR host LIKE '%.com.mx'
        |         THEN 2 ELSE 1 END AS nsuf,
        |    string_split(host, '.') AS parts
        |  FROM hosts
        |)
        |SELECT array_to_string(parts[greatest(1, len(parts) - nsuf):], '.')
        |    AS domain,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM dom GROUP BY 1""".stripMargin)),
    // q56: GROUPING SETS proper — a multi-group shape rollup/cube can't
    // express (two independent one-column groupings, no grand total)
    Query("q56_grouping_sets", (s, d) => Relational.groupingSetsOrders(s, d),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice),2) AS total FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)),
    // q57: Z-order clustering zone maps — the write-time layout tool for
    // multi-column scan pruning (Morton bit-interleave, engine-exact)
    Query("q57_zorder_zones", (s, d) => operators.LayoutOps.zorderZones(s, d),
      // q57: the same Morton magic-number spread spelled step by step
      // (masks 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555 in
      // decimal); all BIGINT so both engines stay sign-free
      Some("""WITH base AS (
        |  SELECT CAST(l_partkey AS BIGINT) % 65536 AS pk,
        |         CAST(l_suppkey AS BIGINT) % 65536 AS sk
        |  FROM lineitem
        |), s1 AS (
        |  SELECT pk, sk,
        |    ((pk & 65535) | ((pk & 65535) << 8)) & 16711935 AS xa,
        |    ((sk & 65535) | ((sk & 65535) << 8)) & 16711935 AS xb
        |  FROM base
        |), s2 AS (
        |  SELECT pk, sk, (xa | (xa << 4)) & 252645135 AS xa,
        |         (xb | (xb << 4)) & 252645135 AS xb FROM s1
        |), s3 AS (
        |  SELECT pk, sk, (xa | (xa << 2)) & 858993459 AS xa,
        |         (xb | (xb << 2)) & 858993459 AS xb FROM s2
        |), s4 AS (
        |  SELECT pk, sk, (xa | (xa << 1)) & 1431655765 AS xa,
        |         (xb | (xb << 1)) & 1431655765 AS xb FROM s3
        |), keyed AS (
        |  SELECT pk, sk, xa | (xb << 1) AS z FROM s4
        |), zoned AS (
        |  SELECT pk, sk, z, CAST(ntile(32) OVER (
        |      ORDER BY z ASC, pk ASC, sk ASC) AS INT) AS zone
        |  FROM keyed
        |)
        |SELECT zone, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(pk) AS pk_min, max(pk) AS pk_max,
        |  min(sk) AS sk_min, max(sk) AS sk_max,
        |  min(z) AS z_min, max(z) AS z_max
        |FROM zoned GROUP BY zone""".stripMargin)),
    // q58: gaps-and-islands — consecutive active days per (user, type)
    // via the day-minus-row_number constant; no self-join
    Query("q58_activity_islands", (s, d) => Relational.activityIslands(s, d),
      // q58: same row_number trick; dates rendered as strings (timestamp
      // columns leave results only as formatted strings per convention)
      Some("""WITH dd AS (
        |  SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS dy
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_type, dy,
        |    dy - CAST(row_number() OVER (
        |      PARTITION BY user_id, event_type ORDER BY dy) AS INTEGER) AS grp
        |  FROM dd
        |)
        |SELECT user_id, event_type,
        |  strftime(min(dy), '%Y-%m-%d') AS start_day,
        |  strftime(max(dy), '%Y-%m-%d') AS end_day,
        |  CAST(count(*) AS BIGINT) AS n_days
        |FROM g GROUP BY user_id, event_type, grp""".stripMargin)),
    // q59: deterministic mode + lower median from ONE value histogram —
    // the scalable exact-median shape (no full-row sort, no approx sketch)
    Query("q59_mode_median", (s, d) => Relational.modeMedian(s, d),
      // q59: same histogram + windows; mode ties break on smallest value,
      // median is the LOWER median ((n+1) div 2 ordinal) — all integer
      Some("""WITH hist AS (
        |  SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3
        |), md AS (
        |  SELECT l_returnflag, l_linestatus, qty AS mode_qty, cnt AS mode_cnt
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY l_returnflag, l_linestatus
        |      ORDER BY cnt DESC, qty ASC) AS rn FROM hist)
        |  WHERE rn = 1
        |), me AS (
        |  SELECT l_returnflag, l_linestatus, qty AS median_lo_qty,
        |    total AS n_rows
        |  FROM (SELECT *,
        |      CAST(sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus
        |        ORDER BY qty) AS BIGINT) AS cum,
        |      CAST(sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus)
        |        AS BIGINT) AS total FROM hist)
        |  WHERE cum - cnt < (total + 1) // 2 AND (total + 1) // 2 <= cum
        |)
        |SELECT md.l_returnflag, md.l_linestatus, mode_qty, mode_cnt,
        |  median_lo_qty, n_rows
        |FROM md JOIN me USING (l_returnflag, l_linestatus)""".stripMargin)),
    // q60: SCD2 dimension build — lag change-detect + lead interval-close,
    // one exchange on the dimension key, open rows at the 9999-12-31 sentinel
    Query("q60_scd2_dimension", (s, d) => Relational.scd2Dimension(s, d),
      // q60: same two-window SCD2 build; dates as strings, open intervals at
      // the 9999-12-31 sentinel so hashing never sees NULL ordering
      Some("""WITH ch AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_status
        |  FROM orders
        |), f AS (
        |  SELECT * FROM ch
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
        |)
        |SELECT o_custkey AS cust_id, o_orderstatus AS status,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
        |    '9999-12-31') AS valid_to,
        |  CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM f
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey)""".stripMargin)),
    // q61: ordered funnel — three min-filter aggs chained by user-key joins
    Query("q61_funnel", (s, d) => Relational.funnelStages(s, d),
      // q61: same min-filter agg chain; strict-after (>) comparisons on
      // microsecond integers, -1 sentinel for unreached stages
      Some("""WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, min(us) AS t_view_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT ev.user_id, min(ev.us) AS t_click_us
        |  FROM ev JOIN v USING (user_id)
        |  WHERE ev.event_type = 'click' AND ev.us > v.t_view_us
        |  GROUP BY ev.user_id
        |), p AS (
        |  SELECT ev.user_id, min(ev.us) AS t_purchase_us
        |  FROM ev JOIN c USING (user_id)
        |  WHERE ev.event_type = 'purchase' AND ev.us > c.t_click_us
        |  GROUP BY ev.user_id
        |)
        |SELECT v.user_id,
        |  CAST(1 + CASE WHEN c.t_click_us IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN p.t_purchase_us IS NULL THEN 0 ELSE 1 END AS INT)
        |    AS stage_reached,
        |  v.t_view_us,
        |  coalesce(c.t_click_us, -1) AS t_click_us,
        |  coalesce(p.t_purchase_us, -1) AS t_purchase_us
        |FROM v LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)""".stripMargin)),
    // q62: retention cohorts over the (user, day) distinct grid
    Query("q62_retention", (s, d) => Relational.retentionCohorts(s, d),
      // q62: same distinct-day grid + min cohort day + datediff offset
      Some("""WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
        |), cohort AS (
        |  SELECT user_id, min(dy) AS cohort_day FROM days GROUP BY user_id
        |)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(dy - cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT days.user_id) AS BIGINT) AS n_users
        |FROM days JOIN cohort USING (user_id)
        |GROUP BY cohort.cohort_day, dy - cohort_day""".stripMargin)),
    // q63: basket-keyed co-occurrence pairs (support >= 2)
    Query("q63_cooccurrence", (s, d) => Relational.coOccurrencePairs(s, d),
      // q63: same basket self-join; DISTINCT first so support counts orders
      Some("""WITH d AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |)
        |SELECT a.pk AS part_a, b.pk AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM d a JOIN d b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY a.pk, b.pk
        |HAVING count(*) >= 2""".stripMargin)),
    // q64: sweep-line max concurrency, half-open intervals
    Query("q64_max_concurrency", (s, d) => Relational.maxConcurrency(s, d),
      // q64: same sweep — ends (-1) sort before starts (+1) at equal t
      Some("""WITH iv AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (event_id % 3600) * 1000000 AS e
        |  FROM events
        |), pts AS (
        |  SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
        |  UNION ALL
        |  SELECT event_type, e AS t, -1 AS delta, event_id FROM iv
        |), run AS (
        |  SELECT event_type, t,
        |    sum(delta) OVER (PARTITION BY event_type
        |      ORDER BY t, delta, event_id) AS conc
        |  FROM pts
        |), mx AS (
        |  SELECT event_type, t, conc,
        |    max(conc) OVER (PARTITION BY event_type) AS max_conc
        |  FROM run
        |)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent,
        |  min(t) AS first_at_us
        |FROM mx WHERE conc = max_conc GROUP BY event_type""".stripMargin)),
    // q65: Gini skew index — integer cents, one final rounded division
    Query("q65_gini_skew", (s, d) => Relational.giniRevenue(s, d),
      // q65: same integer-cents Gini; the single double division at the end
      Some("""WITH cents AS (
        |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100)
        |    AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT n_name, cents,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY cents, o_custkey) AS BIGINT) AS i
        |  FROM cents
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round((2.0 * sum(i * cents) - (count(*) + 1.0) * sum(cents)) /
        |    (CAST(count(*) AS DOUBLE) * sum(cents)), 4) AS gini
        |FROM ranked GROUP BY n_name""".stripMargin)),
    // q66: rolling 7-day distinct users — linear explode-by-offset shape
    Query("q66_rolling_wau", (s, d) => Relational.rollingWau(s, d),
      // q66: same explode-by-offset rolling distinct
      Some("""WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
        |), spine AS (
        |  SELECT DISTINCT dy AS sd FROM grid
        |), expanded AS (
        |  SELECT g.user_id, g.dy + CAST(k.k AS INTEGER) AS sd
        |  FROM grid g CROSS JOIN
        |    (SELECT unnest(generate_series(0, 6)) AS k) k
        |), wau AS (
        |  SELECT e.sd, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
        |  FROM expanded e JOIN spine USING (sd) GROUP BY e.sd
        |), dau AS (
        |  SELECT dy AS sd, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM grid GROUP BY dy
        |)
        |SELECT strftime(wau.sd, '%Y-%m-%d') AS day, wau, dau
        |FROM wau JOIN dau USING (sd)""".stripMargin)),
    // q67: Pearson correlation from exact integer moments
    Query("q67_correlation", (s, d) => Relational.corrPricing(s, d),
      // q67: same integer moments; HUGEINT sums cast to double at the end
      Some("""WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem)
        |  GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |      (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)
        |    AS corr_qty_price
        |FROM m""".stripMargin)),
    // q68: regression slope/intercept/r² from the same integer moments
    Query("q68_regression", (s, d) => Relational.regressionPricing(s, d),
      // q68: same moment discipline; slope/intercept/r2 one expression each
      Some("""WITH m AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM (SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem)
        |  GROUP BY l_returnflag, l_linestatus
        |)
        |SELECT l_returnflag, l_linestatus, n,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4) AS slope,
        |  round((CAST(sy AS DOUBLE) -
        |    ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |     (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) /
        |    CAST(n AS DOUBLE), 4) AS intercept,
        |  round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
        |         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
        |    ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |     (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4) AS r2
        |FROM m""".stripMargin)),
    // q69: Shannon entropy from a value histogram, fixed-point term sums
    Query("q69_entropy", (s, d) => Relational.entropyQuantities(s, d),
      // q69: same histogram; per-term cnt*log2(cnt) quantized to 1e-6 longs
      // so the cross-engine sum is integer-exact (ln/ln(2) on both sides)
      Some("""WITH hist AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_returnflag, qty
        |)
        |SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(ln(CAST(sum(cnt) AS DOUBLE)) / ln(2.0) -
        |    (CAST(sum(CAST(round(CAST(cnt AS DOUBLE) *
        |        (ln(CAST(cnt AS DOUBLE)) / ln(2.0)) * 1e6) AS BIGINT))
        |      AS DOUBLE) / 1e6) / CAST(sum(cnt) AS DOUBLE), 4)
        |    AS entropy_bits
        |FROM hist GROUP BY l_returnflag""".stripMargin)),
    // q70: median absolute deviation, integer-exact lower medians
    Query("q70_mad", (s, d) => Relational.madQuantities(s, d),
      // q70: lower medians over the compressed histogram, integers only
      Some("""WITH hist AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_returnflag, qty
        |), med AS (
        |  SELECT l_returnflag, qty AS med, total FROM (
        |    SELECT l_returnflag, qty, cnt,
        |      sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY qty) AS cum,
        |      sum(cnt) OVER (PARTITION BY l_returnflag) AS total
        |    FROM hist)
        |  WHERE cum - cnt < (total + 1) // 2 AND (total + 1) // 2 <= cum
        |), devhist AS (
        |  SELECT h.l_returnflag, abs(h.qty - m.med) AS dev,
        |    CAST(sum(h.cnt) AS BIGINT) AS cnt
        |  FROM hist h JOIN med m ON h.l_returnflag = m.l_returnflag
        |  GROUP BY h.l_returnflag, dev
        |)
        |SELECT d.l_returnflag, m.med AS median_qty, d.dev AS mad,
        |  CAST(d.total AS BIGINT) AS n_rows
        |FROM (
        |  SELECT l_returnflag, dev, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY dev) AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS total
        |  FROM devhist) d
        |JOIN med m ON d.l_returnflag = m.l_returnflag
        |WHERE d.cum - d.cnt < (d.total + 1) // 2
        |  AND (d.total + 1) // 2 <= d.cum""".stripMargin)),
    // q71: ordered-set array aggregation (collect/sort/slice surface)
    Query("q71_topk_array", (s, d) => Relational.topQuantitiesArray(s, d),
      // q71: DuckDB's ordered list() aggregate mirrors sort-inside-the-agg
      Some("""SELECT l_returnflag,
        |  (list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT) DESC))[1:3]
        |    AS top3_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // q72: exact weighted percentiles — cumsum over per-distinct-value
    // weights, BIGINT cents throughout, weighted-lower-percentile pick
    Query("q72_weighted_percentile", (s, d) => Relational.weightedPercentiles(s, d),
      // q72: same BIGINT-cents cumsum over per-distinct-qty weights; the
      // weighted lower percentile is an integer pick, hash-exact
      Some("""WITH perq AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT l_returnflag, qty, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM perq
        |)
        |SELECT l_returnflag,
        |  min(CASE WHEN cumw * 100 >= totw * 50 THEN qty END) AS p50_qty,
        |  min(CASE WHEN cumw * 100 >= totw * 90 THEN qty END) AS p90_qty,
        |  min(CASE WHEN cumw * 100 >= totw * 99 THEN qty END) AS p99_qty,
        |  CAST(max(totw) AS BIGINT) AS total_cents
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // q73: exact Spearman rank correlation (row_number ranks, BIGINT
    // sum of squared rank diffs, one rounded division) — oracled
    Query("q73_spearman", (s, d) => Relational.spearmanSupplier(s, d),
      // q73: same row_number ranks (x desc, suppkey asc), same BIGINT d²
      // sum, one rounded division — hash-exact
      Some("""WITH per AS (
        |  SELECT l_returnflag, l_suppkey,
        |    sum(CAST(l_quantity AS BIGINT)) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), ranked AS (
        |  SELECT l_returnflag,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY qty DESC, l_suppkey ASC) AS BIGINT) AS rx,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents DESC, l_suppkey ASC) AS BIGINT) AS ry
        |  FROM per
        |)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
        |  CASE WHEN count(*) > 1 THEN
        |    round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE) /
        |      (CAST(count(*) AS DOUBLE) * count(*) * count(*) - count(*)), 6)
        |  ELSE 1.0 END AS spearman_rho
        |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // q74: geometric + harmonic means via fixed-point quantized terms
    // (integer sums, one final expression each) — oracled
    Query("q74_means", (s, d) => Relational.meansQuantities(s, d),
      // q74: same 1e-6 log2 / 1e9 reciprocal fixed-point terms, BIGINT
      // sums, one final expression each — hash-exact
      Some("""WITH per AS (
        |  SELECT l_returnflag,
        |    CAST(round(log2(CAST(l_quantity AS BIGINT)) * 1e6) AS BIGINT)
        |      AS qlog,
        |    CAST(round(1e9 / CAST(l_quantity AS BIGINT)) AS BIGINT) AS qinv
        |  FROM lineitem
        |)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(pow(2.0, CAST(sum(qlog) AS DOUBLE) / count(*) / 1e6), 4)
        |    AS gmean_qty,
        |  round(CAST(count(*) AS DOUBLE) * 1e9 / CAST(sum(qinv) AS DOUBLE), 4)
        |    AS hmean_qty
        |FROM per GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // q75: trimmed + winsorized means — exact order statistics over
    // integers (rank-range sums are tie-permutation invariant) — oracled
    Query("q75_robust_means", (s, d) => Relational.robustMeans(s, d),
      // q75: same rank ranges (tie order cannot matter — rank-range sums
      // select a fixed multiset of values), same integer sums, one rounded
      // division each — hash-exact
      Some("""WITH ranked AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY
        |      CAST(l_quantity AS BIGINT)) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |), kd AS (
        |  SELECT *, CAST(floor(n / 10) AS BIGINT) AS k FROM ranked
        |)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n, max(k) AS k,
        |  max(CASE WHEN rn = k + 1 THEN qty END) AS lo,
        |  max(CASE WHEN rn = n - k THEN qty END) AS hi,
        |  round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN qty END)
        |    AS DOUBLE) / (max(n) - 2 * max(k)), 4) AS trimmed_mean,
        |  round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN qty END)
        |    + max(k) * (max(CASE WHEN rn = k + 1 THEN qty END)
        |      + max(CASE WHEN rn = n - k THEN qty END)) AS DOUBLE)
        |    / max(n), 4) AS winsorized_mean
        |FROM kd GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // q76: chi-square independence + Cramér's V over lang × source —
    // integer-derived cell terms, 1e6 fixed-point sums — oracled
    Query("q76_chi_square", (s, d) => Relational.chiSquareMix(s, d),
      // q76: same (O·N − rT·cT)²/(rT·cT·N) integer-derived cell terms over
      // the FULL r×c grid (zero cells included), same 1e6 quantization,
      // IEEE sqrt for V — hash-exact
      Some("""WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2
        |), rt AS (
        |  SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1
        |), ct AS (
        |  SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rt) AS r,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ct) AS c
        |  FROM cells
        |), grid AS (
        |  SELECT rt.rt, ct.ct, coalesce(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source
        |), terms AS (
        |  SELECT n, r, c,
        |    CAST(round(CAST(o * n - rt * ct AS DOUBLE)
        |      * CAST(o * n - rt * ct AS DOUBLE)
        |      / CAST(rt * ct * n AS DOUBLE) * 1e6) AS BIGINT) AS term_q
        |  FROM grid CROSS JOIN tot
        |)
        |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
        |  CAST(sum(term_q) AS BIGINT) AS chi2_q,
        |  round(CAST(sum(term_q) AS DOUBLE) / 1e6, 4) AS chi2,
        |  round(sqrt(CAST(sum(term_q) AS DOUBLE) / 1e6
        |    / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 4) AS cramers_v
        |FROM terms GROUP BY n, r, c""".stripMargin)),
    // q77: exact Kendall tau-b from BIGINT pair counts (no tie-break
    // policy needed, unlike q73's rho) — oracled
    Query("q77_kendall", (s, d) => Relational.kendallSupplier(s, d),
      // q77: same per-supplier BIGINT aggregates, same pair-count
      // definitions (dx·dy sign), IEEE sqrt denominator — hash-exact
      Some("""WITH per AS (
        |  SELECT l_returnflag, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.l_returnflag,
        |    a.qty - b.qty AS dx, a.cents - b.cents AS dy
        |  FROM per a JOIN per b
        |    ON a.l_returnflag = b.l_returnflag AND a.l_suppkey < b.l_suppkey
        |), cnt AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nd,
        |    CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM pairs GROUP BY 1
        |)
        |SELECT l_returnflag, n0, nc, nd, n1, n2,
        |  round(CAST(nc - nd AS DOUBLE)
        |    / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)), 4) AS tau_b
        |FROM cnt ORDER BY l_returnflag""".stripMargin)),
    // q78: Theil concentration index decomposed between/within source —
    // integer-log sums; decomposition identity holds EXACTLY — oracled
    Query("q78_theil", (s, d) => Relational.theilDecomposition(s, d),
      // q78: same integer-log quantization (t45 discipline), same three
      // sums; the exact decomposition identity is hashed via the boolean
      Some("""WITH x AS (
        |  SELECT source, greatest(n_chars, 1) AS x FROM documents
        |), per AS (
        |  SELECT source, CAST(sum(x) AS BIGINT) AS sg,
        |    CAST(count(*) AS BIGINT) AS ng
        |  FROM x GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(sg) AS BIGINT) AS s, CAST(sum(ng) AS BIGINT) AS n
        |  FROM per
        |), sums AS (
        |  SELECT
        |    CAST(sum(x.x * (CAST(round(log2(x.x) * 1e6) AS BIGINT)
        |      + CAST(round(log2(t.n) * 1e6) AS BIGINT)
        |      - CAST(round(log2(t.s) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS tq_total,
        |    CAST(sum(x.x * (CAST(round(log2(x.x) * 1e6) AS BIGINT)
        |      + CAST(round(log2(p.ng) * 1e6) AS BIGINT)
        |      - CAST(round(log2(p.sg) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS tq_within,
        |    max(t.s) AS s, max(t.n) AS n
        |  FROM x JOIN per p ON p.source = x.source CROSS JOIN tot t
        |), btw AS (
        |  SELECT CAST(sum(p.sg * (CAST(round(log2(p.sg) * 1e6) AS BIGINT)
        |    + CAST(round(log2(t.n) * 1e6) AS BIGINT)
        |    - CAST(round(log2(p.ng) * 1e6) AS BIGINT)
        |    - CAST(round(log2(t.s) * 1e6) AS BIGINT))) AS BIGINT)
        |    AS tq_between
        |  FROM per p CROSS JOIN tot t
        |)
        |SELECT n, s AS total_chars,
        |  round(CAST(tq_total AS DOUBLE) / (CAST(s AS DOUBLE) * 1e6), 4)
        |    AS theil_total,
        |  round(CAST(tq_between AS DOUBLE) / (CAST(s AS DOUBLE) * 1e6), 4)
        |    AS theil_between,
        |  round(CAST(tq_within AS DOUBLE) / (CAST(s AS DOUBLE) * 1e6), 4)
        |    AS theil_within,
        |  tq_total = tq_between + tq_within AS decomposition_exact
        |FROM sums CROSS JOIN btw""".stripMargin)),
    // q79: pairwise Mann-Whitney U across event types — doubled tied
    // ranks keep every rank sum BIGINT; AUC in integer bp — oracled
    Query("q79_mannwhitney", (s, d) => Relational.mannWhitneyEvents(s, d),
      // q79: same doubled-tied-rank histogram; z from identical integers
      // with identical association
      Some("""WITH hist AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), types AS (SELECT DISTINCT event_type FROM hist),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM types a JOIN types b ON a.event_type < b.event_type
        |), m AS (
        |  SELECT ta, tb, value,
        |    CAST(sum(CASE WHEN event_type = ta THEN cnt ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = tb THEN cnt ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM pairs JOIN hist ON event_type = ta OR event_type = tb
        |  GROUP BY 1, 2, 3
        |), r AS (
        |  SELECT ta, tb, ca, cb, ca + cb AS t,
        |    2 * sum(ca + cb) OVER (PARTITION BY ta, tb ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (ca + cb) + 1 AS avg2
        |  FROM m
        |), g AS (
        |  SELECT ta AS type_a, tb AS type_b,
        |    CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(ca * avg2) AS BIGINT) AS r2_a,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, n_a, n_b,
        |  r2_a - n_a * (n_a + 1) AS u2_a,
        |  (10000 * (r2_a - n_a * (n_a + 1))) // (2 * n_a * n_b) AS auc_bp,
        |  round((CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
        |      - CAST(n_a * n_b AS DOUBLE))
        |    / (2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
        |          * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
        |      / 12.0)), 4) AS z
        |FROM g ORDER BY type_a, type_b""".stripMargin)),
    // q80: pairwise two-sample Kolmogorov-Smirnov — sup-gap numerator
    // exact by cross-multiplication (BIGINT max) — oracled
    Query("q80_ks_test", (s, d) => Relational.ksEvents(s, d),
      // q80: same merged histogram; sup-gap numerator cross-multiplied to
      // a BIGINT max; D and c from identical integers
      Some("""WITH hist AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), types AS (SELECT DISTINCT event_type FROM hist),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM types a JOIN types b ON a.event_type < b.event_type
        |), m AS (
        |  SELECT ta, tb, value,
        |    CAST(sum(CASE WHEN event_type = ta THEN cnt ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = tb THEN cnt ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM pairs JOIN hist ON event_type = ta OR event_type = tb
        |  GROUP BY 1, 2, 3
        |), c AS (
        |  SELECT ta, tb, ca, cb,
        |    sum(ca) OVER (PARTITION BY ta, tb ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (PARTITION BY ta, tb ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER (PARTITION BY ta, tb) AS na,
        |    sum(cb) OVER (PARTITION BY ta, tb) AS nb
        |  FROM m
        |), g AS (
        |  SELECT ta AS type_a, tb AS type_b,
        |    CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, n_a, n_b, ks_num,
        |  round(CAST(ks_num AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
        |  round(CAST(ks_num AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |    * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 4) AS c_stat
        |FROM g ORDER BY type_a, type_b""".stripMargin)),
    // q81: Benford first-digit audit — digit via decimal substring,
    // embedded ppm constants, integer shares — oracled
    Query("q81_benford", (s, d) => Relational.benfordPrices(s, d),
      // q81: same decimal-substring digit, same embedded ppm constants,
      // same (O-E)^2/E association
      Some("""WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit
        |  FROM cents WHERE cents > 0
        |), obs AS (
        |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
        |bf AS (
        |  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) AS v(digit, exp_ppm)
        |), j AS (
        |  SELECT CAST(bf.digit AS BIGINT) AS digit,
        |    coalesce(obs.n, 0) AS n,
        |    CAST(bf.exp_ppm AS BIGINT) AS exp_ppm, nt,
        |    CAST(nt * bf.exp_ppm AS DOUBLE) / 1e6 AS e
        |  FROM bf LEFT JOIN obs ON obs.digit = bf.digit CROSS JOIN tot
        |)
        |SELECT digit, n, (1000000 * n) // nt AS obs_ppm, exp_ppm,
        |  (1000000 * n) // nt - exp_ppm AS delta_ppm,
        |  round((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 4)
        |    AS chi2_term
        |FROM j ORDER BY digit""".stripMargin)),
    // q82: Theil-Sen robust slope — median pairwise rational under a
    // fully deterministic order, exact dy/dx shipped — oracled
    Query("q82_theil_sen", (s, d) => Relational.theilSenSupplier(s, d),
      // q82: same per-supplier integer basis, same deterministic
      // (slope, dy, dx, pair) order, same lower-median pick
      Some("""WITH per AS (
        |  SELECT l_returnflag, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), s AS (
        |  SELECT a.l_returnflag,
        |    b.qty - a.qty AS dx, b.cents - a.cents AS dy,
        |    CAST(b.cents - a.cents AS DOUBLE)
        |      / CAST(b.qty - a.qty AS DOUBLE) AS slope,
        |    a.l_suppkey AS ka, b.l_suppkey AS kb
        |  FROM per a JOIN per b ON a.l_returnflag = b.l_returnflag
        |    AND a.l_suppkey < b.l_suppkey
        |  WHERE b.qty - a.qty <> 0
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY slope, dy, dx, ka, kb) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS m
        |  FROM s
        |)
        |SELECT l_returnflag, CAST(m AS BIGINT) AS n_pairs,
        |  dy AS med_dy, dx AS med_dx,
        |  round(slope, 6) AS theil_sen_slope
        |FROM r WHERE rn = (m + 1) // 2
        |ORDER BY l_returnflag""".stripMargin)),
    // q83: Mann-Kendall monotone-trend test on daily series — BIGINT S
    // + tie-corrected variance, continuity-corrected z — oracled
    Query("q83_mann_kendall", (s, d) => Relational.mannKendallTrend(s, d),
      // q83: same daily aggregation, pair signs, tie correction, and
      // continuity-corrected z
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT a.event_type, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day
        |  GROUP BY 1
        |), ties AS (
        |  SELECT event_type,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
        |    CAST(sum(t) AS BIGINT) AS n
        |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
        |    FROM daily GROUP BY 1, 2)
        |  GROUP BY 1
        |), j AS (
        |  SELECT s.event_type, s.s, ties.n,
        |    n * (n - 1) * (2 * n + 5) - tie_term AS var18
        |  FROM s JOIN ties USING (event_type)
        |), zt AS (
        |  SELECT *, CASE
        |    WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z
        |  FROM j
        |)
        |SELECT event_type, n AS n_days, s, var18, round(z, 4) AS z,
        |  CASE WHEN round(z, 4) >= 1.96 THEN 'rising'
        |       WHEN round(z, 4) <= -1.96 THEN 'falling'
        |       ELSE 'no_trend' END AS verdict
        |FROM zt ORDER BY event_type""".stripMargin)),
    // q84: Gumbel block-maxima fit + 100-day return level — exact
    // integer moments, embedded constants — oracled
    Query("q84_gumbel_return", (s, d) => Relational.gumbelReturnLevel(s, d),
      // q84: same daily-max cents, exact moments, embedded sqrt6/pi and
      // Euler constants, identical association
      Some("""WITH mx AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    max(CAST(round(value * 100) AS BIGINT)) AS mx
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(mx) AS BIGINT) AS s,
        |    CAST(sum(mx * mx) AS BIGINT) AS ss
        |  FROM mx GROUP BY 1
        |), f AS (
        |  SELECT *,
        |    CAST(s AS DOUBLE) / n_blocks AS mean_max,
        |    sqrt((CAST(ss AS DOUBLE) / n_blocks
        |      - (CAST(s AS DOUBLE) / n_blocks)
        |      * (CAST(s AS DOUBLE) / n_blocks))
        |      * CAST(n_blocks AS DOUBLE)
        |      / (CAST(n_blocks AS DOUBLE) - 1.0)) AS sd
        |  FROM m
        |), g AS (
        |  SELECT *, sd * 0.7796968012336793 AS beta,
        |    mean_max - 0.5772156649015329 * (sd * 0.7796968012336793)
        |      AS mu
        |  FROM f
        |)
        |SELECT event_type, n_blocks, s, ss,
        |  round(mean_max, 4) AS mean_max,
        |  round(sd, 4) AS sd_max,
        |  round(mu, 4) AS gumbel_mu,
        |  round(beta, 4) AS gumbel_beta,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 100.0)), 4)
        |    AS return_level_100d
        |FROM g ORDER BY event_type""".stripMargin)),
    // q85: Wald-Wolfowitz runs test — exact lower-median split, BIGINT
    // run count, z-banded clustering verdict — oracled
    Query("q85_runs_test", (s, d) => Relational.runsTest(s, d),
      // q85: same lower-median split, lag transitions, and z association
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT *,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN x END)
        |      OVER (PARTITION BY event_type) AS med
        |  FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY x, day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM daily)
        |), signed AS (
        |  SELECT event_type, day,
        |    CASE WHEN x > med THEN 1 ELSE 0 END AS above
        |  FROM med WHERE x <> med
        |), runs AS (
        |  SELECT event_type, above,
        |    CASE WHEN lag(above) OVER (PARTITION BY event_type
        |        ORDER BY day) IS DISTINCT FROM above THEN 1 ELSE 0 END
        |      AS new_run
        |  FROM signed
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(new_run) AS BIGINT) AS r,
        |    CAST(sum(above) AS BIGINT) AS n_plus,
        |    CAST(sum(1 - above) AS BIGINT) AS n_minus
        |  FROM runs GROUP BY 1
        |), f AS (
        |  SELECT *, n_plus + n_minus AS nn,
        |    2.0 * n_plus * n_minus / CAST(n_plus + n_minus AS DOUBLE)
        |      + 1.0 AS mu_r
        |  FROM m
        |), z AS (
        |  SELECT *,
        |    round((CAST(r AS DOUBLE) - mu_r)
        |      / sqrt((mu_r - 1.0) * (mu_r - 2.0)
        |        / (CAST(nn AS DOUBLE) - 1.0)), 4) AS z
        |  FROM f
        |)
        |SELECT event_type, nn AS n_days_offmedian, n_plus, n_minus,
        |  r AS n_runs, round(mu_r, 4) AS expected_runs, z,
        |  CASE WHEN z <= -1.96 THEN 'clustered'
        |       WHEN z >= 1.96 THEN 'alternating'
        |       ELSE 'random' END AS verdict
        |FROM z ORDER BY event_type""".stripMargin)),
    // q86: ISO-weekday seasonality strength (correlation ratio) +
    // peak-day lift, quantized between-group terms — oracled
    Query("q86_seasonality", (s, d) => Relational.weekdaySeasonality(s, d),
      // q86: isodow == weekday()+1; same quantized between-group terms
      // and lift/eta2 arithmetic
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), d AS (
        |  SELECT *, CAST(isodow(day) AS BIGINT) AS dow FROM daily
        |), perdow AS (
        |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(x) AS BIGINT) AS sx
        |  FROM d GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx_all,
        |    CAST(sum(x * x) AS BIGINT) AS ssx_all
        |  FROM d GROUP BY 1
        |), j AS (
        |  SELECT p.*, t.n_days, t.sx_all, t.ssx_all,
        |    (10000 * p.sx * t.n_days) // (p.nd * t.sx_all) AS lift_bp,
        |    CAST(round(CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)
        |      / CAST(p.nd AS DOUBLE) * 1e6) AS BIGINT) AS ssb_term_q
        |  FROM perdow p JOIN tot t USING (event_type)
        |), jj AS (
        |  SELECT *, max(lift_bp) OVER (PARTITION BY event_type)
        |    AS max_lift
        |  FROM j
        |), g AS (
        |  SELECT event_type, max(n_days) AS n_days,
        |    max(sx_all) AS sx_all, max(ssx_all) AS ssx_all,
        |    CAST(sum(ssb_term_q) AS BIGINT) AS ssb_q,
        |    min(CASE WHEN lift_bp = max_lift THEN dow END) AS peak_dow,
        |    CAST(max(max_lift) AS BIGINT) AS peak_lift_bp
        |  FROM jj GROUP BY 1
        |), f AS (
        |  SELECT *, CAST(round(CAST(sx_all AS DOUBLE)
        |    * CAST(sx_all AS DOUBLE) / CAST(n_days AS DOUBLE) * 1e6)
        |    AS BIGINT) AS grand_q
        |  FROM g
        |)
        |SELECT event_type, n_days, sx_all, ssb_q, grand_q,
        |  round(CAST(ssb_q - grand_q AS DOUBLE)
        |    / (CAST(ssx_all AS DOUBLE) * 1e6 - CAST(grand_q AS DOUBLE)),
        |    4) AS eta2,
        |  peak_dow, peak_lift_bp
        |FROM f ORDER BY event_type""".stripMargin)),
    // q87: ACF at lags 1 and 7 — denominator-cleared integer centering,
    // exact num/den, one rounded division — oracled
    Query("q87_autocorrelation", (s, d) => Relational.autocorrelation(s, d),
      // q87: same integer centering and per-lag blocks
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), cc AS (
        |  SELECT event_type, day,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
        |      - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS c
        |  FROM daily
        |), l1 AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS k,
        |    CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN ck IS NOT NULL THEN c * ck ELSE 0 END)
        |      AS BIGINT) AS num,
        |    CAST(sum(c * c) AS BIGINT) AS den
        |  FROM (SELECT *, lag(c, 1) OVER (PARTITION BY event_type
        |    ORDER BY day) AS ck FROM cc)
        |  GROUP BY 1
        |), l7 AS (
        |  SELECT event_type, CAST(7 AS BIGINT) AS k,
        |    CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN ck IS NOT NULL THEN c * ck ELSE 0 END)
        |      AS BIGINT) AS num,
        |    CAST(sum(c * c) AS BIGINT) AS den
        |  FROM (SELECT *, lag(c, 7) OVER (PARTITION BY event_type
        |    ORDER BY day) AS ck FROM cc)
        |  GROUP BY 1
        |), u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l7)
        |SELECT event_type, k, n_days, num, den,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS acf
        |FROM u ORDER BY event_type, k""".stripMargin)),
    // q89: Fisher dispersion-index Poissonness test — one exact
    // rational statistic, verdict on rounded values — oracled
    Query("q89_dispersion", (s, d) => Relational.dispersionTest(s, d),
      // q89: same cleared rational T = (n·Σx² − (Σx)²)/Σx and rounded
      // band comparison
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1
        |), f AS (
        |  SELECT *, n * sxx - sx * sx AS num,
        |    round(CAST(n * sxx - sx * sx AS DOUBLE)
        |      / CAST(sx AS DOUBLE), 4) AS t_stat,
        |    round((CAST(n AS DOUBLE) - 1.0)
        |      + 2.0 * sqrt(2.0 * (CAST(n AS DOUBLE) - 1.0)), 4) AS hi,
        |    round((CAST(n AS DOUBLE) - 1.0)
        |      - 2.0 * sqrt(2.0 * (CAST(n AS DOUBLE) - 1.0)), 4) AS lo
        |  FROM m
        |)
        |SELECT event_type, n AS n_days, sx, num, t_stat,
        |  round(CAST(num AS DOUBLE) / CAST(sx AS DOUBLE)
        |    / (CAST(n AS DOUBLE) - 1.0), 4) AS dispersion,
        |  CASE WHEN t_stat > hi THEN 'overdispersed'
        |       WHEN t_stat < lo THEN 'underdispersed'
        |       ELSE 'poisson_consistent' END AS verdict
        |FROM f ORDER BY event_type""".stripMargin)),
    // q90: Jarque-Bera log-normality of doc lengths — quantized logs,
    // BIGINT power sums, rounded-JB verdict — oracled
    Query("q90_jarque_bera", (s, d) => Relational.jarqueBeraLengths(s, d),
      // q90: same 1e2-quantized logs, BIGINT power sums, identical
      // central-moment association
      Some("""WITH x AS (
        |  SELECT lang,
        |    CAST(round(log2(greatest(n_chars, 1)) * 100) AS BIGINT) AS x
        |  FROM documents
        |), m AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(x * x) AS BIGINT) AS s2,
        |    CAST(sum(x * x * x) AS BIGINT) AS s3,
        |    CAST(sum(x * x * x * x) AS BIGINT) AS s4
        |  FROM x GROUP BY 1
        |), f AS (
        |  SELECT *,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2
        |  FROM m
        |), g AS (
        |  SELECT *,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 2.0 * mean * mean * mean AS m3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 6.0 * mean * mean
        |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM f
        |), h AS (
        |  SELECT *, m3 / sqrt(m2 * m2 * m2) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS exk
        |  FROM g
        |), z AS (
        |  SELECT *, round(CAST(n AS DOUBLE) / 6.0
        |    * (skew * skew + exk * exk / 4.0), 4) AS jb
        |  FROM h
        |)
        |SELECT lang, n, s1, s2, s3, s4,
        |  round(skew, 4) AS skewness, round(exk, 4) AS ex_kurtosis, jb,
        |  CASE WHEN jb > 5.991 THEN 'non_normal'
        |       ELSE 'lognormal_consistent' END AS verdict
        |FROM z ORDER BY lang""".stripMargin)),
    // q91: Ljung-Box portmanteau lags 1-6 — q87's integer machinery,
    // fixed six-term association, chi-square-banded verdict — oracled
    Query("q91_ljung_box", (s, d) => Relational.ljungBox(s, d),
      // q91: same centering, one window pass for all six lags, identical
      // six-term Q association
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), cc AS (
        |  SELECT event_type, day,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
        |      - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS c
        |  FROM daily
        |), lagd AS (
        |  SELECT *,
        |    lag(c, 1) OVER w AS ck1, lag(c, 2) OVER w AS ck2,
        |    lag(c, 3) OVER w AS ck3, lag(c, 4) OVER w AS ck4,
        |    lag(c, 5) OVER w AS ck5, lag(c, 6) OVER w AS ck6
        |  FROM cc
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |), m AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(sum(c * c) AS BIGINT) AS den,
        |    CAST(sum(CASE WHEN ck1 IS NOT NULL THEN c * ck1 ELSE 0 END) AS BIGINT) AS num1,
        |    CAST(sum(CASE WHEN ck2 IS NOT NULL THEN c * ck2 ELSE 0 END) AS BIGINT) AS num2,
        |    CAST(sum(CASE WHEN ck3 IS NOT NULL THEN c * ck3 ELSE 0 END) AS BIGINT) AS num3,
        |    CAST(sum(CASE WHEN ck4 IS NOT NULL THEN c * ck4 ELSE 0 END) AS BIGINT) AS num4,
        |    CAST(sum(CASE WHEN ck5 IS NOT NULL THEN c * ck5 ELSE 0 END) AS BIGINT) AS num5,
        |    CAST(sum(CASE WHEN ck6 IS NOT NULL THEN c * ck6 ELSE 0 END) AS BIGINT) AS num6
        |  FROM lagd GROUP BY 1
        |), z AS (
        |  SELECT *, round(CAST(n_days AS DOUBLE)
        |    * (CAST(n_days AS DOUBLE) + 2.0)
        |    * ((CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 1.0)
        |      + (CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 2.0)
        |      + (CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 3.0)
        |      + (CAST(num4 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num4 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 4.0)
        |      + (CAST(num5 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num5 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 5.0)
        |      + (CAST(num6 AS DOUBLE) / CAST(den AS DOUBLE))
        |        * (CAST(num6 AS DOUBLE) / CAST(den AS DOUBLE))
        |        / (CAST(n_days AS DOUBLE) - 6.0)), 4) AS q_stat
        |  FROM m
        |)
        |SELECT event_type, n_days, den, num1, num2, num3, num4, num5,
        |  num6, q_stat,
        |  CASE WHEN q_stat > 12.5916 THEN 'autocorrelated'
        |       ELSE 'white_noise' END AS verdict
        |FROM z ORDER BY event_type""".stripMargin))
  )
}
