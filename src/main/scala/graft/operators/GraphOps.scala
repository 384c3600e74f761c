package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics over the crawl's host graph (PageRank, Brin &
  * Page WWW'98 — power iteration with damping and dangling-mass
  * redistribution).
  *
  * Why the crawl needs it: frontier priority is the one knob that decides
  * what a budget-bound crawl actually fetches. Seed priority + recrawl
  * backoff (c25) rank *known* URLs; host-level PageRank ranks *hosts* by
  * global link authority so new URLs from well-linked hosts outrank link
  * farms. The host graph is tiny relative to the page graph (10^6-10^7
  * hosts vs 10^10 pages), which is exactly why production crawls rank at
  * host granularity first.
  *
  * Scale shape: per iteration ONE equi-join (ranks x out-degree edges,
  * both hash-partitioned on the same key so the shuffle is the join's
  * partial-agg output only) + ONE map-side-combined groupBy(dst). The
  * dangling mass is a 1-row aggregate cross-joined into the same plan
  * (never collected), so each iteration is exactly one Spark job — the
  * checkpoint's. Ranks are rounded to
  * 10 dp every iteration, which makes the fixpoint bit-reproducible
  * across engines and partition counts (summation-order drift ~1e-16 is
  * absorbed by the rounding; the DuckDB oracle mirrors the same
  * per-iteration rounding and is hash-exact).
  */
object GraphOps {

  private val docId = col("doc_id")
  /** g01's citation map: document i cites document (i*17+3) mod n. */
  private val linearCite = docId * 17L + 3L
  /** g09's second citation map, (i*i*7 + i*31 + 5) mod n. */
  private val quadraticCite = docId * docId * 7L + docId * 31L + 5L

  /** The documents table's (doc_id, source) columns and its row count,
    * the modulus every citation map reduces by.
    */
  private def documents(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    (docs, docs.count())
  }

  /** The host graph of document citations: for each (citing, map) pair,
    * every citing document cites document `map % nDocs` of `docs`; each
    * citation is lifted to (citing source, cited source), self-loops
    * dropped, de-duplicated. Integer arithmetic only, so DuckDB derives
    * the identical graph from the same parquet.
    */
  private def citationEdges(docs: DataFrame, nDocs: Long,
                            maps: (DataFrame, Column)*): DataFrame = {
    val cites = maps.map { case (citing, cite) =>
      citing.select(col("source").as("src"), (cite % nDocs).as("cited"))
    }.reduce(_ unionByName _)
    val cited = docs.select(col("doc_id").as("cited_id"), col("source").as("dst"))
    cites.join(cited, col("cited") === col("cited_id"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
      .distinct()
  }

  /** Deterministic source-citation edge list over the documents table:
    * the linear citation map, lifted to the source (host) level.
    */
  def sourceEdges(spark: SparkSession, dir: String): DataFrame = {
    val (docs, nDocs) = documents(spark, dir)
    citationEdges(docs, nDocs, docs -> linearCite)
  }

  /** g01 — host PageRank by power iteration. Returns (source, pagerank)
    * with pagerank rounded to 6 dp for the cross-engine compare.
    */
  def hostPageRank(spark: SparkSession, dir: String,
                   iters: Int = 10, damping: Double = 0.85): DataFrame =
    pageRank(spark, sourceEdges(spark, dir), iters, damping)
      .withColumnRenamed("node", "source")
      .orderBy(col("source"))

  /** Power-iteration PageRank over an arbitrary (src, dst) edge list.
    * Nodes = endpoints of either side; nodes with no out-edges are
    * dangling and their mass is redistributed uniformly each step.
    * Output: (node, pagerank = round(rank, 6)).
    */
  def pageRank(spark: SparkSession, edges: DataFrame,
               iters: Int, damping: Double): DataFrame =
    pageRankFrom(spark, edges, None, iters, damping)

  /** Graphs at or below this many edges+nodes run the power iteration as
    * one driver-local kernel instead of iters x ~5 Spark jobs. The host
    * graph of a small crawl is a few thousand edges — at that size the
    * distributed loop is pure job-launch overhead (measured g01: 55 jobs,
    * 85 tasks, <4 s of 60 ms jobs for a 50-node graph) — while a
    * production host graph (10^7+ hosts) stays on the distributed path.
    * The two paths produce IDENTICAL values: the per-iteration 10 dp
    * rounding absorbs summation-order drift (GraphOpsSpec pins
    * distributed == LocalPageRank equality and sweeps partition counts),
    * and the collect is bounded by this gate.
    */
  private val SmallGraphLimit = 1L << 20

  /** The collected edge list iff the graph is under the small-graph gate
    * ([[SmallGraphLimit]] edges by default; the session conf key read
    * here overrides it, and tests pin it to 0 to force the distributed
    * loops); None => stay distributed. One limit-scan decides —
    * early-terminating, so a production-sized graph pays one truncated
    * scan, not a count. The one gate for every driver-local graph kernel
    * here and in DedupResolve.
    */
  private[operators] def smallGraph[T](edges: Dataset[T]): Option[Array[T]] = {
    val limit = edges.sparkSession.conf.getOption("spark.graft.smallGraphLimit")
      .map(_.toLong).getOrElse(SmallGraphLimit)
    if (limit <= 0L) return None
    val probe = edges.limit(limit.toInt + 1).collect()
    if (probe.length > limit) None else Some(probe)
  }

  /** [[smallGraph]] for a host edge list: only a string-keyed (src, dst)
    * table (every registry caller's) takes the driver-local path.
    */
  private def smallHostGraph(edges: DataFrame): Option[Seq[(String, String)]] = {
    val stringKeyed = Seq("src", "dst").forall(c =>
      edges.schema.fields.exists(f => f.name == c && f.dataType == StringType))
    if (!stringKeyed) return None
    val spark = edges.sparkSession
    import spark.implicits._
    smallGraph(edges.select(col("src"), col("dst")).as[(String, String)]).map(_.toSeq)
  }

  /** Runs a distributed graph loop over `graphSize` nodes/edges with its
    * shuffles sized to the GRAPH, not the session default, and AQE off.
    *
    * The host graph is orders of magnitude smaller than the corpus that
    * produced it, and each loop runs `iters` x ~4 exchanges: at small graph
    * sizes near-empty tasks (scheduling) dominate the wall, at 10^8-edge
    * graphs the session default may be far too coarse. The width is never
    * raised above the session setting. AQE re-plans and materializes every
    * exchange of every round as its own job; the loops' shuffles are
    * already sized here and each round is checkpointed eagerly, so
    * adaptivity buys nothing and multiplied the loop's job count ~8x
    * (measured g01: 104 jobs for 10 rounds). Values are partitioning-
    * invariant (per-iteration rounding; specs sweep shuffle-partition
    * counts), so both are purely cost knobs. `body` must return
    * materialized results: the conf is restored when it exits.
    */
  private def withGraphConf[T](spark: SparkSession, graphSize: Long)(body: => T): T =
    graft.SparkEnv.withLoopConf(spark, graphSize, rowsPerPartition = 250000L)(body)

  /** Power iteration from an explicit starting vector — the warm-start
    * form behind g03's incremental refresh. `init` is a (node, pagerank)
    * table from a PREVIOUS graph version: nodes it covers start there,
    * new nodes start at the uniform 1/n. The fixpoint is
    * start-independent, so a warm start changes only how many iterations
    * the refresh needs, never what it converges to; with `init = None`
    * this IS pageRank (uniform start).
    */
  def pageRankFrom(spark: SparkSession, edges: DataFrame,
                   init: Option[DataFrame],
                   iters: Int, damping: Double): DataFrame = {
    import spark.implicits._
    val smallForm = smallHostGraph(edges)
    if (smallForm.nonEmpty) {
      val edgeArr = smallForm.get
      val initMap = init.map(_.select(col("node").cast("string"), col("pagerank"))
        .as[(String, Double)].collect().toMap).getOrElse(Map.empty[String, Double])
      val res = LocalPageRank.computeFrom(edgeArr, initMap, iters, damping)
      return spark.createDataset(res.toSeq.sortBy(_._1)).toDF("node", "pagerank")
    }
    powerIteration(spark, edges, iters, "pagerank") { (nodes, n) =>
      val start = () => init match {
        case None => nodes.withColumn("rank", round(lit(1.0) / n, 10))
        case Some(prev) =>
          // warm start: carried-over nodes resume at their persisted rank
          // (6 dp — just a starting vector), new nodes at uniform 1/n.
          // The vector is then RE-NORMALIZED to unit mass: the update
          // conserves total mass toward 1 only at rate `damping` per
          // iteration, so starting at sum 1 + newNodes/n would spend the
          // refresh budget flushing excess mass instead of converging.
          // (Both rounds of 10 dp rounding absorb the ~1e-16 summation-
          // order drift — the same determinism argument as the loop.)
          val joined = nodes
            .join(prev.select(col("node"), col("pagerank")), Seq("node"), "left")
            .select(col("node"),
              coalesce(col("pagerank"), round(lit(1.0) / n, 10)).as("rank"))
            .localCheckpoint()
          val mass = joined.agg(round(sum(col("rank")), 10)).head().getDouble(0)
          joined.select(col("node"), round(col("rank") / mass, 10).as("rank"))
      }
      Walk(nodes, start, (contrib, dang) =>
        lit((1.0 - damping) / n) + lit(damping) * (contrib + dang / n))
    }
  }

  /** What distinguishes one power iteration from another: `base` is the
    * per-node table every round left-joins the contributions onto (it
    * carries any per-node update input, such as TrustRank's teleport
    * share `t`), `start` builds the start vector (node, rank) inside the
    * loop's conf scope, and `update(contrib, dang)` is the new rank
    * before its 10 dp rounding, from the summed in-link shares and the
    * round's dangling mass.
    */
  private case class Walk(base: DataFrame, start: () => DataFrame,
                          update: (Column, Column) => Column)

  /** The distributed power iteration shared by PageRank and TrustRank.
    * `walk(nodes, n)` supplies the start vector and the update over the
    * persisted node set. Per round the dangling mass (rank leaked by nodes
    * with no out-edges) is folded into the plan as a 1-row aggregate
    * cross-joined onto the update — NOT collected to the driver, the
    * 1-row side plans as a broadcast — so the whole round is ONE Spark
    * job, the checkpoint's. The checkpoint keeps the per-round plan flat:
    * 10 rounds of join-on-join lineage would re-plan from scratch every
    * round otherwise (the DedupResolve contraction-loop discipline).
    * Output: (node, `out` = round(rank, 6)).
    */
  private def powerIteration(spark: SparkSession, edges: DataFrame,
                             iters: Int, out: String)(
      walk: (DataFrame, Long) => Walk): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val nEdges = e.count()
    // out-degree joined onto edges once, up front: the per-iteration join
    // then carries (src, dst, deg) and needs no second lookup
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = e.join(outdeg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val Walk(base, start, update) = walk(nodes, n)
    withGraphConf(spark, math.max(n, nEdges)) {
      var ranks = start()
      var i = 0
      while (i < iters) {
        val dangling = ranks
          .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dang"))
        val contribs = ranks
          .join(edgesDeg, ranks("node") === edgesDeg("src"))
          .select(col("dst").as("node"), (col("rank") / col("deg")).as("share"))
          .groupBy("node").agg(sum(col("share")).as("contrib"))
        ranks = base
          .join(contribs, Seq("node"), "left")
          .crossJoin(dangling)
          .select(col("node"),
            round(update(coalesce(col("contrib"), lit(0.0)), col("dang")), 10)
              .as("rank"))
          .localCheckpoint()
        i += 1
      }
      val res = ranks.select(col("node"), round(col("rank"), 6).as(out))
      e.unpersist(); nodes.unpersist(); edgesDeg.unpersist(); base.unpersist()
      res
    }
  }

  // ---- g03: incremental rank refresh across crawl epochs -------------

  /** Persisted host-rank store (the SeenStore/SimIndex discipline applied
    * to graph state): `host_ranks/epoch=N` holds the converged (node,
    * pagerank) table a later epoch warm-starts from.
    */
  def writeHostRanks(ranks: DataFrame, root: String, epoch: Int): Unit =
    ranks.write.mode("overwrite").parquet(s"$root/host_ranks/epoch=$epoch")

  def readHostRanks(spark: SparkSession, root: String, epoch: Int): DataFrame =
    spark.read.parquet(s"$root/host_ranks/epoch=$epoch")

  /** g03 — warm-start rank refresh: the crawl's host graph gains a few
    * edges per epoch, so re-ranking from scratch re-pays the full
    * iteration budget for a fixpoint that barely moved. Starting from
    * the previous epoch's persisted ranks, the SAME contraction
    * (damping^k) acts on a far smaller initial error, so a refresh needs
    * a fraction of the iterations for equal accuracy (GraphOpsSpec pins
    * warm-3 strictly closer to the converged fixpoint than cold-3).
    * Identical per-iteration arithmetic to pageRank — only the start
    * vector differs.
    */
  def refreshHostRanks(spark: SparkSession, edges: DataFrame,
                       prevRanks: DataFrame, iters: Int = 3,
                       damping: Double = 0.85): DataFrame =
    pageRankFrom(spark, edges, Some(prevRanks), iters, damping)

  /** Deterministic epoch-1 edge delta for the g03 demo: a second citation
    * formula (doc i also cites (i*31+7) mod n) lifted to hosts — ~the
    * same shape as sourceEdges, mostly overlapping hosts.
    */
  def sourceEdgesDelta(spark: SparkSession, dir: String): DataFrame = {
    val (docs, nDocs) = documents(spark, dir)
    citationEdges(docs, nDocs, docs -> (docId * 31L + 7L))
  }

  /** g03 demo query: rank the epoch-0 graph, grow it by the delta edges,
    * refresh warm with 3 iterations. (In the pipeline the base ranks come
    * from the host_ranks store instead of being recomputed in-call.)
    */
  def incrementalHostRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = sourceEdges(spark, dir)
    val r0 = pageRank(spark, e0, iters = 6, damping = 0.85)
    val e1 = e0.unionByName(sourceEdgesDelta(spark, dir)).distinct()
    refreshHostRanks(spark, e1, r0, iters = 3)
      .withColumnRenamed("node", "source")
      .orderBy("source")
  }

  // ---- g04: HITS hubs & authorities -----------------------------------

  /** g04 — HITS (Kleinberg, JACM'99): hubs point at good authorities,
    * authorities are pointed at by good hubs. The crawl uses BOTH sides
    * where PageRank collapses them into one scalar: high-HUB hosts
    * (directories, aggregators, link roundups) are where frontier
    * DISCOVERY budget pays off, high-AUTHORITY hosts (content sites) are
    * where fetch/quality budget pays off — a crawl that seeds from
    * authorities alone re-finds what it already has.
    *
    * Scale shape mirrors pageRank: each half-step is ONE scores-x-edges
    * equi-join + ONE map-side-combined groupBy, and the L2 norm is a
    * 1-row aggregate cross-joined in-plan (never collected; plans as a
    * broadcast). Determinism discipline: vector components round to
    * 10 dp after every normalize and the norm itself rounds to 6 dp
    * AFTER the IEEE-exact sqrt (rounding the sum-of-squares before the
    * sqrt would put the rounding step below the sum's own ulp at large
    * magnitudes), so summation-order drift never survives a step and
    * the DuckDB oracle is hash-exact (g01 precedent).
    */
  def hostHits(spark: SparkSession, dir: String, iters: Int = 8): DataFrame =
    hits(spark, sourceEdges(spark, dir), iters)
      .withColumnRenamed("node", "source")
      .orderBy("source")

  def hits(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "hits: need at least one iteration")
    // small-graph driver-local path — see SmallGraphLimit; LocalHits is
    // the spec-pinned value-identical mirror
    locally {
      import spark.implicits._
      val smallForm = smallHostGraph(edges)
      if (smallForm.nonEmpty) {
        val res = LocalHits.compute(smallForm.get, iters)
        return spark.createDataset(
            res.toSeq.map { case (nd, (h, a)) => (nd, h, a) }.sortBy(_._1))
          .toDF("node", "hub", "authority")
      }
    }
    val e = edges.select(col("src"), col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val nEdges = e.count()
    withGraphConf(spark, math.max(n, nEdges)) {
      var hub = nodes.withColumn("hub", lit(1.0))
      var auth: DataFrame = null
      var i = 0
      while (i < iters) {
        auth = l2Normalized(nodes,
          hub.join(e, hub("node") === e("src"))
            .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("raw")),
          "auth").localCheckpoint()
        hub = l2Normalized(nodes,
          auth.join(e, auth("node") === e("dst"))
            .groupBy(col("src").as("node")).agg(sum(col("auth")).as("raw")),
          "hub").localCheckpoint()
        i += 1
      }
      // checkpointed before `nodes` is unpersisted and the conf restored:
      // a lazy join would re-derive the node set from the caller's edges
      val out = nodes
        .join(hub, Seq("node"), "left")
        .join(auth, Seq("node"), "left")
        .select(col("node"),
          round(coalesce(col("hub"), lit(0.0)), 6).as("hub"),
          round(coalesce(col("auth"), lit(0.0)), 6).as("authority"))
        .localCheckpoint()
      e.unpersist(); nodes.unpersist()
      out
    }
  }

  /** Nodes left-joined onto raw scores, L2-normalized in one plan: the
    * norm is a 1-row aggregate cross-joined (broadcast), rounded to 6 dp
    * after sqrt; components round to 10 dp. Zero norm (edgeless input)
    * divides by 1 so the operator stays total.
    */
  private def l2Normalized(nodes: DataFrame, raw: DataFrame,
                           out: String): DataFrame = {
    val nrm = raw.agg(
      round(sqrt(coalesce(sum(col("raw") * col("raw")), lit(0.0))), 6).as("nrm"))
    nodes.join(raw, Seq("node"), "left")
      .crossJoin(nrm)
      .select(col("node"),
        round(coalesce(col("raw"), lit(0.0)) /
          when(col("nrm") === 0.0, lit(1.0)).otherwise(col("nrm")), 10).as(out))
  }

  // ---- g06: TrustRank (spam-resistant authority) -----------------------

  /** g06 — TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04):
    * PageRank with the teleport restricted to a TRUSTED seed set, so
    * authority can only flow outward from vetted hosts. A link farm can
    * inflate plain PageRank by citing itself; under TrustRank a cluster
    * unreachable from the trust seeds converges to rank 0 — the
    * anti-spam frontier priority g01 cannot express. Same per-iteration
    * plan shape as pageRank (ONE ranks-x-edges join + ONE
    * map-side-combined groupBy + the dangling mass as an in-plan 1-row
    * aggregate, here redistributed to the trust vector, not uniformly);
    * same 10 dp/6 dp rounding discipline, DuckDB-oracled by unrolled
    * iterations.
    */
  def hostTrustRank(spark: SparkSession, dir: String,
                    iters: Int = 10, damping: Double = 0.85): DataFrame =
    trustRank(spark, sourceEdges(spark, dir),
      node => substring(node, -1, 1).isin("0", "1"), iters, damping)
      .withColumnRenamed("node", "source")
      .orderBy("source")

  def trustRank(spark: SparkSession, edges: DataFrame,
                trustedCol: Column => Column,
                iters: Int, damping: Double): DataFrame = {
    // small-graph driver-local path — see SmallGraphLimit; the trusted
    // predicate is a Column, so it is evaluated once over the (tiny)
    // node list via a LocalRelation before the local loop runs
    locally {
      import spark.implicits._
      val smallForm = smallHostGraph(edges)
      if (smallForm.nonEmpty) {
        val edgeArr = smallForm.get
        val nodesArr = (edgeArr.map(_._1) ++ edgeArr.map(_._2)).distinct
        val trustedSet = spark.createDataset(nodesArr).toDF("node")
          .where(trustedCol(col("node"))).as[String].collect().toSet
        require(trustedSet.nonEmpty, "trustRank: empty trusted set")
        val res = LocalTrustRank.compute(edgeArr, trustedSet, iters, damping)
        return spark.createDataset(res.toSeq.sortBy(_._1))
          .toDF("node", "trustrank")
      }
    }
    powerIteration(spark, edges, iters, "trustrank") { (nodes, _) =>
      val tCount = nodes.where(trustedCol(col("node"))).count()
      require(tCount > 0, "trustRank: empty trusted set")
      val teleT = nodes.select(col("node"),
        when(trustedCol(col("node")), lit(1.0 / tCount)).otherwise(lit(0.0)).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Walk(teleT, () => teleT.select(col("node"), round(col("t"), 10).as("rank")),
        (contrib, dang) =>
          lit(1.0 - damping) * col("t") + lit(damping) * (contrib + dang * col("t")))
    }
  }

  /** The g01 graph as materialized DuckDB CTEs — docs, cnt, edges (the
    * linear citation map lifted to hosts) and nodes — the head of every
    * rank oracle (g01, g04, g06, c34). Ends with ",\n" so the caller's
    * next CTE follows.
    */
  private val rankGraphSql =
    """WITH docs AS MATERIALIZED (SELECT doc_id, source FROM documents),
      |cnt AS MATERIALIZED (SELECT count(*) AS c FROM docs),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT a.source AS src, b.source AS dst
      |  FROM docs a, cnt, docs b
      |  WHERE b.doc_id = (a.doc_id * 17 + 3) % cnt.c AND a.source <> b.source),
      |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |""".stripMargin

  /** Unrolled-iteration DuckDB SQL mirroring `hostTrustRank` exactly
    * (trusted = hosts whose last character is '0' or '1'; dangling mass
    * redistributed along the trust vector).
    */
  def trustRankOracleSql(iters: Int = 10, damping: Double = 0.85): String = {
    val base = rankGraphSql +
      s"""tc AS MATERIALIZED (
         |  SELECT count(*) AS tcnt FROM nodes WHERE right(node, 1) IN ('0','1')),
         |tele AS MATERIALIZED (
         |  SELECT node, CASE WHEN right(node, 1) IN ('0','1')
         |                    THEN CAST(1.0 AS DOUBLE) / tc.tcnt ELSE 0 END AS t
         |  FROM nodes, tc),
         |outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT node, round(t, 10) AS rank FROM tele)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""r$k AS MATERIALIZED (
         |  SELECT te.node,
         |         round(CAST(${1.0 - damping} AS DOUBLE) * te.t
         |               + CAST($damping AS DOUBLE) *
         |                 (COALESCE(c.contrib, 0) + dang.d * te.t), 10) AS rank
         |  FROM tele te
         |  CROSS JOIN (SELECT COALESCE(sum(r.rank), 0) AS d
         |              FROM r$p r LEFT JOIN outdeg o ON r.node = o.src
         |              WHERE o.src IS NULL) dang
         |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / o.deg) AS contrib
         |             FROM r$p r
         |             JOIN outdeg o ON r.node = o.src
         |             JOIN edges e ON e.src = r.node
         |             GROUP BY e.dst) c ON te.node = c.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node AS source, round(rank, 6) AS trustrank FROM r$iters ORDER BY source"
  }

  // ---- g05: host components (mirror-domain clustering) ----------------

  /** g05 — weakly-connected components of the host citation graph:
    * clusters of hosts that cite each other are typically one publisher
    * / mirror family, and a crawl that treats them as one POLITENESS
    * identity (shared budget) avoids hammering a single backend through
    * its N frontends. Reuses DedupResolve's large/small-star contraction
    * verbatim (SoCC'14 — ~log-diameter rounds); hosts map to dense
    * lexicographic ids first (a catalog-sized window — fine for 10^6-10^7
    * hosts; the CONTRACTION is where the scale lives), so the component
    * label min-id IS the lexicographically smallest host, which the
    * recursive-CTE oracle reproduces as min(node) over reachability.
    */
  def hostComponents(spark: SparkSession, dir: String): DataFrame = {
    val e = sourceEdges(spark, dir).localCheckpoint()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val ids = nodes.withColumn("hid",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("host"))
        .cast("long"))
    val idEdges = e
      .join(ids.select(col("host").as("src"), col("hid").as("a")), Seq("src"))
      .join(ids.select(col("host").as("dst"), col("hid").as("b")), Seq("dst"))
      .select("a", "b")
    val comp = DedupResolve.connectedComponents(idEdges, "a", "b")
    comp
      .join(ids.select(col("hid").as("id"), col("host").as("source")), Seq("id"))
      .join(ids.select(col("hid").as("comp"), col("host").as("component")),
        Seq("comp"))
      .select("source", "component")
      .orderBy("source")
  }

  /** Recursive-CTE DuckDB mirror of `hostComponents` (t07's reachability
    * oracle pattern on the g01 edge derivation): component = min
    * reachable host over the symmetrized edges.
    */
  def hostComponentsOracleSql(): String =
    """WITH RECURSIVE docs AS (SELECT doc_id, source FROM documents),
      |cnt AS (SELECT count(*) AS c FROM docs),
      |dedges AS (
      |  SELECT DISTINCT a.source AS src, b.source AS dst
      |  FROM docs a, cnt, docs b
      |  WHERE b.doc_id = (a.doc_id * 17 + 3) % cnt.c AND a.source <> b.source),
      |edges AS (SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges),
      |reach AS (
      |  SELECT src AS id, src AS node FROM edges
      |  UNION
      |  SELECT r.id, e.dst AS node FROM reach r JOIN edges e ON r.node = e.src
      |)
      |SELECT id AS source, min(node) AS component
      |FROM reach GROUP BY id ORDER BY source""".stripMargin

  /** Unrolled-iteration DuckDB SQL mirroring `hostHits` exactly: same
    * edge derivation as pageRankOracleSql, hub0 = 1.0, per half-step
    * norm = round(sqrt(sum of squares), 6), components round 10 dp,
    * final 6 dp. Generated so the iteration count stays in one place.
    */
  def hitsOracleSql(iters: Int = 8): String = {
    val base = rankGraphSql +
      "h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)"
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""araw$k AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(h.hub) AS raw
         |  FROM h$p h JOIN edges e ON h.node = e.src GROUP BY e.dst),
         |an$k AS MATERIALIZED (
         |  SELECT CASE WHEN q = 0 THEN 1 ELSE q END AS nrm FROM
         |    (SELECT round(sqrt(COALESCE(sum(raw * raw), 0)), 6) AS q FROM araw$k)),
         |a$k AS MATERIALIZED (
         |  SELECT nd.node, round(COALESCE(r.raw, 0) / an$k.nrm, 10) AS auth
         |  FROM nodes nd LEFT JOIN araw$k r ON nd.node = r.node CROSS JOIN an$k),
         |hraw$k AS MATERIALIZED (
         |  SELECT e.src AS node, sum(a.auth) AS raw
         |  FROM a$k a JOIN edges e ON a.node = e.dst GROUP BY e.src),
         |hn$k AS MATERIALIZED (
         |  SELECT CASE WHEN q = 0 THEN 1 ELSE q END AS nrm FROM
         |    (SELECT round(sqrt(COALESCE(sum(raw * raw), 0)), 6) AS q FROM hraw$k)),
         |h$k AS MATERIALIZED (
         |  SELECT nd.node, round(COALESCE(r.raw, 0) / hn$k.nrm, 10) AS hub
         |  FROM nodes nd LEFT JOIN hraw$k r ON nd.node = r.node CROSS JOIN hn$k)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT nd.node AS source, round(h.hub, 6) AS hub,
         |       round(a.auth, 6) AS authority
         |FROM nodes nd
         |JOIN h$iters h ON nd.node = h.node
         |JOIN a$iters a ON nd.node = a.node
         |ORDER BY source""".stripMargin
  }

  /** Unrolled-iteration DuckDB SQL mirroring `hostPageRank` exactly
    * (same edge derivation, per-iteration 10 dp rounding, dangling
    * redistribution, final 6 dp). Generated so the iteration count and
    * damping stay in one place.
    */
  def pageRankOracleSql(iters: Int = 10, damping: Double = 0.85): String =
    pageRankCtes(iters, damping) +
      s"\nSELECT node AS source, round(rank, 6) AS pagerank FROM r$iters ORDER BY source"

  /** The shared CTE block (edge derivation + unrolled iterations) —
    * reused by the g01 oracle and the c34 budget-apportionment oracle.
    */
  private def pageRankCtes(iters: Int, damping: Double): String = {
    val base = rankGraphSql +
      s"""nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 10) AS rank FROM nodes, nn)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""r$k AS MATERIALIZED (
         |  SELECT nd.node,
         |         round(CAST(${1.0 - damping} AS DOUBLE) / nn.n
         |               + CAST($damping AS DOUBLE) *
         |                 (COALESCE(c.contrib, 0) + dang.d / nn.n), 10) AS rank
         |  FROM nodes nd
         |  CROSS JOIN nn
         |  CROSS JOIN (SELECT COALESCE(sum(r.rank), 0) AS d
         |              FROM r$p r LEFT JOIN outdeg o ON r.node = o.src
         |              WHERE o.src IS NULL) dang
         |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / o.deg) AS contrib
         |             FROM r$p r
         |             JOIN outdeg o ON r.node = o.src
         |             JOIN edges e ON e.src = r.node
         |             GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  // ---- c34: authority-weighted host budget allocation ------------------

  /** c34 — allocate the GLOBAL fetch budget across hosts in proportion
    * to their PageRank, by largest-remainder apportionment (the seats-
    * to-states method): g02 boosts page PRIORITIES by authority; this is
    * the complementary knob — how many fetch slots each HOST deserves
    * when the wave is budget-bound. Integer-exact end to end: 6 dp ranks
    * lift to micro-units (exact longs in both engines), quotas are
    * integer division, leftovers go to the largest remainders with a
    * host-name tiebreak — so the allocation is deterministic at any
    * parallelism and DuckDB-oracle-exact, and the budgets sum to EXACTLY
    * the global budget (no float drift to leak slots).
    */
  def budgetAllocation(spark: SparkSession, dir: String,
                       totalBudget: Long = 1000L, iters: Int = 10): DataFrame = {
    val m = hostPageRank(spark, dir, iters)
      .select(col("source"), round(col("pagerank") * 1e6).cast("long").as("m"))
    val tot = m.agg(sum(col("m")).as("mm"))
    val based = m.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(m * $totalBudget) div mm"))
      .withColumn("rem", col("m") * totalBudget - col("base") * col("mm"))
    val extras = based.agg((lit(totalBudget) - sum(col("base"))).as("extras"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source").asc)
    based.crossJoin(broadcast(extras))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("source"), col("m"),
        (col("base") + when(col("pos") <= col("extras"), 1L).otherwise(0L))
          .as("budget"))
      .orderBy("source")
  }

  /** DuckDB mirror of `budgetAllocation`: the g01 CTE block + the same
    * integer apportionment.
    */
  def budgetOracleSql(totalBudget: Long = 1000L, iters: Int = 10,
                      damping: Double = 0.85): String =
    pageRankCtes(iters, damping) +
      s""",
         |m AS (SELECT node AS source,
         |        CAST(round(round(rank, 6) * 1000000) AS BIGINT) AS m FROM r$iters),
         |tot AS (SELECT sum(m) AS mm FROM m),
         |based AS (
         |  SELECT source, m,
         |    (m * $totalBudget) // mm AS base,
         |    m * $totalBudget - ((m * $totalBudget) // mm) * mm AS rem
         |  FROM m, tot),
         |ex AS (SELECT $totalBudget - sum(base) AS extras FROM based),
         |pos AS (
         |  SELECT source, m, base, rem,
         |    row_number() OVER (ORDER BY rem DESC, source ASC) AS pos
         |  FROM based)
         |SELECT source, m,
         |  CAST(base + CASE WHEN pos <= ex.extras THEN 1 ELSE 0 END AS BIGINT) AS budget
         |FROM pos, ex ORDER BY source""".stripMargin

  // ---- g07: anchor-text aggregation ----------------------------------

  /** g07 — aggregated anchor text per cited target (the classic search /
    * crawl signal: how OTHER pages describe a target is a stronger
    * relevance feature than the target's own content — Brin & Page
    * WWW'98 §2.2 index anchor text with the page it points AT). Citation
    * edges follow sourceEdges' deterministic doc->doc rule; the "anchor
    * text" of a citation is the citing document's first three tokens.
    * Output: the top-2 anchors per target source with (cnt desc, anchor
    * asc) tie-break.
    *
    * Scale shape: anchors reduce to (target, anchor) counts with
    * map-side combine before the rank — the exchange carries distinct
    * (host, trigram) keys, not citations; the per-target top-2 is the
    * O3 bounded-heap pattern (window over a count-bounded table here;
    * the key space is hosts x anchors, already aggregated).
    */
  def anchorText(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val nDocs = docs.count()
    val citing = docs.select(col("doc_id"),
      (col("doc_id") * 17L + 3L) % nDocs as "cited",
      concat_ws(" ", slice(TextOps.words, 1, 3)).as("anchor"))
    val target = docs.select(col("doc_id").as("cited_id"),
      col("source").as("target_source"))
    val counts = citing.join(target, citing("cited") === target("cited_id"))
      .groupBy("target_source", "anchor").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("target_source")
      .orderBy(col("cnt").desc, col("anchor"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("target_source", "rank")
  }

  def anchorTextOracleSql(k: Int = 2): String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, text FROM documents
       |), n AS (SELECT count(*) AS n_docs FROM docs),
       |citing AS (
       |  SELECT d.doc_id, (d.doc_id * 17 + 3) % n.n_docs AS cited,
       |    array_to_string(regexp_split_to_array(trim(d.text), '\\s+')[1:3], ' ') AS anchor
       |  FROM docs d, n
       |), counts AS (
       |  SELECT t.source AS target_source, c.anchor, CAST(count(*) AS BIGINT) AS cnt
       |  FROM citing c JOIN docs t ON c.cited = t.doc_id
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT target_source, anchor, cnt,
       |    row_number() OVER (PARTITION BY target_source
       |                       ORDER BY cnt DESC, anchor) AS rank
       |  FROM counts
       |)
       |SELECT target_source, anchor, cnt, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k
       |ORDER BY target_source, rank""".stripMargin

  /** g09's edge derivation: TWO deterministic citation maps per document —
    * g01's linear map plus a quadratic one. The linear map alone lifts to
    * a triangle-free host graph (source = doc_id mod |hosts|, so a linear
    * cite is a linear map on host ids, and the closing congruence
    * 2a ≡ k (mod 20) is unsolvable for odd k); the quadratic map breaks
    * the linearity and the lifted graph carries triangles at every SF.
    */
  def denseSourceEdges(spark: SparkSession, dir: String): DataFrame = {
    val (docs, nDocs) = documents(spark, dir)
    citationEdges(docs, nDocs, docs -> linearCite, docs -> quadraticCite)
  }

  /** The undirected view of a (src, dst) edge list: both orientations as
    * (a, b), self-loops dropped, de-duplicated. A lazy plan: callers that
    * read it more than once localCheckpoint it.
    */
  private[operators] def undirected(e: DataFrame): DataFrame =
    e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))
      .where(col("a") =!= col("b"))
      .distinct()

  /** g09 — TRIANGLE COUNT per host over the undirected host graph, by
    * degree-ordered wedge enumeration (the skew-proof shape: orient every
    * edge from its lower-(degree, name) endpoint to the higher one, so
    * each triangle is enumerated at exactly ONE apex and apex fan-out is
    * bounded by O(√m) even on a star — a name-ordered orientation would
    * instead pile every wedge of a hot host onto one key). Enumeration
    * order never reaches the result (per-host counts are
    * orientation-invariant), so the DuckDB oracle mirrors with the naive
    * name-ordered triple join. Exchanges carry (host, host) string pairs
    * only — the host graph is edges-of-hosts, ~6 orders below page scale.
    */
  def hostTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(denseSourceEdges(spark, dir))

  /** Per-node triangle counts over an arbitrary (src, dst) edge list
    * (direction and duplicates ignored; self-loops dropped).
    */
  def triangleCounts(e0: DataFrame): DataFrame = {
    val und = undirected(e0).localCheckpoint()
    val deg = und.groupBy(col("a").as("h")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("h").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("h").as("b"), col("deg").as("db")), Seq("b"))
      .where(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"), col("db").as("dv"))
      .localCheckpoint()
    val x = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val y = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = x.join(y, Seq("u"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val tri = wedges.join(
        oriented.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    tri.select(col("u").as("source"))
      .union(tri.select(col("v1").as("source")))
      .union(tri.select(col("v2").as("source")))
      .groupBy("source").agg(count(lit(1)).as("n_triangles"))
      .orderBy("source")
  }

  /** g10 — k-CORE DECOMPOSITION (core number per node) by iterative
    * peeling (Matula-Beck'83 / Batagelj-Zaveršnik'03 semantics): the
    * k-core is the maximal subgraph where every node has degree >= k; a
    * node's core number is the largest k whose core contains it. Peeling
    * removes degree<k nodes to a fixpoint, then raises k — each inner
    * round is ONE map-side-combined degree agg + TWO id-only anti-joins
    * over the surviving edge list (localCheckpoint bounds lineage), the
    * distributed shape that holds at any graph size; the driver sees only
    * a per-round count. Core numbers are unique (peel order never changes
    * them), so the result is deterministic at any parallelism. Used as
    * the host-authority band next to g01/g04: a high-core host sits in a
    * densely interlinked community, a high-degree low-core host is a
    * link-farm hub.
    */
  def coreNumbers(e0: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    var und = undirected(e0).localCheckpoint()
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 1L
    var guard = 0
    while (und.head(1).nonEmpty && guard < 10000) {
      guard += 1
      val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
      val weak = deg.where(col("deg") < k).select("a").localCheckpoint()
      if (weak.head(1).isEmpty) k += 1
      else {
        peeled += weak.select(col("a").as("source"), lit(k - 1).as("core"))
        und = und
          .join(weak.select(col("a").as("w1")), col("a") === col("w1"), "left_anti")
          .join(weak.select(col("a").as("w2")), col("b") === col("w2"), "left_anti")
          .localCheckpoint()
      }
    }
    peeled.reduceOption(_ unionByName _)
      .map(_.orderBy("source"))
      .getOrElse(spark.emptyDataFrame
        .withColumn("source", lit("")).withColumn("core", lit(0L)).limit(0))
  }

  def hostCoreNumbers(spark: SparkSession, dir: String): DataFrame =
    coreNumbers(denseSourceEdges(spark, dir))

  /** `denseSourceEdges` as DuckDB CTEs — docs, cnt, cites (both citation
    * maps) and dedges (the lifted, de-duplicated host edges) — the head of
    * every dense-graph oracle (g09-g16, g18-g20). Ends with ",\n" so the
    * caller's next CTE follows.
    */
  private val denseGraphSql =
    """WITH docs AS (SELECT doc_id, source FROM documents),
      |cnt AS (SELECT count(*) AS c FROM docs),
      |cites AS (
      |  SELECT source AS src, (doc_id * 17 + 3) % c AS cited FROM docs, cnt
      |  UNION ALL
      |  SELECT source, (doc_id * doc_id * 7 + doc_id * 31 + 5) % c
      |  FROM docs, cnt),
      |dedges AS (
      |  SELECT DISTINCT a.src, b.source AS dst
      |  FROM cites a JOIN docs b ON b.doc_id = a.cited
      |  WHERE a.src <> b.source),
      |""".stripMargin

  /** [[denseGraphSql]] plus `und`, the SQL form of [[undirected]]. */
  private val denseUndSql = denseGraphSql +
    """und AS (
      |  SELECT DISTINCT a, b FROM (
      |    SELECT src AS a, dst AS b FROM dedges
      |    UNION ALL
      |    SELECT dst, src FROM dedges)
      |  WHERE a <> b),
      |""".stripMargin

  /** Naive name-ordered triple-join DuckDB mirror of `hostTriangles` —
    * per-host counts are orientation-invariant, so the two enumeration
    * strategies agree exactly.
    */
  def trianglesOracleSql(): String =
    denseGraphSql +
    """canon AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM dedges),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM canon e1
      |  JOIN canon e2 ON e2.a = e1.b
      |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
      |hosts AS (
      |  SELECT x AS source FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM hosts GROUP BY source ORDER BY source""".stripMargin

  /** g11 — LABEL-PROPAGATION communities (Raghavan et al., Phys. Rev. E
    * 2007), the near-linear community detector every host-graph pipeline
    * runs next to CC (g05): CC answers "connected at all", LPA answers
    * "densely interlinked neighborhood" — the band that separates a real
    * publisher cluster from a link farm bridged to it by one edge.
    *
    * Determinism (the usual LPA weakness) is pinned down: SYNCHRONOUS
    * rounds (all nodes update from the previous round's labels), a FIXED
    * round count, and the tie-break "max vote count, then smallest label"
    * — every step is then a pure function of the edge list, identical at
    * any parallelism and expressible in DuckDB as unrolled CTE rounds
    * (the g01/g04/g06 pattern). Per round: ONE equi-join (labels x
    * undirected edges, both sides hash-partitioned on the join key) +
    * ONE map-side-combined vote count + ONE row_number window over
    * (node, votes) — all exchanges carry (node, label, count) scalars;
    * localCheckpoint bounds lineage across rounds.
    */
  def labelPropagation(e0: DataFrame, rounds: Int = 4): DataFrame =
    communities(undirected(e0).localCheckpoint(), rounds)

  /** [[labelPropagation]] over an already materialized undirected view. */
  private def communities(und: DataFrame, rounds: Int): DataFrame = {
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val votes = und
        .join(labels.select(col("node").as("nbr"), col("label")),
          col("b") === col("nbr"))
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("c").desc, col("label").asc)
      labels = votes.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("node", "label")
        .localCheckpoint()
    }
    labels.select(col("node").as("source"), col("label").as("community"))
      .orderBy("source")
  }

  def hostCommunities(spark: SparkSession, dir: String,
                      rounds: Int = 4): DataFrame =
    labelPropagation(denseSourceEdges(spark, dir), rounds)

  /** Unrolled-round DuckDB mirror of `hostCommunities` — same synchronous
    * update, same (count desc, label asc) tie-break, so labels agree
    * exactly after each round.
    */
  def lpaOracleSql(rounds: Int = 4): String =
    lpaSql(rounds) +
      s"\nSELECT node AS source, label AS community FROM r$rounds ORDER BY source"

  /** The g11 label rounds as DuckDB CTEs r0..r`rounds` over
    * [[denseUndSql]], shared by the g11 and g20 oracles.
    */
  private def lpaSql(rounds: Int): String =
    denseUndSql + "r0 AS (SELECT DISTINCT a AS node, a AS label FROM und)" +
      (1 to rounds).map { i =>
        s"""v$i AS (
           |  SELECT u.a AS node, r.label, count(*) AS c
           |  FROM und u JOIN r${i - 1} r ON r.node = u.b
           |  GROUP BY 1, 2),
           |r$i AS (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
           |    FROM v$i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n", ",\n", "")

  /** Frontier BFS from `seeds` (a `node` column) over (a, b) edges,
    * `rounds` hops deep: (node, dist) for every node reached, dist = 0 at
    * the seeds, or with `perSeed` (seed, node, dist) per seed, so that
    * every seed runs its own search in the same rounds. Each round expands
    * only the nodes first reached in the round before: ONE equi-join
    * frontier x edges, ONE distinct and ONE key-only anti-join against the
    * settled set, so total join work is O(edges touched once per first
    * reach), the textbook Pregel BFS. Exchanges carry (seed, node, dist)
    * scalars; localCheckpoint bounds lineage; the driver sees nothing.
    * Fixed round count + first-reach distances make the result
    * parallelism-independent and expressible as unrolled DuckDB CTE
    * rounds. g17 runs it over directed edges; g12, g13 and g18 over the
    * [[undirected]] view.
    */
  private[operators] def bfs(edges: DataFrame, seeds: DataFrame, rounds: Int,
                                 perSeed: Boolean = false): DataFrame = {
    val seed = if (perSeed) Seq("seed") else Nil
    val key = seed :+ "node"
    var settled = seeds.withColumn("seed", col("node"))
      .select(key.map(col) :+ lit(0L).as("dist"): _*)
      .localCheckpoint()
    var frontier = settled
    for (i <- 1 to rounds) {
      frontier = frontier
        .join(edges, col("node") === col("a"))
        .select(seed.map(col) :+ col("b").as("node"): _*).distinct()
        .join(settled.select(key.map(col): _*), key, "left_anti")
        .withColumn("dist", lit(i.toLong))
        .localCheckpoint()
      settled = settled.unionByName(frontier).localCheckpoint()
    }
    settled
  }

  /** g12 — multi-source BFS HOP DISTANCE over the host graph: how many
    * link hops separate every host from the seed set — the "crawl depth"
    * a frontier reaches a host at under pure link discovery, the signal
    * behind seed-list design (a host at hop 5 needs five epochs of
    * outlink fanout before its first fetch) and behind trap triage (a
    * host unreachable from any seed can only have entered via sitemaps
    * or dark traffic). TrustRank (g06) is this signal's damped cousin;
    * the exact integer hop count is what an operator reads off a crawl
    * report.
    *
    * Runs [[bfs]] over the undirected view, seeded by the two
    * lexicographically smallest sources; unreached hosts report
    * hops = -1. The oracle's per-round min-merge is order-free, unlike
    * LPA's vote argmax, so it is even simpler than g11's.
    */
  def hostHopDistance(spark: SparkSession, dir: String,
                      rounds: Int = 4): DataFrame = {
    val hosts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct()
    val seeds = hosts.orderBy("source").limit(2)
      .select(col("source").as("node"))
    hosts
      .join(bfs(undirected(denseSourceEdges(spark, dir)).localCheckpoint(),
          seeds, rounds).withColumnRenamed("node", "source"),
        Seq("source"), "left")
      .select(col("source"), coalesce(col("dist"), lit(-1L)).as("hops"))
      .orderBy("source")
  }

  /** Unrolled-round DuckDB mirror of `hostHopDistance` — per round the
    * settled set min-merges with (frontier neighbors, round) — min() is
    * order-free so rounds unroll to plain CTEs.
    */
  def hopOracleSql(rounds: Int = 4): String = {
    val prefix = denseUndSql +
      """seeds AS (SELECT DISTINCT source FROM documents ORDER BY source LIMIT 2),
        |d0 AS (SELECT source AS node, CAST(0 AS BIGINT) AS dist FROM seeds)"""
        .stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT u.b AS node, r.dist + 1 AS dist
         |    FROM und u JOIN d${i - 1} r ON r.node = u.a)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    prefix + steps +
      s"""SELECT h.source, coalesce(d.dist, -1) AS hops
         |FROM (SELECT DISTINCT source FROM documents) h
         |LEFT JOIN d$rounds d ON d.node = h.source
         |ORDER BY h.source""".stripMargin
  }

  /** g13 — sampled HARMONIC CENTRALITY over the host graph (Boldi &
    * Vigna, "Axioms for Centrality" IM'14; sampled-pivot estimation per
    * Eppstein & Wang SODA'01): H(v) = Σ 1/d(pivot, v) over a
    * deterministic pivot sample — the centrality that handles
    * disconnected graphs natively (unreachable pivots contribute 0, no
    * ∞), which PageRank-family scores (g01/g06) only approximate via
    * damping. Pivot distances come from the g12 BFS keyed by its seed
    * ([[bfs]] with `perSeed`): settled is keyed (seed, node), min-merge
    * per key, so the oracle unrolls identically. 1/d terms are quantized
    * to 1e6 fixed-point LONGs before summation (the q74 discipline) —
    * integer sums at any parallelism, one final rounded division for
    * display. On the derived host graph: pivots = the 4 lexicographically
    * smallest sources; h_q = Σ round(1e6/d) over reached pivots (d ≥ 1),
    * h = h_q/1e6 rounded 4 dp; hosts reaching no pivot score 0.
    *
    * Scale: pivots are O(1) (4 here), so the frontier tables are |pivots|
    * × hosts keyed scalars; exchanges carry (seed, node, dist) only.
    */
  def harmonicCentrality(spark: SparkSession, dir: String,
                         rounds: Int = 4, nSeeds: Int = 4): DataFrame = {
    val hosts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct()
    val seeds = hosts.orderBy("source").limit(nSeeds)
      .select(col("source").as("node"))
    val perHost = bfs(undirected(denseSourceEdges(spark, dir)).localCheckpoint(),
        seeds, rounds, perSeed = true)
      .where(col("dist") >= 1L)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(round(lit(1000000.0) / col("dist")).cast("long")).as("h_q"))
    hosts
      .join(perHost.withColumnRenamed("node", "source"), Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("h_q"), lit(0L)).as("h_q"))
      .withColumn("h", round(col("h_q").cast("double") / 1e6, 4))
      .orderBy("source")
  }

  /** g14 — degree ASSORTATIVITY of the host graph (Newman, PRL'02):
    * Pearson correlation between the degrees at the two ends of every
    * undirected edge — positive means hubs link hubs (a crawl spreads
    * fast but redundantly), negative means hubs link leaves (seed hubs
    * and the frontier fans out). Computed from exact integer moments
    * over the both-orientation edge list (the q67 discipline: n, Σx, Σy,
    * Σx², Σy², Σxy all BIGINT), then ONE expression with two IEEE sqrts
    * — hash-exact, hence oracled.
    *
    * Scale: degrees are one map-side agg of the edge list; the moment
    * agg is a second; the only joins attach two host-sized degree
    * tables to edges — exchanges carry (host, degree) scalars.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(denseSourceEdges(spark, dir))
    val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
    val pts = und
      .join(deg.select(col("a"), col("d").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("d").as("dy")), Seq("b"))
    pts.agg(count(lit(1)).as("n"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n"), col("sx"), col("sy"), col("sxy"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 4).as("assortativity"))
  }

  /** g16 — global CLUSTERING COEFFICIENT / transitivity of the host
    * graph: 3·triangles / wedges — with g09's triangle count and g14's
    * assortativity it completes the one-page structural profile a crawl
    * operator reads before retuning seeds (high transitivity = tightly
    * clustered communities, frontier re-discovers the same
    * neighborhoods; low = tree-like expansion). Wedges = Σ d(d−1)/2
    * over undirected degrees; triangle total = Σ per-node counts / 3
    * (g09's table, already oracled). All BIGINT, one integer-bp ratio —
    * oracled.
    */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(denseSourceEdges(spark, dir))
    val wedges = und.groupBy("a").agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    val tri = hostTriangles(spark, dir)
      .agg((sum("n_triangles") / 3).cast("long").as("n_triangles"))
    wedges.crossJoin(tri)
      .select(col("n_wedges"), col("n_triangles"),
        expr("(10000 * 3 * n_triangles) div n_wedges")
          .as("transitivity_bp"))
  }

  /** DuckDB mirror of `clusteringCoefficient` — the g09 triangle oracle
    * folded to a total plus the degree-wedge sum.
    */
  def transitivityOracleSql(): String =
    denseUndSql +
    """deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a),
      |w AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
      |  FROM deg),
      |tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
      |    SELECT u.a AS x, u.b AS y, v.b AS z
      |    FROM und u JOIN und v ON v.a = u.b JOIN und t
      |      ON t.a = u.a AND t.b = v.b
      |    WHERE u.a < u.b AND u.b < v.b))
      |SELECT n_wedges, n_triangles,
      |  (10000 * 3 * n_triangles) // n_wedges AS transitivity_bp
      |FROM w CROSS JOIN tri""".stripMargin

  /** g15 — RECIPROCITY of the directed host graph (the directed
    * companion of g14): the fraction of directed edges whose reverse
    * edge also exists — near 1 the "link graph" is really mutual
    * syndication (crawling both directions buys nothing new); near 0 it
    * is a genuine hierarchy worth rank-ordering (g02). One self-join of
    * the directed edge list on the swapped key, three BIGINTs, one
    * integer-bp division — oracled.
    */
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    val e = denseSourceEdges(spark, dir)
      .select(col("src"), col("dst")).distinct()
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("(10000 * n_reciprocal) div n_edges").as("reciprocity_bp"))
  }

  /** DuckDB mirror of `reciprocity` — the g12 edge-derivation prefix,
    * then the same semi-join count.
    */
  def reciprocityOracleSql(): String =
    denseGraphSql +
    """r AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
      |  FROM dedges e WHERE EXISTS (
      |    SELECT 1 FROM dedges x WHERE x.src = e.dst AND x.dst = e.src)),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM dedges)
      |SELECT n_edges, n_reciprocal,
      |  (10000 * n_reciprocal) // n_edges AS reciprocity_bp
      |FROM n CROSS JOIN r""".stripMargin

  /** DuckDB mirror of `assortativity` — the g12 edge-derivation prefix,
    * then the same integer moments.
    */
  def assortativityOracleSql(): String =
    denseUndSql +
    """deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a),
      |pts AS (
      |  SELECT da.d AS dx, db.d AS dy
      |  FROM und u JOIN deg da ON da.a = u.a JOIN deg db ON db.a = u.b),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
      |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
      |    CAST(sum(dy * dy) AS BIGINT) AS syy,
      |    CAST(sum(dx * dy) AS BIGINT) AS sxy
      |  FROM pts)
      |SELECT n, sx, sy, sxy,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
      |    AS assortativity
      |FROM m""".stripMargin

  /** The per-seed BFS rounds d1..d`rounds` over `und` as DuckDB CTEs,
    * each the min-merge of the round before with its (seed, neighbor,
    * dist + 1) rows; the g13 and g18 oracles start them from their own
    * d0. Starts and ends with ",\n".
    */
  private def seededHopSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT seed, node, min(dist) AS dist FROM (
         |    SELECT seed, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT r.seed, u.b AS node, r.dist + 1 AS dist
         |    FROM und u JOIN d${i - 1} r ON r.node = u.a)
         |  GROUP BY seed, node)""".stripMargin
    }.mkString(",\n", ",\n", ",\n")

  /** Unrolled DuckDB mirror of `harmonicCentrality` — the g12 oracle
    * with a seed column carried through every round.
    */
  def harmonicOracleSql(rounds: Int = 4, nSeeds: Int = 4): String = {
    val prefix = denseUndSql +
      s"""seeds AS (SELECT DISTINCT source FROM documents
        |  ORDER BY source LIMIT $nSeeds),
        |d0 AS (SELECT source AS seed, source AS node,
        |  CAST(0 AS BIGINT) AS dist FROM seeds)""".stripMargin
    prefix + seededHopSql(rounds) +
      s"""per AS (
         |  SELECT node,
         |    CAST(count(*) AS BIGINT) AS n_reached,
         |    CAST(sum(CAST(round(1000000.0 / dist) AS BIGINT)) AS BIGINT)
         |      AS h_q
         |  FROM d$rounds WHERE dist >= 1 GROUP BY node)
         |SELECT h.source,
         |  coalesce(p.n_reached, 0) AS n_reached,
         |  coalesce(p.h_q, 0) AS h_q,
         |  round(CAST(coalesce(p.h_q, 0) AS DOUBLE) / 1e6, 4) AS h
         |FROM (SELECT DISTINCT source FROM documents) h
         |LEFT JOIN per p ON p.node = h.source
         |ORDER BY h.source""".stripMargin
  }

  /** g18 — hop-DISTANCE HISTOGRAM + EFFECTIVE DIAMETER of the host
    * graph (Leskovec-Kleinberg-Faloutsos KDD'05 shrinking-diameters
    * metric): all-source bounded BFS (the g12/g13 kernel with every
    * host as a seed — the host graph is small enough that all-pairs is
    * the honest form; at larger graphs the standard estimator swaps in
    * a seed sample, which is exactly this [[bfs]] with fewer
    * seeds) → ordered-pair count per distance, cumulative share in
    * integer bp, and the effective-diameter flag on the first distance
    * covering ≥90% of reachable pairs. The one-number companion to
    * g13's per-node centrality: a growing effective diameter across
    * crawl epochs means new content is arriving at the fringe, a
    * shrinking one means densification — both retune the frontier's
    * per-hop discovery budget.
    *
    * Scale: the BFS is per round one key join + distinct over
    * (seed, node) id pairs; the histogram is ≤`rounds` rows through a
    * single-partition window — driver-sized.
    */
  def distanceHistogram(spark: SparkSession, dir: String,
                        rounds: Int = 6): DataFrame = {
    val seeds = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct()
      .select(col("source").as("node"))
    val d = bfs(undirected(denseSourceEdges(spark, dir)).localCheckpoint(),
        seeds, rounds, perSeed = true)
      .where(col("dist") >= 1L)
    val total = d.agg(count(lit(1)).as("total_pairs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("dist")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.groupBy("dist").agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_pairs", sum("n_pairs").over(w))
      .crossJoin(broadcast(total))
      .select(col("dist"), col("n_pairs"), col("cum_pairs"),
        col("total_pairs"),
        expr("(10000 * cum_pairs) div total_pairs").as("cum_bp"),
        (expr("(10000 * cum_pairs) div total_pairs") >= 9000L
          && expr("(10000 * (cum_pairs - n_pairs)) div total_pairs")
            < 9000L).as("is_effective_diameter"))
      .orderBy("dist")
  }

  /** Unrolled DuckDB mirror of `distanceHistogram`: the g13 multi-seed
    * steps with seeds = every host, then the same histogram arithmetic.
    */
  def distanceHistogramOracleSql(rounds: Int = 6): String = {
    val prefix = denseUndSql +
      """d0 AS (SELECT source AS seed, source AS node,
        |  CAST(0 AS BIGINT) AS dist FROM (SELECT DISTINCT source FROM documents))"""
        .stripMargin
    prefix + seededHopSql(rounds) +
      s"""reach AS (SELECT dist FROM d$rounds WHERE dist >= 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_pairs FROM reach),
         |hist AS (
         |  SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM reach GROUP BY dist
         |), cum AS (
         |  SELECT dist, n_pairs,
         |    CAST(sum(n_pairs) OVER (ORDER BY dist
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_pairs
         |  FROM hist
         |)
         |SELECT dist, n_pairs, cum_pairs, total_pairs,
         |  (10000 * cum_pairs) // total_pairs AS cum_bp,
         |  (10000 * cum_pairs) // total_pairs >= 9000
         |    AND (10000 * (cum_pairs - n_pairs)) // total_pairs < 9000
         |    AS is_effective_diameter
         |FROM cum CROSS JOIN tot ORDER BY dist""".stripMargin
  }

  /** g19 — CO-CITATION host similarity (bibliographic coupling, Kessler
    * '63 / Small '73): hosts whose OUT-neighbor sets overlap heavily are
    * structural twins — mirrors, syndication partners, or template
    * networks — detected from links alone, the complement of q53's
    * content-hash mirror detection (a mirror that rewrites its text
    * still links like its twin). Exact Jaccard over out-neighbor sets:
    * one self-join of the deduplicated edge list on the shared
    * destination (never an all-pairs host join — pairs exist only where
    * a common neighbor does), intersection counts and set sizes BIGINT,
    * similarity in integer bp.
    *
    * Scale: the join key is the destination host, so skew follows
    * popular destinations — the same key the frontier already salts;
    * exchanges carry (host, host) pairs only.
    */
  def cocitationSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val e = denseSourceEdges(spark, dir)
    val sizes = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val a = e.select(col("src").as("host_a"), col("dst"))
    val b = e.select(col("src").as("host_b"), col("dst"))
    a.join(b, Seq("dst")).where(col("host_a") < col("host_b"))
      .groupBy("host_a", "host_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("src").as("host_a"), col("deg").as("deg_a")),
        Seq("host_a"))
      .join(sizes.select(col("src").as("host_b"), col("deg").as("deg_b")),
        Seq("host_b"))
      .select(col("host_a"), col("host_b"), col("deg_a"), col("deg_b"),
        col("n_common"),
        expr("(10000 * n_common) div (deg_a + deg_b - n_common)")
          .as("jaccard_bp"))
      .orderBy("host_a", "host_b")
  }

  /** DuckDB mirror of `cocitationSimilarity`: same dense edges, same
    * shared-destination self-join and integer Jaccard.
    */
  def cocitationOracleSql(): String =
    denseGraphSql +
    """sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |  FROM dedges GROUP BY src),
      |pairs AS (
      |  SELECT a.src AS host_a, b.src AS host_b,
      |    CAST(count(*) AS BIGINT) AS n_common
      |  FROM dedges a JOIN dedges b ON a.dst = b.dst AND a.src < b.src
      |  GROUP BY 1, 2
      |)
      |SELECT host_a, host_b, sa.deg AS deg_a, sb.deg AS deg_b, n_common,
      |  (10000 * n_common) // (sa.deg + sb.deg - n_common) AS jaccard_bp
      |FROM pairs
      |JOIN sizes sa ON sa.src = host_a
      |JOIN sizes sb ON sb.src = host_b
      |ORDER BY host_a, host_b""".stripMargin

  /** g21 — PageRank STABILITY under edge dropout: is the authority
    * ranking a property of the GRAPH or an artifact of a few links? A
    * quarter of the citing documents (doc_id % 4 == 0) is deterministically
    * removed, PageRank reruns on the thinned graph, and the two rankings
    * are compared — Spearman ρ over the common hosts (q73 discipline:
    * integer Σd² over deterministic (rank desc, name) positions) and the
    * top-5 overlap. ρ ≈ 1 means g01/g02's rank-ordered crawling is robust
    * to link churn between refreshes; a fragile ρ means authority should
    * be smoothed (g03's warm start) before it steers budget. The cited-id
    * modulus keeps the FULL doc count, so the thinned graph is a strict
    * edge-subset, not a re-randomization.
    *
    * Scale: two host-graph PageRanks + one |hosts|-row join — the
    * expensive thing (the corpus scan) happens once per chain.
    */
  def rankStability(spark: SparkSession, dir: String,
                    iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val (docs, nDocs) = documents(spark, dir)
    val prFull = pageRank(spark, citationEdges(docs, nDocs, docs -> linearCite),
      iters, damping)
      .select(col("node"), col("pagerank").as("pr_full"))
    val prDrop = pageRank(spark, citationEdges(docs, nDocs,
        docs.where(pmod(docId, lit(4L)) =!= 0L) -> linearCite),
      iters, damping)
      .select(col("node"), col("pagerank").as("pr_drop"))
    val j = prFull.join(prDrop, Seq("node"))
    val wF = org.apache.spark.sql.expressions.Window
      .orderBy(col("pr_full").desc, col("node").asc)
    val wD = org.apache.spark.sql.expressions.Window
      .orderBy(col("pr_drop").desc, col("node").asc)
    val ranked = j
      .withColumn("rf", row_number().over(wF).cast("long"))
      .withColumn("rd", row_number().over(wD).cast("long"))
      .withColumn("d2",
        (col("rf") - col("rd")) * (col("rf") - col("rd")))
    ranked.agg(count(lit(1)).as("n_common"),
        sum("d2").as("sum_d2"),
        sum(when(col("rf") <= 5L && col("rd") <= 5L, 1L).otherwise(0L))
          .as("top5_overlap"))
      .select(col("n_common"), col("sum_d2"), col("top5_overlap"),
        round(lit(1.0) - lit(6.0) * col("sum_d2").cast("double")
          / (col("n_common").cast("double")
            * (col("n_common").cast("double")
              * col("n_common").cast("double") - 1.0)), 4)
          .as("spearman_rho"))
  }

  /** DuckDB mirror of `rankStability`: the g01 chain twice (thinned
    * citing set for the second), then the identical rank join + ρ.
    */
  def rankStabilityOracleSql(iters: Int = 10,
                             damping: Double = 0.85): String = {
    def chain(prefix: String, filterClause: String): String = {
      val base =
        s"""${prefix}edges AS MATERIALIZED (
           |  SELECT DISTINCT a.source AS src, b.source AS dst
           |  FROM docs a, cnt, docs b
           |  WHERE b.doc_id = (a.doc_id * 17 + 3) % cnt.c
           |    AND a.source <> b.source$filterClause),
           |${prefix}nodes AS MATERIALIZED (
           |  SELECT src AS node FROM ${prefix}edges
           |  UNION SELECT dst FROM ${prefix}edges),
           |${prefix}nn AS MATERIALIZED (
           |  SELECT CAST(count(*) AS DOUBLE) AS n FROM ${prefix}nodes),
           |${prefix}outdeg AS MATERIALIZED (
           |  SELECT src, CAST(count(*) AS DOUBLE) AS deg
           |  FROM ${prefix}edges GROUP BY src),
           |${prefix}r0 AS MATERIALIZED (
           |  SELECT node, round(CAST(1.0 AS DOUBLE) / ${prefix}nn.n, 10)
           |    AS rank
           |  FROM ${prefix}nodes, ${prefix}nn)""".stripMargin
      val steps = (1 to iters).map { k =>
        val p = k - 1
        s"""${prefix}r$k AS MATERIALIZED (
           |  SELECT nd.node,
           |         round(CAST(${1.0 - damping} AS DOUBLE) / ${prefix}nn.n
           |               + CAST($damping AS DOUBLE) *
           |                 (COALESCE(c.contrib, 0) + dang.d / ${prefix}nn.n), 10) AS rank
           |  FROM ${prefix}nodes nd
           |  CROSS JOIN ${prefix}nn
           |  CROSS JOIN (SELECT COALESCE(sum(r.rank), 0) AS d
           |              FROM ${prefix}r$p r
           |              LEFT JOIN ${prefix}outdeg o ON r.node = o.src
           |              WHERE o.src IS NULL) dang
           |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / o.deg) AS contrib
           |             FROM ${prefix}r$p r
           |             JOIN ${prefix}outdeg o ON r.node = o.src
           |             JOIN ${prefix}edges e ON e.src = r.node
           |             GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
      }
      (base +: steps).mkString(",\n")
    }
    s"""WITH docs AS MATERIALIZED (SELECT doc_id, source FROM documents),
       |cnt AS MATERIALIZED (SELECT count(*) AS c FROM docs),
       |""".stripMargin +
      chain("", "") + ",\n" +
      chain("d_", " AND a.doc_id % 4 <> 0") + ",\n" +
      s"""jj AS (
         |  SELECT f.node, round(f.rank, 6) AS pr_full,
         |    round(g.rank, 6) AS pr_drop
         |  FROM r$iters f JOIN d_r$iters g ON f.node = g.node
         |), rk AS (
         |  SELECT node,
         |    CAST(row_number() OVER (ORDER BY pr_full DESC, node ASC)
         |      AS BIGINT) AS rf,
         |    CAST(row_number() OVER (ORDER BY pr_drop DESC, node ASC)
         |      AS BIGINT) AS rd
         |  FROM jj
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_common,
         |  CAST(sum((rf - rd) * (rf - rd)) AS BIGINT) AS sum_d2,
         |  CAST(sum(CASE WHEN rf <= 5 AND rd <= 5 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS top5_overlap,
         |  round(1.0 - 6.0 * CAST(sum((rf - rd) * (rf - rd)) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE)
         |      * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
         |        - 1.0)), 4) AS spearman_rho
         |FROM rk""".stripMargin
  }

  /** g20 — MODULARITY of the detected community partition (Newman &
    * Girvan '04): g11 finds communities; this scores whether the
    * partition is REAL — Q near 0 means the "communities" are no denser
    * than a degree-preserving random graph (and any community-based
    * crawl budgeting built on them is noise), Q ≳ 0.3 means genuine
    * mesoscale structure. INTEGER-EXACT by clearing denominators: over
    * the symmetrized pair list (|pairs| = 2m), per community the degree
    * sum d_c and intra-community pair count (= 2L_c) are BIGINT counts,
    * the contribution q_num = 2m·2L_c − d_c² is BIGINT, and
    * Q = Σq_num/(2m)² is the single rounded division.
    *
    * Scale: one label join onto the pair list (host-graph-sized);
    * everything downstream is |communities| rows.
    */
  def modularity(spark: SparkSession, dir: String,
                 rounds: Int = 4): DataFrame = {
    val und = undirected(denseSourceEdges(spark, dir)).localCheckpoint()
    val labels = communities(und, rounds).localCheckpoint()
    val la = labels.select(col("source").as("a"), col("community").as("ca"))
    val lb = labels.select(col("source").as("b"), col("community").as("cb"))
    val tm = und.agg(count(lit(1)).as("two_m"))
    val per = und.join(la, Seq("a")).join(lb, Seq("b"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L))
          .as("intra_pairs"))
    val nn = labels.groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val q = per.join(nn, Seq("community")).crossJoin(broadcast(tm))
      .withColumn("q_num",
        col("two_m") * col("intra_pairs")
          - col("degree_sum") * col("degree_sum"))
    val tot = q.agg(sum("q_num").as("q_sum"))
    q.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("degree_sum"),
        col("intra_pairs"), col("q_num"),
        round(col("q_sum").cast("double")
          / (col("two_m").cast("double") * col("two_m").cast("double")),
          4).as("modularity"))
      .orderBy("community")
  }

  /** Unrolled DuckDB mirror of `modularity`: the g11 LPA steps, then the
    * identical cleared-denominator arithmetic.
    */
  def modularityOracleSql(rounds: Int = 4): String =
    lpaSql(rounds) +
      s""",
         |lab AS (SELECT node, label FROM r$rounds),
         |tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM und),
         |per AS (
         |  SELECT la.label AS community,
         |    CAST(count(*) AS BIGINT) AS degree_sum,
         |    CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS intra_pairs
         |  FROM und u
         |  JOIN lab la ON la.node = u.a
         |  JOIN lab lb ON lb.node = u.b
         |  GROUP BY 1
         |), nn AS (
         |  SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM lab GROUP BY 1
         |), q AS (
         |  SELECT p.community, nn.n_nodes, p.degree_sum, p.intra_pairs,
         |    two_m * p.intra_pairs - p.degree_sum * p.degree_sum AS q_num,
         |    two_m
         |  FROM per p JOIN nn USING (community) CROSS JOIN tm
         |), tot AS (SELECT CAST(sum(q_num) AS BIGINT) AS q_sum FROM q)
         |SELECT community, n_nodes, degree_sum, intra_pairs, q_num,
         |  round(CAST(q_sum AS DOUBLE)
         |    / (CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE)), 4)
         |    AS modularity
         |FROM q CROSS JOIN tot ORDER BY community""".stripMargin

  /** g17's edge derivation: the two citation maps of `denseSourceEdges`,
    * each THINNED to a residue class (linear map on doc_id % 5 == 0,
    * quadratic on doc_id % 6 == 1). The dense two-map graph is strongly
    * connected at every SF — every host would classify as CORE and the
    * decomposition below would be vacuous; thinning keeps the directed
    * graph sparse enough that all four bow-tie classes are inhabited at
    * sf0.001/0.01/0.1 (verified empirically).
    */
  def thinSourceEdges(spark: SparkSession, dir: String): DataFrame = {
    val (docs, nDocs) = documents(spark, dir)
    citationEdges(docs, nDocs,
      docs.where(pmod(docId, lit(5L)) === 0L) -> linearCite,
      docs.where(pmod(docId, lit(6L)) === 1L) -> quadraticCite)
  }

  /** g17 — BOW-TIE DECOMPOSITION of the directed host graph (Broder et
    * al., WWW'00 "Graph structure in the Web"): pick the top-authority
    * pivot (max out-degree, name tie-break), compute its forward- and
    * backward-reachable sets within `rounds` hops, and classify every
    * host: CORE = reachable both ways (the pivot's strongly-connected
    * neighborhood), IN = reaches the core but is not reached by it (new
    * sites linking in — a crawl seeded in the core never discovers them
    * without out-of-band seeds), OUT = reached but cannot return
    * (link sinks), OTHER = tendrils/disconnected. This is THE macro map
    * a crawl planner reads before spending budget: IN-mass is
    * discoverable only via sitemaps/feeds (c29/c39), OUT-mass can never
    * feed PageRank back, and the CORE fraction bounds what link-following
    * alone can reach.
    *
    * Bounded `rounds` is the g12/g13 discipline: the host graph's
    * diameter is tiny next to its size, and a fixed unrolling keeps the
    * DuckDB mirror exact. Scale: the graph is hosts-not-pages; per round
    * one key join + distinct over id-only rows; the final classification
    * is two left joins against host-count-sized sets.
    */
  def bowTie(spark: SparkSession, dir: String, rounds: Int = 6): DataFrame = {
    val e = thinSourceEdges(spark, dir).localCheckpoint()
    val pv = e.groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src").asc).limit(1)
      .select(col("src").as("node"))
    val fwd = bfs(e.select(col("src").as("a"), col("dst").as("b")), pv, rounds)
      .select(col("node").as("fnode"))
    val bwd = bfs(e.select(col("dst").as("a"), col("src").as("b")), pv, rounds)
      .select(col("node").as("bnode"))
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct()
      .join(fwd, col("source") === col("fnode"), "left")
      .join(bwd, col("source") === col("bnode"), "left")
      .select(col("source"),
        when(col("fnode").isNotNull && col("bnode").isNotNull, lit("core"))
          .when(col("bnode").isNotNull, lit("in"))
          .when(col("fnode").isNotNull, lit("out"))
          .otherwise(lit("other")).as("component"))
      .orderBy("source")
  }

  /** Unrolled DuckDB mirror of `bowTie`: same thinned edge derivation,
    * same pivot rule, forward/backward closures as cumulative
    * union-distinct steps.
    */
  def bowTieOracleSql(rounds: Int = 6): String = {
    val prefix =
      """WITH docs AS (SELECT doc_id, source FROM documents),
        |cnt AS (SELECT count(*) AS c FROM docs),
        |cites AS (
        |  SELECT source AS src, (doc_id * 17 + 3) % c AS cited
        |  FROM docs, cnt WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT source, (doc_id * doc_id * 7 + doc_id * 31 + 5) % c
        |  FROM docs, cnt WHERE doc_id % 6 = 1),
        |dedges AS (
        |  SELECT DISTINCT a.src, b.source AS dst
        |  FROM cites a JOIN docs b ON b.doc_id = a.cited
        |  WHERE a.src <> b.source),
        |pv AS (SELECT src AS node FROM (
        |    SELECT src, count(*) AS d FROM dedges GROUP BY src)
        |  ORDER BY d DESC, src LIMIT 1),
        |f0 AS (SELECT node FROM pv),
        |b0 AS (SELECT node FROM pv)""".stripMargin
    val fSteps = (1 to rounds).map { i =>
      s"""f$i AS (SELECT DISTINCT node FROM (
         |  SELECT node FROM f${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node FROM dedges e
         |  JOIN f${i - 1} r ON r.node = e.src))""".stripMargin
    }
    val bSteps = (1 to rounds).map { i =>
      s"""b$i AS (SELECT DISTINCT node FROM (
         |  SELECT node FROM b${i - 1}
         |  UNION ALL
         |  SELECT e.src AS node FROM dedges e
         |  JOIN b${i - 1} r ON r.node = e.dst))""".stripMargin
    }
    prefix + (fSteps ++ bSteps).mkString(",\n", ",\n", "\n") +
      s"""SELECT h.source,
         |  CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'core'
         |       WHEN b.node IS NOT NULL THEN 'in'
         |       WHEN f.node IS NOT NULL THEN 'out'
         |       ELSE 'other' END AS component
         |FROM (SELECT DISTINCT source FROM documents) h
         |LEFT JOIN f$rounds f ON f.node = h.source
         |LEFT JOIN b$rounds b ON b.node = h.source
         |ORDER BY h.source""".stripMargin
  }
}
