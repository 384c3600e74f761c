package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dedup cluster resolution — the step AFTER pair generation that every
  * training-data dedup pipeline actually runs (pairs -> groups -> keep-list
  * -> filtered corpus). Every near-dup operator in this engine (t03 MinHash,
  * t04 SimHash, t05 n-gram Jaccard, t06 repeated spans, emb03 cosine, c15
  * cross-modal) emits a PAIR table; this operator resolves those pairs into
  * connected components, picks a deterministic survivor per component
  * (min doc_id), and filters the corpus.
  *
  * Algorithm: alternating large-star / small-star edge contraction
  * [Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14]. Per round, with m(u) = min(N(u) ∪ {u}) over the current
  * symmetrized edge set:
  *   large-star: every edge orientation (u -> v) with v > u is rewired to
  *               (m(u), v) — strictly-larger neighbors hook onto u's min;
  *   small-star: every orientation (u -> v) with v < u is rewired to
  *               (m(u), v), plus a (m(u), u) self-hook per node.
  * Both passes REPLACE the edge set (canonical src < dst, distinct), so
  * the graph itself contracts toward stars centered at component minima —
  * unlike label propagation, whose frontier advances ONE graph hop per
  * round (O(diameter) rounds: measured 20 rounds on a diameter-~40
  * caption-bridged image-group graph, where this converges in ~5).
  * Kiveris et al. prove O(log^2 n) rounds; in practice it is
  * ~log(diameter). At the fixpoint the edges ARE the answer: stars whose
  * center is the component min, read off as per-node neighbor minima.
  *
  * Scale notes (100 TB): iteration state is the canonical edge set (id
  * pairs only — for a 1%-dup corpus, a small fraction of the corpus),
  * localCheckpoint'ed each round to cut lineage (without it round k
  * replays rounds 1..k-1 and the plan grows exponentially). Edge count
  * never grows (each orientation maps to at most one new edge; self-hooks
  * add one row per live node). Convergence is detected by EXACT edge-set
  * equality (count + anti-join — no checksum shortcut that could
  * terminate early on a collision); the driver only ever sees these
  * per-round counts, never rows. Determinism: min() everywhere — no
  * first()/arbitrary picks — so components and survivors are identical at
  * any parallelism.
  */
object DedupResolve {

  /** Connected components over an undirected pair table.
    *
    * @param pairs DataFrame with two long-castable id columns
    * @return (id, component) for every id appearing in `pairs`;
    *         component = min id of the connected component (the survivor)
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 64): DataFrame = {
    // canonical (src < dst) distinct undirected edges; materialized once so
    // the (possibly expensive) upstream pair plan never re-executes
    var e = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"))
      .distinct()
      .localCheckpoint()
    // Small-graph driver-local path (GraphOps.smallGraph, the one
    // small-graph gate): component = min id is pure INTEGER semantics, so
    // a union-find that always attaches the larger root under the smaller
    // produces the byte-identical (id, comp) table the contraction loop
    // does — with ~3 jobs instead of rounds x ~6. The collect is bounded
    // by the gate; a production-sized pair graph fails its
    // early-terminating limit probe and stays on the contraction loop.
    locally {
      val spark = pairs.sparkSession
      import spark.implicits._
      val small = GraphOps.smallGraph(e.as[(Long, Long)])
      if (small.nonEmpty) {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        small.get.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val labelSeq = parent.keys.toSeq.sorted.map(id => (id, find(id)))
        return spark.createDataset(labelSeq).toDF("id", "comp")
      }
    }
    // one action for both setup scalars (e is checkpointed — scans are
    // cheap; separate count() jobs were pure fixed cost per CC call)
    val setup = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .head()
    val nNodes = setup.getLong(0)
    var eCount = setup.getLong(1)

    /** Per-node minimum over the symmetrized neighborhood incl. self. */
    def minsOf(edges: DataFrame): DataFrame = {
      val sym = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: orientation (u -> v), v > u  =>  (m(u), v)
      val mL = minsOf(e)
      val symL = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val large = symL.where(col("dst") > col("src"))
        .join(mL, symL("src") === mL("u"))
        .select(col("m").as("src"), col("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint()
      // small-star on large's output: orientation (u -> v), v < u  =>
      // (m(u), v), plus the (m(u), u) self-hook that keeps every node
      // attached (m(u) <= v for neighbors, so edges stay canonical)
      val mS = minsOf(large)
      val symS = large.unionByName(large.select(col("dst").as("src"), col("src").as("dst")))
      val small = symS.where(col("dst") < col("src"))
        .join(mS, symS("src") === mS("u"))
        .select(col("m").as("src"), col("dst"))
        .unionByName(mS.select(col("m").as("src"), col("u").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint()
      // exact edge-set equality: same cardinality and no new edge outside
      // the previous set (both are canonical + distinct). Both scalars in
      // ONE action (small is checkpointed, so the double reference costs
      // two cheap scans, not two job launches per round).
      val conv = small.agg(count(lit(1)).as("n"))
        .crossJoin(small.join(e, Seq("src", "dst"), "left_anti")
          .agg(count(lit(1)).as("fresh")))
        .head()
      val nextCount = conv.getLong(0)
      converged = nextCount == eCount && conv.getLong(1) == 0L
      e = small
      eCount = nextCount
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edges are stars centered at component minima: read labels
    // off as each node's neighborhood min (centers label themselves)
    val labels = minsOf(e).select(col("u").as("id"), col("m").as("comp"))
    require(labels.count() == nNodes,
      "large/small-star contraction lost nodes — CC invariant broken")
    labels
  }

  /** Pairs -> components with the survivor decision made explicit:
    * (doc_id, component, is_survivor). Survivor = the component's min id;
    * by construction `component` IS that min, so survivorship is
    * doc_id == component.
    */
  def resolve(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("doc_id"), col("comp").as("component"),
        (col("id") === col("comp")).as("is_survivor"))

  /** Corpus filter: keep every doc that is either in no near-dup pair or
    * is its component's survivor (min doc_id). The drop-list (non-survivor
    * members) is a small fraction of the corpus, so the anti-join
    * broadcasts at typical dup rates; at pathological dup rates it
    * degrades gracefully to a shuffled anti-join on the 8-byte id.
    */
  def filterCorpus(
      corpus: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val drops = resolve(pairs, aCol, bCol)
      .where(!col("is_survivor"))
      .select(col("doc_id").cast("long").as("__drop_id"))
    corpus.join(drops, corpus(idCol).cast("long") === col("__drop_id"), "left_anti")
  }

  /** t07 — components of the t05 n-gram near-dup pair graph (the planted
    * corpus collapses its base/revision pairs to known groups).
    */
  def resolveNgramDups(spark: SparkSession, dir: String): DataFrame =
    resolve(TextOps.nearDupNgramJaccard(spark, dir), "doc_a", "doc_b")
      .orderBy("doc_id")

  /** t49 — CLUSTER-AWARE train/val/test SPLIT: the action form of t16's
    * leakage check — assigning SPLITS BY DOC hash leaks near-duplicates
    * across the train/eval boundary (the eval set then contains
    * paraphrases of training documents and the benchmark is inflated);
    * the correct unit of assignment is the dup CLUSTER. Every doc maps
    * to an effective component (its t07 label, or itself if it never
    * appeared in a dup pair), the component's md5 decides the split
    * (~80/10/10, the t12 no-RNG discipline), and by construction no dup
    * pair straddles splits — a property the report carries as a COUNTED
    * column (cross_split_dup_pairs, joined from the pair table itself)
    * rather than a comment, so the oracle's hash pins it at 0.
    */
  def clusterAwareSplit(spark: SparkSession, dir: String): DataFrame = {
    // ONE pair-kernel run feeds both the CC resolve and the leakage count
    // (was two full t05 kernel executions — no exchange reuse across the
    // differently-shaped consumers; r06 plan audit)
    val pairTable = TextOps.nearDupNgramJaccard(spark, dir).localCheckpoint()
    val labels = resolve(pairTable, "doc_a", "doc_b")
      .select(col("doc_id"), col("component"))
    val assigned = TextOps.plantedCorpus(spark, dir)
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"),
          col("component").cast("string"))), 1, 6), 16, 10)
          .cast("long") % 10)
      .withColumn("split",
        when(col("bucket") === 0L, "test")
          .when(col("bucket") === 1L, "val").otherwise("train"))
    val pairs = pairTable
      .select(col("doc_a"), col("doc_b"))
    val leakage = pairs
      .join(assigned.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(assigned.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .agg(sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
        .as("cross_split_dup_pairs"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("component").as("n_clusters"))
      .crossJoin(broadcast(leakage))
      .orderBy("split")
  }

  /** t48 — dup-CLUSTER SIZE HISTOGRAM: the distribution behind the dedup
    * ROI argument — "how much of the corpus sits in clusters of size k,
    * and how many docs does resolution remove" (removable = n_docs −
    * n_clusters per size; Σ removable is exactly what t08's corpus
    * filter drops). Web dup clusters are heavy-tailed (one template can
    * own thousands of pages), and the histogram is what justifies — or
    * refutes — paying for cluster resolution at all. Two BIGINT
    * group-bys over t07's label table, hence oracled by the same
    * reachability CTE.
    */
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    resolveNgramDups(spark, dir)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("removable"))
      .orderBy("cluster_size")

  // ---- g08: INCREMENTAL connected components (persisted label store) --
  //
  // The dedup family's cluster state, given the SimIndex treatment: a
  // crawl discovers near-dup PAIRS every epoch, but re-running CC over
  // the union of all epochs' edges grows with history. cc_labels/epoch=N
  // persists the (id, comp) table; an epoch merges only its OWN edges.
  //
  // Soundness: contracting every node to its component representative
  // preserves connectivity, so CC over {(rep(a), rep(b))} computed from
  // the NEW edges alone reproduces the full-history components; and
  // because each representative is its component's MIN id, min-semantics
  // CC over the rep graph yields the global min id — label tables are
  // EQUAL to a from-scratch recompute, not just isomorphic (asserted in
  // IncrementalCcSpec; the g08 query shares t07's reachability oracle
  // verbatim, which a drifted store could not pass).
  //
  // Scale shape: the rep-graph edge set is bounded by the EPOCH's pair
  // count (not history); the label store is dup-rate-sized; relabeling
  // old components is one equi-join on comp. Only epoch-sized state ever
  // enters the CC fixpoint.

  /** Persist the full label table as of `epoch`. */
  def writeLabels(labels: DataFrame, root: String, epoch: Int): Unit =
    labels.select(col("id").cast("long").as("id"), col("comp").cast("long").as("comp"))
      .write.mode("overwrite").parquet(s"$root/cc_labels/epoch=$epoch")

  def readLabels(spark: SparkSession, root: String, epoch: Int): DataFrame =
    spark.read.parquet(s"$root/cc_labels/epoch=$epoch")

  /** Merge one epoch's new pair table into the persisted labels and
    * persist the updated table. Returns the epoch's (id, comp) labels.
    */
  def updateLabels(spark: SparkSession, root: String, epoch: Int,
                   newPairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import spark.implicits._
    val prev =
      if (epoch == 0) Seq.empty[(Long, Long)].toDF("id", "comp")
      else readLabels(spark, root, epoch - 1)
    val e = newPairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // endpoints through the previous labels (identity for unseen nodes)
    val la = prev.select(col("id").as("a"), col("comp").as("ca"))
    val lb = prev.select(col("id").as("b"), col("comp").as("cb"))
    val repEdges = e.join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("ra"),
        coalesce(col("cb"), col("b")).as("rb"))
      .where(col("ra") =!= col("rb"))
    val merged = connectedComponents(repEdges, "ra", "rb") // (id=rep, comp)
    val repMap = merged.select(col("id").as("comp"), col("comp").as("new_comp"))
    val updatedPrev = prev.join(repMap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("comp"))
    val newNodes = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
      .join(prev.select("id"), Seq("id"), "left_anti")
      .join(merged, Seq("id"), "left") // self-pair-only new nodes keep own id
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val labels = updatedPrev.unionByName(newNodes)
    writeLabels(labels, root, epoch)
    readLabels(spark, root, epoch)
  }

  /** g08 — the t07 resolution computed INCREMENTALLY: t05's pair table
    * split into two epochs by doc_a parity, merged through the persisted
    * store; output shape (and oracle SQL) identical to t07, so the gate
    * proves store == from-scratch.
    */
  def resolveNgramDupsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-g08")
    val pairs = TextOps.nearDupNgramJaccard(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    updateLabels(spark, root, 0,
      pairs.where(pmod(col("doc_a"), lit(2)) === 0), "doc_a", "doc_b")
    val labels = updateLabels(spark, root, 1,
      pairs.where(pmod(col("doc_a"), lit(2)) === 1), "doc_a", "doc_b")
    pairs.unpersist()
    labels.select(col("id").as("doc_id"), col("comp").as("component"),
      (col("id") === col("comp")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** t08 — the deduplicated corpus: t05's planted corpus (base docs +
    * planted revisions) minus non-survivor near-dup members. Returns only
    * ids + kept-doc count-stable columns so the oracle compare is exact.
    */
  def dedupedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val corpus = TextOps.plantedCorpus(spark, dir)
    filterCorpus(corpus, "doc_id", TextOps.nearDupNgramJaccard(spark, dir),
      "doc_a", "doc_b")
      .select(col("doc_id").cast("long").as("doc_id"))
      .orderBy("doc_id")
  }

  /** POLICY-parameterized survivor selection — t07/t08's survivor is the
    * component-min id (keep the FIRST-crawled copy); production dedup
    * often wants a QUALITY policy instead (Lee et al., ACL'22 keep the
    * longest member; a curation pipeline might keep the highest quality
    * score). Survivor = argmax(score) per component, deterministic min-id
    * tie-break, as ONE row_number window over the (label ⋈ score) table —
    * label-table-sized work (a dup-rate fraction of the corpus), the
    * corpus itself only pays the same keep-list anti-join as t08.
    */
  def resolveByScore(pairs: DataFrame, aCol: String, bCol: String,
                     scores: DataFrame, idCol: String,
                     scoreCol: String): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(col(scoreCol).desc, col("id").asc)
    labels
      .join(scores.select(col(idCol).cast("long").as("id"), col(scoreCol)), "id")
      .withColumn("rk", row_number().over(w))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        (col("rk") === 1).as("is_survivor"))
  }

  /** t36 — SOFT dedup: keep one member per near-dup cluster but carry the
    * cluster MULTIPLICITY as a training weight (unpaired docs weight 1).
    * Hard dropping discards the duplication signal; count-aware training
    * re-weights the survivor's loss by how often the content occurred —
    * the standard alternative when duplication frequency is itself
    * informative (popular boilerplate vs genuinely common knowledge).
    * Same label-table-sized work as t08: the weight table is one
    * component-keyed count over the dup-rate-sized label table; the
    * corpus pays the identical keep-list anti-join plus one dup-rate-
    * sized left join for the weights. Conservation law: the weights sum
    * to the ORIGINAL corpus size.
    */
  def weightedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val corpus = TextOps.plantedCorpus(spark, dir)
    val labels = resolve(TextOps.nearDupNgramJaccard(spark, dir),
      "doc_a", "doc_b")
    val survivorWeights = labels
      .groupBy("component").agg(count(lit(1)).cast("long").as("weight"))
      .select(col("component").as("doc_id"), col("weight"))
    val drops = labels.where(!col("is_survivor"))
      .select(col("doc_id").as("__drop_id"))
    corpus.select(col("doc_id").cast("long").as("doc_id"))
      .join(drops, col("doc_id") === col("__drop_id"), "left_anti")
      .join(survivorWeights, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("weight"), lit(1L)).as("weight"))
      .orderBy("doc_id")
  }

  /** t27 — keep-LONGEST dedup over the planted corpus (oracled). The two
    * policies genuinely disagree here: every planted revision is longer
    * than its base (appended marker tokens), so keep-longest retains the
    * revision where t08's min-id retains the base.
    */
  def longestSurvivorCorpus(spark: SparkSession, dir: String): DataFrame = {
    val corpus = TextOps.plantedCorpus(spark, dir)
      .withColumn("n_chars", length(col("text")))
    val resolved = resolveByScore(
      TextOps.nearDupNgramJaccard(spark, dir), "doc_a", "doc_b",
      corpus.select("doc_id", "n_chars"), "doc_id", "n_chars")
    val drops = resolved.where(!col("is_survivor"))
      .select(col("doc_id").as("__drop_id"))
    corpus.join(drops, col("doc_id") === col("__drop_id"), "left_anti")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** t51 — dedup SURVIVORSHIP-BIAS audit: does near-dup removal skew the
    * corpus mix? Dedup is not mix-neutral — boilerplate-heavy or
    * template-heavy languages lose disproportionally more mass, so the
    * post-dedup language distribution silently drifts away from the one
    * the mixture targets (t15/t50) were tuned against. Per language:
    * doc and byte mass before (planted corpus) and after (t08's
    * keep-list), both shares in integer basis points, the shift, and the
    * per-language KL(after‖before) term in the t45/q78 integer-log
    * discipline — the quantized terms are BIGINT-exact so the whole row
    * joins the hash gate; Σ klq_term / (tot_after·1e6) is the drift in
    * bits a caller reads off the summed column.
    *
    * Byte mass uses octet_length (UTF-8 bytes): identical in every
    * engine, unlike character length where UTF-16 vs codepoint semantics
    * diverge on CJK text. Scale: language comes from ONE key join of the
    * id-only corpus against the documents table (planted ids map back by
    * mod 1e6 — ids stay below it at every SF); the per-language tables
    * are |langs| rows and the totals broadcast back.
    */
  def distributionShift(spark: SparkSession, dir: String): DataFrame = {
    import TextOps.{log2q => lq}
    val langOf = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("bid"), col("lang"))
    // byte mass is computed BEFORE the keep-list anti-join and the lang
    // join, so text never rides an exchange — only (doc_id, bid, bytes)
    val before = TextOps.plantedCorpus(spark, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(1000000L)).as("bid"),
        octet_length(col("text")).cast("long").as("b"))
    val after = filterCorpus(before, "doc_id",
      TextOps.nearDupNgramJaccard(spark, dir), "doc_a", "doc_b")
    def perLang(c: DataFrame, nCol: String, mCol: String): DataFrame =
      c.join(langOf, "bid")
        .groupBy("lang")
        .agg(count(lit(1)).as(nCol), sum(col("b")).as(mCol))
    val j = perLang(before, "docs_before", "bytes_before")
      .join(perLang(after, "docs_after", "bytes_after"), Seq("lang"))
    val tot = j.agg(sum("bytes_before").as("tot_before"),
      sum("bytes_after").as("tot_after"))
    j.crossJoin(broadcast(tot))
      .select(col("lang"), col("docs_before"), col("docs_after"),
        col("bytes_before"), col("bytes_after"),
        expr("(10000 * bytes_before) div tot_before").as("share_before_bp"),
        expr("(10000 * bytes_after) div tot_after").as("share_after_bp"),
        (expr("(10000 * bytes_after) div tot_after")
          - expr("(10000 * bytes_before) div tot_before")).as("shift_bp"),
        (col("bytes_after") * (lq(col("bytes_after")) - lq(col("tot_after"))
          - lq(col("bytes_before")) + lq(col("tot_before"))))
          .as("klq_term"))
      .orderBy("lang")
  }

  /** t55 — DUP × QUALITY cross-tab with odds ratio: are near-duplicates
    * LOWER quality than the corpus they pollute? The empirical basis
    * for dedup-before-quality vs quality-before-dedup pipeline ordering
    * (if dups are quality-skewed, filtering first changes what dedup
    * sees, and t51's survivorship shift compounds) — reported as the
    * 2×2 of quality-pass (token count ≥ 30, the SQL-expressible core of
    * the t01/t37 gates) × dropped-by-t08, with Haldane-corrected odds
    * ratio and its log as the two rounded doubles; every cell count and
    * the per-stratum drop rates in bp are BIGINT.
    *
    * Scale: quality is a per-row projection fused into the corpus scan;
    * the drop flag is the t07 label table (dup-rate-sized) left-joined
    * on id; one global 4-cell agg.
    */
  def dupQualityCrosstab(spark: SparkSession, dir: String): DataFrame = {
    val corpus = TextOps.plantedCorpus(spark, dir)
      .select(col("doc_id"),
        (size(TextOps.words) >= 30).cast("long")
          .as("pass"))
    val drops = resolve(TextOps.nearDupNgramJaccard(spark, dir),
      "doc_a", "doc_b")
      .where(!col("is_survivor"))
      .select(col("doc_id").cast("long").as("doc_id"),
        lit(1L).as("dropped"))
    val cells = corpus.join(drops, Seq("doc_id"), "left")
      .withColumn("dropped", coalesce(col("dropped"), lit(0L)))
      .agg(
        sum(col("pass") * (lit(1L) - col("dropped"))).as("pass_kept"),
        sum(col("pass") * col("dropped")).as("pass_dropped"),
        sum((lit(1L) - col("pass")) * (lit(1L) - col("dropped")))
          .as("fail_kept"),
        sum((lit(1L) - col("pass")) * col("dropped")).as("fail_dropped"))
    cells.select(col("pass_kept"), col("pass_dropped"), col("fail_kept"),
        col("fail_dropped"),
        expr("(10000 * pass_dropped) div (pass_kept + pass_dropped)")
          .as("pass_drop_bp"),
        expr("(10000 * fail_dropped) div (fail_kept + fail_dropped)")
          .as("fail_drop_bp"),
        round((col("fail_dropped").cast("double") + 0.5)
          * (col("pass_kept").cast("double") + 0.5)
          / ((col("fail_kept").cast("double") + 0.5)
            * (col("pass_dropped").cast("double") + 0.5)), 4)
          .as("odds_ratio"),
        round(log((col("fail_dropped").cast("double") + 0.5)
          * (col("pass_kept").cast("double") + 0.5)
          / ((col("fail_kept").cast("double") + 0.5)
            * (col("pass_dropped").cast("double") + 0.5))), 4)
          .as("log_odds"))
  }
}
