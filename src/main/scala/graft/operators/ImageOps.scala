package graft.operators

import graft.functions.ImageKit
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal (image) column operators over the primary snapshot table
  * (builder brief: decode / feature-extract / resize as first-class ops).
  * Unlike the brief's suggested stub, decode here is REAL (javax.imageio is
  * in the JVM stdlib): bytes -> gray pixels -> pooled feature vector, all
  * executor-side, binary column never collected.
  */
object ImageOps {

  final case class ImageFeatures(
      image_id: String,
      epoch: Int,
      w: Int,
      h: Int,
      fmt: String,
      features: Array[Double], // GridSize x GridSize mean-pooled gray
      mean_lum: Double,
      contrast: Double)

  val GridSize = 8

  /** Decode + resize (area resample) + feature-extract in one executor
    * pass (mapPartitions: one decode context per partition, the pattern a
    * Pandas-UDF batch would use).
    */
  def features(snapshots: DataFrame): Dataset[ImageFeatures] = {
    import snapshots.sparkSession.implicits._
    snapshots
      .select("image_id", "epoch", "bytes", "fmt")
      .as[(String, Int, Array[Byte], String)]
      .mapPartitions(_.map { case (id, epoch, bytes, fmt) =>
        val (px, w, h) = ImageKit.decodeGray(bytes)
        if (w == 0 || h == 0)
          ImageFeatures(id, epoch, 0, 0, fmt, Array.fill(GridSize * GridSize)(0.0), 0.0, 0.0)
        else {
          val pooled = ImageKit.resampleArea(px, w, h, GridSize, GridSize)
          val mean = pooled.sum / pooled.length
          val contrast = math.sqrt(pooled.map(v => (v - mean) * (v - mean)).sum / pooled.length)
          ImageFeatures(id, epoch, w, h, fmt, pooled, mean, contrast)
        }
      })
  }

  /** Pairwise PSNR between consecutive epoch versions of each image — the
    * distributed form of the input_hint's decoded-pixel invariant check.
    * NOTE: pixel-exact comparison inherently co-locates both versions'
    * bytes, so this window DOES shuffle the binary column — that cost is
    * the reason the production revision path compares phash/caption
    * (DiffJob) and reserves this operator for audits of flagged pairs.
    */
  def consecutivePsnr(history: DataFrame): DataFrame = {
    import history.sparkSession.implicits._
    val psnrUdf = udf { (a: Array[Byte], b: Array[Byte]) =>
      val (pa, wa, ha) = ImageKit.decodeGray(a)
      val (pb, wb, hb) = ImageKit.decodeGray(b)
      if (wa != wb || ha != hb || wa == 0) -1.0
      else {
        val p = ImageKit.psnr(pa, pb)
        if (p.isPosInfinity) 999.0 else math.rint(p * 100) / 100
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("image_id").orderBy("epoch")
    history.select("image_id", "epoch", "bytes")
      .withColumn("prev_bytes", lag("bytes", 1).over(w))
      .withColumn("prev_epoch", lag("epoch", 1).over(w))
      .where(col("prev_bytes").isNotNull)
      .select(col("image_id"), col("epoch"), col("prev_epoch"),
        psnrUdf(col("bytes"), col("prev_bytes")).as("psnr_db"))
  }

  /** The 4x16-bit phash block rows of an (image_id, phash) table — the
    * shared blocking kernel of [[nearDupPhash]] and the persisted
    * SimIndex.writePhashIndex (the two MUST agree so a persisted index is
    * probe-compatible with the in-memory operator).
    */
  def phashBlocks(images: DataFrame): DataFrame = {
    val base = images.select(col("image_id"), col("phash"),
      xxhash64(col("image_id")).as("img_hash"))
    base.select(col("image_id"), col("phash"), col("img_hash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("phash"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))).toIndexedSeq: _*))
        .as("block"))
      .select(col("image_id"), col("phash"), col("img_hash"),
        col("block.blk").as("blk"), col("block.key").as("key"))
  }

  /** Image near-dup PAIRS on the 64-bit phash space: the c15 cross-modal
    * blocking applied within the image table itself — 4x16-bit phash
    * blocks as join keys (certain recall for Hamming <= 3: four blocks
    * can absorb at most 3 flipped bits without one block matching
    * exactly), exact bit_count verify, ids + phash only on the exchange.
    * Ids are carried as img_a/img_b = xxhash64(image_id) so downstream
    * component resolution works on 8-byte keys (the engine's universal
    * identity discipline); the string ids ride along for readability.
    */
  def nearDupPhash(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val blocked = phashBlocks(images)
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.img_hash") < col("b.img_hash"))
      .select(col("a.image_id").as("image_a"), col("b.image_id").as("image_b"),
        col("a.img_hash").as("img_a"), col("b.img_hash").as("img_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .dropDuplicates("img_a", "img_b")
      .where(col("hamming") <= maxHamming)
  }

  /** Image-corpus deduplication end to end — the engine's payload-native
    * flagship of the dedup family: phash near-dup pairs -> connected
    * components (DedupResolve) -> survivor keep-list -> filtered image
    * table. Survivor = the component's min img_hash (deterministic).
    */
  def dedupImageCorpus(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val withHash = images.withColumn("img_hash", xxhash64(col("image_id")))
    val pairs = nearDupPhash(images, maxHamming)
    DedupResolve.filterCorpus(withHash, "img_hash", pairs, "img_a", "img_b")
  }

  /** INCREMENTAL image-corpus dedup: admit only the novel part of a new
    * epoch, deciding against the corpus-so-far through the PERSISTED
    * phash index (no re-blocking of earlier epochs — closes the "c17
    * re-blocks in-call" residual). The committed corpus is immutable, so
    * the admission rule differs from the batch survivor rule: a new image
    * whose component touches ANY earlier-epoch image is dropped
    * regardless of hash order (the content already exists); a
    * new-images-only component keeps its min img_hash. `newImages` must
    * be the same (image_id, phash) set already written for `epoch` via
    * SimIndex.writePhashIndex.
    *
    * Scale shape: pairs + components carry ids/hashes only; the drop list
    * is ~the epoch's dup rate and anti-joins the (small) new epoch, not
    * the corpus.
    */
  def dedupNewEpochImages(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      epoch: Int,
      newImages: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val pairs = SimIndex.crossEpochNearDupPhash(spark, root, epoch, maxHamming)
    val labels = DedupResolve.connectedComponents(pairs, "img_a", "img_b")
    val withHash = newImages.withColumn("img_hash", xxhash64(col("image_id")))
    // a label row whose node is NOT a new image is an earlier-epoch member
    val compWithOld = labels
      .join(withHash.select(col("img_hash").as("id")), Seq("id"), "left_anti")
      .select("comp").distinct()
    val drops = labels.where(col("id") =!= col("comp")).select(col("id").as("__drop_id"))
      .unionByName(labels.join(compWithOld, Seq("comp"), "left_semi")
        .select(col("id").as("__drop_id")))
      .distinct()
    withHash.join(drops, col("img_hash") === col("__drop_id"), "left_anti")
      .drop("__drop_id")
  }

  // ---- c36: image+caption pair curation (LAION/DataComp-style) --------

  /** One c36 corpus row: varied-but-valid shapes by default, with four
    * planted failure families — tiny resolution (i%13), extreme aspect
    * (i%17), sub-3-token caption (i%19), caption referencing a DIFFERENT
    * image (i%23), and flat zero-contrast pixels (i%29). Every field is a
    * pure function of i, so tests recompute rows locally.
    */
  def curationRowOf(i: Long): graft.model.Snapshot = {
    val id = s"img-$i"
    var w = 32 + ((i * 7) % 32).toInt // 32..63
    var h = 32 + ((i * 11) % 24).toInt // 32..55 -> natural aspect < 2
    if (i % 13 == 0) { w = 8; h = 8 } // resolution fail
    else if (i % 17 == 0) { w = 96; h = 16 } // aspect fail (6:1)
    val fmt = if (i % 2 == 0) "png" else "jpeg"
    val px =
      if (i % 29 == 0) Array.fill(w * h)(128) // flat: zero contrast
      else ImageKit.genPixels(ImageKit.mix64(i * 2654435761L + 99L), 0, w, h)
    val bytes = ImageKit.encode(px, w, h, fmt)
    val caption =
      if (i % 19 == 0) "x" // caption-length fail
      else if (i % 23 == 0) s"caption of img-${i + 1} v0" // misaligned
      else s"caption of $id v0"
    graft.model.Snapshot(id, bytes, w, h, fmt, caption,
      ImageKit.phash64(bytes), 0)
  }

  def curationCorpus(spark: org.apache.spark.sql.SparkSession,
                     n: Int): Dataset[graft.model.Snapshot] = {
    import spark.implicits._
    spark.range(0L, n.toLong, 1L, math.max(1, math.min(8, n / 64)))
      .mapPartitions(_.map(i => curationRowOf(i.longValue)))
  }

  /** c36 — image+caption pair curation, the filter stack every
    * web-scale image-text corpus build runs before training (LAION-5B /
    * DataComp publish exactly these gates): resolution floor, aspect-ratio
    * bound, caption token minimum, caption-image alignment, and a
    * decoded-pixel contrast floor (blank/flat images). Alignment here is
    * the deterministic stand-in for the CLIP-score threshold — the
    * synthetic captions name their image, so the check is exact; swapping
    * in a model score changes ONE column, not the plan.
    *
    * Scale shape: the decode pass (the expensive part) emits only
    * (image_id, contrast) — bytes never shuffle; the metadata gates are a
    * codegen'd map over the slim columns; the single join carries ids +
    * scalars. Thresholds are on ROUNDED values so the decision is
    * engine- and order-reproducible.
    */
  def curateImages(spark: org.apache.spark.sql.SparkSession,
                   n: Int = 800,
                   minSide: Int = 24, maxAspectX100: Int = 200,
                   minCapTokens: Int = 3, minContrast: Double = 2.0): DataFrame =
    curationReport(curationCorpus(spark, n).toDF(), minSide, maxAspectX100,
      minCapTokens, minContrast)

  /** The c36 gate stack over ANY snapshot-shaped corpus (extracted so the
    * composed corpus build (c81) can run the same gates over a corpus the
    * demo didn't synthesize). */
  def curationReport(corpus: DataFrame,
                     minSide: Int = 24, maxAspectX100: Int = 200,
                     minCapTokens: Int = 3, minContrast: Double = 2.0): DataFrame = {
    val feats = features(corpus).toDF()
      .select(col("image_id"), round(col("contrast"), 4).as("contrast"))
    corpus.select(col("image_id"), col("w"), col("h"), col("caption"))
      .join(feats, Seq("image_id"))
      .select(
        col("image_id"),
        least(col("w"), col("h")).as("min_side"),
        (greatest(col("w"), col("h")) * 100 / least(col("w"), col("h")))
          .cast("int").as("aspect_x100"),
        size(split(col("caption"), " ")).as("cap_tokens"),
        col("caption").startsWith(
          concat(lit("caption of "), col("image_id"), lit(" ")))
          .cast("int").as("aligned"),
        col("contrast"))
      .withColumn("kept",
        (col("min_side") >= minSide &&
          col("aspect_x100") <= maxAspectX100 &&
          col("cap_tokens") >= minCapTokens &&
          col("aligned") === 1 &&
          col("contrast") >= minContrast).cast("int"))
      .orderBy("image_id")
  }

  /** The 5 tile regions of a w x h image: tile 0 = whole, 1-4 = the four
    * quadrants (tl, tr, bl, br). Shared by the operator and its mirror.
    */
  private[operators] def tileRegions(w: Int, h: Int): Seq[(Int, Int, Int, Int, Int)] =
    Seq((0, 0, 0, w, h),
      (1, 0, 0, w / 2, h / 2), (2, w / 2, 0, w - w / 2, h / 2),
      (3, 0, h / 2, w / 2, h - h / 2), (4, w / 2, h / 2, w - w / 2, h - h / 2))

  /** Tile hashes of one decoded image — [[tileRegions]] each phashed
    * independently. Exposed so the spec's mirror reuses the exact kernel.
    */
  private[operators] def tileHashesOf(bytes: Array[Byte]): Seq[(Int, Long)] = {
    val (px, w, h) = ImageKit.decodeGray(bytes)
    if (w < 2 || h < 2) Seq.empty
    else tileRegions(w, h).map { case (t, x0, y0, tw, th) =>
      val sub = new Array[Int](tw * th)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) { sub(y * tw + x) = px((y0 + y) * w + (x0 + x)); x += 1 }
        y += 1
      }
      (t, ImageKit.phashOfPixels(sub, tw, th))
    }
  }

  /** c46 — TILED perceptual hashes (the crop-resistant hashing idea of
    * Steinebach et al., ARES'14 segment hashing): a crop's WHOLE-image
    * phash shares nothing with its source's (the DCT sees a different
    * framing), so whole-hash dedup (c17) is blind to crops — but a crop
    * that covers a source REGION matches that region's tile hash. One
    * decode per image (mapPartitions), bytes never shuffle; output is
    * narrow (image_id, tile, thash) rows.
    */
  def tiledPhash(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        tileHashesOf(bytes).map { case (t, hsh) => (id, t, hsh) }
      })
      .toDF("image_id", "tile", "thash")
  }

  /** c46 matcher — crop-resistant copy detection: candidate join on the
    * 4x16-bit blocks of EVERY tile hash (certain recall for Hamming <= 3
    * per tile — the c15/c17 pigeonhole), exact bit_count verify; a pair
    * matches when ANY tile of A is within tau of ANY tile of B. The
    * exchange carries (ids, tile, 64-bit hash) only — never pixels.
    */
  def cropMatches(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val tiles = tiledPhash(images)
      .withColumn("img_hash", xxhash64(col("image_id")))
    val blocked = tiles.select(col("image_id"), col("img_hash"), col("tile"),
      col("thash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("thash"), b * 16)
            .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
      .select(col("image_id"), col("img_hash"), col("tile"), col("thash"),
        col("bk.blk").as("blk"), col("bk.key").as("key"))
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.img_hash") < col("b.img_hash"))
      .select(col("a.image_id").as("image_a"), col("b.image_id").as("image_b"),
        col("a.tile").as("tile_a"), col("b.tile").as("tile_b"),
        bit_count(col("a.thash").bitwiseXOR(col("b.thash")))
          .cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("image_a", "image_b", "tile_a", "tile_b")
  }

  /** c46 fixture: n base images (png, so crop pixels round-trip exactly)
    * plus planted crops — every 4th image contributes its top-left
    * quadrant, every 4th+1 its bottom-right, re-encoded as standalone
    * images. Returns (image_id, bytes).
    */
  def cropCorpus(spark: org.apache.spark.sql.SparkSession, n: Int = 48): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val s = graft.sources.Gen.snapshotRow(s"img-$i", 0, 0, "png", 0)
      val base = Seq((s.image_id, s.bytes))
      val (px, w, h) = ImageKit.decodeGray(s.bytes)
      def enc(tile: Int, tag: String) = {
        val (_, x0, y0, tw, th) = tileRegions(w, h)(tile)
        val sub = Array.tabulate(tw * th)(k =>
          px((y0 + k / tw) * w + (x0 + k % tw)))
        (s"img-$i?crop=$tag", ImageKit.encode(sub, tw, th, "png"))
      }
      base ++ (if (i % 4 == 0) Seq(enc(1, "tl"))
               else if (i % 4 == 1) Seq(enc(4, "br"))
               else Nil)
    }
    spark.createDataset(rows).toDF("image_id", "bytes")
  }

  /** c46 demo: matches over the crop corpus, deterministic order. */
  def cropDetectDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    cropMatches(cropCorpus(spark))
      .orderBy("image_a", "image_b", "tile_a", "tile_b")

  // ---- c89: phash Hamming calibration ----------------------------------

  /** c89 — phash HAMMING CALIBRATION: the measured Hamming-distance
    * distribution of the 64-bit perceptual hash per planted transform
    * class — the image counterpart of t43's MinHash calibration, and the
    * evidence behind every radius choice in the image-dedup family
    * (c17/c77 block at <=3 bits; this table is WHY 3). Classes: lossy
    * JPEG re-encode and 3x3 box blur (true copies — the radius must
    * catch them), horizontal flip (a true copy plain phash CANNOT see —
    * the measured blindspot that motivates c52's canonical min(phash,
    * phash(flip))), a content revision, and unrelated pairs (the
    * separation margin). Stats are integers end to end: min/max Hamming,
    * avg in centi-bits (integer div), share within the radius in bp.
    *
    * Shape: ONE codegen'd decode+phash pass over each byte column
    * (executor-side, bytes never shuffle or collect), a 5-row map-side
    * agg. Gate: ImageOpsSpec recomputes every class's stats through the
    * local ImageKit kernel (expression-vs-kernel parity, the KitSpec
    * pattern) and asserts the semantic bands: copies within radius at
    * 10000 bp, flip/revision/unrelated outside with positive margin.
    */
  def phashCalibration(pairs: DataFrame, radius: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(pairs.sparkSession)
    pairs
      .select(col("kind"),
        bit_count(graft.functions.GraftFunctions.phash64(col("bytes_a"))
          .bitwiseXOR(graft.functions.GraftFunctions.phash64(col("bytes_b"))))
          .as("h"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_pairs"),
        min("h").cast("long").as("min_hamming"),
        max("h").cast("long").as("max_hamming"),
        sum(col("h").cast("long")).as("sum_h"),
        sum(when(col("h") <= radius, 1L).otherwise(0L)).as("n_within"))
      .select(col("kind"), col("n_pairs"), col("min_hamming"),
        col("max_hamming"),
        expr("sum_h * 100 div n_pairs").as("avg_hamming_x100"),
        expr("n_within * 10000 div n_pairs").as("within_radius_bp"))
      .orderBy("kind")
  }

  /** The planted calibration corpus: per base image, one pair per
    * transform class (deterministic bytes — both the Spark expression
    * and the test mirror derive identical pixels from Gen.snapshotRow).
    */
  def calibrationPairs(spark: org.apache.spark.sql.SparkSession,
                       n: Int = 48): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val s = graft.sources.Gen.snapshotRow(s"img-$i", 0, 0, "png", 0)
      val sNext = graft.sources.Gen.snapshotRow(s"img-${(i + 1) % n}", 0, 0, "png", 0)
      val rev = graft.sources.Gen.snapshotRow(s"img-$i", 1, 0, "png", 0)
      val (px, w, h) = ImageKit.decodeGray(s.bytes)
      Seq(
        ("a_jpeg_reenc", s.bytes, ImageKit.encode(px, w, h, "jpeg")),
        ("b_blur3", s.bytes, ImageKit.encode(ImageKit.boxBlur3(px, w, h), w, h, "png")),
        ("c_flip", s.bytes, ImageKit.encode(ImageKit.flipHorizontal(px, w, h), w, h, "png")),
        ("d_revision", s.bytes, rev.bytes),
        ("e_unrelated", s.bytes, sNext.bytes))
    }
    spark.createDataset(rows).toDF("kind", "bytes_a", "bytes_b")
  }

  /** c89 demo rows: the calibration table over the planted corpus. */
  def phashCalibrationDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    phashCalibration(calibrationPairs(spark))

  // ---- c52: flip-invariant image near-dup ------------------------------

  /** c52 — FLIP-invariant near-dup (mirrored reposts are the most common
    * trivially-transformed image duplicate; Ke et al., CIVR'04 treat
    * mirroring as a first-class copy attack): each image gets the
    * canonical phash min(phash(I), phash(flip I)) — ImageKit.canonPhash64
    * — computed in the SAME single decode pass that would produce the
    * plain phash (the mirror reuses the decoded pixels; one extra
    * 32x32-resample+DCT, no second decode). Downstream is exactly the c17
    * machinery over the canonical column: 4x16-bit block index, ids+hash
    * exchanges, exact bit_count verify — so everything already proven
    * about c17's scale shape (certain recall <= 3 bits, no payload on
    * exchanges, CC/keep-list composition) holds verbatim.
    */
  def canonicalPhash(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, ImageKit.canonPhash64(bytes))
      })
      .toDF("image_id", "phash")
  }

  /** Flip-invariant near-dup pairs: c17's blocked matcher over the
    * canonical hashes. `whole_hash_missed` marks pairs plain-phash
    * blocking could never pair (no shared 16-bit block — the c46-style
    * blindness contrast, observable per row).
    */
  def flipMatches(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    import images.sparkSession.implicits._
    val plain = images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, ImageKit.phash64(bytes)) })
      .toDF("image_id", "plain_phash")
    nearDupPhash(canonicalPhash(images), maxHamming)
      .join(plain.select(col("image_id").as("image_a"),
        col("plain_phash").as("pa")), "image_a")
      .join(plain.select(col("image_id").as("image_b"),
        col("plain_phash").as("pb")), "image_b")
      .withColumn("whole_hash_missed",
        bit_count(col("pa").bitwiseXOR(col("pb"))) > maxHamming)
      .select("image_a", "image_b", "hamming", "whole_hash_missed")
  }

  /** c52 fixture: n base images (png — mirrored pixels round-trip
    * exactly) plus a horizontally-flipped repost of every 3rd. Returns
    * (image_id, bytes).
    */
  def flipCorpus(spark: org.apache.spark.sql.SparkSession, n: Int = 48): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val s = graft.sources.Gen.snapshotRow(s"img-$i", 0, 0, "png", 0)
      val base = Seq((s.image_id, s.bytes))
      if (i % 3 != 0) base
      else {
        val (px, w, h) = ImageKit.decodeGray(s.bytes)
        base :+ (s"img-$i?flip=h",
          ImageKit.encode(ImageKit.flipHorizontal(px, w, h), w, h, "png"))
      }
    }
    spark.createDataset(rows).toDF("image_id", "bytes")
  }

  /** c52 demo: flip-invariant matches over the flip corpus. */
  def flipDetectDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    flipMatches(flipCorpus(spark))
      .orderBy("image_a", "image_b")

  // ---- c74: tone-curve-resistant copy detection ------------------------

  /** Per-image tone audit: plain phash + equalized (rank-normalized)
    * phash, ONE decode per row (the equalization is an integer remap of
    * the decoded pixels). Bytes never leave the decode pass.
    */
  def toneAudit(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (px, w, h) = ImageKit.decodeGray(bytes)
        if (w == 0 || h == 0) (id, 0L, 0L)
        else (id, ImageKit.phashOfPixels(px, w, h),
          ImageKit.phashOfPixels(ImageKit.rankNormalize(px), w, h))
      })
      .toDF("image_id", "plain_phash", "rank_phash")
  }

  /** c74 — copy pairs that survive a TONE CURVE (gamma correction,
    * re-grade, auto-contrast — the most common silent edit in web
    * reposts after crop/flip): c17's blocked matcher over the equalized
    * phash. Histogram equalization is EXACTLY invariant under strictly
    * increasing intensity maps (ImageKit.rankNormalize law) and moves
    * only the rounding-collided levels under real gammas, where the raw
    * phash's DCT median shifts arbitrarily — `plain_missed` marks the
    * pairs raw-phash matching at the same threshold loses.
    */
  def toneMatches(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val audit = toneAudit(images).cache()
    nearDupPhash(audit.select(col("image_id"),
        col("rank_phash").as("phash")), maxHamming)
      .join(audit.select(col("image_id").as("image_a"),
        col("plain_phash").as("pa")), "image_a")
      .join(audit.select(col("image_id").as("image_b"),
        col("plain_phash").as("pb")), "image_b")
      .withColumn("plain_missed",
        bit_count(col("pa").bitwiseXOR(col("pb"))) > maxHamming)
      .select("image_a", "image_b", "hamming", "plain_missed")
  }

  /** c74 fixture: n base images (png) plus a gamma-regraded repost of
    * every 3rd, gamma cycling strong-dark to strong-bright.
    */
  def toneCorpus(spark: org.apache.spark.sql.SparkSession, n: Int = 48): DataFrame = {
    import spark.implicits._
    val gammas = Array(0.45, 0.6, 1.7, 2.2)
    val rows = (0 until n).flatMap { i =>
      val s = graft.sources.Gen.snapshotRow(s"img-$i", 0, 0, "png", 0)
      val base = Seq((s.image_id, s.bytes))
      if (i % 3 != 0) base
      else {
        val (px, w, h) = ImageKit.decodeGray(s.bytes)
        val g = gammas((i / 3) % gammas.length)
        base :+ (s"img-$i?gamma=$g",
          ImageKit.encode(ImageKit.gammaMap(px, g), w, h, "png"))
      }
    }
    spark.createDataset(rows).toDF("image_id", "bytes")
  }

  /** c74 demo: tone-resistant matches over the gamma corpus. */
  def toneDetectDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    toneMatches(toneCorpus(spark))
      .orderBy("image_a", "image_b")

  // ---- c47: corpus-wide caption-divergence mining --------------------

  /** c47 — clusters of near-identical pixels carrying DIFFERENT captions:
    * the corpus-scale generalization of news-diff's per-URL caption-revision
    * check. A phash cluster (hamming <= maxHamming; certain recall for <= 3
    * via the 4x16 block index — pigeonhole over 4 blocks) whose members
    * disagree on the normalized caption is either a silent caption edit
    * (same outlet re-publishing the image under new words) or syndicated
    * copies with divergent captions across outlets — both are exactly the
    * rows an image+caption training-data curator must adjudicate before
    * trusting the pair (the pixels cannot attest which caption is true).
    *
    * Scale shape: pair discovery and the CC fixpoint move ONLY
    * (img_hash, phash) — captions enter once, at the final per-component
    * aggregate, keyed by the already-clustered hash; no collect_set of
    * unbounded caption lists (exact countDistinct + min/max extremes), no
    * all-pairs join, singleton images never leave the block index.
    */
  def captionDivergence(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val pairs = nearDupPhash(images.select("image_id", "phash"), maxHamming)
    val labels = DedupResolve.connectedComponents(pairs, "img_a", "img_b")
    val normCap = lower(trim(regexp_replace(col("caption"), "\\s+", " ")))
    images.select(col("caption"), xxhash64(col("image_id")).as("img_hash"))
      .join(labels, col("img_hash") === col("id"))
      .select(col("comp"), normCap.as("cap"))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("cap")).as("n_captions"),
        min(col("cap")).as("caption_lo"),
        max(col("cap")).as("caption_hi"))
      .where(col("n_captions") >= 2)
      .orderBy("comp")
  }

  /** c47 demo corpus: deterministic groups of syndicated copies. Group g has
    * 1 + g%3 members; members share basePhash(g) with member m's phash
    * differing in m low bits (hamming m <= 2 from the base, <= 3 pairwise
    * within certain-recall range). Odd-numbered multi-member groups plant a
    * caption edit on their last member; the rest get only whitespace/case
    * noise — normalization must NOT count those as divergent.
    */
  def captionCorpus(spark: org.apache.spark.sql.SparkSession,
                    groups: Int = 60): DataFrame = {
    import spark.implicits._
    val rows = (0 until groups).flatMap { g =>
      val base = ImageKit.mix64(0xCAB7L * (g + 1))
      val k = 1 + g % 3
      (0 until k).map { m =>
        val phash = base ^ ((1L << m) - 1) // m low bits flipped
        val caption =
          if (g % 2 == 1 && k > 1 && m == k - 1) s"caption $g (edited)"
          else if (m % 2 == 1) s"  Caption   $g " // normalization noise only
          else s"caption $g"
        (s"http://h${g % 7}.example/art-$g-m$m", phash, caption)
      }
    }
    spark.createDataset(rows).toDF("image_id", "phash", "caption")
  }

  def captionDivergenceDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    captionDivergence(captionCorpus(spark))

  /** Blur-plant corpus for c57: n sharp base images; every 5th also ships
    * a 3x3-box-blurred twin (`<id>-blur`, same dims/format — only the
    * pixel spectrum changes). Deterministic, so the spec's mirror replants
    * identically.
    */
  def blurCorpus(spark: org.apache.spark.sql.SparkSession, n: Int = 60): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val w = 48; val h = 32
      val fmt = if (i % 2 == 0) "png" else "jpeg"
      val px = ImageKit.genPixels(ImageKit.mix64(i * 7919L + 5L), 0, w, h)
      val sharp = (s"img-$i", ImageKit.encode(px, w, h, fmt), fmt)
      if (i % 5 == 0) {
        // two box passes ~ a 5x5 low-pass: separates cleanly from the
        // already-smooth synthetic pixel field (one pass overlaps the
        // sharp distribution — measured via graft.tools.BlurProbe)
        val blurred = ImageKit.boxBlur3(ImageKit.boxBlur3(px, w, h), w, h)
        Seq(sharp, (s"img-$i-blur", ImageKit.encode(blurred, w, h, fmt), fmt))
      } else Seq(sharp)
    }
    rows.toDF("image_id", "bytes", "fmt")
  }

  /** c57 — no-reference blur/quality audit: variance-of-Laplacian
    * (Pech-Pacheco ICPR'00, the standard focus measure every image-corpus
    * curation stack runs alongside c36's gates) in integer fixed point.
    * Scale shape matches the c36 decode pass: ONE decode per image
    * emitting (image_id, long) — bytes never shuffle; the verdict is a
    * codegen comparison on the slim columns.
    */
  def blurAudit(images: DataFrame, minVarQ100: Long = 3000L): DataFrame = {
    import images.sparkSession.implicits._
    val scored = images.select("image_id", "bytes")
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (px, w, h) = ImageKit.decodeGray(bytes)
        (id, ImageKit.lapVarQ100(px, w, h))
      })
      .toDF("image_id", "lap_var_q100")
    scored.withColumn("is_sharp", col("lap_var_q100") >= minVarQ100)
  }

  def blurAuditDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    blurAudit(blurCorpus(spark)).orderBy("image_id")

  /** Dims-plant corpus for c63: n images (fmt cycles png/jpeg/gif/bmp)
    * whose catalog row declares 48x32, with every 5th actually ENCODED at
    * half size (a resized-in-flight/CDN-thumbnail substitution the
    * catalog never learned about) and every 7th (not also 5th) truncated
    * before its container's dimension field. Deterministic, so the
    * spec's mirror replants identically.
    */
  def dimsCorpus(spark: org.apache.spark.sql.SparkSession, n: Int = 70): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val declaredW = 48; val declaredH = 32
      val fmt = Seq("png", "jpeg", "gif", "bmp")(i % 4)
      val (w, h) = if (i % 5 == 0) (declaredW / 2, declaredH / 2)
                   else (declaredW, declaredH)
      val px = ImageKit.genPixels(ImageKit.mix64(i * 6037L + 11L), 0, w, h)
      val full = ImageKit.encode(px, w, h, fmt)
      // cut point lands BEFORE each container's dimension field: pre-IHDR
      // (png), pre-SOF (jpeg), mid-signature (gif), mid-file-header (bmp)
      val cut = fmt match {
        case "gif" => 5; case "bmp" => 13; case _ => 12
      }
      val bytes =
        if (i % 5 != 0 && i % 7 == 0) full.take(cut)
        else full
      (s"img-$i", bytes, fmt, declaredW, declaredH)
    }
    rows.toDF("image_id", "bytes", "fmt", "w", "h")
  }

  /** c63 — header-dimension audit: sniff width/height straight from the
    * container header (PNG IHDR at fixed offsets; JPEG exact SOFn marker
    * walk — ImageKit.headerDims64) and compare against the catalog's
    * declared dims. The whole verdict is ONE codegen projection fused
    * into the scan: the custom HeaderDims64 expression reads only the
    * header prefix of the binary column, nothing is decoded, shuffled, or
    * collected — the pre-decode gate that keeps mis-sized/truncated
    * payloads out of c36's ImageIO pass.
    */
  def dimsAudit(images: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(images.sparkSession)
    val packed = graft.functions.GraftFunctions.headerDims64(col("bytes"))
    images.select(col("image_id"), col("fmt"), col("w"), col("h"),
        packed.as("packed"))
      .withColumn("sniffed_w",
        when(col("packed") < 0, lit(-1))
          .otherwise(shiftrightunsigned(col("packed"), 32).cast("int")))
      .withColumn("sniffed_h",
        when(col("packed") < 0, lit(-1))
          .otherwise(col("packed").bitwiseAND(lit(0xffffffffL)).cast("int")))
      .withColumn("dims_ok",
        col("sniffed_w") === col("w") && col("sniffed_h") === col("h"))
      .drop("packed")
  }

  def dimsAuditDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    dimsAudit(dimsCorpus(spark)).orderBy("image_id")

  // ---- c64: EXIF orientation audit + orientation-normalized near-dup --

  /** c64 corpus: n upright base images plus, for every 3rd, a
    * camera-rotated jpeg repost of the same photo — the upright pixels
    * passed through ImageKit.storeWithOrientation(o) (o cycles over all
    * seven non-trivial EXIF transforms), jpeg-encoded, and tagged with a
    * spliced APP1/EXIF orientation segment (endianness alternates so both
    * II and MM TIFF layouts occur in one corpus). Applying the tag
    * recovers the upright grid, so the twins are near-dups ONLY in
    * oriented-phash space. Every 5th base also carries an explicit
    * upright tag (o=1) — tagged-but-trivial must behave like untagged.
    */
  def orientationCorpus(spark: org.apache.spark.sql.SparkSession,
                        n: Int = 42): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val s = graft.sources.Gen.snapshotRow(s"img-$i", 0, 0, "png", 0)
      val (px, w, h) = ImageKit.decodeGray(s.bytes)
      val base =
        if (i % 5 == 0) {
          val tagged = ImageKit.spliceExifJpeg(
            ImageKit.encode(px, w, h, "jpeg"), 1, bigEndian = i % 2 == 0)
          Seq((s.image_id, tagged))
        } else Seq((s.image_id, s.bytes))
      if (i % 3 != 0) base
      else {
        val o = 2 + i % 7 // cycles 2..8
        val (spx, sw, sh) = ImageKit.storeWithOrientation(px, w, h, o)
        val stored = ImageKit.spliceExifJpeg(
          ImageKit.encode(spx, sw, sh, "jpeg"), o, bigEndian = i % 2 == 1)
        base :+ (s"img-$i?exif=$o", stored)
      }
    }
    spark.createDataset(rows).toDF("image_id", "bytes")
  }

  /** Per-image orientation audit: the EXIF tag plus BOTH hashes — the
    * stored grid's plain phash and the display-normalized oriented phash
    * — from ONE decode pass per row (the tag walk reads only header
    * bytes; the normalize is an index remap of the already-decoded
    * pixels, no second decode).
    */
  def orientationAudit(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val o = ImageKit.exifOrientation(bytes)
        val (px, w, h) = ImageKit.decodeGray(bytes)
        val plain = if (w == 0) 0L else ImageKit.phashOfPixels(px, w, h)
        val (dpx, dw, dh) = ImageKit.applyOrientation(px, w, h, o)
        val oriented = if (w == 0) 0L else ImageKit.phashOfPixels(dpx, dw, dh)
        (id, o, plain, oriented)
      })
      .toDF("image_id", "orientation", "plain_phash", "oriented_phash")
  }

  /** c64 — orientation-invariant near-dup pairs: c17's blocked matcher
    * over the oriented column (ids+hashes on the exchanges, bytes never
    * leave the decode pass), with the c52-style `whole_hash_missed`
    * contrast showing which pairs plain-phash blocking is BLIND to —
    * for 90-degree family tags that is essentially all of them, which is
    * why copy detection without orientation normalization undercounts.
    */
  def orientationMatches(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val audit = orientationAudit(images).cache()
    nearDupPhash(
      audit.select(col("image_id"), col("oriented_phash").as("phash")),
      maxHamming)
      .join(audit.select(col("image_id").as("image_a"),
        col("plain_phash").as("pa")), "image_a")
      .join(audit.select(col("image_id").as("image_b"),
        col("orientation").as("pb_orient"), col("plain_phash").as("pb")),
        "image_b")
      .withColumn("whole_hash_missed",
        bit_count(col("pa").bitwiseXOR(col("pb"))) > maxHamming)
      .select("image_a", "image_b", "hamming", "pb_orient", "whole_hash_missed")
  }

  def orientationDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    orientationMatches(orientationCorpus(spark))
      .orderBy("image_a", "image_b")

  // ---- c68: dihedral (EXIF-STRIPPED rotation/flip) copy detection ------

  /** c68 corpus: n upright base images plus, for every 3rd, a repost whose
    * pixels are baked through a dihedral transform (cycling all seven
    * non-trivial D4 elements) and re-encoded WITHOUT any EXIF tag — the
    * rotate-then-strip web repost c64's declared-tag normalization cannot
    * see (exifOrientation reads 0 on every row here). Every other repost
    * is jpeg (lossy twin), the rest png (exact twin), so the matcher is
    * exercised on both noise regimes.
    */
  def dihedralCorpus(spark: org.apache.spark.sql.SparkSession,
                     n: Int = 42): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val s = graft.sources.Gen.snapshotRow(s"img-$i", 0, 0, "png", 0)
      val base = Seq((s.image_id, s.bytes))
      if (i % 3 != 0) base
      else {
        val (px, w, h) = ImageKit.decodeGray(s.bytes)
        val o = 2 + i % 7 // cycles 2..8
        val (spx, sw, sh) = ImageKit.storeWithOrientation(px, w, h, o)
        val fmt = if (i % 2 == 0) "jpeg" else "png"
        base :+ (s"img-$i?rot=$o", ImageKit.encode(spx, sw, sh, fmt))
      }
    }
    spark.createDataset(rows).toDF("image_id", "bytes")
  }

  /** Per-image dihedral audit: the stored grid's phash plus the full
    * 8-element orbit of phashes, one decode per row (each orbit element
    * is an index remap of the decoded pixels, no re-decode).
    */
  def dihedralAudit(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val orbit = ImageKit.dihedralPhashes(bytes)
        (id, orbit(0), orbit)
      })
      .toDF("image_id", "phash", "orbit")
  }

  /** c68 — rotation/flip-invariant copy pairs with NO metadata: probe
    * every element of side a's dihedral orbit against side b's single
    * stored hash (D4 closure makes the probe symmetric: whichever of the
    * pair is the rotated one, the un-rotating element is in the other's
    * orbit). Blocking is c17's 4x16-bit key scheme applied to each
    * (orbit element, stored hash) combination — ids and hashes only on
    * the exchanges, bytes never leave the decode pass; pigeonhole keeps
    * recall certain for hamming <= 3. `plain_missed` contrasts what
    * stored-hash-only blocking (c17) is blind to — for the 90-degree
    * family, essentially every pair.
    */
  def dihedralMatches(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val audit = dihedralAudit(images)
      .withColumn("img_hash", xxhash64(col("image_id")))
      .cache()
    val probes = audit.select(col("image_id"), col("phash"), col("img_hash"),
        posexplode(col("orbit")).as(Seq("orient0", "ph_o")))
      .select(col("image_id"), col("phash"), col("img_hash"),
        (col("orient0") + 1).as("orient"), col("ph_o"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("blk"),
            shiftrightunsigned(col("ph_o"), b * 16)
              .bitwiseAND(lit(0xffffL)).as("key"))).toIndexedSeq: _*))
          .as("block"))
      .select(col("image_id"), col("phash"), col("img_hash"),
        col("orient"), col("ph_o"), col("block.blk").as("blk"),
        col("block.key").as("key"))
    val stored = phashBlocks(audit.select("image_id", "phash"))
    probes.as("a").join(stored.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.img_hash") < col("b.img_hash"))
      .select(col("a.image_id").as("image_a"), col("b.image_id").as("image_b"),
        col("a.img_hash").as("img_a"), col("b.img_hash").as("img_b"),
        col("a.orient").as("orient"),
        bit_count(col("a.ph_o").bitwiseXOR(col("b.phash"))).as("hamming"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .as("plain_hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("img_a", "img_b")
      .agg(first("image_a").as("image_a"), first("image_b").as("image_b"),
        min(struct(col("hamming"), col("orient"))).as("best"),
        first("plain_hamming").as("plain_hamming"))
      .select(col("image_a"), col("image_b"),
        col("best.hamming").as("hamming"), col("best.orient").as("orient"),
        (col("plain_hamming") > maxHamming).as("plain_missed"))
  }

  def dihedralDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    dihedralMatches(dihedralCorpus(spark))
      .orderBy("image_a", "image_b")

  // ---- c69: letterbox / pillarbox / padding border audit ---------------

  /** c69 corpus: n natural-texture images; every 4th is letterboxed (flat
    * top+bottom bars, thickness cycling 3/5/7, bar value cycling 0/16/235
    * — black, near-black, broadcast-white), every 6th (not also 4th) is
    * pillarboxed (flat left+right bars, thickness 4/6), and every 11th
    * clean image gets ONE flat top row (a 1-px camera artifact that must
    * not trip the verdict). Encoded png so the planted bars stay exactly
    * flat.
    */
  def borderCorpus(spark: org.apache.spark.sql.SparkSession,
                   n: Int = 66): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val w = 48; val h = 32
      val px = ImageKit.genPixels(ImageKit.mix64(i * 15485863L + 7L), 0, w, h)
      val (out, ow, oh) =
        if (i % 4 == 0) {
          val bar = Seq(3, 5, 7)(i / 4 % 3)
          val v = Seq(0, 16, 235)(i / 4 % 3)
          val padded = Array.fill(bar * w)(v) ++ px ++ Array.fill(bar * w)(v)
          (padded, w, h + 2 * bar)
        } else if (i % 6 == 0) {
          val bar = Seq(4, 6)(i / 6 % 2)
          val padded = (0 until h).flatMap(y =>
            Array.fill(bar)(8) ++ px.slice(y * w, (y + 1) * w) ++
              Array.fill(bar)(8)).toArray
          (padded, w + 2 * bar, h)
        } else if (i % 11 == 0) {
          (Array.fill(w)(64) ++ px.drop(w), w, h)
        } else (px, w, h)
      (s"img-$i", ImageKit.encode(out, ow, oh, "png"))
    }
    rows.toDF("image_id", "bytes")
  }

  /** c69 — border audit: per-image flat-bar thickness on all four edges
    * (ImageKit.borderWidths, one decode per row) plus the padded-fraction
    * of each axis and the curation verdict (PADDED when either axis is
    * >= minFrac border — the letterboxed/pillarboxed rows a training
    * pipeline crops or drops; a 1-px artifact row stays below the
    * threshold). Bytes never leave the decode pass; the output is ids +
    * small ints.
    */
  def borderAudit(images: DataFrame, tol: Int = 8,
                  minFrac: Double = 0.1): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (t, b, l, r) = ImageKit.borderWidths(bytes, tol)
        val packed = ImageKit.headerDims64(bytes)
        val w = math.max(ImageKit.dimsW(packed), 1)
        val h = math.max(ImageKit.dimsH(packed), 1)
        (id, t, b, l, r,
          math.round((t + b) * 10000.0 / h) / 10000.0,
          math.round((l + r) * 10000.0 / w) / 10000.0)
      })
      .toDF("image_id", "top", "bottom", "left", "right",
        "vfrac", "hfrac")
      .withColumn("padded",
        col("vfrac") >= minFrac || col("hfrac") >= minFrac)
  }

  def borderDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    borderAudit(borderCorpus(spark)).orderBy("image_id")

  // ---- c71: low-contrast / flat-payload audit ---------------------------

  /** c71 corpus: n natural-texture images; every 5th is replaced by a
    * SOLID placeholder (one value, range 0), every 7th (not also 5th) by
    * a near-flat card (values within +-2 of a base — the "blank thumbnail
    * with a faint logo" shape), the rest keep their full-range texture.
    */
  def contrastCorpus(spark: org.apache.spark.sql.SparkSession,
                     n: Int = 70): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val w = 48; val h = 32
      val seed = ImageKit.mix64(i * 32452843L + 13L)
      val px =
        if (i % 5 == 0) Array.fill(w * h)(((seed >>> 8) & 0xff).toInt)
        else if (i % 7 == 0) {
          val base = 100 + (i % 3) * 40
          Array.tabulate(w * h)(j =>
            base + (ImageKit.mix64(seed + j) & 0x3L).toInt)
        } else ImageKit.genPixels(seed, 0, w, h)
      (s"img-$i", ImageKit.encode(px, w, h, "png"))
    }
    rows.toDF("image_id", "bytes")
  }

  /** c71 — contrast audit: per-image intensity range and integer
    * fixed-point stddev (ImageKit.contrastQ100, one decode per row),
    * verdict LOW_CONTRAST when the range or the spread is under the
    * gate — the no-signal payloads a curation pipeline drops before
    * spending feature-extraction on them. Bytes stop at the decode pass;
    * output is ids + small ints.
    */
  def contrastAudit(images: DataFrame, minRange: Int = 24,
                    minStddevQ100: Long = 600L): DataFrame = {
    import images.sparkSession.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (rng, sd) = ImageKit.contrastQ100(bytes)
        (id, rng, sd)
      })
      .toDF("image_id", "range", "stddev_q100")
      .withColumn("low_contrast",
        col("range") < minRange || col("stddev_q100") < minStddevQ100)
  }

  def contrastDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    contrastAudit(contrastCorpus(spark)).orderBy("image_id")

  // ---- c66: JPEG encode-quality audit ----------------------------------

  /** c66 corpus: n jpegs at high encode quality, with every 4th replaced
    * by a re-compressed copy at a LOW quality that cycles 20/35/50 (the
    * CDN/thumbnail-proxy re-encode a crawl constantly receives) and
    * every 9th (not also 4th) stored as png (quality not applicable —
    * estimate must be -1, not a throw).
    */
  def qualityCorpus(spark: org.apache.spark.sql.SparkSession,
                    n: Int = 72): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val px = ImageKit.genPixels(ImageKit.mix64(i * 9001L + 5L), 0, 48, 32)
      val bytes =
        if (i % 4 == 0) ImageKit.encodeJpegQuality(px, 48, 32, Seq(0.20f, 0.35f, 0.50f)(i / 4 % 3))
        else if (i % 9 == 0) ImageKit.encode(px, 48, 32, "png")
        else ImageKit.encodeJpegQuality(px, 48, 32, 0.92f)
      (s"img-$i", bytes)
    }
    rows.toDF("image_id", "bytes")
  }

  /** c66 — encode-quality audit: the IJG quality estimate inverted from
    * the luminance DQT (header bytes only, nothing decoded — the
    * JpegQuality codegen expression) plus the curation verdict LOW
    * (estimate in 1..minQuality-1). Non-JPEG rows report -1 and are not
    * LOW — format applicability is c55's job, this gate only flags
    * provably re-compressed payloads. One whole-stage projection.
    */
  def qualityAudit(images: DataFrame, minQuality: Int = 60): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(images.sparkSession)
    images.select(col("image_id"),
        graft.functions.GraftFunctions.jpegQuality(col("bytes")).as("quality_est"))
      .withColumn("low_quality",
        col("quality_est") >= 1 && col("quality_est") < minQuality)
  }

  def qualityAuditDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    qualityAudit(qualityCorpus(spark)).orderBy("image_id")

  // ---- t33: aspect-ratio bucket packing --------------------------------

  /** t33 corpus: deterministic (w, h) dims synthesized from p_partkey
    * (the c27/q55 discipline — DuckDB reconstructs the table
    * byte-identically), standing in for the image catalog's dims column.
    */
  def aspectBucketCorpus(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet").select(col("p_partkey"),
      (lit(32) + pmod(col("p_partkey"), lit(97))).cast("int").as("w"),
      (lit(32) + pmod(col("p_partkey") * 7, lit(61))).cast("int").as("h"))

  /** t33 — aspect-ratio BUCKET PACKING (the SDXL-style batch discipline:
    * variable-aspect images train in fixed-shape batches, so each image
    * joins the bucket whose aspect is nearest and batches form within a
    * bucket; the image sibling of t17's sequence packing): bucket
    * assignment is a pure INTEGER argmin — least() over (|100*w - b*h|,
    * b) structs, engine-exact with no float aspect math — and packing is
    * one window per bucket (row_number by the key), batch = rn/B,
    * slot = rn%B, with the ragged tail batch marked not-full (training
    * drops it). One Expand-free projection + ONE hash exchange on
    * bucket_ar for both windows.
    */
  def aspectBucketPack(images: DataFrame, batchSize: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = Seq(50, 75, 100, 133, 200)
    val best = least(buckets.map(b =>
      struct((abs(lit(100) * col("w") - lit(b) * col("h"))).cast("long").as("cost"),
        lit(b).as("b"))).toIndexedSeq: _*)
    val ordered = Window.partitionBy("bucket_ar").orderBy("p_partkey")
    val bucketAll = Window.partitionBy("bucket_ar")
    images.withColumn("bucket_ar", best.getField("b"))
      .withColumn("rn", row_number().over(ordered).cast("long") - 1)
      .withColumn("nb", count(lit(1)).over(bucketAll))
      .select(col("p_partkey"), col("w"), col("h"), col("bucket_ar"),
        floor(col("rn") / batchSize).as("batch_id"),
        pmod(col("rn"), lit(batchSize)).cast("int").as("slot"),
        (floor(col("rn") / batchSize) < floor(col("nb") / batchSize))
          .as("full_batch"))
  }

  def aspectBucketReport(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    aspectBucketPack(aspectBucketCorpus(spark, dir)).orderBy("p_partkey")

  // ---- c77: scale-variant dedup + best-copy election -------------------

  /** Combination blocking over the 64-bit phash (Manku et al., WWW'07
    * simhash dedup): 8 blocks of 8 bits, one key per block PAIR (i<j) —
    * C(8,2) = 28 keys of 16 bits each. CERTAIN recall at hamming <= 6: six
    * flips touch at most six blocks, so two blocks stay intact and their
    * combination key matches. The c17 matcher (4x16-bit single blocks) is
    * certain only to radius 3, which provably misses scale variants —
    * thumbnail re-encodes of the same pixels land at hamming 4..8 (three
    * of forty probed trios shared NO 16-bit block). Key width stays 16
    * bits, so per-key selectivity equals c17's; the cost is 28 index rows
    * per image instead of 4 (ids + 8-byte hash only — never pixels).
    */
  def phashBlockPairs(images: DataFrame): DataFrame = {
    val base = images.select(col("image_id"), col("phash"),
      xxhash64(col("image_id")).as("img_hash"))
    val keys = for (i <- 0 until 8; j <- (i + 1) until 8) yield
      struct(lit(i * 8 + j).as("tag"),
        (shiftrightunsigned(col("phash"), i * 8).bitwiseAND(lit(0xffL)) * 256L +
          shiftrightunsigned(col("phash"), j * 8).bitwiseAND(lit(0xffL))).as("key"))
    base.select(col("image_id"), col("phash"), col("img_hash"),
        explode(array(keys.toIndexedSeq: _*)).as("bk"))
      .select(col("image_id"), col("phash"), col("img_hash"),
        col("bk.tag").as("tag"), col("bk.key").as("key"))
  }

  /** Scale-variant near-dup pairs at radius 6 (certain recall via the
    * combination blocking above; exact verify on the XOR popcount). */
  def scaleMatches(images: DataFrame, maxHamming: Int = 6): DataFrame = {
    val blocked = phashBlockPairs(images)
    blocked.as("a").join(blocked.as("b"),
        col("a.tag") === col("b.tag") && col("a.key") === col("b.key") &&
          col("a.img_hash") < col("b.img_hash"))
      .select(col("a.image_id").as("image_a"), col("b.image_id").as("image_b"),
        col("a.img_hash").as("img_a"), col("b.img_hash").as("img_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .dropDuplicates("img_a", "img_b")
      .where(col("hamming") <= maxHamming)
  }

  /** c77 — BEST-COPY election: the LAION/DataComp curation rule that c17's
    * min-hash survivor cannot express — when the same picture circulates
    * at several resolutions/encodings, keep the highest-quality member:
    * max pixel area, then lossless format over lossy, then min img_hash
    * for determinism. The whole policy packs into ONE long score
    * (area * 2 + png-bit; area < 2^62 for any real image) so the generic
    * score-ranked resolver (DedupResolve.resolveByScore) applies
    * unchanged. Scale shape: pairs/labels carry ids + hashes only, the
    * election is one window over the dup-rate-sized label table, and the
    * corpus pays a broadcast anti-join on the drop list — bytes never
    * shuffle.
    */
  def electBestCopies(images: DataFrame, maxHamming: Int = 6): DataFrame = {
    val withHash = images.withColumn("img_hash", xxhash64(col("image_id")))
    val pairs = scaleMatches(images, maxHamming)
    val scores = withHash.select(col("img_hash"),
      (col("w").cast("long") * col("h") * 2L +
        when(col("fmt") === "png", 1L).otherwise(0L)).as("copy_score"))
    val resolved = DedupResolve.resolveByScore(pairs, "img_a", "img_b",
      scores, "img_hash", "copy_score")
    val drops = resolved.where(!col("is_survivor"))
      .select(col("doc_id").as("__drop_id"))
    withHash.join(drops, col("img_hash") === col("__drop_id"), "left_anti")
      .drop("__drop_id")
  }

  /** c77 corpus: n/4 planted trios of the SAME pixels at three scales —
    * full png (48x36, the copy the policy must keep), half jpeg (24x18),
    * thumb png (16x12) — plus n/4 unrelated singletons. Every field is a
    * pure function of the group index, so tests recompute rows locally.
    */
  def scaleCorpus(spark: org.apache.spark.sql.SparkSession,
                  n: Int = 48, w: Int = 48, h: Int = 36): DataFrame = {
    import spark.implicits._
    val groups = n / 4
    spark.range(0L, groups.toLong, 1L, math.max(1, groups / 8))
      .flatMap { i =>
        val px = ImageKit.genPixels(ImageKit.mix64(i * 7919L + 5L), 0, w, h)
        def down(tw: Int, th: Int, fmt: String) = {
          val d = ImageKit.resampleArea(px, w, h, tw, th)
          val ip = d.map(v => math.max(0, math.min(255, math.round(v).toInt)))
          ImageKit.encode(ip, tw, th, fmt)
        }
        val (hw, hh) = (w / 2, h / 2)
        val (tw, th) = (w / 3, h / 3)
        val full = ImageKit.encode(px, w, h, "png")
        val half = down(hw, hh, "jpeg")
        val thumb = down(tw, th, "png")
        val solo = ImageKit.encode(
          ImageKit.genPixels(ImageKit.mix64(i * 104729L + 11L), 0, w, h), w, h, "png")
        Seq(
          graft.model.Snapshot(s"img-$i-full", full, w, h, "png",
            s"caption of img-$i", ImageKit.phash64(full), 0),
          graft.model.Snapshot(s"img-$i-half", half, hw, hh, "jpeg",
            s"caption of img-$i", ImageKit.phash64(half), 0),
          graft.model.Snapshot(s"img-$i-thumb", thumb, tw, th, "png",
            s"caption of img-$i", ImageKit.phash64(thumb), 0),
          graft.model.Snapshot(s"img-$i-solo", solo, w, h, "png",
            s"caption of solo-$i", ImageKit.phash64(solo), 0))
      }.toDF()
  }

  def bestCopyDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    electBestCopies(scaleCorpus(spark))
      .select(col("image_id"), col("w"), col("h"), col("fmt"))
      .orderBy("image_id")

  // ---- c78: incremental best-copy catalog (upgrade semantics) ----------
  //
  // The curated corpus as PERSISTED STATE: each epoch's new images are
  // admitted against the catalog-so-far through the combination-block
  // index, and — unlike dedupNewEpochImages, which always drops a new
  // duplicate — a HIGHER-quality copy of known content REPLACES the
  // stored survivor (the realistic crawl event: the canonical-resolution
  // original shows up after a thumbnail circulated first). The election
  // policy is history-independent ((copy_score desc, img_hash asc)), so
  // the incremental catalog provably equals a from-scratch election over
  // the union corpus — the SimIndex/IncrementalCc golden law.
  //
  // State per epoch, all slim (bytes never persisted, never shuffled):
  //   phash_pair_blocks/epoch=N   via SimIndex.writePhashPairIndex
  //   image_scores/epoch=N        (img_hash, image_id, copy_score)
  //   bestcopy_cc/cc_labels/...   via DedupResolve.updateLabels
  //
  // Scale shape: pairs/labels/actions are dup-rate-sized; the election is
  // one window over the paired nodes only; singletons join by anti-join.

  private def copyScore = col("w").cast("long") * col("h") * 2L +
    when(col("fmt") === "png", 1L).otherwise(0L)

  def writeImageScores(images: DataFrame, root: String, epoch: Int): Unit =
    images.select(xxhash64(col("image_id")).as("img_hash"),
        col("image_id"), copyScore.as("copy_score"))
      .write.mode("overwrite").parquet(ScoresFamily.dir(root, epoch))

  /** The score rows; without compaction a long-running catalog lists
    * O(epochs) dirs per election. */
  val ScoresFamily: Snapshots.Family = Snapshots.Family("image_scores",
    StructType.fromDDL("img_hash BIGINT, image_id STRING, copy_score BIGINT"))

  def compactImageScores(spark: org.apache.spark.sql.SparkSession,
                         root: String, upToEpoch: Int): Unit =
    ScoresFamily.compact(spark, root, upToEpoch)

  /** Admit one epoch's images into the catalog state: index + scores +
    * incremental CC labels. Idempotent per epoch (every write overwrites
    * its own epoch dir). */
  def admitEpochBestCopy(spark: org.apache.spark.sql.SparkSession,
                         root: String, epoch: Int, newImages: DataFrame,
                         maxHamming: Int = 6): Unit = {
    SimIndex.writePhashPairIndex(newImages, root, epoch)
    writeImageScores(newImages, root, epoch)
    val pairs = SimIndex.crossEpochScaleMatches(spark, root, epoch, maxHamming)
    DedupResolve.updateLabels(spark, s"$root/bestcopy_cc", epoch, pairs,
      "img_a", "img_b")
    ()
  }

  /** The catalog as of `epoch`: per component the (copy_score desc,
    * img_hash asc) argmax over ALL members seen so far, plus every
    * never-paired image. */
  def bestCopyCatalog(spark: org.apache.spark.sql.SparkSession,
                      root: String, epoch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = ScoresFamily.upTo(spark, root, epoch)
    val labels = DedupResolve.readLabels(spark, s"$root/bestcopy_cc", epoch)
      .select(col("id").as("img_hash"), col("comp"))
    val paired = scores.join(labels, "img_hash")
    val w = Window.partitionBy("comp")
      .orderBy(col("copy_score").desc, col("img_hash").asc)
    val elected = paired.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select("image_id", "img_hash", "copy_score")
    val singles = scores.join(labels.select("img_hash"),
        Seq("img_hash"), "left_anti")
      .select("image_id", "img_hash", "copy_score")
    elected.unionByName(singles)
  }

  /** The epoch's catalog DELTA as actions: `admitted` (new image entered
    * the catalog), `dropped_new` (new image was a lesser copy of known
    * content), `evicted` (a previously cataloged survivor lost its
    * election to a better new copy — the upgrade event). */
  def upgradeActions(spark: org.apache.spark.sql.SparkSession,
                     root: String, epoch: Int): DataFrame = {
    val cur = bestCopyCatalog(spark, root, epoch)
      .select("image_id", "img_hash")
    val newScores = ScoresFamily.readEpochs(spark, root, Seq(epoch))
      .select("image_id", "img_hash")
    val admitted = newScores.join(cur, Seq("img_hash"), "left_semi")
      .withColumn("action", lit("admitted"))
    val dropped = newScores.join(cur, Seq("img_hash"), "left_anti")
      .withColumn("action", lit("dropped_new"))
    val evicted =
      if (epoch == 0)
        newScores.where(lit(false)).withColumn("action", lit("evicted"))
      else bestCopyCatalog(spark, root, epoch - 1)
        .select("image_id", "img_hash")
        .join(cur, Seq("img_hash"), "left_anti")
        .withColumn("action", lit("evicted"))
    admitted.unionByName(dropped).unionByName(evicted)
      .select("image_id", "action")
  }

  /** c78 demo: two epochs over the scale trios — even groups see their
    * lesser copies first and the full png later (upgrade + eviction),
    * odd groups see the full first and lesser copies later (drops). */
  def bestCopyCatalogDemo(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val root = graft.SparkEnv.scratchDir("graft-c78")
    val all = scaleCorpus(spark)
    val grp = regexp_extract(col("image_id"), "img-(\\d+)-", 1).cast("long")
    val isFull = col("image_id").endsWith("-full")
    val e0 = all.where((pmod(grp, lit(2)) === 0 && !isFull) ||
      (pmod(grp, lit(2)) === 1 && isFull) || col("image_id").endsWith("-solo"))
    val e1 = all.join(e0.select("image_id"), Seq("image_id"), "left_anti")
    admitEpochBestCopy(spark, root, 0, e0)
    admitEpochBestCopy(spark, root, 1, e1)
    upgradeActions(spark, root, 1).orderBy("action", "image_id")
  }

  // ---- c81: composed image corpus build (quality gates + dedup) --------

  /** c81 fixture: the c36 curation corpus (all five failure families) plus
    * 64x48 scale trios whose captions follow the alignment convention —
    * sized so the trio's full (64x48) and half (32x24) PASS the
    * resolution floor while the thumb (21x16) FAILS it, which makes every
    * verdict class live: thumb = quality_fail, half = dup_lesser (loses
    * the election to full), full = kept.
    */
  def compositeCurationCorpus(spark: org.apache.spark.sql.SparkSession,
                              n: Int = 400): DataFrame =
    curationCorpus(spark, n).toDF().unionByName(
      scaleCorpus(spark, 48, 64, 48).withColumn("caption",
        concat(lit("caption of "), col("image_id"), lit(" v0"))))

  /** c81 — the COMPOSED image corpus build, the image payload's t09/t22
    * analog (what a LAION/DataComp-style release actually runs, as ONE
    * declarative plan): c36's five quality gates first (cheap metadata +
    * one decode pass), then best-copy dedup over the survivors only (the
    * expensive pair machinery never sees quality-failed rows). Verdict per
    * input row: `quality_fail` | `dup_lesser` | `kept`. Scale shape: the
    * gates are a codegen'd projection + one slim decode-feature join; the
    * dedup stage inherits c77's ids+phash-only exchanges; the final
    * verdict assembly is two dup-rate-or-report-sized joins on image_id.
    */
  def buildImageCorpus(images: DataFrame,
                       minSide: Int = 24, maxAspectX100: Int = 200,
                       minCapTokens: Int = 3, minContrast: Double = 2.0,
                       maxHamming: Int = 6): DataFrame = {
    val rep = curationReport(images, minSide, maxAspectX100,
      minCapTokens, minContrast).select("image_id", "kept")
    val quality = images.join(
      rep.where(col("kept") === 1).select("image_id"), Seq("image_id"), "left_semi")
    val elected = electBestCopies(quality, maxHamming).select("image_id")
    images.select("image_id")
      .join(rep.withColumnRenamed("kept", "q"), Seq("image_id"), "left")
      .join(elected.withColumn("e", lit(1)), Seq("image_id"), "left")
      .select(col("image_id"),
        when(col("q") === 0, lit("quality_fail"))
          .when(col("e").isNull, lit("dup_lesser"))
          .otherwise(lit("kept")).as("verdict"))
  }

  def corpusBuildDemo(spark: org.apache.spark.sql.SparkSession): DataFrame =
    buildImageCorpus(compositeCurationCorpus(spark)).orderBy("image_id")
}
