package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Hand-rolled 64-bit-key bloom filter (SURVEY.md §2.4 A4, north_rule
  * "partitioned bloom/cuckoo URL-seen filter").
  *
  * Layout: `Array[Long]` of bit words; the serialized form is
  * `[numHash:int][numWords:int][words...]` big-endian. Probe i of item x
  * uses the double-hashing scheme g_i(x) = h1(x) + i*h2(x) (Kirsch &
  * Mitzenmacher 2006, public result) with splitmix64-derived h1/h2 — pure,
  * JVM-stable, no dependence on Spark's sketch package internals.
  *
  * Scale design (SURVEY.md §7.3.5): a monolithic bloom for 10^10 URLs at 1%
  * FPP is ~12 GB — unusable as a broadcast. The engine therefore builds
  * PARTITIONED blooms: one filter per host-bucket (pmod(xxhash64(host), B)),
  * each sized for its expected key share, as a (host_bucket, bloom:binary)
  * table (SeenStore.buildBlooms).
  */
object Bloom64 {

  def optimalNumBits(n: Long, fpp: Double): Int = {
    val bits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    math.max(64L, math.min(bits, Int.MaxValue / 2L)).toInt
  }

  def optimalNumHash(n: Long, m: Long): Int =
    math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)

  @inline private def h1(x: Long): Long = ImageKit.mix64(x)
  @inline private def h2(x: Long): Long = ImageKit.mix64(x ^ 0x5851f42d4c957f2dL) | 1L

  def put(words: Array[Long], numHash: Int, item: Long): Unit = {
    val m = words.length.toLong * 64L
    val a = h1(item); val b = h2(item)
    var i = 0
    while (i < numHash) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, m)
      words((bit >>> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(words: Array[Long], numHash: Int, item: Long): Boolean = {
    val m = words.length.toLong * 64L
    val a = h1(item); val b = h2(item)
    var i = 0
    while (i < numHash) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, m)
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Probe entry point for the codegen'd BloomMightContain expression: the
    * broadcast holds the bucket -> (numHash, words) map; a bucket with no
    * bloom (no key hashed there) is "definitely new".
    */
  def mightContainRef(
      bc: org.apache.spark.broadcast.Broadcast[_],
      bucket: Int,
      hash: Long): Boolean = {
    val m = bc.value.asInstanceOf[Map[Int, (Int, Array[Long])]]
    m.get(bucket) match {
      case Some((k, words)) => mightContain(words, k, hash)
      case None             => false
    }
  }

  def serialize(words: Array[Long], numHash: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numHash); bb.putInt(words.length)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  /** (numHash, words) */
  def deserialize(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numHash = bb.getInt; val n = bb.getInt
    val words = new Array[Long](n)
    var i = 0
    while (i < n) { words(i) = bb.getLong; i += 1 }
    (numHash, words)
  }
}

/** Typed Aggregator building one bloom per group (the TypedImperativeAggregate
  * use-case, SURVEY.md §2.9): `groupBy(host_bucket).agg(BloomAgg(...))`.
  * Buffer = raw bit words (Catalyst-native Array[Long] encoder — no kryo, no
  * per-row ser/de); merge = word-wise OR, so partial aggregation (map-side
  * combine) applies and the shuffle carries one fixed-size buffer per
  * (partition, bucket), never per row.
  */
class BloomAgg(expectedItems: Long, fpp: Double)
    extends Aggregator[Long, Array[Long], Array[Byte]] {
  private val numBits = Bloom64.optimalNumBits(expectedItems, fpp)
  private val numWords = (numBits + 63) / 64
  val numHash: Int = Bloom64.optimalNumHash(expectedItems, numWords.toLong * 64L)

  override def zero: Array[Long] = new Array[Long](numWords)
  override def reduce(buf: Array[Long], item: Long): Array[Long] = {
    Bloom64.put(buf, numHash, item); buf
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Long]): Array[Byte] = Bloom64.serialize(buf, numHash)
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
