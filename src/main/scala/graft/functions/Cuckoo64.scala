package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Hand-rolled cuckoo filter over 64-bit keys — the deletable alternative to
  * [[Bloom64]] for the north_rule's "partitioned bloom/cuckoo URL-seen
  * filter" (SURVEY.md §2.4 A4, §2.9 optional stretch). Standard partial-key
  * cuckoo hashing (Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter:
  * Practically Better Than Bloom", CoNEXT 2014 — public result).
  *
  * Layout: `Array[Long]`, one long per bucket = 4 packed 16-bit fingerprint
  * slots (slot value 0 = empty; fingerprints are forced nonzero). The last
  * word is an overflow flag: if an insert ever fails after MaxKicks
  * evictions the filter saturates and `contains` returns true for
  * everything — the bloom-style safe degradation (false positives only,
  * never false negatives). Buckets are a power of two; the alternate bucket
  * of fingerprint f at bucket i is `i XOR bucket(mix64(f))`, so it is
  * derivable from any current position — which is what makes both deletion
  * and filter merge possible without the original keys.
  *
  * Why 16-bit fingerprints: FPR ≈ 2b/2^f = 8/65536 ≈ 1.2e-4 at 4 slots per
  * bucket — far below the 1% the engine configures blooms for — while
  * keeping the table at ~2.1 bytes/key at 95% load, comparable to a 1% bloom
  * (~1.2 bytes/key) but with O(1) deletion, which a bloom cannot do at all.
  * Built one filter per host-bucket, like the blooms (SeenStore.buildCuckoos).
  */
object Cuckoo64 {

  final val SlotsPerBucket = 4
  final val MaxKicks = 500

  /** Buckets (power of two) for n keys at ~95% target load. */
  def numBucketsFor(n: Long): Int = {
    val need = math.max(1L, math.ceil(n / (SlotsPerBucket * 0.95)).toLong)
    java.lang.Long.highestOneBit(math.max(1L, need - 1L) << 1).toInt
  }

  /** Table words = buckets + 1 trailing overflow-flag word. */
  def alloc(numBuckets: Int): Array[Long] = new Array[Long](numBuckets + 1)

  @inline private def mask(table: Array[Long]): Int = table.length - 2

  @inline def fingerprintOf(x: Long): Int = {
    val f = (ImageKit.mix64(x ^ 0x9e3779b97f4a7c15L) >>> 48).toInt & 0xffff
    if (f == 0) 0x1357 else f
  }

  @inline def bucket1Of(table: Array[Long], x: Long): Int =
    (ImageKit.mix64(x).toInt) & mask(table)

  @inline def altBucketOf(table: Array[Long], i: Int, fp: Int): Int =
    (i ^ ImageKit.mix64(fp.toLong).toInt) & mask(table)

  @inline private def slot(word: Long, s: Int): Int =
    ((word >>> (16 * s)) & 0xffffL).toInt

  @inline private def withSlot(word: Long, s: Int, fp: Int): Long =
    (word & ~(0xffffL << (16 * s))) | (fp.toLong << (16 * s))

  private def tryInsertAt(table: Array[Long], i: Int, fp: Int): Boolean = {
    val w = table(i)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slot(w, s) == 0) { table(i) = withSlot(w, s, fp); return true }
      s += 1
    }
    false
  }

  def isOverflowed(table: Array[Long]): Boolean = table(table.length - 1) != 0L

  /** Insert; on MaxKicks exhaustion sets the overflow flag (filter
    * saturates — `contains` then answers true for everything).
    */
  def insert(table: Array[Long], x: Long): Unit = {
    val fp0 = fingerprintOf(x)
    val i1 = bucket1Of(table, x)
    val i2 = altBucketOf(table, i1, fp0)
    if (tryInsertAt(table, i1, fp0) || tryInsertAt(table, i2, fp0)) return
    // eviction walk — deterministic victim slot rotation keeps runs
    // reproducible for a fixed insertion order
    var i = i2
    var fp = fp0
    var kick = 0
    while (kick < MaxKicks) {
      val s = kick % SlotsPerBucket
      val w = table(i)
      val victim = slot(w, s)
      table(i) = withSlot(w, s, fp)
      fp = victim
      i = altBucketOf(table, i, fp)
      if (tryInsertAt(table, i, fp)) return
      kick += 1
    }
    table(table.length - 1) = 1L
  }

  def contains(table: Array[Long], x: Long): Boolean = {
    if (isOverflowed(table)) return true
    val fp = fingerprintOf(x)
    val i1 = bucket1Of(table, x)
    val i2 = altBucketOf(table, i1, fp)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slot(table(i1), s) == fp || slot(table(i2), s) == fp) return true
      s += 1
    }
    false
  }

  /** Remove ONE copy of x's fingerprint (cuckoo filters store duplicates as
    * separate slot entries). Only valid for keys actually inserted — the
    * standard cuckoo-filter deletion contract. Returns false if absent or
    * the filter has saturated (deletion is no longer sound then).
    */
  def delete(table: Array[Long], x: Long): Boolean = {
    if (isOverflowed(table)) return false
    val fp = fingerprintOf(x)
    val i1 = bucket1Of(table, x)
    val i2 = altBucketOf(table, i1, fp)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slot(table(i1), s) == fp) { table(i1) = withSlot(table(i1), s, 0); return true }
      s += 1
    }
    s = 0
    while (s < SlotsPerBucket) {
      if (slot(table(i2), s) == fp) { table(i2) = withSlot(table(i2), s, 0); return true }
      s += 1
    }
    false
  }

  def occupied(table: Array[Long]): Int = {
    var n = 0
    var i = 0
    while (i < table.length - 1) {
      var s = 0
      while (s < SlotsPerBucket) { if (slot(table(i), s) != 0) n += 1; s += 1 }
      i += 1
    }
    n
  }

  /** Merge b into a: re-seat every occupied fingerprint of b through a's
    * insert path (the alternate bucket is derivable from the stored
    * position, so no original keys are needed). Both tables must share a
    * bucket count; overflow propagates.
    */
  def mergeInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, "cuckoo shape mismatch")
    if (isOverflowed(b)) { a(a.length - 1) = 1L; return a }
    var i = 0
    while (i < b.length - 1) {
      var s = 0
      while (s < SlotsPerBucket) {
        val fp = slot(b(i), s)
        if (fp != 0) insertFingerprintAt(a, i, fp)
        s += 1
      }
      i += 1
    }
    a
  }

  /** Insert a bare fingerprint whose stored bucket in the source table was
    * i (one of its two legal buckets — the other is altBucketOf(i, fp)).
    */
  private def insertFingerprintAt(table: Array[Long], i0: Int, fp0: Int): Unit = {
    val iAlt = altBucketOf(table, i0, fp0)
    if (tryInsertAt(table, i0, fp0) || tryInsertAt(table, iAlt, fp0)) return
    var i = iAlt
    var fp = fp0
    var kick = 0
    while (kick < MaxKicks) {
      val s = kick % SlotsPerBucket
      val w = table(i)
      val victim = slot(w, s)
      table(i) = withSlot(w, s, fp)
      fp = victim
      i = altBucketOf(table, i, fp)
      if (tryInsertAt(table, i, fp)) return
      kick += 1
    }
    table(table.length - 1) = 1L
  }

  /** Serialized form: [numBuckets:int][words...] (last word = overflow flag). */
  def serialize(table: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + table.length * 8)
    bb.putInt(table.length - 1)
    var i = 0
    while (i < table.length) { bb.putLong(table(i)); i += 1 }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBuckets = bb.getInt
    val table = new Array[Long](numBuckets + 1)
    var i = 0
    while (i < table.length) { table(i) = bb.getLong; i += 1 }
    table
  }
}

/** Typed Aggregator building one cuckoo filter per group — the deletable
  * counterpart of [[BloomAgg]]: `groupBy(host_bucket).agg(CuckooAgg(...))`.
  * Buffer = packed slot words (Catalyst-native Array[Long] encoder); merge
  * re-seats fingerprints (position-derivable alternate buckets), so partial
  * aggregation applies and the shuffle carries one fixed-size table per
  * (partition, bucket).
  */
class CuckooAgg(expectedItems: Long)
    extends Aggregator[Long, Array[Long], Array[Byte]] {
  private val numBuckets = Cuckoo64.numBucketsFor(expectedItems)

  override def zero: Array[Long] = Cuckoo64.alloc(numBuckets)
  override def reduce(buf: Array[Long], item: Long): Array[Long] = {
    Cuckoo64.insert(buf, item); buf
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    Cuckoo64.mergeInto(a, b)
  override def finish(buf: Array[Long]): Array[Byte] = Cuckoo64.serialize(buf)
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
