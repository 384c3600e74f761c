package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class CuckooSpec extends AnyFunSuite {

  private def keys(n: Int, seed: Long = 42L): Seq[Long] =
    (0 until n).map(i => ImageKit.mix64(seed + i * 0x9e3779b97f4a7c15L))

  test("no false negatives at 95% target load") {
    val ks = keys(4000)
    val table = Cuckoo64.alloc(Cuckoo64.numBucketsFor(ks.size))
    ks.foreach(Cuckoo64.insert(table, _))
    assert(!Cuckoo64.isOverflowed(table))
    ks.foreach(k => assert(Cuckoo64.contains(table, k), s"false negative for $k"))
  }

  test("FPR well under the bloom's 1% configuration (16-bit fp, 4 slots)") {
    val ks = keys(4000)
    val table = Cuckoo64.alloc(Cuckoo64.numBucketsFor(ks.size))
    ks.foreach(Cuckoo64.insert(table, _))
    val probes = keys(100000, seed = 777L)
    val fp = probes.count(Cuckoo64.contains(table, _))
    // theoretical ~ 2*4/2^16 = 1.2e-4; allow 10x slack on 1e5 probes
    assert(fp <= 120, s"FPR too high: $fp/100000")
  }

  test("deletion removes exactly one copy and restores absence") {
    val ks = keys(1000)
    val table = Cuckoo64.alloc(Cuckoo64.numBucketsFor(2000))
    ks.foreach(Cuckoo64.insert(table, _))
    val occupiedBefore = Cuckoo64.occupied(table)
    // delete every third inserted key
    val dropped = ks.zipWithIndex.collect { case (k, i) if i % 3 == 0 => k }
    dropped.foreach(k => assert(Cuckoo64.delete(table, k), s"delete failed for $k"))
    assert(Cuckoo64.occupied(table) == occupiedBefore - dropped.size)
    // kept keys still present (deletion must not create false negatives)
    ks.filterNot(dropped.contains).foreach(k => assert(Cuckoo64.contains(table, k)))
    // duplicates: inserting twice stores two copies; one delete keeps one
    val d = ks.head
    Cuckoo64.insert(table, d); Cuckoo64.insert(table, d)
    assert(Cuckoo64.delete(table, d) && Cuckoo64.contains(table, d))
  }

  test("merge re-seats fingerprints with no false negatives") {
    val a = Cuckoo64.alloc(Cuckoo64.numBucketsFor(4000))
    val b = Cuckoo64.alloc(Cuckoo64.numBucketsFor(4000))
    val ka = keys(1500, seed = 1L)
    val kb = keys(1500, seed = 2L)
    ka.foreach(Cuckoo64.insert(a, _))
    kb.foreach(Cuckoo64.insert(b, _))
    val m = Cuckoo64.mergeInto(a, b)
    assert(!Cuckoo64.isOverflowed(m))
    (ka ++ kb).foreach(k => assert(Cuckoo64.contains(m, k), s"lost $k in merge"))
  }

  test("overflow saturates to always-contains (safe degradation)") {
    val table = Cuckoo64.alloc(Cuckoo64.numBucketsFor(16)) // tiny: 8 buckets
    keys(500).foreach(Cuckoo64.insert(table, _))
    assert(Cuckoo64.isOverflowed(table))
    keys(100, seed = 99L).foreach(k => assert(Cuckoo64.contains(table, k)))
  }

  test("serialize round-trips") {
    val ks = keys(300)
    val table = Cuckoo64.alloc(Cuckoo64.numBucketsFor(1000))
    ks.foreach(Cuckoo64.insert(table, _))
    val back = Cuckoo64.deserialize(Cuckoo64.serialize(table))
    assert(back.sameElements(table))
  }

  test("CuckooAgg builds per-bucket filters distributed == local mirror") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val rows = keys(3000).zipWithIndex.map { case (k, i) =>
      graft.model.SeenEntry(k, s"host${i % 7}.example.com", 0)
    }
    val sidecar = graft.sources.SeenStore
      .buildCuckoos(rows.toDS(), numBuckets = 8, expectedPerBucket = 2048)
      .as[(Int, Array[Byte])].collect().toMap
    // local mirror: same bucketing function, single-threaded insert
    val localBuckets = rows.groupBy { r =>
      val h = graft.operators.CrawlOracle.xxhash64(r.host)
      (((h % 8) + 8) % 8).toInt
    }
    localBuckets.foreach { case (bucket, entries) =>
      val table = Cuckoo64.deserialize(sidecar(bucket))
      assert(!Cuckoo64.isOverflowed(table))
      assert(Cuckoo64.occupied(table) == entries.size)
      entries.foreach(e => assert(Cuckoo64.contains(table, e.url_hash)))
    }
  }
}
