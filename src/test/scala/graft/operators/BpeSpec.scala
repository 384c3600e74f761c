package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** t20 goldens: the multi-round BPE trainer must equal a single-threaded
  * mirror exactly (same greedy left-to-right merge semantics, same
  * (cnt desc, pair asc) argmax tie-break), and the selected counts must
  * be non-increasing across rounds.
  */
class BpeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val rounds = 3

  private def corpus(): Seq[Array[String]] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect()
      .map(_.getString(0).trim.split("\\s+")).toSeq

  private def mergeOnce(t: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pend: Option[String] = None
    t.foreach { x =>
      pend match {
        case None => pend = Some(x)
        case Some(p) if p == l && x == r => out += s"$l $r"; pend = None
        case Some(p) => out += p; pend = Some(x)
      }
    }
    pend.foreach(out += _)
    out.toArray
  }

  private def mirror(): Seq[(Int, String, String, Long)] = {
    var docs = corpus()
    (1 to rounds).map { round =>
      val counts = docs.flatMap(t => t.sliding(2).filter(_.length == 2))
        .groupBy(p => (p(0), p(1))).view.mapValues(_.size.toLong).toMap
      val ((l, r), c) = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head
      docs = docs.map(mergeOnce(_, l, r))
      (round, l, r, c)
    }
  }

  test("t20 multi-round trainer == single-threaded mirror exactly") {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val got = TextOps.bpeTrain(spark, base, rounds)
    assert(got == mirror())
  }

  test("selected merge counts are non-increasing across rounds") {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val counts = TextOps.bpeTrain(spark, base, rounds).map(_._4)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"counts increased across rounds: $counts")
    assert(counts.head > 1L, "top pair occurs once — fixture vacuous")
  }

  test("the trainer stops when no document has two symbols left") {
    import spark.implicits._
    val singles = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(spark, singles, rounds).isEmpty)
    // one pair: round 1 merges it, round 2 finds nothing to count
    val onePair = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(spark, onePair, rounds) == Seq((1, "a", "b", 1L)))
  }

  test("t24 encode == sequential rank-order mirror (incl. merge-chains and overlap)") {
    import spark.implicits._
    // merge 2 consumes merge 1's output token — the chain case; doc 3 is
    // the overlap case ("a a a" must merge once, left-to-right)
    val merges = Seq(("a", "b"), ("a b", "c"))
    val docsFx = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("x", "a", "b", "a", "b", "c")),
      (3L, Seq("a", "a", "a")),
      (4L, Seq("c", "a", "b")),
      (5L, Seq("q")))
    val got = TextOps.bpeEncode(
        spark.createDataset(docsFx).toDF("doc_id", "t"), merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    def localEncode(t: Seq[String]): List[String] =
      merges.foldLeft(t.toArray) { case (a, (l, r)) => mergeOnce(a, l, r) }.toList
    docsFx.foreach { case (id, t) =>
      assert(got(id) == localEncode(t), s"doc $id")
    }
    assert(got(1L) == List("a b c", "d"), "merge chain did not fire")
    // overlap: a pair consumes its left token — "a a a" merges ONCE
    val overlap = TextOps.bpeEncode(
        spark.createDataset(Seq((3L, Seq("a", "a", "a")))).toDF("doc_id", "t"),
        Seq(("a", "a")))
      .collect().map(_.getSeq[String](1).toList).head
    assert(overlap == List("a a", "a"), "overlap merged twice")
  }

  test("t24 corpus accounting: parts-sum conservation + real compression") {
    val rows = TextOps.bpeEncodedCorpus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val rawCounts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").length).toMap
    rows.foreach { case (id, nRaw, nBpe, nMerged) =>
      assert(nRaw == rawCounts(id), s"parts-sum conservation broken for doc $id")
      assert(nMerged == nRaw - nBpe && nBpe <= nRaw)
    }
    assert(rows.exists(_._4 > 0), "no doc compressed — learned merges never fired")
  }
}
