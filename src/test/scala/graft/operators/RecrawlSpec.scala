package graft.operators

import graft.SparkTestBase.spark
import org.scalatest.funsuite.AnyFunSuite

/** c45 goldens: schedule == single-threaded mirror exactly (same md5
  * draws, same integer estimator); never-changing pages get the maximum
  * interval; the interval is monotone non-increasing in observed changes
  * (the Cho–Garcia-Molina ordering the integer form must preserve); and
  * the fixture actually spreads pages across several tiers.
  */
class RecrawlSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private def md5hex6(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(3).map("%02x".format(_)).mkString, 16)
  }

  private def mirror(): Map[Long, (Long, Long, Long, Long)] = {
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    ids.map { id =>
      val x = (1 to RecrawlOps.ObsEpochs)
        .count(e => md5hex6(s"$id:$e") % 8 < id % 8).toLong
      val interval = math.max(1L, RecrawlOps.ObsEpochs.toLong / (x + 1))
      id -> (RecrawlOps.ObsEpochs.toLong, x, interval,
        RecrawlOps.ObsEpochs.toLong + interval)
    }.toMap
  }

  test("c45 schedule == single-threaded mirror exactly") {
    val got = RecrawlOps.recrawlSchedule(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val want = mirror()
    assert(got.keySet == want.keySet)
    got.foreach { case (id, g) => assert(g == want(id), s"page $id") }
  }

  test("semantics: static pages wait longest; interval monotone in changes; tiers spread") {
    val rows = RecrawlOps.recrawlSchedule(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // rho = 0 pages never change -> full-window interval
    val static = rows.filter(_._1 % 8 == 0)
    assert(static.nonEmpty)
    static.foreach { case (id, x, iv) =>
      assert(x == 0L && iv == RecrawlOps.ObsEpochs.toLong, s"page $id")
    }
    // monotone: same change count -> same interval; more changes -> <= interval
    val byX = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    byX.foreach { case (x, ivs) => assert(ivs.size == 1, s"x=$x gave $ivs") }
    val sortedX = byX.keys.toSeq.sorted
    sortedX.zip(sortedX.tail).foreach { case (a, b) =>
      assert(byX(a).head >= byX(b).head, s"interval rose from x=$a to x=$b")
    }
    // non-vacuous: several tiers realized, including the fastest
    assert(byX.size >= 4, s"only ${byX.size} tiers realized")
    assert(rows.exists(_._3 == 1L), "no page reached the every-epoch tier")
  }

  test("change-rate schedule over revision history: hand cases + policy divergence") {
    import spark.implicits._
    val revs = Seq(
      // changed once EARLY then quiet: staleness backs off to interval 3,
      // change-rate keeps n/(X+1) = 3/2 -> 1 (one change in 3 obs is a rate)
      ("imgE", 0, "new"), ("imgE", 1, "unchanged"), ("imgE", 2, "unchanged"),
      // changes EVERY fetch: both policies say interval 1
      ("imgH", 0, "new"), ("imgH", 1, "revised_pixels"), ("imgH", 2, "revised_pixels"),
      // never observed changing at all (no 'new' row): rate 0 -> interval
      // = n_obs, the full observed window
      ("imgQ", 1, "unchanged"), ("imgQ", 2, "unchanged"))
      .toDF("image_id", "epoch", "change")
    val cr = DiffJob.recrawlScheduleChangeRate(revs, atEpoch = 3).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getBoolean(5)))).toMap
    // imgE: n=3, X=1 -> 3 div 2 = 1, due (3-2 >= 1)
    assert(cr("imgE") == ((2, 3, 1, 1, true)), s"imgE: ${cr("imgE")}")
    // imgH: n=3, X=3 -> interval 1, due
    assert(cr("imgH") == ((2, 3, 3, 1, true)), s"imgH: ${cr("imgH")}")
    // imgQ: n=2, X=0 -> interval 2, not due at 3 (3-2 < 2)
    assert(cr("imgQ") == ((2, 2, 0, 2, false)), s"imgQ: ${cr("imgQ")}")
    // divergence pinned: staleness says imgE is NOT due (interval 3)
    val st = DiffJob.recrawlSchedule(revs, atEpoch = 3).collect()
      .map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(!st("imgE") && cr("imgE")._5,
      "policies agree on imgE — divergence fixture vacuous")
  }

  test("pipeline recrawlPolicy=changerate: re-scheduled URLs within the policy's due set") {
    import spark.implicits._
    val root = graft.SparkTestBase.tempDir("graft-recrawl-cr")
    CrawlPipeline.run(spark, root, untilEpoch = 2, seedsPerEpoch = 300,
      cfg0 = FrontierJob.Config(epoch = 0, globalBudget = 100000),
      recrawl = true, recrawlPolicy = "changerate")
    def sched(e: Int): Set[String] =
      spark.read.parquet(s"$root/scheduled/epoch=$e")
        .select("url_canon").as[String].collect().toSet
    for (e <- 1 to 2) {
      val revs = (0 until e).flatMap(d =>
        spark.read.parquet(s"$root/revisions/epoch=$d")
          .select("image_id", "epoch", "change")
          .as[(String, Int, String)].collect())
      val dueMirror = revs.groupBy(_._1).collect {
        case (id, rs) =>
          val n = rs.size; val x = rs.count(_._3 != "unchanged")
          val interval = math.min(8, math.max(1, n / (x + 1)))
          (id, e - rs.map(_._2).max >= interval)
      }.collect { case (id, true) => id }.toSet
      val prev = (0 until e).flatMap(sched).toSet
      val rescheduled = sched(e) intersect prev
      assert((rescheduled -- dueMirror).isEmpty,
        s"epoch $e re-scheduled outside the change-rate due set")
      if (e == 1) assert(rescheduled.nonEmpty,
        "no recrawl happened at epoch 1 — fixture vacuous")
    }
  }
}
