package graft.operators

import graft.SparkTestBase.spark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c78 goldens (incremental best-copy catalog with upgrade semantics).
  * Pinned: the catalog maintained incrementally through the persisted
  * combination-block index + label store equals a FROM-SCRATCH c77
  * election over the union corpus after every epoch (the SimIndex /
  * IncrementalCc golden law); the upgrade event is real — even groups see
  * lesser copies first, so the late-arriving full png ADMITS and the
  * incumbent half jpeg EVICTS; odd groups see the full first, so their
  * late lesser copies all DROP; solos admit in epoch 0 and are never
  * touched again.
  */
class CatalogUpgradeSpec extends AnyFunSuite {

  private def splitCorpus(): (DataFrame, DataFrame, DataFrame) = {
    val all = ImageOps.scaleCorpus(spark)
    val grp = regexp_extract(col("image_id"), "img-(\\d+)-", 1).cast("long")
    val isFull = col("image_id").endsWith("-full")
    val e0 = all.where((pmod(grp, lit(2)) === 0 && !isFull) ||
      (pmod(grp, lit(2)) === 1 && isFull) || col("image_id").endsWith("-solo"))
    val e1 = all.join(e0.select("image_id"), Seq("image_id"), "left_anti")
    (all, e0, e1)
  }

  test("c78 incremental catalog == from-scratch election after every epoch") {
    val (all, e0, e1) = splitCorpus()
    val root = graft.SparkTestBase.tempDir("graft-c78-spec")
    ImageOps.admitEpochBestCopy(spark, root, 0, e0)
    val cat0 = ImageOps.bestCopyCatalog(spark, root, 0)
      .select("image_id").collect().map(_.getString(0)).toSet
    val want0 = ImageOps.electBestCopies(e0, 6)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(cat0 == want0, "epoch-0 catalog drifted from from-scratch election")

    ImageOps.admitEpochBestCopy(spark, root, 1, e1)
    val cat1 = ImageOps.bestCopyCatalog(spark, root, 1)
      .select("image_id").collect().map(_.getString(0)).toSet
    val want1 = ImageOps.electBestCopies(all, 6)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(cat1 == want1, "epoch-1 catalog drifted from from-scratch election")

    // score-table compaction changes the read path, never the election
    ImageOps.compactImageScores(spark, root, 1)
    val cat1c = ImageOps.bestCopyCatalog(spark, root, 1)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(cat1c == want1, "catalog drifted after score compaction")
  }

  test("c78 upgrade actions: late full png admits + evicts; late lesser copies drop") {
    val (all, e0, e1) = splitCorpus()
    val root = graft.SparkTestBase.tempDir("graft-c78-act")
    def ids(df: DataFrame): Set[String] =
      df.select("image_id").collect().map(_.getString(0)).toSet
    val elect0 = ids(ImageOps.electBestCopies(e0, 6))
    val electAll = ids(ImageOps.electBestCopies(all, 6))

    ImageOps.admitEpochBestCopy(spark, root, 0, e0)
    val act0 = ImageOps.upgradeActions(spark, root, 0).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // epoch 0 action sets == from-scratch mirrors; nothing to evict yet
    assert(act0.filter(_._2 == "admitted").map(_._1).toSet == elect0)
    assert(act0.filter(_._2 == "dropped_new").map(_._1).toSet == ids(e0) -- elect0)
    assert(!act0.exists(_._2 == "evicted"))

    ImageOps.admitEpochBestCopy(spark, root, 1, e1)
    val act1 = ImageOps.upgradeActions(spark, root, 1).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(act1.filter(_._2 == "admitted").map(_._1).toSet == (ids(e1) & electAll))
    assert(act1.filter(_._2 == "dropped_new").map(_._1).toSet == ids(e1) -- electAll)
    assert(act1.filter(_._2 == "evicted").map(_._1).toSet == elect0 -- electAll)

    // the upgrade event is concretely real for every even group: the late
    // full png admits, and the epoch-0 incumbent half jpeg evicts (full
    // pairs with half within radius 6 across epochs by construction)
    val evens = ids(all).flatMap(id =>
      "img-(\\d+)-full".r.findFirstMatchIn(id).map(_.group(1).toLong))
      .filter(_ % 2 == 0)
    assert(evens.nonEmpty, "fixture vacuous")
    evens.foreach { g =>
      assert(act1.contains((s"img-$g-full", "admitted")), s"group $g: full not admitted")
      assert(act1.contains((s"img-$g-half", "evicted")), s"group $g: incumbent not evicted")
    }
    // every odd group's late lesser copies drop against the full incumbent
    val odds = ids(all).flatMap(id =>
      "img-(\\d+)-full".r.findFirstMatchIn(id).map(_.group(1).toLong))
      .filter(_ % 2 == 1)
    assert(odds.nonEmpty, "fixture vacuous")
    odds.foreach { g =>
      assert(act1.contains((s"img-$g-half", "dropped_new")), s"group $g half kept?")
      assert(act1.contains((s"img-$g-thumb", "dropped_new")), s"group $g thumb kept?")
    }
  }
}
