package graft

import graft.operators.DiffJob
import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Dev-only evidence for the E2 scale fix (VERDICT round-1 item 3): builds
  * an N-id x E-epoch snapshot history (pruned columns only — the revision
  * diff never reads bytes), maintains the latest-version sidecar epoch by
  * epoch, then times the per-epoch revision diff BOTH ways:
  *   latest path  — equi-join of epoch e against latest(e-1)  [production]
  *   window path  — lag window over ALL history <= e          [round-1]
  * Expected shape: latest stays FLAT in epoch count; window grows with
  * accumulated history. Output is recorded in BENCH/DIFFCOST.md.
  */
object DiffCostProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkEnv.session(16)
    val root = java.nio.file.Files.createTempDirectory("graft-diffcost").toString
    val epochs = sys.env.getOrElse("SPARK_GRAFT_EPOCHS", "12").toInt
    val ids = sys.env.getOrElse("SPARK_GRAFT_IDS", "300000").toLong
    val tau = 10
    // pruned snapshot partitions: (image_id, phash, caption), epoch=dir.
    // caption/phash revise deterministically so the diff has real work.
    (0 until epochs).foreach { e =>
      spark.range(0L, ids, 1L, 16)
        .select(
          concat(lit("img-"), col("id")).as("image_id"),
          xxhash64(concat(col("id"), lit("#"), pmod(xxhash64(col("id") + e), lit(8))))
            .as("phash"),
          concat(lit("caption v"), pmod(xxhash64(col("id") * 31 + e), lit(16)))
            .as("caption"))
        .write.mode("overwrite").parquet(s"$root/snapshots/epoch=$e")
      Snapshots.writeLatest(spark, root, e)
    }
    // noop sink: count() would let Catalyst prune the lag window entirely
    // (its columns are unused and it preserves row count) — the sink
    // consumes every column, so both paths do their real work
    def time(df: org.apache.spark.sql.Dataset[_]): Double = {
      val t0 = System.nanoTime()
      df.toDF().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"ids=$ids epochs=$epochs")
    println("epoch,latest_path_s,window_path_s,rows,history_rows")
    val sampled =
      if (epochs <= 12) 0 until epochs
      else (0 until epochs).filter(e => e % (epochs / 8) == 0 || e == epochs - 1)
    sampled.foreach { e =>
      def latest() = DiffJob.revisionsFromLatest(
        Snapshots.read(spark, root, e), Snapshots.readLatest(spark, root, e - 1),
        e, tau)
      def window() = DiffJob.revisions(Snapshots.readUpTo(spark, root, e), e, tau)
      val n = latest().count()
      val tl = Seq(time(latest()), time(latest())).min
      val tw = Seq(time(window()), time(window())).min
      println(f"$e,$tl%.2f,$tw%.2f,$n,${(e + 1) * ids}")
    }
    spark.stop()
  }
}
