package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEnv
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision: every figure is printed as measured, never rounded. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      scratch: String, out: String, spansOut: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("scratch"), get("out"), get("spans-out"))
  }
}

/** What one workload run produced: op outcomes, the end-to-end figures and,
  * when traced, the per-layer figures.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(what: String): Unit = { failures += what; System.err.println(s"[perfbench] FAILED: $what") }

  /** Runs one op, counting it as attempted, and as failed if it throws. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => failed += 1; fail(s"$name: $e"); None }
  }
}

/** Entry point of the JVM side: one workload, one session, one result file.
  * Run through `perfbench/run.py`, which builds the classes, sizes the heap
  * and owns the scratch root.
  */
object Bench {
  def session(scratch: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    // The shipped session config, with every path it writes moved under
    // this run's scratch root so the run leaves nothing behind.
    val spark = SparkEnv.applyCommon(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val spark = session(opts.scratch)
    val spans = new Spans(s"${opts.workload}-seed${opts.seed}-${ProcessHandle.current().pid()}")
    val out = new Outcome
    try {
      opts.workload match {
        case "frontier_seen" => Frontier.run(spark, opts, out, spans, sidecar = true)
        case "frontier_exact" => Frontier.run(spark, opts, out, spans, sidecar = false)
        case "crawl_epochs" => CrawlEpochs.run(spark, opts, out, spans)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
    } finally spark.stop()
    Files.writeString(Paths.get(opts.spansOut), spans.toJson)
    val metrics = (if (opts.trace) out.perLayer else out.endToEnd)
      .map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
      .mkString("{", ",", "}")
    val failures = out.failures.map(Json.str).mkString("[", ",", "]")
    Files.writeString(Paths.get(opts.out),
      s"""{"correct":${out.failed == 0 && out.failures.isEmpty},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},"metrics":$metrics,"failures":$failures}""" + "\n")
  }
}
