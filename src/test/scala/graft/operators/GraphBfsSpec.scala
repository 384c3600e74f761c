package graft.operators

import graft.SparkTestBase.spark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** GraphOps' one frontier BFS against a driver-side BFS on a hand graph,
  * in the three forms the registry runs: g12 (min hop over any seed, on
  * the undirected view), g13 (hops per seed, undirected) and g17
  * (forward and backward reach over directed edges). The hand graph has
  * a cycle (h1 -> h2 -> h3 -> h1), a one-way edge (h3 -> h4) into a chain
  * (h4 -> ... -> h8) longer than the round bound, a duplicate edge, a
  * self-loop, and an isolated host h9 that only ever appears as a seed.
  */
class GraphBfsSpec extends AnyFunSuite {
  import spark.implicits._

  private val rounds = 3
  private val directed = Seq(
    "h1" -> "h2", "h2" -> "h3", "h3" -> "h1", // cycle
    "h1" -> "h2",                             // duplicate
    "h3" -> "h4",                             // one-way edge
    "h4" -> "h5", "h5" -> "h6", "h6" -> "h7", "h7" -> "h8",
    "h6" -> "h6")                             // self-loop

  /** Levels of a plain driver BFS from `seeds`, at most `rounds` deep. */
  private def driverBfs(adj: Map[String, Seq[String]], seeds: Seq[String]): Map[String, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    for (i <- 1 to rounds) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> i.toLong)
    }
    dist
  }

  private def adjacency(edges: Seq[(String, String)]): Map[String, Seq[String]] =
    edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

  private val undAdj = adjacency(directed.flatMap { case (a, b) => Seq(a -> b, b -> a) })

  private def seeds(nodes: String*): DataFrame = nodes.toDF("node")

  private def hops(df: DataFrame): Seq[(String, Long)] =
    df.select(col("node"), col("dist")).as[(String, Long)].collect().toSeq

  test("g12 form: min hop over any seed on the undirected view") {
    val und = GraphOps.undirected(directed.toDF("src", "dst"))
    val got = hops(GraphOps.bfs(und, seeds("h1", "h9"), rounds))
    assert(got.map(_._1).distinct.size == got.size, s"a node settled twice: $got")
    val expected = driverBfs(undAdj, Seq("h1", "h9"))
    assert(got.toMap == expected)
    // the cycle closes at hop 1 both ways; h5 sits at the bound and h6
    // beyond it; the isolated seed reaches only itself
    assert(expected == Map("h1" -> 0L, "h9" -> 0L, "h2" -> 1L, "h3" -> 1L,
      "h4" -> 2L, "h5" -> 3L))
  }

  test("g13 form: hops per seed, each seed its own search") {
    val und = GraphOps.undirected(directed.toDF("src", "dst"))
    val got = GraphOps.bfs(und, seeds("h1", "h5", "h9"), rounds, perSeed = true)
      .select(col("seed"), col("node"), col("dist")).as[(String, String, Long)]
      .collect().toSeq
    assert(got.map(r => (r._1, r._2)).distinct.size == got.size,
      s"a (seed, node) settled twice: $got")
    val expected = Seq("h1", "h5", "h9").flatMap(s =>
      driverBfs(undAdj, Seq(s)).map { case (n, d) => (s, n, d) })
    assert(got.sorted == expected.sorted)
    assert(got.filter(_._1 == "h9") == Seq(("h9", "h9", 0L)))
  }

  test("g17 form: forward and backward reach over directed edges") {
    val e = directed.toDF("src", "dst").distinct()
    val fwd = hops(GraphOps.bfs(
      e.select(col("src").as("a"), col("dst").as("b")), seeds("h4"), rounds))
    val bwd = hops(GraphOps.bfs(
      e.select(col("dst").as("a"), col("src").as("b")), seeds("h4"), rounds))
    assert(fwd.toMap == driverBfs(adjacency(directed), Seq("h4")))
    assert(bwd.toMap == driverBfs(adjacency(directed.map(_.swap)), Seq("h4")))
    // the one-way edge h3 -> h4: the cycle reaches h4 but h4 never
    // reaches the cycle; h8 lies beyond the round bound
    assert(fwd.map(_._1).toSet == Set("h4", "h5", "h6", "h7"))
    assert(bwd.map(_._1).toSet == Set("h4", "h3", "h2", "h1"))
  }
}
