package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, GraphXBridge, LocalExec, PropertyGraph, Traversals}

/** Each graph operator has one driver-local twin and one distributed loop;
  * this spec pins the two routes equal on a generated power-law graph of
  * Wiki-Vote's size (7,115 ids, 103,689 drawn edges), so the check needs
  * nothing beyond the repository. The LocalExec route is the default (the
  * graph fits the budget); the distributed route runs with the budget set
  * to 0. */
class RouteEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-route-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val NNodes = 7115L
  private val NEdges = 103689L

  private lazy val g: PropertyGraph = PropertyGraph(
    spark.range(NNodes).select(col("id")),
    GraphScale.powerLawEdges(spark, NEdges, NNodes))

  private def withLocalExecOff[A](body: => A): A = LocalExecOff(spark)(body)

  private def longPairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("the power-law graph fits the LocalExec budget, so the default route is the twin") {
    assert(LocalExec.smallEnoughGraph(g.nodes, g.edges))
    assert(g.edges.count() > 100000L)
  }

  test("kHop and BFS distances: LocalExec twin ≡ distributed loop") {
    Seq(3L, 1000L).foreach { s =>
      val local = Traversals.kHop(g.edges, s, 2)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val dist = withLocalExecOff {
        Traversals.kHop(g.edges, s, 2, numParts = 4)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      }
      assert(local.nonEmpty && local == dist, s"kHop from $s")
      val localD = longPairs(GraphXBridge.distances(spark, g, s))
      val distD = withLocalExecOff(longPairs(GraphXBridge.distances(spark, g, s, numParts = 4)))
      assert(localD.size > local.size && localD == distD, s"distances from $s")
    }
  }

  test("connectedComponents and scc: LocalExec twin ≡ distributed loop") {
    val localC = longPairs(GraphXBridge.connectedComponents(spark, g))
    val distC = withLocalExecOff(longPairs(GraphXBridge.connectedComponents(spark, g, numParts = 4)))
    assert(localC.size == NNodes && localC == distC)
    val localS = longPairs(Algorithms.scc(g.nodes, g.edges))
    val distS = withLocalExecOff(longPairs(Algorithms.scc(g.nodes, g.edges, numParts = 4)))
    assert(localS.size == NNodes && localS == distS)
    // a real directed structure: more than one SCC, at least one non-trivial
    val sizes = localS.toSeq.groupBy(_._2).values.map(_.size)
    assert(sizes.size > 1 && sizes.max > 1)
  }

  test("snapped pageRank: LocalExec twin ≡ GraphX loop") {
    def ranks(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val local = ranks(GraphXBridge.pageRank(spark, g, iters = 10, snap = 9))
    val dist = withLocalExecOff(ranks(GraphXBridge.pageRank(spark, g, iters = 10,
      numParts = 4, snap = 9)))
    assert(local.size == NNodes && local.keySet == dist.keySet)
    val drift = local.map { case (k, v) => math.abs(v - dist(k)) }.max
    assert(drift < 1e-8, s"snapped local/GraphX PageRank drift $drift")
  }

  test("closeness, eccentricity, harmonic: LocalExec twins ≡ batched BFS on sampled sources") {
    // all-sources batched BFS on this graph is |V|×reach rows; sampled
    // sources are the distributed operators' documented at-scale form and
    // leave each source's row unchanged
    val sample = g.nodes.filter(col("id") % 500 === 7)
    val ids = sample.collect().map(_.getLong(0)).toSet
    assert(ids.size == 15)
    type Op = (DataFrame, DataFrame, Int, Option[DataFrame]) => DataFrame
    val ops: Seq[(String, Op)] = Seq(
      "closeness" -> ((n, e, r, s) => Algorithms.closeness(n, e, r, s)),
      "eccentricity" -> ((n, e, r, s) => Algorithms.eccentricity(n, e, r, s)),
      "harmonic" -> ((n, e, r, s) => Algorithms.harmonic(n, e, r, s)))
    // a 2-hop cap binds on this graph (it cuts reach short); 8 hops does not
    for ((name, op) <- ops; rounds <- Seq(2, 8)) {
      val local = op(g.nodes, g.edges, rounds, None).collect()
        .filter(r => ids(r.getLong(0))).map(_.toSeq).toSet
      val dist = withLocalExecOff {
        op(g.nodes, g.edges, rounds, Some(sample)).collect().map(_.toSeq).toSet
      }
      assert(local.size == ids.size && local == dist, s"$name, $rounds rounds")
      // a source with out-edges reaches something (the rows are not all zero)
      assert(dist.exists(_(1).asInstanceOf[Long] > 0L), name)
    }
  }

  test("ssp: DataFrame BFS ≡ GraphX bidirectional loop ≡ local twin on sampled pairs") {
    val lengths = Seq((3L, 4000L), (5000L, 17L), (1234L, 6543L), (6999L, 2L)).map {
      case (a, b) =>
        val local = GraphXBridge.shortestPathLength(spark, g, a, b)
        val viaTraversals = Traversals.shortestPathLength(g.edges, a, b)
        val (frontier, bidir) = withLocalExecOff {
          (Traversals.shortestPathLength(g.edges, a, b, numParts = 4),
            GraphXBridge.shortestPathLength(spark, g, a, b, numParts = 4))
        }
        assert(frontier == bidir && bidir == local && local == viaTraversals,
          s"$a -> $b")
        local
    }
    assert(lengths.exists(_ > 1L), s"no multi-hop pair among $lengths")
  }
}
