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

  /** Rows as a sorted multiset of printed tuples: exact, order-free and
    * duplicate-sensitive, for comparing whole results across routes. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("(", ",", ")")).toSeq.sorted

  private def bothRoutes(name: String)(op: => DataFrame): Seq[String] = {
    val local = rows(op)
    val dist = withLocalExecOff(rows(op))
    assert(local == dist, name)
    local
  }

  test("kCore at a binding round cap and at the fixpoint, and coreness: twin ≡ distributed loop") {
    val capped = bothRoutes("kCore, 1 round")(Algorithms.kCore(g.edges, 10, 1))
    val fixpoint = bothRoutes("kCore, 40 rounds")(Algorithms.kCore(g.edges, 10, 40))
    // the single round stops mid-peel: the cap really binds
    assert(fixpoint.nonEmpty && capped.size > fixpoint.size)
    val core = bothRoutes("coreness")(Algorithms.coreness(g.nodes, g.edges, 60))
    assert(core.size == NNodes)
  }

  test("triangleCounts, clustering and kTruss: twin ≡ distributed loop") {
    val tri = bothRoutes("triangleCounts")(Algorithms.triangleCounts(g.nodes, g.edges))
    assert(tri.size == NNodes && tri.exists(!_.endsWith(",0)")))
    bothRoutes("clustering")(Algorithms.clustering(g.nodes, g.edges))
    val truss = bothRoutes("kTruss")(Algorithms.kTruss(g.edges, 10, 3))
    assert(truss.nonEmpty)
  }

  test("bridges, articulationPoints and biconnectedComponents: twin ≡ distributed loop") {
    // every node of the power-law graph lies on a cycle, so the planted
    // pendant chains (fresh ids, 3,000 bridges) give the checks a
    // nonempty answer
    val edges = g.edges.union(GraphScale.plantedRobustnessEdges(spark, NNodes))
    assert(LocalExec.smallEnoughEdges(edges))
    val bridges = bothRoutes("bridges")(Algorithms.bridges(edges, 24))
    assert(bridges.size >= 3 * GraphScale.PlantN)
    val cuts = bothRoutes("articulationPoints")(Algorithms.articulationPoints(edges, 24))
    assert(cuts.size >= 2 * GraphScale.PlantN)
    bothRoutes("biconnectedComponents")(Algorithms.biconnectedComponents(edges, 24))
  }

  test("labelPropagation, hits and personalized PageRank: twin ≡ distributed loop") {
    bothRoutes("labelPropagation")(Algorithms.labelPropagation(g.nodes, g.edges, 3))
    bothRoutes("hits")(Algorithms.hits(g.nodes, g.edges, 10))
    val ppr = bothRoutes("personalizedPageRank")(
      Algorithms.personalizedPageRank(g.nodes, g.edges, 3L, 10))
    assert(ppr.size == NNodes)
  }

  /** A smaller graph from the same generator: all-source distributed
    * Brandes and per-source BFS are |V| traversals, too slow at 103k edges. */
  private lazy val small: PropertyGraph = PropertyGraph(
    spark.range(400).select(col("id")),
    GraphScale.powerLawEdges(spark, 1500, 400))

  test("stress and betweenness: twin ≡ distributed loop on a smaller power-law graph") {
    val st = bothRoutes("stress")(Algorithms.stress(small.nodes, small.edges, 4))
    assert(st.size == 400 && st.exists(!_.endsWith(",0)")))
    bothRoutes("betweenness")(Algorithms.betweenness(small.nodes, small.edges, 4))
  }

  /** The twins that read a node frame, as (name, twin over (nodes, edges)). */
  private def frameTwins(edges: DataFrame): Seq[(String, DataFrame => DataFrame)] = Seq(
    "distances" -> (n => GraphXBridge.distances(spark, PropertyGraph(n, edges), 5L)),
    "connectedComponents" -> (n => GraphXBridge.connectedComponents(spark, PropertyGraph(n, edges))),
    "triangleCounts" -> (n => Algorithms.triangleCounts(n, edges)),
    "clustering" -> (n => Algorithms.clustering(n, edges)),
    "scc" -> (n => Algorithms.scc(n, edges)),
    "coreness" -> (n => Algorithms.coreness(n, edges, 60)),
    "labelPropagation" -> (n => Algorithms.labelPropagation(n, edges, 3)),
    "personalizedPageRank" -> (n => Algorithms.personalizedPageRank(n, edges, 0L, 10)))

  private def snappedRanks(n: DataFrame, e: DataFrame): Map[Long, Double] =
    GraphXBridge.pageRank(spark, PropertyGraph(n, e), iters = 10, snap = 9)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

  private def samePageRank(n: DataFrame, e: DataFrame): Unit = {
    val local = snappedRanks(n, e)
    val dist = withLocalExecOff(snappedRanks(n, e))
    assert(local.keySet == dist.keySet &&
      local.forall { case (k, v) => math.abs(v - dist(k)) < 1e-8 }, "pageRank")
  }

  // HITS and the per-source twins (closeness, eccentricity, harmonic,
  // stress, betweenness) drop edges that name an id outside the node
  // frame, while their distributed loops walk them, so the two routes
  // differ on such a frame; both frame cases below leave them out (see
  // CHANGES.md). The edge-only twins read no frame.
  test("a node frame that omits edge endpoints: the frame twins ≡ their distributed loops") {
    // ids 0..399 minus every 7th; the edges still name the omitted ids
    val nodes = small.nodes.filter(col("id") % 7 =!= 3)
    frameTwins(small.edges).foreach { case (name, op) => bothRoutes(name)(op(nodes)) }
    samePageRank(nodes, small.edges)
  }

  test("a node frame that repeats ids: the twins that list each id once ≡ their loops") {
    // the frame above plus every 11th id a second time. SCC, coreness,
    // label propagation and personalized PageRank give a repeated id
    // other rows than their loops do, so only the rest are compared
    val nodes = small.nodes.filter(col("id") % 7 =!= 3)
      .union(small.nodes.filter(col("id") % 11 === 0))
    frameTwins(small.edges).take(4).foreach { case (name, op) => bothRoutes(name)(op(nodes)) }
    samePageRank(nodes, small.edges)
  }

  test("one collect per relation: after a k-hop, CC + snapped PageRank + kCore collect only the ids") {
    LocalExec.clearWarm()
    Traversals.kHop(g.edges, 3L, 2).collect()
    def analytics(): Unit = {
      GraphXBridge.connectedComponents(spark, g).collect()
      GraphXBridge.pageRank(spark, g, iters = 10, snap = 9).collect()
      Algorithms.kCore(g.edges, 10, 10).collect()
    }
    val first = JobCount(spark)(analytics())
    assert(first <= 1, s"CC + PageRank + kCore after a k-hop scheduled $first jobs")
    val repeat = JobCount(spark)(analytics())
    assert(repeat == 0, s"a repeat of CC + PageRank + kCore scheduled $repeat jobs")
  }
}
