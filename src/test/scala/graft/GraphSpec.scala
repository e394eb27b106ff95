package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.graph.{Algorithms, GraphXBridge, PropertyGraph, Traversals}

/** Unit semantics on tiny hand-built graphs with known answers, plus
  * driver-local-vs-distributed agreement (each operator's LocalExec twin
  * and its distributed loop must produce identical results). */
class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def graph(edges: Seq[(Long, Long)]): PropertyGraph = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    val nodes = e.select($"src".as("id")).union(e.select($"dst".as("id")))
      .distinct().selectExpr("id", "'n' AS label",
        "CAST(map() AS map<string,string>) AS props")
    PropertyGraph(nodes, e)
  }

  // path 1→2→3→4, branch 1→5
  private val pathG = graph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L)))

  /** Force the distributed traversal paths: every graph in this spec fits
    * [[graft.graph.LocalExec]]'s byte budget, so tests that exist to pin
    * the Pregel / Bellman-Ford / frontier-BFS implementations must switch
    * the local fast path off for their scope. */
  private def withLocalExecOff[A](body: => A): A = LocalExecOff(spark)(body)

  test("SCC: planted cycles resolve exactly, local Tarjan ≡ DataFrame coloring") {
    // two 3-cycles bridged one-way (stay separate SCCs), a 2-cycle, a
    // directed path (all singletons), and an isolated node
    val g = graph(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),          // SCC {1,2,3}
      (3L, 10L),                             // one-way bridge
      (10L, 11L), (11L, 12L), (12L, 10L),    // SCC {10,11,12}
      (20L, 21L), (21L, 20L),                // SCC {20,21}
      (30L, 31L), (31L, 32L)))               // path: singletons
    import spark.implicits._
    val iso = Seq(40L).toDF("id").selectExpr("id", "'n' AS label",
      "CAST(map() AS map<string,string>) AS props")
    val withIso = graft.graph.PropertyGraph(g.nodes.unionByName(iso), g.edges)
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 31L, 32L -> 32L, 40L -> 40L)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labels(Algorithms.scc(withIso.nodes, withIso.edges))
    assert(local == expected, s"local: $local")
    val dist = withLocalExecOff {
      labels(Algorithms.scc(withIso.nodes, withIso.edges, numParts = 2))
    }
    assert(dist == expected, s"distributed: $dist")
  }

  test("SCC on Wiki-Vote: directed structure differs from CC, giant SCC labeled by min member") {
    val g = graft.operators.GraphOps.wikiVote(spark)
    val scc = Algorithms.scc(g.nodes, g.edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = scc.groupBy(_._2).map { case (c, m) => c -> m.size }
    val (giantLabel, giantSize) = sizes.maxBy(_._2)
    // known structure of the directed Wiki-Vote graph: one giant SCC of
    // ~1300 nodes, everything else near-singleton; far smaller than the
    // weakly-connected giant component (~7k) — the directedness matters
    assert(giantSize > 1000 && giantSize < 3000, s"giant SCC size $giantSize")
    assert(sizes.count(_._2 == 1) > 4000, "most nodes are singleton SCCs")
    // labels are canonical: every SCC's label IS its minimum member
    val minByComp = scc.toSeq.groupBy(_._2).map { case (c, m) => c -> m.map(_._1).min }
    minByComp.foreach { case (c, mn) => assert(c == mn, s"comp $c min member $mn") }
    assert(giantLabel == scc.filter(_._2 == giantLabel).keys.min)
    // sanity against the undirected CC: SCC refines it
    val cc = GraphXBridge.connectedComponents(spark, g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scc.keys.foreach { n =>
      assert(cc(n) <= scc(n), s"node $n: SCC label ${scc(n)} below CC label ${cc(n)}")
    }
  }

  test("Wiki-Vote PageRank: per-iteration snapping is semantics-preserving (≤1e-6 vs raw)") {
    // g_wikivote_pagerank stays oracle-matchable by snapping every
    // iteration's ranks to 9 dp (order-dependent double reduction over
    // deg-~900 hubs drifts per-engine otherwise). That trick must not
    // CHANGE the answer: run the production path raw (snap = 0) on the
    // same power-law graph and require agreement within 1e-6 — three
    // orders of magnitude under the 6-dp rounding the gated query emits.
    import org.apache.spark.sql.functions.{abs, col, max}
    val g = PropertyGraph.fromNodeEdgeLists(spark,
      graft.operators.GraphOps.WikiVoteNodes, graft.operators.GraphOps.WikiVoteEdges)
    val snapped = GraphXBridge.pageRank(spark, g, iters = 10, d = 0.85,
      numParts = 4, snap = 9).withColumnRenamed("rank", "rs")
    val raw = GraphXBridge.pageRank(spark, g, iters = 10, d = 0.85,
      numParts = 4, snap = 0).withColumnRenamed("rank", "rr")
    val joined = snapped.join(raw, Seq("node"), "full").localCheckpoint()
    assert(joined.filter(col("rs").isNull || col("rr").isNull).count() == 0,
      "both variants must rank exactly the same node set")
    val drift = joined.select(max(abs(col("rs") - col("rr")))).first.getDouble(0)
    assert(drift < 1e-6, s"snapping changed ranks by $drift (> 1e-6)")
  }

  test("kHop: distinct nodes within 1..2 directed hops") {
    val got = Traversals.kHop(pathG.edges, 1L, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((2L, 1), (5L, 1), (3L, 2)))
  }

  test("kHop: broadcast-frontier route equals the partitioned-edge route") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.graph.PropertyGraph.bipartiteEdgesRaw(spark, dir)
    val ue = e.union(e.select(
      org.apache.spark.sql.functions.col("dst").as("src"),
      org.apache.spark.sql.functions.col("src").as("dst")))
    val bc = Traversals.kHop(ue, 1L, 2, broadcastFrontier = true)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val part = Traversals.kHop(ue, 1L, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bc == part && bc.nonEmpty)
  }

  test("shortestPathLength: path length and unreachable") {
    // the default route takes the local twin on this graph; the frontier
    // loop must give the same answers
    def check(): Unit = {
      assert(Traversals.shortestPathLength(pathG.edges, 1L, 4L) == 3L)
      assert(Traversals.shortestPathLength(pathG.edges, 4L, 1L) == -1L)
      assert(Traversals.shortestPathLength(pathG.edges, 2L, 2L) == 0L)
    }
    check()
    withLocalExecOff {
      check()
      // source == target answers at once: node 1 has out-edges, so a
      // loop that ran would schedule a job per round
      var len = -1L
      val jobs = JobCount(spark) {
        len = Traversals.shortestPathLength(pathG.edges, 1L, 1L)
      }
      assert(len == 0L && jobs == 0, s"source == target: $len after $jobs jobs")
    }
  }

  test("GraphX early-exit ssp agrees with the DataFrame BFS") {
    withLocalExecOff {
      assert(GraphXBridge.shortestPathLength(spark, pathG, 1L, 4L) == 3L)
      assert(GraphXBridge.shortestPathLength(spark, pathG, 4L, 1L) == -1L)
      assert(GraphXBridge.shortestPathLength(spark, pathG, 2L, 2L) == 0L)
      val g = PropertyGraph.grid(spark, 8)
      assert(GraphXBridge.shortestPathLength(spark, g, 0L, 63L, numParts = 1) ==
        Traversals.shortestPathLength(g.edges, 0L, 63L, numParts = 1))
    }
  }

  test("distances agree with GraphX Pregel on the grid") {
    val g = PropertyGraph.grid(spark, 8)
    val local = GraphXBridge.distances(spark, g, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gx = withLocalExecOff {
      GraphXBridge.distances(spark, g, 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(local == gx)
    // right/down grid: cell (r, c) = r·8 + c sits r + c hops from the corner
    assert(gx == (0L until 64L).map(id => (id, id / 8 + id % 8)).toSet)
  }

  test("LocalExec: local traversals equal the distributed twins (grid + Wiki-Vote)") {
    import graft.graph.LocalExec
    import org.apache.spark.sql.functions.{col, lit}
    val wiki = graft.operators.GraphOps.wikiVote(spark)
    // the guard itself: the real 104k-edge graph and the generated grids
    // fit the budget; a derived fact-fact edge relation must NOT (its
    // non-CBO join estimate is the child product — the 100 TB shape)
    assert(LocalExec.smallEnough(wiki.edges.select(col("src"), col("dst"))))
    assert(LocalExec.smallEnough(PropertyGraph.grid(spark, 16).edges))
    val bip = PropertyGraph.bipartiteEdgesRaw(spark, "/root/testdata/sf0.001")
    assert(!LocalExec.smallEnough(bip),
      "joined fact-fact edge relation must stay on the distributed path")

    // kHop on the real power-law graph: local vs distributed frontier BFS
    val localK = Traversals.kHop(wiki.edges, 3L, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val distK = withLocalExecOff {
      Traversals.kHop(wiki.edges, 3L, 2, numParts = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    assert(localK == distK && localK.nonEmpty)

    // full distances on the grid: local BFS vs Pregel
    val g = PropertyGraph.grid(spark, 8)
    val localD = GraphXBridge.distances(spark, g, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distD = withLocalExecOff {
      GraphXBridge.distances(spark, g, 0L, numParts = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(localD == distD && localD.size == 64)

    // weighted distances: local Dijkstra vs Pregel Bellman-Ford on
    // non-uniform weights
    val we = g.edges.select(col("src"), col("dst"),
      ((col("src") * 7 + col("dst") * 13) % 5 + lit(1L)).as("w"))
    val localW = GraphXBridge.weightedDistances(spark, g.nodes, we, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distW = withLocalExecOff {
      GraphXBridge.weightedDistances(spark, g.nodes, we, 0L, numParts = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(localW == distW && localW.size == 64)

    // point-to-point on Wiki-Vote: local early-exit BFS vs the
    // bidirectional superstep loop; plus the unreachable contract
    val localP = GraphXBridge.shortestPathLength(spark, wiki, 3L, 4037L)
    val distP = withLocalExecOff {
      GraphXBridge.shortestPathLength(spark, wiki, 3L, 4037L, numParts = 4)
    }
    assert(localP == distP && localP > 0L)
    assert(GraphXBridge.shortestPathLength(spark, pathG, 4L, 1L) == -1L)

    // connected components on Wiki-Vote: local union-find vs GraphX CC
    // (giant component + small-component tail — the real min-id shape)
    val localC = GraphXBridge.connectedComponents(spark, wiki)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distC = withLocalExecOff {
      GraphXBridge.connectedComponents(spark, wiki, numParts = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(localC == distC && localC.size == 7115)

    // k-core on Wiki-Vote: local synchronous peel vs the distributed
    // broadcast-probed rounds (real power-law peeling, 4 effective rounds)
    val localKC = Algorithms.kCore(wiki.edges,
        graft.operators.GraphOps.WikiKCoreK, graft.operators.GraphOps.WikiKCoreRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distKC = withLocalExecOff {
      Algorithms.kCore(wiki.edges,
          graft.operators.GraphOps.WikiKCoreK, graft.operators.GraphOps.WikiKCoreRounds,
          numParts = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(localKC == distKC && localKC.nonEmpty)

    // label propagation on Wiki-Vote: local vote loop vs the
    // join+window rounds, same deterministic tie-break
    val localLP = Algorithms.labelPropagation(wiki.nodes, wiki.edges, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distLP = withLocalExecOff {
      Algorithms.labelPropagation(wiki.nodes, wiki.edges, rounds = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(localLP == distLP && localLP.size == 7115)

    // snapped PageRank on Wiki-Vote: local twin vs GraphX, same
    // per-iteration 9-dp rounding — snapping makes the contribution
    // sum's reduction order irrelevant, so the two engines must agree to
    // within a final-rank snap ulp
    val localR = GraphXBridge.pageRank(spark, wiki, iters = 10, d = 0.85, snap = 9)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val distR = withLocalExecOff {
      GraphXBridge.pageRank(spark, wiki, iters = 10, d = 0.85, numParts = 4, snap = 9)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    }
    assert(localR.keySet == distR.keySet && localR.size == 7115)
    val prDrift = localR.map { case (k, v) => math.abs(v - distR(k)) }.max
    assert(prDrift < 1e-8, s"snapped local/GraphX PageRank drift $prDrift")

    // bounded-probe contract: a localBounded assertion SMALLER than the
    // graph must fall back to the distributed loop, same answer
    val viaLocal = GraphXBridge.connectedComponents(spark, pathG,
        localBounded = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaFallback = GraphXBridge.connectedComponents(spark, pathG,
        localBounded = 2) // pathG has 4 edges — probe overflows
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaLocal == viaFallback && viaLocal.values.forall(_ == 1L))
  }

  test("load_database fidelity: the reference's actual Wiki-Vote files") {
    import org.apache.spark.sql.functions.col
    val g = PropertyGraph.fromNodeEdgeLists(spark,
      "/root/reference/data_sets/Wiki-VoteN.txt",
      "/root/reference/data_sets/Wiki-VoteE.txt")
    // counts verified independently (wc -l / awk over the raw files)
    assert(g.nodes.count() == 7115L)
    assert(g.edges.count() == 103689L)
    assert(g.edges.filter(col("src") === 30L).count() == 5L)
    assert(g.edges.filter(col("dst") === 4037L).count() == 457L)
  }

  test("weightedDistances: unit weights reduce to BFS; weights change the path") {
    withLocalExecOff {
    import org.apache.spark.sql.functions.{col, lit}
    val g = PropertyGraph.grid(spark, 8)
    val unit = g.edges.select(col("src"), col("dst"), lit(1L).as("w"))
    val wd = GraphXBridge.weightedDistances(spark, g.nodes, unit, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfs = GraphXBridge.distances(spark, g, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wd == bfs)
    // diamond 1→2→4 (cost 1+1), 1→3→4 (cost 5+1): weighted picks the cheap arm
    import spark.implicits._
    val e = Seq((1L, 2L, 1L), (2L, 4L, 1L), (1L, 3L, 5L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val got = GraphXBridge.weightedDistances(spark, nodes, e, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 5L, 4L -> 2L))
    }
  }

  test("connectedComponents: min-id labeling, two components; agrees with GraphX") {
    val g = graph(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val local = GraphXBridge.connectedComponents(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val gx = withLocalExecOff {
      GraphXBridge.connectedComponents(spark, g)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(local == gx)
  }

  test("connectedComponents labels nodes ∪ edge endpoints on both routes") {
    import spark.implicits._
    // 4 is named only by an edge; 5 and 6 only by an edge between them
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val g = PropertyGraph(nodes, edges)
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels(GraphXBridge.connectedComponents(spark, g)) === expected, "union-find twin")
    // a bound below the 3 edges overflows the probe: GraphX answers
    assert(labels(GraphXBridge.connectedComponents(spark, g, localBounded = 2)) ===
      expected, "bounded-probe fallback")
    withLocalExecOff {
      assert(labels(GraphXBridge.connectedComponents(spark, g, numParts = 2)) === expected,
        "GraphX loop")
    }
    // a k-hop leaves the whole edge relation in the warm store; the
    // caller's bound of 2 must still send CC and kCore to their loops
    Traversals.kHop(edges, 1L, 2).collect()
    var warmBounded = Map.empty[Long, Long]
    val ccJobs = JobCount(spark) {
      warmBounded = labels(GraphXBridge.connectedComponents(spark, g, localBounded = 2))
    }
    assert(warmBounded === expected && ccJobs > 0, s"warm bounded CC ($ccJobs jobs)")
    val core = withLocalExecOff(labels(Algorithms.kCore(edges, 1, 5)))
    var warmCore = Map.empty[Long, Long]
    val coreJobs = JobCount(spark) {
      warmCore = labels(Algorithms.kCore(edges, 1, 5, localBounded = 2))
    }
    assert(core.nonEmpty && warmCore === core && coreJobs > 0, s"warm bounded kCore ($coreJobs jobs)")
  }

  test("pageRank: ranks sum to ~1 on a strongly-connected clique; agrees with GraphX") {
    val g = graph(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L)))
    // raw doubles always run the GraphX loop
    val gx = GraphXBridge.pageRank(spark, g, iters = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gx.size == 3)
    assert(math.abs(gx.values.sum - 1.0) < 1e-9)
    // symmetric clique → uniform ranks, the closed form 1/3 per node
    assert(gx.values.forall(v => math.abs(v - 1.0 / 3) < 1e-9))
    // the snapped local twin lands on the same closed form
    val local = GraphXBridge.pageRank(spark, g, iters = 10, snap = 9)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    gx.foreach { case (k, v) => assert(math.abs(v - local(k)) < 1e-9) }
  }

  test("hits: matches an independent exact-integer recompute; direction structure shows") {
    // seeded random digraph + a planted pure source (28→0) and pure sink
    // (1→29): HITS must see the direction structure (a pure sink has hub
    // 0, a pure source auth 0), and every published score must equal a
    // plain-Scala rerun of the same integer protocol bit-for-bit
    val rnd = new scala.util.Random(7)
    val edges = (Seq.fill(120)((rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      .filter(e => e._1 != e._2) ++ Seq((28L, 0L), (1L, 29L))).distinct
    val g = graph(edges)
    val fp = 1L << 24
    val iters = 6
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var hm = ids.map(_ -> fp).toMap
    var am = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val araw = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => hm.getOrElse(e._1, 0L)).sum }
      val amax = araw.values.max
      am = araw.map { case (v, s) => v -> s * fp / amax }
      val hraw = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => am.getOrElse(e._2, 0L)).sum }
      val hmax = hraw.values.max
      hm = hraw.map { case (u, s) => u -> s * fp / hmax }
    }
    val expected = ids.map(id =>
      (id, hm.getOrElse(id, 0L), am.getOrElse(id, 0L))).toSet
    val got = Algorithms.hits(g.nodes, g.edges, iters, numParts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    // the driver-local twin route (default here) and the distributed
    // loop must be bit-identical — exact integers make this EQUALITY,
    // not agreement-within-tolerance
    val dist = withLocalExecOff {
      Algorithms.hits(g.nodes, g.edges, iters, numParts = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(dist === expected)
    val byId = got.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(29L) === ((0L, byId(29L)._2)) && byId(29L)._2 > 0L,
      "pure sink: zero hub, nonzero auth")
    assert(byId(28L)._1 > 0L && byId(28L)._2 === 0L,
      "pure source: nonzero hub, zero auth")
    assert(got.exists(t => t._2 != t._3), "hub and auth rankings must differ")
  }

  test("hits: shuffled-score policy is bit-identical; exchanges carry scores, never edges") {
    import org.apache.spark.sql.functions.{col, lit}
    // same seeded digraph as the recompute test: the no-hint path (the
    // 100 TB regime where the node set outgrows a broadcast) must
    // publish the SAME bits — exact integer protocol, so equality
    val rnd = new scala.util.Random(7)
    val edges = (Seq.fill(120)((rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      .filter(e => e._1 != e._2) ++ Seq((28L, 0L), (1L, 29L))).distinct
    val g = graph(edges)
    val iters = 6
    def run(policy: Option[Boolean]) = withLocalExecOff {
      Algorithms.hits(g.nodes, g.edges, iters, numParts = 4,
          broadcastScores = policy)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val hinted = run(Some(true))
    assert(run(Some(false)) === hinted)
    assert(run(None) === hinted) // tiny node set: the stats guard picks broadcast

    // plan pin for the unhinted half-step: with auto-broadcast off (the
    // faithful stand-in for "scores too big to ship"), the plan must
    // still read edges straight from their cached layout — every
    // exchange carries score-scale rows, never the edge cache
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE off for the pin: executedPlan must show the static exchanges
    // (sparkPlan predates EnsureRequirements; AQE wraps the tree) — at
    // runtime AQE can only merge/convert these, never add an edge shuffle
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prevs = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val e0 = g.edges.select(col("src"), col("dst"))
      val eSrc = e0.repartition(4, col("src")).persist()
      val eDst = e0.repartition(4, col("dst")).persist()
      eSrc.count(); eDst.count()
      val scores = g.nodes.select(col("id").as("node"), lit(1L << 24).as("s"))
        .localCheckpoint()
      val hs = Algorithms.hitsHalfStep(eSrc, eDst, scores,
        inKey = "src", outKey = "dst", bcast = false)
      val p = hs.queryExecution.executedPlan
      // the pin, precisely: at the score⋈edges join, the edge side reads
      // its cached layout with NO exchange (its partitioning is the
      // pre-paid one), the score side DOES exchange (scores travel to
      // the edges); the groupBy exchange higher up carries partial-agg'd
      // score-scale sums and is the expected second score exchange
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      def hasScan(s: SparkPlan) =
        s.collect { case t: InMemoryTableScanExec => t }.nonEmpty
      def hasShuffle(s: SparkPlan) =
        s.collect { case e: ShuffleExchangeExec => e }.nonEmpty
      val joins = p.collect {
        case j: SortMergeJoinExec => (j.left, j.right)
        case j: ShuffledHashJoinExec => (j.left, j.right)
      }
      assert(joins.nonEmpty, "bcast=false must plan a shuffle join\n" + p)
      val (l, r) = joins.head
      val (edgeSide, scoreSide) = if (hasScan(l)) (l, r) else (r, l)
      assert(hasScan(edgeSide), "one join side must read the cached edge layout\n" + p)
      assert(!hasShuffle(edgeSide),
        "the edge side must land on its pre-paid partitioning, no exchange\n" + p)
      // the score side may arrive exchange-FREE too: a checkpointed
      // score frame keeps the hash partitioning its producing agg left
      // it with, and that key IS the next half-step's join key — so the
      // only required exchange is the groupBy's, which moves
      // partial-agg'd score-scale sums. Pin exactly that: every
      // exchange in the plan sits above a partial HashAggregate, i.e.
      // carries combined sums, never raw edge or pre-agg rows.
      assert(!hasScan(scoreSide), "side identification: scores carry no edge cache\n" + p)
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      val exchanges = p.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "the groupBy must exchange partial sums\n" + p)
      exchanges.foreach { e =>
        assert(e.child.collectFirst { case a: HashAggregateExec => a }.isDefined,
          "every exchange must move partial-agg'd sums, not raw rows\n" + p)
      }
      assert(!p.toString.contains("BroadcastHashJoin"),
        "bcast=false must not plan a broadcast join\n" + p)
      eSrc.unpersist(); eDst.unpersist()
    } finally prevs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hits: empty edge relation publishes all-zero scores on twin AND distributed paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // ADVICE r14: the local twin divided by a.max==0 here while the
    // distributed loop's empty frames ride to zeros — both must agree
    val nodes = Seq(1L, 2L, 3L).toDF("id")
      .selectExpr("id", "'n' AS label", "CAST(map() AS map<string,string>) AS props")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L))
    assert(scores(Algorithms.hits(nodes, edges, iters = 3)) === expected)
    val dist = withLocalExecOff {
      scores(Algorithms.hits(nodes, edges, iters = 3, numParts = 2))
    }
    assert(dist === expected)
    // edges referencing only unknown nodes: contributions all zero too
    val ghost = Seq((7L, 8L)).toDF("src", "dst")
    assert(scores(Algorithms.hits(nodes, ghost, iters = 3)) === expected)
    val distGhost = withLocalExecOff {
      scores(Algorithms.hits(nodes, ghost, iters = 3, numParts = 2))
    }
    assert(distGhost === expected)
  }

  test("scc: DataFrame trim+coloring ≡ local Tarjan on a depth-3 condensation") {
    // three 3-cycles chained 1→4→10 (condensation depth 3 — the coloring
    // loop needs one outer round per level), plus a trimmable out-only
    // tail (20→1) and in-only tail (3→21): singleton SCCs the trim stage
    // must label without a coloring round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (1L, 4L), (4L, 10L), (20L, 1L), (3L, 21L))
    val g = graph(edges)
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L),
      (10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 21L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // plan-stats-bounded: routes to the driver-local Tarjan twin
    assert(rows(Algorithms.scc(g.nodes, g.edges)) === expected)
    withLocalExecOff {
      assert(rows(Algorithms.scc(g.nodes, g.edges, numParts = 4)) === expected,
        "distributed DataFrame coloring loop")
      assert(rows(Algorithms.scc(g.nodes, g.edges)) === expected,
        "distributed DataFrame coloring loop at session partitioning")
      // trim alone must finish an acyclic graph (every node a singleton)
      val dag = graph(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
      assert(rows(Algorithms.scc(dag.nodes, dag.edges, numParts = 4)) ===
        Set((1L, 1L), (2L, 2L), (3L, 3L)))
    }
  }

  test("scc: edges naming unknown node ids are dropped on twin AND distributed paths") {
    import spark.implicits._
    // cycle 1→2→3→1 plus GHOST edges: 0↔1 (id 0 absent from the node
    // list — unguarded, the coloring loop's first trim would inject 0
    // into the active set via live = endpoints(e), emit a (0, comp)
    // row, and 0 — the minimal id in the cycle it closes — would LABEL
    // node 1's SCC) and 7→8 (both endpoints absent). The driver-local
    // Tarjan twin drops unknown-node edges; the distributed loop must
    // agree (r15 ADVICE).
    val nodes = Seq(1L, 2L, 3L).toDF("id")
      .selectExpr("id", "'n' AS label", "CAST(map() AS map<string,string>) AS props")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (0L, 1L), (1L, 0L), (7L, 8L))
      .toDF("src", "dst")
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(Algorithms.scc(nodes, edges)) === expected, "Tarjan twin")
    withLocalExecOff {
      assert(rows(Algorithms.scc(nodes, edges, numParts = 4)) === expected,
        "distributed coloring loop must drop ghost-node edges")
    }
  }

  test("closeness: grid closed form; local twin ≡ distributed loop exactly") {
    // directed n×n grid (right/down): from (r, c), reach is the
    // down-right quadrant minus self, and Σ dist has the closed form
    // Σ_{i≤R, j≤C} (i + j) = C'·T(R) + R'·T(C)  with R=rows-1-r etc.
    val n = 6
    val g = PropertyGraph.grid(spark, n)
    def tri(x: Long) = x * (x + 1) / 2
    val expected = (for (r <- 0 until n; c <- 0 until n) yield {
      val right = (n - 1 - c).toLong
      val down = (n - 1 - r).toLong
      val reach = (right + 1) * (down + 1) - 1
      val dsum = (right + 1) * tri(down) + (down + 1) * tri(right)
      ((r * n + c).toLong, reach, dsum)
    }).toSet
    val local = Algorithms.closeness(g.nodes, g.edges, maxRounds = 2 * n)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(local === expected)
    val dist = withLocalExecOff {
      Algorithms.closeness(g.nodes, g.edges, maxRounds = 2 * n, numParts = 4)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }
    assert(dist === expected)
    // the round cap truncates identically on both routes: cap 1 counts
    // exactly the out-degree at distance 1
    val capped = Algorithms.closeness(g.nodes, g.edges, maxRounds = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val cappedDist = withLocalExecOff {
      Algorithms.closeness(g.nodes, g.edges, maxRounds = 1, numParts = 4)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }
    assert(capped === cappedDist)
    assert(capped.forall { case (_, reach, dsum) => reach == dsum && reach <= 2 })
  }

  test("eccentricity: grid closed form; local twin ≡ distributed loop exactly") {
    // directed n×n grid: from (r, c) the farthest reachable node is the
    // bottom-right corner, so ecc = (n−1−r) + (n−1−c); reach is the
    // down-right quadrant minus self (the closeness closed form)
    val n = 6
    val g = PropertyGraph.grid(spark, n)
    val expected = (for (r <- 0 until n; c <- 0 until n) yield {
      val right = (n - 1 - c).toLong
      val down = (n - 1 - r).toLong
      ((r * n + c).toLong, right + down, (right + 1) * (down + 1) - 1)
    }).toSet
    def run(dist: Boolean): Set[(Long, Long, Long)] = {
      val df = if (dist) withLocalExecOff(
          Algorithms.eccentricity(g.nodes, g.edges, 2 * n, numParts = 4))
        else Algorithms.eccentricity(g.nodes, g.edges, 2 * n)
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }
    assert(run(dist = false) === expected)
    assert(run(dist = true) === expected)
    // diameter as the driver-side max — 2(n−1) on the grid
    assert(expected.map(_._2).max === 2L * (n - 1))
    // round cap truncates identically on both routes
    val capped = Algorithms.eccentricity(g.nodes, g.edges, maxRounds = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val cappedDist = withLocalExecOff {
      Algorithms.eccentricity(g.nodes, g.edges, maxRounds = 1, numParts = 4)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }
    assert(capped === cappedDist)
    assert(capped.forall { case (_, ecc, reach) => ecc <= 1 && reach <= 2 })
  }

  test("modularity: two triangles + bridge gives the textbook Q = 5/14 exactly") {
    import spark.implicits._
    // communities = the triangles; the bridge 3−4 is the one cross
    // edge. m = 7; each community: L = 3, D = 2+2+3 = 7 →
    // q_num = 4·7·3 − 49 = 35 per side, Q = 70/(4·49) = 5/14 — the
    // standard worked example. Noise edges exercise the contract:
    // (2,1) deduped against (1,2), (3,3) self-loop dropped, (6,99)
    // names an unlabeled node and is dropped.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L), (2L, 1L), (3L, 3L), (6L, 99L)).toDF("src", "dst")
    val comm = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("node", "community")
    val got = Algorithms.modularity(edges, comm).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === Set((10L, 3L, 7L, 35L, 7L), (20L, 3L, 7L, 35L, 7L)))
    val q = got.toSeq.map(_._4).sum.toDouble / (4.0 * 7 * 7)
    assert(math.abs(q - 5.0 / 14) < 1e-15)
  }

  test("greedyModularity: two triangles + bridge converge to the triangle communities") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    // hand-traced mutual-best trajectory: round 1 merges {1,2} and
    // {5,6} (gain 10 each, beating the 8s toward node 3/4); round 2
    // folds 3 into {1,2} and 4 into {5,6} (gain 16); round 3 finds the
    // cross-bridge merge at gain 14 − 49 < 0 and stops. Labels = min
    // member.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    def run(rounds: Int): Map[Long, Long] =
      Algorithms.greedyModularity(nodes, edges, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = run(4)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    // converged partition is a fixpoint: extra rounds are no-ops
    assert(run(6) === got)
    // the bounded local route walks the identical merge trajectory
    val loc = Algorithms.greedyModularity(nodes, edges, 4,
        localBounded = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(loc === got)
    // and the partition scores the textbook Q: Σ q_num/(4m²) = 70/196 = 5/14
    val comm = got.toSeq.toDF("node", "community")
    val qNum = Algorithms.modularity(edges, comm)
      .agg(sum(org.apache.spark.sql.functions.col("q_num_4m2"))).head.getLong(0)
    assert(qNum === 70L)
  }

  test("bridges: planted instance exact on both routes; Wiki-Vote local ≡ distributed") {
    import spark.implicits._
    // the gated planted instance: hand-derived truth — the 7 edges whose
    // removal disconnects their component (chain edges, leaves, and the
    // cycle-to-cycle / triangle-to-K4 connectors; no cycle edge qualifies)
    val expect = Set((5L, 10L), (13L, 20L), (20L, 21L), (2L, 30L),
      (42L, 60L), (63L, 70L), (42L, 50L))
    val edges = graft.operators.GraphOps.BridgeEdges.toDF("src", "dst")
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loc = asSet(Algorithms.bridges(edges,
      graft.operators.GraphOps.BridgeRounds))
    assert(loc === expect)
    // forced-distributed: CC roots + BFS forest + XOR-cover — a genuinely
    // different algorithm from the local Tarjan low-link pass
    val dist = withLocalExecOff {
      asSet(Algorithms.bridges(edges,
        graft.operators.GraphOps.BridgeRounds, numParts = 2))
    }
    assert(dist === expect)
    // reversed/duplicated rows and self-loops canonicalize away
    val messy = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
      .unionAll(Seq((7L, 7L)).toDF("src", "dst"))
    assert(asSet(Algorithms.bridges(messy,
      graft.operators.GraphOps.BridgeRounds)) === expect)
  }

  test("bridges: local Tarjan and distributed XOR-cover agree on Wiki-Vote") {
    val g = graft.operators.GraphOps.wikiVote(spark)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loc = asSet(Algorithms.bridges(g.edges, maxRounds = 24))
    val dist = withLocalExecOff {
      asSet(Algorithms.bridges(g.edges, maxRounds = 24, numParts = 4))
    }
    assert(loc === dist)
    // the real graph has pendant voters — the bridge set is nonempty
    assert(loc.nonEmpty)
  }

  test("articulationPoints: planted instance exact on both routes") {
    import spark.implicits._
    // hand-derived truth on the G33 instance — the 8 nodes whose removal
    // disconnects their component: the cycle junctions 5 and 10, the
    // chain nodes 13 and 20, the leaf anchors 2, 42 and 63, and the
    // triangle-to-K4 connector 60. No K4/triangle/cycle interior node
    // qualifies, and no leaf (21, 30, 50, 70) ever can.
    val expect = Set(2L, 5L, 10L, 13L, 20L, 42L, 60L, 63L)
    val edges = graft.operators.GraphOps.BridgeEdges.toDF("src", "dst")
    def asSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val loc = asSet(Algorithms.articulationPoints(edges,
      graft.operators.GraphOps.BridgeRounds))
    assert(loc === expect)
    // forced-distributed: BFS forest + preorder-interval block labeling
    // (Tarjan–Vishkin) — a genuinely different algorithm from the local
    // DFS low-link test
    val dist = withLocalExecOff {
      asSet(Algorithms.articulationPoints(edges,
        graft.operators.GraphOps.BridgeRounds, numParts = 2))
    }
    assert(dist === expect)
    // reversed/duplicated rows and self-loops canonicalize away
    val messy = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
      .unionAll(Seq((7L, 7L)).toDF("src", "dst"))
    assert(asSet(Algorithms.articulationPoints(messy,
      graft.operators.GraphOps.BridgeRounds)) === expect)
  }

  test("articulationPoints: local Tarjan and distributed block labeling agree on Wiki-Vote") {
    val g = graft.operators.GraphOps.wikiVote(spark)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val loc = asSet(Algorithms.articulationPoints(g.edges, maxRounds = 24))
    val dist = withLocalExecOff {
      asSet(Algorithms.articulationPoints(g.edges, maxRounds = 24, numParts = 4))
    }
    assert(loc === dist)
    // pendant voters make every pendant's anchor a cut vertex — nonempty
    assert(loc.nonEmpty)
    // cross-operator consistency: every bridge endpoint with degree ≥ 2
    // is an articulation point (removing it orphans the bridge's other
    // side), so the node set must cover those endpoints
    val bridges = Algorithms.bridges(g.edges, maxRounds = 24).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val deg = withLocalExecOff {
      val e = g.edges.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .where("a <> b").distinct()
      e.selectExpr("a AS n").union(e.selectExpr("b AS n"))
        .groupBy("n").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val mustBeArt = bridges.filter(n => deg(n) >= 2L)
    assert(mustBeArt.subsetOf(loc))
  }

  test("biconnectedComponents: planted instance exact on both routes") {
    import spark.implicits._
    // hand-derived truth on the G33 instance: 11 blocks — the 5-cycle,
    // 4-cycle, triangle and K4 each one block labeled by their lex-min
    // edge, and each of the 7 bridges alone in its own block. Note the
    // min-member-VERTEX label would collide here: bridges (42,50) and
    // (42,60) are distinct blocks both with min member 42.
    val expect = Set(
      (1L, 2L, 1L, 2L), (2L, 3L, 1L, 2L), (3L, 4L, 1L, 2L),
      (4L, 5L, 1L, 2L), (1L, 5L, 1L, 2L), // 5-cycle → (1,2)
      (10L, 11L, 10L, 11L), (11L, 12L, 10L, 11L), (12L, 13L, 10L, 11L),
      (10L, 13L, 10L, 11L), // 4-cycle → (10,11)
      (40L, 41L, 40L, 41L), (41L, 42L, 40L, 41L),
      (40L, 42L, 40L, 41L), // triangle → (40,41)
      (60L, 61L, 60L, 61L), (60L, 62L, 60L, 61L), (60L, 63L, 60L, 61L),
      (61L, 62L, 60L, 61L), (61L, 63L, 60L, 61L),
      (62L, 63L, 60L, 61L), // K4 → (60,61)
      (5L, 10L, 5L, 10L), (13L, 20L, 13L, 20L), (20L, 21L, 20L, 21L),
      (2L, 30L, 2L, 30L), (42L, 60L, 42L, 60L), (63L, 70L, 63L, 70L),
      (42L, 50L, 42L, 50L)) // bridges: singleton blocks
    val edges = graft.operators.GraphOps.BridgeEdges.toDF("src", "dst")
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val loc = asSet(Algorithms.biconnectedComponents(edges,
      graft.operators.GraphOps.BridgeRounds))
    assert(loc === expect)
    // forced-distributed: Tarjan–Vishkin block labeling projected to
    // edges (non-tree edges take the deeper endpoint's tree-edge block)
    val dist = withLocalExecOff {
      asSet(Algorithms.biconnectedComponents(edges,
        graft.operators.GraphOps.BridgeRounds, numParts = 2))
    }
    assert(dist === expect)
    // reversed/duplicated rows and self-loops canonicalize away
    val messy = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
      .unionAll(Seq((7L, 7L)).toDF("src", "dst"))
    assert(asSet(Algorithms.biconnectedComponents(messy,
      graft.operators.GraphOps.BridgeRounds)) === expect)
  }

  test("biconnectedComponents: routes agree on Wiki-Vote; blocks cross-check G33/G34") {
    val g = graft.operators.GraphOps.wikiVote(spark)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val loc = asSet(Algorithms.biconnectedComponents(g.edges, maxRounds = 24))
    val dist = withLocalExecOff {
      asSet(Algorithms.biconnectedComponents(g.edges, maxRounds = 24,
        numParts = 4))
    }
    assert(loc === dist)
    // every edge appears exactly once (the blocks partition the edges)
    assert(loc.map(t => (t._1, t._2)).size === loc.size)
    // cross-check vs G33: an edge alone in its block ⟺ bridge
    val blockSizes = loc.groupBy(t => (t._3, t._4)).map { case (k, v) => (k, v.size) }
    val singletons = loc.filter(t => blockSizes((t._3, t._4)) == 1)
      .map(t => (t._1, t._2))
    val bridges = Algorithms.bridges(g.edges, maxRounds = 24).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(singletons === bridges)
    // cross-check vs G34: a vertex incident to ≥ 2 distinct block
    // labels ⟺ cut vertex
    val byVertex = loc.toSeq
      .flatMap(t => Seq((t._1, (t._3, t._4)), (t._2, (t._3, t._4))))
      .groupBy(_._1).map { case (v, ls) => (v, ls.map(_._2).distinct.size) }
    val multiBlock = byVertex.collect { case (v, n) if n >= 2 => v }.toSet
    val art = Algorithms.articulationPoints(g.edges, maxRounds = 24)
      .collect().map(_.getLong(0)).toSet
    assert(multiBlock === art)
  }

  test("modularityWeighted: hand-computed integers; parallel rows pre-sum") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    // triangle 1-2-3; (1,2) carries weight 5 split across parallel rows
    // in both orientations (3 + 2 reversed) — the canonical pre-sum is
    // part of what's pinned. Communities: {1,2}=A(10), {3}=B(30).
    // W = 7; w_intra(A) = 5; strengths: A = 2·5+1+1 = 12, B = 2.
    // q_num(A) = 4·7·5 − 144 = −4; q_num(B) = 0 − 4 = −4.
    val e = Seq((1L, 2L, 3L), (2L, 1L, 2L), (2L, 3L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val comm = Seq((1L, 10L), (2L, 10L), (3L, 30L)).toDF("node", "community")
    val got = Algorithms.modularityWeighted(e, comm)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(10L -> (5L, 12L, -4L, 7L), 30L -> (0L, 2L, -4L, 7L)))
    // w ≡ 1 reduces to the unweighted operator exactly
    val e1 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val unw = Algorithms.modularity(e1, comm).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val w1 = Algorithms.modularityWeighted(
        e1.withColumn("w", org.apache.spark.sql.functions.lit(1L)), comm)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(w1 === unw)
  }

  test("greedyModularityWeighted: heavy edge drives the merge order; w≡1 ≡ unweighted") {
    import spark.implicits._
    // path 1—2—3, w(1,2)=10, w(2,3)=1, W=11. Round 1: gains
    // 2·11·10−10·11 = 110 and 2·11·1−11·1 = 11, node 2's best is 1 →
    // mutual {1,2}. Round 2: pair ({1,2}, 3) w=1, gain 2·11·1−21·1 = 1
    // > 0 → single community labeled 1.
    val e = Seq((1L, 2L, 10L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val got = Algorithms.greedyModularityWeighted(nodes, e, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // bounded local route: identical trajectory on the weighted instance
    val loc = Algorithms.greedyModularityWeighted(nodes, e, rounds = 4,
        localBounded = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(loc === got)
    // w ≡ 1: identical trajectory to the unweighted operator on the
    // two-triangle instance (the delegation-consistency pin)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val n6 = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val unw = Algorithms.greedyModularity(n6, edges, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val w1 = Algorithms.greedyModularityWeighted(n6,
        edges.withColumn("w", org.apache.spark.sql.functions.lit(1L)), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(w1 === unw)
    assert(unw === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("clustering: K4 corners are fully closed, a star center is fully open") {
    // K4 plus a pendant star edge at node 1: node 1 has degree 4 → 6
    // wedges, of which 3 close (its K4 triangles); pure K4 corners have
    // 3 wedges / 3 triangles (coefficient 1); the leaf has 1 neighbor →
    // 0 wedges. Exact integers, no float protocol.
    val g = graph((for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)) :+ (1L, 9L))
    val got = Algorithms.clustering(g.nodes, g.edges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> (3L, 6L), 2L -> (3L, 3L), 3L -> (3L, 3L),
      4L -> (3L, 3L), 9L -> (0L, 0L)))
    // forced-distributed twin agrees pairwise
    val dist = withLocalExecOff {
      Algorithms.clustering(g.nodes, g.edges)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    }
    assert(dist === got)
    // transitivity over the same pairs: Σn_tri = 3·4 triangles... K4 has
    // 4 triangles → closed = 12; wedges = 6+3+3+3+0 = 15
    assert(got.values.map(_._1).sum === 12L)
    assert(got.values.map(_._2).sum === 15L)
  }

  test("kTruss: pendant triangle peels off K5; cap semantics match the unroll") {
    import spark.implicits._
    // K5 (every edge in 3 triangles) + a triangle hanging off node 1
    // via fresh nodes 8,9: its 3 edges each sit in exactly 1 triangle.
    val k5 = for { a <- 1L to 5L; b <- 1L to 5L if a < b } yield (a, b)
    val pendant = Seq((1L, 8L), (1L, 9L), (8L, 9L))
    val edges = (k5 ++ pendant).toDF("src", "dst")
    // both routes must answer identically — the bounded local peel (the
    // route the gated instance takes) and the forced-distributed rounds
    def both(e: org.apache.spark.sql.DataFrame, k: Int, rounds: Int)
        : Map[(Long, Long), Long] = {
      val loc = Algorithms.kTruss(e, k, rounds)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val dist = withLocalExecOff {
        Algorithms.kTruss(e, k, rounds, numParts = 2)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      }
      assert(loc === dist, s"local/distributed k-truss disagree at k=$k")
      loc
    }
    // k=4 (support >= 2): round 1 drops the pendant triangle whole; K5
    // survives at support 3 — and extra rounds are no-ops (fixpoint)
    val got = both(edges, k = 4, rounds = 3)
    assert(got === k5.map(e => e -> 3L).toMap)
    // k=6 (support >= 4): nothing on this graph qualifies
    assert(both(edges, k = 6, rounds = 3).isEmpty)
    // cap semantics on a cascading strip: triangles (1,2,3),(2,3,4),
    // (3,4,5),(4,5,6) — interior shared edges have support 2, the rest 1.
    // One k=4 round keeps exactly {(2,3),(3,4),(4,5)}, whose supports
    // WITHIN the surviving (triangle-free) path are 0 — the trailing
    // recompute must report the post-peel truth, not the stale supports.
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val capped = both(strip, k = 4, rounds = 1)
    assert(capped === Map((2L, 3L) -> 0L, (3L, 4L) -> 0L, (4L, 5L) -> 0L))
    // two rounds reach the empty fixpoint
    assert(both(strip, k = 4, rounds = 3).isEmpty)
  }

  test("kTruss: local and distributed routes agree on Wiki-Vote") {
    // the gated instance's graph and parameters, both routes in full —
    // the sibling pin to coreness's peel-vs-h-index agreement
    val g = graft.operators.GraphOps.wikiVote(spark)
    val loc = Algorithms.kTruss(g.edges, graft.operators.GraphOps.KTrussK,
        graft.operators.GraphOps.KTrussRounds)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(loc.nonEmpty && loc.valuesIterator.forall(_ >= 0L))
    val dist = withLocalExecOff {
      Algorithms.kTruss(g.edges, graft.operators.GraphOps.KTrussK,
          graft.operators.GraphOps.KTrussRounds, numParts = 4)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    }
    assert(loc === dist)
  }

  test("coreness: exact peel values; distributed h-index iteration agrees") {
    // K4 (nodes 1-4, core 3) with a tail 4-7-8 (core 1) and an isolated
    // node 9 (core 0): the full decomposition in one table, where kCore
    // answers one k at a time.
    import spark.implicits._
    val edges = ((for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
      Seq((4L, 7L), (7L, 8L))).toDF("src", "dst")
    val nodes = (1L to 4L).toDF("id")
      .union(Seq(7L, 8L, 9L).toDF("id"))
    val expect = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      7L -> 1L, 8L -> 1L, 9L -> 0L)
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // bounded route: the exact Matula-Beck peel twin
    assert(asMap(Algorithms.coreness(nodes, edges, maxRounds = 10)) === expect)
    // forced-distributed route: the h-index fixpoint iteration — a
    // genuinely different algorithm, same function
    val dist = graft.Reset.confFlip.synchronized {
      val key = graft.graph.LocalExec.MaxBytesKey
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "0")
      try asMap(Algorithms.coreness(nodes, edges, maxRounds = 10, numParts = 2))
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    assert(dist === expect)
  }

  test("triangleCounts: K4 gives every node 3 triangles") {
    val k4 = graph(for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b))
    val got = Algorithms.triangleCounts(k4.nodes, k4.edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // forced-distributed twin: the local credit counter and the
    // edge-iterator rounds must agree
    val dist = withLocalExecOff {
      Algorithms.triangleCounts(k4.nodes, k4.edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(dist === got)
  }

  test("triangleCounts: intersection route equals the wedge join on Wiki-Vote") {
    val g = graft.operators.GraphOps.wikiVote(spark)
    val fast = Algorithms.triangleCounts(g.nodes, g.edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val wedge = Algorithms.triangleCountsWedge(g.nodes, g.edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast.size == wedge.size && fast == wedge)
    assert(fast.values.sum > 0L)
  }

  test("labelPropagation: two cliques bridge-free converge to per-clique labels") {
    val twoCliques = graph(
      (for { a <- 1L to 3L; b <- 1L to 3L if a != b } yield (a, b)) ++
      (for { a <- 10L to 12L; b <- 10L to 12L if a != b } yield (a, b)))
    // local twin and distributed loop must agree on the converged labels
    val got = Algorithms.labelPropagation(twoCliques.nodes, twoCliques.edges, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.filterKeys(_ < 10L).values.toSet.size == 1)
    assert(got.filterKeys(_ >= 10L).values.toSet.size == 1)
    val dist = withLocalExecOff {
      Algorithms.labelPropagation(twoCliques.nodes, twoCliques.edges, rounds = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(got == dist)
  }

  test("kCore: triangle-with-tail peels the tail; k=2 core is the triangle") {
    // 1-2-3 triangle, 4 hangs off 3, 5 hangs off 4: peeling removes 5
    // then 4 (two rounds needed — proves iteration, not a single filter);
    // the MID-PEEL state at a round cap of 1 must also agree between the
    // local twin and the distributed loop
    val g = graph(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val got = Algorithms.kCore(g.edges, k = 2, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    for (r <- 1 to 3) {
      val local = Algorithms.kCore(g.edges, k = 2, rounds = r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val dist = withLocalExecOff {
        Algorithms.kCore(g.edges, k = 2, rounds = r)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      }
      assert(local == dist, s"mid-peel divergence at rounds=$r")
    }
  }

  test("kCore: the distributed peel leaves no set-probe function registered") {
    val prefix = "graft_kcore_dropped_"
    def probes(): Seq[String] = spark.catalog.listFunctions().collect().toSeq
      .map(_.name).filter(_.startsWith(prefix))
    // the listing sees a registered probe, and dropProbe removes it
    val bc = spark.sparkContext.broadcast(Array(1L))
    graft.functions.GraftFunctions.registerSetProbe(spark, s"${prefix}sanity", bc)
    assert(probes() == Seq(s"${prefix}sanity") && spark.catalog.functionExists(s"${prefix}sanity"))
    graft.functions.GraftFunctions.dropProbe(spark, s"${prefix}sanity")
    assert(!spark.catalog.functionExists(s"${prefix}sanity"))
    // triangle-with-tail at k = 2: rounds 1 and 2 each drop one tail node,
    // a set small enough for the broadcast set-probe filter
    val g = graph(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val got = withLocalExecOff(Algorithms.kCore(g.edges, k = 2, rounds = 5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val left = probes()
    assert(left.isEmpty, s"set-probe functions left registered: $left")
  }

  test("kCore: heavy-round semi-join fallback equals the broadcast trickle path") {
    withLocalExecOff {
      // dropBroadcastMax=0 forces EVERY round down the shuffle semi-join
      // path (the 100 TB first-round guard — a drop too large to hold
      // driver-side); the peel recursion must be identical either way.
      val g = graph(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
      val trickle = Algorithms.kCore(g.edges, k = 2, rounds = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val heavy = Algorithms.kCore(g.edges, k = 2, rounds = 6, dropBroadcastMax = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(trickle == heavy)
      assert(trickle == Set((1L, 2L), (2L, 2L), (3L, 2L)))
    }
  }

  test("kCore: the bench query's fixed rounds are past the fixpoint at test SFs") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val e = graft.graph.PropertyGraph.componentSample(spark, dir).edges
        .localCheckpoint()
      val atRounds = Algorithms.kCore(e, operators.GraphOps.KCoreK, operators.GraphOps.KCoreRounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val beyond = Algorithms.kCore(e, operators.GraphOps.KCoreK, operators.GraphOps.KCoreRounds + 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(atRounds == beyond, s"peel not converged within rounds at $dir")
      assert(atRounds.forall(_._2 >= operators.GraphOps.KCoreK))
    }
  }

  test("pageRank at 50 iterations completes in bounded time (per-iteration cache)") {
    // Without the cache/materialize/unpersist cadence in GraphXBridge the
    // 50-iteration lineage replays every prior join at the final action.
    val g = graph(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L)))
    val t0 = System.nanoTime()
    val ranks = GraphXBridge.pageRank(spark, g, iters = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    assert(secs < 120.0, s"50 iterations took ${secs}s — lineage blowup?")
  }

  test("BFS on a 300-hop path graph: visited-set compaction keeps deep traversals viable") {
    // the DataFrame BFS compacts its visited parts every 8 rounds; 300
    // rounds of uncompacted unions would bury the loop in planning. The
    // local twin would take a graph this small, so the loop is forced.
    val n = 300L
    val longPath = graph((0L until n).map(i => (i, i + 1)))
    withLocalExecOff {
      assert(Traversals.shortestPathLength(longPath.edges, 0L, n) == n)
      assert(Traversals.shortestPathLength(longPath.edges, 0L, n / 2) == n / 2)
      assert(Traversals.shortestPathLength(longPath.edges, n, 0L) == -1L)
    }
  }

  test("commonNeighbors: triangle pairs score 1; over-cap hubs are not witnesses") {
    import spark.implicits._
    // triangle 1-2-3 plus hub 9 adjacent to 1,2,3,4 (degree 4).
    // directed/duplicate/self-loop edges must collapse to undirected.
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 2L),
      (9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)).toDF("src", "dst")
    def pairs(cap: Int) =
      graft.operators.GraphOps.commonNeighborsOf(e, cap, topK = 100)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // cap 3 excludes the hub as a witness: only the triangle's own
    // common-neighbor structure remains, plus pairs witnessed via 1/2/3
    val capped = pairs(3)
    assert(capped((1L, 2L)) == 1L && capped((1L, 3L)) == 1L && capped((2L, 3L)) == 1L)
    assert(!capped.keys.exists { case (a, b) => a == 4L || b == 4L },
      "node 4 is reachable only through the hub; with the hub capped out it must vanish")
    // cap 10 admits the hub: (1,2) now has witnesses {3, 9} and 4 pairs
    // with each triangle node through the hub
    val open = pairs(10)
    assert(open((1L, 2L)) == 2L)
    assert(open((1L, 4L)) == 1L && open((2L, 4L)) == 1L && open((3L, 4L)) == 1L)
    // Adamic-Adar on the same graph: (1,2) is witnessed by 3 (deg 3) and
    // 9 (deg 4) → 1/ln(3) + 1/ln(4), each term snapped to 12 decimals
    val aa = graft.operators.GraphOps.adamicAdarOf(e, cap = 10, topK = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(aa((1L, 2L)) - (1.0 / math.log(3) + 1.0 / math.log(4))) < 1e-5)
  }

  test("nodeLookup: bucketed route equals the index-free property-graph scan") {
    // G2 is gated through the bucketed node-property layout; the layout
    // is an access-path choice and must be invisible in the result
    val dir = "/root/testdata/sf0.001"
    val fast = graft.operators.GraphOps.nodeLookup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val scan = graft.operators.GraphOps.nodeLookupScan(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fast == scan, "bucketed lookup diverged from the full scan")
    assert(fast.nonEmpty)
  }

  test("stress: planted closed forms, σ multiplicity, local twin ≡ distributed") {
    def stressMap(g: PropertyGraph, dist: Boolean): Map[Long, Long] = {
      val df = if (dist) withLocalExecOff(Algorithms.stress(g.nodes, g.edges, 16))
               else Algorithms.stress(g.nodes, g.edges, 16)
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // diamond-chain a→b, a→c, b→d, c→d, d→e: σ_ad = 2 rides through d to e,
    // so stress(d) = (a,e)·2 + (b,e) + (c,e) = 4 — pins the σ product,
    // not just path existence
    val diamond = graph(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)))
    val expDiamond = Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 0L)
    assert(stressMap(diamond, dist = false) === expDiamond)
    assert(stressMap(diamond, dist = true) === expDiamond)
    // cyclic digraph (1→2→3→1, 2→4, 3→4, 4→5): BFS-DAG logic on a graph
    // with cycles — hand-counted interior path counts
    val cyclic = graph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L), (4L, 5L)))
    val expCyclic = Map(1L -> 1L, 2L -> 3L, 3L -> 1L, 4L -> 3L, 5L -> 0L)
    assert(stressMap(cyclic, dist = false) === expCyclic)
    assert(stressMap(cyclic, dist = true) === expCyclic)
  }

  test("stress: sampled sources restrict the sum over s without changing the plan") {
    import spark.implicits._
    // path 1→2→3→4 (+ branch 1→5): from source 1 only, stress(2) counts
    // (1,3),(1,4) and stress(3) counts (1,4)
    val srcs = Seq(1L).toDF("id")
    val got = Algorithms.stress(pathG.nodes, pathG.edges, 16,
        sources = Some(srcs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
  }

  test("stress: grid instance — distributed Brandes ≡ local twin on all 400 nodes") {
    val g = PropertyGraph.grid(spark, 20)
    val local = Algorithms.stress(g.nodes, g.edges, 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withLocalExecOff(Algorithms.stress(g.nodes, g.edges, 40))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    // two spot closed forms on the monotone lattice: corners are never
    // interior; node (0,1) = id 1 carries exactly the paths from id 0
    // into its down-right cone: (Σ in)·(Σ out) with Σ in = σ(0→1) = 1
    assert(local(0L) === 0L && local(399L) === 0L)
    assert(local(1L) > 0L)
  }

  test("stress: σ overflow fails LOUD on twin AND distributed paths (never a wrapped count)") {
    import org.apache.spark.sql.functions.col
    import graft.graph.LocalExec
    // layered complete digraph: 13 layers × 64 nodes, every node in
    // layer l wired to every node in layer l+1. From a layer-0 source,
    // σ at layer k is 64^(k-1), which crosses 2^63 inside layer 12's
    // predecessor sums (64^11 = 2^66) — unguarded, the sums wrap
    // silently and publish WRONG counts (the r15 GraphScale caveat,
    // now enforced behavior on both routes).
    val w = 64L
    val layers = 13
    val nodes = spark.range(w * layers).select(col("id"))
    val lyr = spark.range(layers - 1).select(col("id").as("l"))
    val heads = spark.range(w).select(col("id").as("ai"))
    val tails = spark.range(w).select(col("id").as("bi"))
    val edges = lyr.crossJoin(heads).crossJoin(tails)
      .select((col("l") * w + col("ai")).as("src"),
        ((col("l") + 1) * w + col("bi")).as("dst"))
    // twin: exact Math.addExact guard trips at the actual wrap point
    val twinErr = intercept[ArithmeticException] {
      LocalExec.stress(nodes, edges, maxRounds = 64).collect()
    }
    assert(twinErr.getMessage.contains("stress"))
    // distributed: the conservative per-level budget (max σ × max
    // in-degree) trips BEFORE any sum can wrap; a single layer-0 source
    // keeps the superstep fan spec-sized and routes distributed (the
    // sources parameter bypasses the twin)
    val distErr = intercept[ArithmeticException] {
      Algorithms.stress(nodes, edges, maxRounds = 64,
        sources = Some(spark.range(1).select(col("id"))), numParts = 4)
        .collect()
    }
    assert(distErr.getMessage.contains("stress"))
  }

  test("betweenness: ladder closed form — fixed-point protocol is EXACT, twin ≡ distributed") {
    // diamond ladder, widths 2/4 alternating: every σ is a power of two
    // dividing Fp = 2^24, so every protocol division is exact and the
    // published bc_fp must equal Fp × the rational betweenness, which
    // has the closed form below (σ-factoring: all paths between a pair
    // cross every junction between them): for junction id j (ids are
    // stage-ordered), bc = (#ids < j)·(#ids > j); for an interior of
    // diamond i, bc = before·after/wᵢ with before = offsets(i)+1 and
    // after = n − offsets(i+1).
    val widths = Seq(2, 4, 2, 4, 2, 4)
    val fp = Algorithms.BetweennessFp
    val g = graft.graph.PropertyGraph.diamondLadder(spark, widths)
    val offsets = widths.scanLeft(0L)((a, w) => a + w + 1)
    val n = offsets.last + 1
    val expected = (0L until n).map { id =>
      if (offsets.contains(id)) id -> fp * id * (n - 1 - id)
      else {
        val i = offsets.lastIndexWhere(_ < id)
        id -> fp * (offsets(i) + 1) * (n - offsets(i + 1)) / widths(i)
      }
    }.toMap
    def run(dist: Boolean): Map[Long, Long] = {
      val df = if (dist) withLocalExecOff(
          Algorithms.betweenness(g.nodes, g.edges, 16, numParts = 4))
        else Algorithms.betweenness(g.nodes, g.edges, 16)
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(run(dist = false) === expected, "local twin vs closed form")
    assert(run(dist = true) === expected, "distributed δ-accumulation vs closed form")
  }

  test("betweenness: grid — distributed ≡ twin exactly (truncation CONVENTION pinned, not a tolerance)") {
    // the 8×8 grid has non-dyadic σ ratios (binomials), so the per-term
    // truncating division actually truncates — both routes must still
    // agree EXACTLY because the convention (one round-toward-zero per
    // DAG-edge term, then order-independent integer sums) is the same
    val g = PropertyGraph.grid(spark, 8)
    val local = Algorithms.betweenness(g.nodes, g.edges, 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withLocalExecOff(
        Algorithms.betweenness(g.nodes, g.edges, 20, numParts = 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    // corners are never interior; the fp-scaled scores sit within one
    // truncated unit per term of Fp × the true rational value — spot:
    // node 1 = (0,1) carries σ(0→1)·(paths 1→cone)/σ — positive
    assert(local(0L) === 0L && local(63L) === 0L && local(1L) > 0L)
  }

  test("betweenness: sampled sources = Brandes-subset restriction") {
    import spark.implicits._
    // pathG (1→2→3→4, 1→5), source 1 only: σ ≡ 1, so bc_fp is exact:
    // node 2 is interior to (1,3),(1,4); node 3 to (1,4)
    val fp = Algorithms.BetweennessFp
    val got = Algorithms.betweenness(pathG.nodes, pathG.edges, 16,
        sources = Some(Seq(1L).toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 2L * fp, 3L -> fp, 4L -> 0L, 5L -> 0L))
  }

  test("betweenness: Wiki-Vote sampled sources — partition-INVARIANT exact scores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the at-scale determinism claim on a REAL skewed digraph: the
    // fixed-point protocol is pure integer arithmetic, so two runs on
    // DIFFERENT partitionings (different join/agg orders throughout)
    // must produce the IDENTICAL score table — the HITS-style
    // partition-invariance check, here under genuinely truncating
    // divisions (Wiki-Vote σ ratios are not dyadic). 8 sampled sources
    // = the Brandes-subset cluster form.
    val g = graft.operators.GraphOps.wikiVote(spark)
    val srcs = Seq(3L, 6L, 30L, 72L, 214L, 572L, 1166L, 2565L).toDF("id")
    def run(parts: Int) =
      Algorithms.betweenness(g.nodes, g.edges, maxRounds = 12,
        sources = Some(srcs), numParts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a = run(4)
    val b = run(7)
    assert(a === b, "sampled betweenness must be partition-invariant")
    assert(a.values.exists(_ > 0L), "some node must carry positive score")
  }

  test("betweenness: σ overflow fails LOUD on the twin (distributed forward guard shared with stress)") {
    import org.apache.spark.sql.functions.col
    import graft.graph.LocalExec
    // same layered digraph family as the stress overflow spec, twin
    // route (the distributed forward σ guard is brandesForward, already
    // pinned by the stress test on the identical code path)
    val w = 64L
    val layers = 13
    val nodes = spark.range(w * layers).select(col("id"))
    val lyr = spark.range(layers - 1).select(col("id").as("l"))
    val heads = spark.range(w).select(col("id").as("ai"))
    val tails = spark.range(w).select(col("id").as("bi"))
    val edges = lyr.crossJoin(heads).crossJoin(tails)
      .select((col("l") * w + col("ai")).as("src"),
        ((col("l") + 1) * w + col("bi")).as("dst"))
    val err = intercept[ArithmeticException] {
      LocalExec.betweenness(nodes, edges, maxRounds = 64,
        fp = Algorithms.BetweennessFp).collect()
    }
    assert(err.getMessage.contains("stress"))
  }

  test("harmonic: fixed-point closed form on the path graph, twin ≡ distributed") {
    // pathG (1→2→3→4, 1→5): h(1) = fp + fp/2 + fp/3 + fp = 2,833,333
    // under integer division; unreachable contributes 0
    val exp = Map(1L -> 2833333L, 2L -> 1500000L, 3L -> 1000000L,
      4L -> 0L, 5L -> 0L)
    def run(dist: Boolean): Map[Long, Long] = {
      val df = if (dist) withLocalExecOff(
          Algorithms.harmonic(pathG.nodes, pathG.edges, 16))
        else Algorithms.harmonic(pathG.nodes, pathG.edges, 16)
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(run(dist = false) === exp)
    assert(run(dist = true) === exp)
  }

  test("edge list roundtrip preserves the edge set") {
    val g = graph(Seq((1L, 2L), (2L, 3L), (7L, 9L)))
    // per-JVM scratch namespace: a concurrent test/bench JVM must not
    // race this path (and Reset.clearScratch reclaims it)
    val path = s"/tmp/${Reset.ScratchPrefix}test_edgelist"
    PropertyGraph.writeEdgeList(g, path)
    val back = PropertyGraph.fromEdgeList(spark, path).edges
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == Set((1L, 2L), (2L, 3L), (7L, 9L)))
  }

  test("reciprocity: one-pass pair-indicator form ≡ distinct + reversed semi-join") {
    // r22 rewrite guard: the published (m_edges, reciprocal) must match
    // the definitional form (DISTINCT non-loop edges; an edge is
    // reciprocal iff its reverse is present) on the real Wiki-Vote graph.
    import org.apache.spark.sql.functions._
    val got = graft.operators.GraphOps.wikivoteReciprocity(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val e = graft.operators.GraphOps.wikiVote(spark).edges
      .select(col("src"), col("dst")).filter(col("src") =!= col("dst")).distinct()
    val m = e.count()
    val rec = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi").count()
    assert(got == ((m, rec)), s"one-pass form $got != definitional ($m, $rec)")
  }
}
