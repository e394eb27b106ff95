package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The distributed loops for connected components, PageRank, unweighted
  * and weighted SSSP, and deep point-to-point ssp — the dense-analytics
  * path (vertex state in memory, no per-iteration shuffle of the full edge
  * relation). Each operator keeps one driver-local twin in [[LocalExec]]
  * for plan-statistics-bounded graphs; this object is the loop that runs
  * past the budget. The CC, PageRank, BFS-distance and ssp loops each
  * won their place against a DataFrame formulation on the same host and
  * input (noted at each operator: a 1,036,890-edge power-law graph on 4
  * cores, median warm wall).
  *
  * This is the one RDD enclave in the engine (SURVEY §4): GraphX's
  * vertex-cut partitioning and Pregel aggregation are genuinely
  * per-partition imperative logic that the DataFrame API cannot express.
  */
object GraphXBridge {

  /** `numParts > 0` coalesces the vertex/edge RDDs first: a Pregel
    * superstep schedules a task per partition, so a small graph spread
    * over local[32]'s default parallelism pays ~30×32 empty tasks for a
    * 30-superstep run. Size partitions to the graph, not the cluster. */
  def toGraphX(g: PropertyGraph, numParts: Int = 0): Graph[Long, Long] = {
    val v0 = g.nodes.select(col("id")).rdd.map(r => (r.getLong(0), r.getLong(0)))
    val e0 = g.edges.select(col("src"), col("dst")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1L))
    val vertices: RDD[(VertexId, Long)] = if (numParts > 0) v0.coalesce(numParts) else v0
    val edges: RDD[Edge[Long]] = if (numParts > 0) e0.coalesce(numParts) else e0
    Graph(vertices, edges)
  }

  /** Materialize a (VertexId, Long) vertex view as a DataFrame and drop
    * the backing graph's cached RDDs: GraphX's iterative operators leave
    * their final graph cached, and those raw RDD persists are invisible
    * to SQL-side cache clearing — without this, every bench pass leaks a
    * graph's worth of storage memory. localCheckpoint is eager, so
    * unpersisting afterwards cannot trigger recompute. */
  private def drain(spark: SparkSession, gx: Graph[_, _],
                    vs: RDD[(VertexId, Long)], names: (String, String)): DataFrame = {
    import spark.implicits._
    val out = vs.map { case (v, d) => (v, d) }.toDF(names._1, names._2).localCheckpoint()
    gx.unpersistVertices(blocking = false)
    gx.edges.unpersist(blocking = false)
    out
  }

  /** Connected components (undirected semantics, GraphX native).
    *
    * `localBounded > 0` is the caller's assertion that the graph is
    * bounded small (a sampled or candidate-pair graph whose derived-join
    * size estimate is useless for [[LocalExec.smallEnough]]); the
    * bounded-probe collect ENFORCES the bound and falls back to the
    * GraphX loop when it is exceeded. Plan-statistics-small graphs take
    * the local union-find without any caller hint. Either route labels
    * nodes ∪ edge endpoints (GraphX adds endpoints missing from the
    * vertex RDD).
    *
    * Measured: 3.6 s, 10 jobs vs 6.2 s, 55 jobs for the DataFrame
    * pointer-jumping loop it replaced. */
  def connectedComponents(spark: SparkSession, g: PropertyGraph,
                          numParts: Int = 0, localBounded: Int = 0): DataFrame = {
    LocalExec.route(g.nodes, g.edges, localBounded)(
      LocalExec.connectedComponents(g.nodes, g.edges)).getOrElse {
      val cc = toGraphX(g, numParts).connectedComponents()
      drain(spark, cc, cc.vertices, ("node", "comp"))
    }
  }

  /** Single-source shortest path lengths via Pregel — or, when the plan
    * statistics say the graph fits [[LocalExec]]'s budget, one collect job
    * + driver-local BFS (a depth-d Pregel run is d scheduled jobs; on a
    * bounded graph that is pure scheduling floor).
    *
    * Measured: 3.7 s vs 5.5 s for the DataFrame frontier BFS over the
    * whole graph. */
  def distances(spark: SparkSession, g: PropertyGraph, source: Long,
                numParts: Int = 0): DataFrame = {
    import spark.implicits._
    val local = LocalExec.route(g.nodes, g.edges)(LocalExec.distances(g.nodes, g.edges, source))
    if (local.isDefined) return local.get
    val gx = toGraphX(g, numParts).mapVertices((id, _) =>
      if (id == source) 0L else Long.MaxValue)
    val res = gx.pregel(Long.MaxValue)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Long.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    drain(spark, res, res.vertices.filter(_._2 != Long.MaxValue), ("node", "dist"))
  }

  /** Point-to-point shortest-path LENGTH (the reference's src→dst `ssp`,
    * databases.py:46); -1 if unreachable. Pregel's built-in loop cannot
    * stop on a predicate, so the superstep loop is explicit — and
    * BIDIRECTIONAL: each superstep advances a forward BFS frontier from
    * the source (along edges, `sendToDst`) AND a backward frontier from
    * the target (against edges, `sendToSrc`) in ONE aggregateMessages.
    * Every vertex carries (ds, dt); the answer is read off the first
    * round any vertex holds both: ds+dt ≥ d always (path concatenation),
    * and a meet needs ds,dt ≤ r so 2r ≥ d, while the shortest path's own
    * vertex at forward position ceil(d/2) has (ds, dt) =
    * (ceil(d/2), floor(d/2)) and meets exactly at round ceil(d/2) with
    * sum d — so min(ds+dt) over the first round's meets IS d, after
    * ceil(d/2) supersteps instead of d. The meet/frontier probe is folded
    * into the round's vertex materialization (one aggregate), so a
    * depth-d query costs ~d scheduled jobs, not 3d. Per-level cost is the
    * RDD superstep floor (no SQL planning), which is what makes a deep
    * traversal affordable on a small graph and shuffle-bounded on a
    * large one. */
  /** Two ssp loops stay because each wins on one kind of input and the
    * search cannot know the path depth before it starts: this one took
    * 5.4-5.8 s vs 13-14 s on a planted 40-hop chain, while
    * [[Traversals.shortestPathLength]] took 2.0 s vs 2.6 s on 3-hop pairs.
    *
    * `onRound` fires once per executed superstep (the greedyModularity
    * observer pattern — default no-op, gated callers unaffected; the
    * bounded local shortcut never fires it): GraphScale's ssp_pair_10m
    * row counts rounds to pin the bidirectional early-exit claim
    * (supersteps == ceil(d/2)) at 10M edges. */
  def shortestPathLength(spark: SparkSession, g: PropertyGraph, source: Long,
                         target: Long, numParts: Int = 0,
                         onRound: Int => Unit = _ => ()): Long = {
    val local = LocalExec.routeEdges(g.edges)(LocalExec.shortestPathLength(g.edges, source, target))
    if (local.isDefined) return local.get
    val Unset = Long.MaxValue
    var cur = toGraphX(g, numParts).mapVertices((id, _) => (
      if (id == source) 0L else Unset,
      if (id == target) 0L else Unset)).cache()
    var result = if (source == target) 0L else -1L
    var done = result == 0L
    // reached-vertex count (both sides summed) is monotone: a round that
    // does not grow it expanded no frontier — the sides are exhausted
    // without meeting, i.e. the target is unreachable
    var prevReached = -1L
    var round = 0
    while (!done) {
      round += 1
      onRound(round)
      // messages only to vertices UNVISITED on that side: each frontier
      // is exactly its newly reached level
      val msgs = cur.aggregateMessages[(Long, Long)](
        t => {
          if (t.srcAttr._1 != Unset && t.dstAttr._1 == Unset)
            t.sendToDst((t.srcAttr._1 + 1L, Unset))
          if (t.dstAttr._2 != Unset && t.srcAttr._2 == Unset)
            t.sendToSrc((Unset, t.dstAttr._2 + 1L))
        },
        (a, b) => (math.min(a._1, b._1), math.min(a._2, b._2))).cache()
      // same materialize-then-unpersist discipline as pageRank — BOTH
      // edges and vertices, in that order: the new graph's edge view
      // ships vertex attributes lazily, so unpersisting the previous
      // round before the edges materialize chains every round's
      // recompute into one deeply nested lineage (observed: a single
      // task stuck for minutes re-zipping 30 rounds of joins)
      val next = cur.outerJoinVertices(msgs)((_, old, m) => m match {
        case Some((fwd, bwd)) =>
          (math.min(old._1, fwd), math.min(old._2, bwd))
        case None => old
      }).cache()
      next.edges.foreachPartition(_ => ())
      // ONE probe job, doubling as the vertex materializer: total reached
      // count (progress test) and the round's best meet sum
      val (reached, meet) = next.vertices.aggregate((0L, -1L))(
        { case ((c, m0), (_, (ds, dt))) =>
          val c1 = c + (if (ds != Unset) 1L else 0L) + (if (dt != Unset) 1L else 0L)
          val m1 = if (ds != Unset && dt != Unset) {
            val s = ds + dt
            if (m0 < 0L || s < m0) s else m0
          } else m0
          (c1, m1)
        },
        { case ((c1, m1), (c2, m2)) =>
          (c1 + c2,
           if (m1 < 0L) m2 else if (m2 < 0L) m1 else math.min(m1, m2))
        })
      cur.unpersistVertices(blocking = false)
      cur.edges.unpersist(blocking = false)
      msgs.unpersist(blocking = false)
      cur = next
      if (meet >= 0L) { result = meet; done = true }
      else if (reached == prevReached) done = true
      prevReached = reached
    }
    cur.unpersistVertices(blocking = false)
    cur.edges.unpersist(blocking = false)
    result
  }

  /** Weighted single-source shortest paths via Pregel (non-negative
    * integer weights; edges must carry a `w` column). Same vertex-resident
    * relaxation loop as `distances`, with the edge weight as the message
    * increment — distributed Bellman-Ford that converges in
    * O(longest-shortest-path-hops) supersteps. */
  def weightedDistances(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                        source: Long, numParts: Int = 0): DataFrame = {
    import spark.implicits._
    val local = LocalExec.weightedDistances(nodes, edges, source)
    if (local.isDefined) return local.get
    val v0 = nodes.select(col("id")).rdd.map(r => (r.getLong(0), r.getLong(0)))
    val e0 = edges.select(col("src"), col("dst"), col("w")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getLong(2)))
    val vertices: RDD[(VertexId, Long)] = if (numParts > 0) v0.coalesce(numParts) else v0
    val es: RDD[Edge[Long]] = if (numParts > 0) e0.coalesce(numParts) else e0
    val gx = Graph(vertices, es).mapVertices((id, _) =>
      if (id == source) 0L else Long.MaxValue)
    val res = gx.pregel(Long.MaxValue)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Long.MaxValue && t.srcAttr + t.attr < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + t.attr)) else Iterator.empty,
      (a, b) => math.min(a, b))
    drain(spark, res, res.vertices.filter(_._2 != Long.MaxValue), ("node", "dist"))
  }

  /** PageRank, damping `d`, fixed `iters` iterations, uniform init 1/N:
    *   r(v) = (1-d)/N + d * Σ_{u→v} r(u)/outdeg(u)
    * Dangling nodes contribute nothing (matches the unrolled SQL oracle).
    *
    * Measured: 6.1 s vs 8.5 s for the DataFrame join+groupBy loop at 10
    * iterations.
    *
    * @param snap if > 0, every iteration's rank (and the uniform initial
    *   rank) is rounded HALF_UP to `snap` decimals. On graphs with hub
    *   in-degrees in the hundreds the contribution sum is an
    *   order-dependent double reduction — engines summing in different
    *   orders drift in the last ulp and the drift compounds across
    *   iterations. Snapping well above ulp granularity (9 dp vs ~1e-16
    *   relative error) makes each iteration's ranks bit-identical on
    *   both engines, so divergence cannot accumulate; the DuckDB oracle
    *   mirrors the same per-round rounding. 0 keeps raw doubles (safe on
    *   small regular graphs like the 25-node nation adjacency). */
  def pageRank(spark: SparkSession, g: PropertyGraph, iters: Int, d: Double = 0.85,
               numParts: Int = 0, snap: Int = 0): DataFrame = {
    import spark.implicits._
    // snapped runs are reduction-order-independent BY CONSTRUCTION (that
    // is what snap exists for), so a plan-statistics-small graph may take
    // the one-collect local twin; raw-double runs stay on GraphX, whose
    // partition-order sum is part of their (engine-specific) semantics
    if (snap > 0) {
      val local = LocalExec.route(g.nodes, g.edges)(
        LocalExec.pageRankSnapped(g.nodes, g.edges, iters, d, snap))
      if (local.isDefined) return local.get
    }
    def snapped(r: Double): Double =
      if (snap > 0) BigDecimal(r).setScale(snap, BigDecimal.RoundingMode.HALF_UP).toDouble
      else r
    val n = g.nodes.count().toDouble
    val base = toGraphX(g, numParts)
    val gx = base.outerJoinVertices(base.outDegrees) {
      (_, _, deg) => deg.getOrElse(0)
    }.mapVertices((_, deg) => (snapped(1.0 / n), deg))
    // Cache + materialize each iteration's graph, then unpersist the
    // previous one (GraphX's own PageRank pattern): without this every
    // outerJoinVertices extends one long uncached lineage and the final
    // action replays all iterations' joins — a recompute/stack blowup at
    // high iteration counts.
    var cur = gx.cache()
    for (_ <- 1 to iters) {
      val contribs = cur.aggregateMessages[Double](
        t => t.sendToDst(t.srcAttr._1 / t.srcAttr._2),
        _ + _)
      val next = cur.outerJoinVertices(contribs) { (_, attr, c) =>
        (snapped((1 - d) / n + d * c.getOrElse(0.0)), attr._2)
      }.cache()
      next.edges.foreachPartition(_ => ()) // materialize before dropping prev
      next.vertices.foreachPartition(_ => ())
      cur.unpersistVertices(blocking = false)
      cur.edges.unpersist(blocking = false)
      cur = next
    }
    // materialize the result, then release the final iteration's cache
    // (same reason as drain(): raw RDD persists outlive the query)
    val out = cur.vertices.map { case (v, (r, _)) => (v, r) }
      .toDF("node", "rank").localCheckpoint()
    cur.unpersistVertices(blocking = false)
    cur.edges.unpersist(blocking = false)
    out
  }
}
