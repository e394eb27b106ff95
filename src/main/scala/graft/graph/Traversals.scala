package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative DataFrame BFS — the Spark re-expression of the reference's
  * `get_nodes_hops` (databases.py:38,121-123: DISTINCT nodes within 1..k
  * directed hops) and `ssp` (databases.py:46,125-127: unweighted shortest
  * path). Full single-source distances run on [[GraphXBridge.distances]].
  *
  * Scale design (SURVEY §5):
  *  - edges are shuffled onto their join key ONCE (`repartition(src)` +
  *    persist) — every frontier-expansion round reuses that partitioning,
  *    so only the (small) frontier moves per round;
  *  - each frontier is `localCheckpoint`ed once and kept as a separate
  *    visited part; every K=8 rounds the parts compact into one
  *    checkpointed DataFrame so the anti-join plan stays O(1) wide —
  *    total state write is O(V·depth/K), the price of bounded plan size
  *    on deep traversals (plain lazy unions are O(V) written but O(depth)
  *    plan width, which makes Catalyst the bottleneck past ~50 hops);
  *  - one materializing job per round (the checkpoint); the empty-frontier
  *    check reads the checkpointed partitions;
  *  - at cluster scale the frontier join is a shuffle-on-key join that AQE
  *    skew-splits on hot hubs.
  */
object Traversals {

  /** All nodes reachable from `source` in 1..maxHops hops, with their BFS
    * distance. `edges` must have columns (src, dst); duplicate edges are
    * tolerated (frontiers are distinct'd). Excludes the source itself
    * (reference semantics: nodes *reached*, hop ≥ 1).
    *
    * When the optimizer's size estimate says the whole edge relation fits
    * [[LocalExec]]'s byte budget, the traversal runs as ONE collect job +
    * a driver-local BFS instead of k scheduled frontier rounds — the
    * interactive-query fast path; the distributed rounds below are the
    * at-scale path and the semantics contract (GraphSpec pins the two
    * equal on the real power-law graph). */
  def kHop(edges: DataFrame, source: Long, maxHops: Int,
           numParts: Int = 0, broadcastFrontier: Boolean = false): DataFrame =
    LocalExec.routeEdges(edges)(LocalExec.kHop(edges, source, maxHops)).getOrElse(
      bfs(edges, source, Some(maxHops), numParts = numParts,
        broadcastFrontier = broadcastFrontier)
        .filter(col("dist") >= 1))

  /** Unweighted shortest-path length from src to dst (reference `ssp`);
    * -1 if unreachable, 0 when source == target. Early-exits as soon as
    * dst is reached.
    *
    * Like [[kHop]], a graph whose edge relation fits [[LocalExec]]'s
    * byte budget takes the driver-local twin: one collect job on a cold
    * call, zero once the warm store holds the edge pairs. Above the
    * budget the frontier rounds below run; the local route ignores
    * `numParts`.
    *
    * Two ssp loops stay because each wins on one kind of input and the
    * search cannot know the path depth before it starts: this one took
    * 2.0 s vs 2.6 s for [[GraphXBridge.shortestPathLength]] on 3-hop pairs
    * of a 1,036,890-edge power-law graph (4 cores), and lost 13-14 s vs
    * 5.4-5.8 s on a planted 40-hop chain. */
  def shortestPathLength(edges: DataFrame, source: Long, target: Long,
                         numParts: Int = 0): Long =
    // the BFS marks the source visited at hop 0, so its per-round hit
    // probe can never see it: without this check the loop walks the whole
    // reachable set before answering 0
    if (source == target) 0L
    else LocalExec.routeEdges(edges)(LocalExec.shortestPathLength(edges, source, target))
      .getOrElse {
        val dists = bfs(edges, source, None, stopAt = Some(target), numParts = numParts)
        val hit = dists.filter(col("node") === target).select(col("dist")).collect()
        if (hit.isEmpty) -1L else hit.head.getInt(0).toLong
      }

  /** `numParts > 0` sizes the persisted edge partitioning to the graph
    * instead of `spark.sql.shuffle.partitions` — a 760-edge grid over 32
    * partitions pays 32 near-empty tasks per BFS round (SURVEY §5).
    *
    * `broadcastFrontier` inverts the data-movement contract for SHALLOW
    * traversals whose frontier is bounded small by construction (e.g. a
    * 2-hop walk on a customer↔order bipartite graph, where hop 2 can only
    * return to the order's one customer): instead of shuffling the whole
    * edge relation onto its join key up front — the right amortization
    * for deep traversals, but a full-relation shuffle+persist just to take
    * two hops — each round broadcasts the (checkpointed, tiny) frontier
    * and streams the edge relation map-side, so NO edge ever moves and at
    * 100 TB each round is a pushdown-friendly scan. Caller asserts the
    * frontier bound; an unbounded frontier under this flag is the classic
    * broadcast OOM, which is why it is opt-in and not inferred. */
  private def bfs(edges: DataFrame, source: Long, maxHops: Option[Int],
                  stopAt: Option[Long] = None, numParts: Int = 0,
                  broadcastFrontier: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.select(col("src"), col("dst"))
    val e =
      if (broadcastFrontier) e0
      else (if (numParts > 0) e0.repartition(numParts, col("src"))
            else e0.repartition(col("src")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val f0 = spark.range(1).select(lit(source).as("node")).localCheckpoint()
    // Visited set = lazy union of per-round frontier parts. Compacted into
    // a single checkpointed DataFrame every CompactEvery rounds: otherwise
    // the anti-join plan is an O(depth)-way union, so planning cost grows
    // O(depth²) over a deep traversal (a 300-hop path graph would spend
    // more time in Catalyst than in tasks).
    val CompactEvery = 8
    var parts = List(f0.withColumn("dist", lit(0)))
    var frontier = f0
    var hop = 1
    var done = maxHops.exists(_ < 1)
    while (!done) {
      if (parts.length >= CompactEvery)
        parts = List(parts.reduce(_ unionByName _).localCheckpoint())
      val visited = parts.map(_.select("node")).reduce(_ union _)
      val expanded =
        if (broadcastFrontier) e.join(broadcast(frontier), col("node") === col("src"))
        else frontier.join(e, col("node") === col("src"))
      val next = expanded
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint() // the one materializing job this round
      if (stopAt.isEmpty && maxHops.isDefined) {
        // bounded hop count and no target: termination is the hop cap,
        // so the full aggregate probe is skipped — but exhaustion still
        // short-circuits via take(1) on the just-checkpointed frontier
        // (near-free: no re-computation, stops at the first row). A
        // shallow graph under a large hop cap must not ride the
        // remaining rounds as pure job-floor padding.
        if (maxHops.exists(hop >= _)) {
          // final permitted hop — the probe would buy nothing
          parts ::= next.withColumn("dist", lit(hop))
          done = true
        } else if (next.isEmpty) done = true
        else {
          parts ::= next.withColumn("dist", lit(hop))
          frontier = next
          hop += 1
        }
      } else {
        // one probe job per round on the (tiny, checkpointed) frontier:
        // emptiness (the unbounded loop's only exit) and target-hit
        // together — a separate filter+count for stopAt would double the
        // per-round job overhead that dominates deep traversals
        val probe = next.agg(count(lit(1)).as("n"),
          sum(when(col("node") === lit(stopAt.getOrElse(-1L)), 1L).otherwise(0L)).as("hit"))
          .collect()(0)
        if (probe.getLong(0) == 0L) done = true
        else {
          parts ::= next.withColumn("dist", lit(hop))
          frontier = next
          hop += 1
          if (maxHops.exists(hop > _)) done = true
          else if (stopAt.isDefined && probe.getLong(1) > 0L) done = true
        }
      }
    }
    if (!broadcastFrontier) e.unpersist()
    parts.reduce(_ unionByName _)
  }
}
