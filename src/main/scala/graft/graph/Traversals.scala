package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Iterative DataFrame BFS — the Spark re-expression of the reference's
  * `get_nodes_hops` (databases.py:38,121-123: DISTINCT nodes within 1..k
  * directed hops) and `ssp` (databases.py:46,125-127: unweighted shortest
  * path). Full single-source distances run on [[GraphXBridge.distances]].
  *
  * Scale design (SURVEY §5):
  *  - the edges are prepared ONCE per warm window
  *    ([[LocalExec.frontierEdges]]: one (src, dsts) adjacency row per
  *    node, partitioned on `src` and `localCheckpoint`ed), and every round
  *    of every later traversal of the same memo-owned edges instance
  *    scans those blocks (any other instance is prepared per call);
  *  - a round whose frontier fits the driver-side cap is one filtered
  *    scan with no exchange; a larger one is a join on the prepared
  *    partitioning, so only the frontier moves (see [[bfs]]).
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
  def kHop(edges: DataFrame, source: Long, maxHops: Int, numParts: Int = 0): DataFrame =
    LocalExec.routeEdges(edges)(LocalExec.kHop(edges, source, maxHops)).getOrElse(
      bfs(edges, source, Some(maxHops), numParts = numParts) match {
        case Left(dist) => hopRows(edges.sparkSession, dist.iterator.filter(_._2 >= 1))
        case Right(dists) => dists.filter(col("dist") >= 1)
      })

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
    * A second ssp loop, [[GraphXBridge.shortestPathLength]]
    * (bidirectional), stays until these rounds search from both ends.
    * On a 40-hop chain planted on a 1,036,890-edge power-law graph (4
    * cores, each call after a `Reset.clear`, so each pays the edge
    * prepare) this loop took 1.8-2.3 s against 2.8-4.4 s for the GraphX
    * loop, in 4 of 4 runs with the order alternating. */
  def shortestPathLength(edges: DataFrame, source: Long, target: Long,
                         numParts: Int = 0): Long =
    // the BFS marks the source visited at hop 0, so its per-round hit
    // probe can never see it: without this check the loop walks the whole
    // reachable set before answering 0
    if (source == target) 0L
    else LocalExec.routeEdges(edges)(LocalExec.shortestPathLength(edges, source, target))
      .getOrElse(bfs(edges, source, None, stopAt = Some(target), numParts = numParts) match {
        case Left(dist) => dist.get(target).fold(-1L)(_.toLong)
        case Right(dists) =>
          val hit = dists.filter(col("node") === target).select(col("dist")).collect()
          if (hit.isEmpty) -1L else hit.head.getInt(0).toLong
      })

  /** `numParts > 0` sizes the prepared edge partitioning to the graph
    * instead of `spark.sql.shuffle.partitions`: a 760-edge grid over 32
    * partitions pays 32 near-empty tasks per round (SURVEY §5).
    *
    * Each round picks its plan from the size of its frontier, as Pregelix
    * (VLDB 2014) picks its join by frontier density. While the frontier
    * and the visited set fit [[LocalExec.frontierCap]] ids they stay on
    * the driver, and a round is one scan of the prepared adjacency rows
    * filtered by a broadcast sorted-set probe
    * ([[graft.functions.SortedLongSetContains]], registered the way
    * [[Algorithms.kCore]] does it): no exchange, and one job unless a
    * partition holds more than its share of the heads. A round
    * that would pass the cap hands the visited set and frontier it
    * started from to the shuffle rounds, which carry on from there.
    * Budget 0 means cap 0: every round shuffles.
    *
    * Returns the (node, hop) distances of every node reached: the
    * driver-held map when every round fit (`Left`: ssp reads its answer
    * from it and kHop returns it as a [[LocalExec.localDF]], so no
    * predicate over it is planned or compiled), else the shuffle rounds'
    * relation (`Right`). */
  private def bfs(edges: DataFrame, source: Long, maxHops: Option[Int],
                  stopAt: Option[Long] = None,
                  numParts: Int = 0): Either[mutable.LongMap[Int], DataFrame] =
    LocalExec.frontierEdges(edges, numParts) { e =>
      val spark = edges.sparkSession
      val cap = LocalExec.frontierCap(spark)
      val dist = mutable.LongMap(source -> 0)
      var frontier = Array(source)
      var hop = 1
      var done = maxHops.exists(_ < 1)
      var fits = cap > 0
      while (!done && fits) {
        probeRound(e, frontier, cap).map(_.filterNot(dist.contains).distinct) match {
          case Some(next) if dist.size + next.length <= cap =>
            if (next.isEmpty) done = true
            else {
              next.foreach(dist(_) = hop)
              java.util.Arrays.sort(next)
              frontier = next
              done = maxHops.exists(hop >= _) || stopAt.exists(dist.contains)
              hop += 1
            }
          case _ => fits = false
        }
      }
      if (done) Left(dist)
      else Right(shuffleRounds(e, hopRows(spark, dist.iterator).localCheckpoint(), hop,
        maxHops, stopAt))
    }

  private def hopRows(spark: SparkSession, dist: Iterator[(Long, Int)]): DataFrame =
    LocalExec.localDF(spark, LocalExec.HopSchema, dist.map { case (n, d) => Row(n, d) }.toSeq)

  private val probeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One driver-held round: the head of every arc out of the sorted
    * `frontier`, or None when there are more than `cap` of them.
    *
    * What the driver receives stays near `cap` ids in total, however
    * many partitions the relation has: each task ships its heads only
    * while they are within its share, `cap / partitions + 1`, and
    * otherwise only their count (see [[shipped]]). So the round is ONE
    * job over every partition (a `limit` would scan one partition, then
    * the rest, in two jobs), plus a second over just the partitions past
    * their share when the counts sum within `cap`; that one ships at most
    * `cap` ids. The probe name is fresh per round and dropped after the
    * jobs, so concurrent traversals on one session never destroy each
    * other's in-flight broadcast. */
  private def probeRound(e: DataFrame, frontier: Array[Long], cap: Int): Option[Array[Long]] = {
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val probe = s"graft_bfs_frontier_${probeSeq.incrementAndGet()}"
    GraftFunctions.registerSetProbe(spark, probe, sc.broadcast(frontier))
    try {
      val heads = e.filter(call_function(probe, col("src"))).select(explode(col("dsts")))
        .queryExecution.toRdd
      val share = cap / math.max(1, heads.getNumPartitions) + 1
      val parts = sc.runJob(heads, (it: Iterator[InternalRow]) =>
        shipped(it.map(_.getLong(0)), cap, share))
      if (parts.iterator.map(_._1.toLong).sum > cap) None
      else {
        val over = parts.indices.filter(parts(_)._2 == null)
        val rest = if (over.isEmpty) Array.empty[Array[Long]]
          else sc.runJob(heads, (it: Iterator[InternalRow]) => it.map(_.getLong(0)).toArray, over)
        Some(Array.concat(parts.flatMap(p => Option(p._2)) ++ rest: _*))
      }
    } finally GraftFunctions.dropProbe(spark, probe)
  }

  /** A task's side of a driver-held round: how many `heads` it holds,
    * counted to at most `cap + 1`, and the heads themselves when there
    * are at most `share` of them (else null). */
  private[graft] def shipped(heads: Iterator[Long], cap: Int, share: Int): (Int, Array[Long]) = {
    val out = mutable.ArrayBuilder.make[Long]
    var n = 0
    while (n <= cap && heads.hasNext) {
      val h = heads.next()
      if (n < share) out += h
      n += 1
    }
    (n, if (n <= share) out.result() else null)
  }

  /** The distributed rounds, from a visited set `start` whose frontier
    * is its `hop0 - 1` level.
    *
    *  - each frontier is `localCheckpoint`ed once and kept as a separate
    *    visited part; every K=8 rounds the parts compact into one
    *    checkpointed DataFrame so the anti-join plan stays O(1) wide;
    *  - one materializing job per round (the checkpoint); the
    *    empty-frontier check reads the checkpointed partitions;
    *  - at cluster scale the frontier join is a shuffle-on-key join that
    *    AQE skew-splits on hot hubs. */
  private def shuffleRounds(e: DataFrame, start: DataFrame, hop0: Int,
                            maxHops: Option[Int], stopAt: Option[Long]): DataFrame = {
    // Visited set = lazy union of per-round frontier parts. Compacted into
    // a single checkpointed DataFrame every CompactEvery rounds: otherwise
    // the anti-join plan is an O(depth)-way union, so planning cost grows
    // O(depth²) over a deep traversal (a 300-hop path graph would spend
    // more time in Catalyst than in tasks).
    val CompactEvery = 8
    var parts = List(start)
    var frontier = start.filter(col("dist") === hop0 - 1).select(col("node"))
    var hop = hop0
    var done = false
    while (!done) {
      if (parts.length >= CompactEvery)
        parts = List(parts.reduce(_ unionByName _).localCheckpoint())
      val visited = parts.map(_.select("node")).reduce(_ union _)
      val next = frontier.join(e, col("node") === col("src"))
        .select(explode(col("dsts")).as("node")).distinct()
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
    parts.reduce(_ unionByName _)
  }
}
