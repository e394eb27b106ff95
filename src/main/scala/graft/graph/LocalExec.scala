package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Adaptive LOCAL execution for bounded graphs — the single-job fast path
  * behind the interactive traversal queries (the reference's
  * `get_nodes_hops` databases.py:38 and `ssp` databases.py:46).
  *
  * Why it exists: a Pregel superstep or a BFS round is a SCHEDULED JOB, so
  * a depth-30 traversal on a 256-node grid costs ~30 job floors (~60 ms
  * each) — pure scheduling, zero compute. The reference's embedded stores
  * answer the same query in milliseconds precisely because they run it as
  * a local in-process walk. This object is the same move inside the Spark
  * engine: when the OPTIMIZER'S OWN SIZE ESTIMATE for every input relation
  * fits a fixed byte budget, collect the edge relation once (one job) and
  * run the traversal as driver-local BFS/Dijkstra; otherwise the caller
  * falls back to the distributed formulation unchanged.
  *
  * Scale discipline (same stance as the k-core broadcast peel's 4M-id
  * fallback): the guard is checked BEFORE any data moves, from plan
  * statistics only (no counting job); at 100 TB the edge relation blows
  * the budget by orders of magnitude and the distributed path runs. The
  * budget is conservative — `spark.sql.autoBroadcastJoinThreshold`-sized,
  * i.e. "small enough that the engine would happily ship it to every
  * executor anyway"; collecting it once to the driver is strictly less
  * movement than one broadcast. GraphSpec and RouteEquivalenceSpec pin
  * local ≡ distributed on power-law graphs and on the generated grids,
  * with the knob forced off to exercise the distributed twin.
  */
object LocalExec {

  /** Session conf: optimizer-estimated input bytes below which traversals
    * may run driver-local. 0 disables local execution (tests use this to
    * pin the distributed path). */
  val MaxBytesKey = "graft.localexec.maxBytes"

  /** Default budget: 8 MiB of estimated input — the same order as the
    * default broadcast-join threshold (10 MB): anything this size is
    * already considered shippable-everywhere by the planner. */
  val DefaultMaxBytes: Long = 8L << 20

  private def budget(spark: SparkSession): Long =
    try spark.conf.get(MaxBytesKey, DefaultMaxBytes.toString).toLong
    catch { case _: NumberFormatException => DefaultMaxBytes }

  /** True iff local execution is enabled and the optimizer's size estimate
    * for every input relation sums under the budget. Plan-statistics only:
    * no job runs. Non-CBO estimates are upper-bound-ish for the shapes
    * routed here (file scans: file size; generated ranges: 8 B/row; joins:
    * child product — which correctly disqualifies derived fact-fact edge
    * sets like the bipartite order graph). */
  def smallEnough(dfs: DataFrame*): Boolean = {
    val b = budget(dfs.head.sparkSession)
    b > 0 && dfs.map(df => derivedGet[BigInt](df, "stats")(
      df.queryExecution.optimizedPlan.stats.sizeInBytes)).sum <= BigInt(b)
  }

  /** Local execution kill switch (budget 0): caller-asserted bounded
    * routes must respect it too, so tests can force every distributed
    * twin. */
  def enabled(spark: SparkSession): Boolean = budget(spark) > 0

  /** Graph-shaped guards: measure the PROJECTIONS the local twins will
    * actually collect — (id) and (src, dst) — not the caller's full
    * relations, whose label/props columns would silently raise the bar
    * for the driver-local fast path (Project stats scale with row
    * width). The projections ride the identity memo, so on warm passes
    * these are map probes. */
  def smallEnoughGraph(nodes: DataFrame, edges: DataFrame): Boolean =
    smallEnough(preparedIds(nodes), preparedEdges(edges))

  def smallEnoughEdges(edges: DataFrame): Boolean =
    smallEnough(preparedEdges(edges))

  // --- warm store -----------------------------------------------------------

  /** Per-JVM warm store for collected bounded relations — the in-process
    * analog of the warm page/property caches that make the reference's
    * embedded stores answer repeat interactive queries in milliseconds:
    * the first query against a bounded relation pays the one collect job,
    * repeat queries within the same warm window are driver-memory probes
    * and zero scheduled jobs. Keyed by the CANONICALIZED optimized logical
    * plan (the engine's own semantic-equality notion — two DataFrames
    * share an entry iff `sameResult` holds), so an entry can never alias
    * two different relations; a bounded-collect entry additionally keys on
    * its row bound. Dropped on every [[graft.Reset.clear]] — the session
    * reset empties the warm store exactly like the reference bench's
    * `clear()` empties its databases — so an entry only ever spans one
    * query's warmup+timed passes over the round driver's immutable
    * testdata, and a scratch regeneration can never be served stale.
    * Budget discipline is unchanged: everything cached here already passed
    * the [[smallEnough]] / [[collectBounded]] guards, so at 100 TB nothing
    * is ever admitted and every query runs its distributed formulation. */
  private val warm = new java.util.concurrent.ConcurrentHashMap[(LogicalPlan, Long), AnyRef]()

  /** Identity-level memo layered OVER the canonical warm store: Dataset
    * construction itself costs 10-20 ms of Catalyst work (analysis,
    * optimization, canonicalization), which on a warm pass would dwarf the
    * actual query. Keyed by the caller's UNANALYZED logical-plan OBJECT
    * (reference identity), it only ever hits when the same Dataset
    * instance is passed again — which [[PropertyGraph]]'s prepared-graph
    * memo arranges — so a hit is trivially sound: same instance, same
    * immutable data within a warm window. Misses fall through to the
    * canonical-plan path. */
  private val derived = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[LogicalPlan,
      java.util.concurrent.ConcurrentHashMap[String, AnyRef]]())

  private def derivedGet[T <: AnyRef](df: DataFrame, tag: String)(build: => T): T =
    derived.computeIfAbsent(df.queryExecution.logical,
        _ => new java.util.concurrent.ConcurrentHashMap[String, AnyRef]())
      .computeIfAbsent(tag, _ => build).asInstanceOf[T]

  private[graft] def clearWarm(): Unit = {
    warm.clear(); derived.clear(); preparedByKey.clear()
  }
  private[graft] def warmEntries: Int = warm.size

  /** Tags namespace the warm map per collect SHAPE, so two different
    * projections of one canonical plan can never alias. Bounded collects
    * use their (non-negative) row bound as the tag. */
  private val TagEdgePairs = -1L
  private val TagLongs = -2L
  private val TagRows = -3L
  private val TagWeighted = -4L

  private def warmGet[T <: AnyRef](df: DataFrame, tag: Long)(build: => T): T =
    warm.computeIfAbsent((df.queryExecution.optimizedPlan.canonicalized, tag),
      _ => build).asInstanceOf[T]

  /** Budget-guarded warm relation for point-lookup-style operators: when
    * the optimizer's size estimate for `df` fits the LocalExec budget,
    * collect it once per warm window and serve repeat lookups from the
    * driver copy (the "property index held in store memory" analog);
    * `None` when over budget or local execution is disabled — the caller
    * runs its pruned-scan / distributed formulation unchanged. */
  def warmRows(df: DataFrame): Option[Array[Row]] = {
    val spark = df.sparkSession
    val b = budget(spark)
    if (b <= 0) return None
    val plan = df.queryExecution.optimizedPlan
    if (plan.stats.sizeInBytes > BigInt(b)) None
    else Some(warm.computeIfAbsent((plan.canonicalized, TagRows), _ => df.collect())
      .asInstanceOf[Array[Row]])
  }

  /** Public identity-memo hook for caller-DERIVED DataFrames (e.g. the
    * weighted grid edges `edges.selectExpr(src, dst, w)`): re-deriving
    * per pass would rebuild the plan and miss the identity memos below;
    * deriving through this returns the same Dataset instance per
    * (input instance, tag) within a warm window. */
  def derive(df: DataFrame, tag: String)(build: DataFrame => DataFrame): DataFrame =
    derivedGet[DataFrame](df, s"derive-$tag")(build(df))

  /** String-keyed prepared-relation memo — the "loaded graph" half for
    * DISTRIBUTED consumers: a derived relation (e.g. the bipartite edge
    * multiset, a fact-fact join) that a repeat query would otherwise
    * re-derive per pass is built (and typically `localCheckpoint`ed, the
    * bench-scale stand-in for a one-time parquet staging write) once per
    * warm window and then traversed from its materialized blocks. Nothing
    * is collected to the driver — the value stays a distributed Dataset,
    * so this is safe at any size the cluster itself can hold. Cleared
    * with the warm store (Reset.clear also unpersists the checkpoint
    * blocks, so a stale entry can never outlive its data). */
  private val preparedByKey =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def prepared(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    preparedByKey.computeIfAbsent((spark, key), _ => build)

  /** Zero-copy-ish LocalRelation result builder: `createDataFrame` with a
    * prepared schema skips the per-call implicit-Encoder derivation that
    * makes `Seq.toDF` cost ~10 ms — on the warm interactive path that
    * derivation would be most of the query. */
  private[graft] def localDF(spark: SparkSession, schema: StructType,
                             rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def schema2(n1: String, t1: org.apache.spark.sql.types.DataType,
                      n2: String, t2: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(StructField(n1, t1, nullable = false),
      StructField(n2, t2, nullable = false)))

  /** Collect `df` only if it has at most `maxRows` rows: one job running
    * `limit(maxRows + 1)` — the limit short-circuits the scan, so on an
    * over-bound relation this is a bounded probe, not a materialization.
    * `None` = bound exceeded, caller falls back to the distributed path.
    * The second guard style next to [[smallEnough]]: for DERIVED edge
    * relations (joins, samples) the non-CBO size estimate is the child
    * product — useless — so a caller who can assert a bound from the
    * operator's own semantics (a verified-pair graph, a 1-in-20 sample)
    * opts in and the probe ENFORCES the assertion instead of trusting
    * it. */
  def collectBounded(df: DataFrame, maxRows: Int): Option[Array[org.apache.spark.sql.Row]] = {
    // warm: a prior successful bounded collect of the same plan (and same
    // bound) serves from the driver copy with zero jobs. Over-bound
    // outcomes are NOT cached — the relation cannot shrink mid-window, so
    // a miss stays a miss and re-probing is the correct (cheap) behavior.
    val key = (df.queryExecution.optimizedPlan.canonicalized, maxRows.toLong)
    val hit = warm.get(key)
    if (hit != null) return Some(hit.asInstanceOf[Array[org.apache.spark.sql.Row]])
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows) None else { warm.put(key, rows); Some(rows) }
  }

  // --- collected-graph plumbing --------------------------------------------

  /** One collect job: the (src, dst) pairs as parallel primitive arrays.
    * Null endpoints are dropped BEFORE collecting — an equi-join never
    * matches a null key, so the distributed formulations all ignore such
    * edges, and `Row.getLong` on a null would otherwise read them as
    * node 0 silently. */
  private def collectEdges(edges: DataFrame): (Array[Long], Array[Long]) = {
    // resolve the prepared projection BEFORE the outer derivedGet: a
    // nested computeIfAbsent on the same per-Dataset map is the
    // hash-bin-dependent ConcurrentHashMap "Recursive update" landmine
    // (see PropertyGraph.fromNodeEdgeLists, which hit it first)
    val prepared = preparedEdges(edges)
    derivedGet[(Array[Long], Array[Long])](edges, "edge-pairs") {
      warmGet[(Array[Long], Array[Long])](prepared, TagEdgePairs) {
        val rows = prepared.collect()
        val s = new Array[Long](rows.length)
        val d = new Array[Long](rows.length)
        var i = 0
        while (i < rows.length) { s(i) = rows(i).getLong(0); d(i) = rows(i).getLong(1); i += 1 }
        (s, d)
      }
    }
  }

  /** Identity-memoized normalizing projections: the per-pass Catalyst
    * cost of re-deriving these from the same input instance is what the
    * identity memo exists to remove. */
  private def preparedEdges(edges: DataFrame): DataFrame =
    derivedGet[DataFrame](edges, "prep-edges") {
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
    }

  private def preparedIds(nodes: DataFrame): DataFrame =
    derivedGet[DataFrame](nodes, "prep-ids")(nodes.select(col("id").cast("long")))

  /** One collect job for the node-id universe (any relation with an `id`
    * column), warm-cached like [[collectEdges]]. */
  private def collectLongs(nodes: DataFrame): Array[Long] = {
    val prepared = preparedIds(nodes) // before the outer memo — see collectEdges
    derivedGet[Array[Long]](nodes, "longs") {
      warmGet[Array[Long]](prepared, TagLongs)(prepared.collect().map(_.getLong(0)))
    }
  }

  private def adjacency(src: Array[Long], dst: Array[Long]): mutable.LongMap[mutable.ArrayBuffer[Long]] = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    var i = 0
    while (i < src.length) {
      adj.getOrElseUpdate(src(i), mutable.ArrayBuffer.empty[Long]) += dst(i)
      i += 1
    }
    adj
  }

  /** Collected graph on dense indices: the node ids and, per index, its
    * distinct out-neighbour indices. Edges naming ids outside `nodes`,
    * self-loops and duplicate edges are dropped — none of them changes a
    * BFS distance or a shortest-path count. */
  private def indexedAdjacency(nodes: DataFrame,
                               edges: DataFrame): (Array[Long], Array[Array[Int]]) = {
    val (src, dst) = collectEdges(edges)
    val ids = collectLongs(nodes)
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val dedup = new java.util.HashSet[Long]()
    val adjH = Array.fill(n)(List.empty[Int])
    var i = 0
    while (i < src.length) {
      (idx.get(src(i)), idx.get(dst(i))) match {
        case (Some(si), Some(di)) if si != di =>
          if (dedup.add(si.toLong * n + di)) adjH(si) = di :: adjH(si)
        case _ => ()
      }
      i += 1
    }
    (ids, adjH.map(_.toArray))
  }

  // --- traversals -----------------------------------------------------------

  /** The one single-source BFS behind [[kHop]], [[distances]] and
    * [[shortestPathLength]]: expands `source` level by level for at most
    * `maxHops` levels, calling `reached(v, hop)` once per newly reached
    * node in BFS order. The source is visited at hop 0 and never
    * reported, so a cycle back never re-admits it — the same rule as the
    * distributed frontier's anti-join against the visited set.
    * `reached` returning false ends the walk at once. */
  private def bfs(edges: DataFrame, source: Long, maxHops: Int)
                 (reached: (Long, Int) => Boolean): Unit = {
    val (s, d) = collectEdges(edges)
    val adj = adjacency(s, d)
    val seen = mutable.LongMap.empty[Unit]
    seen(source) = ()
    var frontier = mutable.ArrayBuffer(source)
    var hop = 1
    var go = true
    while (go && frontier.nonEmpty && hop <= maxHops) {
      val next = mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (go && i < frontier.length) {
        adj.get(frontier(i)) match {
          case Some(ns) =>
            var j = 0
            while (go && j < ns.length) {
              val v = ns(j)
              if (!seen.contains(v)) { seen(v) = (); next += v; go = reached(v, hop) }
              j += 1
            }
          case None => ()
        }
        i += 1
      }
      frontier = next
      hop += 1
    }
  }

  /** Local twin of [[Traversals.kHop]]: nodes first reached at hop 1..k,
    * with their BFS distance; the source itself excluded. Schema matches
    * the distributed output exactly: (node: long, dist: int). */
  def kHop(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    val out = mutable.ArrayBuffer.empty[Row]
    bfs(edges, source, maxHops) { (v, hop) => out += Row(v, hop); true }
    localDF(edges.sparkSession, schema2("node", LongType, "dist", IntegerType), out.toSeq)
  }

  /** Local twin of [[GraphXBridge.distances]]: BFS distances from `source`
    * to every reachable vertex (dist 0 = source). The vertex universe is
    * nodes ∪ edge endpoints (GraphX's `Graph(vertices, edges)` union); a
    * source outside the universe yields the same empty result the Pregel
    * run produces. Schema: (node: long, dist: long). */
  def distances(nodes: DataFrame, edges: DataFrame, source: Long): DataFrame = {
    val distSchema = schema2("node", LongType, "dist", LongType)
    val (s, d) = collectEdges(edges)
    if (!collectLongs(nodes).contains(source) && !s.contains(source) && !d.contains(source))
      return localDF(edges.sparkSession, distSchema, Nil)
    val out = mutable.ArrayBuffer(Row(source, 0L))
    bfs(edges, source, Int.MaxValue) { (v, hop) => out += Row(v, hop.toLong); true }
    localDF(edges.sparkSession, distSchema, out.toSeq)
  }

  /** Local twin of [[GraphXBridge.weightedDistances]]: Dijkstra over
    * non-negative long weights — the same fixpoint the distributed
    * Bellman-Ford relaxation converges to (non-negativity is that
    * operator's documented contract, which is what licenses Dijkstra
    * here). Schema: (node: long, dist: long). */
  def weightedDistances(nodes: DataFrame, edges: DataFrame, source: Long): DataFrame = {
    val spark = edges.sparkSession
    val distSchema = schema2("node", LongType, "dist", LongType)
    val prepared = derivedGet[DataFrame](edges, "prep-weighted") {
      edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
    }
    val rows = warmGet[Array[Row]](prepared, TagWeighted)(prepared.collect())
    val nodeIds = collectLongs(nodes)
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Long)]]
    var present = nodeIds.contains(source)
    rows.foreach { r =>
      val (u, v, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(w >= 0L, s"weightedDistances requires non-negative weights, got $w")
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty[(Long, Long)]) += ((v, w))
      present ||= u == source || v == source
    }
    if (!present) return localDF(spark, distSchema, Nil)
    val dist = mutable.LongMap.empty[Long]
    val pq = mutable.PriorityQueue.empty[(Long, Long)](Ordering.by[(Long, Long), Long](-_._1))
    dist(source) = 0L
    pq.enqueue((0L, source))
    while (pq.nonEmpty) {
      val (du, u) = pq.dequeue()
      if (dist(u) == du) // lazy deletion: stale queue entries skipped
        adj.get(u).foreach(_.foreach { case (v, w) =>
          val nd = du + w
          if (dist.get(v).forall(nd < _)) { dist(v) = nd; pq.enqueue((nd, v)) }
        })
    }
    localDF(spark, distSchema, dist.toSeq.map { case (n, dd) => Row(n, dd) })
  }

  /** Local twin of [[GraphXBridge.pageRank]] for SNAPPED runs (snap > 0):
    * same uniform 1/n init, fixed iterations, no dangling redistribution,
    * and the same per-iteration HALF_UP rounding. Only the snapped
    * variant is eligible locally: snapping well above double-ulp
    * granularity is exactly what makes the per-iteration ranks
    * independent of the contribution sum's reduction order (the property
    * the DuckDB oracle already relies on), so a driver-order sum is as
    * valid as GraphX's partition-order sum. A raw-double run (snap = 0)
    * has engine-specific last-ulp behavior and stays on GraphX.
    * Schema: (node: long, rank: double). */
  def pageRankSnapped(nodes: DataFrame, edges: DataFrame, iters: Int,
                      d: Double, snap: Int): DataFrame = {
    require(snap > 0, "local pageRank requires a snapped run")
    val spark = edges.sparkSession
    def snapped(r: Double): Double =
      BigDecimal(r).setScale(snap, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (src, dst) = collectEdges(edges)
    val nodeIds = collectLongs(nodes)
    // GraphX's Graph(vertices, edges) vertex universe is nodes ∪ endpoints,
    // but n (the teleport denominator) is the NODES count — preserved here
    val n = nodeIds.length.toDouble
    val ids = (nodeIds ++ src ++ dst).distinct
    val idx = ids.zipWithIndex.toMap
    val outdeg = new Array[Int](ids.length)
    src.foreach(s => outdeg(idx(s)) += 1)
    var rank = Array.fill(ids.length)(snapped(1.0 / n))
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](ids.length)
      var i = 0
      while (i < src.length) {
        val si = idx(src(i))
        contrib(idx(dst(i))) += rank(si) / outdeg(si)
        i += 1
      }
      rank = Array.tabulate(ids.length)(j => snapped((1 - d) / n + d * contrib(j)))
    }
    localDF(spark, schema2("node", LongType, "rank", DoubleType),
      ids.indices.map(j => Row(ids(j), rank(j))))
  }

  /** Local twin of [[Algorithms.personalizedPageRank]]: same
    * nodes-universe semantics as the distributed DataFrame loop (ranks
    * live on `nodes`; contributions from edges whose src carries no rank
    * are dropped, dsts outside `nodes` are ignored), same per-iteration
    * HALF_UP snap — which is exactly what makes the contribution sum
    * reduction-order-independent and the twin sound (same argument as
    * [[pageRankSnapped]]). Schema: (node: long, rank: double). */
  def personalizedPageRankSnapped(nodes: DataFrame, edges: DataFrame,
                                  source: Long, iters: Int, d: Double,
                                  snap: Int): DataFrame = {
    require(snap > 0, "local personalized PageRank requires a snapped run")
    val spark = edges.sparkSession
    def snapped(r: Double): Double =
      BigDecimal(r).setScale(snap, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (src, dst) = collectEdges(edges)
    val ids = collectLongs(nodes)
    val idx = ids.zipWithIndex.toMap
    val outdeg = new Array[Int](ids.length)
    src.foreach(s => idx.get(s).foreach(outdeg(_) += 1))
    var rank = Array.tabulate(ids.length)(j => if (ids(j) == source) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](ids.length)
      var i = 0
      while (i < src.length) {
        (idx.get(src(i)), idx.get(dst(i))) match {
          case (Some(si), Some(di)) => contrib(di) += rank(si) / outdeg(si)
          case _ => ()
        }
        i += 1
      }
      rank = Array.tabulate(ids.length)(j =>
        snapped((1.0 - d) * (if (ids(j) == source) 1.0 else 0.0) + d * contrib(j)))
    }
    localDF(spark, schema2("node", LongType, "rank", DoubleType),
      ids.indices.map(j => Row(ids(j), rank(j))))
  }

  /** Local twin of [[Algorithms.hits]] — the SAME exact-integer protocol
    * (BIGINT contribution sums, truncating `(s·fp) / max` renorm per
    * half-step), so unlike the snapped-double PageRank twins there is no
    * reduction-order subtlety to manage: any evaluation order produces
    * identical bits, and twin ≡ distributed ≡ oracle holds by
    * construction. Schema: (node, hub_fp, auth_fp), all nodes, zeros for
    * sink/source-only roles. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int,
           fp: Long): DataFrame = {
    val spark = edges.sparkSession
    val (src, dst) = collectEdges(edges)
    val ids = collectLongs(nodes)
    val idx = ids.zipWithIndex.toMap
    val srcI = src.map(idx.getOrElse(_, -1))
    val dstI = dst.map(idx.getOrElse(_, -1))
    var hub = Array.fill(ids.length)(fp)
    var auth = new Array[Long](ids.length)
    for (_ <- 1 to iters) {
      val a = new Array[Long](ids.length)
      var i = 0
      while (i < srcI.length) {
        if (srcI(i) >= 0 && dstI(i) >= 0) a(dstI(i)) += hub(srcI(i))
        i += 1
      }
      // amax == 0 (no edges, or every edge names an unknown node) means
      // every contribution is 0: skip the renorm and publish zeros,
      // matching the distributed loop where the empty score frame rides
      // the remaining inner joins as an all-zero result
      val amax = if (a.isEmpty) 0L else a.max
      var j = 0
      if (amax > 0L)
        while (j < a.length) { a(j) = a(j) * fp / amax; j += 1 }
      val h = new Array[Long](ids.length)
      i = 0
      while (i < srcI.length) {
        if (srcI(i) >= 0 && dstI(i) >= 0) h(srcI(i)) += a(dstI(i))
        i += 1
      }
      val hmax = if (h.isEmpty) 0L else h.max
      j = 0
      if (hmax > 0L)
        while (j < h.length) { h(j) = h(j) * fp / hmax; j += 1 }
      hub = h
      auth = a
    }
    localDF(spark, StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField("hub_fp", LongType, nullable = false),
        StructField("auth_fp", LongType, nullable = false))),
      ids.indices.map(j => Row(ids(j), hub(j), auth(j))))
  }

  /** Local twin of [[Algorithms.coreness]] — EXACT core numbers by the
    * classic min-degree peel (Matula–Beck bucket scan, O(m)) over the
    * collected undirected adjacency. The distributed formulation
    * iterates the h-index operator to the same fixpoint — two genuinely
    * DIFFERENT algorithms for the same function, which is what makes
    * the oracle gate strong: the DuckDB side unrolls the h-index
    * iteration, this side peels, and they agree exactly iff the
    * iteration converged within the cap on the gated instance
    * (Wiki-Vote: 27 rounds < the 30-round cap). Self-loops excluded;
    * nodes with no (known-endpoint) edges report core 0. */
  def coreness(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val (srcA, dstA) = collectEdges(edges)
    val ids = collectLongs(nodes)
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val nbrs = Array.fill(n)(mutable.HashSet.empty[Int])
    var i = 0
    while (i < srcA.length) {
      val s = idx.getOrElse(srcA(i), -1)
      val d = idx.getOrElse(dstA(i), -1)
      if (s >= 0 && d >= 0 && s != d) { nbrs(s) += d; nbrs(d) += s }
      i += 1
    }
    val cur = nbrs.map(_.size)
    val maxd = if (n == 0) 0 else cur.max
    // bucket scan with lazy (stale-skipped) entries: b never decreases,
    // because a neighbor decrement only lands a node in bucket ≥ b
    val buckets = Array.fill(maxd + 1)(mutable.ArrayBuffer.empty[Int])
    var v = 0
    while (v < n) { buckets(cur(v)) += v; v += 1 }
    val removed = new Array[Boolean](n)
    val core = new Array[Int](n)
    var b = 0
    while (b <= maxd) {
      val bk = buckets(b)
      if (bk.isEmpty) b += 1
      else {
        val u = bk.remove(bk.length - 1)
        if (!removed(u) && cur(u) == b) {
          removed(u) = true
          core(u) = b
          nbrs(u).foreach { w =>
            if (!removed(w) && cur(w) > b) {
              cur(w) -= 1
              buckets(cur(w)) += w
            }
          }
        }
      }
    }
    localDF(spark, schema2("id", LongType, "coreness", LongType),
      ids.indices.map(j => Row(ids(j), core(j).toLong)))
  }

  /** The one per-source BFS kernel behind [[closeness]],
    * [[eccentricity]] and [[harmonic]]: a BFS from every node over the
    * indexed adjacency, bounded at `maxRounds` levels (distances beyond it
    * are not counted, matching the distributed round cap). Each reached
    * node's distance is folded into its source's accumulators
    * (`fold(acc, d)`, `acc` zeroed per source). Distances are exact ints
    * in both formulations, so twin ≡ distributed ≡ oracle needs no
    * tolerance. Schema: (node: long, cols: long...). */
  private def perSourceBfs(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                           cols: String*)(fold: (Array[Long], Int) => Unit): DataFrame = {
    val (ids, adj) = indexedAdjacency(nodes, edges)
    val dist = new Array[Int](ids.length)
    val queue = new Array[Int](ids.length)
    val rows = ids.indices.map { s =>
      val acc = new Array[Long](cols.length)
      java.util.Arrays.fill(dist, -1)
      dist(s) = 0
      queue(0) = s
      var head = 0
      var tail = 1
      while (head < tail) {
        val u = queue(head); head += 1
        if (dist(u) < maxRounds) {
          val ns = adj(u)
          var j = 0
          while (j < ns.length) {
            val w = ns(j)
            if (dist(w) < 0) {
              dist(w) = dist(u) + 1
              fold(acc, dist(w))
              queue(tail) = w; tail += 1
            }
            j += 1
          }
        }
      }
      Row.fromSeq(ids(s) +: acc.toSeq)
    }
    localDF(edges.sparkSession, StructType(("node" +: cols).map(c =>
      StructField(c, LongType, nullable = false))), rows)
  }

  /** Local twin of [[Algorithms.closeness]]: per source the integer pair
    * (reach, dist_sum). */
  def closeness(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame =
    perSourceBfs(nodes, edges, maxRounds, "reach", "dist_sum") { (acc, d) =>
      acc(0) += 1L; acc(1) += d
    }

  /** Local twin of [[Algorithms.eccentricity]]: per source (max distance,
    * reach). */
  def eccentricity(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame =
    perSourceBfs(nodes, edges, maxRounds, "ecc", "reach") { (acc, d) =>
      if (d > acc(0)) acc(0) = d
      acc(1) += 1L
    }

  /** Local twin of [[Algorithms.harmonic]]: per source Σ `HarmonicFp DIV d`
    * over reached nodes — the distributed operator's exact fixed-point
    * convention. */
  def harmonic(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame =
    perSourceBfs(nodes, edges, maxRounds, "harmonic_fp") { (acc, d) =>
      acc(0) += Algorithms.HarmonicFp / d
    }

  /** Local twin of [[Algorithms.stress]]: textbook single-source Brandes
    * per source over adjacency arrays — forward BFS with integer path
    * counts σ, backward continuation counts ψ in reverse BFS order,
    * stress(v) += σ(v)·(ψ(v) − 1) for v ≠ s. Multi-edges are deduped to
    * match the distributed operator's DISTINCT contract; `maxRounds`
    * bounds the BFS horizon with the same k-bounded semantics. Every
    * accumulation runs through `Math.addExact`/`multiplyExact` — the
    * EXACT form of the distributed loop's conservative per-level budget
    * guard: on dense graphs σ outgrows BIGINT within ~10 hops, and the
    * contract is a loud [[ArithmeticException]], never a silently
    * wrapped count. Schema: (node: long, stress: long). */
  /** Exact overflow-loud arithmetic for the Brandes twins — same
    * [[ArithmeticException]] contract as the distributed loops' budget
    * guards, with the intrinsic-backed exact ops (zero cost until the
    * overflow actually happens). */
  private def overflowLoud(e: ArithmeticException): Nothing =
    throw new ArithmeticException(
      "stress: shortest-path counts overflow BIGINT on this graph " +
        "(σ grows ~multiplicatively per hop on dense graphs); sample " +
        "sources, bound the horizon, or use an approximate centrality" +
        s" [${e.getMessage}]")
  private def addGuarded(a: Long, b: Long): Long =
    try Math.addExact(a, b) catch { case e: ArithmeticException => overflowLoud(e) }
  private def mulGuarded(a: Long, b: Long): Long =
    try Math.multiplyExact(a, b) catch { case e: ArithmeticException => overflowLoud(e) }

  def stress(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val (ids, adj) = indexedAdjacency(nodes, edges)
    val n = ids.length
    val stressAcc = new Array[Long](n)
    val dist = new Array[Int](n)
    val sigma = new Array[Long](n)
    val psi = new Array[Long](n)
    val queue = new Array[Int](n)
    var s = 0
    while (s < n) {
      java.util.Arrays.fill(dist, -1)
      dist(s) = 0
      sigma(s) = 1L
      queue(0) = s
      var head = 0
      var tail = 1
      while (head < tail) {
        val u = queue(head); head += 1
        if (dist(u) < maxRounds) {
          val ns = adj(u)
          var j = 0
          while (j < ns.length) {
            val w = ns(j)
            if (dist(w) < 0) {
              dist(w) = dist(u) + 1
              sigma(w) = 0L
              queue(tail) = w; tail += 1
            }
            if (dist(w) == dist(u) + 1) sigma(w) = addGuarded(sigma(w), sigma(u))
            j += 1
          }
        }
      }
      // queue order is nondecreasing distance, so reverse order is a
      // reverse-topological walk of the BFS DAG: ψ of every successor is
      // final before it is read (only reached nodes appear as successors)
      var k = tail - 1
      while (k >= 0) {
        val v = queue(k)
        var p = 1L
        val ns = adj(v)
        var j = 0
        while (j < ns.length) {
          val w = ns(j)
          if (dist(w) == dist(v) + 1) p = addGuarded(p, psi(w))
          j += 1
        }
        psi(v) = p
        if (v != s)
          stressAcc(v) = addGuarded(stressAcc(v), mulGuarded(sigma(v), p - 1L))
        k -= 1
      }
      s += 1
    }
    val rows = ids.indices.map(v => Row(ids(v), stressAcc(v)))
    localDF(spark, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("stress", LongType, nullable = false))), rows)
  }

  /** Local twin of [[Algorithms.betweenness]]: textbook single-source
    * Brandes per source, with the δ recursion carried in the SAME
    * BIGINT fixed-point convention as the distributed operator — per
    * DAG-edge term `σ(v)·(fp + δ_fp(w)) / σ(w)` with truncating
    * division, so twin ≡ distributed is exact EQUALITY on every graph
    * (the convention, not just the limit, is pinned). Accumulations run
    * through the exact-overflow helpers (loud [[ArithmeticException]],
    * never a wrap). Schema: (node: long, bc_fp: long). */
  def betweenness(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                  fp: Long): DataFrame = {
    val spark = edges.sparkSession
    val (ids, adj) = indexedAdjacency(nodes, edges)
    val n = ids.length
    val bcAcc = new Array[Long](n)
    val dist = new Array[Int](n)
    val sigma = new Array[Long](n)
    val delta = new Array[Long](n)
    val queue = new Array[Int](n)
    var s = 0
    while (s < n) {
      java.util.Arrays.fill(dist, -1)
      java.util.Arrays.fill(delta, 0L)
      dist(s) = 0
      sigma(s) = 1L
      queue(0) = s
      var head = 0
      var tail = 1
      while (head < tail) {
        val u = queue(head); head += 1
        if (dist(u) < maxRounds) {
          val ns = adj(u)
          var j = 0
          while (j < ns.length) {
            val w = ns(j)
            if (dist(w) < 0) {
              dist(w) = dist(u) + 1
              sigma(w) = 0L
              queue(tail) = w; tail += 1
            }
            if (dist(w) == dist(u) + 1) sigma(w) = addGuarded(sigma(w), sigma(u))
            j += 1
          }
        }
      }
      // reverse BFS order = reverse-topological on the BFS DAG: δ of
      // every successor is final before it is read
      var k = tail - 1
      while (k >= 0) {
        val v = queue(k)
        var dsum = 0L
        val ns = adj(v)
        var j = 0
        while (j < ns.length) {
          val w = ns(j)
          if (dist(w) == dist(v) + 1)
            dsum = addGuarded(dsum,
              mulGuarded(sigma(v), addGuarded(fp, delta(w))) / sigma(w))
          j += 1
        }
        delta(v) = dsum
        if (v != s) bcAcc(v) = addGuarded(bcAcc(v), dsum)
        k -= 1
      }
      s += 1
    }
    val rows = ids.indices.map(v => Row(ids(v), bcAcc(v)))
    localDF(spark, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("bc_fp", LongType, nullable = false))), rows)
  }

  /** Local twin of [[GraphXBridge.connectedComponents]] (undirected
    * min-id labels, GraphX CC's fixpoint): union-find with path
    * compression, roots kept at the component's min id. Universe = nodes ∪ edge endpoints; isolated
    * nodes label themselves. Collects through [[collectBounded]], so a
    * graph over `maxRows` nodes or edges returns `None` and the caller
    * runs its distributed loop. Schema: (node: long, comp: long). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    for {
      eRows <- collectBounded(preparedEdges(edges), maxRows)
      nRows <- collectBounded(preparedIds(nodes), maxRows)
    } yield {
      val parent = mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent(x) != x) x = parent(x)
        // path compression: second walk pointing everything at the root
        var y = x0
        while (parent(y) != y) { val n = parent(y); parent(y) = x; y = n }
        x
      }
      def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x
      nRows.foreach(r => add(r.getLong(0)))
      eRows.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        add(s); add(d)
        val (rs, rd) = (find(s), find(d))
        // min-id root: attach the larger root under the smaller, so the
        // final root of every set IS the component's min id
        if (rs < rd) parent(rd) = rs
        else if (rd < rs) parent(rs) = rd
      }
      localDF(spark, schema2("node", LongType, "comp", LongType),
        parent.keys.toSeq.map(id => Row(id, find(id))))
    }
  }

  /** Local twin of [[Algorithms.scc]], the DIRECTED strongly connected
    * components: iterative Tarjan (explicit frame stack — no JVM
    * recursion limit on long path graphs), each SCC labeled with its
    * MINIMUM member id — the same canonical labeling the distributed
    * coloring loop converges to, so the two are directly
    * parity-comparable. Universe =
    * `nodes`; edges naming ids absent from the node list are DROPPED —
    * a ghost endpoint must neither appear in the output nor (as a
    * smaller id closing a cycle) label a real node's SCC, the same
    * node-frame-defines-the-graph contract hits hardened to (r15
    * ADVICE). Isolated nodes are singleton SCCs. Schema: (node: long,
    * comp: long). */
  def stronglyConnectedComponents(nodes: DataFrame, edges: DataFrame,
                                  maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    for {
      eRows <- collectBounded(preparedEdges(edges), maxRows)
      nRows <- collectBounded(preparedIds(nodes), maxRows)
    } yield {
      val known = mutable.HashSet.empty[Long]
      nRows.foreach(r => known += r.getLong(0))
      val kept = eRows.filter(r => known(r.getLong(0)) && known(r.getLong(1)))
      val src = new Array[Long](kept.length)
      val dst = new Array[Long](kept.length)
      var i = 0
      while (i < kept.length) {
        src(i) = kept(i).getLong(0); dst(i) = kept(i).getLong(1); i += 1
      }
      val adj = adjacency(src, dst)
      val universe = mutable.LinkedHashSet.empty[Long]
      nRows.foreach(r => universe += r.getLong(0))

      val index = mutable.LongMap.empty[Long]   // discovery order
      val lowlink = mutable.LongMap.empty[Long]
      val onStack = mutable.HashSet.empty[Long]
      val tarjanStack = mutable.ArrayBuffer.empty[Long]
      val comp = mutable.LongMap.empty[Long]
      var counter = 0L
      val empty = mutable.ArrayBuffer.empty[Long]

      // explicit recursion: each frame is (vertex, next child offset)
      val frameV = mutable.ArrayBuffer.empty[Long]
      val frameI = mutable.ArrayBuffer.empty[Int]
      def push(v: Long): Unit = {
        index(v) = counter; lowlink(v) = counter; counter += 1
        tarjanStack += v; onStack += v
        frameV += v; frameI += 0
      }
      universe.foreach { root =>
        if (!index.contains(root)) {
          push(root)
          while (frameV.nonEmpty) {
            val v = frameV.last
            val kids = adj.getOrElse(v, empty)
            var iChild = frameI.last
            var descended = false
            while (iChild < kids.length && !descended) {
              val w = kids(iChild)
              iChild += 1
              if (!index.contains(w)) {
                frameI(frameI.length - 1) = iChild
                push(w)            // descend; lowlink(w) folded on return
                descended = true
              } else if (onStack(w)) {
                lowlink(v) = math.min(lowlink(v), index(w))
              }
            }
            if (!descended) {
              // v is finished: pop its frame, emit its SCC if it roots one
              frameV.remove(frameV.length - 1)
              frameI.remove(frameI.length - 1)
              if (lowlink(v) == index(v)) {
                // collect the SCC, label with its min id
                val members = mutable.ArrayBuffer.empty[Long]
                var done = false
                while (!done) {
                  val w = tarjanStack.remove(tarjanStack.length - 1)
                  onStack -= w
                  members += w
                  done = w == v
                }
                val label = members.min
                members.foreach(m => comp(m) = label)
              }
              if (frameV.nonEmpty) {
                val p = frameV.last
                lowlink(p) = math.min(lowlink(p), lowlink(v))
              }
            }
          }
        }
      }
      localDF(spark, schema2("node", LongType, "comp", LongType),
        universe.toSeq.map(id => Row(id, comp(id))))
    }
  }

  /** Local twin of [[Algorithms.kCore]]: the same synchronous peel over
    * the distinct undirected edge set — each round drops EVERY node whose
    * live degree is below k at the round boundary (not incrementally), up
    * to `rounds` rounds or the fixpoint, and survivors report their final
    * live degree. Mid-peel states at the round cap match the distributed
    * loop exactly. Schema: (id: long, deg: long). */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    collectBounded(preparedEdges(edges), maxRows).map { rows =>
      // distinct undirected edge set (self-loops collapse to one edge,
      // counting 1 toward their node's degree — same as und.distinct)
      val und = mutable.HashSet.empty[(Long, Long)]
      rows.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        und += ((s, d)); und += ((d, s))
      }
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      und.foreach { case (s, d) =>
        adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d
      }
      val dropped = mutable.LongMap.empty[Unit]
      def liveDeg(u: Long): Int =
        if (dropped.contains(u)) 0
        else adj.get(u).fold(0)(_.count(v => !dropped.contains(v)))
      var r = 0
      var converged = false
      while (r < rounds && !converged) {
        val drop = adj.keys.filter(u => !dropped.contains(u) && {
          val d = liveDeg(u); d >= 1 && d < k
        }).toArray
        if (drop.isEmpty) converged = true
        else drop.foreach(u => dropped(u) = ())
        r += 1
      }
      localDF(spark, schema2("id", LongType, "deg", LongType),
        adj.keys.toSeq.collect {
          case u if liveDeg(u) >= 1 => Row(u, liveDeg(u).toLong)
        })
    }
  }

  /** Local twin of [[Algorithms.kTruss]] — identical synchronous-peel
    * semantics: per round, per-edge triangle support among the SURVIVING
    * canonical edges, drop support < k−2, until a round drops nothing
    * (fixpoint) or `rounds` is exhausted; after a cap exit the supports
    * are recomputed over the final live set (the fixpoint round's
    * supports already ARE that recompute). Schema: (a, b, support), all
    * long — byte-identical to the distributed peel (GraphSpec pins it).
    *
    * Support per round rides the same degree orientation as the
    * distributed [[Algorithms.edgeSupports]]: orient each live edge from
    * its (deg, id)-smaller endpoint, sort the out-lists, two-pointer
    * intersect per edge — O(m_live^1.5) per round in-process, vs ~9
    * scheduled shuffle stages per round distributed. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
             maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    collectBounded(preparedEdges(edges), maxRows).map { rows =>
      val t = (k - 2).toLong
      // canonical live set: (min, max), loops out, deduped
      var live = {
        val s = mutable.HashSet.empty[(Long, Long)]
        rows.foreach { r =>
          val (x, y) = (r.getLong(0), r.getLong(1))
          if (x != y) s += ((math.min(x, y), math.max(x, y)))
        }
        s.toArray
      }
      // r22 round constant: per-round supports run on a DENSE-INT CSR
      // built from a first-seen id remap — no boxed tuples, no
      // per-vertex ArrayBuffers, no boxed fallback (dense ids always
      // fit 31 bits whatever the original id width, so the packed
      // LongMap credit path is unconditional). Orientation stays
      // (deg, id)-smaller-first; the tie id is the DENSE id, which is a
      // different strict total order than the raw-id tie the previous
      // code used — irrelevant to the published values, because ANY
      // strict total order makes the orientation acyclic and counts
      // each triangle exactly once (GraphSpec pins local ≡ distributed
      // exactly). Measured NEUTRAL on the Wiki-Vote gate instance
      // (direct 6-iteration A/B, old ~0.84-1.2 s warm vs new
      // ~0.96-1.3 s — the twin's wall is the bounded collect + localDF
      // materialization, not this fold); kept because it deletes the
      // boxed-tuple fallback path outright and makes every round
      // allocation-flat, which is what matters on bounded graphs
      // closer to the maxRows guard.
      def supports(es: Array[(Long, Long)]): (Long, Long) => Long = {
        val m = es.length
        val idOf = mutable.LongMap.empty[Int]
        var n = 0
        val ea = new Array[Int](m)
        val eb = new Array[Int](m)
        var i = 0
        while (i < m) {
          val (a, b) = es(i)
          ea(i) = idOf.getOrElseUpdate(a, { val v = n; n += 1; v })
          eb(i) = idOf.getOrElseUpdate(b, { val v = n; n += 1; v })
          i += 1
        }
        val deg = new Array[Int](n)
        i = 0
        while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
        // oriented out-degrees -> CSR offsets -> fill -> sort each range
        val outDeg = new Array[Int](n)
        i = 0
        while (i < m) {
          val (u, v) = (ea(i), eb(i))
          val uFirst = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
          outDeg(if (uFirst) u else v) += 1
          i += 1
        }
        val off = new Array[Int](n + 1)
        i = 0
        while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
        val adj = new Array[Int](m)
        val fill = java.util.Arrays.copyOf(off, n)
        i = 0
        while (i < m) {
          val (u, v) = (ea(i), eb(i))
          val uFirst = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
          val s = if (uFirst) u else v
          adj(fill(s)) = if (uFirst) v else u
          fill(s) += 1
          i += 1
        }
        i = 0
        while (i < n) { java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1 }
        val sup = mutable.LongMap.empty[Long]
        def credit(x: Int, y: Int): Unit = {
          val key =
            if (x < y) (x.toLong << 31) | y.toLong else (y.toLong << 31) | x.toLong
          sup(key) = sup.getOrElse(key, 0L) + 1L
        }
        var u = 0
        while (u < n) {
          var p = off(u)
          val pEnd = off(u + 1)
          while (p < pEnd) {
            val v = adj(p)
            var iu = off(u); var iv = off(v)
            val euEnd = off(u + 1); val evEnd = off(v + 1)
            while (iu < euEnd && iv < evEnd) {
              val wu = adj(iu); val wv = adj(iv)
              if (wu < wv) iu += 1
              else if (wu > wv) iv += 1
              else { credit(u, v); credit(u, wu); credit(v, wu); iu += 1; iv += 1 }
            }
            p += 1
          }
          u += 1
        }
        (a, b) => {
          val x = idOf(a); val y = idOf(b)
          val key =
            if (x < y) (x.toLong << 31) | y.toLong else (y.toLong << 31) | x.toLong
          sup.getOrElse(key, 0L)
        }
      }
      var finalSup: Option[(Long, Long) => Long] = None
      var r = 0
      while (r < rounds && finalSup.isEmpty && live.nonEmpty) {
        r += 1
        val sup = supports(live)
        val next = live.filter { case (a, b) => sup(a, b) >= t }
        if (next.length == live.length) finalSup = Some(sup)
        else live = next
      }
      val sup = finalSup.getOrElse(supports(live))
      localDF(spark, StructType(Seq(
          StructField("a", LongType, nullable = false),
          StructField("b", LongType, nullable = false),
          StructField("support", LongType, nullable = false))),
        live.toSeq.map { case (a, b) => Row(a, b, sup(a, b)) })
    }
  }

  /** Shared in-process triangle substrate: canonical dedup, degree
    * orientation ((deg, id)-smaller endpoint first — the same O(√m)
    * out-degree bound as the distributed edge-iterator), sorted
    * out-lists, two-pointer intersection per oriented edge crediting
    * all three corners. Returns (per-node triangle counts, per-node
    * undirected canonical degree). */
  private def triangleCredits(rows: Array[Row])
      : (mutable.LongMap[Long], mutable.LongMap[Long]) = {
    val canon = {
      val s = mutable.HashSet.empty[(Long, Long)]
      rows.foreach { r =>
        val (x, y) = (r.getLong(0), r.getLong(1))
        if (x != y) s += ((math.min(x, y), math.max(x, y)))
      }
      s.toArray
    }
    val deg = mutable.LongMap.empty[Long]
    canon.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1L; deg(b) = deg.getOrElse(b, 0L) + 1L
    }
    def aFirst(a: Long, b: Long): Boolean = {
      val (da, db) = (deg(a), deg(b)); da < db || (da == db && a < b)
    }
    val out = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    canon.foreach { case (a, b) =>
      val (s, d) = if (aFirst(a, b)) (a, b) else (b, a)
      out.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d
    }
    val sorted = mutable.LongMap.empty[Array[Long]]
    out.foreach { case (u, nb) => sorted(u) = nb.toArray.sorted }
    val tri = mutable.LongMap.empty[Long]
    def credit(x: Long): Unit = tri(x) = tri.getOrElse(x, 0L) + 1L
    val empty = Array.empty[Long]
    canon.foreach { case (a, b) =>
      val (u, v) = if (aFirst(a, b)) (a, b) else (b, a)
      val un = sorted.getOrElse(u, empty)
      val vn = sorted.getOrElse(v, empty)
      var i = 0; var j = 0
      while (i < un.length && j < vn.length) {
        if (un(i) < vn(j)) i += 1
        else if (un(i) > vn(j)) j += 1
        else { credit(u); credit(v); credit(un(i)); i += 1; j += 1 }
      }
    }
    (tri, deg)
  }

  /** Local twin of [[Algorithms.triangleCounts]]: per-node triangle
    * participation over the undirected closure, nodes outside the edge
    * set at 0. Schema: (id, n_tri). */
  def triangleCounts(nodes: DataFrame, edges: DataFrame,
                     maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    for {
      eRows <- collectBounded(preparedEdges(edges), maxRows)
      nRows <- collectBounded(preparedIds(nodes), maxRows)
    } yield {
      val (tri, _) = triangleCredits(eRows)
      localDF(spark, schema2("id", LongType, "n_tri", LongType),
        nRows.toSeq.map { r =>
          val id = r.getLong(0); Row(id, tri.getOrElse(id, 0L))
        })
    }
  }

  /** Local twin of [[Algorithms.clustering]]: the (n_tri, n_wedges =
    * d·(d−1)/2) pair per node from the same substrate. */
  def clustering(nodes: DataFrame, edges: DataFrame,
                 maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    for {
      eRows <- collectBounded(preparedEdges(edges), maxRows)
      nRows <- collectBounded(preparedIds(nodes), maxRows)
    } yield {
      val (tri, deg) = triangleCredits(eRows)
      localDF(spark, StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("n_tri", LongType, nullable = false),
          StructField("n_wedges", LongType, nullable = false))),
        nRows.toSeq.map { r =>
          val id = r.getLong(0)
          val d = deg.getOrElse(id, 0L)
          Row(id, tri.getOrElse(id, 0L), d * (d - 1L) / 2L)
        })
    }
  }

  /** Local twin of [[Algorithms.greedyModularity]]'s weighted core —
    * the SAME deterministic mutual-best-merge trajectory, in-process:
    * per round, pair affinities between communities (summed edge
    * weight), strength masses, integer gains 2W·w_AB − S_A·S_B
    * (BigInt — exact like the distributed DECIMAL(38,0)), best partner
    * per community (max gain, ties to the smaller id), mutual pairs
    * merge to the min label, early exit on a merge-free round. A
    * distributed round is ~8 scheduled stages; the gated sampled graphs
    * are a few thousand edges. Takes the already-canonical (a, b, w)
    * edge rows + the id universe; returns (node, community). */
  def greedyModularity(ids: Array[Long], edges: Array[(Long, Long, Long)],
                       rounds: Int,
                       onRound: (Int, Seq[(Long, Long)]) => Unit): Seq[(Long, Long)] = {
    // contract check on the Long values directly (same w ≥ 1 integer
    // contract the distributed core enforces in greedyModularityCore, so
    // an out-of-contract weight fails loud on BOTH routes)
    require(edges.forall(_._3 >= 1L),
      "greedyModularity: edge weight must be a positive integer (w >= 1)")
    val wTot = edges.iterator.map(_._3).sum
    val strength = mutable.LongMap.empty[Long]
    edges.foreach { case (a, b, w) =>
      strength(a) = strength.getOrElse(a, 0L) + w
      strength(b) = strength.getOrElse(b, 0L) + w
    }
    val comm = mutable.LongMap.empty[Long]
    ids.foreach(id => comm(id) = id)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      // pair affinity between (distinct) communities
      val pw = mutable.HashMap.empty[(Long, Long), Long]
      edges.foreach { case (a, b, w) =>
        val (ca, cb) = (comm(a), comm(b))
        if (ca != cb) {
          val key = (math.min(ca, cb), math.max(ca, cb))
          pw(key) = pw.getOrElse(key, 0L) + w
        }
      }
      // community strength masses
      val d = mutable.LongMap.empty[Long]
      ids.foreach { id =>
        strength.get(id).foreach { k =>
          val c = comm(id); d(c) = d.getOrElse(c, 0L) + k
        }
      }
      // best positive-gain partner per community (gain desc, partner asc)
      val best = mutable.LongMap.empty[(BigInt, Long)]
      def offer(c: Long, p: Long, gain: BigInt): Unit =
        if (gain > 0) best.get(c) match {
          case Some((g, bp)) if g > gain || (g == gain && bp < p) => ()
          case _ => best(c) = (gain, p)
        }
      val twoW = BigInt(2) * BigInt(wTot)
      pw.foreach { case ((x, y), w) =>
        val gain = twoW * BigInt(w) - BigInt(d(x)) * BigInt(d(y))
        offer(x, y, gain); offer(y, x, gain)
      }
      // mutual nominations merge, label = the pair's min id
      val relabel = mutable.LongMap.empty[Long]
      best.foreach { case (c, (_, p)) =>
        if (c < p && best.get(p).exists(_._2 == c)) relabel(p) = c
      }
      if (relabel.isEmpty) converged = true
      else {
        ids.foreach { id =>
          relabel.get(comm(id)).foreach(nc => comm(id) = nc)
        }
        onRound(r, ids.toSeq.map(id => (id, comm(id))))
      }
    }
    ids.toSeq.map(id => (id, comm(id)))
  }

  /** Local twin of [[Algorithms.bridges]] — EXACT bridge detection by
    * Tarjan's low-link pass (iterative DFS, explicit stack) over the
    * canonical undirected simple graph: tree edge (u, c) is a bridge iff
    * low(c) > disc(u), i.e. nothing in c's subtree reaches above c
    * except through the edge itself. A genuinely different algorithm
    * from the distributed twin's spanning-forest + XOR-cover test, so
    * their GraphSpec agreement is evidence, not tautology. Schema:
    * (a, b), canonical a < b. */
  def bridges(edges: DataFrame, maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    collectBounded(preparedEdges(edges), maxRows).map { rows =>
      val canon = {
        val s = mutable.HashSet.empty[(Long, Long)]
        rows.foreach { r =>
          val (x, y) = (r.getLong(0), r.getLong(1))
          if (x != y) s += ((math.min(x, y), math.max(x, y)))
        }
        s.toArray
      }
      // adjacency of (neighbor, edgeIndex) — the edge index lets DFS skip
      // the ONE edge it entered through (not every edge to the parent)
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Int)]]
      canon.zipWithIndex.foreach { case ((a, b), i) =>
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, i))
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, i))
      }
      val disc = mutable.LongMap.empty[Long]
      val low = mutable.LongMap.empty[Long]
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      var timer = 0L
      // iterative DFS frame: (node, enteringEdge, childCursor)
      adj.keys.toArray.sorted.foreach { root =>
        if (!disc.contains(root)) {
          val stack = mutable.ArrayBuffer.empty[(Long, Int, Int)]
          disc(root) = timer; low(root) = timer; timer += 1
          stack += ((root, -1, 0))
          while (stack.nonEmpty) {
            val (u, pe, ci) = stack.last
            val nbrs = adj(u)
            if (ci < nbrs.length) {
              stack(stack.length - 1) = (u, pe, ci + 1)
              val (v, ei) = nbrs(ci)
              if (ei != pe) {
                if (!disc.contains(v)) {
                  disc(v) = timer; low(v) = timer; timer += 1
                  stack += ((v, ei, 0))
                } else low(u) = math.min(low(u), disc(v))
              }
            } else {
              stack.remove(stack.length - 1)
              if (stack.nonEmpty) {
                val p = stack.last._1
                low(p) = math.min(low(p), low(u))
                if (low(u) > disc(p))
                  out += ((math.min(p, u), math.max(p, u)))
              }
            }
          }
        }
      }
      localDF(spark, schema2("a", LongType, "b", LongType),
        out.sortBy(identity).toSeq.map { case (a, b) => Row(a, b) })
    }
  }

  /** Local twin of [[Algorithms.articulationPoints]] — EXACT cut-vertex
    * detection by the same iterative Tarjan low-link DFS as [[bridges]]:
    * non-root u is an articulation point iff some DFS child c has
    * low(c) ≥ disc(u) (nothing in c's subtree reaches strictly above u),
    * a root iff it has ≥ 2 DFS children. A genuinely different algorithm
    * from the distributed twin's BFS-forest block labeling
    * (Tarjan–Vishkin), so their GraphSpec agreement is evidence, not
    * tautology. Schema: (id), sorted. */
  def articulationPoints(edges: DataFrame, maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    collectBounded(preparedEdges(edges), maxRows).map { rows =>
      val canon = {
        val s = mutable.HashSet.empty[(Long, Long)]
        rows.foreach { r =>
          val (x, y) = (r.getLong(0), r.getLong(1))
          if (x != y) s += ((math.min(x, y), math.max(x, y)))
        }
        s.toArray
      }
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Int)]]
      canon.zipWithIndex.foreach { case ((a, b), i) =>
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, i))
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, i))
      }
      val disc = mutable.LongMap.empty[Long]
      val low = mutable.LongMap.empty[Long]
      val art = mutable.HashSet.empty[Long]
      var timer = 0L
      adj.keys.toArray.sorted.foreach { root =>
        if (!disc.contains(root)) {
          var rootKids = 0
          val stack = mutable.ArrayBuffer.empty[(Long, Int, Int)]
          disc(root) = timer; low(root) = timer; timer += 1
          stack += ((root, -1, 0))
          while (stack.nonEmpty) {
            val (u, pe, ci) = stack.last
            val nbrs = adj(u)
            if (ci < nbrs.length) {
              stack(stack.length - 1) = (u, pe, ci + 1)
              val (v, ei) = nbrs(ci)
              if (ei != pe) {
                if (!disc.contains(v)) {
                  disc(v) = timer; low(v) = timer; timer += 1
                  stack += ((v, ei, 0))
                } else low(u) = math.min(low(u), disc(v))
              }
            } else {
              stack.remove(stack.length - 1)
              if (stack.nonEmpty) {
                val p = stack.last._1
                low(p) = math.min(low(p), low(u))
                if (p == root && stack.length == 1) rootKids += 1
                else if (low(u) >= disc(p)) art += p
              }
            }
          }
          if (rootKids >= 2) art += root
        }
      }
      localDF(spark, StructType(Seq(StructField("id", LongType, nullable = false))),
        art.toSeq.sorted.map(Row(_)))
    }
  }

  /** Local twin of [[Algorithms.biconnectedComponents]] — EXACT block
    * partition by Tarjan's edge-stack algorithm: the same iterative
    * low-link DFS as [[articulationPoints]], pushing each edge the
    * first time it is traversed (tree edges on descent; back edges from
    * the descendant side only, disc(v) < disc(u)); when a finished
    * child c of p satisfies low(c) ≥ disc(p), the edges above and
    * including tree edge (p, c) on the stack form one biconnected
    * component. Block label = the block's lexicographically minimal
    * edge (unique per block — the min member VERTEX is not, see the
    * distributed twin's doc). A genuinely different algorithm from the
    * distributed twin's BFS-forest Tarjan–Vishkin labeling, so
    * GraphSpec agreement is evidence, not tautology. Schema:
    * (a, b, block_a, block_b), canonical a < b, sorted. */
  def biconnectedComponents(edges: DataFrame, maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    collectBounded(preparedEdges(edges), maxRows).map { rows =>
      val canon = {
        val s = mutable.HashSet.empty[(Long, Long)]
        rows.foreach { r =>
          val (x, y) = (r.getLong(0), r.getLong(1))
          if (x != y) s += ((math.min(x, y), math.max(x, y)))
        }
        s.toArray
      }
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Int)]]
      canon.zipWithIndex.foreach { case ((a, b), i) =>
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, i))
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, i))
      }
      val disc = mutable.LongMap.empty[Long]
      val low = mutable.LongMap.empty[Long]
      val estack = mutable.ArrayBuffer.empty[Int]
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var timer = 0L
      adj.keys.toArray.sorted.foreach { root =>
        if (!disc.contains(root)) {
          val stack = mutable.ArrayBuffer.empty[(Long, Int, Int)]
          disc(root) = timer; low(root) = timer; timer += 1
          stack += ((root, -1, 0))
          while (stack.nonEmpty) {
            val (u, pe, ci) = stack.last
            val nbrs = adj(u)
            if (ci < nbrs.length) {
              stack(stack.length - 1) = (u, pe, ci + 1)
              val (v, ei) = nbrs(ci)
              if (ei != pe) {
                if (!disc.contains(v)) {
                  estack += ei // tree edge, pushed on descent
                  disc(v) = timer; low(v) = timer; timer += 1
                  stack += ((v, ei, 0))
                } else if (disc(v) < disc(u)) {
                  // back edge to an ancestor — push from this (deeper)
                  // side only; the disc(v) > disc(u) sighting is the
                  // same edge seen again from the ancestor and was
                  // already pushed by the descendant
                  estack += ei
                  low(u) = math.min(low(u), disc(v))
                }
              }
            } else {
              stack.remove(stack.length - 1)
              if (stack.nonEmpty) {
                val p = stack.last._1
                low(p) = math.min(low(p), low(u))
                if (low(u) >= disc(p)) {
                  // pop the block: everything above and including (p, u)
                  val blockEdges = mutable.ArrayBuffer.empty[Int]
                  var done = false
                  while (!done) {
                    val ei = estack.remove(estack.length - 1)
                    blockEdges += ei
                    if (ei == pe) done = true
                  }
                  var mna = Long.MaxValue
                  var mnb = Long.MaxValue
                  blockEdges.foreach { ei =>
                    val (a, b) = canon(ei)
                    if (a < mna || (a == mna && b < mnb)) { mna = a; mnb = b }
                  }
                  blockEdges.foreach { ei =>
                    out += ((canon(ei)._1, canon(ei)._2, mna, mnb))
                  }
                }
              }
            }
          }
        }
      }
      localDF(spark,
        StructType(Seq(StructField("a", LongType, nullable = false),
          StructField("b", LongType, nullable = false),
          StructField("block_a", LongType, nullable = false),
          StructField("block_b", LongType, nullable = false))),
        out.sortBy(identity).toSeq.map {
          case (a, b, ba, bb) => Row(a, b, ba, bb)
        })
    }
  }

  /** Local twin of [[Algorithms.labelPropagation]]: synchronous rounds,
    * every node takes the most frequent label among its (distinct
    * undirected) neighbors, ties broken by smallest label, isolated nodes
    * keep their label. Schema: (node: long, lbl: long). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, rounds: Int,
                       maxRows: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    for {
      eRows <- collectBounded(preparedEdges(edges), maxRows)
      nRows <- collectBounded(preparedIds(nodes), maxRows)
    } yield {
      val und = mutable.HashSet.empty[(Long, Long)]
      eRows.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        und += ((s, d)); und += ((d, s))
      }
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      und.foreach { case (s, d) =>
        adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d
      }
      val ids = nRows.map(_.getLong(0))
      val lbl = mutable.LongMap.empty[Long]
      ids.foreach(id => lbl(id) = id)
      // endpoints outside `nodes` carry no label, so they cast no vote —
      // the distributed freq join is INNER on the labels table and drops
      // them the same way; only nodes in `nodes` are relabeled or emitted
      for (_ <- 1 to rounds) {
        val next = mutable.LongMap.empty[Long]
        ids.foreach { u =>
          adj.get(u) match {
            case Some(nbrs) if nbrs.nonEmpty =>
              val freq = mutable.LongMap.empty[Long]
              var any = false
              nbrs.foreach { v =>
                lbl.get(v).foreach { l => freq(l) = freq.getOrElse(l, 0L) + 1L; any = true }
              }
              if (any) {
                // most frequent, then smallest label
                var bestL = Long.MaxValue; var bestC = -1L
                freq.foreach { case (l, c) =>
                  if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
                }
                next(u) = bestL
              } else next(u) = lbl(u)
            case _ => next(u) = lbl(u)
          }
        }
        next.foreach { case (u, l) => lbl(u) = l }
      }
      localDF(spark, schema2("node", LongType, "lbl", LongType),
        ids.toSeq.map(id => Row(id, lbl(id))))
    }
  }

  /** Local twin of [[GraphXBridge.shortestPathLength]]: unweighted
    * src→target shortest-path length, -1 if unreachable, 0 when
    * source == target (the distributed loop's own pre-check). */
  def shortestPathLength(edges: DataFrame, source: Long, target: Long): Long = {
    if (source == target) return 0L
    var found = -1L
    bfs(edges, source, Int.MaxValue) { (v, hop) =>
      if (v == target) found = hop
      found < 0L
    }
    found
  }
}
