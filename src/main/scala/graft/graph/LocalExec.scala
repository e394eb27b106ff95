package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Adaptive LOCAL execution for bounded graphs — the single-job fast path
  * behind the interactive traversal queries (the reference's
  * `get_nodes_hops` databases.py:38 and `ssp` databases.py:46) and the
  * graph analytics.
  *
  * Why it exists: a Pregel superstep or a BFS round is a SCHEDULED JOB, so
  * a depth-30 traversal on a 256-node grid costs ~30 job floors (~60 ms
  * each) — pure scheduling, zero compute. The reference's embedded stores
  * answer the same query in milliseconds precisely because they run it as
  * a local in-process walk over one loaded store. This object is the same
  * move inside the Spark engine: each edge relation and each node-id
  * relation is collected once (one job each) into the warm store, and
  * every twin — traversals, PageRank, components, peels, triangles, the
  * low-link family — reads the one collected graph.
  *
  * One route policy decides ([[route]], [[routeEdges]]), BEFORE any data
  * moves: the optimizer's own size estimate for the projections the twins
  * collect must fit a fixed byte budget (plan statistics only, no counting
  * job), or the caller asserts a row bound (`localBounded`) that a limit
  * probe then ENFORCES. A graph admitted by statistics is still held to
  * [[RowCap]] rows per relation. Otherwise the caller runs its
  * distributed loop unchanged: at 100 TB the edge relation blows the
  * budget by orders of magnitude and nothing is collected. The budget is
  * conservative — `spark.sql.autoBroadcastJoinThreshold`-sized, i.e.
  * "small enough that the engine would happily ship it to every executor
  * anyway". GraphSpec and RouteEquivalenceSpec pin local ≡ distributed on
  * power-law graphs and on the generated grids, with the knob forced off
  * to exercise the distributed twin.
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

  /** Row cap per relation of a graph the plan statistics admit, and the
    * bound callers assert for derived graphs of the same order. */
  val RowCap: Int = 1 << 21

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

  // --- route policy ---------------------------------------------------------

  /** How a relation may be collected: whole, then held to `bound` rows
    * (admitted by plan statistics), or through a `limit(bound + 1)` probe
    * (the caller's assertion, which the probe enforces instead of
    * trusting). */
  private final case class Admit(bound: Int, probe: Boolean)

  /** The twins' own collects: the route already admitted the graph. */
  private val Whole = Admit(Int.MaxValue, probe = false)

  private def admit(spark: SparkSession, localBounded: Int)(stats: => Boolean): Option[Admit] =
    if (!enabled(spark)) None
    else if (localBounded > 0) Some(Admit(localBounded, probe = true))
    else if (stats) Some(Admit(RowCap, probe = false))
    else None

  /** The one route policy for twins over (nodes, edges): `Some(twin)` when
    * the graph is admitted — by plan statistics, or by the caller's
    * `localBounded` (> 0), probe-enforced — and both relations fit the
    * bound, else `None` and the caller runs its distributed loop. A
    * relation already in the warm store is held to the bound all the
    * same, so a larger cached graph never overrides a caller's bound.
    * The collects land in the warm store, where the twin then finds
    * them. */
  def route[T](nodes: DataFrame, edges: DataFrame, localBounded: Int = 0)(twin: => T): Option[T] =
    admit(edges.sparkSession, localBounded)(smallEnoughGraph(nodes, edges)).flatMap { a =>
      for (_ <- graphOf(edges, a); _ <- idsOf(nodes, a)) yield twin
    }

  /** [[route]] for twins that read the edge relation alone. */
  def routeEdges[T](edges: DataFrame, localBounded: Int = 0)(twin: => T): Option[T] =
    admit(edges.sparkSession, localBounded)(smallEnoughEdges(edges))
      .flatMap(graphOf(edges, _)).map(_ => twin)

  // --- warm store -----------------------------------------------------------

  /** Per-JVM warm store for collected bounded relations — the in-process
    * analog of the warm page/property caches that make the reference's
    * embedded stores answer repeat interactive queries in milliseconds:
    * the first query against a bounded relation pays the one collect job,
    * repeat queries within the same warm window are driver-memory probes
    * and zero scheduled jobs. Keyed by the CANONICALIZED optimized logical
    * plan (the engine's own semantic-equality notion — two DataFrames
    * share an entry iff `sameResult` holds), so an entry can never alias
    * two different relations. A graph relation has ONE entry whatever the
    * twin: an edge relation's [[Graph]] (primitive pairs plus the dense
    * views built from them on first use) or a node relation's id array.
    * Dropped on every [[graft.Reset.clear]] — the session reset empties
    * the warm store exactly like the reference bench's `clear()` empties
    * its databases — so an entry only ever spans one query's
    * warmup+timed passes over the round driver's immutable testdata, and
    * a scratch regeneration can never be served stale. Only what passed
    * the route policy (or a [[collectBounded]] probe) is ever stored, so
    * at 100 TB nothing is admitted and every query runs its distributed
    * formulation. */
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
  private val TagEdges = -1L
  private val TagIds = -2L
  private val TagRows = -3L
  private val TagWeighted = -4L
  private val TagScan = -5L

  /** The one collect of an optimized plan: a warm entry if there is one,
    * else `fetch` (one job), stored only when it fits the bound. Over-bound
    * outcomes are NOT stored — the relation cannot shrink mid-window, so a
    * miss stays a miss. */
  private def stored[R, T <: AnyRef](plan: LogicalPlan, tag: Long, a: Admit)(fetch: => Array[R])
                                    (build: Array[R] => T)(size: T => Int): Option[T] = {
    val key = (plan.canonicalized, tag)
    val v = warm.get(key) match {
      case null =>
        val rows = fetch
        if (rows.length > a.bound) return None
        val t = build(rows)
        Option(warm.putIfAbsent(key, t)).getOrElse(t).asInstanceOf[T]
      case hit => hit.asInstanceOf[T]
    }
    if (size(v) > a.bound) None else Some(v)
  }

  /** [[stored]] for a relation's prepared projection: whole, or through a
    * limit probe. */
  private def collected[T <: AnyRef](prepared: DataFrame, tag: Long, a: Admit)
                                   (build: Array[Row] => T)(size: T => Int): Option[T] =
    stored(prepared.queryExecution.optimizedPlan, tag, a)(
      if (a.probe) prepared.limit(a.bound + 1).collect() else prepared.collect())(build)(size)

  /** Admission by plan statistics alone: the budget, then [[RowCap]]. */
  private def admitByStats(spark: SparkSession, plan: LogicalPlan): Option[Admit] =
    admit(spark, 0)(plan.stats.sizeInBytes <= BigInt(budget(spark)))

  /** The edge relation's one collected [[Graph]]. Null endpoints are
    * dropped BEFORE collecting — an equi-join never matches a null key,
    * so the distributed formulations all ignore such edges, and
    * `Row.getLong` on a null would otherwise read them as node 0. */
  private def graphOf(edges: DataFrame, a: Admit): Option[Graph] =
    collected(preparedEdges(edges), TagEdges, a) { rows =>
      val s = new Array[Long](rows.length)
      val d = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) { s(i) = rows(i).getLong(0); d(i) = rows(i).getLong(1); i += 1 }
      new Graph(s, d)
    }(_.size)

  /** The node relation's one collected id array (collect order, repeats
    * kept). */
  private def idsOf(nodes: DataFrame, a: Admit): Option[Array[Long]] =
    collected(preparedIds(nodes), TagIds, a)(_.map(_.getLong(0)))(_.length)

  private def graph(edges: DataFrame): Graph = graphOf(edges, Whole).get
  private def ids(nodes: DataFrame): Array[Long] = idsOf(nodes, Whole).get

  /** A node relation's ids through a `limit(bound + 1)` probe: `None` when
    * it holds more than `bound` rows. */
  private[graph] def boundedIds(nodes: DataFrame, bound: Int): Option[Array[Long]] =
    idsOf(nodes, Admit(bound, probe = true))

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

  /** Budget-guarded warm relation for point-lookup-style operators: when
    * the optimizer's size estimate for `df` fits the LocalExec budget,
    * collect it once per warm window and serve repeat lookups from the
    * driver copy (the "property index held in store memory" analog);
    * `None` when over budget, over [[RowCap]] rows (the estimate of a
    * well-compressed file can be far below its decoded size) or local
    * execution is disabled — the caller runs its pruned-scan /
    * distributed formulation unchanged. */
  def warmRows(df: DataFrame): Option[Array[Row]] =
    admitByStats(df.sparkSession, df.queryExecution.optimizedPlan)
      .flatMap(collected(df, TagRows, _)(identity)(_.length))

  /** The driver copy behind a warm point read
    * ([[org.apache.spark.sql.graft.WarmScan]]): the rows of `plan`, an
    * optimized plan under a loaded relation's marker, collected by one job
    * on first touch and held to the same admission as [[warmRows]]. */
  def warmScan(spark: SparkSession, plan: LogicalPlan): Option[Array[InternalRow]] =
    admitByStats(spark, plan).flatMap(stored(plan, TagScan, _)(
      org.apache.spark.sql.graft.WarmScan.execute(spark, plan))(identity)(_.length))

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

  private def longSchema(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** Collect `df` only if it has at most `maxRows` rows: one job running
    * `limit(maxRows + 1)` — the limit short-circuits the scan, so on an
    * over-bound relation this is a bounded probe, not a materialization.
    * `None` = bound exceeded, caller falls back to the distributed path.
    * For DERIVED relations that are not a plain (src, dst) or (id)
    * projection (the weighted modularity edges): the non-CBO size
    * estimate of a join is the child product — useless — so a caller who
    * can assert a bound from the operator's own semantics opts in and
    * the probe ENFORCES the assertion instead of trusting it. */
  def collectBounded(df: DataFrame, maxRows: Int): Option[Array[Row]] =
    collected(df, maxRows.toLong, Admit(maxRows, probe = true))(identity)(_.length)

  // --- the collected graph --------------------------------------------------

  /** Adjacency on dense indices: node u's neighbours are
    * `adj(off(u) until off(u + 1))` ([[csr]] keeps each range sorted). */
  private final class Csr(val off: Array[Int], val adj: Array[Int]) {
    def deg(u: Int): Int = off(u + 1) - off(u)
  }

  /** The arcs `from(i) → to(i)` on nodes `0 until n` as a [[Csr]] of
    * DISTINCT neighbours, self-loops dropped. */
  private def csr(n: Int, from: Array[Int], to: Array[Int]): Csr = {
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < from.length) { if (from(i) != to(i)) off(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < from.length) {
      if (from(i) != to(i)) { adj(fill(from(i))) = to(i); fill(from(i)) += 1 }
      i += 1
    }
    // sort each range and compact out its repeats (writes never pass reads)
    val dOff = new Array[Int](n + 1)
    var w = 0
    var u = 0
    while (u < n) {
      java.util.Arrays.sort(adj, off(u), off(u + 1))
      dOff(u) = w
      var p = off(u)
      while (p < off(u + 1)) {
        if (p == off(u) || adj(p) != adj(p - 1)) { adj(w) = adj(p); w += 1 }
        p += 1
      }
      u += 1
    }
    dOff(n) = w
    new Csr(dOff, java.util.Arrays.copyOf(adj, w))
  }

  /** One collected edge relation — the warm-store entry every twin reads.
    * `src`/`dst` are the pairs in collect order; the dense views are
    * built from them once, on first use. */
  private final class Graph(val src: Array[Long], val dst: Array[Long]) {
    def size: Int = src.length

    /** Sorted distinct endpoints: dense index i names `ids(i)`, so index
      * order is id order. */
    lazy val ids: Array[Long] = {
      val a = java.util.Arrays.copyOf(src, 2 * size)
      System.arraycopy(dst, 0, a, size, size)
      java.util.Arrays.sort(a)
      var w = 0
      var i = 0
      while (i < a.length) { if (i == 0 || a(i) != a(i - 1)) { a(w) = a(i); w += 1 }; i += 1 }
      java.util.Arrays.copyOf(a, w)
    }
    def n: Int = ids.length

    /** Dense index of `id`, -1 when no edge names it. */
    def index(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) i else -1
    }

    /** The pairs on dense indices, in collect order (multi-edges and
      * self-loops kept: PageRank and HITS count them). */
    lazy val s: Array[Int] = src.map(index)
    lazy val d: Array[Int] = dst.map(index)

    /** Distinct out-neighbours, self-loops dropped. */
    lazy val out: Csr = csr(n, s, d)

    /** The undirected view: distinct neighbours, self-loops dropped. */
    lazy val und: Csr = csr(n, s ++ d, d ++ s)

    /** Nodes with a self-loop (k-core and label propagation count it). */
    lazy val loop: Array[Boolean] = {
      val l = new Array[Boolean](n)
      var i = 0
      while (i < size) { if (s(i) == d(i)) l(s(i)) = true; i += 1 }
      l
    }

    /** The canonical undirected edges: edge k joins `ea(k) < eb(k)`,
      * numbered in (a, b) order — so edge order is the (id, id) order —
      * and `eid(p)` numbers the edge of undirected entry p. */
    lazy val (ea, eb, eid) = {
      val m = und.adj.length / 2
      val a = new Array[Int](m)
      val b = new Array[Int](m)
      val e = new Array[Int](und.adj.length)
      var k = 0
      var u = 0
      while (u < n) {
        var p = und.off(u)
        while (p < und.off(u + 1)) {
          val v = und.adj(p)
          if (v > u) { a(k) = u; b(k) = v; e(p) = k; k += 1 }
          else e(p) = e(java.util.Arrays.binarySearch(und.adj, und.off(v), und.off(v + 1), u))
          p += 1
        }
        u += 1
      }
      (a, b, e)
    }
  }

  /** A graph seen through a node frame, with the frame's own rows as the
    * nodes: position j is `ids(j)`. An id the frame repeats keeps its
    * edges on its LAST position (a map from id to position keeps the
    * last), and an edge naming an id outside the frame is dropped. */
  private final class Framed(val g: Graph, val ids: Array[Long]) {
    def n: Int = ids.length
    private val last = mutable.LongMap.empty[Int]
    ids.indices.foreach(j => last(ids(j)) = j)
    def isLast(j: Int): Boolean = last(ids(j)) == j
    /** Position carrying dense index i, -1 when the frame omits it. */
    val at: Array[Int] = {
      val a = Array.fill(g.n)(-1)
      last.foreach { case (id, j) => val i = g.index(id); if (i >= 0) a(i) = j }
      a
    }
    /** A view of g restricted to framed ids, on positions. */
    private def remap(c: Csr): Csr = {
      val off = new Array[Int](n + 1)
      val adj = mutable.ArrayBuilder.make[Int]
      var j = 0
      while (j < n) {
        val i = if (isLast(j)) g.index(ids(j)) else -1
        if (i >= 0) {
          var p = c.off(i)
          while (p < c.off(i + 1)) { val w = at(c.adj(p)); if (w >= 0) adj += w; p += 1 }
        }
        off(j + 1) = adj.length
        j += 1
      }
      new Csr(off, adj.result())
    }
    lazy val out: Csr = remap(g.out)
    lazy val und: Csr = remap(g.und)
  }

  private def framed(nodes: DataFrame, edges: DataFrame): Framed =
    new Framed(graph(edges), ids(nodes))

  /** The frame's distinct ids that no edge names (isolated nodes of a
    * nodes ∪ endpoints universe). */
  private def isolated(g: Graph, frame: Array[Long]): Seq[Long] =
    frame.iterator.filter(g.index(_) < 0).distinct.toSeq

  // --- traversals -----------------------------------------------------------

  /** The one BFS: from `s` over `adj`, expanding nodes closer than
    * `maxHops`, calling `reached(v, hop)` once per newly reached node in
    * BFS order (never for `s` itself, so a cycle back never re-admits it
    * — the distributed frontier's anti-join rule). `reached` returning
    * false ends the walk at once. `dist`/`queue` are caller-owned scratch
    * of size n; returns the number of queued nodes. */
  private def bfs(adj: Csr, s: Int, maxHops: Int, dist: Array[Int], queue: Array[Int])
                 (reached: (Int, Int) => Boolean): Int = {
    java.util.Arrays.fill(dist, -1)
    dist(s) = 0
    queue(0) = s
    var head = 0
    var tail = 1
    var go = true
    while (go && head < tail) {
      val u = queue(head); head += 1
      if (dist(u) < maxHops) {
        var p = adj.off(u)
        while (go && p < adj.off(u + 1)) {
          val w = adj.adj(p)
          if (dist(w) < 0) {
            dist(w) = dist(u) + 1
            queue(tail) = w; tail += 1
            go = reached(w, dist(w))
          }
          p += 1
        }
      }
    }
    tail
  }

  /** [[bfs]] from an id over the collected edge relation. */
  private def bfsFrom(edges: DataFrame, source: Long, maxHops: Int)
                     (reached: (Long, Int) => Boolean): Unit = {
    val g = graph(edges)
    val s = g.index(source)
    if (s >= 0)
      bfs(g.out, s, maxHops, new Array[Int](g.n), new Array[Int](g.n)) { (v, hop) =>
        reached(g.ids(v), hop)
      }
  }

  /** Local twin of [[Traversals.kHop]]: nodes first reached at hop 1..k,
    * with their BFS distance; the source itself excluded. Schema matches
    * the distributed output exactly: (node: long, dist: int). */
  def kHop(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    val out = mutable.ArrayBuffer.empty[Row]
    bfsFrom(edges, source, maxHops) { (v, hop) => out += Row(v, hop); true }
    localDF(edges.sparkSession, StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("dist", IntegerType, nullable = false))), out.toSeq)
  }

  /** Local twin of [[GraphXBridge.distances]]: BFS distances from `source`
    * to every reachable vertex (dist 0 = source). The vertex universe is
    * nodes ∪ edge endpoints (GraphX's `Graph(vertices, edges)` union); a
    * source outside the universe yields the same empty result the Pregel
    * run produces. Schema: (node: long, dist: long). */
  def distances(nodes: DataFrame, edges: DataFrame, source: Long): DataFrame = {
    val out = mutable.ArrayBuffer.empty[Row]
    if (graph(edges).index(source) >= 0 || ids(nodes).contains(source)) {
      out += Row(source, 0L)
      bfsFrom(edges, source, Int.MaxValue) { (v, hop) => out += Row(v, hop.toLong); true }
    }
    localDF(edges.sparkSession, longSchema("node", "dist"), out.toSeq)
  }

  /** Local twin of [[GraphXBridge.shortestPathLength]]: unweighted
    * src→target shortest-path length, -1 if unreachable, 0 when
    * source == target (the distributed loop's own pre-check). */
  def shortestPathLength(edges: DataFrame, source: Long, target: Long): Long = {
    if (source == target) return 0L
    var found = -1L
    bfsFrom(edges, source, Int.MaxValue) { (v, hop) =>
      if (v == target) found = hop
      found < 0L
    }
    found
  }

  /** Local twin of [[GraphXBridge.weightedDistances]]: Dijkstra over
    * non-negative long weights — the same fixpoint the distributed
    * Bellman-Ford relaxation converges to (non-negativity is that
    * operator's documented contract, which is what licenses Dijkstra
    * here). Its (src, dst, w) relation has a collect of its own, under
    * the same route policy as [[route]]; `None` → the Pregel loop.
    * Schema: (node: long, dist: long). */
  def weightedDistances(nodes: DataFrame, edges: DataFrame, source: Long): Option[DataFrame] = {
    val spark = edges.sparkSession
    val prepared = derivedGet[DataFrame](edges, "prep-weighted") {
      edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
    }
    admit(spark, 0)(smallEnoughGraph(nodes, edges)).flatMap { a =>
      for (rows <- collected(prepared, TagWeighted, a)(identity)(_.length);
           frame <- idsOf(nodes, a)) yield dijkstra(spark, frame, rows, source)
    }
  }

  private def dijkstra(spark: SparkSession, frame: Array[Long], rows: Array[Row],
                       source: Long): DataFrame = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Long)]]
    var present = frame.contains(source)
    rows.foreach { r =>
      val (u, v, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(w >= 0L, s"weightedDistances requires non-negative weights, got $w")
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty[(Long, Long)]) += ((v, w))
      present ||= u == source || v == source
    }
    if (!present) return localDF(spark, longSchema("node", "dist"), Nil)
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
    localDF(spark, longSchema("node", "dist"), dist.toSeq.map { case (n, dd) => Row(n, dd) })
  }

  // --- rank iterations --------------------------------------------------------

  private def snapper(snap: Int): Double => Double =
    r => BigDecimal(r).setScale(snap, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val rankSchema = StructType(Seq(StructField("node", LongType, nullable = false),
    StructField("rank", DoubleType, nullable = false)))

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
    val snapped = snapper(snap)
    val g = graph(edges)
    val frame = ids(nodes)
    // GraphX's Graph(vertices, edges) vertex universe is nodes ∪ endpoints,
    // but n (the teleport denominator) is the NODES count, repeats counted
    val n = frame.length.toDouble
    val outdeg = new Array[Int](g.n)
    g.s.foreach(outdeg(_) += 1)
    var rank = Array.fill(g.n)(snapped(1.0 / n))
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](g.n)
      var i = 0
      while (i < g.size) {
        contrib(g.d(i)) += rank(g.s(i)) / outdeg(g.s(i))
        i += 1
      }
      rank = Array.tabulate(g.n)(j => snapped((1 - d) / n + d * contrib(j)))
    }
    // a node no edge names: teleport mass only
    def alone = if (iters == 0) snapped(1.0 / n) else snapped((1 - d) / n + d * 0.0)
    localDF(edges.sparkSession, rankSchema, g.ids.indices.map(j => Row(g.ids(j), rank(j))) ++
      isolated(g, frame).map(Row(_, alone)))
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
    val snapped = snapper(snap)
    val f = framed(nodes, edges)
    val (g, ids) = (f.g, f.ids)
    val outdeg = new Array[Int](f.n)
    g.s.foreach(i => if (f.at(i) >= 0) outdeg(f.at(i)) += 1)
    var rank = Array.tabulate(f.n)(j => if (ids(j) == source) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](f.n)
      var i = 0
      while (i < g.size) {
        val (si, di) = (f.at(g.s(i)), f.at(g.d(i)))
        if (si >= 0 && di >= 0) contrib(di) += rank(si) / outdeg(si)
        i += 1
      }
      rank = Array.tabulate(f.n)(j =>
        snapped((1.0 - d) * (if (ids(j) == source) 1.0 else 0.0) + d * contrib(j)))
    }
    localDF(edges.sparkSession, rankSchema, ids.indices.map(j => Row(ids(j), rank(j))))
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
    val f = framed(nodes, edges)
    val g = f.g
    val srcI = g.s.map(f.at)
    val dstI = g.d.map(f.at)
    var hub = Array.fill(f.n)(fp)
    var auth = new Array[Long](f.n)
    // amax == 0 (no edges, or every edge names an unknown node) means
    // every contribution is 0: skip the renorm and publish zeros,
    // matching the distributed loop where the empty score frame rides
    // the remaining inner joins as an all-zero result
    def renorm(a: Array[Long]): Unit = {
      val amax = if (a.isEmpty) 0L else a.max
      var j = 0
      if (amax > 0L)
        while (j < a.length) { a(j) = a(j) * fp / amax; j += 1 }
    }
    for (_ <- 1 to iters) {
      val a = new Array[Long](f.n)
      var i = 0
      while (i < srcI.length) {
        if (srcI(i) >= 0 && dstI(i) >= 0) a(dstI(i)) += hub(srcI(i))
        i += 1
      }
      renorm(a)
      val h = new Array[Long](f.n)
      i = 0
      while (i < srcI.length) {
        if (srcI(i) >= 0 && dstI(i) >= 0) h(srcI(i)) += a(dstI(i))
        i += 1
      }
      renorm(h)
      hub = h
      auth = a
    }
    localDF(edges.sparkSession, longSchema("node", "hub_fp", "auth_fp"),
      f.ids.indices.map(j => Row(f.ids(j), hub(j), auth(j))))
  }

  // --- per-source kernels ---------------------------------------------------

  /** The one per-source BFS kernel behind [[closeness]],
    * [[eccentricity]] and [[harmonic]]: a BFS from every frame node,
    * bounded at `maxRounds` levels (distances beyond it are not counted,
    * matching the distributed round cap). Each reached node's distance is
    * folded into its source's accumulators (`fold(acc, d)`, `acc` zeroed
    * per source). Distances are exact ints in both formulations, so twin
    * ≡ distributed ≡ oracle needs no tolerance. Schema: (node: long,
    * cols: long...). */
  private def perSourceBfs(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                           cols: String*)(fold: (Array[Long], Int) => Unit): DataFrame = {
    val f = framed(nodes, edges)
    val dist = new Array[Int](f.n)
    val queue = new Array[Int](f.n)
    val rows = f.ids.indices.map { s =>
      val acc = new Array[Long](cols.length)
      bfs(f.out, s, maxRounds, dist, queue) { (_, d) => fold(acc, d); true }
      Row.fromSeq(f.ids(s) +: acc.toSeq)
    }
    localDF(edges.sparkSession, longSchema("node" +: cols: _*), rows)
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

  /** The one Brandes kernel behind [[stress]] and [[betweenness]]: per
    * frame source s, a BFS bounded at `maxRounds` with exact path counts
    * σ (multi-edges deduped, matching the distributed operators' DISTINCT
    * contract), then a walk in reverse BFS order — reverse-topological on
    * the BFS DAG, so every successor's value is final before it is read —
    * setting value(v) = `base` + Σ `term(σ, value, v, w)` over v's DAG
    * successors w, and crediting `credit(σ, value(v), v)` to every v ≠ s.
    * Schema: (node: long, `name`: long), one row per frame row. */
  private def brandes(nodes: DataFrame, edges: DataFrame, maxRounds: Int, name: String,
                      base: Long)(term: (Array[Long], Array[Long], Int, Int) => Long)
                     (credit: (Array[Long], Long, Int) => Long): DataFrame = {
    val f = framed(nodes, edges)
    val adj = f.out
    val dist = new Array[Int](f.n)
    val queue = new Array[Int](f.n)
    val sigma = new Array[Long](f.n)
    val value = new Array[Long](f.n)
    val acc = new Array[Long](f.n)
    var s = 0
    while (s < f.n) {
      sigma(s) = 1L
      val tail = bfs(adj, s, maxRounds, dist, queue) { (w, _) => sigma(w) = 0L; true }
      var k = 0
      while (k < tail) {
        val u = queue(k)
        var p = adj.off(u)
        while (p < adj.off(u + 1)) {
          val w = adj.adj(p)
          if (dist(w) == dist(u) + 1) sigma(w) = addGuarded(sigma(w), sigma(u))
          p += 1
        }
        k += 1
      }
      k = tail - 1
      while (k >= 0) {
        val v = queue(k)
        var x = base
        var p = adj.off(v)
        while (p < adj.off(v + 1)) {
          val w = adj.adj(p)
          if (dist(w) == dist(v) + 1) x = addGuarded(x, term(sigma, value, v, w))
          p += 1
        }
        value(v) = x
        if (v != s) acc(v) = addGuarded(acc(v), credit(sigma, x, v))
        k -= 1
      }
      s += 1
    }
    localDF(edges.sparkSession, longSchema("node", name),
      f.ids.indices.map(v => Row(f.ids(v), acc(v))))
  }

  /** Local twin of [[Algorithms.stress]]: textbook single-source Brandes
    * per source — backward continuation counts ψ(v) = 1 + Σ ψ(w),
    * stress(v) += σ(v)·(ψ(v) − 1) for v ≠ s. `maxRounds` bounds the BFS
    * horizon with the same k-bounded semantics. Every accumulation runs
    * through `Math.addExact`/`multiplyExact` — the EXACT form of the
    * distributed loop's conservative per-level budget guard: on dense
    * graphs σ outgrows BIGINT within ~10 hops, and the contract is a loud
    * [[ArithmeticException]], never a silently wrapped count. Schema:
    * (node: long, stress: long). */
  def stress(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame =
    brandes(nodes, edges, maxRounds, "stress", 1L)((_, psi, _, w) => psi(w)) {
      (sigma, psi, v) => mulGuarded(sigma(v), psi - 1L)
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
                  fp: Long): DataFrame =
    brandes(nodes, edges, maxRounds, "bc_fp", 0L) { (sigma, delta, v, w) =>
      mulGuarded(sigma(v), addGuarded(fp, delta(w))) / sigma(w)
    }((_, delta, _) => delta)

  // --- components and peels ------------------------------------------------

  /** Local twin of [[GraphXBridge.connectedComponents]] (undirected
    * min-id labels, GraphX CC's fixpoint): union-find with path
    * compression over the dense indices, roots kept at the component's
    * min index — which is its min id. Universe = nodes ∪ edge endpoints;
    * isolated nodes label themselves. Schema: (node: long, comp: long). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val g = graph(edges)
    val parent = Array.tabulate(g.n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      // path compression: second walk pointing everything at the root
      var y = x0
      while (parent(y) != y) { val n = parent(y); parent(y) = x; y = n }
      x
    }
    var i = 0
    while (i < g.size) {
      val (rs, rd) = (find(g.s(i)), find(g.d(i)))
      // min root: attach the larger root under the smaller
      if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
      i += 1
    }
    localDF(edges.sparkSession, longSchema("node", "comp"),
      g.ids.indices.map(v => Row(g.ids(v), g.ids(find(v)))) ++
        isolated(g, ids(nodes)).map(id => Row(id, id)))
  }

  /** Local twin of [[Algorithms.scc]], the DIRECTED strongly connected
    * components: iterative Tarjan (explicit frame stack — no JVM
    * recursion limit on long path graphs), each SCC labeled with its
    * MINIMUM member id — the same canonical labeling the distributed
    * coloring loop converges to, so the two are directly
    * parity-comparable. Universe = `nodes`, one row per distinct id;
    * edges naming ids absent from the node list are DROPPED — a ghost
    * endpoint must neither appear in the output nor (as a smaller id
    * closing a cycle) label a real node's SCC, the same
    * node-frame-defines-the-graph contract hits hardened to (r15
    * ADVICE). Isolated nodes are singleton SCCs. Schema: (node: long,
    * comp: long). */
  def stronglyConnectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val f = framed(nodes, edges)
    val adj = f.out
    val index = Array.fill(f.n)(-1) // discovery order
    val low = new Array[Int](f.n)
    val onStack = new Array[Boolean](f.n)
    val stack = new Array[Int](f.n)
    var sp = 0
    val comp = new Array[Long](f.n)
    var counter = 0
    // explicit recursion: each frame is (vertex, next child offset)
    val frameV = new Array[Int](f.n)
    val frameP = new Array[Int](f.n)
    var top = -1
    def push(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      top += 1; frameV(top) = v; frameP(top) = adj.off(v)
    }
    var root = 0
    while (root < f.n) {
      if (index(root) < 0) {
        push(root)
        while (top >= 0) {
          val v = frameV(top)
          if (frameP(top) < adj.off(v + 1)) {
            val w = adj.adj(frameP(top))
            frameP(top) += 1
            if (index(w) < 0) push(w) // descend; low(w) folded on return
            else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            // v is finished: pop its frame, emit its SCC if it roots one
            top -= 1
            if (low(v) == index(v)) {
              val from = stack.lastIndexWhere(_ == v, sp - 1)
              val members = (from until sp).map(stack(_))
              val label = members.map(f.ids(_)).min
              members.foreach { m => comp(m) = label; onStack(m) = false }
              sp = from
            }
            if (top >= 0) low(frameV(top)) = math.min(low(frameV(top)), low(v))
          }
        }
      }
      root += 1
    }
    localDF(edges.sparkSession, longSchema("node", "comp"),
      f.ids.indices.filter(f.isLast).map(j => Row(f.ids(j), comp(j))))
  }

  /** Local twin of [[Algorithms.coreness]] — EXACT core numbers by the
    * classic min-degree peel (Matula–Beck bucket scan, O(m)) over the
    * undirected view of the framed graph. The distributed formulation
    * iterates the h-index operator to the same fixpoint — two genuinely
    * DIFFERENT algorithms for the same function, which is what makes
    * the oracle gate strong: the DuckDB side unrolls the h-index
    * iteration, this side peels, and they agree exactly iff the
    * iteration converged within the cap on the gated instance
    * (Wiki-Vote: 27 rounds < the 30-round cap). Self-loops excluded;
    * nodes with no (known-endpoint) edges report core 0. */
  def coreness(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val f = framed(nodes, edges)
    val und = f.und
    val cur = Array.tabulate(f.n)(und.deg)
    val maxd = if (f.n == 0) 0 else cur.max
    // bucket scan with lazy (stale-skipped) entries: b never decreases,
    // because a neighbor decrement only lands a node in bucket ≥ b
    val buckets = Array.fill(maxd + 1)(mutable.ArrayBuffer.empty[Int])
    var v = 0
    while (v < f.n) { buckets(cur(v)) += v; v += 1 }
    val removed = new Array[Boolean](f.n)
    val core = new Array[Int](f.n)
    var b = 0
    while (b <= maxd) {
      val bk = buckets(b)
      if (bk.isEmpty) b += 1
      else {
        val u = bk.remove(bk.length - 1)
        if (!removed(u) && cur(u) == b) {
          removed(u) = true
          core(u) = b
          var p = und.off(u)
          while (p < und.off(u + 1)) {
            val w = und.adj(p)
            if (!removed(w) && cur(w) > b) { cur(w) -= 1; buckets(cur(w)) += w }
            p += 1
          }
        }
      }
    }
    localDF(edges.sparkSession, longSchema("id", "coreness"),
      f.ids.indices.map(j => Row(f.ids(j), core(j).toLong)))
  }

  /** Local twin of [[Algorithms.kCore]]: the same synchronous peel over
    * the distinct undirected edge set — each round drops EVERY node whose
    * live degree is below k at the round boundary (not incrementally), up
    * to `rounds` rounds or the fixpoint, and survivors report their final
    * live degree. A self-loop counts 1 toward its node's degree (as
    * `und.distinct` does). Mid-peel states at the round cap match the
    * distributed loop exactly. Universe = edge endpoints. Schema:
    * (id: long, deg: long). */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val g = graph(edges)
    val und = g.und
    val live = Array.tabulate(g.n)(u => und.deg(u) + (if (g.loop(u)) 1 else 0))
    val dropped = new Array[Boolean](g.n)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val drop = (0 until g.n).filter(u => !dropped(u) && live(u) >= 1 && live(u) < k)
      if (drop.isEmpty) converged = true
      else {
        drop.foreach(dropped(_) = true)
        drop.foreach { u =>
          var p = und.off(u)
          while (p < und.off(u + 1)) { live(und.adj(p)) -= 1; p += 1 }
        }
      }
      r += 1
    }
    localDF(edges.sparkSession, longSchema("id", "deg"),
      (0 until g.n).collect { case u if !dropped(u) && live(u) >= 1 => Row(g.ids(u), live(u).toLong) })
  }

  /** Every triangle of the simple graph with canonical edges
    * `(g.ea(k), g.eb(k))`, k in `es`, found once: orient each edge from
    * its (degree, index)-smaller endpoint (the same O(√m) out-degree
    * bound as the distributed edge-iterator), sort the out-lists and
    * intersect them two-pointer per oriented edge, calling
    * `found(u, v, w, uv, uw, vw)` with the corners and the three edge
    * numbers. */
  private def triangles(g: Graph, es: Array[Int])
                       (found: (Int, Int, Int, Int, Int, Int) => Unit): Unit = {
    val deg = new Array[Int](g.n)
    es.foreach { k => deg(g.ea(k)) += 1; deg(g.eb(k)) += 1 }
    def first(k: Int): Boolean = {
      val (a, b) = (g.ea(k), g.eb(k))
      deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    }
    // oriented out-lists as (head << 32 | edge) — sorting sorts by head
    val off = new Array[Int](g.n + 1)
    es.foreach(k => off((if (first(k)) g.ea(k) else g.eb(k)) + 1) += 1)
    var i = 0
    while (i < g.n) { off(i + 1) += off(i); i += 1 }
    val out = new Array[Long](es.length)
    val fill = java.util.Arrays.copyOf(off, g.n)
    es.foreach { k =>
      val (t, h) = if (first(k)) (g.ea(k), g.eb(k)) else (g.eb(k), g.ea(k))
      out(fill(t)) = (h.toLong << 32) | k; fill(t) += 1
    }
    i = 0
    while (i < g.n) { java.util.Arrays.sort(out, off(i), off(i + 1)); i += 1 }
    var u = 0
    while (u < g.n) {
      var p = off(u)
      while (p < off(u + 1)) {
        val v = (out(p) >>> 32).toInt
        var iu = off(u); var iv = off(v)
        while (iu < off(u + 1) && iv < off(v + 1)) {
          val (wu, wv) = (out(iu) >>> 32, out(iv) >>> 32)
          if (wu < wv) iu += 1
          else if (wu > wv) iv += 1
          else {
            found(u, v, wu.toInt, out(p).toInt, out(iu).toInt, out(iv).toInt)
            iu += 1; iv += 1
          }
        }
        p += 1
      }
      u += 1
    }
  }

  /** Local twin of [[Algorithms.kTruss]] — identical synchronous-peel
    * semantics: per round, per-edge triangle support among the SURVIVING
    * canonical edges, drop support < k−2, until a round drops nothing
    * (fixpoint) or `rounds` is exhausted; after a cap exit the supports
    * are recomputed over the final live set (the fixpoint round's
    * supports already ARE that recompute). Universe = edge endpoints.
    * Schema: (a, b, support), all long — byte-identical to the
    * distributed peel (GraphSpec pins it). Support per round rides the
    * same degree orientation as the distributed [[Algorithms.edgeSupports]]
    * — O(m_live^1.5) per round in-process, vs ~9 scheduled shuffle stages
    * per round distributed. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val g = graph(edges)
    val t = (k - 2).toLong
    def supports(es: Array[Int]): Array[Long] = {
      val sup = new Array[Long](g.ea.length)
      triangles(g, es) { (_, _, _, uv, uw, vw) => sup(uv) += 1; sup(uw) += 1; sup(vw) += 1 }
      sup
    }
    var live = g.ea.indices.toArray
    var finalSup: Option[Array[Long]] = None
    var r = 0
    while (r < rounds && finalSup.isEmpty && live.nonEmpty) {
      r += 1
      val sup = supports(live)
      val next = live.filter(sup(_) >= t)
      if (next.length == live.length) finalSup = Some(sup)
      else live = next
    }
    val sup = finalSup.getOrElse(supports(live))
    localDF(edges.sparkSession, longSchema("a", "b", "support"),
      live.toSeq.map(e => Row(g.ids(g.ea(e)), g.ids(g.eb(e)), sup(e))))
  }

  /** Per dense index, its triangle count over the canonical undirected
    * edges. */
  private def triangleCounts(g: Graph): Array[Long] = {
    val tri = new Array[Long](g.n)
    triangles(g, g.ea.indices.toArray) { (u, v, w, _, _, _) =>
      tri(u) += 1; tri(v) += 1; tri(w) += 1
    }
    tri
  }

  /** Local twin of [[Algorithms.triangleCounts]]: per-node triangle
    * participation over the undirected closure of ALL edges, one row per
    * frame row, nodes outside the edge set at 0. Schema: (id, n_tri). */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val g = graph(edges)
    val tri = triangleCounts(g)
    localDF(edges.sparkSession, longSchema("id", "n_tri"), ids(nodes).toSeq.map { id =>
      val i = g.index(id); Row(id, if (i >= 0) tri(i) else 0L)
    })
  }

  /** Local twin of [[Algorithms.clustering]]: the (n_tri, n_wedges =
    * d·(d−1)/2) pair per node, d the canonical undirected degree. */
  def clustering(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val g = graph(edges)
    val tri = triangleCounts(g)
    localDF(edges.sparkSession, longSchema("id", "n_tri", "n_wedges"), ids(nodes).toSeq.map { id =>
      val i = g.index(id)
      val d = if (i >= 0) g.und.deg(i).toLong else 0L
      Row(id, if (i >= 0) tri(i) else 0L, d * (d - 1L) / 2L)
    })
  }

  /** Local twin of [[Algorithms.labelPropagation]]: synchronous rounds,
    * every node takes the most frequent label among its (distinct
    * undirected, self-loop included) neighbors, ties broken by smallest
    * label, isolated nodes keep their label. Endpoints outside `nodes`
    * carry no label, so they cast no vote — the distributed freq join is
    * INNER on the labels table and drops them the same way; only nodes in
    * `nodes` are relabeled or emitted. Schema: (node: long, lbl: long). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val f = framed(nodes, edges)
    val g = f.g
    var lbl = Array.tabulate(g.n)(i => if (f.at(i) >= 0) g.ids(i) else -1L)
    for (_ <- 1 to rounds) {
      val next = lbl.clone()
      var u = 0
      while (u < g.n) {
        if (f.at(u) >= 0) {
          val freq = mutable.LongMap.empty[Long]
          def vote(v: Int): Unit = if (f.at(v) >= 0) freq(lbl(v)) = freq.getOrElse(lbl(v), 0L) + 1L
          var p = g.und.off(u)
          while (p < g.und.off(u + 1)) { vote(g.und.adj(p)); p += 1 }
          if (g.loop(u)) vote(u)
          // most frequent, then smallest label
          var bestL = Long.MaxValue; var bestC = -1L
          freq.foreach { case (l, c) =>
            if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
          }
          if (bestC > 0L) next(u) = bestL
        }
        u += 1
      }
      lbl = next
    }
    localDF(edges.sparkSession, longSchema("node", "lbl"), f.ids.toSeq.map { id =>
      val i = g.index(id); Row(id, if (i >= 0) lbl(i) else id)
    })
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

  // --- the low-link family ---------------------------------------------------

  /** The one iterative Tarjan low-link DFS behind [[bridges]],
    * [[articulationPoints]] and [[biconnectedComponents]], over the
    * canonical undirected simple graph (explicit stack, roots in id
    * order). It never re-crosses the ONE edge it entered a node by (not
    * every edge to the parent). `run` reports `tree(k)` when descending
    * edge k, `back(k)` for an edge k to an ancestor (seen from the
    * deeper side only), and `up(p, c, k, root)` when child c of p
    * finishes via tree edge k — `low(c)` is final then, and `root` is
    * true iff p is a DFS root. */
  private final class LowLink(g: Graph) {
    val disc: Array[Int] = Array.fill(g.n)(-1)
    val low = new Array[Int](g.n)

    def run(tree: Int => Unit, back: Int => Unit)(up: (Int, Int, Int, Boolean) => Unit): Unit = {
      val und = g.und
      // DFS frames: node, entering edge, next undirected entry
      val node = new Array[Int](g.n)
      val enter = new Array[Int](g.n)
      val next = new Array[Int](g.n)
      var timer = 0
      var root = 0
      while (root < g.n) {
        if (disc(root) < 0) {
          disc(root) = timer; low(root) = timer; timer += 1
          var top = 0
          node(0) = root; enter(0) = -1; next(0) = und.off(root)
          while (top >= 0) {
            val u = node(top)
            if (next(top) < und.off(u + 1)) {
              val p = next(top)
              next(top) += 1
              val (v, k) = (und.adj(p), g.eid(p))
              if (k != enter(top)) {
                if (disc(v) < 0) {
                  tree(k)
                  disc(v) = timer; low(v) = timer; timer += 1
                  top += 1
                  node(top) = v; enter(top) = k; next(top) = und.off(v)
                } else if (disc(v) < disc(u)) {
                  back(k)
                  low(u) = math.min(low(u), disc(v))
                }
              }
            } else {
              top -= 1
              if (top >= 0) {
                val p = node(top)
                low(p) = math.min(low(p), low(u))
                up(p, u, enter(top + 1), top == 0)
              }
            }
          }
        }
        root += 1
      }
    }
  }

  /** Local twin of [[Algorithms.bridges]] — EXACT bridge detection by
    * the low-link pass: tree edge (p, c) is a bridge iff low(c) > disc(p),
    * i.e. nothing in c's subtree reaches above c except through the edge
    * itself. A genuinely different algorithm from the distributed twin's
    * spanning-forest + XOR-cover test, so their agreement is evidence,
    * not tautology. Schema: (a, b), canonical a < b, sorted. */
  def bridges(edges: DataFrame): DataFrame = {
    val g = graph(edges)
    val bridge = new Array[Boolean](g.ea.length)
    val ll = new LowLink(g)
    ll.run(_ => (), _ => ()) { (p, c, k, _) => if (ll.low(c) > ll.disc(p)) bridge(k) = true }
    localDF(edges.sparkSession, longSchema("a", "b"),
      bridge.indices.filter(bridge).map(k => Row(g.ids(g.ea(k)), g.ids(g.eb(k)))))
  }

  /** Local twin of [[Algorithms.articulationPoints]] — EXACT cut-vertex
    * detection by the low-link pass: non-root p is an articulation point
    * iff some DFS child c has low(c) ≥ disc(p) (nothing in c's subtree
    * reaches strictly above p), a root iff it has ≥ 2 DFS children. A
    * genuinely different algorithm from the distributed twin's BFS-forest
    * block labeling (Tarjan–Vishkin), so their agreement is evidence, not
    * tautology. Schema: (id), sorted. */
  def articulationPoints(edges: DataFrame): DataFrame = {
    val g = graph(edges)
    val art = new Array[Boolean](g.n)
    val rootKids = new Array[Int](g.n)
    val ll = new LowLink(g)
    ll.run(_ => (), _ => ()) { (p, c, _, root) =>
      if (root) { rootKids(p) += 1; if (rootKids(p) >= 2) art(p) = true }
      else if (ll.low(c) >= ll.disc(p)) art(p) = true
    }
    localDF(edges.sparkSession, longSchema("id"), g.ids.indices.filter(art).map(i => Row(g.ids(i))))
  }

  /** Local twin of [[Algorithms.biconnectedComponents]] — EXACT block
    * partition by Tarjan's edge-stack algorithm on the low-link pass:
    * each edge is pushed the first time it is traversed (tree edges on
    * descent, back edges from the descendant side); when a finished
    * child c of p satisfies low(c) ≥ disc(p), the edges above and
    * including tree edge (p, c) on the stack form one biconnected
    * component. Block label = the block's lexicographically minimal edge
    * — its least edge number (unique per block — the min member VERTEX
    * is not, see the distributed twin's doc). A genuinely different
    * algorithm from the distributed twin's BFS-forest Tarjan–Vishkin
    * labeling, so their agreement is evidence, not tautology. Schema:
    * (a, b, block_a, block_b), canonical a < b, sorted. */
  def biconnectedComponents(edges: DataFrame): DataFrame = {
    val g = graph(edges)
    val block = new Array[Int](g.ea.length)
    val estack = new Array[Int](g.ea.length)
    var sp = 0
    val ll = new LowLink(g)
    def push(k: Int): Unit = { estack(sp) = k; sp += 1 }
    ll.run(push, push) { (p, c, k, _) =>
      if (ll.low(c) >= ll.disc(p)) {
        // pop the block: everything above and including (p, c)
        val from = estack.lastIndexWhere(_ == k, sp - 1)
        val label = (from until sp).map(estack(_)).min
        (from until sp).foreach(i => block(estack(i)) = label)
        sp = from
      }
    }
    localDF(edges.sparkSession, longSchema("a", "b", "block_a", "block_b"),
      block.indices.map { k =>
        val b = block(k)
        Row(g.ids(g.ea(k)), g.ids(g.eb(k)), g.ids(g.ea(b)), g.ids(g.eb(b)))
      })
  }
}
