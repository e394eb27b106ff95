package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.graph.{Algorithms, GraphXBridge, LocalExec, PropertyGraph, Traversals}

/** Graph operator suite (SURVEY §2 G1-G13) exposed as driver-contract
  * queries with DuckDB oracles.
  *
  * Oracle strategy: BFS/k-hop/SSSP verify against recursive CTEs; connected
  * components and PageRank against *unrolled* iteration SQL generated here
  * (DuckDB's recursive CTEs cannot aggregate per round); everything else is
  * plain relational SQL over the same parquet.
  */
object GraphOps {

  private val Off = PropertyGraph.SupplierIdOffset // 1000000

  // --- shared SQL fragments -------------------------------------------------

  /** Distinct bipartite (customer → supplier) edge set. */
  private val bipartiteEdgesSql =
    s"""SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |  CAST($Off + l_suppkey AS BIGINT) AS dst
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** Directed grid edges over range(n*n) (reference create_gird_graph). */
  private def gridEdgesSql(n: Int): String =
    s"""SELECT i AS src, i + 1 AS dst FROM range(${n * n}) t(i) WHERE (i + 1) % $n <> 0
       |UNION ALL
       |SELECT i AS src, i + $n AS dst FROM range(${n * n}) t(i) WHERE i < ${n * n - n}""".stripMargin

  private val nationEdgesSql =
    """SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
      |FROM nation a JOIN nation b
      |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey""".stripMargin

  // --- G1: ingest -----------------------------------------------------------

  def ingestNodes(spark: SparkSession, dir: String): DataFrame =
    PropertyGraph.bipartiteOrders(spark, dir).nodes
      .select(col("id"), col("label"), col("props")("name").as("name"))

  def ingestEdges(spark: SparkSession, dir: String): DataFrame =
    PropertyGraph.bipartiteOrders(spark, dir).edges.select(col("src"), col("dst"))

  // --- G2: node lookup ------------------------------------------------------

  /** G2: label+property node lookup, routed through the bucketed+sorted
    * node-property layout (the same pay-at-ingest trade as G2b — the
    * reference's stores answer this from their property indexes, so the
    * graft analog is the indexed layout, not a rebuild of the property
    * graph per query). Buckets hash on id; the id range rides parquet
    * min/max row-group pruning of the per-bucket sorted files, and the
    * segment predicate pushes into the scan. [[nodeLookupScan]] keeps the
    * index-free full-scan semantics and GraphSpec pins result equality. */
  def nodeLookup(spark: SparkSession, dir: String): DataFrame = {
    val t = custNodeTable(spark, dir)
    LocalExec.warmRows(t) match {
      // warm-store route: the property "index" is the collected (budget-
      // guarded) node table held in driver memory — the repeat lookup is a
      // memory probe, the same trade the reference's stores make with
      // their warm property indexes. Over budget (the 100 TB case) the
      // scan route below runs unchanged; GraphSpec pins route equality.
      case Some(rows) =>
        val hits = rows.iterator.filter(r =>
          !r.isNullAt(2) && r.getString(2) == "BUILDING" &&
            !r.isNullAt(0) && r.getLong(0) <= 100L)
          .map(r => Row(r.get(0), r.get(1))).toSeq
        LocalExec.localDF(spark, StructType(Seq(t.schema("id"), t.schema("name"))), hits)
      case None =>
        t.filter(col("mktsegment") === "BUILDING" && col("id") <= 100)
          .select(col("id"), col("name"))
    }
  }

  /** The unbucketed variant: same predicate over the property graph built
    * inline — what a cold ad-hoc lookup (no prepared layout) pays. */
  private[graft] def nodeLookupScan(spark: SparkSession, dir: String): DataFrame =
    PropertyGraph.bipartiteOrders(spark, dir).nodes
      .filter(col("label") === "customer" &&
        col("props")("mktsegment") === "BUILDING" && col("id") <= 100)
      .select(col("id"), col("props")("name").as("name"))

  /** Write-once bucketed customer-node layout shared by the lookup
    * family: id (bucket+sort key), name, mktsegment. */
  private def custNodeTable(spark: SparkSession, dir: String): DataFrame = {
    val table = s"graft_custnodes_bucketed_${math.abs(dir.hashCode)}"
    val path = s"/tmp/${graft.Reset.ScratchPrefix}bucketed_$table"
    graft.Reset.writeOnceTable(spark, table, path) {
      graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey").cast("long").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("mktsegment"))
        .write.bucketBy(16, "id").sortBy("id")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet")
        .saveAsTable(table)
    }
    spark.table(table)
  }

  /** G2b: the same node lookup against a bucketed+sorted layout — the
    * fast path the reference gets from its stores' indexes. Setup (the
    * one-time bucketed write, the "pay partitioning at ingest" trade) is
    * write-once; the timed path is a single-bucket pruned scan
    * (`SelectedBucketsCount: 1 out of N`, proven in BucketingSpec). */
  /** Write-once (id, name) bucketed layout behind [[nodeLookupFast]] and
    * the `@n` lookup-count sweep axis. */
  private def custLookupTable(spark: SparkSession, dir: String): (String, DataFrame) = {
    val table = s"graft_cust_bucketed_${math.abs(dir.hashCode)}"
    val path = s"/tmp/${graft.Reset.ScratchPrefix}bucketed_$table"
    graft.Reset.writeOnceTable(spark, table, path) {
      graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey").cast("long").as("id"), col("c_name").as("name"))
        .write.bucketBy(16, "id").sortBy("id")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet")
        .saveAsTable(table)
    }
    // ONE Dataset instance per (table, warm window), not one per probe:
    // a fresh spark.table() per call re-runs Catalyst analysis just to
    // rediscover the same optimizedPlan — at ~5-8 ms per probe that WAS
    // the warm lookup's cost (the @warm axis measured it); the memoized
    // instance caches its QueryExecution, so a warm probe is a map hit +
    // a driver filter. Reset.clear drops the memo with the warm store.
    (table, LocalExec.prepared(spark, s"cust-lookup-$table")(spark.table(table)))
  }

  def nodeLookupFast(spark: SparkSession, dir: String): DataFrame = {
    val (table, t) = custLookupTable(spark, dir)
    LocalExec.warmRows(t) match {
      // warm-store point read (see [[nodeLookup]]); the bucket-pruned scan
      // below stays the at-scale route and the plan BucketingSpec pins
      case Some(rows) =>
        LocalExec.localDF(spark, t.schema,
          rows.filter(r => !r.isNullAt(0) && r.getLong(0) == 42L).toSeq)
      case None => graft.sources.Bucketing.pointLookup(spark, table, "id", 42L)
    }
  }

  /** Lookup-COUNT axis builder behind `g_node_lookup_fast@n…`: n point
    * lookups against the bucketed layout — the reference's iterated
    * bench_get_single_node (benchmark.py:138-148 drives 1000+ lookups
    * through iterate_bench and reads the per-op curve). Keys cycle a
    * fixed 100-id working set (present at every SF), one output row per
    * probe, so per-op cost = wall / n directly off the sweep row.
    *
    * Warm route: n probes against the driver-held store — the per-QUERY
    * floor (plan/build/collect, ~10 ms cold) amortizes over n, which is
    * the curve this axis exists to commit. At-scale route: ONE bucket
    * scan joined against the broadcast probe list — a batched client,
    * never n scheduled jobs. */
  private[graft] def nodeLookupMany(spark: SparkSession, dir: String,
                                    n: Int): DataFrame = {
    val (_, t) = custLookupTable(spark, dir)
    def key(i: Long): Long = 1L + (i * 37L) % 100L
    LocalExec.warmRows(t) match {
      case Some(rows) =>
        // id → Row built ONCE per call, probes answered as O(1) map gets:
        // a per-probe scan of the collected rows would make the committed
        // amortization curve partially measure repeated table scans
        // (O(n·|table|)) rather than point-lookup cost — the reference's
        // iterated get_single_node is a keyed index read (r15 ADVICE)
        val byId = new java.util.HashMap[Long, Row](rows.length * 2)
        rows.foreach(r => if (!r.isNullAt(0)) byId.putIfAbsent(r.getLong(0), r))
        val hits = (1L to n.toLong).flatMap { i =>
          Option(byId.get(key(i))).map(r => Row(r.get(0), r.get(1), i))
        }
        LocalExec.localDF(spark, StructType(t.schema.fields.toSeq :+
          StructField("probe", LongType, nullable = false)), hits)
      case None =>
        val probe = spark.range(1, n + 1)
          .select((lit(1L) + col("id") * 37L % 100L).as("id"),
            col("id").as("probe"))
        t.join(broadcast(probe), Seq("id"))
    }
  }

  /** Lookup-count axis (reference bench_get_single_node): per-op cost vs
    * probe count, the warm-store amortization curve as committed sweep
    * rows. */
  private def lookupSweep: Map[String, (SparkSession, String) => DataFrame] =
    Seq(100, 250, 500, 1000).map { n =>
      s"g_node_lookup_fast@n$n" -> ((s: SparkSession, d: String) =>
        nodeLookupMany(s, d, n))
    }.toMap

  /** Warm-probe axis (`g_node_lookup_fast@warm<N>`): the SAME point
    * lookup repeated N times against the warm store — the reference's
    * iterated `get_single_node` protocol (benchmark.py iterate_bench:
    * 1000 repeats / wall), where the `@n` axis above varies the KEY per
    * probe. In the warm route the probe runs AT BUILD TIME (warmRows →
    * driver-side filter → LocalRelation), so building N times measures
    * N full probes and the row's per-op cost is value/N; the first
    * sweep pass pays the one collect job that warms the store, and the
    * published min is the all-warm pass. Fails loud if the warm route
    * cannot serve (budget exceeded) — N-1 of the builds would otherwise
    * be dead plans and the number a lie. WarmStoreSpec pins the
    * zero-jobs property; this row makes the latency a committed
    * measurement (VERDICT r17 order 7). */
  private def warmLookupSweep: Map[String, (SparkSession, String) => DataFrame] =
    Seq(32, 128).map { n =>
      s"g_node_lookup_fast@warm$n" -> ((s: SparkSession, d: String) => {
        val (_, t) = custLookupTable(s, d)
        var df = nodeLookupFast(s, d) // primes the store on the cold pass
        if (LocalExec.warmRows(t).isEmpty)
          throw new IllegalStateException(
            "@warm axis needs the warm-store route (LocalExec budget " +
              "exceeded?) — repeated builds are only a probe measurement there")
        var i = 1
        while (i < n) { df = nodeLookupFast(s, d); i += 1 }
        df
      })
    }.toMap

  // --- G3: k-hop ------------------------------------------------------------

  def khopGrid(spark: SparkSession, dir: String): DataFrame =
    Traversals.kHop(PropertyGraph.grid(spark, 20).edges, source = 0L, maxHops = 5,
      numParts = 1)

  // --- SF-scaled sweep variants ---------------------------------------------

  /** Grid side for the size sweep, derived from the SF (√customer-count,
    * clamped): the reference's bench iterates INCREASING graph sizes
    * (benchmark.py:238-263), so the sweep's traversal/SSSP rows must
    * actually grow with SF — the oracle-gated entries keep their fixed
    * sizes (a static oracle can't see the SF), these scaled twins are
    * what BenchSweep runs. Clamp rationale: BFS/Bellman-Ford depth on an
    * N-grid is ~2N supersteps, so N caps at 48 to bound superstep count;
    * floor 8 keeps the smallest SF a real graph. */
  private val gridNCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Drop the per-dir grid-size memo — invoked by Reset.clearScratch so
    * ALL per-JVM memoization resets through one path: if a data dir were
    * ever regenerated at a different scale within one JVM, the next sweep
    * pass recounts instead of silently sizing grids off the stale N. */
  private[graft] def clearGridNCache(): Unit = gridNCache.clear()

  def gridNFor(spark: SparkSession, dir: String): Int =
    // memoized per dir: the sweep calls this once per overlay query per
    // pass, and the customer row count for a dir never changes within a
    // JVM — one count() per (dir), not one per invocation
    gridNCache.computeIfAbsent(dir, d => {
      val rows = graft.sources.Tables.customer(spark, d).count()
      Int.box(math.max(8, math.min(48, math.ceil(math.sqrt(rows / 10.0)).toInt)))
    }).intValue

  /** Sweep-only overlays for the fixed-size grid queries (same code paths,
    * SF-derived N), plus the hops/target-depth/insert-count axes. Merged
    * over the gated map by BenchSweep. */
  val sweepQueries: Map[String, (SparkSession, String) => DataFrame] =
    sizeSweep ++ khopSweep ++ sspSweep ++ insertSweep ++ distSweep ++
      lookupSweep ++ warmLookupSweep

  /** Forced-distributed twins of gated graph rows (`<name>@dist`): the
    * identical query builders with [[graft.graph.LocalExec]] disabled for
    * the duration of the build, so BENCH_SWEEP.csv measures the
    * distributed BFS/Pregel/peel/CC/coloring formulations — the actual
    * 100 TB execution path — every round. Since LocalExec landed, every
    * bounded gated graph row routes driver-local at bench SFs, which made
    * distributed-path performance regressions invisible in committed
    * artifacts; these rows close that hole (GraphSpec pins the two paths
    * RESULT-equal; these pin the distributed path MEASURED). */
  private def distSweep: Map[String, (SparkSession, String) => DataFrame] = {
    def forcedDistributed(fn: (SparkSession, String) => DataFrame):
        (SparkSession, String) => DataFrame = (s, d) =>
      // scoped conf flip — held under the shared scope lock like every
      // other flip (Reset.confFlip): two interleaved flips on one
      // session could otherwise strand maxBytes=0 and silently re-route
      // every later gated graph query distributed.
      graft.Reset.confFlip.synchronized {
        val prev = s.conf.getOption(graft.graph.LocalExec.MaxBytesKey)
        s.conf.set(graft.graph.LocalExec.MaxBytesKey, "0")
        // the local-vs-distributed route is decided eagerly inside the
        // query builder (and the iterative formulations run their rounds
        // there too), so restoring the conf after the builder returns
        // cannot re-route the already-built plan
        try fn(s, d)
        finally prev match {
          case Some(v) => s.conf.set(graft.graph.LocalExec.MaxBytesKey, v)
          case None => s.conf.unset(graft.graph.LocalExec.MaxBytesKey)
        }
      }
    Seq[(String, (SparkSession, String) => DataFrame)](
      "g_khop_grid" -> khopGrid, "g_sssp_grid" -> ssspGrid,
      "g_wsssp_grid" -> wssspGrid,
      "g_connected_components" -> connectedComponents,
      "g_kcore" -> kCore, "g_pagerank" -> pageRank, "g_scc" -> scc,
      "g_stress" -> gridStress, "g_harmonic" -> gridHarmonic,
      "g_betweenness" -> ladderBetweenness,
      "g_eccentricity" -> gridEccentricity,
      "g_coreness" -> wikivoteCoreness,
      // r18 routed the bounded triangle family in-process; the Wiki-Vote
      // clustering twin keeps its distributed wedge/support plan measured
      // in a committed artifact (the r18 ADVICE regression-invisibility
      // hole; bridges' distributed route is measured by GRAPH_SCALE's
      // bridges_10m row instead — the planted gate instance is 25 edges)
      "g_clustering" -> wikivoteClustering,
      // r19 VERDICT: label propagation was the last local-routed gated
      // key with no measured distributed run — sweep its synchronous
      // join+window vote forced-distributed too (GRAPH_SCALE's
      // labelprop_10m row measures it at size)
      "g_label_prop" -> labelProp)
      .map { case (k, fn) => s"$k@dist" -> forcedDistributed(fn) }.toMap
  }

  /** The overlays that are the gated fixed-size grid queries re-run at the
    * SF-scaled N. BenchSweep renames their rows to `name@n<N>` (the actual
    * grid side) instead of letting them SHADOW the gated rows: an
    * identically-named row would measure a ~2.6× different superstep count
    * at sf0.1 (N=39 vs the gated 16) — exactly the r7-r9 "sweep-vs-detail
    * gap" that was misread as GC debt. With the rename, the gated
    * fixed-size row runs in the sweep too and stays directly comparable to
    * BENCH_DETAIL, and the workload difference is visible in the name. */
  val scaledGridNames: Set[String] = sizeSweep.keySet

  /** Base names of every sweep overlay that runs on the SF-scaled grid
    * (the scaled twins plus the @h hops / @d depth axes ride the same
    * grid) — the sweep CSV fills its grid_n column for exactly these. */
  val gridOverlayNames: Set[String] = scaledGridNames

  /** Op-count axis for the per-op insert bench (reference
    * bench_add_single_node/edge iterates op count via iterate_bench,
    * benchmark.py:238-264): wall time should be linear in N with a ~zero
    * data term — per-op cost is the micro-batch floor, constant in SF. */
  private def insertSweep: Map[String, (SparkSession, String) => DataFrame] =
    Seq(8, 16, 32, 64).map { n =>
      s"g_insert_stream@n$n" -> ((s: SparkSession, _: String) =>
        graft.streaming.InsertBench.insertStream(s, n))
    }.toMap

  private def sizeSweep: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_khop_grid" -> ((s, d) => Traversals.kHop(
      PropertyGraph.grid(s, gridNFor(s, d)).edges, source = 0L, maxHops = 5,
      numParts = 1)),
    "g_grid_degree" -> ((s, d) => {
      val g = PropertyGraph.grid(s, gridNFor(s, d))
      Algorithms.degrees(g.nodes, g.edges, numParts = 1)
        .groupBy(col("outdeg"), col("indeg")).agg(count(lit(1)).as("n_nodes"))
    }),
    "g_sssp_grid" -> ((s, d) => GraphXBridge.distances(
      s, PropertyGraph.grid(s, gridNFor(s, d)), source = 0L, numParts = 1)),
    "g_wsssp_grid" -> ((s, d) => {
      val g = PropertyGraph.grid(s, gridNFor(s, d))
      val we = LocalExec.derive(g.edges, "wgrid")(
        _.selectExpr("src", "dst", s"CAST($WeightSql AS BIGINT) AS w"))
      GraphXBridge.weightedDistances(s, g.nodes, we, source = 0L, numParts = 1)
    }),
    "g_ssp_pair" -> ((s, d) => {
      val n = gridNFor(s, d)
      val dist = GraphXBridge.shortestPathLength(
        s, PropertyGraph.grid(s, n), source = 0L,
        target = (n.toLong * n - 1), numParts = 1)
      sspResult(s, 0L, n.toLong * n - 1, dist)
    }))

  /** Hops axis for the traversal sweep — the reference's bench_traversal
    * iterates HOP COUNT as its size variable (benchmark.py:168-178 via
    * iterate_bench :248-268), not just graph size; these overlays sweep
    * maxHops 1..8 on the SF-scaled grid so BENCH_SWEEP.csv carries a
    * per-hop cost curve (expected monotone: one BFS round — one frontier
    * join + checkpoint — per added hop). */
  private def khopSweep: Map[String, (SparkSession, String) => DataFrame] =
    (1 to 8).map { h =>
      s"g_khop_grid@h$h" -> ((s: SparkSession, d: String) => Traversals.kHop(
        PropertyGraph.grid(s, gridNFor(s, d)).edges, source = 0L, maxHops = h,
        numParts = 1))
    }.toMap

  /** Target-depth axis for the point-to-point ssp sweep — the reference
    * varies the DESTINATION with size (`ssp(1, 151*size)`,
    * benchmark.py:181-190), so early-exit depth sensitivity is a measured
    * curve, not a claim: targets sit on the grid diagonal at 25/50/75/100%
    * of the maximum depth (node (k,k) is exactly 2k BFS levels from the
    * corner), and wall time should track target depth because the superstep
    * loop exits the level the target is reached. */
  private def sspSweep: Map[String, (SparkSession, String) => DataFrame] =
    Seq(25, 50, 75, 100).map { pct =>
      s"g_ssp_pair@d$pct" -> ((s: SparkSession, d: String) => {
        val n = gridNFor(s, d)
        val k = math.max(1, (n - 1) * pct / 100)
        val target = k.toLong * n + k
        val dist = GraphXBridge.shortestPathLength(
          s, PropertyGraph.grid(s, n), source = 0L, target = target, numParts = 1)
        sspResult(s, 0L, target, dist)
      })
    }.toMap

  def khopBipartite(spark: SparkSession, dir: String): DataFrame = {
    // raw (non-distinct) edge multiset: BFS frontiers dedup per round, so
    // a pre-distinct of the edge set would be a wasted full shuffle.
    // "Loaded graph" memo: the fact-fact derivation is the LOAD step (the
    // reference's load_database), not the traversal — materialize it once
    // per warm window (localCheckpoint = the bench-scale stand-in for the
    // one-time parquet staging write a 100 TB pipeline would do) so each
    // frontier round scans materialized edge blocks instead of re-running
    // lineitem ⋈ orders per round per pass.
    val ue = LocalExec.prepared(spark, s"bipartite-ue-$dir") {
      val e = PropertyGraph.bipartiteEdgesRaw(spark, dir)
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
    }
    // 2-hop on a customer↔order bipartite graph: the frontier is bounded
    // tiny by construction (hop 1 = one customer's orders, hop 2 = those
    // orders' single customer), so each round is a driver-held frontier
    // probing the edge scan
    Traversals.kHop(ue, source = 1L, maxHops = 2)
  }

  // --- G4: SSSP -------------------------------------------------------------

  /** Full-graph BFS distances on [[GraphXBridge.distances]], the one
    * distributed distances loop (Pregel supersteps beat DataFrame frontier
    * rounds on this dense traversal); at this size the driver-local twin
    * answers, and GraphSpec pins the two routes equal. */
  def ssspGrid(spark: SparkSession, dir: String): DataFrame =
    GraphXBridge.distances(spark, PropertyGraph.grid(spark, 16), source = 0L,
      numParts = 1)

  // --- G4b: point-to-point shortest path ------------------------------------

  /** G4b: the reference's `ssp` exactly (databases.py:46) — shortest-path
    * LENGTH between two given nodes, not all distances: corner-to-corner
    * on the 16×16 grid (0 → 255, 30 hops on the right/down DAG). Runs on
    * the GraphX early-exit loop (RDD superstep floor, no per-round SQL
    * planning). Traversals.shortestPathLength, the other ssp loop, has the
    * same semantics and wins on shallow pairs; GraphSpec pins the two
    * equal. */
  def sspPair(spark: SparkSession, dir: String): DataFrame = {
    val n = 16
    val dist = GraphXBridge.shortestPathLength(
      spark, PropertyGraph.grid(spark, n), source = 0L,
      target = (n * n - 1).toLong, numParts = 1)
    sspResult(spark, 0L, (n * n - 1).toLong, dist)
  }

  /** One-row (src, dst, dist) answer as a LocalRelation: a `range(1)`
    * projection would schedule a whole job to produce one literal row. */
  private def sspResult(spark: SparkSession, src: Long, dst: Long,
                        dist: Long): DataFrame =
    LocalExec.localDF(spark, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dst", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dist", org.apache.spark.sql.types.LongType, nullable = false))),
      Seq(Row(src, dst, dist)))

  // --- G13: weighted SSSP ---------------------------------------------------

  /** Deterministic integer edge weights for the grid: w = (src+2·dst)%5+1
    * — same closed form on both engines, no float involvement. */
  private val WeightSql = "(src + 2 * dst) % 5 + 1"

  /** Weighted SSSP on the 16×16 grid (Pregel Bellman-Ford relaxation);
    * oracle is 30-round unrolled Bellman-Ford SQL. */
  def wssspGrid(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.grid(spark, 16)
    val we = LocalExec.derive(g.edges, "wgrid")(
      _.selectExpr("src", "dst", s"CAST($WeightSql AS BIGINT) AS w"))
    GraphXBridge.weightedDistances(spark, g.nodes, we, source = 0L, numParts = 1)
  }

  /** Unrolled Bellman-Ford: `rounds` relaxations of
    * d := min(d, min over in-edges of (d(src) + w)). Unreached nodes stay
    * at the big sentinel and are filtered at the end. The grid is a DAG
    * with ≤ 2(n-1) hops on any shortest path, so rounds = 30 converges
    * for n = 16. */
  private def bellmanFordOracle(edgesSql: String, nNodes: Int, source: Long,
                                rounds: Int): String = {
    val big = "CAST(999999999999 AS BIGINT)"
    val rs = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, LEAST(l.d, COALESCE(MIN(p.d + e.w), l.d)) AS d
         |  FROM l${i - 1} l LEFT JOIN e ON e.dst = l.node
         |  LEFT JOIN l${i - 1} p ON p.node = e.src
         |  GROUP BY l.node, l.d)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($edgesSql),
       |e AS MATERIALIZED (SELECT src, dst, $WeightSql AS w FROM base),
       |l0 AS MATERIALIZED (SELECT i AS node,
       |  CASE WHEN i = $source THEN CAST(0 AS BIGINT) ELSE $big END AS d
       |  FROM range($nNodes) t(i)),
       |$rs
       |SELECT node, d AS dist FROM l$rounds WHERE d < $big""".stripMargin
  }

  // --- G5: grid degree histogram -------------------------------------------

  def gridDegree(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.grid(spark, 20)
    // numParts = 1: 760 generated edges; see Algorithms.degrees scaladoc
    Algorithms.degrees(g.nodes, g.edges, numParts = 1)
      .groupBy(col("outdeg"), col("indeg")).agg(count(lit(1)).as("n_nodes"))
  }

  // --- G6: edge-list roundtrip ---------------------------------------------

  /** The TSV dump is write-once setup for the edge-list *source* under
    * test (Reset.writeOnce); timed passes measure only the read path. */
  def edgelistRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/${graft.Reset.ScratchPrefix}edgelist_${math.abs(dir.hashCode)}"
    graft.Reset.writeOnce(path) {
      PropertyGraph.writeEdgeList(PropertyGraph.bipartiteOrders(spark, dir), path)
    }
    PropertyGraph.fromEdgeList(spark, path).edges.select(col("src"), col("dst"))
  }

  // --- G7: degree distribution ---------------------------------------------

  /** The STORED bipartite order graph: the analytics below (degree
    * distribution, neighborhood aggregation) run over the loaded graph —
    * the reference computes them against its populated stores — so the
    * fact-fact derivation is materialized once per warm window
    * (localCheckpoint, the bench-scale stand-in for the ingest's parquet
    * staging write). The ingest queries (G1) keep deriving from the
    * order tables: they ARE the load and must keep paying it. */
  private def loadedBipartiteEdges(spark: SparkSession, dir: String): DataFrame =
    LocalExec.prepared(spark, s"bipartite-loaded-$dir")(
      PropertyGraph.bipartiteOrders(spark, dir).edges.localCheckpoint())

  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.bipartiteOrders(spark, dir)
    Algorithms.degrees(g.nodes, loadedBipartiteEdges(spark, dir))
  }

  // --- G8: connected components --------------------------------------------

  /** GraphX-native CC (same min-id labeling); the DataFrame
    * large/small-star variant lives in Algorithms and is cross-validated
    * in GraphSpec. The component sample keeps every 20th order's first
    * line, so the graph is bounded at orders/20 edges by construction —
    * the `localBounded` assertion (probe-enforced; a scale where it no
    * longer holds falls back to the GraphX loop). */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame =
    GraphXBridge.connectedComponents(spark, PropertyGraph.componentSample(spark, dir),
      numParts = 2, localBounded = LocalExec.RowCap)

  // --- G14: k-core decomposition -------------------------------------------

  val KCoreK = 2
  val KCoreRounds = 10

  /** The component-sample edge set in SQL (shared by the CC and k-core
    * oracles; must mirror PropertyGraph.componentSample). */
  private val sparseEdgesSql =
    s"""SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |  CAST($Off + l_suppkey AS BIGINT) AS dst
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_linenumber = 1 AND o_orderkey % 20 = 0""".stripMargin

  /** G14: k-core of the sparse component graph — synchronous peel, fixed
    * rounds (GraphSpec proves the peel has converged well within
    * KCoreRounds on the bench graphs, so the fixed count is the fixpoint). */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    // 1-in-20 sample: bounded by construction (probe-enforced assertion,
    // same as g_connected_components)
    Algorithms.kCore(PropertyGraph.componentSample(spark, dir).edges,
      KCoreK, KCoreRounds, numParts = 4, localBounded = LocalExec.RowCap)

  /** Unrolled synchronous peel: degree-among-survivors → keep deg >= k,
    * `rounds` times, then the survivors' in-core degrees. */
  private def kcoreOracle(edgesSql: String, k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""d$i AS (SELECT ue.src AS id, count(*) AS deg FROM ue
         |  JOIN a${i - 1} x ON x.id = ue.src JOIN a${i - 1} y ON y.id = ue.dst GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($edgesSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
       |$peels
       |SELECT ue.src AS id, count(*) AS deg FROM ue
       |  JOIN a$rounds x ON x.id = ue.src JOIN a$rounds y ON y.id = ue.dst GROUP BY 1""".stripMargin
  }

  // --- G15: the reference's real dataset (Wiki-Vote) ------------------------

  /** The reference's actual benchmark input (databases.py:129-137,
    * benchmark.py:125-136): SNAP Wiki-Vote converted by the reference's
    * conv.py to a node-id-per-line file (7115 nodes, isolated ids
    * included) plus a src\tdst TSV (103689 edges). Read-only. Unlike the
    * synthetic grid/bipartite generators, this graph is power-law: the
    * degree and traversal queries below exercise real hub skew. */
  val WikiVoteNodes = "/root/reference/data_sets/Wiki-VoteN.txt"
  val WikiVoteEdges = "/root/reference/data_sets/Wiki-VoteE.txt"

  private[graft] def wikiVote(spark: SparkSession) =
    PropertyGraph.fromNodeEdgeLists(spark, WikiVoteNodes, WikiVoteEdges)

  /** DuckDB view of the same two files. */
  private val wikiEdgesSql =
    s"""SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |FROM read_csv('$WikiVoteEdges', delim='\\t', header=false, names=['src','dst'])""".stripMargin
  private val wikiNodesSql =
    s"""SELECT CAST(id AS BIGINT) AS id
       |FROM read_csv('$WikiVoteNodes', header=false, names=['id'])""".stripMargin

  /** G15a: degree histogram of the real graph — the power-law tail (max
    * in-degree in the hundreds) lands each hub in its own (outdeg,
    * indeg) cell, so the whole distribution is checked, not a summary. */
  def wikivoteDegree(spark: SparkSession, dir: String): DataFrame = {
    val g = wikiVote(spark)
    Algorithms.degrees(g.nodes, g.edges, numParts = 4)
      .groupBy(col("outdeg"), col("indeg")).agg(count(lit(1)).as("n_nodes"))
  }

  /** G15b: the reference's bench_traversal (benchmark.py:168-178) on its
    * own dataset — directed BFS frontier expansion from a fixed start
    * node. The reference defaults to start_node=1, which does not exist
    * in Wiki-Vote (min id is 3); node 3 is the smallest real id with
    * out-edges, so the traversal actually expands through the hubs. */
  val WikiKhopSource = 3L
  val WikiKhopHops = 3

  def wikivoteKhop(spark: SparkSession, dir: String): DataFrame =
    Traversals.kHop(wikiVote(spark).edges, source = WikiKhopSource,
      maxHops = WikiKhopHops, numParts = 4)

  /** G15c: connected components of the real graph (GraphX native,
    * undirected min-id labels) — the iterative algorithm family on a
    * power-law instance: one giant 7066-node component plus a tail of
    * small ones, exactly the shape TPC-H-derived graphs never produce.
    * Oracle rounds: min-label propagation needs the min id's
    * eccentricity per component (measured 5 on the giant component;
    * 10 rounds is a 2× margin). */
  def wikivoteCC(spark: SparkSession, dir: String): DataFrame =
    GraphXBridge.connectedComponents(spark, wikiVote(spark), numParts = 4)

  /** G15d: PageRank on the real power-law graph — hub in-degrees in the
    * hundreds make the contribution sum order-dependent in doubles, so
    * both sides snap ranks per iteration (see [[GraphXBridge.pageRank]]'s
    * `snap` doc); output rounded to 6 dp like `g_pagerank`. */
  def wikivotePagerank(spark: SparkSession, dir: String): DataFrame =
    GraphXBridge.pageRank(spark, wikiVote(spark), iters = 10, d = 0.85,
        numParts = 4, snap = 9)
      .select(col("node"), round(col("rank"), 6).as("rank"))

  /** G15e: per-node triangle counts on the real power-law graph — the
    * adversarial input for [[Algorithms.triangleCounts]]'s degree
    * orientation: under plain id-ordering a deg-~900 hub alone yields
    * ~4·10⁵ wedges, and Wiki-Vote has dozens of such hubs; orientation
    * bounds every oriented out-degree at O(√m) so the wedge join stays
    * O(m^1.5) TOTAL regardless of the skew. The toy clique instances
    * (G10) cannot distinguish the two plans — this one can. */
  def wikivoteTriangles(spark: SparkSession, dir: String): DataFrame = {
    val g = wikiVote(spark)
    Algorithms.triangleCounts(g.nodes, g.edges)
  }

  /** G15f: k-core on the real graph. k=10 does real peeling work here
    * (7115 → 2825 survivors over 4 effective rounds), unlike the sparse
    * bipartite sample where most nodes fall in round one; the cap is a
    * 2× margin over the measured convergence, and the early exit is what
    * keeps the run at the fixpoint round count, not the cap. */
  val WikiKCoreK = 10
  val WikiKCoreRounds = 10

  def wikivoteKcore(spark: SparkSession, dir: String): DataFrame =
    Algorithms.kCore(wikiVote(spark).edges, WikiKCoreK, WikiKCoreRounds,
      numParts = 4)

  /** G15g: bucketed point lookup on the real graph — G2b's layout story
    * (pay partitioning once at ingest, read 1/N of the files per lookup)
    * carried onto Wiki-Vote: out-neighbors of the top hub (id 2565,
    * out-degree 893) from an edge table bucketed+sorted on src. The
    * timed path is a single-bucket pruned scan
    * (`SelectedBucketsCount: 1`, pinned in BucketingSpec). */
  val WikiLookupNode = 2565L

  def wikivoteLookup(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_wikivote_edges_bucketed"
    val path = s"/tmp/${graft.Reset.ScratchPrefix}bucketed_$table"
    graft.Reset.writeOnceTable(spark, table, path) {
      wikiVote(spark).edges.select(col("src"), col("dst"))
        .write.bucketBy(16, "src").sortBy("src")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet")
        .saveAsTable(table)
    }
    val t = spark.table(table)
    LocalExec.warmRows(t) match {
      // warm-store hub read (see [[nodeLookup]]): the out-edge list served
      // from the collected (budget-guarded) edge table
      case Some(rows) =>
        LocalExec.localDF(spark, t.schema,
          rows.filter(r => !r.isNullAt(0) && r.getLong(0) == WikiLookupNode).toSeq)
      case None =>
        graft.sources.Bucketing.pointLookup(spark, table, "src", WikiLookupNode)
    }
  }

  // --- G15h: HITS hubs & authorities ----------------------------------------

  /** Power-iteration rounds for [[wikivoteHits]] — enough for the score
    * ORDER to stabilize on Wiki-Vote (the published values are exact for
    * whatever round count is chosen, so the oracle is iteration-exact
    * either way; 10 matches the PageRank budget). */
  val HitsIters = 10

  /** G15h: HITS hubs & authorities on the real directed graph — the
    * OTHER classic eigenvector centrality, and the one that needs the
    * direction structure PageRank's single score collapses: a node is a
    * good hub iff it points at good authorities and vice versa.
    * Wiki-Vote is the right instance (voters are hubs, candidates
    * authorities — the two rankings genuinely differ; on a symmetric
    * graph hub ≡ auth and a swapped in/out-edge bug is invisible).
    *
    * Exact integer fixed-point protocol + per-half-step renorm; see
    * [[graft.graph.Algorithms.hits]] for the scale shape (edges
    * partitioned once per direction, zero edge exchange in the loop). */
  def wikivoteHits(spark: SparkSession, dir: String): DataFrame = {
    val g = wikiVote(spark)
    Algorithms.hits(g.nodes, g.edges, HitsIters, numParts = 4)
  }

  /** DuckDB mirror of [[wikivoteHits]] — the textbook SQL, iteration
    * unrolled; bit-exact against Spark because every quantity is BIGINT
    * (sums of exact integers + one truncating division per renorm). */
  private def hitsOracle(edgesSql: String, nodesSql: String, iters: Int,
                         fp: Long): String = {
    // MATERIALIZED is load-bearing: each round CTE is referenced twice
    // (FROM + the scalar MAX subquery); left to DuckDB's inliner the
    // reference chain re-expands per use — 2^iters evaluation blowup
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS node, CAST(SUM(h.s) AS BIGINT) AS v
         |  FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
         |a$i AS MATERIALIZED (SELECT node, CAST((v * CAST($fp AS BIGINT)) // (SELECT MAX(v) FROM ar$i) AS BIGINT) AS s FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS v
         |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |h$i AS MATERIALIZED (SELECT node, CAST((v * CAST($fp AS BIGINT)) // (SELECT MAX(v) FROM hr$i) AS BIGINT) AS s FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |nodes AS ($nodesSql),
       |h0 AS (SELECT id AS node, CAST($fp AS BIGINT) AS s FROM nodes),
       |$rounds
       |SELECT n.id AS node, CAST(COALESCE(h.s, 0) AS BIGINT) AS hub_fp,
       |  CAST(COALESCE(a.s, 0) AS BIGINT) AS auth_fp
       |FROM nodes n LEFT JOIN h$iters h ON h.node = n.id
       |LEFT JOIN a$iters a ON a.node = n.id""".stripMargin
  }

  // --- G21: closeness centrality (batched multi-source BFS) ------------------

  /** Round cap for [[gridCloseness]] — the 20-grid's directed diameter is
    * 2·19 = 38; 40 leaves margin and the empty-frontier early exit stops
    * the loop at the true depth. */
  val ClosenessGridN = 20
  val ClosenessRounds = 40

  /** G21: exact closeness centrality over the 20×20 directed grid — all
    * 400 sources advanced as ONE batched multi-source BFS on composite
    * (source, node) keys. Published per node: the exact integer pair
    * (reach, dist_sum) — every closeness convention is a driver-side
    * formula over it, and integers keep the oracle comparison exact
    * (no division protocol). See [[graft.graph.Algorithms.closeness]]
    * for the batched-frontier scale shape (sampled sources at corpus
    * scale; same plan, narrower frontier). */
  def gridCloseness(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.grid(spark, ClosenessGridN)
    Algorithms.closeness(g.nodes, g.edges, ClosenessRounds)
  }

  /** DuckDB mirror of [[gridCloseness]] — one recursive CTE seeds every
    * node as its own source; the monotone lattice makes (s, node, d)
    * triples unique, and MIN(d) is exact BFS distance regardless. */
  private def closenessOracle(edgesSql: String, nNodes: Int,
                              maxD: Int): String =
    s"""WITH RECURSIVE base AS ($edgesSql),
       |nodes AS (SELECT CAST(i AS BIGINT) AS id FROM range($nNodes) t(i)),
       |bfs(s, node, d) AS (
       |  SELECT id, id, 0 FROM nodes
       |  UNION
       |  SELECT bfs.s, e.dst, bfs.d + 1 FROM bfs JOIN base e ON e.src = bfs.node
       |  WHERE bfs.d < $maxD),
       |md AS (SELECT s, node, MIN(d) AS d FROM bfs GROUP BY s, node)
       |SELECT s AS node, CAST(COUNT(*) - 1 AS BIGINT) AS reach,
       |  CAST(SUM(d) AS BIGINT) AS dist_sum
       |FROM md GROUP BY s""".stripMargin

  // --- G23: harmonic centrality ----------------------------------------------

  /** G23: harmonic centrality over the same 20×20 directed grid — the
    * closeness variant that stays meaningful on DISCONNECTED graphs
    * (which this directed grid is, pairwise: upstream nodes are
    * unreachable and simply contribute 0, where classic closeness needs
    * a reach-qualified convention). Published as the exact integer
    * Σ `HarmonicFp DIV d` per [[graft.graph.Algorithms.HarmonicFp]]'s
    * fixed-point convention — integer division on both engines, no
    * float protocol. Same batched multi-source BFS (and sampled-source
    * cluster contract) as G21; only the final aggregation differs. */
  def gridHarmonic(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.grid(spark, ClosenessGridN)
    Algorithms.harmonic(g.nodes, g.edges, ClosenessRounds)
  }

  /** DuckDB mirror of [[gridHarmonic]] — the [[closenessOracle]] BFS CTE
    * with the harmonic fixed-point aggregation. */
  private def harmonicOracle(edgesSql: String, nNodes: Int,
                             maxD: Int): String =
    s"""WITH RECURSIVE base AS ($edgesSql),
       |nodes AS (SELECT CAST(i AS BIGINT) AS id FROM range($nNodes) t(i)),
       |bfs(s, node, d) AS (
       |  SELECT id, id, 0 FROM nodes
       |  UNION
       |  SELECT bfs.s, e.dst, bfs.d + 1 FROM bfs JOIN base e ON e.src = bfs.node
       |  WHERE bfs.d < $maxD),
       |md AS (SELECT s, node, MIN(d) AS d FROM bfs GROUP BY s, node)
       |SELECT s AS node,
       |  CAST(COALESCE(SUM(CASE WHEN d > 0 THEN ${Algorithms.HarmonicFp} // d END), 0) AS BIGINT) AS harmonic_fp
       |FROM md GROUP BY s""".stripMargin

  // --- G25: eccentricity / diameter substrate --------------------------------

  /** G25: forward eccentricity over the same 20×20 directed grid as the
    * closeness family — per node, the max distance to any reachable
    * node plus the reach count (so diameter = max ecc and radius =
    * min ecc over reach-complete sources are driver-side formulas).
    * The third trivial aggregation on the ONE batched multi-source BFS
    * all three of G21/G23/G25 share — same plan, same sampled-source
    * cluster contract, integers end to end. */
  def gridEccentricity(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.grid(spark, ClosenessGridN)
    Algorithms.eccentricity(g.nodes, g.edges, ClosenessRounds)
  }

  /** DuckDB mirror of [[gridEccentricity]] — the [[closenessOracle]] BFS
    * CTE with MAX(d) + reach aggregation. */
  private def eccentricityOracle(edgesSql: String, nNodes: Int,
                                 maxD: Int): String =
    s"""WITH RECURSIVE base AS ($edgesSql),
       |nodes AS (SELECT CAST(i AS BIGINT) AS id FROM range($nNodes) t(i)),
       |bfs(s, node, d) AS (
       |  SELECT id, id, 0 FROM nodes
       |  UNION
       |  SELECT bfs.s, e.dst, bfs.d + 1 FROM bfs JOIN base e ON e.src = bfs.node
       |  WHERE bfs.d < $maxD),
       |md AS (SELECT s, node, MIN(d) AS d FROM bfs GROUP BY s, node)
       |SELECT s AS node, CAST(MAX(d) AS BIGINT) AS ecc,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS reach
       |FROM md GROUP BY s""".stripMargin

  // --- G22: stress centrality (batched multi-source Brandes) ----------------

  /** Same instance as [[gridCloseness]] — the 20×20 directed grid — so
    * the two path-structure centralities publish over one graph. */
  val StressGridN = 20
  val StressRounds = 40

  /** G22: stress centrality over the 20×20 directed grid — for every
    * node, the COUNT of shortest s→t paths crossing it as an interior
    * node (Shimbel's stress; the integer-exact sibling of betweenness,
    * which only rescales each term by 1/σ_st). All 400 sources advance
    * as ONE batched multi-source Brandes — forward BFS accumulating path
    * counts, backward pass accumulating continuation counts — so the
    * whole centrality is two passes of composite-key joins over one edge
    * layout. Everything is BIGINT: no division, no float protocol, the
    * oracle compares exact. See [[graft.graph.Algorithms.stress]] for
    * the scale shape (sampled sources at corpus scale, same plan). */
  def gridStress(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.grid(spark, StressGridN)
    Algorithms.stress(g.nodes, g.edges, StressRounds)
  }

  /** DuckDB mirror of [[gridStress]], by a DIFFERENT formulation — an
    * independent check, not a translation. The directed grid is a
    * monotone DAG (every edge goes right or down), so every directed
    * path is a shortest path and the distance constraint in
    * stress(v) = Σ σ_sv·σ_vt [d(s,v)+d(v,t)=d(s,t)] holds automatically;
    * the double sum then FACTORS into (Σ_s σ_sv)·(Σ_t σ_vt) — total
    * paths in times total paths out. Path counts come from the unrolled
    * k-step chain p_k(s,v) = Σ_u p_{k-1}(s,u)·e(u,v) (MATERIALIZED per
    * step for the same inliner reason as the HITS oracle); k runs to the
    * grid diameter 2(N−1). Agreement of this closed-form DAG count with
    * Spark's Brandes ψ-accumulation is exactly what makes the gate
    * meaningful. */
  private def stressOracle(edgesSql: String, nNodes: Int,
                           steps: Int): String = {
    val chain = (2 to steps).map { k =>
      s"""p$k AS MATERIALIZED (SELECT p.s, e.dst AS v, CAST(SUM(p.c) AS BIGINT) AS c
         |  FROM p${k - 1} p JOIN e ON e.src = p.v GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to steps).map(k => s"SELECT * FROM p$k")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS ($edgesSql),
       |nodes AS (SELECT CAST(i AS BIGINT) AS id FROM range($nNodes) t(i)),
       |p1 AS MATERIALIZED (SELECT src AS s, dst AS v, CAST(1 AS BIGINT) AS c FROM e),
       |$chain,
       |sigma AS ($unionAll),
       |ins AS (SELECT v AS node, CAST(SUM(c) AS BIGINT) AS cin FROM sigma GROUP BY 1),
       |outs AS (SELECT s AS node, CAST(SUM(c) AS BIGINT) AS cout FROM sigma GROUP BY 1)
       |SELECT n.id AS node,
       |  CAST(COALESCE(i.cin, 0) * COALESCE(o.cout, 0) AS BIGINT) AS stress
       |FROM nodes n LEFT JOIN ins i ON i.node = n.id
       |LEFT JOIN outs o ON o.node = n.id""".stripMargin
  }

  // --- G24: betweenness centrality (fixed-point batched Brandes) ------------

  /** Widths of the pinned diamond-ladder instance (see
    * [[graft.graph.PropertyGraph.diamondLadder]]): alternating 2/4, so
    * every path count σ is a power of two ≤ 2⁹ — each divides
    * [[graft.graph.Algorithms.BetweennessFp]] (2²⁴), making every
    * protocol division exact: the published bc_fp IS Fp × the rational
    * betweenness, hash-comparable with no float tolerance. The 20×20
    * grid (stress's instance) can NOT serve here: its σ ratios are
    * binomial (thirds, sevenths…), so any finite fixed point truncates
    * and the ORDER of truncation becomes engine-specific. */
  val LadderWidths: Seq[Int] = Seq(2, 4, 2, 4, 2, 4)
  val LadderRounds = 16 // ladder diameter is 2·6 = 12; margin + early exit

  /** G24: betweenness centrality over the diamond-ladder DAG — for every
    * node, Σ_{s≠v≠t} σ_st(v)/σ_st published as the exact fixed-point
    * BIGINT bc_fp = 2²⁴·bc. All sources advance as ONE batched
    * multi-source Brandes (the σ forward pass shared with G22 stress;
    * the δ backward pass carries the division). See
    * [[graft.graph.Algorithms.betweenness]] for the per-term truncating
    * protocol and the sampled-sources cluster contract (Brandes-subset
    * betweenness: same plan, narrower composite frontier). */
  def ladderBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.diamondLadder(spark, LadderWidths)
    Algorithms.betweenness(g.nodes, g.edges, LadderRounds)
  }

  /** Ladder edge list as inline SQL VALUES — the topology shared with
    * the Spark-side generator (same id convention: junction i at
    * i + Σ_{j≤i} wⱼ); tiny (2·Σw rows), so VALUES beats a range
    * construction for oracle readability. */
  private def ladderEdgesSql(widths: Seq[Int]): String = {
    val offsets = widths.scanLeft(0L)((acc, w) => acc + w + 1)
    val rows = widths.zipWithIndex.flatMap { case (w, i) =>
      (1 to w).flatMap { k =>
        Seq(s"(${offsets(i)}, ${offsets(i) + k})",
          s"(${offsets(i) + k}, ${offsets(i + 1)})")
      }
    }
    s"""SELECT CAST(s AS BIGINT) AS src, CAST(d AS BIGINT) AS dst
       |FROM (VALUES ${rows.mkString(", ")}) t(s, d)""".stripMargin
  }

  private def ladderNodeCount(widths: Seq[Int]): Int =
    widths.sum + widths.length + 1

  /** DuckDB mirror of [[ladderBetweenness]], by a DIFFERENT formulation —
    * the σ-factoring family of the stress oracle: on the ladder every
    * directed path is a shortest path (all s→t paths have equal
    * length), so bc_fp(v) = Σ_{s,t} (Fp·σ_sv·σ_vt) // σ_st as a TRIPLE
    * JOIN over the all-pairs path-count table, built by the same
    * unrolled k-step chain as the stress oracle. The `//` is exact here
    * (every σ_st is a power of two dividing Fp), so agreement with
    * Spark's recursive δ-accumulation — a completely different
    * evaluation order — is exactly what the gate certifies. */
  private def betweennessOracle(edgesSql: String, nNodes: Int,
                                steps: Int, fp: Long): String = {
    val chain = (2 to steps).map { k =>
      s"""p$k AS MATERIALIZED (SELECT p.s, e.dst AS v, CAST(SUM(p.c) AS BIGINT) AS c
         |  FROM p${k - 1} p JOIN e ON e.src = p.v GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to steps).map(k => s"SELECT * FROM p$k")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS ($edgesSql),
       |nodes AS (SELECT CAST(i AS BIGINT) AS id FROM range($nNodes) t(i)),
       |p1 AS MATERIALIZED (SELECT src AS s, dst AS v, CAST(1 AS BIGINT) AS c FROM e),
       |$chain,
       |sigma AS ($unionAll),
       |bc AS (SELECT sv.v AS node,
       |    CAST(SUM(($fp * sv.c * vt.c) // st.c) AS BIGINT) AS bc_fp
       |  FROM sigma sv
       |  JOIN sigma vt ON vt.s = sv.v
       |  JOIN sigma st ON st.s = sv.s AND st.v = vt.v
       |  GROUP BY 1)
       |SELECT n.id AS node, CAST(COALESCE(b.bc_fp, 0) AS BIGINT) AS bc_fp
       |FROM nodes n LEFT JOIN bc b ON b.node = n.id""".stripMargin
  }

  // --- G26: modularity scoring -----------------------------------------------

  /** G26: Newman modularity of the nation partition over the bipartite
    * order graph — customers and suppliers labeled by their nation, so
    * cross-nation orders are CROSS-community edges and the partition
    * quality is nontrivial (unlike CC/LPA partitions, where every edge
    * is intra by construction). Published per community as exact BIGINT
    * (l_intra, d_sum, q_num_4m2 = 4mL−D², m) — Q = Σ q_num/(4m²) is a
    * driver-side formula; see [[graft.graph.Algorithms.modularity]]. */
  def nationModularity(spark: SparkSession, dir: String): DataFrame = {
    val e = PropertyGraph.bipartiteEdgesRaw(spark, dir)
    val cust = graft.sources.Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("node"),
      col("c_nationkey").cast("long").as("community"))
    val supp = graft.sources.Tables.supplier(spark, dir).select(
      (col("s_suppkey").cast("long") + Off).as("node"),
      col("s_nationkey").cast("long").as("community"))
    Algorithms.modularity(e, cust.unionByName(supp))
  }

  /** DuckDB mirror of [[nationModularity]] — the same integer recipe in
    * plain SQL over the same parquet tables. */
  private val modularityOracle: String =
    s"""WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS a,
       |    CAST(l_suppkey + $Off AS BIGINT) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |comm AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS node,
       |    CAST(c_nationkey AS BIGINT) AS community FROM customer
       |  UNION ALL
       |  SELECT CAST(s_suppkey + $Off AS BIGINT),
       |    CAST(s_nationkey AS BIGINT) FROM supplier),
       |lab AS (SELECT ca.community AS ca, cb.community AS cb
       |  FROM e JOIN comm ca ON ca.node = e.a JOIN comm cb ON cb.node = e.b),
       |m AS (SELECT COUNT(*) AS m FROM lab),
       |deg AS (SELECT community, COUNT(*) AS d FROM
       |  (SELECT ca AS community FROM lab UNION ALL SELECT cb FROM lab)
       |  GROUP BY 1),
       |intra AS (SELECT ca AS community, COUNT(*) AS l FROM lab
       |  WHERE ca = cb GROUP BY 1)
       |SELECT d.community,
       |  CAST(COALESCE(i.l, 0) AS BIGINT) AS l_intra,
       |  CAST(d.d AS BIGINT) AS d_sum,
       |  CAST(4 * (SELECT m FROM m) * COALESCE(i.l, 0) - d.d * d.d AS BIGINT)
       |    AS q_num_4m2,
       |  CAST((SELECT m FROM m) AS BIGINT) AS m_edges
       |FROM deg d LEFT JOIN intra i ON i.community = d.community""".stripMargin

  // --- G27: greedy modularity clustering -------------------------------------

  /** Merge rounds for [[communityCluster]]: the sampled component graph
    * converges (no positive mutual merge remains) well inside 5 rounds
    * at the gated SFs; extra rounds are no-ops by the fixpoint property,
    * so the fixed count is exact on both engines. */
  val GreedyModRounds = 5

  /** G27: community detection by greedy agglomerative modularity
    * (parallel CNM via mutual-best matching) over the sparse sampled
    * component graph — the deterministic, gateable member of the
    * Louvain family: synchronous per-node moves oscillate (label swaps)
    * and sequential Louvain is visit-order-dependent, while mutual-best
    * pair merges are order-free and monotone in Q. See
    * [[graft.graph.Algorithms.greedyModularity]]. Output labels =
    * each community's min member id; quality is scorable with G26. */
  def communityCluster(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.componentSample(spark, dir)
    // the sampled component graph is bounded by construction
    // (orders % 20, first line only) — assert it, probe-enforced
    Algorithms.greedyModularity(g.nodes, g.edges, GreedyModRounds,
      localBounded = LocalExec.RowCap)
  }

  /** DuckDB mirror of [[communityCluster]] — the same mutual-best merge
    * rounds unrolled in SQL (integer gains 2m·e_AB − D_A·D_B, the same
    * min-id tie break via ROW_NUMBER).
    *
    * `nodesSql` is the node universe the Spark side seeds communities
    * from; when None it derives from the edge endpoints — exactly right
    * for the gated componentSample instance, whose node frame IS
    * edge-endpoints-distinct by construction (PropertyGraph.scala), so
    * the two sides cannot disagree on isolated nodes there. An instance
    * whose node frame is wider than its edges (isolated nodes yield
    * singleton communities on the Spark side) MUST pass its own
    * nodesSql or the parity gate fails on the missing singletons. */
  /** `weighted = true` switches every count to a weight sum — edgesSql
    * must then yield (src, dst, w); the gains formula is unchanged with
    * W, w_AB, S standing in for m, e_AB, D (the Spark side's
    * greedyModularityWeighted delegation mirrors this exactly). */
  private def greedyModularityOracle(edgesSql: String, rounds: Int,
                                     nodesSql: Option[String] = None,
                                     weighted: Boolean = false): String = {
    val labW = if (weighted) ", e.w AS w" else ""
    val pairW = if (weighted) "SUM(w)" else "COUNT(*)"
    val roundsSql = (1 to rounds).map { r =>
      // every CTE referenced more than once per round (comm, w, d,
      // best) is MATERIALIZED: DuckDB inlines plain CTEs, and a
      // comm(r-1) inlined into four places per round makes the unrolled
      // expression tree EXPONENTIAL in the round count — the same
      // inliner trap the HITS/stress oracles pin with MATERIALIZED
      s"""lab$r AS (SELECT ca.c AS ca, cb.c AS cb$labW FROM e
         |  JOIN comm${r - 1} ca ON ca.node = e.src
         |  JOIN comm${r - 1} cb ON cb.node = e.dst),
         |w$r AS MATERIALIZED (SELECT LEAST(ca, cb) AS x,
         |    GREATEST(ca, cb) AS y, $pairW AS w
         |  FROM lab$r WHERE ca <> cb GROUP BY 1, 2),
         |d$r AS MATERIALIZED (SELECT c0.c AS community, SUM(deg.k) AS d
         |  FROM comm${r - 1} c0 JOIN deg ON deg.node = c0.node GROUP BY 1),
         |cand$r AS (SELECT t.c, t.p,
         |    2 * (SELECT m FROM mm) * t.w - a.d * b.d AS gain
         |  FROM (SELECT x AS c, y AS p, w FROM w$r
         |        UNION ALL SELECT y AS c, x AS p, w FROM w$r) t
         |  JOIN d$r a ON a.community = t.c
         |  JOIN d$r b ON b.community = t.p),
         |best$r AS MATERIALIZED (SELECT c, p FROM (
         |    SELECT c, p, ROW_NUMBER() OVER
         |      (PARTITION BY c ORDER BY gain DESC, p ASC) AS rn
         |    FROM cand$r WHERE gain > 0) WHERE rn = 1),
         |mutual$r AS (SELECT a.c, a.p FROM best$r a
         |  JOIN best$r b ON b.c = a.p AND b.p = a.c WHERE a.c < a.p),
         |comm$r AS MATERIALIZED (SELECT c0.node, COALESCE(mu.c, c0.c) AS c
         |  FROM comm${r - 1} c0 LEFT JOIN mutual$r mu ON mu.p = c0.c)"""
        .stripMargin
    }.mkString(",\n")
    val n0Sql = nodesSql.getOrElse(
      """SELECT DISTINCT src AS node FROM
        |  (SELECT src FROM e UNION SELECT dst FROM e) t(src)""".stripMargin)
    val eSql =
      if (weighted)
        """e AS MATERIALIZED (SELECT LEAST(src, dst) AS src,
          |  GREATEST(src, dst) AS dst, SUM(w) AS w
          |  FROM base WHERE src <> dst GROUP BY 1, 2)""".stripMargin
      else
        """e AS MATERIALIZED (SELECT LEAST(src, dst) AS src,
          |  GREATEST(src, dst) AS dst FROM base WHERE src <> dst)""".stripMargin
    val degSql =
      if (weighted)
        """deg AS MATERIALIZED (SELECT node, SUM(w) AS k FROM
          |  (SELECT src AS node, w FROM e UNION ALL SELECT dst, w FROM e)
          |  GROUP BY node)""".stripMargin
      else
        """deg AS MATERIALIZED (SELECT node, COUNT(*) AS k FROM
          |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
          |  GROUP BY node)""".stripMargin
    val mmSql = if (weighted) "mm AS (SELECT SUM(w) AS m FROM e)"
                else "mm AS (SELECT COUNT(*) AS m FROM e)"
    s"""WITH base AS MATERIALIZED ($edgesSql),
       |$eSql,
       |n0 AS ($n0Sql),
       |$degSql,
       |$mmSql,
       |comm0 AS (SELECT node, node AS c FROM n0),
       |$roundsSql
       |SELECT node, CAST(c AS BIGINT) AS community FROM comm$rounds"""
      .stripMargin
  }

  // --- G33: bridges (connectivity robustness) ---------------------------------

  /** The planted bridge instance: two components mixing every bridge
    * shape — a 5-cycle and 4-cycle joined by a bridge, a 2-edge pendant
    * chain (both edges bridges), a pendant leaf off a cycle; a triangle
    * bridged to a K4 with its own pendant leaf. 7 true bridges among 25
    * edges, none of them trivially "the low-degree ones" (the K4-triangle
    * bridge joins two dense blocks). Canonical pairs. */
  private[graft] val BridgeEdges: Seq[(Long, Long)] = Seq(
    // component 1: 5-cycle 1-2-3-4-5
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L),
    // 4-cycle 10-11-12-13, bridged from the 5-cycle
    (5L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L),
    // pendant chain off the 4-cycle and leaf off the 5-cycle
    (13L, 20L), (20L, 21L), (2L, 30L),
    // component 2: triangle 40-41-42 bridged to K4 60-63, leaf at 63
    (40L, 41L), (41L, 42L), (40L, 42L), (42L, 60L),
    (60L, 61L), (60L, 62L), (60L, 63L), (61L, 62L), (61L, 63L),
    (62L, 63L), (63L, 70L), (42L, 50L))

  /** BFS-depth cap for [[plantedBridges]] — the instance's eccentricity
    * from each component root is ≤ 8; 16 is slack, and the operator
    * fails loud (never truncates) if a graph outgrows its cap. */
  val BridgeRounds = 16

  /** G33: bridge detection on the planted instance — every edge whose
    * removal disconnects its component. See
    * [[graft.graph.Algorithms.bridges]]; the oracle is the DEFINITION
    * itself (per-candidate-removal reachability), making the gate
    * independent of both the local Tarjan and the distributed
    * forest+XOR-cover formulations. */
  def plantedBridges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Algorithms.bridges(BridgeEdges.toDF("src", "dst"), BridgeRounds)
  }

  private lazy val bridgeOracle: String = {
    val vals = BridgeEdges.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH RECURSIVE e AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
       |  FROM (VALUES $vals) t(a, b)),
       |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |-- reach(ea, eb, node): nodes reachable from ea with edge (ea, eb) removed
       |reach(ea, eb, node) AS (
       |  SELECT a, b, a FROM e
       |  UNION
       |  SELECT r.ea, r.eb, u.v FROM reach r JOIN und u ON u.u = r.node
       |  WHERE NOT (LEAST(u.u, u.v) = r.ea AND GREATEST(u.u, u.v) = r.eb))
       |SELECT a, b FROM e
       |WHERE NOT EXISTS (SELECT 1 FROM reach r
       |  WHERE r.ea = e.a AND r.eb = e.b AND r.node = e.b)""".stripMargin
  }

  // --- G34: articulation points (node-robustness audit) ------------------------

  /** G34: articulation points on the same planted instance as G33 — the
    * nodes whose removal disconnects their component (the NODE analog of
    * the bridge audit: 8 cut vertices — the cycle-junction 5 and 10, the
    * chain nodes 13 and 20, the leaf anchors 2, 42 and 63, and the
    * triangle-to-K4 connector 60). See
    * [[graft.graph.Algorithms.articulationPoints]]; the oracle is again
    * the DEFINITION itself (per-candidate-removal reachability), so the
    * gate is independent of both the local Tarjan low-link route and the
    * distributed Tarjan–Vishkin block labeling. */
  def plantedArticulation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Algorithms.articulationPoints(BridgeEdges.toDF("src", "dst"), BridgeRounds)
  }

  private lazy val articulationOracle: String = {
    val vals = BridgeEdges.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH RECURSIVE e AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
       |  FROM (VALUES $vals) t(a, b)),
       |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |nodes AS (SELECT DISTINCT u AS id FROM und),
       |-- full reachability per start: component label + size
       |fr(src, node) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT fr.src, und.v FROM fr JOIN und ON und.u = fr.node),
       |comp AS (SELECT src AS id, COUNT(*) AS csize FROM fr GROUP BY src),
       |compof AS (SELECT src AS id, MIN(node) AS c FROM fr GROUP BY src),
       |-- seed per candidate: the min other node of its component
       |seed AS (SELECT ca.id AS cand, MIN(cb.id) AS s
       |  FROM compof ca JOIN compof cb ON cb.c = ca.c AND cb.id <> ca.id
       |  GROUP BY ca.id),
       |-- rr(cand, node): reachable from the seed with cand removed
       |rr(cand, node) AS (
       |  SELECT cand, s FROM seed
       |  UNION
       |  SELECT rr.cand, und.v FROM rr JOIN und ON und.u = rr.node
       |  WHERE und.v <> rr.cand),
       |cnt AS (SELECT cand, COUNT(*) AS n FROM rr GROUP BY cand)
       |SELECT cnt.cand AS id FROM cnt
       |JOIN comp ON comp.id = cnt.cand
       |WHERE cnt.n < comp.csize - 1""".stripMargin
  }

  // --- G35: biconnected components (block partition) ---------------------------

  /** G35: biconnected components on the same planted instance as
    * G33/G34 — every edge tagged with its 2-connected cluster, labeled
    * by the block's lexicographically minimal edge. The instance's 25
    * edges fall into exactly 11 blocks: the 5-cycle, 4-cycle, triangle
    * and K4 (4 dense blocks) plus the 7 bridges, each alone in its own
    * block. See [[graft.graph.Algorithms.biconnectedComponents]]. */
  def plantedBiconnected(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Algorithms.biconnectedComponents(BridgeEdges.toDF("src", "dst"),
      BridgeRounds)
  }

  /** DuckDB mirror of [[plantedBiconnected]] — the DEFINITION of the
    * block partition, independent of both the local Tarjan edge stack
    * and the distributed Tarjan–Vishkin labeling: two adjacent edges
    * (u, v), (v, w) lie on a common simple cycle — hence in one block —
    * iff u and w stay connected with v removed; blocks are the
    * transitive closure of that relation (a bridge links to nothing and
    * stays alone); the label is the block's lexicographically minimal
    * edge (min vertex would collide across blocks — see the operator
    * doc).
    *
    * SIZE BOUND (r20 ADVICE): the `rm` CTE enumerates reachability for
    * every (candidate vertex, source) pair — O(V²·E) recursive closure.
    * Fine on the fixed 25-edge planted instance this oracle gates;
    * silently intractable if a future gate instance grows — a larger
    * instance needs a different oracle shape (per-articulation BFS, or
    * the unrolled block labeling), not this definitional one. */
  private lazy val biconnectedOracle: String = {
    val vals = BridgeEdges.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH RECURSIVE e AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
       |  FROM (VALUES $vals) t(a, b)),
       |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |nodes AS (SELECT DISTINCT u AS id FROM und),
       |-- rm(cand, src, node): nodes reachable from src in G - cand
       |rm(cand, src, node) AS (
       |  SELECT c.id, s.id, s.id FROM nodes c JOIN nodes s ON s.id <> c.id
       |  UNION
       |  SELECT rm.cand, rm.src, und.v FROM rm JOIN und ON und.u = rm.node
       |  WHERE und.v <> rm.cand),
       |-- edge incidences: edge (a, b) seen from shared vertex v with
       |-- other endpoint o
       |inc AS (SELECT a, b, a AS v, b AS o FROM e
       |  UNION ALL SELECT a, b, b AS v, a AS o FROM e),
       |-- adjacent edges sharing v whose other endpoints survive v's
       |-- removal together → common cycle → same block
       |link AS (SELECT i1.a AS a1, i1.b AS b1, i2.a AS a2, i2.b AS b2
       |  FROM inc i1 JOIN inc i2 ON i2.v = i1.v
       |  WHERE (i1.a <> i2.a OR i1.b <> i2.b)
       |    AND EXISTS (SELECT 1 FROM rm
       |      WHERE rm.cand = i1.v AND rm.src = i1.o AND rm.node = i2.o)),
       |-- closure: every edge reaches every edge of its block
       |blk(a, b, ra, rb) AS (
       |  SELECT a, b, a, b FROM e
       |  UNION
       |  SELECT blk.a, blk.b, l.a2, l.b2 FROM blk
       |  JOIN link l ON l.a1 = blk.ra AND l.b1 = blk.rb),
       |-- lexicographic min edge of each block: min ra, then min rb
       |-- among reachable edges at that ra
       |ba AS (SELECT a, b, MIN(ra) AS block_a FROM blk GROUP BY a, b)
       |SELECT blk.a, blk.b, ba.block_a, MIN(blk.rb) AS block_b
       |FROM blk JOIN ba ON ba.a = blk.a AND ba.b = blk.b
       |  AND blk.ra = ba.block_a
       |GROUP BY 1, 2, 3"""
      .stripMargin
  }

  // --- G26b/G27b: weighted community operators --------------------------------

  /** G26b: WEIGHTED modularity of the nation partition — the same
    * bipartite order graph as G26, but each (customer, supplier) edge
    * now carries its interaction strength: the number of lineitem rows
    * between the pair (G26 collapses a 40-order relationship and a
    * 1-order one to the same edge). Real community scoring runs on
    * weighted similarity/co-occurrence graphs; this is that form on the
    * gate's own data. Published exactly as integers per community:
    * (community, w_intra, s_sum, q_num_4w2 = 4·W·W_c − S_c², w_total);
    * see [[graft.graph.Algorithms.modularityWeighted]]. */
  def nationModularityWeighted(spark: SparkSession, dir: String): DataFrame = {
    // weight = raw pair multiplicity: modularityWeighted pre-sums parallel
    // rows after canonicalization, so w ≡ 1 per RAW row yields the
    // lineitem count per (customer, supplier) pair
    val e = PropertyGraph.bipartiteEdgesRaw(spark, dir).withColumn("w", lit(1L))
    val cust = graft.sources.Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("node"),
      col("c_nationkey").cast("long").as("community"))
    val supp = graft.sources.Tables.supplier(spark, dir).select(
      (col("s_suppkey").cast("long") + Off).as("node"),
      col("s_nationkey").cast("long").as("community"))
    Algorithms.modularityWeighted(e, cust.unionByName(supp))
  }

  /** DuckDB mirror of [[nationModularityWeighted]] — the weighted
    * integer recipe in plain SQL over the same parquet tables. */
  private val modularityWOracle: String =
    s"""WITH raw AS (SELECT CAST(o_custkey AS BIGINT) AS a,
       |    CAST(l_suppkey + $Off AS BIGINT) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT a, b, COUNT(*) AS w FROM raw GROUP BY 1, 2),
       |comm AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS node,
       |    CAST(c_nationkey AS BIGINT) AS community FROM customer
       |  UNION ALL
       |  SELECT CAST(s_suppkey + $Off AS BIGINT),
       |    CAST(s_nationkey AS BIGINT) FROM supplier),
       |lab AS MATERIALIZED (SELECT ca.community AS ca, cb.community AS cb, e.w
       |  FROM e JOIN comm ca ON ca.node = e.a JOIN comm cb ON cb.node = e.b),
       |wt AS (SELECT SUM(w) AS w FROM lab),
       |strength AS (SELECT community, SUM(w) AS s FROM
       |  (SELECT ca AS community, w FROM lab UNION ALL SELECT cb, w FROM lab)
       |  GROUP BY 1),
       |intra AS (SELECT ca AS community, SUM(w) AS wi FROM lab
       |  WHERE ca = cb GROUP BY 1)
       |SELECT s.community,
       |  CAST(COALESCE(i.wi, 0) AS BIGINT) AS w_intra,
       |  CAST(s.s AS BIGINT) AS s_sum,
       |  CAST(4 * (SELECT w FROM wt) * COALESCE(i.wi, 0) - s.s * s.s AS BIGINT)
       |    AS q_num_4w2,
       |  CAST((SELECT w FROM wt) AS BIGINT) AS w_total
       |FROM strength s LEFT JOIN intra i ON i.community = s.community"""
      .stripMargin

  /** G27b: WEIGHTED greedy modularity clustering over the same sampled
    * component graph as G27, each sampled edge weighted by its order's
    * first-line quantity — merges now chase summed interaction
    * strength, not edge counts (two communities joined by one heavy
    * edge can out-rank two joined by several light ones, the behavior
    * weighted community detection exists for). Same mutual-best
    * deterministic trajectory, gains in DECIMAL(38,0); see
    * [[graft.graph.Algorithms.greedyModularityWeighted]]. */
  def communityClusterWeighted(spark: SparkSession, dir: String): DataFrame = {
    val e = weightedSampleEdges(spark, dir)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    Algorithms.greedyModularityWeighted(nodes, e, GreedyModRounds,
      localBounded = LocalExec.RowCap)
  }

  /** The G27 component sample with a weight column: l_quantity of the
    * sampled order's first line (integral 1..50 in TPC-H — cast exact),
    * summed per canonical pair by the operator. */
  private def weightedSampleEdges(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.lineitem(spark, dir)
      .filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("w"))
      .join(graft.sources.Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + Off).as("dst"), col("w"))

  private val weightedSampleEdgesSql: String =
    s"""SELECT CAST(o_custkey AS BIGINT) AS src,
       |  CAST(l_suppkey + $Off AS BIGINT) AS dst,
       |  CAST(l_quantity AS BIGINT) AS w
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_linenumber = 1 AND o_orderkey % 20 = 0""".stripMargin

  // --- G28/G29: graph-level structure metrics ---------------------------------

  /** G28: directed degree assortativity moments on the real Wiki-Vote
    * graph — per edge u→v, x = outdeg(u) and y = indeg(v); published as
    * the ONE exact integer row (m, Σx, Σy, Σxy, Σx², Σy²), from which
    * Pearson's r = (mΣxy − ΣxΣy)/√((mΣx²−(Σx)²)(mΣy²−(Σy)²)) is a
    * driver-side formula — the closeness publish-the-integers move
    * again: moments are BIGINT-exact, the correlation needs no float
    * protocol. Scale shape: two degree aggs, two hash joins onto the
    * edge relation, one global agg (partial-combined) — no iteration.
    * Moment magnitudes are ≤ m·maxdeg², far inside BIGINT here;
    * trillion-edge corpora would lift the moments to DECIMAL. */
  def wikivoteAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = wikiVote(spark).edges.select(col("src"), col("dst"))
    val outd = e.groupBy(col("src")).agg(count(lit(1)).as("x"))
    val ind = e.groupBy(col("dst")).agg(count(lit(1)).as("y"))
    e.join(outd, Seq("src")).join(ind, Seq("dst"))
      .agg(count(lit(1)).as("m_edges"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
  }

  private val assortativityOracle: String =
    s"""WITH e AS MATERIALIZED ($wikiEdgesSql),
       |outd AS (SELECT src, COUNT(*) AS x FROM e GROUP BY src),
       |ind AS (SELECT dst, COUNT(*) AS y FROM e GROUP BY dst)
       |SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
       |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
       |  CAST(SUM(x * y) AS BIGINT) AS sum_xy,
       |  CAST(SUM(x * x) AS BIGINT) AS sum_x2,
       |  CAST(SUM(y * y) AS BIGINT) AS sum_y2
       |FROM e JOIN outd ON outd.src = e.src JOIN ind ON ind.dst = e.dst"""
      .stripMargin

  /** G29: reciprocity of the directed Wiki-Vote graph — of m directed
    * edges, how many have their reverse present (self-loops excluded
    * from both counts). Published as the exact integer pair
    * (m_edges, reciprocal); r = reciprocal/m driver-side.
    *
    * r22 shape: ONE pass — group raw non-loop edges by the canonical
    * unordered pair (lo, hi) and record which directions appear
    * (max-of-indicator absorbs duplicate directed edges, so no separate
    * DISTINCT). Then m_edges = Σ(fwd + rev) — every distinct directed
    * edge contributes exactly one indicator — and reciprocal =
    * 2·Σ(fwd·rev) — a pair has both directions iff both indicators are
    * 1, and such a pair contributes both of its edges to the reciprocal
    * count. The previous form (distinct + self-semi-join on the
    * reversed copy + two counts) scanned the edge source THREE times
    * with three distinct exchanges and a join; this is one scan, one
    * pair-keyed exchange (map-side combined), and a scalar agg.
    * GraphSpec pins the two formulations equal on the real graph. */
  def wikivoteReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val e = wikiVote(spark).edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    e.groupBy(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .agg(max(when(col("src") < col("dst"), 1L).otherwise(0L)).as("fwd"),
        max(when(col("src") > col("dst"), 1L).otherwise(0L)).as("rev"))
      .agg(sum(col("fwd") + col("rev")).as("m_edges"),
        (sum(col("fwd") * col("rev")) * 2).as("reciprocal"))
  }

  private val reciprocityOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst
       |  FROM ($wikiEdgesSql) WHERE src <> dst)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS m_edges,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e a
       |   WHERE EXISTS (SELECT 1 FROM e b
       |     WHERE b.src = a.dst AND b.dst = a.src)) AS reciprocal"""
      .stripMargin

  // --- G30: local clustering coefficient / transitivity ----------------------

  /** G30: per-node local clustering substrate on the real power-law
    * graph — the structure metric a graph-db user asks for right after
    * triangles and degree. Published as the exact integer pair
    * (n_tri, n_wedges = d·(d−1)/2); the coefficient n_tri/n_wedges is a
    * driver-side ratio, no float protocol. Rides the degree-oriented
    * triangle substrate ([[graft.graph.Algorithms.clustering]]). */
  def wikivoteClustering(spark: SparkSession, dir: String): DataFrame = {
    val g = wikiVote(spark)
    Algorithms.clustering(g.nodes, g.edges)
  }

  /** Shared SQL body: per-node (n_tri, n_wedges) over the Wiki-Vote
    * undirected closure — the same triangle recount the G15e oracle
    * runs, extended with the wedge counts. */
  private def wikiClusteringCte: String =
    s"""base AS ($wikiEdgesSql),
       |n AS ($wikiNodesSql),
       |ce AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |  greatest(src, dst) AS b FROM base WHERE src <> dst),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM ce e1 JOIN ce e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN ce e3 ON e3.a = e1.b AND e3.b = e2.b),
       |cnt AS (SELECT id, count(*) AS n_tri FROM (
       |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri) GROUP BY id),
       |deg AS (SELECT id, count(*) AS d FROM (
       |  SELECT a AS id FROM ce UNION ALL SELECT b FROM ce) GROUP BY id),
       |pairs AS (SELECT n.id,
       |  CAST(COALESCE(cnt.n_tri, 0) AS BIGINT) AS n_tri,
       |  CAST(COALESCE(deg.d * (deg.d - 1) // 2, 0) AS BIGINT) AS n_wedges
       |FROM n LEFT JOIN cnt ON cnt.id = n.id LEFT JOIN deg ON deg.id = n.id)"""
      .stripMargin

  private val clusteringOracle: String =
    s"""WITH $wikiClusteringCte
       |SELECT id, n_tri, n_wedges FROM pairs""".stripMargin

  /** G30b: global transitivity as ONE exact integer row — Σn_tri counts
    * every triangle at its three corners (= 3·#triangles) and Σn_wedges
    * counts all connected triples; transitivity = closed/total
    * driver-side. */
  def wikivoteTransitivity(spark: SparkSession, dir: String): DataFrame =
    wikivoteClustering(spark, dir)
      .agg(sum(col("n_tri")).as("closed_triplets"),
        sum(col("n_wedges")).as("total_wedges"))

  private val transitivityOracle: String =
    s"""WITH $wikiClusteringCte
       |SELECT CAST(SUM(n_tri) AS BIGINT) AS closed_triplets,
       |  CAST(SUM(n_wedges) AS BIGINT) AS total_wedges FROM pairs"""
      .stripMargin

  // --- G32: core decomposition (coreness) -------------------------------------

  /** H-index round cap for [[wikivoteCoreness]]: the iteration converges
    * on Wiki-Vote in 27 rounds (max core 53), and the gate itself proves
    * cap coverage — the Spark side publishes the EXACT Matula–Beck peel
    * (LocalExec twin on the bounded graph), the oracle unrolls the
    * h-index iteration, and they agree iff round `CorenessRounds`
    * reached the fixpoint. */
  val CorenessRounds = 30

  /** G32: core number per node on the real power-law graph — the full
    * k-core decomposition in one pass (G14 answers ONE k; this ranks
    * every node by nesting depth, the density score a corpus pipeline
    * actually selects on). Distributed path = h-index fixpoint iteration
    * (one map-side-combined edge aggregation + a node-sized sort-fold
    * per round — see [[graft.graph.Algorithms.coreness]]); bounded gated
    * instance routes to the exact peel twin. `g_coreness@dist` measures
    * the distributed path in the sweep. */
  def wikivoteCoreness(spark: SparkSession, dir: String): DataFrame = {
    val g = wikiVote(spark)
    Algorithms.coreness(g.nodes, g.edges, CorenessRounds, numParts = 4)
  }

  /** DuckDB mirror of [[wikivoteCoreness]] — the h-index iteration
    * unrolled: per round, rank each node's neighbor values descending
    * and take max(least(rank, value)). A genuinely different algorithm
    * from the peel the Spark side publishes; exact agreement is also
    * the convergence-within-cap proof. */
  private def corenessOracle(edgesSql: String, nodesSql: String,
                             rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""c$r AS MATERIALIZED (SELECT src AS node, MAX(LEAST(rk, c)) AS c
         |FROM (SELECT ue.src, p.c,
         |    ROW_NUMBER() OVER (PARTITION BY ue.src ORDER BY p.c DESC) AS rk
         |  FROM ue JOIN c${r - 1} p ON p.node = ue.dst) GROUP BY 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($edgesSql),
       |n AS ($nodesSql),
       |ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)
       |  WHERE src <> dst),
       |c0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS c FROM ue GROUP BY 1),
       |$rs
       |SELECT n.id, CAST(COALESCE(f.c, 0) AS BIGINT) AS coreness
       |FROM n LEFT JOIN c$rounds f ON f.node = n.id""".stripMargin
  }

  // --- G31: k-truss decomposition --------------------------------------------

  /** Truss parameters for [[wikivoteKTruss]]: k = 10 (every surviving
    * edge sits in ≥ 8 triangles among survivors) does real cascading
    * peel work on Wiki-Vote's dense core; 3 rounds is a CAP matched
    * exactly by the oracle's unroll — the gate holds whether or not the
    * peel has converged (both engines stop after the same round). */
  val KTrussK = 10
  val KTrussRounds = 3

  /** G31: k-truss of the real power-law graph — the edge-support analog
    * of k-core (every edge of the k-truss participates in ≥ k−2
    * triangles within it), the standard dense-subgraph refinement a
    * graph analyst reaches for after k-core. Output: surviving
    * canonical edges with their in-truss support, exact integers.
    * See [[graft.graph.Algorithms.kTruss]]. */
  def wikivoteKTruss(spark: SparkSession, dir: String): DataFrame =
    Algorithms.kTruss(wikiVote(spark).edges, KTrussK, KTrussRounds,
      numParts = 4)

  /** Unrolled synchronous edge peel: per round, triangle support among
    * the survivors → keep support ≥ k−2, `rounds` times, then the final
    * survivors' supports (the same trailing recompute the Spark side
    * runs on a cap exit). Every round's live set is MATERIALIZED —
    * DuckDB's CTE inlining would otherwise make the unrolled triangle
    * tree exponential in the round count (the greedy-modularity oracle's
    * inliner trap). */
  private def ktrussOracle(edgesSql: String, k: Int, rounds: Int): String = {
    val t = k - 2
    def supSql(live: String, name: String) =
      s"""tri_$name AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $live e1 JOIN $live e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN $live e3 ON e3.a = e1.b AND e3.b = e2.b),
         |sup_$name AS MATERIALIZED (SELECT a, b, count(*) AS s FROM (
         |  SELECT x AS a, y AS b FROM tri_$name
         |  UNION ALL SELECT x, z FROM tri_$name
         |  UNION ALL SELECT y, z FROM tri_$name) GROUP BY 1, 2)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s"""${supSql(s"live${i - 1}", s"r$i")},
         |live$i AS MATERIALIZED (SELECT l.a, l.b FROM live${i - 1} l
         |  JOIN sup_r$i s ON s.a = l.a AND s.b = l.b WHERE s.s >= $t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($edgesSql),
       |live0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |  greatest(src, dst) AS b FROM base WHERE src <> dst),
       |$peels,
       |${supSql(s"live$rounds", "fin")}
       |SELECT l.a, l.b, CAST(COALESCE(s.s, 0) AS BIGINT) AS support
       |FROM live$rounds l
       |LEFT JOIN sup_fin s ON s.a = l.a AND s.b = l.b""".stripMargin
  }

  // --- G16: common-neighbor link scoring ------------------------------------

  /** Witness-degree cap for [[commonNeighbors]]: nodes with more than
    * this many (undirected, distinct) neighbors do not act as witnesses.
    * 50 keeps the per-witness pair fan-out ≤ 50²; Wiki-Vote's hubs reach
    * degree ~1000, i.e. ~10⁶ pairs EACH without the cap. */
  val WitnessDegCap = 50
  val CommonNbrTopK = 100

  /** G16: top-K node pairs by common-neighbor count (link-prediction
    * scoring) on the real power-law graph — beyond the reference's own
    * surface, the classic "friends of friends" candidate generator.
    *
    * Scale shape: the witness self-join costs Σ_w deg(w)² — quadratic in
    * each hub's degree, which is exactly what a power-law graph cannot
    * afford. The standard answer (used here) is the witness-degree cap:
    * hubs are excluded as witnesses, bounding the join at Σ min(deg,c)²
    * (≈ linear in edges) — principled as well as cheap, since
    * co-adjacency to a hub carries near-zero link signal (the same
    * insight Adamic-Adar formalizes by 1/log(deg) down-weighting). The
    * cap predicate joins on the (graph-sized, SF-scaled) degree table
    * with no broadcast hint — AQE picks broadcast while it fits. Top-K
    * ordering (score DESC, a, b) is a total order → deterministic. */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame =
    commonNeighborsOf(wikiVote(spark).edges, WitnessDegCap, CommonNbrTopK)

  /** Core of G16 over any directed (src, dst) edge frame, treated as
    * undirected with self-loops and duplicate edges collapsed. */
  def commonNeighborsOf(edges: DataFrame, cap: Int, topK: Int): DataFrame = {
    val e = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // checkpoint the adjacency once: it feeds the degree count AND both
    // sides of the witness self-join — without it each consumer re-reads
    // and re-dedups the raw edge source (8 scans observed). The capped
    // adjacency is the link-scoring INDEX over the stored graph, so it is
    // additionally memoized per (edges instance, cap) across a warm
    // window (LocalExec.derive): repeat queries pay the witness join
    // only, the same index-once trade the lookup family makes.
    val capped = LocalExec.derive(edges, s"cn-capped-$cap") { _ =>
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .union(e.select(col("v").as("node"), col("u").as("nbr")))
        .localCheckpoint()
      val witnesses = adj.groupBy(col("node")).agg(count(lit(1)).as("c"))
        .filter(col("c") <= cap).select(col("node").as("w"))
      adj.join(witnesses, adj("nbr") === witnesses("w"))
        .select(col("node"), col("nbr"))
        .localCheckpoint()
    }
    capped.as("x").join(capped.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("a"), col("y.node").as("b"))
      .agg(count(lit(1)).as("n_common"))
      .orderBy(col("n_common").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** G17: Adamic-Adar link scoring — common neighbors weighted by
    * 1/ln(degree of the witness), so prolific witnesses count less (the
    * standard refinement of G16; same capped-witness join shape, one
    * extra degree column carried through). Per-witness weights snap
    * through DECIMAL(18,12) BEFORE the sum: decimal addition is exact
    * and associative, so the aggregate is immune to partial-agg ordering
    * where a raw double sum would flake the cross-engine hash. */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame =
    adamicAdarOf(wikiVote(spark).edges, WitnessDegCap, CommonNbrTopK)

  def adamicAdarOf(edges: DataFrame, cap: Int, topK: Int): DataFrame = {
    val e = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // weighted capped adjacency = the Adamic-Adar index over the stored
    // graph, memoized per (edges instance, cap) like G16's (see there)
    val capped = LocalExec.derive(edges, s"aa-capped-$cap") { _ =>
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .union(e.select(col("v").as("node"), col("u").as("nbr")))
        .localCheckpoint()
      // a common neighbor of two nodes has degree >= 2 — degree-1 nodes
      // can never witness a pair, and must be dropped BEFORE the weight
      // expression or 1/ln(1) divides by zero under ANSI
      val witnesses = adj.groupBy(col("node")).agg(count(lit(1)).as("wdeg"))
        .filter(col("wdeg") >= 2 && col("wdeg") <= cap)
        .select(col("node").as("w"), col("wdeg"))
      adj.join(witnesses, adj("nbr") === witnesses("w"))
        .select(col("node"), col("nbr"),
          expr("CAST(1.0d / ln(CAST(wdeg AS DOUBLE)) AS DECIMAL(18,12))").as("wgt"))
        .localCheckpoint()
    }
    capped.as("x").join(capped.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("a"), col("y.node").as("b"))
      .agg(expr("CAST(round(sum(x.wgt), 6) AS DOUBLE)").as("aa_score"),
        count(lit(1)).as("n_common"))
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(topK)
  }

  val adamicAdarOracle: String =
    s"""WITH base AS ($wikiEdgesSql),
       |ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM base WHERE src <> dst),
       |adj AS (SELECT u AS node, v AS nbr FROM ue UNION ALL SELECT v, u FROM ue),
       |wit AS (SELECT node, count(*) AS wdeg FROM adj GROUP BY node
       |  HAVING count(*) BETWEEN 2 AND $WitnessDegCap),
       |capped AS (SELECT adj.node, adj.nbr,
       |    CAST(1.0 / ln(CAST(wdeg AS DOUBLE)) AS DECIMAL(18,12)) AS wgt
       |  FROM adj JOIN wit ON wit.node = adj.nbr)
       |SELECT x.node AS a, y.node AS b,
       |  CAST(round(sum(x.wgt), 6) AS DOUBLE) AS aa_score,
       |  count(*) AS n_common
       |FROM capped x JOIN capped y ON y.nbr = x.nbr AND x.node < y.node
       |GROUP BY 1, 2
       |ORDER BY aa_score DESC, a, b LIMIT $CommonNbrTopK""".stripMargin

  val commonNeighborsOracle: String =
    s"""WITH base AS ($wikiEdgesSql),
       |ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM base WHERE src <> dst),
       |adj AS (SELECT u AS node, v AS nbr FROM ue UNION ALL SELECT v, u FROM ue),
       |wit AS (SELECT node FROM adj GROUP BY node HAVING count(*) <= $WitnessDegCap)
       |SELECT x.node AS a, y.node AS b, count(*) AS n_common
       |FROM adj x JOIN wit ON wit.node = x.nbr
       |JOIN adj y ON y.nbr = x.nbr AND x.node < y.node
       |GROUP BY 1, 2
       |ORDER BY n_common DESC, a, b LIMIT $CommonNbrTopK""".stripMargin

  // --- G9: PageRank ---------------------------------------------------------

  /** G9 runs SNAPPED (9 dp per iteration) like `g_wikivote_pagerank` —
    * snapping is what makes the contribution sum order-independent, which
    * licenses the driver-local twin on this bounded graph (the raw-double
    * run is ~25 scheduled superstep jobs for microseconds of compute);
    * GraphSpec proves snap-9 ≡ raw to ≤1e-6 on the far more hub-skewed
    * Wiki-Vote graph, so on the regular nation cliques the 6-dp output is
    * unchanged. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.nationAdjacency(spark, dir)
    GraphXBridge.pageRank(spark, g, iters = 10, d = 0.85, numParts = 2, snap = 9)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  // --- G20: random-walk sampling --------------------------------------------

  /** Walk length and seed stride for [[randomWalks]]. */
  val WalkSteps = 4
  val WalkSeedStride = 50L

  /** 32-bit draw from md5 — the wide sibling of TextAnalysis.sparkPermille
    * (8 hex chars instead of 4, so a `% degree` is unbiased-enough for any
    * realistic out-degree instead of capping at 1000). */
  private def sparkHash32(arg: String): String =
    s"CAST(conv(substring(md5($arg), 1, 8), 16, 10) AS BIGINT)"

  /** DuckDB mirror of [[sparkHash32]] (hex-digit integer arithmetic). */
  private def duckHash32(arg: String): String = {
    val hv = (0 until 8).map(k =>
      s"(strpos('0123456789abcdef', substr(md5($arg), ${k + 1}, 1)) - 1) * ${1L << (4 * (7 - k))}")
      .mkString(" + ")
    s"CAST($hv AS BIGINT)"
  }

  /** G20: deterministic random-walk sampling (the node2vec/DeepWalk
    * corpus-generation primitive — the walks ARE the training sentences
    * of graph-embedding pretraining). From every seed (Wiki-Vote node id
    * ≡ 0 mod [[WalkSeedStride]] with out-edges), take [[WalkSteps]]
    * steps; step t from node u draws the md5-hash32 of
    * "start_t_u" mod out-degree over u's SORTED out-neighbor list —
    * deterministic, engine-independent, and position-dependent (a
    * revisited node draws a fresh neighbor). Walks stop early at sinks.
    * Output: one row per visited step (start, step, node).
    *
    * Scale shape: the adjacency (sorted out-neighbor arrays) is built
    * with ONE shuffle and checkpointed; each step is an equi-join of the
    * current frontier against it — at 10⁹ seeds that is a shuffle join
    * per step (walk fan-out is seeds-bounded, never edge-bounded), the
    * standard distributed walk-sampling plan. On the bench graph the
    * frontier is tiny, so the per-step join broadcasts. */
  def randomWalks(spark: SparkSession, dir: String): DataFrame = {
    val adj = LocalExec.derive(wikiVote(spark).edges, "walk-adj")(e =>
      e.groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("nbrs"))
        .localCheckpoint())
    var frontier = adj.filter(col("src") % WalkSeedStride === 0)
      .select(col("src").as("start"), col("src").as("node"))
    val steps = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("start"), lit(0).as("step"), col("node")))
    for (t <- 1 to WalkSteps) {
      // checkpoint each frontier (the BFS pattern): without it the final
      // union's branches re-execute the whole join chain independently —
      // O(S²/2) adjacency joins per action instead of one per step
      frontier = frontier
        .join(adj, col("node") === col("src"))
        .select(col("start"),
          element_at(col("nbrs"), (expr(sparkHash32(
            s"concat(CAST(start AS STRING), '_', CAST($t AS STRING), '_', CAST(node AS STRING))"))
            % size(col("nbrs"))).cast("int") + 1).as("node"))
        .localCheckpoint()
      steps += frontier.select(col("start"), lit(t).as("step"), col("node"))
    }
    steps.reduce(_ unionByName _)
  }

  def randomWalksOracle: String = {
    val stepsSql = (1 to WalkSteps).map { t =>
      val h = duckHash32(
        s"CAST(w.start AS VARCHAR) || '_' || CAST($t AS VARCHAR) || '_' || CAST(w.node AS VARCHAR)")
      s"""w$t AS (SELECT w.start, a.nbrs[CAST($h % len(a.nbrs) AS INT) + 1] AS node
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.node)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to WalkSteps)
      .map(t => s"SELECT start, $t AS step, node FROM w$t").mkString("\nUNION ALL\n")
    s"""WITH e AS ($wikiEdgesSql),
       |adj AS (SELECT src, list_sort(list(dst)) AS nbrs FROM e GROUP BY src),
       |w0 AS (SELECT src AS start, src AS node FROM adj WHERE src % $WalkSeedStride = 0),
       |$stepsSql
       |$unions""".stripMargin
  }

  /** G19: personalized PageRank — random-walk-with-restart relevance
    * seeded at nation 0 on the region-clique graph: rank mass stays
    * concentrated in nation 0's region (its clique peers), with only
    * leaked mass elsewhere — the seeded-similarity score. Snap = 9 per
    * iteration (see [[Algorithms.personalizedPageRank]]); output rounded
    * to 6 dp like the other rank operators. */
  val PprSource = 0L
  val PprIters = 10

  def personalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.nationAdjacency(spark, dir)
    Algorithms.personalizedPageRank(g.nodes, g.edges, PprSource, PprIters,
        d = 0.85, snap = 9)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Unrolled personalized-PageRank SQL: r₀ = [node = source]; each round
    * r := round((1-d)·[node = source] + d·Σ r(src)/outdeg(src), snap) —
    * the same expression tree as the Spark loop, so doubles agree
    * bit-for-bit under the per-iteration snap. */
  private def pprOracle(edgesSql: String, nodesSql: String, source: Long,
                        iters: Int, d: Double, snap: Int): String = {
    val tele = s"(CAST(1 AS DOUBLE) - CAST($d AS DOUBLE)) * " +
      s"(CASE WHEN t.node = $source THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT t.node,
         |  round($tele + CAST($d AS DOUBLE) * COALESCE(SUM(p.rank / deg.c), 0), $snap) AS rank
         |  FROM r0 t LEFT JOIN e ON e.dst = t.node
         |  LEFT JOIN r${i - 1} p ON p.node = e.src
         |  LEFT JOIN deg ON deg.src = e.src
         |  GROUP BY t.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |nodes AS ($nodesSql),
       |deg AS (SELECT src, count(*) AS c FROM e GROUP BY src),
       |r0 AS (SELECT id AS node,
       |  CASE WHEN id = $source THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rank
       |  FROM nodes),
       |$rounds
       |SELECT node, round(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  // --- G10: triangles -------------------------------------------------------

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.nationAdjacency(spark, dir)
    Algorithms.triangleCounts(g.nodes, g.edges)
  }

  // --- G12: label propagation ----------------------------------------------

  val LpaRounds = 3

  /** Synchronous LPA on the nation-adjacency cliques; deterministic
    * tie-break (most-frequent neighbor label, then smallest label) makes
    * the fixed rounds SQL-oracle-able via unrolled aggregation. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.nationAdjacency(spark, dir)
    // 25 nations; the derived clique join hides that from plan stats, so
    // assert the bound (probe-enforced)
    Algorithms.labelPropagation(g.nodes, g.edges, rounds = LpaRounds,
      localBounded = 1 << 16)
  }

  // --- G18: strongly connected components ----------------------------------

  /** G18: SCC over a planted directed graph — each region's nations form
    * a directed cycle (one SCC per region) and the regions' minimum
    * nations form a DAG chain between them (inter-SCC edges that must NOT
    * merge components; they also exercise the condensation-depth loop).
    * Labels are each SCC's minimum member — identical across the
    * DataFrame trim+coloring loop ([[graft.graph.Algorithms.scc]], the
    * at-scale path) and the driver-local Tarjan twin (which serves at
    * bench SFs). Cross-references the
    * reference's directed-graph family (databases.py:129-137). */
  def scc(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.sources.Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("id"),
        col("n_regionkey").cast("long").as("rk"))
      .selectExpr("id", "rk",
        "row_number() OVER (PARTITION BY rk ORDER BY id) AS pos",
        "count(*) OVER (PARTITION BY rk) AS cnt")
    val cyc = r.as("a").join(r.as("b"),
        col("a.rk") === col("b.rk") &&
          col("b.pos") === col("a.pos") % col("a.cnt") + 1)
      .select(col("a.id").as("src"), col("b.id").as("dst"))
    val m = r.groupBy(col("rk")).agg(min(col("id")).as("mid"))
    val chain = m.as("a").join(m.as("b"), col("b.rk") === col("a.rk") + 1)
      .select(col("a.mid").as("src"), col("b.mid").as("dst"))
    Algorithms.scc(r.select(col("id")), cyc.union(chain), numParts = 4)
  }

  /** SCC oracle: same planted graph in SQL, then mutual reachability via
    * log-many closure squarings (r0 is reflexive, so r_k covers paths up
    * to 2^k; 5 squarings cover 32 > the 25-node graph's longest path) and
    * comp(u) = min{v : u→v AND v→u} — u itself is always in the set via
    * reflexivity, so every node is labeled. */
  private val sccOracle: String = {
    val squarings = (1 to 5).map { i =>
      s"r$i AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r${i - 1} a JOIN r${i - 1} b ON a.v = b.u)"
    }.mkString(",\n")
    s"""WITH r AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
       |    CAST(n_regionkey AS BIGINT) AS rk,
       |    row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
       |    count(*) OVER (PARTITION BY n_regionkey) AS cnt
       |  FROM nation),
       |cyc AS (SELECT a.id AS src, b.id AS dst FROM r a JOIN r b
       |  ON a.rk = b.rk AND b.pos = a.pos % a.cnt + 1),
       |m AS (SELECT rk, min(id) AS mid FROM r GROUP BY 1),
       |chain AS (SELECT a.mid AS src, b.mid AS dst FROM m a JOIN m b ON b.rk = a.rk + 1),
       |e AS (SELECT src, dst FROM cyc UNION ALL SELECT src, dst FROM chain),
       |r0 AS (SELECT src AS u, dst AS v FROM e UNION SELECT id, id FROM r),
       |$squarings
       |SELECT f.u AS node, min(f.v) AS comp
       |FROM r5 f JOIN r5 g ON g.u = f.v AND g.v = f.u
       |GROUP BY 1""".stripMargin
  }

  /** Unrolled synchronous LPA: freq → per-node best (count desc, label
    * asc) → relabel, `iters` times. */
  private def lpaOracle(edgesSql: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""f$i AS (SELECT ue.src AS node, l.lbl, count(*) AS cnt
         |  FROM ue JOIN l${i - 1} l ON l.node = ue.dst GROUP BY 1, 2),
         |b$i AS (SELECT node, lbl AS newlbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rk
         |    FROM f$i) WHERE rk = 1),
         |l$i AS MATERIALIZED (SELECT l.node, COALESCE(b.newlbl, l.lbl) AS lbl
         |  FROM l${i - 1} l LEFT JOIN b$i b ON b.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($edgesSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
       |l0 AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS node,
       |  CAST(n_nationkey AS BIGINT) AS lbl FROM nation),
       |$rounds
       |SELECT node, lbl FROM l$iters""".stripMargin
  }

  // --- G11: filtered subgraph + neighborhood aggregation --------------------

  def neighborhoodAgg(spark: SparkSession, dir: String): DataFrame = {
    val g = PropertyGraph.bipartiteOrders(spark, dir)
    val building = g.nodes
      .filter(col("label") === "customer" && col("props")("mktsegment") === "BUILDING")
      .select(col("id"), col("props")("acctbal").cast("double").as("acctbal"))
    // graft_dsum replicates the DECIMAL(18,6) cast; on this domain
    // (|acctbal| ≤ ~1e4, far under either type's overflow bound) it is
    // value-identical to the previous DECIMAL(38,6) formulation, without
    // the non-compact precision-38 BigDecimal accumulation per row
    graft.functions.GraftFunctions.register(spark)
    loadedBipartiteEdges(spark, dir).join(building, col("src") === col("id"))
      .groupBy(col("dst").as("supplier_id"))
      .agg(count(lit(1)).as("n_cust"),
        round(call_function("graft_dsum", col("acctbal")), 2).cast("double").as("sum_acctbal"))
  }

  // --- oracle generators ----------------------------------------------------

  private def bfsOracle(edgesSql: String, undirected: Boolean, source: Long,
                        maxD: Int, minD: Int): String = {
    val ue = if (undirected)
      "ue AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base)"
    else "ue AS (SELECT src, dst FROM base)"
    s"""WITH RECURSIVE base AS ($edgesSql),
       |$ue,
       |bfs(node, d) AS (
       |  SELECT CAST($source AS BIGINT), 0
       |  UNION
       |  SELECT ue.dst, bfs.d + 1 FROM bfs JOIN ue ON ue.src = bfs.node
       |  WHERE bfs.d < $maxD)
       |SELECT node, min(d) AS dist FROM bfs GROUP BY node HAVING min(d) >= $minD""".stripMargin
  }

  /** One unrolled min-label propagation round per i over CTEs `ue`
    * (undirected edges) and `l0` (seed labels): comp := min(comp,
    * min(neighbor comp)). Shared by the CC oracle here and the
    * dedup-cluster oracle (same template, different seed and round
    * count). MATERIALIZED: without it DuckDB inlines the
    * doubly-referenced l_i CTEs and re-opens the base once per round. */
  private[operators] def minLabelRoundsSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, LEAST(l.comp, COALESCE(MIN(r.comp), l.comp)) AS comp
         |  FROM l${i - 1} l LEFT JOIN ue ON ue.src = l.node
         |  LEFT JOIN l${i - 1} r ON r.node = ue.dst
         |  GROUP BY l.node, l.comp)""".stripMargin
    }.mkString(",\n")

  /** Unrolled min-label propagation (CC): `iters` rounds of
    * comp := min(comp, min(neighbor comp)) — converges to the component's
    * min node id once iters ≥ eccentricity of that node. */
  private def ccOracle(edgesSql: String, iters: Int): String =
    s"""WITH base AS MATERIALIZED ($edgesSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
       |n0 AS (SELECT DISTINCT src AS node FROM ue),
       |l0 AS MATERIALIZED (SELECT node, node AS comp FROM n0),
       |${minLabelRoundsSql(iters)}
       |SELECT node, comp FROM l$iters""".stripMargin

  /** Unrolled PageRank oracle over any (edgesSql, nodesSql yielding
    * `id`): the same per-iteration formula as [[GraphXBridge.pageRank]],
    * so doubles agree to well under the 1e-6 edge. `snap`
    * mirrors [[GraphXBridge.pageRank]]'s per-iteration rounding — REQUIRED
    * on hub-skewed graphs, where the contribution sum is an
    * order-dependent double reduction that drifts across engines. */
  private def prOracle(edgesSql: String, nodesSql: String, iters: Int,
                       d: Double, snap: Int = 0): String = {
    def rnd(x: String) = if (snap > 0) s"round($x, $snap)" else x
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT t.node,
         |  ${rnd(s"""(CAST(1 AS DOUBLE) - CAST($d AS DOUBLE)) / (SELECT n FROM nn)
         |    + CAST($d AS DOUBLE) * COALESCE(SUM(p.rank / deg.c), 0)""".stripMargin)} AS rank
         |  FROM r0 t LEFT JOIN e ON e.dst = t.node
         |  LEFT JOIN r${i - 1} p ON p.node = e.src
         |  LEFT JOIN deg ON deg.src = e.src
         |  GROUP BY t.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |nodes AS ($nodesSql),
       |deg AS (SELECT src, count(*) AS c FROM e GROUP BY src),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT id AS node, ${rnd("CAST(1 AS DOUBLE) / (SELECT n FROM nn)")} AS rank FROM nodes),
       |$rounds
       |SELECT node, round(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  // --- driver contract ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_ingest_nodes" -> ingestNodes,
    "g_ingest_edges" -> ingestEdges,
    "g_node_lookup" -> nodeLookup,
    "g_node_lookup_fast" -> nodeLookupFast,
    "g_khop_grid" -> khopGrid,
    "g_khop_bipartite" -> khopBipartite,
    "g_sssp_grid" -> ssspGrid,
    "g_ssp_pair" -> sspPair,
    "g_wikivote_degree" -> wikivoteDegree,
    "g_wikivote_khop" -> wikivoteKhop,
    "g_wikivote_cc" -> wikivoteCC,
    "g_wikivote_pagerank" -> wikivotePagerank,
    "g_wikivote_triangles" -> wikivoteTriangles,
    "g_wikivote_kcore" -> wikivoteKcore,
    "g_wikivote_lookup" -> wikivoteLookup,
    "g_hits" -> wikivoteHits,
    "g_closeness" -> gridCloseness,
    "g_stress" -> gridStress,
    "g_harmonic" -> gridHarmonic,
    "g_betweenness" -> ladderBetweenness,
    "g_eccentricity" -> gridEccentricity,
    "g_modularity" -> nationModularity,
    "g_modularity_w" -> nationModularityWeighted,
    "g_greedy_modularity" -> communityCluster,
    "g_bridges" -> plantedBridges,
    "g_articulation" -> plantedArticulation,
    "g_biconnected" -> plantedBiconnected,
    "g_greedy_modularity_w" -> communityClusterWeighted,
    "g_assortativity" -> wikivoteAssortativity,
    "g_reciprocity" -> wikivoteReciprocity,
    "g_clustering" -> wikivoteClustering,
    "g_transitivity" -> wikivoteTransitivity,
    "g_ktruss" -> wikivoteKTruss,
    "g_coreness" -> wikivoteCoreness,
    "g_common_neighbors" -> commonNeighbors,
    "g_adamic_adar" -> adamicAdar,
    "g_wsssp_grid" -> wssspGrid,
    "g_grid_degree" -> gridDegree,
    "g_edgelist_roundtrip" -> edgelistRoundtrip,
    "g_degree_dist" -> degreeDist,
    "g_connected_components" -> connectedComponents,
    "g_kcore" -> kCore,
    "g_pagerank" -> pageRank,
    "g_ppr" -> personalizedPagerank,
    "g_random_walks" -> randomWalks,
    "g_triangles" -> triangles,
    "g_label_prop" -> labelProp,
    "g_scc" -> scc,
    "g_neighborhood_agg" -> neighborhoodAgg)

  val oracles: Map[String, String] = Map(
    "g_ingest_nodes" ->
      s"""SELECT CAST(c_custkey AS BIGINT) AS id, 'customer' AS label, c_name AS name FROM customer
         |UNION ALL
         |SELECT CAST($Off + s_suppkey AS BIGINT), 'supplier', s_name FROM supplier""".stripMargin,
    "g_ingest_edges" -> bipartiteEdgesSql,
    "g_node_lookup" ->
      """SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 100""".stripMargin,
    "g_node_lookup_fast" ->
      """SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name FROM customer
        |WHERE c_custkey = 42""".stripMargin,
    "g_khop_grid" -> bfsOracle(gridEdgesSql(20), undirected = false, 0L, 5, 1),
    "g_khop_bipartite" -> bfsOracle(bipartiteEdgesSql, undirected = true, 1L, 2, 1),
    "g_sssp_grid" -> bfsOracle(gridEdgesSql(16), undirected = false, 0L, 64, 0),
    "g_ssp_pair" ->
      s"""WITH RECURSIVE base AS (${gridEdgesSql(16)}),
         |bfs(node, d) AS (
         |  SELECT CAST(0 AS BIGINT), 0
         |  UNION
         |  SELECT base.dst, bfs.d + 1 FROM bfs JOIN base ON base.src = bfs.node
         |  WHERE bfs.d < 64)
         |SELECT CAST(0 AS BIGINT) AS src, CAST(255 AS BIGINT) AS dst,
         |  CAST(min(d) AS BIGINT) AS dist
         |FROM bfs WHERE node = 255""".stripMargin,
    "g_wikivote_degree" ->
      s"""WITH e AS ($wikiEdgesSql),
         |n AS ($wikiNodesSql),
         |outs AS (SELECT src, count(*) AS c FROM e GROUP BY src),
         |ins AS (SELECT dst, count(*) AS c FROM e GROUP BY dst)
         |SELECT COALESCE(outs.c, 0) AS outdeg, COALESCE(ins.c, 0) AS indeg,
         |  count(*) AS n_nodes
         |FROM n LEFT JOIN outs ON outs.src = n.id LEFT JOIN ins ON ins.dst = n.id
         |GROUP BY 1, 2""".stripMargin,
    "g_wikivote_khop" ->
      bfsOracle(wikiEdgesSql, undirected = false, WikiKhopSource, WikiKhopHops, 1),
    "g_wikivote_cc" -> ccOracle(wikiEdgesSql, 10),
    "g_wikivote_triangles" ->
      s"""WITH base AS ($wikiEdgesSql),
         |n AS ($wikiNodesSql),
         |ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM base WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
         |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         |cnt AS (SELECT id, count(*) AS n_tri FROM (
         |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY id)
         |SELECT n.id, COALESCE(cnt.n_tri, 0) AS n_tri
         |FROM n LEFT JOIN cnt ON cnt.id = n.id""".stripMargin,
    "g_wikivote_kcore" -> kcoreOracle(wikiEdgesSql, WikiKCoreK, WikiKCoreRounds),
    "g_wikivote_lookup" ->
      s"""WITH base AS ($wikiEdgesSql)
         |SELECT src, dst FROM base WHERE src = $WikiLookupNode""".stripMargin,
    "g_hits" -> hitsOracle(wikiEdgesSql, wikiNodesSql, HitsIters, 1L << 24),
    "g_closeness" -> closenessOracle(gridEdgesSql(ClosenessGridN),
      ClosenessGridN * ClosenessGridN, ClosenessRounds),
    "g_stress" -> stressOracle(gridEdgesSql(StressGridN),
      StressGridN * StressGridN, 2 * (StressGridN - 1)),
    "g_harmonic" -> harmonicOracle(gridEdgesSql(ClosenessGridN),
      ClosenessGridN * ClosenessGridN, ClosenessRounds),
    "g_betweenness" -> betweennessOracle(ladderEdgesSql(LadderWidths),
      ladderNodeCount(LadderWidths), 2 * LadderWidths.length,
      Algorithms.BetweennessFp),
    "g_eccentricity" -> eccentricityOracle(gridEdgesSql(ClosenessGridN),
      ClosenessGridN * ClosenessGridN, ClosenessRounds),
    "g_modularity" -> modularityOracle,
    "g_modularity_w" -> modularityWOracle,
    "g_bridges" -> bridgeOracle,
    "g_articulation" -> articulationOracle,
    "g_biconnected" -> biconnectedOracle,
    "g_greedy_modularity" -> greedyModularityOracle(sparseEdgesSql,
      GreedyModRounds),
    "g_greedy_modularity_w" -> greedyModularityOracle(weightedSampleEdgesSql,
      GreedyModRounds, weighted = true),
    "g_assortativity" -> assortativityOracle,
    "g_reciprocity" -> reciprocityOracle,
    "g_clustering" -> clusteringOracle,
    "g_transitivity" -> transitivityOracle,
    "g_ktruss" -> ktrussOracle(wikiEdgesSql, KTrussK, KTrussRounds),
    "g_coreness" -> corenessOracle(wikiEdgesSql, wikiNodesSql, CorenessRounds),
    "g_common_neighbors" -> commonNeighborsOracle,
    "g_adamic_adar" -> adamicAdarOracle,
    "g_wsssp_grid" -> bellmanFordOracle(gridEdgesSql(16), 256, 0L, 30),
    "g_grid_degree" ->
      s"""WITH e AS (${gridEdgesSql(20)}),
         |outs AS (SELECT src, count(*) AS c FROM e GROUP BY src),
         |ins AS (SELECT dst, count(*) AS c FROM e GROUP BY dst)
         |SELECT COALESCE(outs.c, 0) AS outdeg, COALESCE(ins.c, 0) AS indeg,
         |  count(*) AS n_nodes
         |FROM range(400) t(i)
         |LEFT JOIN outs ON outs.src = t.i
         |LEFT JOIN ins ON ins.dst = t.i
         |GROUP BY 1, 2""".stripMargin,
    "g_edgelist_roundtrip" -> bipartiteEdgesSql,
    "g_degree_dist" ->
      s"""WITH e AS ($bipartiteEdgesSql),
         |nodes AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
         |  UNION ALL SELECT CAST($Off + s_suppkey AS BIGINT) FROM supplier),
         |outs AS (SELECT src, count(*) AS c FROM e GROUP BY src),
         |ins AS (SELECT dst, count(*) AS c FROM e GROUP BY dst)
         |SELECT id, COALESCE(outs.c, 0) AS outdeg, COALESCE(ins.c, 0) AS indeg
         |FROM nodes LEFT JOIN outs ON outs.src = id LEFT JOIN ins ON ins.dst = id""".stripMargin,
    "g_connected_components" -> ccOracle(sparseEdgesSql, 50),
    "g_kcore" -> kcoreOracle(sparseEdgesSql, KCoreK, KCoreRounds),
    "g_pagerank" -> prOracle(nationEdgesSql,
      "SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation", 10, 0.85, snap = 9),
    "g_random_walks" -> randomWalksOracle,
    "g_ppr" -> pprOracle(nationEdgesSql,
      "SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation",
      PprSource, PprIters, 0.85, snap = 9),
    "g_wikivote_pagerank" -> prOracle(wikiEdgesSql, wikiNodesSql, 10, 0.85, snap = 9),
    "g_label_prop" -> lpaOracle(nationEdgesSql, LpaRounds),
    "g_scc" -> sccOracle,
    "g_triangles" ->
      s"""WITH e AS ($nationEdgesSql),
         |ce AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
         |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         |cnt AS (SELECT id, count(*) AS n_tri FROM (
         |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY id)
         |SELECT CAST(n_nationkey AS BIGINT) AS id, COALESCE(n_tri, 0) AS n_tri
         |FROM nation LEFT JOIN cnt ON cnt.id = n_nationkey""".stripMargin,
    "g_neighborhood_agg" ->
      s"""WITH e AS ($bipartiteEdgesSql)
         |SELECT e.dst AS supplier_id, count(*) AS n_cust,
         |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_acctbal
         |FROM e JOIN customer ON c_custkey = e.src
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY e.dst""".stripMargin)
}
