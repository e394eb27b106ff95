package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph analytics as iterative DataFrame programs.
  *
  * These cover the analytics a user of the reference would run once a graph
  * is loaded (degree/traversal/shortest-path benches, benchmark.py:103-201),
  * plus the standard batch-graph suite (SCC / triangles / LPA / centrality).
  * Connected components and PageRank run on [[GraphXBridge]], whose loops
  * beat their DataFrame formulations on the same input.
  *
  * Scale design (SURVEY §5): every iteration is a shuffle-on-key join +
  * partial aggregation; state DataFrames are `localCheckpoint`ed per round
  * (O(1) lineage); convergence checks are aggregate counts, never collects.
  */
object Algorithms {

  /** In/out degree per node; nodes with no edges appear with degree 0.
    *
    * `numParts > 0` pre-partitions the edges on the aggregation key with
    * that partition count; the groupBy reuses the existing hash
    * partitioning (ClusteredDistribution is satisfied), so a tiny generated
    * graph aggregates in `numParts` tasks instead of fanning
    * `spark.sql.shuffle.partitions` near-empty ones. Leave 0 for real
    * (SF-scaled) graphs — the default shuffle + AQE coalescing is the
    * 100 TB path. */
  def degrees(nodes: DataFrame, edges: DataFrame, numParts: Int = 0): DataFrame = {
    // ONE pass over the edge relation: explode each edge into its two
    // endpoint roles and aggregate both degrees from the same shuffle.
    // The former per-direction formulation (groupBy(src) + groupBy(dst)
    // + two left joins) consumed `edges` twice — for derived edge sets
    // (e.g. the lineitem⋈orders+distinct bipartite build) that re-ran
    // the whole upstream join per direction, since the two branches'
    // exchanges only MAY be runtime-reused under AQE. Same output: one
    // row per node with its (outdeg, indeg), zeros for isolated nodes.
    val ends0 = edges.select(explode(array(
        struct(col("src").as("id"), lit(1L).as("o")),
        struct(col("dst").as("id"), lit(0L).as("o")))).as("x"))
      .select(col("x.id").as("id"), col("x.o").as("o"))
    val ends = if (numParts > 0) ends0.repartition(numParts, col("id")) else ends0
    val deg = ends.groupBy(col("id")).agg(
      sum(col("o")).as("outdeg"),
      (count(lit(1)) - sum(col("o"))).as("indeg"))
    nodes.select(col("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"))
  }

  /** Personalized PageRank — PageRank with the teleport vector
    * concentrated on ONE source node instead of uniform:
    *   r(v) = (1-d)·[v = source] + d · Σ_{u→v} r(u)/outdeg(u),
    * init r₀ = [v = source]. The classic seeded-relevance /
    * random-walk-with-restart score behind "similar nodes to X" — for a
    * training-data pipeline, the graph-side analog of query-seeded data
    * selection. Ranks are snapped HALF_UP to `snap` decimals every
    * iteration (REQUIRED: snapping makes the contribution sum
    * reduction-order-independent, which is what licenses both the local
    * twin and the DuckDB oracle to reproduce it bit-for-bit).
    *
    * Distributed shape: outdeg pre-joined onto the
    * edge relation once (persisted, reused every round), one
    * shuffle-join + groupBy-sum per iteration, ranks checkpointed on a
    * cadence. Plan-statistics-bounded graphs take the driver-local twin
    * ([[LocalExec.personalizedPageRankSnapped]]).
    */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame, source: Long,
                           iters: Int, d: Double = 0.85, snap: Int = 9,
                           ckptEvery: Int = 3): DataFrame = {
    require(snap > 0, "personalizedPageRank is defined with per-iteration snapping")
    val local = LocalExec.route(nodes, edges)(
      LocalExec.personalizedPageRankSnapped(nodes, edges, source, iters, d, snap))
    if (local.isDefined) return local.get
    val e = edges.select(col("src"), col("dst"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ew = e.join(outdeg, Seq("src")).repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val teleport = (lit(1.0) - lit(d)) *
      when(col("node") === source, lit(1.0)).otherwise(lit(0.0))
    var ranks = nodes.select(col("id").as("node"),
        when(col("id") === source, lit(1.0)).otherwise(lit(0.0)).as("rank"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      val contribs = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("csum"))
      val next = nodes.select(col("id").as("node"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(teleport + lit(d) * coalesce(col("csum"), lit(0.0)), snap).as("rank"))
      ranks = if (i % ckptEvery == 0 || i == iters) next.localCheckpoint() else next
    }
    ew.unpersist()
    ranks
  }

  /** One HITS half-step, pre-renorm: read scores keyed by their input
    * role, sum contributions onto the output role. The edge layout is
    * chosen per policy so edges never move — broadcast scores join the
    * layout keyed on the OUTPUT key (groupBy reuses it, zero
    * exchanges); shuffled scores join the layout keyed on the INPUT key
    * (the score frame shuffles to the edges, the groupBy exchanges
    * partial sums). Package-private so GraphSpec can pin the unhinted
    * plan: exchanges carry scores, never the edge cache. */
  private[graft] def hitsHalfStep(eSrc: DataFrame, eDst: DataFrame,
      scores: DataFrame, inKey: String, outKey: String,
      bcast: Boolean): DataFrame = {
    val s = scores.withColumnRenamed("node", inKey)
    val joined =
      if (bcast) (if (outKey == "dst") eDst else eSrc).join(broadcast(s), Seq(inKey))
      else (if (inKey == "src") eSrc else eDst).join(s, Seq(inKey))
    joined.groupBy(col(outKey)).agg(sum(col("s")).as("v"))
      .withColumnRenamed(outKey, "node")
  }

  /** Plan-statistics budget deciding [[hits]]' score-join policy: the
    * node-id projection estimate must fit this for the score frames to
    * carry a broadcast hint. Same order as the engine's own broadcast
    * threshold — beyond it the unhinted loop shuffles scores (never
    * edges) and AQE is free to re-plan per stage. */
  val HitsBroadcastMaxBytes: Long = 32L << 20

  /** HITS hubs & authorities (Kleinberg 1999) as EXACT integer
    * fixed-point power iteration — a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v}
    * a(v), each half-step renormalized to `fp` by the round's maximum:
    * s' = (s·fp) DIV max(s). Everything is BIGINT arithmetic (sums of
    * exact integers, then one truncating integer division), so unlike
    * PageRank there is NO per-iteration decimal snapping protocol to
    * keep two engines in agreement — any reduction order yields the
    * same bits, and the DuckDB oracle reproduces the published scores
    * exactly with the literal textbook SQL.
    *
    * Scale shape: the edge relation is laid out TWICE up front
    * (hash-partitioned on dst AND on src) and persisted; NO edge row is
    * exchanged inside the loop on EITHER score-join policy:
    *
    *  - **broadcast scores** (small node set): each half-step joins the
    *    layout keyed on its OUTPUT key (authority step on eDst) against
    *    a broadcast score frame, so the groupBy lands on the pre-paid
    *    partitioning — zero exchanges per half-step.
    *  - **shuffled scores** (node set outgrows a broadcast): each
    *    half-step joins the layout keyed on its INPUT key (authority
    *    step on eSrc) — the score frame shuffles TO the edges'
    *    partitioning, then the groupBy exchanges partial-agg'd sums
    *    (score-scale rows). Two score-sized exchanges per half-step,
    *    never an edge exchange.
    *
    * The policy is decided ONCE from plan statistics (no counting job):
    * broadcast iff the optimizer's estimate for the node-id projection
    * fits [[HitsBroadcastMaxBytes]], overridable via `broadcastScores`.
    * Per half-step on top of the join: one partial-agg sum, plus a
    * scalar max tree-reduced and broadcast back (the sanctioned 1-row
    * scalar-attach shape). Score frames are localCheckpoint'ed per
    * half-step — each is a node-count-sized materialization that keeps
    * the rolling lineage O(1).
    *
    * Overflow bound: a node's raw score is ≤ degree·fp and the
    * renormalizing multiply needs raw·fp < 2⁶³, so fp = 2²⁴ is safe up
    * to max-degree 2¹⁵ (Wiki-Vote's max is ~900); at larger degree
    * scales pass a smaller `fp` — precision degrades gracefully.
    * Nodes with no out-edges (resp. in-edges) publish hub 0 (resp.
    * auth 0), attached by the final left joins; inside the loop the
    * score frames stay sparse (an absent score IS a zero contribution
    * — inner joins drop it, exactly as the oracle's plain JOINs do). */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int,
           numParts: Int = 0, fp: Long = 1L << 24,
           broadcastScores: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    // bounded graphs take the driver-local twin — bit-identical (exact
    // integer protocol), and an interactive-speed answer where the
    // distributed loop pays ~4·iters scheduled jobs of floor cost
    val local = LocalExec.route(nodes, edges)(LocalExec.hits(nodes, edges, iters, fp))
    if (local.isDefined) return local.get
    val e0 = edges.select(col("src"), col("dst"))
    def layout(key: String) =
      (if (numParts > 0) e0.repartition(numParts, col(key))
       else e0.repartition(col(key)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = layout("dst") // authority half-step aggregates on dst
    val eSrc = layout("src") // hub half-step aggregates on src
    // the one policy decision: plan-statistics only, no counting job —
    // a score frame is two BIGINTs per node, so the node-id projection
    // estimate is the right proxy and errs conservative
    val bcast = broadcastScores.getOrElse(
      nodes.select(col("id")).queryExecution.optimizedPlan.stats
        .sizeInBytes <= BigInt(HitsBroadcastMaxBytes))
    def renorm(raw: DataFrame): DataFrame = {
      val m = raw.agg(max(col("v")).as("vmax"))
      // greatest(vmax, 1): an all-zero round (possible once truncation
      // has starved every score) publishes zeros instead of DIV 0;
      // LocalExec.hits applies the same skip-on-zero guard
      raw.crossJoin(broadcast(m))
        .selectExpr("node",
          s"(v * CAST($fp AS BIGINT)) DIV greatest(vmax, CAST(1 AS BIGINT)) AS s")
        .localCheckpoint()
    }
    def halfStep(scores: DataFrame, inKey: String, outKey: String) =
      renorm(hitsHalfStep(eSrc, eDst, scores, inKey, outKey, bcast))
    var hubs = nodes.select(col("id").as("node"), lit(fp).as("s"))
      .localCheckpoint()
    var auths: DataFrame = hubs
    for (_ <- 1 to iters) {
      auths = halfStep(hubs, inKey = "src", outKey = "dst")
      hubs = halfStep(auths, inKey = "dst", outKey = "src")
    }
    val out = nodes.select(col("id").as("node"))
      .join(hubs.withColumnRenamed("s", "hub_fp"), Seq("node"), "left")
      .join(auths.withColumnRenamed("s", "auth_fp"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
      .localCheckpoint() // materialize before the edge layouts unpersist
    eDst.unpersist()
    eSrc.unpersist()
    out
  }

  /** Strongly connected components as a DataFrame trim+coloring loop —
    * the coloring algorithm of GraphX's `StronglyConnectedComponents`,
    * with delta-frontier execution:
    *
    *  1. **Trim** (≤ `trimRounds`): nodes missing an in- or out-edge in
    *     the active subgraph are singleton SCCs — label self, drop, and
    *     shrink the edge set (two semi-joins).
    *  2. **Forward min-coloring fixpoint**: color(v) = min id that can
    *     reach v, propagated along edges. Only CHANGED colors re-join
    *     per step (the frontier), so total propagation work is
    *     Σ_v dist(min→v), not steps × |V|; colors live as a projection
    *     off the per-step checkpointed join (no second materialization).
    *  3. **Backward confirm**: from each root (color(v)=v), spread
    *     "member of SCC color(v)" along REVERSE edges, constrained to
    *     same-color nodes — the forward-⋂-backward reachable set IS the
    *     SCC. Confirmed sets accumulate with the same parts-list +
    *     periodic-compaction shape as [[Traversals]]' BFS visited set.
    *  4. Finalize confirmed nodes, shrink active set + edges, repeat.
    *
    * Progress per outer round is guaranteed (the globally minimal active
    * node is always a confirmed root); the outer count is bounded by the
    * condensation depth. Why not single-pivot
    * forward-backward divide-and-conquer: with P live partitions it
    * finalizes ≤ P pivot SCCs per round, so a many-small-SCC graph
    * (the planted soak: 31,250 SCCs, depth-1 condensation) serializes
    * into thousands of rounds, where coloring finalizes EVERY root's SCC
    * simultaneously — 2 outer rounds on that topology. Coloring's known
    * weakness (chain-of-SCCs condensations re-color per level) is capped
    * by `maxOuter`, which fails loud rather than return interim colors.
    *
    * Scale shape per step: frontier shuffles onto the persisted edge
    * layout (hash on src for forward, dst for backward — edges are laid
    * out twice per outer round and never exchanged inside the fixpoints),
    * one partial-agg'd min per forward step, one distinct + same-color
    * semi-filter per backward step. Plan-statistics-bounded graphs take
    * the driver-local Tarjan twin. The node frame defines the graph:
    * edges naming ids absent from `nodes` are dropped up front (a ghost
    * endpoint must neither appear in the output nor label a real SCC —
    * the hits contract, r15 ADVICE). Output: (node, comp), comp = the
    * SCC's minimum member — identical labels to the Tarjan twin.
    *
    * Measured: the one distributed SCC loop (10M-edge planted soak,
    * GRAPH_SCALE.json: 48-51 s here vs 577-777 s for GraphX coloring). */
  def scc(nodes: DataFrame, edges: DataFrame, maxOuter: Int = 64,
          trimRounds: Int = 2, numParts: Int = 0): DataFrame = {
    val local = LocalExec.route(nodes, edges)(LocalExec.stronglyConnectedComponents(nodes, edges))
    if (local.isDefined) return local.get
    def layout(df: DataFrame, key: String) =
      (if (numParts > 0) df.repartition(numParts, col(key))
       else df.repartition(col(key)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    var act = nodes.select(col("id").as("node")).localCheckpoint()
    // restrict the edge set to the node list up front (same shape as the
    // per-round shrink below): an edge naming an id absent from `nodes`
    // would otherwise inject a ghost node into the first trim's `live`
    // set — the loop would emit (ghost, comp) rows and a ghost id could
    // even become a real node's SCC label, diverging from the Tarjan
    // twin, which drops unknown-node edges (r15 ADVICE)
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .join(act.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(act.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .localCheckpoint()
    val labs = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var outer = 0
    while (act.head(1).nonEmpty) {
      outer += 1
      if (outer > maxOuter)
        throw new IllegalStateException(
          s"SCC coloring did not converge in maxOuter=$maxOuter rounds: " +
            "condensation deeper than the cap — raise maxOuter")
      // 1. trim: a node missing either edge role is its own SCC
      var trimming = true
      var trims = 0
      while (trimming && trims < trimRounds && act.head(1).nonEmpty) {
        trims += 1
        val live = e.select(col("src").as("node")).distinct()
          .join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_semi")
          .localCheckpoint()
        val dead = act.join(live, Seq("node"), "left_anti").localCheckpoint()
        if (dead.head(1).isEmpty) trimming = false
        else {
          labs += dead.select(col("node"), col("node").as("comp"))
          // live ⊆ act holds by the initial edge restriction + per-round
          // shrink; intersect anyway so the active set can NEVER grow
          // from edge endpoints even if a caller hands a pre-built edge
          // frame that bypasses the guard above
          act = act.join(live, Seq("node"), "left_semi").localCheckpoint()
          e = e.join(act.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
            .join(act.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")).localCheckpoint()
        }
      }
      if (act.head(1).nonEmpty) {
        val eSrc = layout(e, "src")
        val eDst = layout(e, "dst")
        // 2. forward min-color fixpoint, delta frontier
        var joined = act.select(col("node"), col("node").as("color"))
          .withColumn("cand", col("color")).localCheckpoint()
        def colors = joined.select(col("node"),
          least(col("color"), coalesce(col("cand"), col("color"))).as("color"))
        var frontier: DataFrame = colors
        while (frontier.head(1).nonEmpty) {
          val msgs = eSrc
            .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), col("color"))
          val best = msgs.groupBy(col("node")).agg(min(col("color")).as("cand"))
          joined = colors.join(best, Seq("node"), "left").localCheckpoint()
          frontier = joined.filter(col("cand") < col("color"))
            .select(col("node"), col("cand").as("color"))
        }
        val cols = joined.select(col("node"), col("color")).localCheckpoint()
        // 3. backward confirm within color, parts-list + compaction
        val roots = cols.filter(col("color") === col("node")).localCheckpoint()
        var fr = roots
        var parts = List(roots)
        var step = 0
        while (fr.head(1).nonEmpty) {
          step += 1
          val msgs = eDst
            .join(fr.withColumnRenamed("node", "dst"), Seq("dst"))
            .select(col("src").as("node"), col("color")).distinct()
          val cand = msgs
            .join(cols.withColumnRenamed("color", "c0"), Seq("node"))
            .filter(col("color") === col("c0"))
            .select(col("node"), col("color"))
          val confSoFar = parts.reduce(_ unionByName _)
          fr = cand.join(confSoFar, Seq("node"), "left_anti").localCheckpoint()
          parts = fr :: parts
          if (step % 8 == 0)
            parts = List(parts.reduce(_ unionByName _).localCheckpoint())
        }
        val conf = parts.reduce(_ unionByName _).localCheckpoint()
        // 4. finalize and shrink
        labs += conf.select(col("node"), col("color").as("comp"))
        act = act.join(conf, Seq("node"), "left_anti").localCheckpoint()
        e = e.join(act.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(act.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")).localCheckpoint()
        eSrc.unpersist()
        eDst.unpersist()
      }
    }
    if (labs.isEmpty) nodes.select(col("id").as("node"), col("id").as("comp")).limit(0)
    else labs.reduce(_ unionByName _)
  }

  /** Closeness-centrality substrate: BATCHED multi-source BFS — every
    * source advances one hop per round in the SAME joins, on composite
    * (s, node) keys. Publishes per source the exact integer pair
    * (reach = nodes reached, dist_sum = Σ shortest distances), from
    * which closeness in any convention (classic (n-1)/Σd, Wasserman-
    * Faust, lin) is a driver-side formula — publishing the integers
    * keeps the result hash-exact cross-engine with no division
    * protocol.
    *
    * Scale shape: this is the form exact/sampled closeness takes on a
    * cluster — per-source sequential BFS is a non-starter (it serializes
    * diameter-many tiny jobs PER source), while the batched frontier
    * amortizes every source through one join + one dedup per round. The
    * edge relation is laid out once (hash on src, persisted); per round:
    * one join frontier⋈edges, one (s, node) distinct, one anti-join
    * against the compacted visited union (same O(depth²)-planning
    * compaction as [[Traversals]]' BFS). Exact all-sources closeness is
    * inherently |V|×reachability work at 100 TB — the standard answer is
    * SAMPLED sources (pass a sampled `sources` frame), which changes
    * nothing in the plan, only the frontier width. Plan-statistics-
    * bounded graphs take the driver-local twin. */
  def closeness(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                sources: Option[DataFrame] = None,
                numParts: Int = 0): DataFrame = {
    require(maxRounds >= 1, "closeness needs at least one BFS round")
    val local = if (sources.isDefined) None
      else LocalExec.route(nodes, edges)(LocalExec.closeness(nodes, edges, maxRounds))
    if (local.isDefined) return local.get
    multiSourceBfsAgg(nodes, edges, maxRounds, sources, numParts) { reached =>
      reached.groupBy(col("s").as("node"))
        .agg(count(lit(1)).as("reach"), sum(col("d").cast("long")).as("dist_sum"))
    } { out =>
      out.select(col("node"),
        coalesce(col("reach"), lit(0L)).as("reach"),
        coalesce(col("dist_sum"), lit(0L)).as("dist_sum"))
    }
  }

  /** Fixed-point scale for [[harmonic]]: each reached node at distance d
    * contributes `HarmonicFp DIV d` (integer division) — the documented
    * cross-engine convention that keeps harmonic centrality BIGINT-exact
    * with no float protocol (the same reason closeness publishes the raw
    * (reach, dist_sum) integers). */
  val HarmonicFp = 1000000L

  /** Harmonic centrality (Rochat / Boldi-Vigna): h(s) = Σ_{v reached}
    * 1/d(s, v) — the closeness variant that stays meaningful on
    * DISCONNECTED graphs (unreachable nodes contribute 0 instead of
    * poisoning the mean). Published as the exact integer
    * Σ `HarmonicFp DIV d`, per the fixed-point convention above.
    *
    * Rides the identical batched multi-source BFS as [[closeness]] —
    * same plan, same sampled-`sources` cluster contract — only the final
    * per-source aggregation differs. */
  def harmonic(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
               sources: Option[DataFrame] = None,
               numParts: Int = 0): DataFrame = {
    require(maxRounds >= 1, "harmonic needs at least one BFS round")
    val local = if (sources.isDefined) None
      else LocalExec.route(nodes, edges)(LocalExec.harmonic(nodes, edges, maxRounds))
    if (local.isDefined) return local.get
    multiSourceBfsAgg(nodes, edges, maxRounds, sources, numParts) { reached =>
      reached.groupBy(col("s").as("node"))
        .agg(sum(expr(s"CAST($HarmonicFp AS BIGINT) DIV CAST(d AS BIGINT)"))
          .as("harmonic_fp"))
    } { out =>
      out.select(col("node"),
        coalesce(col("harmonic_fp"), lit(0L)).as("harmonic_fp"))
    }
  }

  /** Forward eccentricity: ecc(s) = max_{v reached} d(s, v), the third
    * trivial aggregation on the shared batched multi-source BFS (the
    * level builder of [[closeness]]/[[harmonic]]), published with the
    * reach count so the caller can distinguish "eccentric radius 0
    * because isolated" from a real 0 and compute diameter/radius as
    * driver-side maxima over CONNECTED sources. Unreachable nodes are
    * excluded (the forward-reachability convention of the closeness
    * family on this directed substrate); `maxRounds` caps the horizon
    * with the same k-bounded semantics. Same sampled-`sources` cluster
    * contract — diameter estimation at scale is sampled eccentricity
    * maxima. Output: (node, ecc, reach). */
  def eccentricity(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                   sources: Option[DataFrame] = None,
                   numParts: Int = 0): DataFrame = {
    require(maxRounds >= 1, "eccentricity needs at least one BFS round")
    val local = if (sources.isDefined) None
      else LocalExec.route(nodes, edges)(LocalExec.eccentricity(nodes, edges, maxRounds))
    if (local.isDefined) return local.get
    multiSourceBfsAgg(nodes, edges, maxRounds, sources, numParts) { reached =>
      reached.groupBy(col("s").as("node"))
        .agg(max(col("d").cast("long")).as("ecc"),
          count(lit(1)).as("reach"))
    } { out =>
      out.select(col("node"),
        coalesce(col("ecc"), lit(0L)).as("ecc"),
        coalesce(col("reach"), lit(0L)).as("reach"))
    }
  }

  /** The batched multi-source BFS shared by [[closeness]] and
    * [[harmonic]]: every source advances one hop per round in the SAME
    * joins on composite (s, node) keys (see [[closeness]]'s scaladoc for
    * the scale argument). `agg` reduces the reached (s, node, d) rows
    * (d ≥ 1) to one row per source keyed `node`; `fill` projects the
    * left-joined result with its zero defaults for sources that reach
    * nothing. */
  private def multiSourceBfsAgg(nodes: DataFrame, edges: DataFrame,
                                maxRounds: Int, sources: Option[DataFrame],
                                numParts: Int)
                               (agg: DataFrame => DataFrame)
                               (fill: DataFrame => DataFrame): DataFrame = {
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    val e = (if (numParts > 0) e0.repartition(numParts, col("u"))
             else e0.repartition(col("u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcIds = sources.getOrElse(nodes).select(col("id"))
    var frontier = srcIds.select(col("id").as("s"), col("id").as("node"))
      .localCheckpoint()
    val CompactEvery = 8
    var parts = List(frontier.withColumn("d", lit(0)))
    var round = 1
    var done = false
    while (!done) {
      if (parts.length >= CompactEvery)
        parts = List(parts.reduce(_ unionByName _).localCheckpoint())
      val visited = parts.map(_.select(col("s"), col("node"))).reduce(_ union _)
      val next = frontier.join(e, col("node") === col("u"))
        .select(col("s"), col("v").as("node")).distinct()
        .join(visited, Seq("s", "node"), "left_anti")
        .localCheckpoint()
      if (round >= maxRounds) { parts ::= next.withColumn("d", lit(round)); done = true }
      else if (next.isEmpty) done = true
      else {
        parts ::= next.withColumn("d", lit(round))
        frontier = next
        round += 1
      }
    }
    val reached = agg(parts.reduce(_ unionByName _).filter(col("d") > 0))
    val out = fill(srcIds.select(col("id").as("node"))
        .join(reached, Seq("node"), "left"))
      .localCheckpoint() // materialize before the edge layout unpersists
    e.unpersist()
    out
  }

  /** Stress centrality (Shimbel): stress(v) = Σ_{s≠v, t≠v} σ_st(v), the
    * COUNT of shortest s→t paths passing through v as an interior node —
    * the integer-exact sibling of betweenness (betweenness divides each
    * term by σ_st; stress keeps the raw count, so the whole protocol is
    * BIGINT end-to-end and the cross-engine oracle needs no float or
    * fixed-point recipe).
    *
    * Algorithm: batched multi-source Brandes over BFS DAGs, two passes on
    * composite (s, node) keys — the same batching as [[closeness]]:
    *
    *  1. **Forward**: per round, the frontier joins the edge layout and
    *     path counts sum over predecessors (σ_s(v) = Σ_{u→v, d(u)=d(v)-1}
    *     σ_s(u)); levels are materialized per depth.
    *  2. **Backward** (deepest level first): ψ_s(v) = 1 + Σ_{w ∈
    *     succ_s(v)} ψ_s(w) counts shortest-path CONTINUATIONS from v
    *     (including the empty one), level by level — joining each level's
    *     successors against the NEXT level's ψ keeps the recursion on the
    *     BFS DAG (cross/back edges drop out of the keyed join by
    *     construction). Then σ_s(v)·(ψ_s(v) − 1) counts exactly the
    *     shortest s→t paths with v interior (t = v excluded by the −1,
    *     v = s excluded by d > 0), and stress(v) sums it over sources.
    *
    * Scale shape: the edge relation is laid out ONCE (hash on src,
    * persisted) and serves BOTH passes — forward steps consume it as
    * u→v, backward steps as v→w; no edge row is exchanged in either
    * loop. Per round each pass costs one frontier⋈edges join plus one
    * partial-agg'd integer sum; the backward pass adds no new exchange
    * shape. Exact all-sources stress is |V|×reachability work at 100 TB,
    * so the cluster form is SAMPLED sources (the `sources` frame), which
    * narrows the composite frontier without changing the plan — identical
    * to the closeness contract. `maxRounds` is a safety bound: a loop
    * that hits it computes k-bounded stress (paths of length ≤ maxRounds
    * only), the standard bounded-horizon approximation; the gated grid
    * instance exits on the empty frontier at its true diameter.
    * Plan-statistics-bounded graphs take the driver-local twin.
    *
    * Overflow contract: on dense graphs σ grows ~multiplicatively per
    * hop and outgrows BIGINT within ~10 hops — a silent wrap would
    * publish WRONG counts with no error. Each loop therefore proves the
    * NEXT round's sums cannot wrap before running them: a forward
    * group-sum adds ≤ max-in-degree σ terms, a backward one ≤
    * max-out-degree ψ terms. The proof is static-bound-first (σ at
    * depth d ≤ maxInDeg^d, ψ bounded by the out-degree geometric sum) —
    * FREE, zero jobs on low-degree topologies like the gated grid/tree —
    * and only when the static bound stops proving safety does the loop
    * pay one scalar max-agg per round (the HITS-renorm shape) to check,
    * and re-tighten from, the measured maximum. The contribution column
    * σ·(ψ−1) and its per-node sum over sources are computed in
    * DECIMAL(38,0), which cannot wrap; one post-agg scalar check turns
    * "true stress exceeds BIGINT" into a loud failure. The degree
    * budgets are conservative (max σ × max degree may flag a graph
    * whose actual sums stay in range); the twin's guard is exact
    * (`Math.addExact`). Both fail LOUD with [[ArithmeticException]] —
    * never a wrapped result. */
  /** Shared overflow-loud failure for the Brandes-family operators. */
  private def brandesOverflow(op: String, what: String): Nothing =
    throw new ArithmeticException(
      s"$op: $what would overflow BIGINT — shortest-path counts on " +
        "this graph exceed the 2^63 budget (σ grows ~multiplicatively " +
        "per hop on dense graphs); sample sources, bound the horizon, " +
        "or use an approximate centrality")

  private def maxLongAgg(df: DataFrame, c: Column): Long = {
    val r = df.agg(max(c)).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Result of the forward σ pass shared by [[stress]] and
    * [[betweenness]]: the persisted edge layout (caller unpersists), the
    * source id frame, the per-depth (s, node, sigma) level frames, the
    * per-level σ upper bounds the overflow guard maintained (static
    * degree power, re-tightened to the measured max whenever a
    * measurement was forced), and the degree maxima. */
  private final case class BrandesForward(
      e: DataFrame, srcIds: DataFrame, levels: IndexedSeq[DataFrame],
      sigmaBounds: IndexedSeq[BigInt], maxInDeg: Long, maxOutDeg: Long)

  /** Forward σ pass of the batched multi-source Brandes operators: per
    * round, the frontier joins the edge layout and path counts sum over
    * predecessors; levels materialize per depth. Carries the
    * static-bound-first σ-overflow guard (see [[stress]]'s overflow
    * contract). */
  private def brandesForward(op: String, nodes: DataFrame, edges: DataFrame,
                             maxRounds: Int, sources: Option[DataFrame],
                             numParts: Int): BrandesForward = {
    // multi-edges would double-count σ: distinct is part of the contract
    val e0 = edges.select(col("src").as("u"), col("dst").as("v")).distinct()
    val e = (if (numParts > 0) e0.repartition(numParts, col("u"))
             else e0.repartition(col("u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcIds = sources.getOrElse(nodes).select(col("id"))
    // overflow budgets (see the scaladoc's overflow contract): degree
    // maxima are one-time scalar jobs on the laid-out edge relation.
    // The loop first tries the FREE static bound (σ at depth d ≤
    // maxInDeg^d) and only schedules the per-level scalar max agg when
    // the static bound can no longer prove the next sums safe — the
    // gated grid/tree/ladder instances run ZERO guard jobs, a dense
    // graph pays one scalar agg per round until it either proves safe
    // or fails loud instead of wrapping.
    def maxGroupCount(key: String): Long = {
      val r = e.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val maxInDeg = maxGroupCount("v")
    val maxOutDeg = maxGroupCount("u")
    val LongMax = BigInt(Long.MaxValue)
    // forward: levels(d) = (s, node, sigma) at exact BFS depth d
    val levels = scala.collection.mutable.ArrayBuffer(
      srcIds.select(col("id").as("s"), col("id").as("node"),
        lit(1L).as("sigma")).localCheckpoint())
    val sigmaBounds = scala.collection.mutable.ArrayBuffer(BigInt(1))
    val CompactEvery = 8
    var visitedParts = List(levels(0).select(col("s"), col("node")))
    var done = false
    // round cap checked BEFORE building the next frame: a capped run
    // must not pay (and then discard) one extra join+dedup+checkpoint
    // round — the same front-door counter multiSourceBfsAgg uses
    while (!done && levels.length <= maxRounds) {
      if (visitedParts.length >= CompactEvery)
        visitedParts = List(visitedParts.reduce(_ unionByName _).localCheckpoint())
      val visited = visitedParts.reduce(_ union _)
      if (maxInDeg > 1 && sigmaBounds.last * maxInDeg > LongMax) {
        val actual = maxLongAgg(levels.last, col("sigma"))
        if (actual > Long.MaxValue / maxInDeg)
          brandesOverflow(op,
            s"a σ predecessor sum (max σ $actual × in-degree $maxInDeg)")
        // measured max re-tightens the bound
        sigmaBounds(sigmaBounds.length - 1) = BigInt(actual)
      }
      val next = levels.last.join(e, col("node") === col("u"))
        .select(col("s"), col("v").as("node"), col("sigma"))
        .groupBy(col("s"), col("node")).agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("s", "node"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        levels += next
        visitedParts ::= next.select(col("s"), col("node"))
        sigmaBounds += sigmaBounds.last * math.max(1L, maxInDeg)
      }
    }
    BrandesForward(e, srcIds, levels.toIndexedSeq, sigmaBounds.toIndexedSeq,
      maxInDeg, maxOutDeg)
  }

  def stress(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
             sources: Option[DataFrame] = None,
             numParts: Int = 0): DataFrame = {
    require(maxRounds >= 1, "stress needs at least one BFS round")
    val local = if (sources.isDefined) None
      else LocalExec.route(nodes, edges)(LocalExec.stress(nodes, edges, maxRounds))
    if (local.isDefined) return local.get
    val fw = brandesForward("stress", nodes, edges, maxRounds, sources, numParts)
    val e = fw.e
    val levels = fw.levels
    val maxOutDeg = fw.maxOutDeg
    val LongMax = BigInt(Long.MaxValue)
    def overflow(what: String): Nothing = brandesOverflow("stress", what)
    def maxLong(df: DataFrame, c: Column): Long = maxLongAgg(df, c)
    // backward: ψ per level, deepest first; accumulate σ·(ψ−1) per level.
    // The contribution column is computed in DECIMAL(38,0): the per-row
    // product and the final per-node sum over sources then CANNOT wrap
    // (38 digits of headroom), and the single post-agg scalar check below
    // turns "the true stress exceeds BIGINT" into a loud failure instead
    // of a wrapped column — no per-level product guard needed.
    val decC = (col("sigma").cast("decimal(38,0)") *
      (col("psi") - lit(1L)).cast("decimal(38,0)")).as("c")
    var psi = levels.last.select(col("s"), col("node"), lit(1L).as("psi"))
      .localCheckpoint()
    var contribs = List(
      levels.last.join(psi, Seq("s", "node")).select(col("node"), decC))
    var psiBound = BigInt(1) // static bound on max ψ in the current frame
    for (d <- levels.length - 2 to 1 by -1) {
      // ψ-sum guard, static-bound-first like the forward σ guard: the
      // succSum below adds ≤ maxOutDeg ψ terms from the previous frame
      if (maxOutDeg > 1 && psiBound * maxOutDeg + 1 > LongMax) {
        val actual = maxLong(psi, col("psi"))
        if (actual > (Long.MaxValue - 1L) / maxOutDeg)
          overflow(s"a ψ successor sum (max ψ $actual × out-degree $maxOutDeg)")
        psiBound = BigInt(actual)
      }
      val succSum = levels(d).join(e, col("node") === col("u"))
        .select(col("s"), col("node"), col("v").as("w"))
        .join(psi.select(col("s"), col("node").as("w"), col("psi")),
          Seq("s", "w"))
        .groupBy(col("s"), col("node")).agg(sum(col("psi")).as("sp"))
      psi = levels(d).select(col("s"), col("node"), col("sigma"))
        .join(succSum, Seq("s", "node"), "left")
        .select(col("s"), col("node"),
          (lit(1L) + coalesce(col("sp"), lit(0L))).as("psi"),
          col("sigma"))
        .localCheckpoint()
      psiBound = psiBound * math.max(1L, maxOutDeg) + 1
      contribs ::= psi.select(col("node"), decC)
      psi = psi.select(col("s"), col("node"), col("psi"))
    }
    val summed = contribs.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("c")).as("stress_dec"))
      .localCheckpoint()
    val fin = summed.agg(max(col("stress_dec")),
      sum(when(col("stress_dec").isNull, 1L).otherwise(0L))).head()
    if ((!fin.isNullAt(0) && fin.getDecimal(0)
          .compareTo(new java.math.BigDecimal(Long.MaxValue)) > 0) ||
        (!fin.isNullAt(1) && fin.getLong(1) > 0L))
      overflow("the per-node stress sum over sources")
    val out = nodes.select(col("id").as("node"))
      .join(summed.select(col("node"),
          col("stress_dec").cast("long").as("stress")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("stress"), lit(0L)).as("stress"))
      .localCheckpoint() // materialize before the edge layout unpersists
    e.unpersist()
    out
  }

  /** Fixed-point scale for [[betweenness]] — published scores are
    * `bc_fp = Fp × bc(v)` under the per-term truncating-division
    * protocol below. A POWER OF TWO (2²⁴) by design: on instances whose
    * path counts are all dyadic (every σ a power of two, e.g. the
    * pinned diamond-ladder gate where σ ≤ 2⁹), every protocol division
    * is exact and the published value is EXACTLY Fp × the rational
    * betweenness — the same "pick the convention that makes the gate
    * exact" move as stress publishing raw counts and harmonic
    * publishing `HarmonicFp DIV d`. */
  val BetweennessFp = 1L << 24

  /** Betweenness centrality (Brandes): bc(v) = Σ_{s≠v≠t} σ_st(v)/σ_st —
    * the canonical path centrality; stress without the 1/σ_st
    * normalization removed, which is what forces a division protocol.
    *
    * Algorithm: the [[brandesForward]] σ pass shared with [[stress]],
    * then the δ-accumulation backward pass in BIGINT fixed point —
    * per level, deepest first:
    *
    *   δ_fp(v) = Σ_{w ∈ succ_DAG(v)} (σ_sv · (Fp + δ_fp(w))) DIV σ_sw
    *
    * (Brandes' δ(v) = Σ_w (σ_sv/σ_sw)(1 + δ(w)) scaled by Fp, with ONE
    * truncating integer division per DAG edge term.) Published:
    * bc_fp(v) = Σ_s δ_fp(v), BIGINT end to end. Why fixed point instead
    * of doubles: the per-term integer convention is deterministic under
    * ANY summation order (partial aggregation reorders freely; float δ
    * would carry nondeterministic low bits through the recursion), it
    * is hash-exact cross-engine, and on dyadic-σ instances it is EXACT
    * (every division divides; see [[BetweennessFp]]). On general graphs
    * each term truncates < 1 fp unit, so the absolute error of bc_fp/Fp
    * is < (accumulated DAG-edge terms)/Fp — with Fp = 2²⁴, negligible
    * against the score scale; the convention (round-toward-zero per
    * term) is pinned, so twin ≡ distributed stays exact equality.
    *
    * Scale shape: identical to [[stress]] — one persisted edge layout
    * serves both passes, no edge rows exchanged in any loop, sampled
    * `sources` narrow the composite frontier without changing the plan
    * (the standard cluster form: Brandes-subset betweenness). Overflow:
    * the forward guard is [[brandesForward]]'s; the backward pass
    * measures max δ_fp per level (one scalar agg, the HITS-renorm
    * shape) and proves each round's σ·(Fp+δ) dividends and their
    * ≤ max-out-degree sums fit BIGINT before computing them, failing
    * loud; the final per-node sum over sources runs in DECIMAL(38,0)
    * with one post-agg check, like stress. Plan-statistics-bounded
    * graphs take the driver-local twin. Output: (node, bc_fp). */
  def betweenness(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                  sources: Option[DataFrame] = None,
                  numParts: Int = 0, fp: Long = BetweennessFp): DataFrame = {
    require(maxRounds >= 1, "betweenness needs at least one BFS round")
    require(fp >= 1L, "betweenness needs a positive fixed-point scale")
    val local = if (sources.isDefined) None
      else LocalExec.route(nodes, edges)(LocalExec.betweenness(nodes, edges, maxRounds, fp))
    if (local.isDefined) return local.get
    val fw = brandesForward("betweenness", nodes, edges, maxRounds,
      sources, numParts)
    val e = fw.e
    val levels = fw.levels
    val LongMax = BigInt(Long.MaxValue)
    val outFan = math.max(1L, fw.maxOutDeg)
    def overflow(what: String): Nothing = brandesOverflow("betweenness", what)
    val zeros = nodes.select(col("id").as("node"), lit(0L).as("bc_fp"))
    if (levels.length < 3) { // paths of length ≤ 1 have no interior node
      e.unpersist()
      return zeros.localCheckpoint()
    }
    // backward: δ_fp per level, deepest first. Frame: (s, node, sig_w,
    // delta) — sig_w is the level's own σ, consumed as the DIVISOR when
    // the level above joins it as its successor set.
    var delta = levels.last.select(col("s"), col("node"),
      col("sigma").as("sig_w"), lit(0L).as("delta")).localCheckpoint()
    var deltaMax = 0L // measured max δ_fp in the current (successor) frame
    // deepest level always has δ = 0: no contribution frame for it
    var contribs = List.empty[DataFrame]
    for (d <- levels.length - 2 to 1 by -1) {
      // term guard: every dividend is ≤ maxσ(level d)·(Fp + maxδ), and a
      // δ group-sum adds ≤ maxOutDeg such terms (each quotient ≤ its
      // dividend) — static σ bound first, measured σ only if needed
      val fpPlusDelta = BigInt(fp) + BigInt(deltaMax)
      if (fw.sigmaBounds(d) * fpPlusDelta * outFan > LongMax) {
        val actualSig = BigInt(maxLongAgg(levels(d), col("sigma")))
        if (actualSig * fpPlusDelta * outFan > LongMax)
          overflow(s"a δ term σ·(Fp+δ) (max σ $actualSig, max δ " +
            s"$deltaMax, out-degree fan $outFan)")
      }
      val succ = levels(d).join(e, col("node") === col("u"))
        .select(col("s"), col("node"), col("sigma").as("sig_v"),
          col("v").as("w"))
        .join(delta.select(col("s"), col("node").as("w"), col("sig_w"),
            col("delta").as("dw")),
          Seq("s", "w"))
        .select(col("s"), col("node"),
          expr(s"(sig_v * (${fp}L + dw)) DIV sig_w").as("t"))
        .groupBy(col("s"), col("node")).agg(sum(col("t")).as("delta"))
      delta = levels(d).select(col("s"), col("node"),
          col("sigma").as("sig_w"))
        .join(succ, Seq("s", "node"), "left")
        .select(col("s"), col("node"), col("sig_w"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint()
      deltaMax = maxLongAgg(delta, col("delta"))
      contribs ::= delta.select(col("node"),
        col("delta").cast("decimal(38,0)").as("c"))
    }
    // per-node sum over sources in DECIMAL(38,0) (cannot wrap) + one
    // post-agg scalar check, same shape as stress
    val summed = contribs.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("c")).as("bc_dec"))
      .localCheckpoint()
    val fin = summed.agg(max(col("bc_dec")),
      sum(when(col("bc_dec").isNull, 1L).otherwise(0L))).head()
    if ((!fin.isNullAt(0) && fin.getDecimal(0)
          .compareTo(new java.math.BigDecimal(Long.MaxValue)) > 0) ||
        (!fin.isNullAt(1) && fin.getLong(1) > 0L))
      overflow("the per-node betweenness sum over sources")
    val out = zeros.select(col("node"))
      .join(summed.select(col("node"), col("bc_dec").cast("long").as("bc_fp")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("bc_fp"), lit(0L)).as("bc_fp"))
      .localCheckpoint() // materialize before the edge layout unpersists
    e.unpersist()
    out
  }

  /** Newman modularity of a node partition, published EXACTLY: per
    * community c, the intra-edge count L_c, the degree mass D_c
    * (Σ degrees of members), and the integer numerator
    * `q_num_4m2 = 4·m·L_c − D_c²` — since Q = Σ_c (L_c/m − (D_c/2m)²),
    * the score is Q = Σ_c q_num_4m2 / (4m²), a driver-side formula over
    * BIGINT columns: no float or fixed-point protocol, the same
    * publish-the-integers move as closeness. The partition-quality
    * score every community pipeline (LPA, CC, Louvain-style refinement)
    * is evaluated by.
    *
    * Semantics: `edges` is treated as an undirected simple graph
    * (canonicalized least/greatest, deduped, self-loops dropped);
    * `communities` = (node, community) defines membership, and an edge
    * with an unlabeled endpoint is dropped (the node-frame-defines-the-
    * graph contract). Output one row per community holding ≥1 edge
    * endpoint: (community, l_intra, d_sum, q_num_4m2, m_edges).
    *
    * Scale shape: one canonicalize-dedup shuffle, two hash joins
    * against the membership frame (broadcast when the dimension is
    * small — Catalyst's call), one count and two partial-agg'd
    * group-bys. No iteration, no driver loop.
    *
    * Overflow contract (fail-loud, the Brandes-family rule): the
    * BIGINT-safe bound is m ≤ 2³⁰ — the extreme term is D_c² ≤ (2m)² =
    * 4m², which hits 2⁶² at m = 2³⁰ and WRAPS at 2³¹ under non-ANSI
    * long multiply; a graph past the bound throws here instead of
    * publishing a silently-wrapped q_num_4m2 (corpora past ~10⁹ edges
    * would lift the numerator to DECIMAL(38,0)). */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cm = communities.select(col("node"), col("community"))
    // r21: aggregate the labeled edges down to the (ca, cb) LABEL-PAIR
    // relation (≤ C² rows for C communities) as the first thing after the
    // label joins — the edge count, the intra counts, and the degree mass
    // are all functions of it, so the count + two aggregations (and the
    // checkpoint) run over C² rows instead of |E|, and the one exchange
    // that still sees edge-proportional data is map-side-combined to ≤ C²
    // rows per partition (guide §2.3). Outputs are identical: m = Σ cnt,
    // l_intra = Σ cnt over ca=cb, d_sum = Σ cnt over both label columns.
    val lab = e
      .join(cm.select(col("node").as("a"), col("community").as("ca")), Seq("a"))
      .join(cm.select(col("node").as("b"), col("community").as("cb")), Seq("b"))
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // one labeled-edge pass feeds count + both aggs
    val m = {
      val r = lab.agg(sum(col("cnt"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    if (m > (1L << 30))
      throw new ArithmeticException(
        s"modularity: $m labeled edges exceeds the 2^30 BIGINT-safe bound " +
          "for q_num_4m2 = 4mL - D^2 (D^2 <= 4m^2 wraps past 2^63) — " +
          "lift the numerator to DECIMAL(38,0) for graphs this size")
    // r22: ONE explode + aggregation instead of (intra groupBy) ⋈ (union
    // + degree groupBy) — the label-pair row (ca, cb, cnt) contributes
    // cnt to both endpoints' degree mass and, when ca = cb, cnt to the
    // intra count of ca (exactly what the union + filtered agg + left
    // join computed; a community with no intra edges sums ic = 0, which
    // the coalesce used to supply). The statless checkpointed relation
    // made Catalyst plan that join as a SortMergeJoin — two sorts and
    // an extra exchange over a relation this shape never needs to join
    // at all.
    lab.select(explode(array(
        struct(col("ca").as("community"), col("cnt"),
          when(col("ca") === col("cb"), col("cnt")).otherwise(lit(0L)).as("ic")),
        struct(col("cb").as("community"), col("cnt"), lit(0L).as("ic")))).as("u"))
      .groupBy(col("u.community").as("community"))
      .agg(sum(col("u.ic")).as("l_intra"), sum(col("u.cnt")).as("d_sum"))
      .select(col("community"), col("l_intra"), col("d_sum"),
        (lit(4L) * m * col("l_intra") -
          col("d_sum") * col("d_sum")).as("q_num_4m2"),
        lit(m).as("m_edges"))
  }

  /** Weighted Newman modularity — [[modularity]] generalized to an
    * integer edge-weight column: Q = Σ_c (W_c/W − (S_c/2W)²) with W_c
    * the intra-community weight, S_c the community's strength mass
    * (Σ incident weight over members), W the total weight. Published
    * EXACTLY as integers per community: (community, w_intra, s_sum,
    * q_num_4w2 = 4·W·W_c − S_c², w_total) — Q = Σ q_num_4w2/(4W²)
    * driver-side, the same no-float protocol as the unweighted form.
    *
    * `edges` = (src, dst, w) with integer w ≥ 1; parallel (src, dst)
    * rows pre-sum after canonicalization (least/greatest, loops
    * dropped), an edge with an unlabeled endpoint is dropped. Overflow
    * contract (fail-loud): W ≤ 2³⁰ — S_c² ≤ (2W)² is the extreme term,
    * exactly the unweighted bound with weight standing in for count;
    * heavier corpora lift the numerator to DECIMAL(38,0).
    *
    * Scale shape: identical to [[modularity]] — one canonicalize
    * aggregation, two hash joins against membership, two partial-agg'd
    * group-bys. No iteration. */
  def modularityWeighted(edges: DataFrame, communities: DataFrame): DataFrame = {
    // r21 (guide §2.3): the (a, b) parallel-row pre-sum the doc used to
    // describe is algebraically absorbed into the label-pair aggregation —
    // every published value is a SUM over edges, and summing parallel rows
    // first then grouping by label pair equals grouping raw canonicalized
    // rows by label pair directly. That drops one corpus-scale exchange
    // (the (a, b) groupBy) outright; the remaining exchange is the
    // (ca, cb) aggregation, map-side-combined to ≤ C² rows per partition.
    // The checkpoint + total + both aggregations then run over ≤ C² rows
    // instead of |E| (same rewrite as [[modularity]]).
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
    val cm = communities.select(col("node"), col("community"))
    val lab = e
      .join(cm.select(col("node").as("a"), col("community").as("ca")), Seq("a"))
      .join(cm.select(col("node").as("b"), col("community").as("cb")), Seq("b"))
      .groupBy(col("ca"), col("cb")).agg(sum(col("w")).as("w"))
      .localCheckpoint() // one labeled-edge pass feeds the total + both aggs
    val wTot = {
      val r = lab.agg(sum(col("w"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    if (wTot > (1L << 30))
      throw new ArithmeticException(
        s"modularityWeighted: total weight $wTot exceeds the 2^30 BIGINT-safe " +
          "bound for q_num_4w2 = 4WL - S^2 (S^2 <= 4W^2 wraps past 2^63) — " +
          "lift the numerator to DECIMAL(38,0) for corpora this heavy")
    // r22: one explode + aggregation replaces the union/filter/left-join
    // assembly — the same rewrite as [[modularity]] (see the comment
    // there); weight stands in for count.
    lab.select(explode(array(
        struct(col("ca").as("community"), col("w"),
          when(col("ca") === col("cb"), col("w")).otherwise(lit(0L)).as("iw")),
        struct(col("cb").as("community"), col("w"), lit(0L).as("iw")))).as("u"))
      .groupBy(col("u.community").as("community"))
      .agg(sum(col("u.iw")).as("w_intra"), sum(col("u.w")).as("s_sum"))
      .select(col("community"), col("w_intra"), col("s_sum"),
        (lit(4L) * wTot * col("w_intra") -
          col("s_sum") * col("s_sum")).as("q_num_4w2"),
        lit(wTot).as("w_total"))
  }

  /** Greedy agglomerative modularity clustering — the parallel form of
    * Clauset-Newman-Moore: per round, every community nominates the
    * neighbor community with the best modularity gain (ΔQ > 0 only,
    * ties broken toward the smaller id), and MUTUAL nominations merge
    * (label = the pair's min id). Mutual-best matching is what makes
    * the parallel greedy both deterministic and monotone: unlike
    * synchronous per-NODE Louvain moves — whose label swaps oscillate
    * (two nodes exchanging communities forever) and make the operator
    * ungateable — a mutual merge strictly increases Q every round and a
    * converged partition is a fixpoint, so running extra rounds is a
    * no-op and a fixed round count is exact, not an approximation knob.
    *
    * Gains compare as EXACT integers: ΔQ(A,B) ∝ 2m·e_AB − D_A·D_B
    * (× 2m² clears the denominators), computed in DECIMAL(38,0) so the
    * product cannot wrap on graphs past 2³¹ edges. With the min-id tie
    * break the whole trajectory is reproducible cross-engine — the
    * DuckDB oracle unrolls the same rounds in SQL.
    *
    * Scale shape per round (reworked after the r16 plan audit): the
    * loop state is the LABELED edge relation (a, b, ca, cb) — seeded
    * for free, since round-0 labels are the node ids themselves — and
    * each round applies only the merge DIFF (old community → new
    * community, at most one row per merged pair, strictly shrinking) to
    * both label columns via broadcast joins: the edge relation is never
    * re-exchanged inside the loop (the pre-r17 shape re-joined e0
    * against the full membership map per round, which re-shuffled the
    * edges on `b` once the map outgrew broadcast — a per-round full-
    * edge exchange at 100×). Per round: one pair-weight aggregation
    * (map-side partial combine — only distinct community PAIRS move),
    * one degree-mass aggregation over the node-sized membership map, a
    * per-community window top-1 and a semi-join mutual check (both
    * community-pair-sized), then the two broadcast relabel joins. The
    * merge-diff count doubles as the convergence probe: a round with no
    * positive mutual merge is the fixpoint, and the loop EXITS instead
    * of paying provably-no-op rounds (kCore's early-exit pattern —
    * `rounds` is the cap, not the iteration count; GraphSpec pins
    * cap-equivalence). `onRound` observes each merged round's
    * membership map (the GraphScale soak scores per-round Q monotonicity
    * through it); the default is a no-op. Edges naming ids outside
    * `nodes` are dropped (the node-frame contract). Output:
    * (node, community). */
  def greedyModularity(nodes: DataFrame, edges: DataFrame,
                       rounds: Int, numParts: Int = 0,
                       onRound: (Int, DataFrame) => Unit = (_, _) => (),
                       localBounded: Int = 0): DataFrame = {
    val ids = nodes.select(col("id"))
    val e0base = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .join(ids.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(ids.select(col("id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"), lit(1L).as("w"))
    greedyModularityCore(ids, e0base, rounds, numParts, onRound, localBounded)
  }

  /** Weighted greedy agglomerative modularity — [[greedyModularity]]
    * generalized to an integer edge-weight column: pair affinity is the
    * SUMMED weight between communities, degree mass is node STRENGTH
    * (Σ incident weight), and gains compare as 2W·w_AB − S_A·S_B in
    * DECIMAL(38,0) with W = total weight. The form community detection
    * takes on the graphs a data pipeline actually builds — similarity
    * graphs, co-occurrence graphs, the order graph weighted by order
    * count — where collapsing weights to 0/1 loses exactly the signal
    * the clustering is after. `edges` = (src, dst, w ≥ 1, integer);
    * parallel (src, dst) rows pre-sum; self-loops are dropped. The
    * unweighted operator IS this one at w ≡ 1 (it delegates to the same
    * core), so the two cannot drift. */
  def greedyModularityWeighted(nodes: DataFrame, edges: DataFrame,
                               rounds: Int, numParts: Int = 0,
                               onRound: (Int, DataFrame) => Unit = (_, _) => (),
                               localBounded: Int = 0): DataFrame = {
    val ids = nodes.select(col("id"))
    val e0base = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .join(ids.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(ids.select(col("id").as("b")), Seq("b"), "left_semi")
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    greedyModularityCore(ids, e0base, rounds, numParts, onRound, localBounded)
  }

  private def greedyModularityCore(ids: DataFrame, e0base: DataFrame,
                                   rounds: Int, numParts: Int,
                                   onRound: (Int, DataFrame) => Unit,
                                   localBounded: Int): DataFrame = {
    require(rounds >= 1, "greedyModularity needs at least one round")
    // caller-asserted bounded graph (the sampled gated instances): one
    // probe-enforced collect + the in-process mutual-merge twin — a
    // distributed merge round is ~8 scheduled stages; kCore's
    // localBounded convention (the probe's limit makes a wrong
    // assertion a cheap fallback, never a driver OOM)
    if (localBounded > 0 && LocalExec.enabled(ids.sparkSession)) {
      val spark = ids.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("community",
          org.apache.spark.sql.types.LongType, nullable = false)))
      def toDF(s: Seq[(Long, Long)]): DataFrame =
        LocalExec.localDF(spark, schema,
          s.map { case (n, c) => org.apache.spark.sql.Row(n, c) })
      val routed = for {
        idArr <- LocalExec.boundedIds(ids, localBounded)
        eRows <- LocalExec.collectBounded(
          e0base.select(col("a").cast("long"), col("b").cast("long"),
            col("w").cast("long")), localBounded)
      } yield toDF(LocalExec.greedyModularity(
        idArr,
        eRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
        rounds, (rd, seq) => onRound(rd, toDF(seq))))
      routed match {
        case Some(df) => return df
        case None => ()
      }
    }
    val e0 = (if (numParts > 0) e0base.repartition(numParts, col("a"))
              else e0base).localCheckpoint()
    // W = total edge weight (the unweighted caller's w ≡ 1 makes this
    // the edge count m, bit-identical to the pre-weight formulation).
    // min(w) rides the same scalar job as the contract check: integer
    // w ≥ 1, enforced identically on the LocalExec route — an
    // out-of-contract weight (0, negative) would silently skew every
    // gain product instead of failing loud.
    val (m, minW) = {
      val r = e0.agg(sum(col("w")), min(col("w"))).head()
      if (r.isNullAt(0)) (0L, 1L) else (r.getLong(0), r.getLong(1))
    }
    require(minW >= 1L,
      s"greedyModularity: edge weight must be a positive integer (w >= 1), found $minW")
    val deg = e0.select(col("a").as("node"), col("w"))
      .unionAll(e0.select(col("b").as("node"), col("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("k"))
      .localCheckpoint()
    var comm = ids.select(col("id").as("node"), col("id").as("community"))
      .localCheckpoint()
    // round-0 community labels ARE the node ids — the labeled edge state
    // starts as a projection, no membership join ever runs. The edge
    // weight rides along: relabelEdges preserves non-label columns.
    var labE = e0.select(col("a"), col("b"), col("w"),
      col("a").as("ca"), col("b").as("cb")).localCheckpoint()
    val dec = "decimal(38,0)"
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      val w = labE.filter(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("x"),
          greatest(col("ca"), col("cb")).as("y"), col("w").as("ew"))
        .groupBy(col("x"), col("y")).agg(sum(col("ew")).as("w"))
      val d = comm.join(deg, Seq("node"))
        .groupBy(col("community")).agg(sum(col("k")).as("d"))
      val cand = w.select(col("x").as("c"), col("y").as("p"), col("w"))
        .unionByName(w.select(col("y").as("c"), col("x").as("p"), col("w")))
        .join(d.select(col("community").as("c"), col("d").as("dc")), Seq("c"))
        .join(d.select(col("community").as("p"), col("d").as("dp")), Seq("p"))
        .select(col("c"), col("p"),
          (lit(2L).cast(dec) * lit(m).cast(dec) * col("w").cast(dec) -
            col("dc").cast(dec) * col("dp").cast(dec)).as("gain"))
        .filter(col("gain") > 0)
      val best = cand.withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("c"))
              .orderBy(col("gain").desc, col("p").asc)))
        .filter(col("rn") === 1).select(col("c"), col("p"))
      val mutual = best
        .join(best.select(col("p").as("c"), col("c").as("p")),
          Seq("c", "p"), "left_semi")
        .filter(col("c") < col("p")) // one row per merged pair; label = c
      val relabel = mutual
        .select(col("p").as("community"), col("c").as("newc"))
        .localCheckpoint()
      // the count is the convergence probe AND the broadcast-size gate —
      // one scalar job over an already-materialized pair-sized frame
      val nMerges = relabel.count()
      if (nMerges == 0) converged = true
      else {
        // merge diffs are community-count-bounded and halve round over
        // round; broadcasting them keeps the edge state exchange-free.
        // Past the bound (4M pairs — a first round on a billion-node
        // graph) fall back to a shuffled join: still strictly cheaper
        // than the old shape, which re-exchanged the EDGES, not the map.
        val rl = if (nMerges <= RelabelBroadcastMax) broadcast(relabel)
                 else relabel
        comm = comm.join(rl, Seq("community"), "left")
          .select(col("node"),
            coalesce(col("newc"), col("community")).as("community"))
          .localCheckpoint()
        labE = relabelEdges(labE, rl).localCheckpoint()
        onRound(r, comm)
      }
    }
    comm
  }

  /** Merge-diff cap for keeping [[greedyModularity]]'s relabel joins on
    * the broadcast path: 4M (community, newc) pairs ≈ 64 MB of longs —
    * the same order as kCore's drop-set bound. */
  val RelabelBroadcastMax: Long = 4L * 1024 * 1024

  /** Applies one round's merge diff `rl` (community → newc) to both
    * label columns of the labeled edge state — two left joins that stay
    * broadcast (zero edge-side exchange) whenever the caller passes a
    * broadcast-hinted diff; PlanShapeSpec pins that plan shape. */
  private[graft] def relabelEdges(labE: DataFrame, rl: DataFrame): DataFrame = {
    // non-label columns (a, b, and the weight when present) pass through
    val keep = labE.columns.filterNot(c => c == "ca" || c == "cb").map(col(_))
    labE
      .join(rl.select(col("community").as("ca"), col("newc").as("nca")),
        Seq("ca"), "left")
      .join(rl.select(col("community").as("cb"), col("newc").as("ncb")),
        Seq("cb"), "left")
      .select(keep ++ Seq(
        coalesce(col("nca"), col("ca")).as("ca"),
        coalesce(col("ncb"), col("cb")).as("cb")): _*)
  }

  /** Per-node triangle participation count over the undirected closure.
    * Canonical (a<b) edge set, two-hop join, closing-edge semi-join — the
    * standard distributed triangle plan: three shuffles total, no node
    * materializes more than its neighborhood. */
  /** Degree-oriented directed edge set (s → d with (deg,id)-smaller
    * endpoint first) over the undirected closure of `edges`, checkpointed
    * once — the shared substrate of both triangle formulations.
    *
    * Degree orientation (the standard scale trick): orient every
    * undirected edge from the (degree, id)-smaller endpoint to the
    * larger. Every oriented out-degree is then O(√m), so wedge/adjacency
    * work is O(m^1.5) TOTAL — where id-ordering leaves a hub with d²
    * wedges (fatal on power-law graphs: one deg-1000 hub is 10⁶ wedges
    * by itself). Each triangle survives in exactly one representation
    * (u ≺ v ≺ w), so counts are unchanged. */
  private def orientedEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val canon = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") < col("dst")).distinct()
    val deg = canon.select(col("src").as("node"))
      .union(canon.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("c"))
    val withDeg = canon
      .join(deg.select(col("node").as("src"), col("c").as("du")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("c").as("dv")), Seq("dst"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("src") < col("dst"))
    // checkpoint: dir feeds multiple downstream sides (wedge join sides /
    // edge list + adjacency build)
    withDeg.select(
        when(uFirst, col("src")).otherwise(col("dst")).as("s"),
        when(uFirst, col("dst")).otherwise(col("src")).as("d"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint()
  }

  /** Per-node triangle counts — edge-iterator formulation: per oriented
    * edge (u,v) the closing third corners are exactly
    * `N⁺(u) ∩ N⁺(v)` (triangle u→v, u→w, v→w counted once, at its
    * (deg,id)-least edge), computed by the native sorted-merge
    * `graft_sorted_intersect` over collect_list'd out-adjacency. Credits:
    * u and v each get |I| (they sit in |I| triangles through this edge),
    * every w ∈ I gets 1 — one explode over ACTUAL triangles, where the
    * wedge self-join materializes every candidate wedge through join
    * machinery first. Same O(m^1.5) bound (out-lists are O(√m)), better
    * constants: two joins + an agg instead of three joins, and the only
    * intermediate rows are edges (with bounded arrays) and triangles.
    * [[triangleCountsWedge]] keeps the wedge-join formulation; GraphSpec
    * pins the two equal on real data. */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // bounded graphs count in-process (the kCore/coreness/kTruss move):
    // the distributed pass below is 6 shuffle stages, and the 10M-edge
    // GRAPH_SCALE `triangles` row keeps it measured; GraphSpec pins the
    // routes equal (the wedge-join twin never routes local)
    val local = LocalExec.route(nodes, edges)(LocalExec.triangleCounts(nodes, edges))
    if (local.isDefined) return local.get
    graft.functions.GraftFunctions.register(nodes.sparkSession)
    val dir = orientedEdges(edges)
    val adj = dir.groupBy(col("s"))
      .agg(sort_array(collect_list(col("d"))).as("nbrs"))
    val withI = dir.select(col("s").as("u"), col("d").as("v"))
      .join(adj.select(col("s").as("u"), col("nbrs").as("un")), Seq("u"))
      .join(adj.select(col("s").as("v"), col("nbrs").as("vn")), Seq("v"))
      .select(col("u"), col("v"),
        call_function("graft_sorted_intersect", col("un"), col("vn")).as("ws"))
      .select(col("u"), col("v"), col("ws"), size(col("ws")).cast("long").as("nw"))
      .filter(col("nw") > 0)
    val credits = withI.select(explode(concat(
        array(struct(col("u").as("id"), col("nw").as("c")),
              struct(col("v").as("id"), col("nw").as("c"))),
        transform(col("ws"), w => struct(w.as("id"), lit(1L).as("c"))))).as("x"))
      .select(col("x.id").as("id"), col("x.c").as("c"))
    val perNode = credits.groupBy(col("id")).agg(sum(col("c")).as("n_tri"))
    nodes.select(col("id"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Per-node triangle counts — wedge self-join formulation (generate
    * ordered wedges at each center, close with a third-edge probe).
    * Cross-validation twin of [[triangleCounts]]. */
  def triangleCountsWedge(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val dir = orientedEdges(edges)
    val wedgeOrd = col("e1.dd") < col("e2.dd") ||
      (col("e1.dd") === col("e2.dd") && col("e1.d") < col("e2.d"))
    val tri = dir.as("e1")
      .join(dir.as("e2"), col("e1.s") === col("e2.s") && wedgeOrd)
      .join(dir.as("e3"),
        col("e3.s") === col("e1.d") && col("e3.d") === col("e2.d"))
      .select(col("e1.s").as("a"), col("e1.d").as("b"), col("e2.d").as("c"))
    val perNode = tri.select(col("a").as("id"))
      .union(tri.select(col("b").as("id")))
      .union(tri.select(col("c").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    nodes.select(col("id"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Per-node local clustering substrate, published EXACTLY: for each
    * node, the integer pair (n_tri, n_wedges) where n_tri is the node's
    * triangle participation count and n_wedges = d·(d−1)/2 over its
    * distinct undirected degree d — the local clustering coefficient is
    * the driver-side ratio n_tri/n_wedges (1.0 for a clique corner, 0
    * for a star center), with no float protocol in the gate: the same
    * publish-the-integers move as closeness/modularity. Global
    * transitivity is an aggregation of the same pairs: Σn_tri counts
    * every triangle at its three corners, so transitivity =
    * Σn_tri / Σn_wedges directly.
    *
    * Scale shape: [[triangleCounts]]'s degree-oriented O(m^1.5) plan
    * plus one degree aggregation and one node-keyed join — no
    * iteration. Nodes outside the edge set get (0, 0). */
  def clustering(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val local = LocalExec.route(nodes, edges)(LocalExec.clustering(nodes, edges))
    if (local.isDefined) return local.get
    val e = edges.select(col("src"), col("dst"))
    val canon = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") < col("dst")).distinct()
    val deg = canon.select(col("src").as("id"))
      .union(canon.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    triangleCounts(nodes, edges)
      .join(deg, Seq("id"), "left")
      .select(col("id"), col("n_tri"),
        // d·(d−1) is even, and DIV keeps the arithmetic in BIGINT (the
        // `/` operator would silently widen to DOUBLE)
        expr("COALESCE(d * (d - 1), 0L) DIV 2L").as("n_wedges"))
  }

  /** Per-edge triangle support over a canonical (a < b, deduped,
    * loop-free) undirected edge set: for each edge, how many triangles
    * contain it. Rides the same degree-oriented edge-iterator as
    * [[triangleCounts]] — each triangle is enumerated once at its
    * (deg,id)-least edge via the native sorted-merge intersection, and
    * credits its THREE edges (the iterated edge gets |I| in one row;
    * each closing corner credits the two remaining edges) — so the
    * aggregation input is exactly 3 rows per actual triangle, O(m^1.5)
    * total. Edges in no triangle report support 0.
    *
    * `canon` IS the canonical form already (the callers guarantee it),
    * so orientation is computed directly from it — the undirected
    * closure + distinct that [[orientedEdges]] pays would be a full
    * extra shuffle of the live set on every peel round here, re-deduping
    * rows that are deduped by construction. `numParts > 0` sizes the
    * degree/adjacency/support aggregations to the graph instead of
    * `spark.sql.shuffle.partitions` (the same knob every sibling peel
    * carries — kCore, coreness, greedyModularity). */
  private[graft] def edgeSupports(canon: DataFrame, numParts: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(canon.sparkSession)
    def part(df: DataFrame, cs: org.apache.spark.sql.Column*): DataFrame =
      if (numParts > 0) df.repartition(numParts, cs: _*) else df
    // degree orientation straight off the canonical set: s = the
    // (deg, id)-smaller endpoint — the same O(√m) out-degree bound as
    // [[orientedEdges]], minus its closure+distinct pass
    val deg = part(canon.select(col("a").as("node"))
        .union(canon.select(col("b").as("node"))), col("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("c"))
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("c").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("c").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // checkpoint: dir feeds three downstream sides (edge list + both
    // adjacency probes)
    val dir = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("s"),
        when(aFirst, col("b")).otherwise(col("a")).as("d"))
      .localCheckpoint()
    val adj = part(dir, col("s")).groupBy(col("s"))
      .agg(sort_array(collect_list(col("d"))).as("nbrs"))
    val withI = dir.select(col("s").as("u"), col("d").as("v"))
      .join(adj.select(col("s").as("u"), col("nbrs").as("un")), Seq("u"))
      .join(adj.select(col("s").as("v"), col("nbrs").as("vn")), Seq("v"))
      .select(col("u"), col("v"),
        call_function("graft_sorted_intersect", col("un"), col("vn")).as("ws"))
      .filter(size(col("ws")) > 0)
    val credits = withI.select(explode(concat(
        array(struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"),
          size(col("ws")).cast("long").as("c"))),
        transform(col("ws"), w => struct(least(col("u"), w).as("a"),
          greatest(col("u"), w).as("b"), lit(1L).as("c"))),
        transform(col("ws"), w => struct(least(col("v"), w).as("a"),
          greatest(col("v"), w).as("b"), lit(1L).as("c"))))).as("x"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("x.c").as("c"))
    val sup = part(credits, col("a"), col("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("c")).as("support"))
    canon.join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** K-truss decomposition by synchronous edge peeling — the edge-
    * support analog of [[kCore]]: each round recomputes per-edge
    * triangle support among the SURVIVORS and drops every edge with
    * support < k−2, until a round drops nothing (fixpoint — further
    * rounds are no-ops, so the early exit is exact) or `rounds` is
    * exhausted (a cap, matched exactly by the oracle's unroll: both
    * engines stop after the same round whether or not the peel has
    * converged, so the gate never depends on convergence). Returns the
    * surviving canonical edges with their support WITHIN the surviving
    * subgraph — recomputed after a cap exit, reused from the fixpoint
    * round otherwise.
    *
    * Scale shape: the loop variable is the live canonical edge set
    * (localCheckpoint per round, O(1) lineage); each round is one
    * degree-oriented support pass (O(m_live^1.5), shrinking
    * monotonically) plus a filter — no driver-side edge lists, and the
    * convergence probe is the count pair the round already needs.
    *
    * Bounded graphs route to [[LocalExec.kTruss]] — the same in-process
    * peel the sibling decompositions (kCore, coreness) take: a peel
    * round is ~9 scheduled shuffle stages, so a 100k-edge graph pays
    * seconds of scheduling for milliseconds of compute. The oracle then
    * gates the LOCAL route at the bench SFs while GraphSpec pins
    * local ≡ distributed with the knob forced off. `numParts > 0` sizes
    * the distributed rounds' aggregations to the graph (threaded through
    * [[edgeSupports]]). */
  def kTruss(edges: DataFrame, k: Int, rounds: Int, numParts: Int = 0,
             localBounded: Int = 0): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (k-2 >= 1 triangle per edge)")
    require(rounds >= 1, "kTruss needs at least one peel round")
    val local = LocalExec.routeEdges(edges, localBounded)(LocalExec.kTruss(edges, k, rounds))
    if (local.isDefined) return local.get
    val t = (k - 2).toLong
    val e = edges.select(col("src"), col("dst"))
    val canon0 = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var live = (if (numParts > 0) canon0.repartition(numParts, col("a"))
                else canon0)
      .localCheckpoint()
    var nLive = live.count()
    var finalSup: Option[DataFrame] = None
    var r = 0
    while (r < rounds && finalSup.isEmpty && nLive > 0) {
      r += 1
      // ACCEPTED TRADEOFF (r19): supports are recomputed from scratch over
      // the survivors each round, though only edges adjacent to a dropped
      // edge can lose support (kCore's broadcast-drop-set pattern would
      // bound late rounds to the affected neighborhoods). The 10M-edge
      // soak priced the full recompute at 26 s TOTAL for the whole k=5
      // peel (GRAPH_SCALE ktruss_k5, converged fixpoint) — the late
      // trickle rounds run on a live set already shrunk by the heavy
      // early drops, so the affected-edge bookkeeping (an extra
      // edge-to-drop-set semi-join per round plus a stale-support merge)
      // would complicate the partition-invariance contract for at most a
      // few seconds at this scale. Revisit only if a heavier soak shows
      // late rounds dominating.
      val sup = edgeSupports(live, numParts).localCheckpoint()
      val next = sup.filter(col("support") >= t).localCheckpoint()
      val nNext = next.count()
      if (nNext == nLive) finalSup = Some(sup) // fixpoint: sup IS final
      else {
        live = next.select(col("a"), col("b")).localCheckpoint()
        nLive = nNext
      }
    }
    // cap exit (or an emptied graph): supports are stale relative to the
    // last drop — one final pass over the survivors, exactly as the
    // oracle's unroll ends with a support recompute over its last live
    // set. Checkpointed like every other loop product in this file: a
    // consumer that materializes twice must not pay the O(m^1.5) support
    // pass twice.
    finalSup.getOrElse(edgeSupports(live, numParts).localCheckpoint())
  }

  /** Core number (coreness) per node — the FULL k-core decomposition
    * ([[kCore]] answers one k; this answers all of them at once, the
    * form a pipeline selecting "dense-core documents/accounts" actually
    * wants).
    *
    * Distributed formulation: the h-index fixpoint iteration — c₀ =
    * degree, c_{t+1}(v) = H({c_t(u) : u ∈ N(v)}) where H is the
    * h-index (max k such that ≥ k neighbors have value ≥ k) — a purely
    * LOCAL update that is monotonically non-increasing per node and
    * converges exactly to the core number, which is what makes coreness
    * computable as iterated joins at all (the textbook min-degree peel
    * is inherently sequential). Per round, Spark-first: one edge-sized
    * aggregation WITH map-side combine — neighbor values pre-aggregate
    * as (node, value, count), and distinct (node, value) pairs are what
    * move, collapsing as convergence spreads values — then a node-sized
    * sort+fold computes H from the (value, count) runs inside a single
    * codegen'd `aggregate` expression, no window, no per-neighbor rows
    * past the combine. The convergence probe is one scalar sum per
    * round (values only decrease, so ANY change strictly drops the
    * sum); `maxRounds` is a cap, matched by the oracle's unroll.
    *
    * Bounded graphs route to [[LocalExec.coreness]] — the EXACT
    * Matula–Beck peel, a genuinely different algorithm that the DuckDB
    * h-index-unroll oracle then gates: their exact agreement on the
    * gated instance doubles as the proof that the cap covers
    * convergence there. Edges naming ids outside `nodes` are dropped;
    * isolated nodes report core 0. */
  /** One h-index round: next(v) = H({c(u) : u ∈ N(v)}) over the
    * symmetric edge relation `und` (src, dst) and value frame `c`
    * (node, c). Factored out of [[coreness]] so the scale soak can
    * certify a published table as a FIXPOINT of the same operator
    * without duplicating the fold. One edge-sized aggregation with
    * map-side combine, then a node-sized codegen'd sort-fold. */
  private[graft] def hIndexRound(und: DataFrame, c: DataFrame): DataFrame = {
    val nv = und
      .join(c.select(col("node").as("dst"), col("c").as("cv")), Seq("dst"))
      .groupBy(col("src"), col("cv")).agg(count(lit(1)).as("n"))
    nv.groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("cv"), col("n"))),
        asc = false).as("a"))
      .select(col("src").as("node"), expr(
        """CAST(aggregate(a, named_struct('seen', 0L, 'h', 0L),
          |  (acc, x) -> named_struct('seen', acc.seen + x.n,
          |    'h', greatest(acc.h, least(x.cv, acc.seen + x.n))),
          |  acc -> acc.h) AS BIGINT)""".stripMargin).as("c"))
  }

  def coreness(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
               numParts: Int = 0,
               onRound: Int => Unit = _ => ()): DataFrame = {
    require(maxRounds >= 1, "coreness needs at least one h-index round")
    val local = LocalExec.route(nodes, edges)(LocalExec.coreness(nodes, edges))
    if (local.isDefined) return local.get
    val e = edges.select(col("src"), col("dst"))
    val ids = nodes.select(col("id"))
    val undBase = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
    // laid out ONCE on dst: each round's value join probes exchange-free
    // on the edge side (only the node-sized value frame moves)
    val und = (if (numParts > 0) undBase.repartition(numParts, col("dst"))
               else undBase.repartition(col("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def sumOf(df: DataFrame): Long = {
      val r = df.agg(sum(col("c"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var c = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    var prevSum = sumOf(c)
    var r = 0
    var converged = prevSum == 0L
    while (r < maxRounds && !converged) {
      r += 1
      c = hIndexRound(und, c).localCheckpoint()
      val s = sumOf(c)
      if (s == prevSum) converged = true else prevSum = s
      onRound(r)
    }
    val out = ids.join(c.withColumnRenamed("node", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), lit(0L)).as("coreness"))
      .localCheckpoint() // materialize before the edge layout unpersists
    und.unpersist()
    out
  }

  /** K-core decomposition by synchronous peeling: each round drops every
    * node whose degree among the survivors is < k, until a round drops
    * nothing (converged) or `rounds` is exhausted (`rounds` is a safety
    * cap, not the expected iteration count). Returns the members of the
    * k-core with their in-core degree.
    *
    * Scale shape: the loop variable is the live EDGE set — one degree
    * aggregation plus two semi-joins per round, all over the
    * monotonically shrinking survivors (never the original graph); each
    * round's live set is localCheckpoint'ed so the plan stays O(1)
    * across rounds. The early-exit costs one count per round on the
    * (already materialized) checkpoint — the same convergence probe CC
    * uses — and halves the work on graphs that peel in fewer rounds
    * than the cap. */
  /** `numParts > 0` sizes the persisted edge set and each round's frontier
    * to the graph instead of `spark.sql.shuffle.partitions` — a
    * few-thousand-edge graph over local[32]'s default width pays ~10
    * rounds × 4 stages × 32 near-empty tasks otherwise (same knob as
    * Traversals.bfs / GraphXBridge). */
  /** A round's peeled-node set is removed from the live edge set as a
    * broadcast-probed FILTER while it stays under this many ids (32 MB of
    * longs) — the common case after round one, where peeling drops a
    * trickle. The ids ride a torrent broadcast into a codegen'd
    * binary-search probe ([[graft.functions.SortedLongSetContains]]), so
    * a trickle round is one aggregation job plus one filter job: no join
    * operator, no exchange, and the filter PRESERVES the live set's
    * src-partitioning — which is what keeps every subsequent round's
    * degree aggregation exchange-free. A heavier drop takes the shuffle
    * semi-join path instead: at 100 TB a first round can shed billions
    * of nodes, and those must never be collected to the driver. */
  val DropBroadcastMax: Int = 4 * 1024 * 1024

  private val kCoreProbeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  def kCore(edges: DataFrame, k: Int, rounds: Int, numParts: Int = 0,
            dropBroadcastMax: Int = DropBroadcastMax,
            localBounded: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    // bounded graphs peel locally: plan-statistics-small inputs qualify
    // on their own, derived relations via the caller's probe-enforced
    // assertion (see LocalExec.route)
    val local = LocalExec.routeEdges(edges, localBounded)(LocalExec.kCore(edges, k, rounds))
    if (local.isDefined) return local.get
    // per-invocation probe name: concurrent peels on one session must not
    // destroy each other's in-flight broadcast (dropped after the loop)
    val probe = s"graft_kcore_dropped_${kCoreProbeSeq.incrementAndGet()}"
    val e = edges.select(col("src"), col("dst"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    // One explicit partitioning, paid once: every later round is a
    // partitioning-preserving filter over it (localCheckpoint keeps the
    // partitioning metadata), so the per-round degree aggregation
    // clusters on src with no further Exchange.
    var live = (if (numParts > 0) und.repartition(numParts, col("src")) else und)
      .localCheckpoint()
    try {
      var converged = false
      var r = 0
      while (r < rounds && !converged) {
        // one degree pass per round (und is symmetric, so out-degree over
        // live counts each incident edge); head(max+1) both bounds the
        // driver-side copy and doubles as the convergence probe (empty =
        // fixpoint) — no separate count job, no materialized dropped set
        val dropped = live.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") < k).select(col("id"))
        val ids = dropped.head(dropBroadcastMax + 1).map(_.getLong(0))
        if (ids.isEmpty) converged = true // fixpoint: live already final
        else if (ids.length <= dropBroadcastMax) {
          java.util.Arrays.sort(ids)
          val bc = spark.sparkContext.broadcast(ids)
          graft.functions.GraftFunctions.registerSetProbe(spark, probe, bc)
          // Datasets analyze eagerly and localCheckpoint materializes
          // eagerly, so this round's filter has bound and USED `bc` before
          // the next round's re-registration destroys it
          live = live.filter(!call_function(probe, col("src")) &&
              !call_function(probe, col("dst")))
            .localCheckpoint()
        } else {
          // heavy round (typically only the first): survivors via shuffle
          // semi-joins — the dropped set is too large to hold driver-side
          val alive = live.groupBy(col("src").as("id"))
            .agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k).select(col("id"))
          live = live
            .join(alive.select(col("id").as("s2")), col("src") === col("s2"), "left_semi")
            .join(alive.select(col("id").as("d2")), col("dst") === col("d2"), "left_semi")
          live = (if (numParts > 0) live.repartition(numParts, col("src")) else live)
            .localCheckpoint()
        }
        r += 1
      }
      live.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
    } finally graft.functions.GraftFunctions.dropProbe(spark, probe)
  }

  /** Bridge detection — the connectivity-robustness audit (which single
    * edges disconnect the graph: the data-lineage / network
    * single-point-of-failure question). A bridge is an edge on no cycle.
    *
    * Distributed formulation (bounded graphs route to
    * [[LocalExec.bridges]], the exact Tarjan low-link twin):
    *   1. label components ([[GraphXBridge.connectedComponents]] —
    *      comp = min member id), then grow a BFS spanning forest from
    *      each component's root, parent = min frontier neighbor
    *      (deterministic);
    *   2. every non-tree edge gets two independent 64-bit signatures
    *      (xxhash64 of its canonical pair under two salts); each node
    *      XOR-folds its incident non-tree signatures (`bit_xor`, one
    *      edge-sized agg);
    *   3. one bottom-up level peel over the forest accumulates subtree
    *      XORs (depth rounds, node-sized frames): for tree edge
    *      (parent, c), the subtree XOR at c equals the fold of
    *      signatures of non-tree edges CROSSING the edge — both-inside
    *      endpoints cancel pairwise (h ⊕ h = 0), exactly-one-inside
    *      survives;
    *   4. bridge ⟺ both subtree XORs are zero. Non-tree edges are never
    *      bridges (each closes a cycle); a TRUE bridge always reports 0
    *      (no crossing edges — no false negatives). A covered edge
    *      reporting 0 requires a ≥1-subset XOR collision under BOTH
    *      salts: probability 2⁻¹²⁸ per edge (the standard cut-sketch
    *      trick, cf. Ahn-Guha-McGregor); the DuckDB gate — an
    *      independent per-candidate-removal reachability — would catch
    *      one.
    *
    * `maxRounds` caps the BFS depth and FAILS LOUD if the forest is not
    * complete (an unfinished forest would silently misclassify — the
    * Brandes-cap rule, not the peel-cap rule). Scale shape: CC rounds +
    * 2·depth rounds of node-sized state; one edge-sized signature agg;
    * no driver-side edge lists. Output: canonical (a, b) bridge pairs. */
  def bridges(edges: DataFrame, maxRounds: Int, numParts: Int = 0,
              localBounded: Int = 0): DataFrame = {
    require(maxRounds >= 1, "bridges needs at least one BFS round")
    val local = LocalExec.routeEdges(edges, localBounded)(LocalExec.bridges(edges))
    if (local.isDefined) return local.get
    val e = edges.select(col("src"), col("dst"))
    val canon0 = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val canon = (if (numParts > 0) canon0.repartition(numParts, col("a"))
                 else canon0).localCheckpoint()
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val nodes = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id"))).distinct().localCheckpoint()
    val visited = spanningForest(nodes, canon, und, maxRounds, numParts, "bridges")
    // Null-safe: with no non-self-loop edges the forest is empty and
    // max(depth) is NULL; depth = 0 skips the peel loops and the empty
    // frame falls through (r19 ADVICE).
    val depthRow = visited.agg(max(col("depth"))).head
    val depth = if (depthRow.isNullAt(0)) 0 else depthRow.getInt(0)
    // 2. non-tree signatures + per-node XOR fold
    val treeCanon = visited.filter(col("parent").isNotNull)
      .select(least(col("node"), col("parent")).as("a"),
        greatest(col("node"), col("parent")).as("b"))
    val nonTree = canon.join(treeCanon, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"),
        xxhash64(col("a"), col("b"), lit(1)).as("h1"),
        xxhash64(col("a"), col("b"), lit(2)).as("h2"))
    val f = nonTree.select(col("a").as("node"), col("h1"), col("h2"))
      .unionAll(nonTree.select(col("b").as("node"), col("h1"), col("h2")))
      .groupBy(col("node"))
      .agg(expr("bit_xor(h1)").as("x1"), expr("bit_xor(h2)").as("x2"))
    // 3. bottom-up level peel of subtree XORs
    var acc = visited.join(f, Seq("node"), "left")
      .select(col("node"), col("parent"), col("depth"),
        coalesce(col("x1"), lit(0L)).as("x1"),
        coalesce(col("x2"), lit(0L)).as("x2"))
      .localCheckpoint()
    var d = depth
    while (d >= 1) {
      val push = acc.filter(col("depth") === d)
        .groupBy(col("parent").as("node"))
        .agg(expr("bit_xor(x1)").as("px1"), expr("bit_xor(x2)").as("px2"))
      acc = acc.join(push, Seq("node"), "left")
        .select(col("node"), col("parent"), col("depth"),
          when(col("px1").isNull, col("x1"))
            .otherwise(expr("x1 ^ px1")).as("x1"),
          when(col("px2").isNull, col("x2"))
            .otherwise(expr("x2 ^ px2")).as("x2"))
        .localCheckpoint()
      d -= 1
    }
    // 4. tree edges whose crossing fold is zero under both salts
    acc.filter(col("parent").isNotNull &&
        col("x1") === 0L && col("x2") === 0L)
      .select(least(col("node"), col("parent")).as("a"),
        greatest(col("node"), col("parent")).as("b"))
  }

  /** Deterministic BFS spanning forest over the canonical undirected
    * graph — the shared substrate of [[bridges]] and
    * [[articulationPoints]]: each component grows from its minimum id
    * (the [[GraphXBridge.connectedComponents]] label), parent = min frontier
    * neighbor. Returns (node, parent NULL at roots, depth). `maxRounds`
    * caps the BFS depth and FAILS LOUD if the forest is not complete —
    * both consumers would silently misclassify on a truncated forest
    * (the Brandes-cap rule, not the peel-cap rule). Scale shape: CC
    * rounds + depth rounds of node-sized state over one edge-sized join
    * per round. */
  private[graft] def spanningForest(nodes: DataFrame, canon: DataFrame,
                                    und: DataFrame, maxRounds: Int,
                                    numParts: Int, who: String): DataFrame = {
    val comp = GraphXBridge.connectedComponents(nodes.sparkSession,
      PropertyGraph(nodes, canon.select(col("a").as("src"), col("b").as("dst"))),
      numParts)
    var visited = comp.filter(col("node") === col("comp"))
      .select(col("node"), lit(null).cast("long").as("parent"),
        lit(0).as("depth"))
      .localCheckpoint()
    var frontier = visited.select(col("node"))
    var depth = 0
    var grew = frontier.count() > 0
    while (grew && depth < maxRounds) {
      depth += 1
      val cand = und.join(frontier.select(col("node").as("dst")), Seq("dst"))
        .select(col("src").as("node"), col("dst").as("parent"))
      val fresh = cand
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .groupBy(col("node")).agg(min(col("parent")).as("parent"))
        .select(col("node"), col("parent"), lit(depth).as("depth"))
        .localCheckpoint()
      if (fresh.count() > 0) {
        visited = visited.unionByName(fresh).localCheckpoint()
        frontier = fresh.select(col("node"))
      } else { grew = false; depth -= 1 }
    }
    val missing = nodes
      .join(visited.select(col("node").as("id")), Seq("id"), "left_anti").count()
    if (missing > 0)
      throw new IllegalStateException(
        s"$who: BFS forest incomplete after $maxRounds rounds " +
          s"($missing nodes unreached) — raise maxRounds; an unfinished " +
          "forest would misclassify, so this fails loud instead")
    visited
  }

  /** Articulation points — the NODE analog of [[bridges]] (which single
    * vertices disconnect the graph: the service/account/broker
    * single-point-of-failure audit). A cut vertex is one contained in
    * ≥ 2 biconnected components.
    *
    * Distributed formulation (bounded graphs route to
    * [[LocalExec.articulationPoints]], the exact Tarjan low-link twin):
    * the Tarjan–Vishkin block-labeling over an ARBITRARY rooted spanning
    * forest — a BFS forest here, nothing DFS-sequential anywhere:
    *   1. [[spanningForest]] (CC roots + min-parent BFS), then three
    *      forest passes of node-sized state: subtree sizes `nd`
    *      (bottom-up level peel), a preorder numbering (top-down —
    *      pre(child) = pre(parent) + 1 + Σ nd(earlier siblings), one
    *      sibling window per level), and subtree-reach bounds
    *      low/high = min/max preorder reachable from the subtree via
    *      one non-tree hop (bottom-up peel seeded by the non-tree
    *      endpoint preorders);
    *   2. the block graph on non-root vertices (vertex v ≙ tree edge
    *      (parent(v), v)): non-tree edge {x, y} with PRE-DISJOINT
    *      subtrees links {x, y} (its fundamental cycle's two chain
    *      bottoms), and tree edge (u, v) links {u, v} iff subtree(v)
    *      escapes subtree(u) (low(v) < pre(u) ∨ high(v) ≥
    *      pre(u) + nd(u)) — each fundamental cycle's tree path is thus
    *      chained link-by-link, ancestor-type non-tree edges included,
    *      so [[GraphXBridge.connectedComponents]] over these links
    *      labels every tree edge with its biconnected component;
    *   3. a vertex is an articulation point iff its incident TREE edges
    *      span ≥ 2 block labels (every block containing v contains a
    *      tree edge at v — any spanning tree of G induces a spanning
    *      tree on each block): non-root u with some child c where
    *      label(c) ≠ label(u), or a root whose children span ≥ 2
    *      labels.
    *
    * A genuinely different algorithm from the local twin's DFS low-link
    * test, so their GraphSpec agreement on Wiki-Vote is evidence, not
    * tautology. `maxRounds` caps the BFS depth (fail-loud, inherited
    * from [[spanningForest]]). Scale shape: CC + 4·depth forest rounds
    * of node-sized frames, one edge-sized non-tree join, and a block-CC
    * over ≤ |E| links — no driver-side edge lists. Output: (id). */
  def articulationPoints(edges: DataFrame, maxRounds: Int, numParts: Int = 0,
                         localBounded: Int = 0): DataFrame = {
    require(maxRounds >= 1, "articulationPoints needs at least one BFS round")
    val local = LocalExec.routeEdges(edges, localBounded)(LocalExec.articulationPoints(edges))
    if (local.isDefined) return local.get
    val (_, lh, blockCC) =
      blockLabeling(edges, maxRounds, numParts, "articulationPoints")
    // extraction: non-root u with a child in another block; roots whose
    // children span ≥ 2 blocks
    val childCc = lh.filter(col("parent").isNotNull)
      .join(blockCC.select(col("node"), col("comp").as("childcc")), Seq("node"))
      .select(col("node"), col("parent"), col("childcc"))
      .localCheckpoint()
    val nonRootArt = childCc
      .join(blockCC.select(col("node").as("parent"),
        col("comp").as("parentcc")), Seq("parent"))
      .filter(col("childcc") =!= col("parentcc"))
      .select(col("parent").as("id")).distinct()
    val rootArt = childCc
      .join(lh.filter(col("parent").isNull).select(col("node").as("parent")),
        Seq("parent"), "left_semi")
      .groupBy(col("parent"))
      .agg(countDistinct(col("childcc")).as("nblocks"))
      .filter(col("nblocks") >= 2)
      .select(col("parent").as("id"))
    nonRootArt.unionByName(rootArt)
  }

  /** G35: biconnected components — publish the block partition the
    * Tarjan–Vishkin labeling in [[articulationPoints]] already
    * computes: every canonical edge tagged with its 2-connected
    * cluster (the robustness query one step past "which vertices are
    * cut": WHICH edges ride together once the cut vertices are known). Tree edge
    * (parent(v), v) carries block label comp(v) directly; a non-tree
    * edge {x, y} shares a fundamental cycle — hence a block — with the
    * tree edge below its DEEPER endpoint (the deeper endpoint is never
    * the cycle's LCA, so its parent edge lies on the tree path; on
    * ties neither endpoint is the ancestor and either works — we take
    * x). Bounded graphs route to [[LocalExec.biconnectedComponents]],
    * the exact Tarjan edge-stack twin.
    *
    * The canonical label is the block's lexicographically MINIMAL EDGE
    * (block_a, block_b) — NOT its minimal member vertex, which is
    * ambiguous: two blocks share a min member exactly when a cut
    * vertex is the min of both (on the gated instance, bridges
    * (42, 50) and (42, 60) are distinct blocks with min member 42),
    * which would break the singleton-block ⟺ bridge identity. With
    * min-edge labels the cross-checks are exact and pinned in
    * GraphSpec: an edge that IS its own block label with no other
    * edge sharing it ⟺ bridge (G33); a vertex incident to ≥ 2
    * distinct labels ⟺ cut vertex (G34). Scale shape =
    * [[articulationPoints]] plus two node-sized joins and one
    * comp-keyed agg. Output: (a, b, block_a, block_b), canonical
    * a < b. */
  def biconnectedComponents(edges: DataFrame, maxRounds: Int,
                            numParts: Int = 0,
                            localBounded: Int = 0): DataFrame = {
    require(maxRounds >= 1, "biconnectedComponents needs at least one BFS round")
    val local = LocalExec.routeEdges(edges, localBounded)(LocalExec.biconnectedComponents(edges))
    if (local.isDefined) return local.get
    val (canon, lh, blockCC) =
      blockLabeling(edges, maxRounds, numParts, "biconnectedComponents")
    val tree = lh.filter(col("parent").isNotNull)
      .join(blockCC.select(col("node"), col("comp")), Seq("node"))
      .select(least(col("node"), col("parent")).as("a"),
        greatest(col("node"), col("parent")).as("b"), col("comp"))
    val treeCanon = lh.filter(col("parent").isNotNull)
      .select(least(col("node"), col("parent")).as("a"),
        greatest(col("node"), col("parent")).as("b"))
    val depths = lh.select(col("node"), col("depth"))
    // non-tree {x, y} → aux vertex of the deeper endpoint (depths can
    // differ by at most 1 in a BFS forest, but the rule is general);
    // the deeper endpoint has depth ≥ 1 — two roots are two components
    // and cannot share an edge — so it IS a blockCC aux vertex
    val nonTree = canon.join(treeCanon, Seq("a", "b"), "left_anti")
      .join(depths.select(col("node").as("a"), col("depth").as("da")), Seq("a"))
      .join(depths.select(col("node").as("b"), col("depth").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        when(col("da") >= col("db"), col("a")).otherwise(col("b")).as("node"))
      .join(blockCC.select(col("node"), col("comp")), Seq("node"))
      .select(col("a"), col("b"), col("comp"))
    val all = tree.unionByName(nonTree).localCheckpoint()
    // canonical label = the block's lexicographically minimal edge
    // (struct min is lexicographic) — unique per block, unlike the
    // min member vertex (see doc)
    val lab = all.groupBy(col("comp"))
      .agg(min(struct(col("a"), col("b"))).as("e"))
      .select(col("comp"), col("e.a").as("block_a"), col("e.b").as("block_b"))
    all.join(lab, Seq("comp"))
      .select(col("a"), col("b"), col("block_a"), col("block_b"))
  }

  /** Shared core of [[articulationPoints]] and
    * [[biconnectedComponents]] — steps 1–2 of the Tarjan–Vishkin doc
    * above: the CC-rooted BFS spanning forest, subtree sizes, preorder,
    * low/high subtree-reach bounds, then the block CC over tree-edge
    * links. Returns (canon, lh, blockCC): the canonical simple edges,
    * the forest frame (node, parent, depth, pre, nd, low, high), and
    * the per-tree-edge block label (aux vertex v ≙ tree edge
    * (parent(v), v) → comp). */
  private def blockLabeling(edges: DataFrame, maxRounds: Int, numParts: Int,
                            caller: String): (DataFrame, DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
    val canon0 = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val canon = (if (numParts > 0) canon0.repartition(numParts, col("a"))
                 else canon0).localCheckpoint()
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val nodes = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id"))).distinct().localCheckpoint()
    val visited =
      spanningForest(nodes, canon, und, maxRounds, numParts, caller)
        .localCheckpoint()
    // Null-safe for an empty forest (no non-self-loop edges) — see the
    // bridges twin above (r19 ADVICE).
    val maxDepthRow = visited.agg(max(col("depth"))).head
    val maxDepth = if (maxDepthRow.isNullAt(0)) 0 else maxDepthRow.getInt(0)
    // subtree sizes: bottom-up level peel — nodes at depth d are final
    // once every deeper level has pushed (the bridges XOR-peel pattern)
    var nd = visited.select(col("node"), col("parent"), col("depth"),
      lit(1L).as("nd")).localCheckpoint()
    var d = maxDepth
    while (d >= 1) {
      val push = nd.filter(col("depth") === d)
        .groupBy(col("parent").as("node")).agg(sum(col("nd")).as("add"))
      nd = nd.join(push, Seq("node"), "left")
        .select(col("node"), col("parent"), col("depth"),
          (col("nd") + coalesce(col("add"), lit(0L))).as("nd"))
        .localCheckpoint()
      d -= 1
    }
    // preorder: top-down — per-component numbering from 0 at the root
    // (all comparisons below are within a component, and rule B can
    // never fire on a root child: low ≥ 0 = pre(root) and
    // high ≤ size − 1 < nd(root))
    val byParent = org.apache.spark.sql.expressions.Window
      .partitionBy(col("parent")).orderBy(col("node"))
    var lvl = nd.filter(col("depth") === 0)
      .select(col("node"), lit(0L).as("pre")).localCheckpoint()
    var pre = lvl
    d = 1
    while (d <= maxDepth) {
      val kids = nd.filter(col("depth") === d)
        .withColumn("before", coalesce(sum(col("nd")).over(
          byParent.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      lvl = kids
        .join(lvl.select(col("node").as("parent"), col("pre").as("ppre")),
          Seq("parent"))
        .select(col("node"), (col("ppre") + 1L + col("before")).as("pre"))
        .localCheckpoint()
      pre = pre.unionByName(lvl).localCheckpoint()
      d += 1
    }
    val info = nd.join(pre, Seq("node")).localCheckpoint()
    // non-tree edges, with both endpoint preorders + subtree sizes
    val treeCanon = visited.filter(col("parent").isNotNull)
      .select(least(col("node"), col("parent")).as("a"),
        greatest(col("node"), col("parent")).as("b"))
    val nonTree = canon.join(treeCanon, Seq("a", "b"), "left_anti")
      .join(info.select(col("node").as("a"), col("pre").as("pa"),
        col("nd").as("na")), Seq("a"))
      .join(info.select(col("node").as("b"), col("pre").as("pb"),
        col("nd").as("nb")), Seq("b"))
      .localCheckpoint()
    // block-graph links, rule A: pre-disjoint non-tree {x, y} → {x, y}
    val auxA = nonTree.select(
        when(col("pa") < col("pb"), col("a")).otherwise(col("b")).as("src"),
        when(col("pa") < col("pb"), col("b")).otherwise(col("a")).as("dst"),
        least(col("pa"), col("pb")).as("px"),
        when(col("pa") < col("pb"), col("na")).otherwise(col("nb")).as("nx"),
        greatest(col("pa"), col("pb")).as("py"))
      .filter(col("py") >= col("px") + col("nx"))
      .select(col("src"), col("dst"))
    // low/high: bottom-up peel seeded by non-tree endpoint preorders
    val ntPre = nonTree.select(col("a").as("node"), col("pb").as("p"))
      .unionAll(nonTree.select(col("b").as("node"), col("pa").as("p")))
      .groupBy(col("node")).agg(min(col("p")).as("lo"), max(col("p")).as("hi"))
    var lh = info.join(ntPre, Seq("node"), "left")
      .select(col("node"), col("parent"), col("depth"), col("pre"), col("nd"),
        least(col("pre"), coalesce(col("lo"), col("pre"))).as("low"),
        greatest(col("pre"), coalesce(col("hi"), col("pre"))).as("high"))
      .localCheckpoint()
    d = maxDepth
    while (d >= 1) {
      val push = lh.filter(col("depth") === d)
        .groupBy(col("parent").as("node"))
        .agg(min(col("low")).as("clo"), max(col("high")).as("chi"))
      lh = lh.join(push, Seq("node"), "left")
        .select(col("node"), col("parent"), col("depth"), col("pre"), col("nd"),
          least(col("low"), coalesce(col("clo"), col("low"))).as("low"),
          greatest(col("high"), coalesce(col("chi"), col("high"))).as("high"))
        .localCheckpoint()
      d -= 1
    }
    // rule B: tree edge (u = parent(v), v) links {u, v} iff subtree(v)
    // escapes subtree(u)
    val auxB = lh.filter(col("parent").isNotNull)
      .join(lh.select(col("node").as("parent"), col("pre").as("pu"),
        col("nd").as("ndu")), Seq("parent"))
      .filter(col("low") < col("pu") ||
        col("high") >= col("pu") + col("ndu"))
      .select(col("parent").as("src"), col("node").as("dst"))
    val auxNodes = lh.filter(col("parent").isNotNull)
      .select(col("node").as("id"))
    val blockCC = GraphXBridge.connectedComponents(edges.sparkSession,
      PropertyGraph(auxNodes, auxA.unionByName(auxB)), numParts).localCheckpoint()
    (canon, lh, blockCC)
  }

  /** Synchronous label propagation (community detection), fixed rounds.
    * Deterministic tie-break: the smallest among the most-frequent neighbor
    * labels. Oracle-gated (`g_label_prop` unrolls the same synchronous
    * vote in SQL) on top of the G12 test pin. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, rounds: Int,
                       localBounded: Int = 0): DataFrame = {
    // same bounded-local route as kCore: a fixed-round synchronous vote
    // over a bounded graph is rounds × (join + window) of scheduling for
    // microseconds of compute
    val local = LocalExec.route(nodes, edges, localBounded)(
      LocalExec.labelPropagation(nodes, edges, rounds))
    if (local.isDefined) return local.get
    val und = {
      val e = edges.select(col("src"), col("dst"))
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    var labels = nodes.select(col("id").as("node"), col("id").as("lbl"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val freq = und
        .join(labels.withColumnRenamed("node", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val best = freq
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
            .orderBy(col("cnt").desc, col("lbl").asc)))
        .filter(col("rk") === 1)
        .select(col("node"), col("lbl").as("newlbl"))
      labels = labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("newlbl"), col("lbl")).as("lbl"))
        .localCheckpoint()
    }
    und.unpersist()
    labels
  }
}
