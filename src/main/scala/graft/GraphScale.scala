package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{Algorithms, GraphXBridge, LocalExec, PropertyGraph, Traversals}

/** Distributed-graph scale soak — the graph counterpart of [[Scale]]'s
  * 500k-doc corpus soak: generate a ~10M-edge power-law graph (orders of
  * magnitude over [[LocalExec]]'s byte budget, and the knob is forced off
  * anyway), run the DISTRIBUTED formulations the bounded bench graphs
  * never exercise for time — GraphX CC, the synchronous k-core peel,
  * Pregel PageRank, edge-iterator triangle counting, a deep frontier BFS,
  * the personalized-PageRank DataFrame loop, and 4-step random-walk
  * sampling — and print one JSON line
  * with per-op wall seconds AND scheduled job counts. The point is
  * evidence for the 100 TB path: these plans' committed bench rows all
  * route driver-local at bench SFs (by design — see LocalExec), so this
  * soak is where a regression to quadratic work, unbounded rounds, or a
  * job-count explosion in the distributed path becomes a number.
  *
  * Usage: runMain graft.GraphScale [nEdges]   (default 10,000,000)
  * Prints one [[Soak]] line: {"metric":"graph_scale","n_nodes":N,
  *   "n_edges":E,"queries":{op:sec,...},"jobs":{op:count,...},
  *   "check_secs":{...},"checks":{...},"errors":{...}}; exit code 1 if
  *   any op errored.
  *
  * Generation is fully distributed and deterministic (hash-derived, no
  * RNG): endpoint = floor(N·u²) with u = xxhash64-uniform in [0,1), so
  * the degree density is ∝ x^(-1/2) — node 0 is a ~2E/√N-degree hub
  * (~20k at the default sizes) and the tail is long, the skew shape that
  * stresses hub-adjacency handling (sorted-intersect orientation, peel
  * rounds, frontier dedup) rather than a uniform graph's average case. */
object GraphScale {

  /** Deterministic distributed power-law edge generator: endpoint =
    * floor(N · u²) with u = xxhash64-uniform in [0,1) (heavier mass at
    * low ids — degree density ∝ x^(-1/2), node 0 a ~2E/√N-degree hub);
    * self-loops dropped (every consumer ignores them; CC/peel semantics
    * are identical either way). In [[main]] this is materialized once
    * (localCheckpoint) so all ops read the same edge relation — at
    * true scale, the parquet staging table the pipeline would start
    * from. */
  def powerLawEdges(spark: SparkSession, nEdges: Long, nNodes: Long): DataFrame = {
    def endpoint(salt: Int): String =
      s"CAST($nNodes * pow(pmod(xxhash64(id, $salt), 1000000) / 1000000.0, 2.0) AS BIGINT)"
    spark.range(nEdges)
      .selectExpr(s"${endpoint(1)} AS src", s"${endpoint(2)} AS dst")
      .filter(col("src") =!= col("dst"))
  }

  /** Planted-SCC digraph for the distributed SCC soak: nodes in blocks of
    * [[SccBlock]] consecutive ids, each block a directed cycle (one SCC
    * per block, label = block base = its min member); block 0's base
    * fans out one DAG edge to every other block's base (condensation
    * depth 1 — the coloring loop's outer-iteration count stays 2, while
    * the within-SCC Pregel propagation still runs the full cycle
    * circumference). The remaining edge budget is power-law INTRA-block
    * filler (endpoint skew ∝ x^(-1/2), same family as [[powerLawEdges]]):
    * extra edges inside a block never change the SCC partition, so the
    * closed form `comp(v) = (v div B)·B` survives arbitrary skew — hub
    * adjacency stress without giving up the planted answer. */
  val SccBlock = 32L

  /** Planted connectivity-robustness fixtures for the bridges_10m /
    * articulation_10m rows, hung off anchors 0..[[PlantN]]−1 of the
    * power-law graph at fresh ids ≥ nNodes (so the base generator never
    * collides with them): per anchor i, one pendant 3-edge chain
    * i—c—c+1—c+2 (every chain edge is a bridge; i, c and c+1 are cut
    * vertices; the leaf c+2 is not) and one triangle i—t—t+1—i (no
    * planted edge a bridge, neither t nor t+1 ever a cut vertex) — the
    * known-positive AND known-negative sets the soak checks recover
    * exactly. Anchors are low ids (the power-law mass), so the plants
    * hang off the giant component's densest region. */
  val PlantN = 1000L

  def chainBase(nNodes: Long): Long = nNodes
  def triBase(nNodes: Long): Long = nNodes + 3 * PlantN

  def plantedRobustnessEdges(spark: SparkSession, nNodes: Long): DataFrame = {
    val c = chainBase(nNodes)
    val t = triBase(nNodes)
    spark.range(PlantN).selectExpr("id AS src", s"$c + 3*id AS dst")
      .union(spark.range(PlantN).selectExpr(s"$c + 3*id AS src", s"$c + 3*id + 1 AS dst"))
      .union(spark.range(PlantN).selectExpr(s"$c + 3*id + 1 AS src", s"$c + 3*id + 2 AS dst"))
      .union(spark.range(PlantN).selectExpr("id AS src", s"$t + 2*id AS dst"))
      .union(spark.range(PlantN).selectExpr("id AS src", s"$t + 2*id + 1 AS dst"))
      .union(spark.range(PlantN).selectExpr(s"$t + 2*id AS src", s"$t + 2*id + 1 AS dst"))
  }

  /** Planted label-propagation fixture for the labelprop_10m row:
    * [[LpaPlantN]] disjoint [[LpaClique]]-cliques at fresh ids past the
    * robustness plants, chained by single "weak" bridge edges between
    * consecutive cliques' last members. Closed form under the gated
    * synchronous distinct-neighbor vote: round 1 is an all-tie (every
    * vote count 1 → min neighbor id, possibly foreign via a bridge);
    * from round 2 on, each node's ≥ 4 in-clique votes for the clique
    * base beat the ≤ 2 single bridge votes, so by round 3 every clique
    * member carries its clique base and the labeling is a fixpoint —
    * every cross-clique repeat is a plant, and the check is exact. */
  val LpaPlantN = 1000L
  val LpaClique = 6L
  // The closed form above silently requires LpaClique >= 6: each member
  // needs >= 4 in-clique votes to beat <= 2 bridge votes plus the round-1
  // foreign label. Fail fast here (r20 ADVICE) instead of surfacing as a
  // 10M-edge soak failure after a casual constant tune.
  require(LpaClique >= 6,
    s"LpaClique = $LpaClique breaks the planted-LPA closed form (needs >= 6)")
  def lpaBase(nNodes: Long): Long = nNodes + 5 * PlantN

  def plantedLpaEdges(spark: SparkSession, nNodes: Long): DataFrame = {
    val base = lpaBase(nNodes)
    val k = LpaClique
    val intra = (for {
      p <- 0L until k
      q <- (p + 1) until k
    } yield spark.range(LpaPlantN)
      .selectExpr(s"$base + $k*id + $p AS src", s"$base + $k*id + $q AS dst"))
      .reduce(_ union _)
    val weak = spark.range(LpaPlantN - 1).selectExpr(
      s"$base + $k*id + ${k - 1} AS src",
      s"$base + $k*(id+1) + ${k - 1} AS dst")
    intra.union(weak)
  }

  /** Planted pair-SSP fixture for the ssp_pair_10m row: one pendant
    * directed chain 0 → s → s+1 → … → s+[[SspChainD]]−1 hung off the
    * hub at fresh ids past the LPA plants. The chain is the ONLY path
    * to its nodes (fresh ids; the base generator never emits them), so
    * dist(0, s+i) = i+1 EXACTLY, and the bidirectional meet lands at
    * superstep ceil(d/2) exactly (the forward frontier rides the chain
    * at one level per round; the backward frontier from the leaf can
    * only walk the chain in reverse). */
  val SspChainD = 40L
  def sspBase(nNodes: Long): Long = lpaBase(nNodes) + LpaClique * LpaPlantN

  def plantedSspEdges(spark: SparkSession, nNodes: Long): DataFrame = {
    val s = sspBase(nNodes)
    spark.range(1).selectExpr("CAST(0 AS BIGINT) AS src", s"$s AS dst")
      .union(spark.range(SspChainD - 1)
        .selectExpr(s"$s + id AS src", s"$s + id + 1 AS dst"))
  }

  def plantedSccEdges(spark: SparkSession, nEdges: Long, nNodes: Long): DataFrame = {
    val b = SccBlock
    val cycle = spark.range(nNodes).selectExpr(
      "id AS src",
      s"CASE WHEN (id + 1) % $b = 0 THEN id + 1 - $b ELSE id + 1 END AS dst")
    val cross = spark.range(nNodes / b)
      .selectExpr("CAST(0 AS BIGINT) AS src", s"id * $b AS dst")
      .filter(col("dst") =!= 0)
    val nFill = math.max(0L, nEdges - nNodes - nNodes / b + 1)
    val fill = spark.range(nFill)
      .selectExpr(
        s"CAST($nNodes * pow(pmod(xxhash64(id, 3), 1000000) / 1000000.0, 2.0) AS BIGINT) AS u",
        s"pmod(xxhash64(id, 4), $b) AS o")
      .selectExpr("u AS src", s"(u DIV $b) * $b + o AS dst")
      .filter(col("src") =!= col("dst"))
    cycle.union(cross).union(fill)
  }

  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(10000000L)
    // optional second arg: comma-separated op names — run only those rows
    // (iteration aid; the committed soak lines are always unfiltered)
    val only: Set[String] = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val nNodes = math.max(16L, nEdges / 10)
    val spark = GraftSession.local()
    // the graph is over-budget by construction; force the knob anyway so
    // the soak cannot silently measure the local path after a budget bump
    spark.conf.set(LocalExec.MaxBytesKey, "0")

    val edges = powerLawEdges(spark, nEdges, nNodes).localCheckpoint()
    val nodes = spark.range(nNodes).select(col("id"))
    val g = PropertyGraph(nodes, edges)
    val edgeCount = edges.count()
    // weighted twin of the shared edge relation (greedy_modularity_w_10m):
    // deterministic hash weights 1..8 — a cheap projection over the
    // checkpointed edges, never materialized separately
    val wEdges = edges.selectExpr("src", "dst",
      "CAST(1 + pmod(xxhash64(src, dst, 7), 8) AS BIGINT) AS w")

    // NO Reset.clear between ops: it would evict the shared edge
    // checkpoint blocks (checkpointRDDBlockIdNotFound on the next op).
    // The iterative ops drain their own intermediate caches; the soak
    // accepts their residue rather than regenerating 10M edges 6 times.
    // The one op whose timing interleaves a check is
    // greedy_modularity_10m: its onRound Q-scan runs INSIDE the operator
    // loop by design (noted at the row).
    val soak = new Soak(spark, "graph_scale", only, clearBetween = false)
    import soak.{checks, op}
    // per-round Q numerators stashed by greedy_modularity_10m's body for
    // its check lambda (the op() contract passes only the result frame)
    var gmQnums: scala.collection.mutable.ArrayBuffer[Long] =
      scala.collection.mutable.ArrayBuffer.empty
    // the weighted row's twin stash (greedy_modularity_w_10m)
    var gmwQnums: scala.collection.mutable.ArrayBuffer[Long] =
      scala.collection.mutable.ArrayBuffer.empty

    // the one distributed CC loop, behind the gated query
    op("cc_graphx")(GraphXBridge.connectedComponents(spark, g))(
      _.agg(countDistinct(col("comp"))).head.getLong(0))
    op("kcore_k3")(Algorithms.kCore(edges, k = 3, rounds = 10))(_.count())
    op("pagerank_10it")(GraphXBridge.pageRank(spark, g, iters = 10))(
      // ranks start probability-normalized (1/N), but the power-law
      // generator leaves most high-id nodes DANGLING (no out-edges)
      // and pageRank does not redistribute their mass, so total mass
      // decays below 1 each iteration (~0.787 at 10 iterations on the
      // default sizes). Recorded in ppm: a stable nonzero integer
      // whose drift would flag a semantics change in either the
      // generator's skew or the dangling handling.
      df => (df.agg(sum(col("rank"))).head.getDouble(0) * 1e6).toLong)
    op("triangles")(Algorithms.triangleCounts(nodes, edges))(
      _.agg(sum(col("n_tri"))).head.getLong(0))
    op("bfs_hub_d10")(Traversals.kHop(edges, source = 0L, maxHops = 10))(_.count())
    // batched multi-source closeness with SAMPLED sources — the form
    // exact-closeness takes at corpus scale (G21's docstring claim,
    // measured here): 64 evenly-spaced sources advance through ONE
    // join + dedup + anti-join per round on composite (s, node) keys.
    // Check = EXACT (reach, dist_sum) agreement with an independent
    // per-source recompute (GraphX Pregel SSSP) on 2 of the 64
    // sources — the hub and a mid-mass source; recorded value =
    // Σ reach over all sources.
    op("closeness_s64")({
      val step = math.max(1L, nNodes / 64)
      val srcs = nodes.filter(col("id") % step === 0 && col("id") < step * 64)
      Algorithms.closeness(nodes, edges, maxRounds = 40, sources = Some(srcs))
    })({ df =>
      val lab = df.localCheckpoint()
      val step = math.max(1L, nNodes / 64)
      Seq(0L, 17L * step).foreach { s =>
        val d = GraphXBridge.distances(spark, g, s).localCheckpoint()
        val reach = d.count() - 1 // distances includes the source at 0
        val dsum = d.agg(sum(col("dist"))).head.getLong(0)
        val row = lab.filter(col("node") === s)
          .select(col("reach"), col("dist_sum")).head
        if (row.getLong(0) != reach || row.getLong(1) != dsum)
          throw new IllegalStateException(
            s"source $s: batched (${row.getLong(0)}, ${row.getLong(1)}) " +
              s"!= per-source BFS ($reach, $dsum)")
      }
      lab.agg(sum(col("reach"))).head.getLong(0)
    })
    // all-sources batched Brandes stress on a 1M-node PERFECT BINARY
    // TREE — the one large topology where exact stress is both
    // integer-safe (σ ≡ 1 on a tree; ψ ≤ subtree size) and closed-form
    // checkable on EVERY node: only downward paths exist, so
    // stress(v) = ancestors(v) · descendants(v) = d · (2^(L−d) − 2).
    // (On small-world graphs σ grows past BIGINT within ~10 hops —
    // since r16 that is ENFORCED, not a caveat: both stress routes
    // carry per-level overflow guards that fail loud (GraphSpec pins
    // it on a planted layered digraph); exact stress there is run
    // with sampled sources AND a bounded horizon. The tree keeps the
    // soak's check exact at full width: 2^20−1 sources advance
    // through the same two batched passes.)
    op("stress_tree_1m")({
      val l = 20
      val tn = (1L << l) - 1
      val tNodes = spark.range(tn).select(col("id"))
      val tEdges = spark.range((tn - 1) / 2)
        .selectExpr("id AS src", "2*id+1 AS dst")
        .union(spark.range((tn - 1) / 2)
          .selectExpr("id AS src", "2*id+2 AS dst"))
      Algorithms.stress(tNodes, tEdges, maxRounds = l + 2)
    })({ df =>
      val l = 20
      val tn = (1L << l) - 1
      // closed form per node; floor(log2) is exact here (powers of two
      // are exact doubles and the floor never straddles one)
      val expect = spark.range(tn).selectExpr("id AS node",
        s"""CAST(floor(log2(id + 1)) AS BIGINT)
           | * (CAST(pow(2, $l - floor(log2(id + 1))) AS BIGINT) - 2)
           | AS exp_stress""".stripMargin)
      val lab = df.localCheckpoint()
      val bad = lab.join(expect, Seq("node"))
        .filter(col("stress") =!= col("exp_stress")).count()
      if (bad != 0)
        throw new IllegalStateException(s"$bad nodes off the closed form")
      lab.agg(sum(col("stress"))).head.getLong(0)
    })
    // batched multi-source HARMONIC with the same 64 sampled sources —
    // rides the identical level builder as closeness_s64 (one join +
    // dedup + anti-join per round); check = EXACT harmonic_fp
    // agreement with an independent per-source recompute (GraphX
    // Pregel SSSP distances folded through the same `HarmonicFp DIV d`
    // fixed-point formula) on 2 of the 64 sources; recorded value =
    // Σ harmonic_fp over all sources.
    op("harmonic_s64")({
      val step = math.max(1L, nNodes / 64)
      val srcs = nodes.filter(col("id") % step === 0 && col("id") < step * 64)
      Algorithms.harmonic(nodes, edges, maxRounds = 40, sources = Some(srcs))
    })({ df =>
      val lab = df.localCheckpoint()
      val step = math.max(1L, nNodes / 64)
      Seq(0L, 17L * step).foreach { s =>
        val d = GraphXBridge.distances(spark, g, s).localCheckpoint()
        // bound the recompute to the SAME 40-hop horizon the batched
        // operator ran under (maxRounds = 40 above): an unbounded SSSP
        // would count nodes past the cap and throw a spuriously-loud
        // mismatch on any checked source whose eccentricity exceeds it
        val r = d.filter(col("dist") > 0 && col("dist") <= 40).agg(sum(expr(
          s"CAST(${Algorithms.HarmonicFp} AS BIGINT) DIV CAST(dist AS BIGINT)"))).head
        val hsum = if (r.isNullAt(0)) 0L else r.getLong(0)
        val row = lab.filter(col("node") === s).select(col("harmonic_fp")).head
        if (row.getLong(0) != hsum)
          throw new IllegalStateException(
            s"source $s: batched ${row.getLong(0)} != per-source SSSP harmonic $hsum")
      }
      lab.agg(sum(col("harmonic_fp"))).head.getLong(0)
    })
    // all-sources fixed-point Brandes BETWEENNESS on the same 1M-node
    // perfect binary tree: σ ≡ 1 on a tree, so every protocol division
    // is exact ((1·(Fp+δ)) DIV 1) and betweenness coincides with
    // stress — bc_fp(v) = Fp · ancestors(v) · descendants(v), closed-
    // form checkable on EVERY node. This is the δ backward pass (the
    // code stress does NOT run) at 2^20−1 sources through ~20 levels,
    // with the per-level δ-max guard agg in the measured wall.
    op("betweenness_tree_1m")({
      val l = 20
      val tn = (1L << l) - 1
      val tNodes = spark.range(tn).select(col("id"))
      val tEdges = spark.range((tn - 1) / 2)
        .selectExpr("id AS src", "2*id+1 AS dst")
        .union(spark.range((tn - 1) / 2)
          .selectExpr("id AS src", "2*id+2 AS dst"))
      Algorithms.betweenness(tNodes, tEdges, maxRounds = l + 2)
    })({ df =>
      val l = 20
      val tn = (1L << l) - 1
      val expect = spark.range(tn).selectExpr("id AS node",
        s"""CAST(${Algorithms.BetweennessFp} AS BIGINT)
           | * CAST(floor(log2(id + 1)) AS BIGINT)
           | * (CAST(pow(2, $l - floor(log2(id + 1))) AS BIGINT) - 2)
           | AS exp_bc""".stripMargin)
      val lab = df.localCheckpoint()
      val bad = lab.join(expect, Seq("node"))
        .filter(col("bc_fp") =!= col("exp_bc")).count()
      if (bad != 0)
        throw new IllegalStateException(s"$bad nodes off the closed form")
      lab.agg(sum(col("bc_fp").cast("decimal(38,0)"))).head
        .getDecimal(0).longValue() / Algorithms.BetweennessFp
    })
    // batched multi-source BETWEENNESS on the power-law graph itself —
    // the skewed-degree complement of the tree row (which is closed-
    // form-checkable but degree-1-ish): 64 sampled sources, horizon 6
    // (σ grows through the ~20k-degree hub, so the bounded horizon is
    // the honest corpus-scale form — the per-level overflow guard
    // fails loud rather than wrapping if σ outgrows BIGINT). Check =
    // EXACT additivity over a source-set split: δ accumulations are
    // per-source independent, so two disjoint 32-source runs (their
    // own level structures, their own guard schedules) must sum to
    // the 64-source table bit-for-bit under the integer fixed-point
    // protocol. Recorded value = nodes with nonzero centrality.
    op("betweenness_s64_powerlaw")({
      val step = math.max(1L, nNodes / 64)
      val srcs = nodes.filter(col("id") % step === 0 && col("id") < step * 64)
      Algorithms.betweenness(nodes, edges, maxRounds = 6, sources = Some(srcs))
    })({ df =>
      val lab = df.localCheckpoint()
      val step = math.max(1L, nNodes / 64)
      val even = nodes.filter(col("id") % (2 * step) === 0 &&
        col("id") < step * 64)
      val odd = nodes.filter(col("id") % step === 0 &&
        col("id") % (2 * step) =!= 0 && col("id") < step * 64)
      val a = Algorithms.betweenness(nodes, edges, maxRounds = 6,
        sources = Some(even)).select(col("node"), col("bc_fp").as("bc_a"))
      val b = Algorithms.betweenness(nodes, edges, maxRounds = 6,
        sources = Some(odd)).select(col("node"), col("bc_fp").as("bc_b"))
      val bad = lab.join(a, Seq("node")).join(b, Seq("node"))
        .filter(col("bc_fp") =!= col("bc_a") + col("bc_b")).count()
      if (bad != 0)
        throw new IllegalStateException(
          s"$bad nodes where the 64-source run differs from the sum of " +
            "its disjoint 32-source halves")
      lab.filter(col("bc_fp") > 0).count()
    })
    // greedy modularity at 10M edges — the one family whose round
    // count and per-round cost are data-dependent, so "job counts
    // identical at 50x" could not be claimed from the gated instance
    // alone (r16 gap #1). onRound scores each merged round's partition
    // with G26's exact integer numerator; the check asserts Q is
    // STRICTLY monotone from the singleton baseline through every
    // merged round (mutual-positive merges can only raise Q — a
    // violation means a merge was not mutual-positive) and that every
    // community's label is one of its members. Recorded value = the
    // final community count.
    op("greedy_modularity_10m")({
      val qn = scala.collection.mutable.ArrayBuffer.empty[Long]
      gmQnums = qn
      Algorithms.greedyModularity(nodes, edges, rounds = 5,
        onRound = (_, c) => qn += Algorithms.modularity(edges, c)
          .agg(sum(col("q_num_4m2"))).head.getLong(0))
    })({ df =>
      val lab = df.localCheckpoint()
      val q0 = Algorithms.modularity(edges,
          nodes.select(col("id").as("node"), col("id").as("community")))
        .agg(sum(col("q_num_4m2"))).head.getLong(0)
      val traj = q0 +: gmQnums.toSeq
      traj.sliding(2).foreach {
        case Seq(p, n) if n <= p =>
          throw new IllegalStateException(
            s"Q numerator not strictly monotone: $traj")
        case _ => ()
      }
      val nComm = lab.agg(countDistinct(col("community"))).head.getLong(0)
      val selfLabeled = lab.filter(col("node") === col("community")).count()
      if (selfLabeled != nComm)
        throw new IllegalStateException(
          s"$nComm communities but $selfLabeled self-labeled nodes — " +
            "some label is not a member of its community")
      checks("greedy_modularity_10m_rounds") = gmQnums.size.toLong
      nComm
    })
    // k-truss peel at 10M edges — the last iterative structure operator
    // without a ≥10M-edge measurement (r17 gap #1): k=5 (support ≥ 3)
    // does a real cascading peel on the power-law core; rounds=30 is a
    // generous cap whose unused tail is free (early exit at fixpoint).
    // Check (untimed): (1) zero survivor edges under support k−2 — this
    // certifies the peel CONVERGED (on a cap exit the trailing recompute
    // would expose below-threshold survivors); (2) partition invariance
    // of the support recompute: a fresh edgeSupports pass over the
    // survivors at a different width must reproduce the published table
    // bit-for-bit (the hits_5it check pattern). Recorded value =
    // surviving edge count.
    op("ktruss_k5")(Algorithms.kTruss(edges, k = 5, rounds = 30,
      numParts = 32))({ df =>
      val below = df.filter(col("support") < 3L).count()
      if (below != 0)
        throw new IllegalStateException(
          s"$below survivor edges under support 3 — peel hit the cap unconverged")
      val re = Algorithms.edgeSupports(df.select(col("a"), col("b")), numParts = 61)
      val diff = df.except(re).count() + re.except(df).count()
      if (diff > 0)
        throw new IllegalStateException(
          s"$diff support rows differ on an independent recompute")
      df.count()
    })
    // full core decomposition (h-index fixpoint) at 10M edges — the
    // other iterative operator r17 flagged as measured only at
    // Wiki-Vote scale. Check (untimed): (1) FIXPOINT — one more
    // h-index round over the published table must change nothing (the
    // operator's own convergence probe, re-run from the outside
    // against the published values); (2) cross-ALGORITHM level-set
    // agreement: {v : coreness ≥ k} must equal the kCore(k) survivor
    // node set for k ∈ {3, 5, 10} — the synchronous degree peel is a
    // genuinely different algorithm (the Matula-Beck-twin move the
    // gated instance uses, here distributed at 10M edges). Recorded
    // value = Σ coreness.
    op("coreness_10m")({
      // the h-index tail can drag on power-law graphs (54 nodes were
      // still moving at round 100 on the 1M-edge shakedown) — the cap
      // is generous because its unused remainder is FREE (early exit
      // on the sum probe); the rounds actually used are recorded
      Algorithms.coreness(nodes, edges, maxRounds = 500, numParts = 32,
        onRound = r => checks("coreness_10m_rounds") = r.toLong)
    })({ df =>
      val und = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
      val pub = df.select(col("id").as("node"), col("coreness").as("c"))
      val next = Algorithms.hIndexRound(und, pub)
      val withEdges = pub.join(und.select(col("src").as("node")).distinct(), Seq("node"), "left_semi")
      val changed = withEdges.join(next, Seq("node"))
        .filter(withEdges("c") =!= next("c")).count()
      if (changed != 0)
        throw new IllegalStateException(
          s"$changed nodes not at the h-index fixpoint — cap too low")
      Seq(3, 5, 10).foreach { k =>
        val peelSup = Algorithms.kCore(edges, k = k, rounds = 60)
          .localCheckpoint()
        // cap diagnosis BEFORE the comparison: a cap exit returns an
        // unconverged superset (survivors still under degree k), which
        // would otherwise surface as a misleading "nodes differ from
        // the kCore peel" — name the actual failure instead
        val under = peelSup.filter(col("deg") < k).count()
        if (under != 0)
          throw new IllegalStateException(
            s"kCore(k=$k) hit its 60-round cap unconverged " +
              s"($under survivors under degree $k) — raise the cap")
        val peel = peelSup.select(col("id"))
        val level = df.filter(col("coreness") >= k).select(col("id"))
        val diff = peel.except(level).count() + level.except(peel).count()
        if (diff > 0)
          throw new IllegalStateException(
            s"level set k=$k: $diff nodes differ from the kCore peel")
      }
      df.agg(sum(col("coreness"))).head.getLong(0)
    })
    // bridge detection at 10M edges — the last graph operator whose
    // at-scale path was only parity-pinned (r18 gap #1): the
    // distributed CC-roots + BFS-forest + XOR-cut-sketch route (the
    // knob is off, so the local Tarjan cannot serve) over the power-law
    // graph with the planted robustness fixtures. Check (untimed):
    // every planted chain edge recovered (3000 known bridges), ZERO of
    // the planted triangle edges reported (3000 known non-bridges —
    // each closes a cycle), and the fail-loud BFS cap untripped
    // (implicit: a cap trip errors the row). Recorded value = total
    // reported bridge count (plants + the power-law graph's own
    // pendant attachments).
    op("bridges_10m")(Algorithms.bridges(
      edges.union(plantedRobustnessEdges(spark, nNodes)),
      maxRounds = 64, numParts = 32))({ df =>
      val out = df.localCheckpoint()
      val c = chainBase(nNodes)
      val t = triBase(nNodes)
      val chainEdges = spark.range(PlantN)
        .selectExpr("id AS a", s"$c + 3*id AS b")
        .union(spark.range(PlantN).selectExpr(s"$c + 3*id AS a", s"$c + 3*id + 1 AS b"))
        .union(spark.range(PlantN).selectExpr(s"$c + 3*id + 1 AS a", s"$c + 3*id + 2 AS b"))
      val missing = chainEdges.except(out).count()
      if (missing != 0)
        throw new IllegalStateException(
          s"$missing of ${3 * PlantN} planted bridge edges not recovered")
      val triEdges = spark.range(PlantN)
        .selectExpr("id AS a", s"$t + 2*id AS b")
        .union(spark.range(PlantN).selectExpr("id AS a", s"$t + 2*id + 1 AS b"))
        .union(spark.range(PlantN).selectExpr(s"$t + 2*id AS a", s"$t + 2*id + 1 AS b"))
      val fp = out.intersect(triEdges).count()
      if (fp != 0)
        throw new IllegalStateException(
          s"$fp planted cycle edges falsely reported as bridges")
      out.count()
    })
    // articulation points at 10M edges — the NODE analog measured on
    // the same planted instance: the distributed Tarjan–Vishkin route
    // (BFS forest + preorder intervals + block CC; the local DFS twin
    // cannot serve with the knob off). Check (untimed): every planted
    // cut vertex recovered (anchor + both interior chain nodes per
    // chain), ZERO of the planted never-cut nodes reported (chain
    // leaves, triangle corners). Recorded value = total cut-vertex
    // count.
    op("articulation_10m")(Algorithms.articulationPoints(
      edges.union(plantedRobustnessEdges(spark, nNodes)),
      maxRounds = 64, numParts = 32))({ df =>
      val out = df.localCheckpoint()
      val c = chainBase(nNodes)
      val t = triBase(nNodes)
      val mustArt = spark.range(PlantN).selectExpr("id")
        .union(spark.range(PlantN).selectExpr(s"$c + 3*id AS id"))
        .union(spark.range(PlantN).selectExpr(s"$c + 3*id + 1 AS id"))
      val missing = mustArt.except(out).count()
      if (missing != 0)
        throw new IllegalStateException(
          s"$missing of ${3 * PlantN} planted cut vertices not recovered")
      val mustNot = spark.range(PlantN).selectExpr(s"$c + 3*id + 2 AS id")
        .union(spark.range(PlantN).selectExpr(s"$t + 2*id AS id"))
        .union(spark.range(PlantN).selectExpr(s"$t + 2*id + 1 AS id"))
      val fp = out.intersect(mustNot).count()
      if (fp != 0)
        throw new IllegalStateException(
          s"$fp planted never-cut nodes falsely reported")
      out.count()
    })
    // label propagation at 10M edges — the last gated graph key whose
    // distributed route had no measured run (r19 gap #1): 4 synchronous
    // join+groupBy+window vote rounds over the power-law graph plus the
    // planted clique chain (see plantedLpaEdges' closed form: in-clique
    // majority beats the single bridge vote every round after the
    // first). Check (untimed): every planted node labeled with its
    // clique base — zero mislabels, exactly LpaPlantN distinct planted
    // labels. Recorded value = distinct labels over the whole graph.
    op("labelprop_10m")(Algorithms.labelPropagation(
      nodes.union(spark.range(lpaBase(nNodes),
        lpaBase(nNodes) + LpaClique * LpaPlantN).select(col("id"))),
      edges.union(plantedLpaEdges(spark, nNodes)), rounds = 4))({ df =>
      val out = df.localCheckpoint()
      val base = lpaBase(nNodes)
      val k = LpaClique
      val planted = out.filter(col("node") >= base)
      val bad = planted.filter(col("lbl") =!=
        expr(s"$base + ((node - $base) DIV $k) * $k")).count()
      if (bad != 0)
        throw new IllegalStateException(
          s"$bad of ${LpaClique * LpaPlantN} planted nodes mislabeled")
      val nl = planted.agg(countDistinct(col("lbl"))).head.getLong(0)
      if (nl != LpaPlantN)
        throw new IllegalStateException(
          s"planted distinct label count $nl != $LpaPlantN")
      out.agg(countDistinct(col("lbl"))).head.getLong(0)
    })
    // pair shortest path at 10M edges — the bidirectional early-exit
    // loop soaked (r19 gap #4; bfs_hub_d10 measures plain batched BFS
    // only): hub-to-chain-leaf and hub-to-chain-midpoint pairs on the
    // power-law graph plus the planted pendant chain. Both closed
    // forms are EXACT: dist(0, s+i) = i+1 (the chain is the only
    // path), and the meet round == ceil(d/2) (the onRound observer
    // counts executed supersteps) — half the target depth must halve
    // the superstep count, which IS the early-exit claim. The forward
    // frontier floods the full 10M-edge graph every round, so the
    // rounds are honest at-scale supersteps, not toy-chain walks.
    op("ssp_pair_10m")({
      val base = sspBase(nNodes)
      val chainG = PropertyGraph(
        nodes.union(spark.range(base, base + SspChainD).select(col("id"))),
        edges.union(plantedSspEdges(spark, nNodes)))
      val rFull = new AtomicInteger
      val dFull = GraphXBridge.shortestPathLength(spark, chainG,
        source = 0L, target = base + SspChainD - 1, numParts = 32,
        onRound = _ => rFull.incrementAndGet())
      val rHalf = new AtomicInteger
      val dHalf = GraphXBridge.shortestPathLength(spark, chainG,
        source = 0L, target = base + SspChainD / 2 - 1, numParts = 32,
        onRound = _ => rHalf.incrementAndGet())
      spark.createDataFrame(Seq(
        ("full", dFull, rFull.get().toLong),
        ("half", dHalf, rHalf.get().toLong)))
        .toDF("pair", "dist", "supersteps")
    })({ df =>
      val rows = df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val d = SspChainD
      if (rows("full") != ((d, (d + 1) / 2)))
        throw new IllegalStateException(
          s"full pair: got ${rows("full")}, want ($d, ${(d + 1) / 2})")
      if (rows("half") != ((d / 2, (d / 2 + 1) / 2)))
        throw new IllegalStateException(
          s"half pair: got ${rows("half")}, want (${d / 2}, ${(d / 2 + 1) / 2})")
      rows("full")._2 + rows("half")._2 // total supersteps = 30
    })
    // weighted greedy modularity at 10M edges with a NON-TRIVIAL weight
    // distribution (w = 1 + xxhash64(src,dst) mod 8, W ≈ 4.5e7 — inside
    // the 2^30 fail-loud bound): the r18 soak exercised the weighted
    // core only at w ≡ 1 via the unweighted delegation identity; this
    // row drives the strength-mass aggregations with real weight skew.
    // onRound scores each merged round's partition with the exact
    // integer weighted numerator; the check asserts Q is STRICTLY
    // monotone from the singleton baseline (mutual-positive merges can
    // only raise weighted Q) and that every community label is one of
    // its members. Recorded value = final community count.
    op("greedy_modularity_w_10m")({
      val qn = scala.collection.mutable.ArrayBuffer.empty[Long]
      gmwQnums = qn
      Algorithms.greedyModularityWeighted(nodes, wEdges, rounds = 5,
        onRound = (_, cm) => qn += Algorithms.modularityWeighted(wEdges, cm)
          .agg(sum(col("q_num_4w2"))).head.getLong(0))
    })({ df =>
      val lab = df.localCheckpoint()
      val q0 = Algorithms.modularityWeighted(wEdges,
          nodes.select(col("id").as("node"), col("id").as("community")))
        .agg(sum(col("q_num_4w2"))).head.getLong(0)
      val traj = q0 +: gmwQnums.toSeq
      traj.sliding(2).foreach {
        case Seq(p, n) if n <= p =>
          throw new IllegalStateException(
            s"weighted Q numerator not strictly monotone: $traj")
        case _ => ()
      }
      val nComm = lab.agg(countDistinct(col("community"))).head.getLong(0)
      val selfLabeled = lab.filter(col("node") === col("community")).count()
      if (selfLabeled != nComm)
        throw new IllegalStateException(
          s"$nComm communities but $selfLabeled self-labeled nodes — " +
            "some label is not a member of its community")
      checks("greedy_modularity_w_10m_rounds") = gmwQnums.size.toLong
      nComm
    })
    // distributed personalized PageRank seeded at the hub (the DataFrame
    // loop — the knob is off, so the local twin cannot serve): mass in
    // ppm, a stable integer under the per-iteration snap
    op("ppr_hub_10it")(Algorithms.personalizedPageRank(
      nodes, edges, source = 0L, iters = 10))(
      df => (df.agg(sum(col("rank"))).head.getDouble(0) * 1e6).toLong)
    // HITS on the power-law digraph — the exact-integer protocol at
    // 10M edges (fp = 2^20: raw·fp < 2^63 holds to max-degree ~8M,
    // the docstring's degree-scale knob). Check = PARTITION
    // INVARIANCE, the at-scale form of the bit-exactness claim: a
    // second run on a different partitioning must produce the
    // IDENTICAL score table (symmetric except-count 0, verified
    // distributed — no driver copy of the 1M-row result). Recorded
    // value = nodes holding both roles (hub AND auth > 0).
    op("hits_5it")(Algorithms.hits(nodes, edges, iters = 5, fp = 1L << 20))({ df =>
      val a = df.localCheckpoint()
      val b = Algorithms.hits(nodes, edges, iters = 5, numParts = 61,
        fp = 1L << 20)
      val diff = a.except(b).count() + b.except(a).count()
      if (diff > 0)
        throw new IllegalStateException(
          s"$diff score rows differ across partitionings")
      a.filter(col("hub_fp") > 0 && col("auth_fp") > 0).count()
    })
    // distributed walk sampling: adjacency via one shuffle, then
    // per-step frontier joins — 1/1000 of nodes seeded, 4 steps; check
    // = visited-step rows (walks stop at sinks, so < 5x seeds)
    // distributed SCC (the DataFrame trim+coloring loop — replaced the
    // GraphX coloring row in r15: same labels, same 2-outer-round
    // behavior on this depth-1 condensation, delta-frontier execution
    // instead of full-graph Pregel supersteps; the GraphX twin's
    // 577-777 s walls are on record in the r13/r14 GRAPH_SCALE lines)
    // on the planted-SCC digraph: every label must equal its block
    // base (the closed form), and the recorded check = SCC count =
    // nNodes/SccBlock.
    op("scc_planted")({
      val sccEdges = plantedSccEdges(spark, nEdges, nNodes).localCheckpoint()
      Algorithms.scc(nodes, sccEdges)
    })({ df =>
      val lab = df.select(col("node"), col("comp")).localCheckpoint()
      val bad = lab
        .filter(expr(s"comp <> (node DIV $SccBlock) * $SccBlock")).count()
      if (bad > 0)
        throw new IllegalStateException(s"$bad nodes off the planted SCC labels")
      lab.agg(countDistinct(col("comp"))).head.getLong(0)
    })
    op("walks_4step")({
      val adj = edges.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")).localCheckpoint()
      var frontier = adj.filter(col("src") % 1000 === 0)
        .select(col("src").as("start"), col("src").as("node"))
      var out = frontier.select(col("start"), lit(0).as("step"), col("node"))
      for (t <- 1 to 4) {
        // per-step checkpoint — the union's branches must not re-run
        // the whole join chain (O(S²/2) joins; see GraphOps.randomWalks)
        frontier = frontier.join(adj, col("node") === col("src"))
          .select(col("start"), element_at(col("nbrs"),
            (expr(s"CAST(conv(substring(md5(concat(CAST(start AS STRING), '_', CAST($t AS STRING), '_', CAST(node AS STRING))), 1, 8), 16, 10) AS BIGINT)")
              % size(col("nbrs"))).cast("int") + 1).as("node"))
          .localCheckpoint()
        out = out.unionByName(frontier.select(col("start"), lit(t).as("step"), col("node")))
      }
      out
    })(_.count())

    soak.finish("n_nodes" -> nNodes, "n_edges" -> edgeCount)
  }
}
