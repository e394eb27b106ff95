package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WarmScan

import graft.sources.Tables

/** Property graph as a pair of DataFrames — the Spark-native re-expression
  * of the reference's node/edge model (reference databases.py:7-78:
  * nodes `(id, labels, properties)`, directed edges `(src, dst)`).
  *
  * Nodes: `id: long, label: string, props: map<string,string>`.
  * Edges: `src: long, dst: long, label: string`.
  *
  * Instead of row-at-a-time `add_node`/`add_edge` (an OLTP surface that a
  * distributed engine should not emulate), construction is bulk and
  * declarative: build the node/edge DataFrames from any source and every
  * downstream operator is a Catalyst plan over them.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** Undirected view: each edge plus its reverse, deduplicated. */
  def undirectedEdges: DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }
}

object PropertyGraph {
  /** Offset keeping supplier node ids disjoint from customer node ids. */
  val SupplierIdOffset = 1000000L

  /** Prepared-graph memo — the "prepared statement" half of the warm
    * store ([[LocalExec]]'s identity memo is keyed on Dataset INSTANCES,
    * so it only pays off if repeat queries receive the same instance):
    * each constructor below is a deterministic function of (session,
    * args) over inputs that are immutable within a warm window, so the
    * memo returns the same analyzed Dataset instead of re-paying
    * 10-20 ms of Catalyst analysis per interactive pass. Cleared with
    * the warm store on every [[graft.Reset.clear]]. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), PropertyGraph]()

  private[graft] def clearMemo(): Unit = memo.clear()

  private def memoized(spark: SparkSession, key: String)
                      (build: => PropertyGraph): PropertyGraph =
    memo.computeIfAbsent((spark, key), _ => {
      val g = build
      LocalExec.own(g.nodes); LocalExec.own(g.edges)
      g
    })

  /** Bipartite order graph: customers ∪ suppliers, one edge per distinct
    * (customer, supplier) purchase relation in `lineitem ⋈ orders`.
    * The fact-fact join shuffles on orderkey; node tables are dimension-
    * sized and never shuffled.
    */
  /** Bipartite (customer → supplier) edge multiset WITHOUT the distinct —
    * for consumers whose downstream op dedups anyway (BFS frontiers,
    * degree-by-distinct): skipping the distinct saves a full edge shuffle. */
  def bipartiteEdgesRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + SupplierIdOffset).as("dst"))

  def bipartiteOrders(spark: SparkSession, dir: String): PropertyGraph =
    memoized(spark, s"bipartite-$dir") {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("id"),
      lit("customer").as("label"),
      map(lit("name"), col("c_name"), lit("mktsegment"), col("c_mktsegment"),
        lit("acctbal"), col("c_acctbal").cast("string")).as("props"))
    val s = Tables.supplier(spark, dir).select(
      (col("s_suppkey").cast("long") + SupplierIdOffset).as("id"),
      lit("supplier").as("label"),
      map(lit("name"), col("s_name")).as("props"))
    val e = bipartiteEdgesRaw(spark, dir)
      .distinct()
      .withColumn("label", lit("bought_from"))
    PropertyGraph(c.unionByName(s), e)
  }

  /** N×N directed grid — the reference's `create_gird_graph`
    * (benchmark.py:150-165): node i has an edge to i+1 (unless on the right
    * border) and to i+N (unless on the bottom row). Generated distributed
    * via `spark.range`, never materialized on the driver.
    */
  def grid(spark: SparkSession, n: Int): PropertyGraph =
    memoized(spark, s"grid-$n") {
    val ids = spark.range(n.toLong * n)
    val nodes = ids.select(col("id"), lit("cell").as("label"),
      map(lit("row"), (col("id") / n).cast("long").cast("string"),
        lit("col"), (col("id") % n).cast("string")).as("props"))
    val right = ids.filter((col("id") % n) =!= (n - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val down = ids.filter(col("id") < n.toLong * n - n)
      .select(col("id").as("src"), (col("id") + n).as("dst"))
    PropertyGraph(nodes, right.union(down).withColumn("label", lit("grid")))
  }

  /** K-diamond ladder DAG — the betweenness gate's pinned instance.
    * Junction c_0, then for each diamond i (width wᵢ): wᵢ parallel
    * interior nodes wired c_{i-1} → each interior → c_i. Ids are
    * sequential along the ladder (junction i sits at i + Σ_{j≤i} wⱼ).
    * Every s→t path count is a product of the widths of the full
    * diamonds between s and t, so with widths restricted to POWERS OF
    * TWO every σ is dyadic — the property that makes the fixed-point
    * betweenness protocol EXACT on this instance (see
    * [[graft.graph.Algorithms.betweenness]]). Generated via
    * `spark.range` per diamond, never materialized on the driver. */
  def diamondLadder(spark: SparkSession, widths: Seq[Int]): PropertyGraph =
    memoized(spark, s"ladder-${widths.mkString("_")}") {
    require(widths.nonEmpty && widths.forall(w => w >= 1 && (w & (w - 1)) == 0),
      "ladder widths must be powers of two (dyadic σ is the instance's point)")
    val offsets = widths.scanLeft(0L)((acc, w) => acc + w + 1) // junction ids
    val n = offsets.last + 1
    val nodes = spark.range(n).select(col("id"), lit("rung").as("label"),
      expr("CAST(map() AS map<string,string>)").as("props"))
    val edges = widths.zipWithIndex.map { case (w, i) =>
      val in = spark.range(w).select(lit(offsets(i)).as("src"),
        (col("id") + offsets(i) + 1).as("dst"))
      val out = spark.range(w).select((col("id") + offsets(i) + 1).as("src"),
        lit(offsets(i + 1)).as("dst"))
      in.union(out)
    }.reduce(_ union _).withColumn("label", lit("ladder"))
    PropertyGraph(nodes, edges)
  }

  /** Nation adjacency: nations sharing a region form a clique (dense small
    * graph for triangle counting / PageRank, mirroring the reference's
    * fully-traversable toy graphs). Directed both ways. */
  def nationAdjacency(spark: SparkSession, dir: String): PropertyGraph =
    memoized(spark, s"nation-$dir") {
    val n = Tables.nation(spark, dir)
    val nodes = n.select(col("n_nationkey").cast("long").as("id"),
      lit("nation").as("label"),
      map(lit("name"), col("n_name")).as("props"))
    val a = n.select(col("n_nationkey").as("k1"), col("n_regionkey").as("r1"))
    val b = n.select(col("n_nationkey").as("k2"), col("n_regionkey").as("r2"))
    val edges = a.join(b, col("r1") === col("r2") && col("k1") =!= col("k2"))
      .select(col("k1").cast("long").as("src"), col("k2").cast("long").as("dst"))
      .withColumn("label", lit("same_region"))
    PropertyGraph(nodes, edges)
  }

  /** Sparse multi-component sample of the bipartite graph (every 20th
    * order, first line only) — gives a disconnected undirected graph for
    * connected-components. */
  def componentSample(spark: SparkSession, dir: String): PropertyGraph =
    memoized(spark, s"compsample-$dir") {
    val e = Tables.lineitem(spark, dir)
      .filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + SupplierIdOffset).as("dst"))
      .distinct()
      .withColumn("label", lit("sampled"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), lit("node").as("label"),
        expr("map()").cast("map<string,string>").as("props"))
    PropertyGraph(nodes, e)
  }

  /** Edge-list text source — the reference's `load_database` input format
    * (databases.py:129-137, Wiki-Vote TSV): '#'-prefixed comment lines,
    * then one `src<TAB>dst` pair per line. Distributed text scan; the
    * comment filter and split are codegen'd expressions. */
  def fromEdgeList(spark: SparkSession, path: String): PropertyGraph =
    memoized(spark, s"edgelist-$path") {
    val lines = spark.read.text(path)
    val e = lines
      .filter(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
      .select(split(col("value"), "\\t").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("src"),
        element_at(col("f"), 2).cast("long").as("dst"))
      .withColumn("label", lit("edge"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), lit("node").as("label"), expr("map()").cast("map<string,string>").as("props"))
    PropertyGraph(nodes, e)
  }

  /** Two-file bulk load — the reference's `load_database` exactly
    * (databases.py:129-137): a node-id-per-line file (isolated nodes
    * included, unlike `fromEdgeList` which derives nodes from edges) plus
    * the Wiki-Vote TSV edge file. Both are distributed text scans. The
    * node relation carries the warm-read marker
    * ([[org.apache.spark.sql.graft.WarmScan]]): a point read such as
    * `nodes.filter(col("id") === x)` on a graph that fits LocalExec's
    * budget answers from a driver copy, collected by one job on the
    * first read of a warm window, with zero jobs after that. */
  def fromNodeEdgeLists(spark: SparkSession, nodesPath: String,
                        edgesPath: String): PropertyGraph = {
    // resolve the (memoized) edge graph BEFORE entering this memo's
    // computeIfAbsent: a nested computeIfAbsent on the same map throws
    // ConcurrentHashMap's "Recursive update" whenever the two keys land
    // in the same bin — a hash-dependent landmine, not a benign reentry
    val edgeGraph = fromEdgeList(spark, edgesPath)
    memoized(spark, s"nel-$nodesPath-$edgesPath") {
      PropertyGraph(WarmScan.mark(nodeList(spark, nodesPath)), edgeGraph.edges)
    }
  }

  /** The node-id-per-line file as a node relation, unmarked. */
  private[graft] def nodeList(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
      .select(trim(col("value")).cast("long").as("id"),
        lit("node").as("label"),
        expr("map()").cast("map<string,string>").as("props"))

  /** Write edges in the reference's TSV format (comment header + src\tdst
    * rows) — distributed text write, one file per partition (the header
    * lands in its own part file; readers treat '#' lines positionally
    * anywhere, so no single-file coalesce bottleneck on the write path). */
  def writeEdgeList(g: PropertyGraph, path: String): Unit = {
    val spark = g.edges.sparkSession
    val header = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("# graft edge list"),
        org.apache.spark.sql.Row("# FromNodeId\tToNodeId")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
    val body = g.edges.select(
      concat(col("src").cast("string"), lit("\t"), col("dst").cast("string")).as("value"))
    header.union(body).write.mode("overwrite").text(path)
  }
}
