package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.WarmRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, GraphXBridge, LocalExec, PropertyGraph, Traversals}

/** Warm point reads by plan substitution: on a graph loaded with
  * `fromNodeEdgeLists` that fits LocalExec's budget, a `Filter` (or a
  * `Project` over a `Filter`) on the node relation plans a local scan of a
  * driver copy. Every substituted read must equal the read with the
  * budget at 0, where the text scan runs. The graph is a two-file input
  * the spec writes itself in the reference format, comment lines
  * included. */
class WarmScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-warmscan-test")
    .getOrCreate()

  private lazy val dir: Path = Files.createTempDirectory("graft-warmscan")
  private def nodesPath = dir.resolve("nodes.txt").toString
  private def edgesPath = dir.resolve("edges.txt").toString

  /** 400 ids with gaps (4, 13, 22, … are missing), the last 20 isolated; a
    * power-law-ish digraph of 2,000 draws over the first 380, self-loops
    * dropped. */
  private val NIds = 400
  private lazy val ids: Seq[Long] = (0 until NIds).map(_.toLong).filter(_ % 9 != 4)

  override def beforeAll(): Unit = {
    val rnd = new scala.util.Random(11)
    val linked = ids.take(ids.length - 20).toIndexedSeq
    def draw(): Long = linked((linked.length * math.pow(rnd.nextDouble(), 2.0)).toInt)
    val edges = Iterator.continually((draw(), draw())).filter { case (a, b) => a != b }
      .take(2000).toSeq
    Files.writeString(dir.resolve("nodes.txt"),
      "# Nodes of a seeded stand-in graph\n" + ids.mkString("\n") + "\n")
    Files.writeString(dir.resolve("edges.txt"),
      "# Directed graph (each unordered pair of nodes is saved once)\n" +
        s"# Nodes: ${ids.length} Edges: ${edges.length}\n# FromNodeId\tToNodeId\n" +
        edges.map { case (a, b) => s"$a\t$b" }.mkString("\n") + "\n")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def load(): PropertyGraph = PropertyGraph.fromNodeEdgeLists(spark, nodesPath, edgesPath)

  private def jobs(body: => Unit): Int = JobCount(spark)(body)

  private def substituted(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("LocalTableScan")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The reads the substitution serves, by name. */
  private val reads: Seq[(String, DataFrame => DataFrame)] = {
    def where(c: Column): DataFrame => DataFrame = _.filter(c)
    Seq(
      "present id" -> where(col("id") === 21L),
      "absent id" -> where(col("id") === 22L),
      "null id" -> where(col("id").isNull),
      "range" -> where(col("id") >= 100L && col("id") < 140L),
      "isin" -> where(col("id").isin(0L, 4L, 5L, 399L, 1000L)),
      "label" -> where(col("label") === "node" && col("id") % 50 === 0),
      "project over filter" -> (n => n.filter(col("id") < 40L)
        .select((col("id") * 2).as("twice"), col("label"))),
      "count over filter" -> (_.filter(col("id") < 100L).groupBy().count()))
  }

  test("substituted reads equal the reads with the budget at 0") {
    Reset.clear(spark)
    val g = load()
    reads.foreach { case (name, read) =>
      val warm = read(g.nodes)
      assert(substituted(warm), s"$name: not substituted\n${warm.queryExecution.executedPlan}")
      val got = sorted(warm)
      val want = LocalExecOff(spark)(sorted(read(g.nodes)))
      assert(got == want, s"$name: substituted ≠ scanned")
    }
    val read = reads.toMap
    assert(sorted(read("present id")(g.nodes)) == Seq("[21,node,Map()]"))
    assert(read("absent id")(g.nodes).collect().isEmpty)
    assert(sorted(read("range")(g.nodes)).length == ids.count(i => i >= 100 && i < 140))
    assert(sorted(read("count over filter")(g.nodes)) == Seq(s"[${ids.count(_ < 100)}]"))
    Reset.clear(spark)
  }

  test("the first touch schedules one job, a warm lookup none") {
    Reset.clear(spark)
    val g = load()
    var first, warm = Array.empty[org.apache.spark.sql.Row]
    assert(jobs { first = g.nodes.filter(col("id") === 21L).collect() } == 1)
    assert(jobs { warm = g.nodes.filter(col("id") === 23L).collect() } == 0)
    assert(jobs(g.nodes.filter(col("id") === 22L).collect()) == 0)
    assert(first.map(_.getLong(0)).toSeq == Seq(21L) && warm.map(_.getLong(0)).toSeq == Seq(23L))
    // Reset.clear empties the copy: the next lookup collects again
    Reset.clear(spark)
    val reloaded = load()
    assert(jobs(reloaded.nodes.filter(col("id") === 21L).collect()) == 1)
    assert(jobs(reloaded.nodes.filter(col("id") === 21L).collect()) == 0)
    Reset.clear(spark)
  }

  test("with the budget at 0 a lookup plans the scan and runs one job") {
    Reset.clear(spark)
    val g = load()
    LocalExecOff(spark) {
      val q = g.nodes.filter(col("id") === 21L)
      assert(!substituted(q), s"substituted with the budget at 0:\n${q.queryExecution.executedPlan}")
      var rows = Array.empty[org.apache.spark.sql.Row]
      assert(jobs { rows = q.collect() } == 1)
      assert(rows.map(_.getLong(0)).toSeq == Seq(21L))
      assert(jobs(g.nodes.filter(col("id") === 23L).collect()) == 1)
    }
    Reset.clear(spark)
  }

  test("graph operators give the same rows over the marked and the unmarked node relation") {
    Reset.clear(spark)
    val g = load()
    val plain = PropertyGraph(PropertyGraph.nodeList(spark, nodesPath), g.edges)
    assert(g.nodes.queryExecution.analyzed.isInstanceOf[WarmRelation])
    def answers(p: PropertyGraph): Seq[Seq[String]] = Seq(
      sorted(Traversals.kHop(p.edges, ids(3), 2)),
      Seq(Traversals.shortestPathLength(p.edges, ids(3), ids(200)).toString),
      sorted(GraphXBridge.connectedComponents(spark, p)),
      sorted(GraphXBridge.pageRank(spark, p, iters = 5, snap = 9)),
      sorted(Algorithms.kCore(p.edges, 3, 5)))
    val local = answers(g)
    assert(local == answers(plain), "LocalExec route: marked ≠ unmarked")
    assert(local(2).length == ids.length, "components lost the isolated ids")
    val distributed = LocalExecOff(spark)(answers(g))
    assert(distributed == LocalExecOff(spark)(answers(plain)), "distributed route: marked ≠ unmarked")
    assert(distributed == local, "routes disagree")
    Reset.clear(spark)
  }

  test("warmRows holds a relation the statistics admit to RowCap rows") {
    val path = dir.resolve("zeros.parquet").toString
    spark.range(3000000L).select(lit(0L).as("v")).coalesce(1).write.parquet(path)
    val zeros = spark.read.parquet(path)
    assert(LocalExec.smallEnough(zeros), "the estimate should fit the budget")
    assert(LocalExec.warmRows(zeros).isEmpty, s"warmRows collected past RowCap = ${LocalExec.RowCap}")
    Reset.clear(spark)
  }
}
