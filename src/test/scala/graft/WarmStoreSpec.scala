package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The warm-store contract (LocalExec.warm + the PropertyGraph prepared-
  * graph memo): repeat interactive queries within a warm window serve from
  * driver memory with ZERO scheduled jobs, results are identical to the
  * cold run, and Reset.clear empties the store the way the reference
  * bench's clear() empties its databases. The budget guard is unchanged —
  * with the knob off nothing is admitted and the scan/distributed routes
  * run, which is the 100 TB behavior. */
class WarmStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-warmstore-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val dir = "/root/testdata/sf0.001"

  private def countJobs(body: => Unit): Int = JobCount(spark)(body)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("repeat traversals serve warm with zero scheduled jobs, same results") {
    Reset.clear(spark)
    val cold = rows(graft.operators.GraphOps.khopGrid(spark, dir))
    val warmJobs = countJobs {
      val warm = rows(graft.operators.GraphOps.khopGrid(spark, dir))
      assert(warm == cold, "warm result differs from cold result")
    }
    assert(warmJobs == 0, s"warm k-hop pass scheduled $warmJobs jobs — cache miss?")
    // same contract for SSSP (Pregel twin) and the pair ssp
    graft.operators.GraphOps.ssspGrid(spark, dir).collect()
    assert(countJobs(graft.operators.GraphOps.ssspGrid(spark, dir).collect()) == 0)
    graft.operators.GraphOps.sspPair(spark, dir).collect()
    assert(countJobs(graft.operators.GraphOps.sspPair(spark, dir).collect()) == 0)
    // and for the reference ssp entry point on an admitted graph
    def gridSsp = graft.graph.Traversals.shortestPathLength(
      graft.graph.PropertyGraph.grid(spark, 16).edges, 0L, 255L)
    gridSsp
    var warmLen = -1L
    assert(countJobs { warmLen = gridSsp } == 0)
    assert(warmLen == 30L)
  }

  test("repeat point lookups serve warm with zero scheduled jobs, same results") {
    Reset.clear(spark)
    val cold = rows(graft.operators.GraphOps.nodeLookupFast(spark, dir))
    assert(cold.nonEmpty)
    val warmJobs = countJobs {
      assert(rows(graft.operators.GraphOps.nodeLookupFast(spark, dir)) == cold)
    }
    assert(warmJobs == 0, s"warm lookup scheduled $warmJobs jobs")
    // the label+property lookup agrees with its index-free scan route
    val viaWarm = rows(graft.operators.GraphOps.nodeLookup(spark, dir))
    val viaScan = rows(graft.operators.GraphOps.nodeLookupScan(spark, dir))
    assert(viaWarm == viaScan, "warm lookup ≠ scan route")
  }

  test("Reset.clear empties the warm store; next pass re-collects") {
    graft.operators.GraphOps.khopGrid(spark, dir).collect()
    Reset.clear(spark)
    val coldJobs = countJobs(graft.operators.GraphOps.khopGrid(spark, dir).collect())
    assert(coldJobs >= 1, "post-clear pass scheduled no jobs — stale warm entry served")
  }

  test("knob off: nothing admitted, scan/distributed routes run (the 100 TB behavior)") {
    Reset.clear(spark)
    val key = graft.graph.LocalExec.MaxBytesKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      assert(graft.graph.LocalExec.warmRows(
        graft.sources.Tables.customer(spark, dir)).isEmpty,
        "warmRows admitted a relation with the knob off")
      // the lookup falls back to the bucket-pruned scan plan
      val df = graft.operators.GraphOps.nodeLookupFast(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Scan") || plan.contains("FileScan"),
        s"knob-off lookup did not plan a scan:\n$plan")
      // and a repeat traversal still schedules jobs (no warm serving)
      graft.operators.GraphOps.khopGrid(spark, dir).collect()
      assert(countJobs(graft.operators.GraphOps.khopGrid(spark, dir).collect()) >= 1)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    Reset.clear(spark)
  }

  test("clientFetch names all exist in the gated query map") {
    val keys = SparkEntry.queries.keySet
    val missing = SparkEntry.clientFetch.filterNot(keys)
    assert(missing.isEmpty, s"clientFetch names not in queries: $missing")
  }
}
