package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The LocalExec claim is a JOB-COUNT claim: an interactive traversal on a
  * bounded graph should cost a bounded handful of scheduled jobs (the
  * guard's collects plus output materialization), not a per-round/
  * per-superstep cascade. This spec pins that as a regression guard — if a
  * route silently falls off the local path (a guard broken by a refactor,
  * a stats change), the job count explodes past the bound and this fails
  * long before a bench run would notice. Bounds are loose (2-3× the
  * observed counts) so incidental jobs (limit scale-up steps, an extra
  * materialization) don't flake them; the distributed formulations run
  * 3d-30+ jobs on the same inputs, far past every bound here. */
class LocalExecJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-localexec-jobs-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val dir = "/root/testdata/sf0.001"

  private def countJobs(body: => Unit): Int = JobCount(spark)(body)

  test("grid SSSP / weighted SSSP / pair-ssp run a bounded handful of jobs") {
    // warm once: first-touch codegen can add compile-time, not jobs, but
    // the grid-N memo and table reads should be steady-state
    graft.operators.GraphOps.ssspGrid(spark, dir).collect()
    val sssp = countJobs(graft.operators.GraphOps.ssspGrid(spark, dir).collect())
    assert(sssp <= 6, s"g_sssp_grid scheduled $sssp jobs — fell off the local path?")
    val wsssp = countJobs(graft.operators.GraphOps.wssspGrid(spark, dir).collect())
    assert(wsssp <= 6, s"g_wsssp_grid scheduled $wsssp jobs")
    val pair = countJobs(graft.operators.GraphOps.sspPair(spark, dir).collect())
    assert(pair <= 5, s"g_ssp_pair scheduled $pair jobs")
  }

  test("k-hop and Wiki-Vote analytics run a bounded handful of jobs") {
    graft.operators.GraphOps.khopGrid(spark, dir).collect()
    val khop = countJobs(graft.operators.GraphOps.khopGrid(spark, dir).collect())
    assert(khop <= 4, s"g_khop_grid scheduled $khop jobs")
    val cc = countJobs(graft.operators.GraphOps.wikivoteCC(spark, dir).collect())
    assert(cc <= 6, s"g_wikivote_cc scheduled $cc jobs")
    val kcore = countJobs(graft.operators.GraphOps.wikivoteKcore(spark, dir).collect())
    assert(kcore <= 8, s"g_wikivote_kcore scheduled $kcore jobs")
    val pr = countJobs(graft.operators.GraphOps.wikivotePagerank(spark, dir).collect())
    assert(pr <= 6, s"g_wikivote_pagerank scheduled $pr jobs")
  }

  test("the distributed twin really does pay per-round jobs (the claim's control)") {
    val key = graft.graph.LocalExec.MaxBytesKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      val sssp = countJobs(graft.operators.GraphOps.ssspGrid(spark, dir).collect())
      assert(sssp > 6, s"Pregel SSSP scheduled only $sssp jobs — control broken")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
