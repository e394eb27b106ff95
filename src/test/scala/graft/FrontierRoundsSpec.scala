package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{LocalExec, Traversals}

/** The over-budget frontier loop behind `kHop` and `shortestPathLength`:
  * a graph whose size estimate is over the LocalExec budget prepares its
  * edge relation once per warm window, and runs each round on the driver
  * while the frontier and the visited set fit the budget's id cap (8
  * bytes per id), handing over to the shuffle rounds when a round would
  * pass it. The budgets here sit below the graph's estimate, so neither
  * route is the LocalExec twin; the twin (default budget) and the
  * all-shuffle route (budget 0) are the references. */
class FrontierRoundsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-frontier-rounds-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val NNodes = 700L
  private val NEdges = 5000L

  private def fresh: DataFrame = GraphScale.powerLawEdges(spark, NEdges, NNodes)

  /** The graph as a memo hands it back, the way a loaded
    * `PropertyGraph`'s edges reach a traversal: one instance per warm
    * window, so its prepared relation is kept for the window. */
  private def edges: DataFrame = LocalExec.prepared(spark, "frontier-rounds-edges")(fresh)

  /** Driver-side out-adjacency of [[edges]] (repeated arcs kept). */
  private lazy val adj: Map[Long, Seq[Long]] =
    edges.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }

  /** BFS levels from `s` (level i = nodes first reached at hop i). */
  private def levels(s: Long): Seq[Set[Long]] = {
    val seen = mutable.Set(s)
    Iterator.iterate(Set(s)) { f =>
      val n = f.flatMap(adj.getOrElse(_, Nil)).filterNot(seen)
      seen ++= n
      n
    }.takeWhile(_.nonEmpty).toSeq
  }

  /** A budget of [[NEdges]] ids: every round of this graph fits (a round
    * reaches at most every arc), and the graph's estimate is over it. */
  private val Roomy = NEdges * 8

  private def withBudget[A](bytes: Long)(body: => A): A = {
    val prev = spark.conf.getOption(LocalExec.MaxBytesKey)
    spark.conf.set(LocalExec.MaxBytesKey, bytes.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(LocalExec.MaxBytesKey, v)
      case None => spark.conf.unset(LocalExec.MaxBytesKey)
    }
  }

  private def hops(s: Long, k: Int, e: => DataFrame = edges, numParts: Int = 0): Set[(Long, Int)] =
    Traversals.kHop(e, s, k, numParts).collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  /** Shuffle bytes written by tasks that end while `body` runs. */
  private def shuffleWritten(body: => Unit): Long = {
    val sc = spark.sparkContext
    val bytes = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) bytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.graft.ListenerBarrier.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBarrier.waitUntilEmpty(sc)
      bytes.get
    } finally sc.removeSparkListener(l)
  }

  private val sources = Seq(0L, 3L, 40L, 333L)

  test("over the budget, kHop and ssp equal the budget-0 route and the LocalExec twin") {
    assert(LocalExec.smallEnoughEdges(edges), "the default budget admits the graph")
    val pairs = sources.flatMap(s => levels(s).lift(2).map(l => s -> l.min)) :+ (5L -> 9L)
    def both = (sources.map(hops(_, 3)),
      pairs.map { case (a, b) => Traversals.shortestPathLength(edges, a, b) })
    val (twinHops, twinSsp) = both
    val (roomyHops, roomySsp) = withBudget(Roomy) {
      assert(!LocalExec.smallEnoughEdges(edges))
      both
    }
    val (offHops, offSsp) = withBudget(0L)(both)
    assert(twinHops.forall(_.nonEmpty))
    assert(roomyHops == twinHops && offHops == twinHops)
    assert(twinSsp.init.forall(_ == 2L))
    assert(roomySsp == twinSsp && offSsp == twinSsp)
  }

  test("a round that passes the cap hands over to the shuffle rounds with equal rows") {
    // the hub: its second round reaches far more arcs than its first
    val s = 0L
    val l1 = levels(s)(1)
    val cap = math.max(adj(s).length, 1 + l1.size)
    val arcs2 = l1.toSeq.map(adj.getOrElse(_, Nil).length).sum
    assert(arcs2 > cap, s"round two reaches $arcs2 arcs, not over the cap $cap")
    val depth = levels(s).length - 1
    assert(depth >= 3)
    val target = levels(s)(depth).min
    val want = withBudget(0L)((hops(s, 3), Traversals.shortestPathLength(edges, s, target)))
    withBudget(cap * 8L) {
      assert(!LocalExec.smallEnoughEdges(edges))
      hops(s, 1) // prepares the edge relation, so the next writes are the hand-over's
      var got: (Set[(Long, Int)], Long) = null
      val written = shuffleWritten {
        got = (hops(s, 3), Traversals.shortestPathLength(edges, s, target))
      }
      assert(written > 0L, "no shuffle round ran: the cap was never passed")
      assert(got == want && got._2 == depth)
    }
  }

  test("ssp answers -1 for an unreachable target and 0 for source == target") {
    val noInArcs = (0L until NNodes).filterNot(adj.values.flatten.toSet).filter(_ != 3L)
    assert(noInArcs.nonEmpty)
    withBudget(Roomy) {
      assert(Traversals.shortestPathLength(edges, 3L, noInArcs.head) == -1L)
      assert(Traversals.shortestPathLength(edges, 3L, NNodes + 5) == -1L)
      assert(Traversals.shortestPathLength(edges, 3L, 3L) == 0L)
      assert(Traversals.shortestPathLength(edges, NNodes + 5, NNodes + 5) == 0L)
    }
  }

  test("a warm kHop runs one job per round and writes no shuffle") {
    withBudget(Roomy) {
      hops(3L, 2)
      var jobs = 0
      val written = shuffleWritten { jobs = JobCount(spark)(hops(40L, 2)) }
      assert(jobs <= 2, s"2 rounds scheduled $jobs jobs")
      assert(written == 0L, s"a warm kHop wrote $written shuffle bytes")
    }
  }

  test("Reset.clear drops the prepared edges, and the next call prepares again") {
    withBudget(Roomy) {
      val want = hops(3L, 2)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      Reset.clear(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      var got: Set[(Long, Int)] = null
      assert(shuffleWritten { got = hops(3L, 2) } > 0L, "the next call did not prepare")
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      assert(got == want)
    }
  }

  test("edges no memo owns are prepared for the call and dropped after it") {
    withBudget(Roomy) {
      val want = hops(3L, 2)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = fresh
      assert(hops(3L, 2, e) == want && hops(3L, 2, e) == want)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "a traversal of an unowned edges instance kept its prepared relation")
    }
  }

  test("a task ships its heads only within its share, and counts to cap + 1") {
    def ship(n: Int, cap: Int, share: Int) = {
      val (count, heads) = Traversals.shipped(Iterator.range(0, n).map(_.toLong), cap, share)
      (count, Option(heads).map(_.toSeq))
    }
    assert(ship(10, 100, 20) == ((10, Some(0L until 10L))))
    assert(ship(10, 100, 10) == ((10, Some(0L until 10L))))
    assert(ship(11, 100, 10) == ((11, None)))
    assert(ship(1000, 100, 10) == ((101, None)))
    assert(ship(0, 100, 10) == ((0, Some(Nil))))
  }

  test("over many partitions, a hub round past its share fetches it, and one past the cap hands over") {
    val parts = 32
    val s = 0L
    // round one's heads all sit in the hub's partition
    assert(adj(s).length > NEdges / parts + 1, "the hub's arcs fit one partition's share")
    val want = withBudget(0L)(hops(s, 3, numParts = parts))
    withBudget(Roomy) {
      hops(s, 1, numParts = parts)
      var got: Set[(Long, Int)] = null
      var jobs = 0
      val written = shuffleWritten { jobs = JobCount(spark) { got = hops(s, 3, numParts = parts) } }
      assert(written == 0L, "a round within the cap handed over")
      assert(jobs <= 6, s"3 rounds scheduled $jobs jobs")
      assert(got == want)
    }
    val cap = math.max(adj(s).length, 1 + levels(s)(1).size)
    withBudget(cap * 8L) {
      var got: Set[(Long, Int)] = null
      assert(shuffleWritten { got = hops(s, 3, numParts = parts) } > 0L,
        "no shuffle round ran: the cap was never passed")
      assert(got == want)
    }
  }
}
