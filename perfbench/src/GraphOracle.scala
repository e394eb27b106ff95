package perfbench

import scala.collection.mutable

/** The harness's own driver-side answers for the replay ops, computed
  * from the generated files with plain arrays: BFS for k-hop and ssp,
  * union-find for components, the snapped power iteration for PageRank
  * and round-by-round peeling for k-core. Nothing here calls the program. */
final class GraphOracle(val ids: Array[Long], val src: Array[Long], val dst: Array[Long]) {
  private val index: Map[Long, Int] = {
    val all = (ids ++ src ++ dst).distinct
    all.zipWithIndex.toMap
  }
  private val n = index.size
  private val key = {
    val k = new Array[Long](n)
    index.foreach { case (id, i) => k(i) = id }
    k
  }
  private val s = src.map(index)
  private val d = dst.map(index)

  private def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    from.foreach(u => start(u + 1) += 1)
    for (i <- 0 until n) start(i + 1) += start(i)
    val fill = start.clone()
    val adj = new Array[Int](from.length)
    for (e <- from.indices) { adj(fill(from(e))) = to(e); fill(from(e)) += 1 }
    (start, adj)
  }
  private val (outStart, outAdj) = csr(s, d)

  private val idSet = ids.toSet
  def contains(id: Long): Boolean = idSet(id)

  /** Directed BFS distances from `source`, stopping after `maxHops`
    * rounds or once `stop` is reached. Distance 0 is the source. */
  private def bfs(source: Long, maxHops: Int, stop: Long = Long.MinValue): mutable.LongMap[Int] = {
    val dist = mutable.LongMap.empty[Int]
    index.get(source).foreach { s0 =>
      dist(source) = 0
      var frontier = Array(s0)
      var hop = 1
      while (frontier.nonEmpty && hop <= maxHops && !dist.contains(stop)) {
        val next = mutable.ArrayBuilder.make[Int]
        frontier.foreach { u =>
          var e = outStart(u)
          while (e < outStart(u + 1)) {
            val v = outAdj(e)
            if (!dist.contains(key(v))) { dist(key(v)) = hop; next += v }
            e += 1
          }
        }
        frontier = next.result()
        hop += 1
      }
    }
    dist
  }

  /** Nodes reached in 1..k directed hops, with their distance. */
  def kHop(source: Long, k: Int): Map[Long, Int] =
    bfs(source, k).iterator.filter(_._2 >= 1).toMap

  /** Unweighted directed shortest-path length, -1 when unreachable. */
  def ssp(a: Long, b: Long): Long =
    bfs(a, Int.MaxValue, b).get(b).map(_.toLong).getOrElse(-1L)

  /** Undirected components labelled by their minimum id. */
  lazy val components: Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (e <- s.indices) {
      val (a, b) = (find(s(e)), find(d(e)))
      if (a != b) { if (key(a) < key(b)) parent(b) = a else parent(a) = b }
    }
    (0 until n).map(i => key(i) -> key(find(i))).toMap
  }

  /** PageRank with every iteration's rank rounded HALF_UP to `snap`
    * decimals; the teleport denominator is the node-file count. */
  def pageRank(iters: Int, damping: Double, snap: Int): Map[Long, Double] = {
    def snapped(r: Double) = BigDecimal(r).setScale(snap, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nodes = ids.length.toDouble
    val outDeg = new Array[Int](n)
    s.foreach(u => outDeg(u) += 1)
    var rank = Array.fill(n)(snapped(1.0 / nodes))
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](n)
      for (e <- s.indices) contrib(d(e)) += rank(s(e)) / outDeg(s(e))
      rank = Array.tabulate(n)(j => snapped((1 - damping) / nodes + damping * contrib(j)))
    }
    (0 until n).map(i => key(i) -> rank(i)).toMap
  }

  /** k-core survivors with their remaining undirected degree: each round
    * drops every node of degree < k at once, for at most `rounds` rounds. */
  def kCore(k: Int, rounds: Int): Map[Long, Long] = {
    // undirected distinct edges, each direction encoded as a * n + b
    var live = s.indices.iterator.filter(e => s(e) != d(e))
      .flatMap(e => Iterator(s(e).toLong * n + d(e), d(e).toLong * n + s(e))).toArray.sorted.distinct
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val deg = new Array[Int](n)
      live.foreach(x => deg((x / n).toInt) += 1)
      if (!live.exists(x => deg((x / n).toInt) < k)) done = true
      else live = live.filter(x => deg((x / n).toInt) >= k && deg((x % n).toInt) >= k)
      r += 1
    }
    live.groupBy(x => (x / n).toInt).map { case (a, es) => key(a) -> es.length.toLong }
  }
}

object GraphOracle {
  private def longs(path: String): Iterator[String] =
    scala.io.Source.fromFile(path).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))

  def load(nodesPath: String, edgesPath: String): GraphOracle = {
    val ids = longs(nodesPath).map(_.trim.toLong).toArray
    val (s, d) = longs(edgesPath).map { l =>
      val t = l.indexOf('\t')
      (l.substring(0, t).toLong, l.substring(t + 1).trim.toLong)
    }.toArray.unzip
    new GraphOracle(ids, s, d)
  }
}
