package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale.synthesize contract: schema matches the driver corpus, the
  * planted duplicates are really there, and words are tokenizer-visible
  * (purely alphabetic — the regression that once made every doc collapse
  * to one shingle set). */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-scale-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("synthesized corpus: schema, dup plants, and alphabetic tokens") {
    val dir = s"/tmp/${Reset.ScratchPrefix}scale_spec"
    try {
      Scale.synthesize(spark, 1000L, dir)
      val docs = graft.sources.Tables.documents(spark, dir)
      assert(docs.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
      assert(docs.count() == 1000L)
      val byId = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // exact-dup plant: doc 99 is a byte-exact copy of doc 98
      assert(byId(99L) == byId(98L))
      // near-dup plant: doc 97 is doc 96 plus one appended word
      assert(byId(97L) == byId(96L) + " extra")
      // tokenizer visibility: the [a-z]+ token count must equal the
      // whitespace word count (no digit-bearing words collapsing)
      val bad = docs.filter(
        size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")) =!=
          size(split(col("text"), " "))).count()
      assert(bad == 0, "every generated word must be purely alphabetic")
    } finally {
      // delete only THIS test's directory (not the whole JVM scratch,
      // and not skipped when an assertion above fails)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("spanDedup recovers the planted exact dups with full-doc coverage at soak scale") {
    val dir = s"/tmp/${Reset.ScratchPrefix}scale_span_spec"
    try {
      Scale.synthesize(spark, 20000L, dir)
      val docs = graft.sources.Tables.documents(spark, dir)
      val got = graft.operators.Dedup.spanDedupOf(docs).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(4)))).toMap
      // every exact-dup plant pair (i%100 ∈ {98, 99}) shares its ENTIRE
      // token stream with its twin → one span covering the whole doc
      val plants = (0L until 20000L).filter(i => i % 100 == 98 || i % 100 == 99)
      plants.foreach { id =>
        val (n, cov) = got.getOrElse(id,
          fail(s"planted dup doc $id missing from span output"))
        assert(cov == n, s"doc $id: planted full-copy covered $cov of $n tokens")
      }
      // the near-dup plants (i%100 ∈ {96, 97}) share all but the appended
      // word → coverage n-1 of the longer twin's n... at least n-1 of the
      // SHORTER twin (id%100==96), whose stream is fully contained
      (0L until 20000L).filter(_ % 100 == 96).foreach { id =>
        val (n, cov) = got.getOrElse(id, fail(s"near-dup base doc $id missing"))
        assert(cov == n, s"doc $id: contained stream covered $cov of $n")
      }
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("localexec guard refuses a 2M-node graph; the distributed path answers it") {
    // The local fast path's 100 TB story is the GUARD, so soak the guard:
    // a generated 1500x1500 grid (2.25M nodes, ~4.5M edges, 8 B/row plan
    // stats ≈ 18 MiB) must exceed the 8 MiB budget — no collect, no
    // driver materialization — and the DISTRIBUTED frontier BFS must
    // still answer a bounded traversal on it. This is the exact
    // over-the-line twin of GraphSpec's under-the-line assertions.
    import graft.graph.{LocalExec, PropertyGraph, Traversals}
    val big = PropertyGraph.grid(spark, 1500)
    assert(!LocalExec.smallEnough(big.edges.select(col("src"), col("dst"))),
      "a 2.25M-node grid must not pass the local budget")
    val reached = Traversals.kHop(big.edges, source = 0L, maxHops = 3, numParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // corner of a directed grid: hops 1..3 reach the (i+j ≤ 3) anti-
    // diagonal triangle minus the source = 2 + 3 + 4 nodes
    assert(reached.size == 9 && reached.map(_._2).max == 3)
  }

  test("bloom soak: measured fpp tracks the design point; size constant in rows") {
    // D11 at soak scale: the filter built over a corpus 4x the sf0.1 gate
    // load must (a) stay the fixed design size no matter how many rows
    // feed it — the property that makes it broadcastable at 100 TB — and
    // (b) show a measured false-positive rate within 2x of the analytic
    // design point for its actual distinct-key load (fpp = (1-e^{-kn/m})^k)
    val dir = s"/tmp/${Reset.ScratchPrefix}scale_bloom"
    try {
      Scale.synthesize(spark, 20000L, dir)
      graft.functions.GraftFunctions.register(spark)
      import graft.operators.Dedup
      val docs = graft.sources.Tables.documents(spark, dir)
      def filterOver(d: org.apache.spark.sql.DataFrame): Array[Byte] =
        Dedup.shingleSetsOf(d)
          .select(explode(col("shingles")).as("s"))
          .selectExpr(s"graft_bloom_agg(xxhash64(s), ${Dedup.BloomSeenBits}, " +
            s"${Dedup.BloomSeenHashes}) AS bf")
          .collect()(0).getAs[Array[Byte]](0)
      val full = filterOver(docs)
      val half = filterOver(docs.filter(col("doc_id") < 10000))
      assert(full.length == 4 + Dedup.BloomSeenBits / 8,
        "encoded size must be the design constant")
      assert(half.length == full.length,
        "filter size must not scale with corpus rows")
      val nDistinct = Dedup.shingleSetsOf(docs)
        .select(explode(col("shingles")).as("s")).distinct().count()
      val k = Dedup.BloomSeenHashes
      val design = math.pow(1 - math.exp(-k * nDistinct / Dedup.BloomSeenBits.toDouble), k)
      // uniform synthetic hashes stand in for definitely-absent keys (the
      // chance a draw collides with an inserted hash is ~n/2^64)
      val probes = 200000L
      val hits = spark.range(probes)
        .selectExpr("xxhash64(concat('absent:', CAST(id AS STRING))) AS h")
        .filter(call_function("graft_bloom_contains", lit(full), col("h")))
        .count()
      val measured = hits.toDouble / probes
      assert(measured <= 2 * design + 0.001,
        s"measured fpp $measured exceeds 2x design point $design (n=$nDistinct)")
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("GraphScale generator: deterministic, self-loop-free, genuinely skewed") {
    val nEdges = 50000L
    val nNodes = 5000L
    val e = GraphScale.powerLawEdges(spark, nEdges, nNodes)
    // deterministic (hash-derived, no RNG): two evaluations agree exactly
    assert(e.collect().map(_.toString).sorted
      .sameElements(e.collect().map(_.toString).sorted))
    val rows = e.selectExpr("min(src)", "max(src)", "min(dst)", "max(dst)",
      "count(*)", "sum(CASE WHEN src = dst THEN 1 ELSE 0 END)").head
    assert(rows.getLong(0) >= 0 && rows.getLong(1) < nNodes &&
      rows.getLong(2) >= 0 && rows.getLong(3) < nNodes, "endpoints in [0, N)")
    assert(rows.getLong(5) == 0, "no self-loops")
    // skew: the hub's degree must dwarf the mean — the soak exists to
    // stress hub-adjacency handling, so the generator must actually
    // produce one (design point ~2E/sqrt(N) ≈ 28x mean at these sizes)
    val degs = e.selectExpr("src AS v").union(e.selectExpr("dst AS v"))
      .groupBy("v").count()
    val hub = degs.agg(max("count")).head.getLong(0)
    val mean = 2.0 * rows.getLong(4) / nNodes
    assert(hub > 10 * mean, s"hub degree $hub not >> mean $mean")
  }

  test("planted-SCC generator: cycles + depth-1 DAG + intra-block filler, closed form holds") {
    val b = GraphScale.SccBlock
    val nNodes = 64 * b // 64 planted SCCs
    val nEdges = 20000L
    val e = GraphScale.plantedSccEdges(spark, nEdges, nNodes).localCheckpoint()
    // every block's full cycle is present (the SCC-making edges)
    val cycleMissing = spark.range(nNodes).selectExpr("id AS src",
      s"CASE WHEN (id + 1) % $b = 0 THEN id + 1 - $b ELSE id + 1 END AS dst")
      .except(e).count()
    assert(cycleMissing == 0, s"$cycleMissing cycle edges missing")
    // every non-cycle edge either leaves block 0's base (the DAG fan-out)
    // or stays INSIDE its block (filler) — the invariant that keeps the
    // SCC partition equal to the block partition
    val offPlan = e
      .filter(expr(s"NOT (src = 0 AND dst % $b = 0)")) // not a fan-out edge
      .filter(expr(s"src DIV $b <> dst DIV $b")).count()
    assert(offPlan == 0, s"$offPlan edges cross blocks outside the planted DAG")
    // the fan-out reaches every other block (condensation depth 1)
    val fanned = e.filter(expr(s"src = 0 AND dst % $b = 0 AND dst <> 0"))
      .selectExpr("dst DIV " + b).distinct().count()
    assert(fanned == nNodes / b - 1, s"fan-out hit $fanned blocks")
    // deterministic and self-loop-free, same contract as powerLawEdges
    assert(e.filter(col("src") === col("dst")).count() == 0)
    // the ground truth the soak's check relies on: the driver-local
    // Tarjan twin agrees with the closed form comp(v) = (v div B)·B on a
    // small instance (the soak asserts the same form at 10M edges)
    val nodes = spark.range(nNodes).select(col("id"))
    val scc = graft.graph.Algorithms.scc(nodes, e)
    val bad = scc.filter(expr(s"comp <> (node DIV $b) * $b")).count()
    assert(bad == 0, s"$bad nodes off the planted labels")
  }
}
