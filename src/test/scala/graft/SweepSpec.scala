package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** The sweep-only overlay queries (SF-scaled grids, the hops axis, the
  * ssp target-depth axis) are not in SparkEntry.queries, so EntrySpec's
  * execute-everything net does not cover them; a broken overlay would
  * surface only as silent error rows in BENCH_SWEEP.csv. This spec runs
  * every overlay at the smallest SF and checks the axis semantics the
  * sweep exists to measure. */
class SweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-sweep-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val dir = "/root/testdata/sf0.001"

  test("every sweep overlay executes at sf0.001") {
    GraphOps.sweepQueries.foreach { case (name, fn) =>
      // limit(1).collect() forces real execution, same net as EntrySpec
      try fn(spark, dir).limit(1).collect()
      catch { case t: Throwable => fail(s"$name failed: ${t.getMessage}", t) }
    }
  }

  test("@dist overlays run the distributed path and agree with the gated rows") {
    // result equality: the forced-distributed twin must reproduce the
    // gated (locally-routed) row exactly — the per-algorithm local ≡
    // distributed pins live in GraphSpec; this pins the OVERLAY wiring
    // (conf set/restore around the builder) end to end
    for (q <- Seq("g_kcore", "g_connected_components", "g_scc", "g_sssp_grid")) {
      val gated = GraphOps.queries(q)(spark, dir).collect().map(_.toString).sorted
      val dist = GraphOps.sweepQueries(s"$q@dist")(spark, dir).collect().map(_.toString).sorted
      assert(dist.nonEmpty && gated.sameElements(dist), s"$q@dist diverged from gated row")
    }
    // route proof: the distributed Pregel SSSP schedules a job cascade
    // (one-plus per superstep — ~30 levels on the sf0.001 grid), far past
    // LocalExecJobsSpec's ≤6-job bound for the local route; count jobs to
    // prove @dist actually left the local path
    val jobs = JobCount(spark) {
      GraphOps.sweepQueries("g_sssp_grid@dist")(spark, dir).collect()
    }
    assert(jobs > 6,
      s"g_sssp_grid@dist scheduled only $jobs jobs — still on the local path?")
    // and the conf round-trips: the overlay must not leave the kill
    // switch set for subsequent queries
    assert(spark.conf.getOption(graft.graph.LocalExec.MaxBytesKey).isEmpty,
      "@dist overlay leaked graft.localexec.maxBytes=0 into the session")
  }

  test("hops axis: reached-node counts grow monotonically with maxHops") {
    val counts = (1 to 8).map { h =>
      GraphOps.sweepQueries(s"g_khop_grid@h$h")(spark, dir).count()
    }
    assert(counts == counts.sorted, s"non-monotone hop coverage: $counts")
    assert(counts.head < counts.last, "deeper traversals must reach more nodes")
  }

  test("sf-extrapolation guard: measured scaling exponents back the 100 TB claims") {
    // BENCH_SWEEP.csv spans 100× of data (sf0.001 → sf0.1); the log-log
    // slope of wall time over that span is a measured scaling exponent,
    // which turns the plan-shape claims into numbers: bucketed /
    // exchange-free per-row operators must be strongly sub-linear
    // (their cost is a partition-local scan, mostly hidden under the
    // fixed scheduling floor at these SFs), full scans and shuffle
    // aggregations at most ~linear (exponent ≤ 1.15 leaves room for
    // timing noise but rules out anything super-linear — the shape that
    // would NOT survive the next 1000×).
    val csvPath = java.nio.file.Paths.get("BENCH_SWEEP.csv")
    assume(java.nio.file.Files.exists(csvPath), "sweep CSV not generated yet")
    val rows = BenchPlot.parseCsv(java.nio.file.Files.readString(csvPath))
    def exponent(q: String): Double = {
      val pts = rows.filter(_.query == q).map(r => (r.sf, r.seconds)).sortBy(_._1)
      assert(pts.size >= 2, s"$q missing from the sweep CSV (need ≥2 SFs)")
      val ((s0, t0), (s1, t1)) = (pts.head, pts.last)
      // floor at 20 ms: below the scheduling floor a ratio is pure noise
      math.log(math.max(t1, 0.02) / math.max(t0, 0.02)) / math.log(s1 / s0)
    }
    // d_bloom_seen qualifies as sub-linear: the batch probe is
    // exchange-free and the corpus-side build hides under the floor at
    // these SFs (measured ~0.13 over the 100× span)
    for (q <- Seq("g_node_lookup_fast", "t_hash_split", "t_pii_scrub",
                  "d_bloom_seen")) {
      val e = exponent(q)
      assert(e < 0.8, f"$q scaling exponent $e%.2f — expected sub-linear (< 0.8)")
    }
    // the round-10 pipeline additions measure ≤0.25 today (floor-bound
    // at these sizes); the ≤1.15 bar is the regression guard that an
    // accidental all-pairs or unpruned rewrite would blow through
    for (q <- Seq("q_scan_filter", "q1_pricing_summary", "t_token_count", "d_exact_dedup",
                  "d_span_dedup", "d_span_trim", "d_source_overlap",
                  "t_freq_score", "q_pivot", "s_knn_label",
                  // round-11 additions (measured ≤0.16 over the 100×
                  // span today — corpus-pass-bound); the bar guards a
                  // regression to an all-pairs / unpruned rewrite
                  "t_bm25", "t_source_mix", "t_heavy_hitters",
                  "g_ppr", "g_random_walks")) {
      val e = exponent(q)
      assert(e <= 1.15, f"$q scaling exponent $e%.2f — expected at most ~linear (≤ 1.15)")
    }
  }

  test("sf-extrapolation guard: @dist rows scale as their workloads dictate") {
    // The @dist twins split in two by what actually varies with SF:
    //  - g_connected_components@dist / g_kcore@dist ride the SF-scaled
    //    componentSample graph → the gated ≤1.15 at-most-linear bar is
    //    meaningful for them.
    //  - khop/sssp/wsssp (fixed 20/16 grids) and pagerank/scc/stress/
    //    harmonic/betweenness (fixed grids) run a CONSTANT workload at
    //    every SF, so an exponent bar is vacuous there — a quadratic
    //    regression changes a constant into a bigger constant. For
    //    those the guard is flatness (|exponent| ≤ 0.5: the workload
    //    must STAY SF-independent) plus a PER-QUERY absolute ceiling
    //    (3× the row's calibration measurement, below): catches a
    //    catastrophic constant-factor regression while staying
    //    host-drift-proof. Cross-round absolute drift is the committed
    //    CSV diff's job.
    // Gated on the artifact carrying @dist rows (assume, not assert: a
    // pre-r11 CSV simply hasn't measured them).
    val csvPath = java.nio.file.Paths.get("BENCH_SWEEP.csv")
    assume(java.nio.file.Files.exists(csvPath), "sweep CSV not generated yet")
    val rows = BenchPlot.parseCsv(java.nio.file.Files.readString(csvPath))
    val distQs = rows.map(_.query).distinct.filter(_.endsWith("@dist"))
    assume(distQs.nonEmpty, "sweep CSV predates the @dist overlays")
    val sfScaled = Set("g_connected_components@dist", "g_kcore@dist")
    // Calibration wall (sf0.001 column of the committed CSV at the time
    // each row's ceiling was set) — ceiling = 3× this, matching the
    // documented 1.3-5× host band. A single family-wide ceiling does
    // not survive workload diversity: the pre-r15 rows read 0.5-5.7 s,
    // so the old shared 30 s bar looked generous — until the Brandes
    // stress twin (honest fixed workload 19-30 s: two passes × ~38
    // superstep job floors) joined the family and a 30.08 s committed
    // row failed the suite with zero regression anywhere (r15 verdict
    // item 1). Every fixed-workload @dist row MUST have an entry here;
    // a new twin without one fails loudly below instead of inheriting
    // a ceiling calibrated for someone else's workload.
    val calibration = Map(
      "g_khop_grid@dist" -> 0.60, "g_sssp_grid@dist" -> 1.48,
      "g_wsssp_grid@dist" -> 1.39, "g_pagerank@dist" -> 0.74,
      "g_scc@dist" -> 11.47, "g_stress@dist" -> 19.27,
      "g_harmonic@dist" -> 12.38, "g_betweenness@dist" -> 7.43,
      "g_eccentricity@dist" -> 19.38,
      // 27 h-index rounds x ~4 scheduled jobs on the fixed Wiki-Vote
      // graph (r17 first committed measurement)
      "g_coreness@dist" -> 10.83,
      // one distributed wedge/support pass over the fixed Wiki-Vote
      // graph (r19 first committed measurement — the twin added when
      // r18's local routing left the triangle substrate unmeasured)
      "g_clustering@dist" -> 1.16,
      // 3 synchronous join+groupBy+window vote rounds on the fixed
      // 25-nation adjacency graph (r20 first committed measurement —
      // the last gated key whose distributed route had no sweep twin)
      "g_label_prop@dist" -> 0.78)
    for (q <- distQs) {
      val pts = rows.filter(_.query == q).map(r => (r.sf, r.seconds)).sortBy(_._1)
      assert(pts.size >= 2, s"$q needs ≥2 SFs in the sweep CSV")
      val ((s0, t0), (s1, t1)) = (pts.head, pts.last)
      val e = math.log(math.max(t1, 0.02) / math.max(t0, 0.02)) / math.log(s1 / s0)
      if (sfScaled(q))
        assert(e <= 1.15, f"$q scaling exponent $e%.2f — expected at most ~linear (≤ 1.15)")
      else {
        assert(math.abs(e) <= 0.5,
          f"$q runs a fixed workload but its wall time tracks SF (exponent $e%.2f)")
        val ceil = calibration.getOrElse(q,
          fail(s"$q has no calibration entry — new fixed-workload @dist " +
            "rows must record their first committed sf0.001 wall here")) * 3
        pts.foreach { case (sf, t) =>
          assert(t <= ceil,
            f"$q at sf$sf%.3f took $t%.1f s — fixed-workload ceiling ($ceil%.1f s) blown")
        }
      }
    }
  }

  test("insert axis: MARGINAL per-op cost stays under the 50 ms bar") {
    // wall/N on a single run folds the stream start/stop fixed cost into
    // the metric; the op-count axis separates them — the least-squares
    // SLOPE over n8..n64 is the steady-state marginal cost per insert
    // (measured ~34 ms/op; a 2000-op run concurs). Bar at 55 ms: enough
    // headroom for host floor inflation (the r10 driver refresh ran
    // ~1.5x the builder's floors), tight enough that a per-op
    // regression — a new fork, a codegen re-enable, a WAL sync on the
    // timed path — blows through it.
    val csvPath = java.nio.file.Paths.get("BENCH_SWEEP.csv")
    assume(java.nio.file.Files.exists(csvPath), "sweep CSV not generated yet")
    val rows = BenchPlot.parseCsv(java.nio.file.Files.readString(csvPath))
    val pts = rows.filter(r => r.query.startsWith("g_insert_stream@n") && r.sf == 0.1)
      .map(r => (r.query.stripPrefix("g_insert_stream@n").toDouble, r.seconds))
    assume(pts.size >= 3, "sweep CSV missing the insert op-count axis at sf0.1")
    val n = pts.size
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(slope > 0, f"non-positive insert slope $slope%.4f — axis rows broken?")
    assert(slope * 1000 <= 55,
      f"marginal insert cost ${slope * 1000}%.1f ms/op exceeds the 55 ms guard")
  }

  test("artifact agreement: sweep sf0.1 and BENCH_DETAIL concur on every shared query") {
    // The r7-r9 artifact confusion (sweep rows silently running SF-scaled
    // grids under the gated names; one contaminated DETAIL run) is pinned
    // here as a regression guard: every query named WITHOUT an @-axis
    // suffix runs the identical workload in both artifacts, so the two
    // published numbers must agree within the harness's own stability bar.
    // Gated on the round-10 artifact format (passes column / passes key):
    // pre-round-10 artifacts, which still shadow the gated rows, are
    // skipped rather than failed.
    //
    // PAIRING RULE (r12, after the r11 gate tripped on a mixed pair): the
    // two numbers only mean the same workload-in-the-same-window when the
    // artifacts were produced TOGETHER. The round driver refreshes
    // BENCH_DETAIL.json alone at end-of-round — in whatever host-load
    // window it happens to run — leaving a committed sweep CSV from a
    // different window next to it; comparing that mixed pair measures the
    // host, not the code (r11: t_bottomk_sketch 0.27 driver-refresh vs
    // 0.45 committed sweep; the driver then COMMITTED that refresh, so
    // even HEAD's pair was mixed). The refresh never touches the CSV and
    // the builder always commits the pair in one commit, so the last
    // commit that touched BENCH_SWEEP.csv holds a produced-together pair
    // by construction — read BOTH files from that commit. Additionally
    // compare the working pair when BOTH files differ from their committed
    // selves — i.e. a fresh regeneration awaiting commit. A half-fresh
    // pair is skipped by construction. Outside a git repo, fall back to
    // the working files.
    def git(args: String*): Option[String] =
      try {
        val p = new ProcessBuilder(("git" +: args): _*)
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8")
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Exception => None }
    val csvPath = java.nio.file.Paths.get("BENCH_SWEEP.csv")
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    assume(java.nio.file.Files.exists(csvPath) &&
      java.nio.file.Files.exists(detailPath), "bench artifacts not generated yet")
    val wtCsv = java.nio.file.Files.readString(csvPath)
    val wtDetail = java.nio.file.Files.readString(detailPath)
    val pairRev = git("log", "-n1", "--format=%H", "--", "BENCH_SWEEP.csv")
      .map(_.trim).filter(_.nonEmpty)
    val committed = pairRev.flatMap { rev =>
      for (c <- git("show", s"$rev:BENCH_SWEEP.csv");
           d <- git("show", s"$rev:BENCH_DETAIL.json")) yield (c, d)
    }
    val (csv, detail) = committed match {
      case Some((c, d)) =>
        if (wtCsv != c && wtDetail != d) (wtCsv, wtDetail) // both fresh: candidate pair
        else (c, d)                                        // produced-together committed pair
      case None => (wtCsv, wtDetail)                       // not a git checkout
    }
    assume(csv.linesIterator.next().contains("passes") &&
      detail.contains("\"passes\""), "pre-round-10 artifact format")
    val sweep = BenchPlot.parseCsv(csv)
      .filter(r => r.sf == 0.1 && !r.query.contains("@"))
      .map(r => r.query -> r.seconds).toMap
    val detailQs = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(detail).map(_.group(1)).getOrElse(fail("no queries object"))
    val detailTimes = """"([^"]+)":([0-9.]+)""".r.findAllMatchIn(detailQs)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val shared = sweep.keySet intersect detailTimes.keySet
    assert(shared.size > 50, s"artifacts share only ${shared.size} queries")
    // JVM-history effects cut BOTH ways on job-floor-bound queries:
    // round 10 first measured a warmed-up sweep reading up to ~1.9x
    // FASTER than DETAIL, then — after the artifact refresh — a long
    // single-JVM sweep reading 1.6-2x SLOWER on the same rows
    // (context-scoped aging: ~700 query executions of RDD/broadcast
    // cleanup backlog and BlockManager metadata by its sf0.1 section).
    // BenchSweep therefore runs a FRESH SparkContext per SF section,
    // capping each section's history at DETAIL-like levels, so this bar
    // compares workloads rather than JVM biographies. The allowances
    // keep a margin for the residual warmth difference (DETAIL slower
    // than sweep up to 2.2x; sweep slower than DETAIL up to 1.5x). The
    // primary contamination detector remains the within-artifact
    // pass-spread audit — `unstable` in the detail JSON, `passes` in
    // both artifacts; this cross-check only catches a run that was
    // dirty consistently across all of a query's passes.
    // Cross-window comparator (r17): the PUBLISHED number is the min
    // over passes — a tail statistic. Two back-to-back clean r17
    // windows reproduced a 1.51–1.58× disagreement on one ~0.5 s query
    // (t_bigrams) whose pass sets overlap almost entirely: DETAIL's min
    // was one lucky 0.35 s pass among [0.85, 0.64, 0.35, 0.45, 0.47]
    // while the sweep's passes sat at [0.60, 0.53, 0.55] — the same
    // workload, different single-pass luck. The agreement check
    // therefore compares the MEDIAN OF THE FASTEST THREE passes (the
    // same window the stability audit judges) under the SAME 1.5×/2.2×
    // bars: robust to one lucky or unlucky pass in either artifact,
    // while the mixed-window pair this test exists for (r11:
    // t_bottomk_sketch, where EVERY pass shifts together) still trips
    // identically. Published values stay the min — only the
    // cross-artifact comparison uses the robust estimator.
    // size 2 takes the MEAN, not f(1): the middle-element pick on two
    // passes is the slower one — a biased, artifact-asymmetric estimator
    // that can spuriously trip (or mask) the agreement bars (r17 ADVICE)
    def med3(passes: Seq[Double], fallback: Double): Double = {
      val f = passes.sorted.take(3)
      f.size match {
        case 0 => fallback
        case 2 => (f(0) + f(1)) / 2
        case n => f(n / 2)
      }
    }
    val sweepPasses: Map[String, Seq[Double]] = csv.linesIterator.drop(1)
      .filter(_.nonEmpty).map(_.split(",", -1)).collect {
        case f if f.length >= 7 && f(1) == "sf0.1" && !f(0).contains("@") =>
          f(0) -> f(6).split(';').toSeq
            .flatMap(s => scala.util.Try(s.toDouble).toOption)
      }.toMap
    // the only numeric-array entries in the detail JSON are the passes
    val detailPasses: Map[String, Seq[Double]] =
      """"([^"]+)":\[([0-9.,]+)\]""".r.findAllMatchIn(detail).map { m =>
        m.group(1) -> m.group(2).split(',').toSeq
          .flatMap(s => scala.util.Try(s.toDouble).toOption)
      }.toMap
    val disagree = shared.toSeq.sorted.flatMap { q =>
      val sM = med3(sweepPasses.getOrElse(q, Nil), sweep(q))
      val dM = med3(detailPasses.getOrElse(q, Nil), detailTimes(q))
      // floor both sides at 250 ms: a multi-stage query (ingest writes,
      // checkpointing rounds) bottoms out at ~200-400 ms of scheduler+fs
      // latency on this host, and that floor's run-to-run variance (e.g.
      // g_ingest_nodes 0.24 vs 0.36 s across two clean runs) is noise,
      // not workload signal — the per-pass spread audit (100 ms floor)
      // remains the fine-grained detector within each artifact
      val (s, d) = (math.max(sM, 0.25), math.max(dM, 0.25))
      if (d / s > 2.2 || s / d > 1.5)
        Some(f"$q sweep-med3=$sM%.2f detail-med3=$dM%.2f")
      else None
    }
    assert(disagree.isEmpty,
      s"sweep and DETAIL disagree on:\n  ${disagree.mkString("\n  ")}")
  }

  test("lookup axis: every probe resolves; warm per-op cost amortizes (job count flat in n)") {
    // semantics: n probes → n rows, keys cycling the fixed 100-id
    // working set (37 coprime to 100 → 100 distinct keys at n=100)
    for (n <- Seq(100, 1000)) {
      val rows = GraphOps.sweepQueries(s"g_node_lookup_fast@n$n")(spark, dir).collect()
      assert(rows.length === n, s"@n$n must emit one row per probe")
      assert(rows.map(_.getLong(0)).distinct.length === 100,
        s"@n$n must touch the full 100-key working set")
    }
    // the amortization claim in scale-invariant terms (walls are host-
    // bimodal; job counts are not): after the store is warm, a 10×
    // probe count schedules NO additional Spark jobs — per-op cost is a
    // driver memory probe, so the per-query floor is the whole job cost
    // at any n. (Cold passes above already warmed the store.)
    def jobsFor(n: Int): Int = JobCount(spark) {
      GraphOps.sweepQueries(s"g_node_lookup_fast@n$n")(spark, dir).collect()
    }
    val j100 = jobsFor(100)
    val j1000 = jobsFor(1000)
    assert(j1000 <= j100,
      s"warm lookups must not scale jobs with probe count ($j100 → $j1000)")
  }

  test("@warm axis: repeated probes stay warm (zero jobs) and the per-op ceiling holds") {
    // prime + correctness: the builder returns the single-probe result
    val rows = GraphOps.sweepQueries("g_node_lookup_fast@warm32")(spark, dir).collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 42L)
    // all-warm builds schedule NO jobs (the probe is a driver memory hit)
    var perOpMs = 0.0
    val jobs = JobCount(spark) {
      val t0 = System.nanoTime()
      GraphOps.sweepQueries("g_node_lookup_fast@warm128")(spark, dir)
      perOpMs = (System.nanoTime() - t0) / 1e6 / 128
    }
    assert(jobs === 0,
      s"warm probe builds scheduled $jobs jobs — warm-store miss")
    // ceiling: generous 5 ms/op — the reference's iterated get_single_node
    // runs 3.4 ms/op; the warm probe is typically well under 1 ms
    assert(perOpMs <= 5.0, f"warm per-op $perOpMs%.2f ms exceeds the 5 ms bar")
  }

  test("depth axis: ssp targets sit at increasing distances, all reachable") {
    val n = GraphOps.gridNFor(spark, dir)
    val dists = Seq(25, 50, 75, 100).map { pct =>
      val r = GraphOps.sweepQueries(s"g_ssp_pair@d$pct")(spark, dir).collect().head
      val k = math.max(1, (n - 1) * pct / 100)
      assert(r.getLong(2) == 2L * k, s"diagonal ($k,$k) must be 2k=${2 * k} hops, got $r")
      r.getLong(2)
    }
    assert(dists == dists.sorted && dists.distinct == dists,
      s"target depths must strictly increase: $dists")
  }
}
