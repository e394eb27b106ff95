package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{DocStreams, InsertBench}

/** Streaming throughput soak — the Structured-Streaming counterpart of
  * [[EmbedScale]]/[[GraphScale]]: the gated streaming specs (S1-S8) pin
  * SEMANTICS on MemoryStream micro-corpora; this soak produces the
  * sustained-rate evidence — documents/second through the S6 ingest gate,
  * and the S8 heavy-hitter state staying BOUNDED under unbounded
  * vocabulary churn — that the per-op insert bench (wall-clock-floor
  * bound by design) cannot show. Reference discipline: the live-ingest
  * add benchmarks (benchmark.py:103-135) measure ops/s the same way —
  * drive arrivals, read the engine's own progress counters.
  *
  * Two probes, each over the `rate-micro-batch` source (fixed rows per
  * trigger, so the engine is COMPUTE-bound, not arrival-throttled):
  *
  *  - s6_gate: quality-score → threshold → split → stratified-sample on
  *    every arriving doc (the exact gated-query expressions), noop sink.
  *    Stateless per-row work: docs/s here IS per-core pipeline
  *    throughput, and scales linearly with executors at 100 TB because
  *    nothing shuffles and no state store is touched. Consistency check:
  *    total admitted rows (engine progress counters) must equal the
  *    BATCH pipeline's admitted count over the same id range — the
  *    lambda-architecture agreement, now verified at millions of docs.
  *
  *  - s8_heavy_hitters: per-language Misra-Gries token summaries in
  *    mapGroupsWithState, fed text whose vocabulary GROWS FOREVER (one
  *    fresh letter-only token per 20 ids — translate() of the decimal id,
  *    so the plant is deterministic). A naive streaming GROUP BY token
  *    grows state with the vocabulary; the MG merge rule caps it at m
  *    counters per language no matter how many distinct tokens flow by.
  *    Checks: every published candidate set stays ≤ m, and the state
  *    store's own numRowsTotal stays = |langs| (one MG map per language).
  *
  * Usage: runMain graft.StreamScale [gateRowsPerBatch] [gateBatches]
  *   (defaults 250000 × 12 — 3M docs through the gate; the S8 probe runs
  *   at gateRowsPerBatch/2 × gateBatches)
  * Prints one [[Soak]] line:
  *   {"metric":"stream_scale","value":SECS,"unit":"sec",
  *    "queries":{op:sec,...},"docs_per_sec":{op:rate,...},
  *    "rows":{op:n,...},"check_secs":{},"checks":{...},"errors":{...}};
  *   exit code 1 if any probe errored.
  */
object StreamScale {

  /** Wait until `n` data-carrying micro-batches have completed (or the
    * deadline passes — the rate source is unbounded, so
    * processAllAvailable() would never return). */
  private def awaitBatches(q: StreamingQuery, n: Int, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
           q.recentProgress.count(_.numInputRows > 0) < n) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(100)
    }
  }

  /** (total input rows, steady-state docs/s, total sink output rows) over
    * the first `n` data batches, from the engine's own progress records;
    * the first two are warm-up (planning + codegen) and excluded from the
    * rate. [[awaitBatches]] returns after AT LEAST `n` batches and the
    * source may finish one more before the query stops, so only the
    * first `n` make a total that is the same on every run. */
  private def throughput(ps: Seq[StreamingQueryProgress], n: Int): (Long, Double, Long) = {
    val data = ps.filter(_.numInputRows > 0).take(n)
    val steady = if (data.length > 2) data.drop(2) else data
    val secs = steady.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
    val rate = if (secs > 0) steady.map(_.numInputRows).sum / secs else 0.0
    (data.map(_.numInputRows).sum, rate, data.map(_.sink.numOutputRows).sum)
  }

  private def rateDocs(spark: SparkSession, rowsPerBatch: Long, parts: Int): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", parts)
      .option("startTimestamp", 0)
      .load()

  private def ckpt(tag: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = if (java.nio.file.Files.isWritable(shm)) shm
               else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files
      .createTempDirectory(root, s"${Reset.ScratchPrefix}streamscale_$tag")
      .toString
  }

  def main(args: Array[String]): Unit = {
    val gateRows = args.headOption.map(_.toLong).getOrElse(250000L)
    val gateBatches = args.lift(1).map(_.toInt).getOrElse(12)
    val hhRows = math.max(1L, gateRows / 2)
    val m = 64
    val spark = GraftSession.local()
    val parts = spark.sparkContext.defaultParallelism
    val soak = new Soak(spark, "stream_scale")
    import soak.checks

    // (rows, rate) probes: timed whole, published with their own columns
    def probe(name: String)(body: => (Long, Double)): Unit = {
      val t0 = System.nanoTime()
      try {
        val (rows, rate) = body
        soak.record(name, (System.nanoTime() - t0) / 1e9, None,
          "docs_per_sec" -> Bench.jsonNum(rate), "rows" -> rows.toString)
      } catch { case t: Throwable => soak.record(name, 0.0, Some(Soak.sanitize(t))) }
    }

    // --- S6 gate: stateless curation pipeline at full rate ------------------
    probe("s6_gate") {
      val docs = rateDocs(spark, gateRows, parts)
        .select(InsertBench.docExpr: _*)
      val q = DocStreams.ingestGate(docs).writeStream
        .format("noop")
        .option("checkpointLocation", ckpt("gate"))
        .trigger(Trigger.ProcessingTime("0 seconds"))
        .start()
      try awaitBatches(q, gateBatches, timeoutMs = 300000) finally q.stop()
      val (rows, rate, admitted) = throughput(q.recentProgress.toSeq, gateBatches)
      // lambda agreement at scale: the batch pipeline over the same ids
      // must admit EXACTLY the rows the stream's sink saw
      val expected = DocStreams.ingestGate(
        spark.range(rows).toDF("value").select(InsertBench.docExpr: _*)).count()
      checks("s6_admitted") = admitted
      checks("s6_admitted_minus_batch") = admitted - expected
      if (admitted != expected)
        throw new IllegalStateException(
          s"stream admitted $admitted, batch admits $expected over $rows ids")
      (rows, rate)
    }

    // --- S8 heavy hitters: bounded state under vocabulary churn -------------
    probe("s8_heavy_hitters") {
      val docs = rateDocs(spark, hhRows, parts).selectExpr(
        "value AS doc_id",
        // one fresh letter-only token per 20 ids — the vocabulary grows
        // without bound while the MG state may not
        "concat('the quick brown fox tok', " +
          "translate(CAST(value DIV 20 AS STRING), '0123456789', 'abcdefghij')) AS text",
        "element_at(array('en','de','fr','es'), CAST(value % 4 AS INT) + 1) AS lang")
      val maxCand = new AtomicLong
      val q = DocStreams.streamingHeavyHitters(docs, m).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt("hh"))
        .foreachBatch { (df: DataFrame, _: Long) =>
          val r = df.selectExpr("max(size(candidates)) AS mx").collect().head
          if (!r.isNullAt(0))
            maxCand.getAndAccumulate(r.getInt(0).toLong, (a: Long, b: Long) => math.max(a, b))
          ()
        }
        .trigger(Trigger.ProcessingTime("0 seconds"))
        .start()
      try awaitBatches(q, gateBatches, timeoutMs = 300000) finally q.stop()
      val (rows, rate, _) = throughput(q.recentProgress.toSeq, gateBatches)
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head)
      checks("s8_distinct_tokens_seen") = rows / 20 // the churn plant's floor
      checks("s8_max_candidates") = maxCand.get()
      checks("s8_state_rows") = lastState.map(_.numRowsTotal).getOrElse(-1L)
      checks("s8_state_bytes") = lastState.map(_.memoryUsedBytes).getOrElse(-1L)
      if (maxCand.get() > m)
        throw new IllegalStateException(
          s"candidate set ${maxCand.get()} exceeded capacity $m")
      if (checks("s8_state_rows") > 4)
        throw new IllegalStateException(
          s"state rows ${checks("s8_state_rows")} > |langs| = 4")
      (rows, rate)
    }

    soak.finish("gate_rows_per_batch" -> gateRows, "hh_rows_per_batch" -> hhRows,
      "mg_capacity" -> m.toLong)
  }
}
