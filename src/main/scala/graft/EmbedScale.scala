package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.graph.LocalExec
import graft.operators.Similarity
import graft.sources.Tables

/** Embedding-scale soak — the similarity counterpart of [[Scale]] (500k
  * docs) and [[GraphScale]] (10M edges): synthesize millions of 64-dim
  * float vectors in the driver's `embeddings` schema, with planted
  * exact duplicates, and run the REAL similarity operators from the
  * query registry against them, printing per-op wall seconds AND
  * scheduled job counts. Until this soak the similarity stack's 100 TB
  * claims rested on plan shape at sf0.1 (500 vectors) alone; this is
  * where a regression to quadratic candidate generation, an unbounded
  * shuffle, or a broadcast that stopped being one becomes a number.
  *
  * Usage: runMain graft.EmbedScale [nVecs]   (default 5,000,000 = 10,000×
  * sf0.1). Prints one [[Soak]] line: {"metric":"embed_scale","n_vecs":N,
  *   "dim":64,"neardup_planes":P,"queries":{op:sec,...},
  *   "jobs":{op:count,...},"check_secs":{...},"checks":{...},
  *   "errors":{...}}; exit code 1 if any op errored.
  *
  * Generation is fully distributed and deterministic (hash-derived, no
  * RNG): component i of vector v is xxhash64(v, i) mapped uniformly to
  * [-1, 1) — a near-orthogonal corpus (cosine concentrates ~N(0, 1/64)),
  * so ANN results are dominated by true geometry, not degenerate
  * clusters. Every 1000th vector is a byte-exact copy of its
  * predecessor (vec_id % 1000 == 999 copies 998): the near-dup plant,
  * N/1000 pairs at cosine exactly 1.0 that the bucketed path MUST find
  * (an exact copy collides in every hyperplane bucket), giving the
  * neardup op a closed-form correctness check at any N.
  *
  * The near-dup op runs at `planes = ceil(log2 N)` — the LSH scale knob
  * ([[Similarity.planeIntsFor]]): occupancy N/2^planes stays O(1), so
  * the within-bucket pair join is linear work at any corpus size where
  * the gated 8-plane bench profile would be N²/256. The ANN/scoring ops
  * run EXACTLY the gated formulations (8-plane LSH probes 8 broadcast
  * queries — bucket fan-in is queries×occupancy, not pairs, so the
  * gated knob is the right one there).
  *
  * `outlier_fold_ref` is the one non-registry op: the pre-r13
  * interpreted zip_with+aggregate formulation of the outlier pass-2
  * scan, kept here ONLY as the measured before/after for the graft_dot
  * swap (same result check as `outlier_score` — the checks must agree).
  */
object EmbedScale {

  val Dim = Similarity.Dim

  /** Deterministic synthetic embeddings in the driver's schema
    * (vec_id bigint, embedding array<float>, label int). */
  def synthesize(spark: SparkSession, n: Long, outDir: String): Unit = {
    spark.range(n)
      .select(col("id").as("vec_id"),
        expr("CASE WHEN id % 1000 = 999 THEN id - 1 ELSE id END").as("base"))
      .select(col("vec_id"),
        expr(s"""transform(sequence(0, ${Dim - 1}),
                |  i -> CAST(pmod(xxhash64(base, i), 2000000) / 1000000.0 - 1.0 AS FLOAT))""".stripMargin)
          .as("embedding"),
        expr("CAST(pmod(vec_id, 16) AS INT)").as("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** The pre-r13 outlier pass-2: interpreted higher-order folds in place
    * of graft_dot. Pass 1 (the centroid) is shared code, so the wall
    * delta vs `outlier_score` isolates the scoring scan's cost. */
  private def outlierFoldRef(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val cent = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(expr(s"CAST(floor(CAST(x AS DOUBLE) * ${Similarity.KmeansFp}) AS BIGINT)")).as("sum_fp"))
      .agg(sort_array(collect_list(struct(col("dim"),
        (col("sum_fp").cast("double") / (col("n") * lit(Similarity.KmeansFp.toDouble))).as("v"))))
        .as("cs"))
      .selectExpr("transform(cs, s -> s.v) AS cent")
    def fold(a: String, b: String) =
      s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    emb.join(broadcast(cent))
      .selectExpr("vec_id",
        s"""CAST(round(CAST((${fold("embedding", "cent")})
           | / (sqrt(${fold("embedding", "embedding")}) * sqrt(${fold("cent", "cent")}))
           |AS DECIMAL(18,10)), 6) AS DOUBLE) AS centrality""".stripMargin)
      .orderBy(col("centrality").asc, col("vec_id"))
      .limit(Similarity.OutlierK)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    // clamp at 31: the bucket pack is INT sign bits (planeIntsFor rejects
    // more) — 31 planes already keeps occupancy O(1) past 2B vectors
    val neardupPlanes = math.min(31, math.max(Similarity.Planes,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt))
    val spark = GraftSession.local()
    // these operators never route through LocalExec, but force the knob
    // off anyway so the soak provably measures the distributed path
    spark.conf.set(LocalExec.MaxBytesKey, "0")

    val dir = s"/tmp/${Reset.ScratchPrefix}embedscale"
    synthesize(spark, n, dir)
    // quarter-size twin corpus for the semantic (k-means-cell) near-dup
    // row — same generator, same plant cadence
    val n4 = n / 4
    val dir4 = s"/tmp/${Reset.ScratchPrefix}embedscale_q"
    synthesize(spark, n4, dir4)

    // nothing shared across ops — parquet re-read each time
    val soak = new Soak(spark, "embed_scale")
    import soak.op

    // sum of published vec_ids: a set-equality witness between the
    // graft_dot and fold-reference outlier formulations
    def idSum(df: DataFrame): Long =
      df.agg(sum(col("vec_id"))).head.getLong(0)

    // the measured brute-force point: 8 broadcast queries × full scan
    op("brute_topk")(Similarity.cosineTopK(spark, dir))(_.count())
    op("lsh_ann")(Similarity.lshAnn(spark, dir))(_.count())
    op("ivf_ann")(Similarity.ivfAnn(spark, dir))(_.count())
    op("quantized_ann")(Similarity.quantizedAnn(spark, dir))(_.count())
    op("kmeans_update")(Similarity.kmeansUpdate(spark, dir))(_.count())
    // PQ index build alone: one graft_pq_encode corpus scan. Check =
    // planted byte-exact copies encode to identical code arrays (the
    // encode is a pure function of the bytes), count must be n/1000.
    op("pq_encode") {
      val c = Similarity.pqCodes(spark, dir).localCheckpoint()
      c.filter(col("vec_id") % 1000 === 999).selectExpr("vec_id", "codes AS ca")
        .join(c.filter(col("vec_id") % 1000 === 998)
            .selectExpr("vec_id + 1 AS vec_id", "codes AS cb"),
          Seq("vec_id"))
        .filter(col("ca") === col("cb"))
    }(_.count())
    // full PQ-ADC query path over the 4-ints-per-vector codes table
    op("pq_ann")(Similarity.pqAnn(spark, dir))(_.count())
    op("outlier_score")(Similarity.outlierScore(spark, dir))(idSum)
    op("outlier_fold_ref")(outlierFoldRef(spark, dir))(idSum)
    // the plane-scaled near-dup pair join; check = planted exact-dup
    // pairs recovered (sim ≥ 0.99 ⇒ only the N/1000 plants)
    op(s"neardup_p$neardupPlanes")(
      Similarity.embedNearDup(spark, dir, neardupPlanes))(
      _.filter(col("sim") >= 0.99).count())
    // SemDeDup at its production shape: K-means cells as learned
    // buckets, K sized to the corpus (occupancy ~= n4/K), within-cell
    // cosine pairs only. Runs on a quarter-size corpus because the
    // honest cost is O(n·K·Dim) assignment + O(n·occupancy) pair
    // cosines — the row exists to measure exactly that tradeoff, not
    // to hide it. Check = EXACT plant recovery: a byte-identical copy
    // has identical centroid cosines, so the deterministic argmax
    // lands both copies in the same cell and the pair surfaces at
    // sim 1.0 — recovered must equal planted, fail loud otherwise.
    op("semantic_neardup_q")({
      Similarity.semanticNearDup(spark, dir4, k = 1024)
    })({ df =>
      val got = df.filter(col("sim") >= 0.99).count()
      val want = n4 / 1000
      if (got != want)
        throw new IllegalStateException(
          s"planted $want exact-dup pairs, recovered $got")
      got
    })

    soak.finish("n_vecs" -> n, "dim" -> Dim.toLong, "neardup_planes" -> neardupPlanes.toLong)
  }
}
