package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Lexical-dedup scale soak — the documents counterpart of
  * [[GraphScale]] (10M edges) and [[EmbedScale]] (5M vectors): synthesize
  * a multi-million-doc corpus in the driver's `documents` schema with
  * FOUR planted duplication families, run the gated lexical dedup tier
  * against it, and verify EXACT plant recovery per tier. Until this soak
  * the minhash/simhash/span/containment 100 TB claims rested on the sf1
  * self-gate's 50k docs plus plan shape; this is where a regression to
  * quadratic candidate generation, a hot LSH bucket, or a broken
  * gaps-and-islands merge becomes a number AND a failed closed-form
  * check.
  *
  * Usage: runMain graft.DocScale [nDocs]   (default 2,000,000 = 400×
  * sf0.1; must be a multiple of 100). Prints one [[Soak]] line:
  * {"metric":"doc_scale","n_docs":N,"queries":{op:sec,...},
  *  "jobs":{op:count,...},"check_secs":{...},"checks":{...},
  *  "errors":{...}}; exit code 1 if any op errored.
  *
  * Generation is fully distributed and deterministic (hash-derived, no
  * RNG): doc i draws 40 + base%40 words from a 17,576-word vocabulary
  * ('w' + three letters) by xxhash64 — large enough that unrelated docs
  * share NO 5-gram (space 17576⁵ ≈ 1.7e21) and essentially no 3-word
  * shingle (space ≈ 5.4e12; ~10³ chance collisions corpus-wide move no
  * check), so every cross-doc repeat below is a plant, and the negative
  * checks ("no unplanted doc reports a span") are exact. Per 100-doc
  * block, four planted pairs:
  *   - EXACT:       doc 99 is a byte-exact copy of doc 98;
  *   - NEAR:        doc 97 is doc 96 + one trailing word
  *                  (jaccard (k−2)/(k−1) ≥ 0.98);
  *   - CONTAINMENT: doc 93 is the first 20 tokens of doc 92
  *                  (containment 1.0, jaccard 18/(k−2) < 0.5 — invisible
  *                  to the LSH tier BY DESIGN, D14's reason to exist);
  *   - SPAN:        doc 95 carries doc 94's tokens 5..16 spliced at
  *                  position 10 (a 12-token verbatim island in each,
  *                  8 duplicated 5-grams; jaccard ≈ 0.2 — below every
  *                  pair threshold, visible only to D12); its FILLER
  *                  words draw from a disjoint 'v'-prefixed
  *                  sub-vocabulary so a splice-boundary gram can never
  *                  coincide by the 1/|V| birthday term (see
  *                  [[vocabWord]]).
  * Every planted doc's span diagnosis is closed-form (see
  * [[checkSpanDedup]]), so the span check covers ALL 8 planted doc
  * classes exactly and pins unplanted docs to ZERO output rows. */
object DocScale {

  /** Vocabulary: a prefix letter + 3 hash-indexed lowercase letters.
    * Normal words use prefix 'w'; a spliced doc's FILLER words use the
    * disjoint 'v' sub-vocabulary — without it, the filler word adjacent
    * to the splice window coincides with the corresponding source word
    * with probability 1/17576 per boundary, which at 2M docs is ~2
    * planted pairs whose island grows one gram past the closed form
    * (measured: exactly that, twice, in the first 2M run). */
  private val VocabSize = 26 * 26 * 26

  private def vocabWord(prefix: String, h: String) =
    s"""concat($prefix,
       |  chr(97 + CAST(($h DIV 676) % 26 AS INT)),
       |  chr(97 + CAST(($h DIV 26) % 26 AS INT)),
       |  chr(97 + CAST($h % 26 AS INT)))""".stripMargin

  /** Deterministic synthetic corpus in the driver's schema
    * (doc_id, text, lang, source, n_chars) with the four plant families. */
  def synthesize(spark: SparkSession, n: Long, outDir: String): Unit = {
    require(n % 100 == 0 && n > 0, s"nDocs must be a positive multiple of 100, got $n")
    // word j of the doc: the splice window of a 95-doc reads doc 94's
    // tokens 5..16; everything else reads its own base sequence
    val salt =
      """CASE WHEN doc_id % 100 = 95 AND j BETWEEN 10 AND 21 THEN base
        |     WHEN doc_id % 100 = 95 THEN doc_id
        |     ELSE base END""".stripMargin
    val pos = "CASE WHEN doc_id % 100 = 95 AND j BETWEEN 10 AND 21 THEN j - 5 ELSE j END"
    val prefix =
      "CASE WHEN doc_id % 100 = 95 AND NOT (j BETWEEN 10 AND 21) THEN 'v' ELSE 'w' END"
    val word = vocabWord(prefix, s"pmod(xxhash64($salt, $pos), $VocabSize)")
    spark.range(n)
      .select(col("id").as("doc_id"),
        expr("CASE WHEN id % 100 IN (93, 95, 97, 99) THEN id - 1 ELSE id END").as("base"))
      .select(col("doc_id"), col("base"),
        expr("CASE WHEN doc_id % 100 = 93 THEN 20L ELSE 40 + base % 40 END").as("nw"),
        expr("CASE WHEN doc_id % 100 = 97 THEN ' extra' ELSE '' END").as("suffix"))
      .select(col("doc_id"),
        concat(array_join(
          expr(s"transform(sequence(1, CAST(nw AS INT)), j -> $word)"), " "),
          col("suffix")).as("text"),
        element_at(array(Seq("en", "de", "es", "fr", "zh").map(lit): _*),
          (col("doc_id") % 5 + 1).cast("int")).as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Planted pairs of one family, canonical (a < b): block offset oa/ob. */
  private def plantPairs(spark: SparkSession, n: Long, oa: Int, ob: Int): DataFrame =
    spark.range(n / 100).selectExpr(s"100*id + $oa AS a", s"100*id + $ob AS b")

  // --- per-tier closed-form checks (each throws on violation, returns the
  // --- recorded value; factored out so DocScaleSpec pins them at tiny N) ---

  /** D2 demo-profile LSH (8 hashes / 4 bands): every EXACT plant must
    * collide on every band (jaccard 1 — deterministic recovery); NEAR
    * plants recover with per-pair miss probability (1−s²)⁴ ≤ 2e-5, so the
    * bar is ≥ 99.9% (an expected-misses ~0.03 event at 2M docs; the
    * production profile below holds the deterministic bar). Recorded
    * value = candidate pair count. */
  private[graft] def checkMinhash(spark: SparkSession, n: Long,
                                  out: DataFrame, exactBar: Boolean): Long = {
    val o = out.select(col("a"), col("b")).localCheckpoint()
    val exact = plantPairs(spark, n, 98, 99)
    val missE = exact.except(o).count()
    if (missE != 0)
      throw new IllegalStateException(
        s"$missE of ${n / 100} planted exact-dup pairs not recovered")
    val near = plantPairs(spark, n, 96, 97)
    val missN = near.except(o).count()
    val bar = if (exactBar) 0L else n / 100 / 1000
    if (missN > bar)
      throw new IllegalStateException(
        s"$missN of ${n / 100} planted near-dup pairs not recovered (bar $bar)")
    o.count()
  }

  /** D4b SimHash banding: exact plants have IDENTICAL fingerprints, so
    * the pigeonhole banding must surface every one at hamming 0.
    * Recorded value = published pair count. */
  private[graft] def checkSimhash(spark: SparkSession, n: Long, out: DataFrame): Long = {
    val o = out.localCheckpoint()
    val exact = plantPairs(spark, n, 98, 99)
    val bad = exact.join(o, Seq("a", "b"), "left_anti").count() +
      exact.join(o.filter(col("hamming") =!= 0L), Seq("a", "b"), "left_semi").count()
    if (bad != 0)
      throw new IllegalStateException(
        s"$bad planted exact-dup pairs missing or at hamming > 0")
    o.count()
  }

  /** D12 span dedup: EVERY planted doc's (n_spans, dup_tokens,
    * n_dup_grams) is closed-form — span pair docs (1, 12, 8), fully-
    * covered docs (1, n_tokens, n_tokens−4), the near-dup's superset side
    * (1, n_tokens−1, n_tokens−5), the containment pair (1, 20, 16) — and
    * NO unplanted doc may appear at all (the vocabulary makes cross-doc
    * gram collisions impossible). Recorded value = output row count
    * (must be exactly 8 per 100-doc block). */
  private[graft] def checkSpanDedup(spark: SparkSession, n: Long,
                                    out: DataFrame): Long = {
    val o = out.localCheckpoint()
    val stray = o.filter(expr("doc_id % 100 NOT IN (92, 93, 94, 95, 96, 97, 98, 99)")).count()
    if (stray != 0)
      throw new IllegalStateException(
        s"$stray unplanted docs report duplicated spans")
    val expect = spark.range(n).filter(expr("id % 100 IN (92, 93, 94, 95, 96, 97, 98, 99)"))
      .selectExpr("id AS doc_id",
        "40 + (CASE WHEN id % 100 IN (93, 95, 97, 99) THEN id - 1 ELSE id END) % 40 AS k")
      .selectExpr("doc_id",
        """CASE WHEN doc_id % 100 = 93 THEN 20L
          |     WHEN doc_id % 100 = 97 THEN k + 1
          |     ELSE k END AS e_tokens""".stripMargin,
        """CASE WHEN doc_id % 100 IN (94, 95) THEN 12L
          |     WHEN doc_id % 100 IN (92, 93) THEN 20L
          |     WHEN doc_id % 100 = 97 THEN k
          |     ELSE k END AS e_dup""".stripMargin,
        """CASE WHEN doc_id % 100 IN (94, 95) THEN 8L
          |     WHEN doc_id % 100 IN (92, 93) THEN 16L
          |     ELSE k - 4 END AS e_grams""".stripMargin)
    val bad = expect.join(o, Seq("doc_id"), "left")
      .filter(col("n_spans").isNull || col("n_spans") =!= 1L ||
        col("n_tokens") =!= col("e_tokens") ||
        col("dup_tokens") =!= col("e_dup") ||
        col("n_dup_grams") =!= col("e_grams"))
      .count()
    if (bad != 0)
      throw new IllegalStateException(
        s"$bad planted docs off their closed-form span diagnosis")
    o.count()
  }

  /** D14 containment: all three full-containment families must publish at
    * exactly 1,000,000 ppm — the prefix plant (92, 93), the exact plant
    * (98, 99) and the near plant (96, 97); the SPAN pair (94, 95) shares
    * 10 shingles (~20% containment) and must be candidate-REJECTED by the
    * 50% threshold. Recorded value = published pair count. */
  private[graft] def checkContainment(spark: SparkSession, n: Long, out: DataFrame): Long = {
    val o = out.localCheckpoint()
    val full = plantPairs(spark, n, 92, 93)
      .union(plantPairs(spark, n, 98, 99))
      .union(plantPairs(spark, n, 96, 97))
    val bad = full.join(o.filter(col("containment_x1e6") === 1000000L),
      Seq("a", "b"), "left_anti").count()
    if (bad != 0)
      throw new IllegalStateException(
        s"$bad full-containment plants missing or below 1e6 ppm")
    val spanFp = plantPairs(spark, n, 94, 95).join(o, Seq("a", "b"), "left_semi").count()
    if (spanFp != 0)
      throw new IllegalStateException(
        s"$spanFp span plants (containment ~0.2) published over the 50% threshold")
    o.count()
  }

  /** D8 clusters: the ≥ 0.5-jaccard verify keeps EXACTLY the exact and
    * near plants (containment pairs sit at < 0.5, span pairs at ~0.2), so
    * the output is 4 rows per block — {98, 99} and {96, 97}, canonical =
    * the even id — minus 2 rows per LSH-missed near pair (bar: ≤ 10
    * pairs, expected ~0.03). Every published row must match the plant
    * structure exactly. Recorded value = row count. */
  private[graft] def checkClusters(spark: SparkSession, n: Long, out: DataFrame): Long = {
    val o = out.localCheckpoint()
    val bad = o.filter(expr(
      "doc_id % 100 NOT IN (96, 97, 98, 99) OR canonical_id <> doc_id - doc_id % 2")).count()
    if (bad != 0)
      throw new IllegalStateException(
        s"$bad cluster rows outside the planted {exact, near} pair structure")
    val rows = o.count()
    val want = 4L * (n / 100)
    if (rows > want || rows < want - 20)
      throw new IllegalStateException(
        s"expected ~$want cluster rows (4 per block), got $rows")
    rows
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = GraftSession.local()
    // the lexical tier has no LocalExec shortcut to force off: every
    // operator here is a corpus-scale scan/shuffle by construction; the
    // one bounded collect (dedupClusters' survivor-graph CC) is the
    // operator's own probe-enforced design at ANY corpus size, so it
    // stays on — the soak measures the production composition, not a
    // handicapped variant.

    val dir = s"/tmp/${Reset.ScratchPrefix}docscale"
    synthesize(spark, n, dir)

    // nothing shared across ops — parquet re-read each time
    val soak = new Soak(spark, "doc_scale")
    import soak.op
    // the gated demo LSH profile (8/4) — the exact code path of
    // d_minhash_pairs at 400x the gate's corpus
    op("minhash_pairs")(Dedup.minhashPairs(spark, dir))(
      checkMinhash(spark, n, _, exactBar = false))
    // the production profile (128 hashes / 16 bands, minhashPairsOf's
    // default): 8-row bands push the near-dup miss probability to
    // ~1e-14 per pair, so the recovery bar here is EXACT — and random
    // band collisions vanish (s^8), pinning candidates ≈ plants
    op("minhash_pairs_prod")(
      Dedup.minhashPairsOf(Tables.documents(spark, dir)))(
      checkMinhash(spark, n, _, exactBar = true))
    op("simhash_pairs")(Dedup.simhashPairs(spark, dir))(
      checkSimhash(spark, n, _))
    op("span_dedup")(Dedup.spanDedup(spark, dir))(
      checkSpanDedup(spark, n, _))
    op("containment")(Dedup.containmentPairs(spark, dir))(
      checkContainment(spark, n, _))
    op("dedup_clusters")(Dedup.dedupClusters(spark, dir))(
      checkClusters(spark, n, _))

    soak.finish("n_docs" -> n)
  }
}
