package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication stack (SURVEY §2 D1-D13): exact content-hash dedup,
  * MinHash+LSH near-dup candidate generation, n-gram Jaccard and banded
  * Levenshtein verification, SimHash fingerprinting, near-dup cluster
  * canonicalization, incremental and Bloom-prefiltered membership,
  * exact-substring span detection + trim, and the cross-source overlap
  * matrix.
  *
  * Scale design (SURVEY §5): signatures are computed per-row with
  * higher-order functions (one scan, no explode until the band join); the
  * LSH band join shuffles on (band, value) — the classic near-dup path at
  * corpus scale; Jaccard runs only on LSH candidate pairs, never all-pairs.
  *
  * Cross-engine determinism: md5 is the only string hash; hex digits are
  * converted to integers by explicit digit arithmetic (instr/strpos over
  * '0123456789abcdef'), so no engine-specific hex→int builtin is
  * involved; everything downstream is integer ops identical on both
  * engines.
  */
object Dedup {

  /** Demo-scale LSH profile — the oracle-gated form (an 8-wide signature
    * keeps the DuckDB oracle SQL readable and fast). The code path is
    * profile-parameterized: see [[ProdNumHashes]]/[[ProdBands]] and
    * [[minhashPairsOf]] for the production constants behind the SAME
    * expressions. */
  val NumHashes = 8
  val Bands = 4 // rows per band = NumHashes / Bands = 2
  val ShingleLen = 3

  /** Production LSH profile: 128 hashes / 16 bands (8 rows per band) —
    * the constants a corpus-scale near-dup pipeline actually runs: the
    * detection curve 1-(1-s^8)^16 is a much sharper threshold around
    * s≈0.7 than the demo 1-(1-s^2)^4, so low-similarity pairs stop
    * flooding the candidate join while true near-dups are still caught
    * with ≥99.9% probability. Same code path as the gated entries
    * (DedupProfileSpec proves recall on planted dups; since r19
    * [[graft.DocScale]]'s `minhash_pairs_prod` row soaks this profile at
    * 2M docs with a DETERMINISTIC plant-recovery bar); not oracle-gated —
    * a 128-hash unrolled oracle would be SQL-generation noise, and the
    * equivalence to the gated path is structural. */
  val ProdNumHashes = 128
  val ProdBands = 16

  // --- D1: exact dedup ------------------------------------------------------

  /** Exact dedup on the whitespace-normalized content hash: one group per
    * distinct content, with member count and canonical (min) doc id. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(array_join(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), " ")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))

  val exactDedupOracle: String =
    """SELECT md5(array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ')) AS content_hash,
      |  count(*) AS n_docs, min(doc_id) AS canonical_id
      |FROM documents GROUP BY 1""".stripMargin

  // --- D2: MinHash + LSH banding -------------------------------------------

  /** Word-shingle set per doc, as a SQL fragment shared (modulo list
    * function names) between Spark and DuckDB. */
  private val sparkShingles =
    s"""array_distinct(transform(sequence(0, size(words) - $ShingleLen),
       |  i -> concat_ws(' ', element_at(words, i + 1), element_at(words, i + 2), element_at(words, i + 3))))""".stripMargin

  private val duckShingles =
    s"""list_distinct(list_transform(range(len(words) - ${ShingleLen - 1}),
       |  i -> words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3]))""".stripMargin

  /** Textbook MinHash: ONE strong hash per shingle (first 8 hex chars of
    * md5, as a BIGINT via digit arithmetic — identical on both engines),
    * then `NumHashes` universal-hash permutations `(a_j·h + b_j) mod p`
    * over that value. 8× fewer md5 evaluations than hashing per (j,
    * shingle); the permutations are pure integer ops. */
  private def shingleHash(find: String, substr: String): String =
    (0 until 8).map(k =>
      s"($find('0123456789abcdef', $substr(md5(s), ${k + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - k))} AS BIGINT)")
      .mkString(" + ")

  val MinhashMod = 1000000007L

  /** Universal-hash permutation multipliers — a_j = c^(j+1) mod p with
    * c = 2654435761 (Knuth's multiplicative constant). The PAIRWISE
    * RATIO of any two multipliers must be large mod p: the original
    * a_j = 2j+1 family made consecutive permutations near-order-
    * preserving on the small end (u < p/3 ⇒ 3u < p never wraps), so a
    * near-dup pair's ONE differing shingle tended to win the argmin of
    * many permutations TOGETHER — DocScale measured the correlation as
    * a ~1.5e-3 per-pair miss rate at the demo profile where independent
    * permutations predict ~2e-6 (and ~5e-4 at the production profile
    * vs ~1e-14). Note the obvious patch a_j = c·(2j+1) is an ALGEBRAIC
    * NO-OP for this: it equals the old family applied to u = c·h, same
    * ratios, same correlation (measured: misses unchanged). The powers
    * family has every ratio a_j/a_k = c^(j−k) large mod p; simulation
    * at 300k synthetic near-pairs shows zero misses (theory ≈ 2e-6),
    * and DOC_SCALE's committed checks hold it to exact plant recovery.
    * BIGINT-safe on both engines (a_j < p ≈ 2³⁰, h < 2³², a_j·h + b_j
    * < 2⁶²). Mirrored as the same running product in the native
    * one-pass fold (functions.MinhashSig — DedupSpec pins value parity)
    * and interpolated per-j as literals into both engines' SQL. */
  private def permA(j: Int): Long = {
    var a = 1L
    var i = 0
    while (i <= j) { a = (a * 2654435761L) % MinhashMod; i += 1 }
    a
  }
  private def permB(j: Int) = 7919L * j + 911L

  private[graft] def sparkMinhash(j: Int) =
    s"array_min(transform(hvs, h -> (${permA(j)} * h + ${permB(j)}) % $MinhashMod))"
  private def duckMinhash(j: Int) =
    s"list_min(list_transform(hvs, h -> (${permA(j)} * h + ${permB(j)}) % $MinhashMod))"

  /** Word-shingle sets per doc over any (doc_id, text, ...) frame — the
    * shared input of minhash banding and Jaccard verification (computed
    * once, checkpointed by callers). `keep` carries extra passthrough
    * columns (e.g. `source` for the incremental variant). */
  private[graft] def shingleSetsOf(docs: DataFrame,
                                   keep: Seq[String] = Nil): DataFrame =
    docs
      .selectExpr("doc_id" +: keep :+ "regexp_extract_all(lower(text), '[a-z]+', 0) AS words": _*)
      .filter(expr(s"size(words) >= $ShingleLen"))
      .selectExpr("doc_id" +: keep :+ s"$sparkShingles AS shingles": _*)

  private def shingleSets(spark: SparkSession, dir: String,
                          keep: Seq[String] = Nil): DataFrame =
    shingleSetsOf(Tables.documents(spark, dir), keep)

  /** Docs with their LSH band values: band b = the xxhash64 of the
    * '|'-joined `numHashes/bands` consecutive minhashes — an 8-BYTE key
    * (the spanDedup/containment fixed-width-key rule): the band value is
    * join-internal, never published, so hashing it shrinks the banding's
    * exchange AND checkpoint payload from bands × ~(9 digits + sep) × rows
    * strings per doc to bands longs (16× at the production profile —
    * DocScale measured the string form dominating the prod row's wall),
    * and a 64-bit collision merely ADDS a candidate pair that the
    * downstream exact verify rejects (~N²·bands/2⁶⁴ ≈ 1e-5 at 2M docs;
    * the DuckDB gate on the demo profile would surface one). Input must
    * have (doc_id, shingles). Each exploded row carries the full
    * band-value array (`vals`) so the pair join can dedupe multi-band
    * collisions with a first-agreeing-band predicate instead of a global
    * DISTINCT shuffle. Profile-parameterized: the gated queries pass the
    * demo 8/4, the production path passes 128/16 through the identical
    * expressions. */
  private def bandedFromShingles(sh: DataFrame, keep: Seq[String] = Nil,
                                 numHashes: Int = NumHashes,
                                 bands: Int = Bands): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide hashes ($numHashes)")
    val rows = numHashes / bands
    val bandVals = (0 until bands).map(b =>
      (0 until rows).map(r => s"CAST(element_at(mhs, ${rows * b + r + 1}) AS STRING)")
        .mkString("xxhash64(concat_ws('|', ", ", ", "))")).mkString(", ")
    val id = "doc_id" +: keep
    graft.functions.GraftFunctions.register(sh.sparkSession)
    // graft_md5h = the native one-pass form of
    // `transform(shingles, s -> <8 hex-digit extracts of md5(s)>)`;
    // graft_minhash = the native one-pass form of the numHashes separate
    // `array_min(transform(hvs, ...))` permutation walks (all minima
    // tracked in one loop over the hash array — see MinhashSignature;
    // DedupSpec pins value parity against the SQL formulation)
    sh.selectExpr(id :+ "graft_md5h(shingles) AS hvs": _*)
      .selectExpr(id :+ s"graft_minhash(hvs, $numHashes) AS mhs": _*)
      .selectExpr(id :+ s"array($bandVals) AS vals": _*)
      .selectExpr(id ++ Seq("vals", s"explode(sequence(0, ${bands - 1})) AS band_idx"): _*)
      .selectExpr(id ++ Seq("vals", "band_idx", "element_at(vals, band_idx + 1) AS val"): _*)
  }

  private val bandedDuckSql: String = {
    val mh = (0 until NumHashes).map(j => s"${duckMinhash(j)} AS h$j").mkString(",\n    ")
    val bands = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band_idx, CAST(h${2 * b} AS VARCHAR) || '|' || CAST(h${2 * b + 1} AS VARCHAR) AS val FROM mh")
      .mkString("\n  UNION ALL ")
    s"""docs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents),
       |sh AS (SELECT doc_id, $duckShingles AS shingles FROM docs WHERE len(words) >= $ShingleLen),
       |hv AS (SELECT doc_id, list_transform(shingles, s -> ${shingleHash("strpos", "substr")}) AS hvs FROM sh),
       |mh AS (SELECT doc_id, $mh FROM hv),
       |banded AS MATERIALIZED (${bands})""".stripMargin
    // MATERIALIZED: every consumer self-joins banded x JOIN banded y;
    // without it DuckDB inlines the doubly-referenced CTE and the whole
    // md5-shingle + minhash pass runs once per join side
  }

  /** Candidate near-dup pairs: docs sharing any LSH band. The self-join
    * shuffles on (band_idx, val) only. The signature table is checkpointed
    * first so the (expensive) minhash pass runs once, not once per join
    * side — the same persist-the-signatures pattern a 100 TB dedup uses. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    pairsFrom(bandedFromShingles(shingleSets(spark, dir)).localCheckpoint())

  /** Pairs sharing any band, emitted exactly once: only the FIRST agreeing
    * band produces the pair (cheap per-row predicate on the carried `vals`
    * arrays), so no global DISTINCT shuffle over the candidate set — the
    * standard LSH dedup-by-min-band trick. */
  /** True iff the joined band is the FIRST band on which x and y agree —
    * the per-row predicate that replaces a global DISTINCT over multi-band
    * collisions (expects the join sides aliased x/y with `vals` carried). */
  private def firstAgreeingBand(bands: Int) = expr {
    def diff(b: Int) =
      s"element_at(x.vals, ${b + 1}) <> element_at(y.vals, ${b + 1})"
    val arms = (1 until bands).map(k =>
      s"WHEN $k THEN ${(0 until k).map(diff).mkString(" AND ")}").mkString(" ")
    s"CASE x.band_idx WHEN 0 THEN true $arms END"
  }

  private def pairsFrom(banded: DataFrame, bands: Int = Bands): DataFrame =
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.val") === col("y.val") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(firstAgreeingBand(bands))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))

  /** Candidate pairs at an arbitrary LSH profile over any (doc_id, text)
    * frame — the production entry point ([[ProdNumHashes]]/[[ProdBands]]
    * by default) behind the exact code path the gated `d_minhash_pairs`
    * exercises at the demo profile. */
  def minhashPairsOf(docs: DataFrame,
                     numHashes: Int = ProdNumHashes,
                     bands: Int = ProdBands): DataFrame =
    pairsFrom(bandedFromShingles(shingleSetsOf(docs),
      numHashes = numHashes, bands = bands).localCheckpoint(), bands)

  val minhashPairsOracle: String =
    s"""WITH $bandedDuckSql
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |FROM banded x JOIN banded y
       |  ON x.band_idx = y.band_idx AND x.val = y.val AND x.doc_id < y.doc_id""".stripMargin

  // --- D3: n-gram Jaccard verification -------------------------------------

  /** True shingle-set Jaccard for every LSH candidate pair (blocked
    * verification — never all-pairs). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the shingle sets ONCE: referenced by the minhash banding
    // AND both pair sides — one shingle pass total, not three.
    val sh = shingleSets(spark, dir).localCheckpoint()
    pairsFrom(bandedFromShingles(sh).localCheckpoint())
      .join(sh.select(col("doc_id").as("a"), col("shingles").as("sa")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("shingles").as("sb")), Seq("b"))
      .selectExpr("a", "b",
        "size(array_intersect(sa, sb)) AS n_inter",
        "size(sa) + size(sb) - size(array_intersect(sa, sb)) AS n_union")
      .selectExpr("a", "b",
        "CAST(round(CAST(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS DECIMAL(18,10)), 4) AS DOUBLE) AS jaccard")
  }

  val jaccardPairsOracle: String =
    s"""WITH $bandedDuckSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |  ON x.band_idx = y.band_idx AND x.val = y.val AND x.doc_id < y.doc_id)
       |SELECT a, b,
       |  CAST(round(CAST(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |    / CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS DECIMAL(18,10)), 4) AS DOUBLE) AS jaccard
       |FROM pairs JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b""".stripMargin

  // --- D10: edit-distance verification --------------------------------------

  /** Length-difference cut for the edit-distance verify: |len(a)-len(b)|
    * is a lower bound on Levenshtein distance, so pairs further apart
    * than this can be skipped without running the DP at all. The same
    * value bounds the DP itself (see [[editPairs]]): a near-dup verify
    * only needs the exact distance when it is small — beyond the
    * threshold the pair is a verified non-dup and the sentinel -1 is
    * returned instead of the (expensive, useless) exact count. */
  val EditMaxLenDiff = 64

  /** D10: exact Levenshtein distance for every LSH candidate pair, over
    * the same normalized content as exact dedup (lowercased words joined
    * by single spaces — so whitespace/punctuation noise never inflates
    * the distance).
    *
    * Scale shape: the DP runs strictly on the LSH candidate set, never
    * all-pairs (same blocking discipline as [[jaccardPairs]]), and it is
    * BANDED: `levenshtein(na, nb, k)` (Spark's thresholded form) walks
    * only the 2k+1-wide diagonal band, O(len·k) per pair instead of
    * O(len_a·len_b), returning -1 the moment the distance provably
    * exceeds k — which for a near-dup verify is the only regime that
    * matters (a candidate 65+ edits away is a non-dup; its exact count
    * is useless). The length-diff prune ([[EditMaxLenDiff]]) still
    * rejects pairs before any DP, on two already-carried integers. At
    * corpus scale the candidate join dominates and this stage stays
    * embarrassingly parallel (per-row expression work only —
    * `levenshtein` is a codegen'd Catalyst expression, not a UDF). */
  def editPairs(spark: SparkSession, dir: String): DataFrame = {
    val norm = Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), " ").as("norm"))
    minhashPairs(spark, dir)
      .join(norm.select(col("doc_id").as("a"), col("norm").as("na")), Seq("a"))
      .join(norm.select(col("doc_id").as("b"), col("norm").as("nb")), Seq("b"))
      .filter(abs(length(col("na")) - length(col("nb"))) <= EditMaxLenDiff)
      .select(col("a"), col("b"),
        levenshtein(col("na"), col("nb"), EditMaxLenDiff).as("edit_dist"))
  }

  val editPairsOracle: String =
    s"""WITH $bandedDuckSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |  ON x.band_idx = y.band_idx AND x.val = y.val AND x.doc_id < y.doc_id),
       |norm AS (SELECT doc_id, array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ') AS norm FROM documents)
       |SELECT a, b,
       |  CASE WHEN levenshtein(na.norm, nb.norm) > $EditMaxLenDiff THEN -1
       |       ELSE levenshtein(na.norm, nb.norm) END AS edit_dist
       |FROM pairs JOIN norm na ON na.doc_id = a JOIN norm nb ON nb.doc_id = b
       |WHERE abs(len(na.norm) - len(nb.norm)) <= $EditMaxLenDiff""".stripMargin

  // --- D4: SimHash ----------------------------------------------------------

  /** SimHash width: 60 bits, banded 4×15 (see SimhashBands). Why 60 and
    * not 64: the fingerprint lives in one signed BIGINT on BOTH engines
    * (one codegen'd column, DuckDB-oracle-able), and a full 64-bit value
    * can't — bit 63 is the sign, word values built from 16 hex digits
    * exceed Long.MaxValue, and under ANSI arithmetic the overflow is an
    * error, not a wrap, on either engine. 60 bits is the widest multiple
    * of 4 hex digits that stays nonnegative; bands go from 2^8 to 2^15
    * values (128× finer buckets), which is what kills the quadratic
    * within-bucket blowup at corpus scale. */
  val SimhashBits = 60
  private val HexDigits = SimhashBits / 4

  /** Word value from the first 8 hex digits of md5(w) — pure arithmetic on
    * digit positions, identical on both engines. BIGINT throughout. */
  private def hexVal(find: String, j: Int) =
    s"($find('0123456789abcdef', substr(md5(w), ${j + 1}, 1)) - 1)"
  private def wordVal(find: String) =
    (0 until HexDigits).map(j =>
      s"${hexVal(find, j)} * CAST(${1L << (4 * (HexDigits - 1 - j))} AS BIGINT)").mkString(" + ")

  /** Append a SimhashBits-wide `simhash` column computed from `text` — shared by
    * the batch D4 query and the streaming near-dup operator (stateless
    * per-row expression work, so it runs unchanged on an unbounded
    * DataFrame). Bit i of the fingerprint is the majority vote of bit i
    * across the distinct word hashes.
    *
    * The vote fold is the native codegen expression `graft_simhash`
    * (functions.SimhashFingerprint): the SQL formulation is one
    * interpreted `aggregate(...)` HOF walk over the word-hash array PER
    * BIT — 60 walks/row at this width — where the native fold is a single
    * compiled pass (measured ~2× on the sf0.1 corpus; the gap widens with
    * bits). Semantics identical to the DuckDB oracle's per-bit list_sum. */
  def withSimhash(df: DataFrame): DataFrame = {
    val keep = df.columns
    graft.functions.GraftFunctions.register(df.sparkSession)
    // r21: the per-word 60-bit value is the native graft_md5h(words, 15)
    // pass (Md5Head.headBits — one digest + nibble walk per word) instead
    // of an interpreted `transform(words, w -> <15 × instr+substr over
    // md5(w)>)` lambda (30 string ops per word per row). Values are
    // bit-identical to the hex-digit arithmetic (DedupSpec pins parity
    // against the SQL formulation, kept below as [[wordValSqlFor]]).
    df.withColumn("vals", expr(
        s"graft_md5h(array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0)), $HexDigits)"))
      .select(keep.toIndexedSeq.map(col) :+
        expr(s"graft_simhash(vals, $SimhashBits)").as("simhash"): _*)
  }

  /** The SQL formulation [[withSimhash]]'s native hash replaced — the
    * reference semantics graft_md5h(words, 15) must match bit-for-bit
    * (also the shape the DuckDB oracle mirrors). Test-only. */
  private[graft] def wordValSqlFor(df: DataFrame): DataFrame =
    df.withColumn("vals", expr(
      s"transform(array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0)), w -> ${wordVal("instr")})"))

  /** SimHash fingerprints of the documents table (batch D4). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    withSimhash(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("simhash"))

  val simhashOracle: String = {
    val bitSums = (0 until SimhashBits).map(i =>
      s"COALESCE(list_sum(list_transform(vals, x -> 2 * ((x // CAST(${1L << i} AS BIGINT)) % 2) - 1)), 0) AS s$i").mkString(", ")
    val combine = (0 until SimhashBits).map(i =>
      s"CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
    s"""WITH wd AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS wd FROM documents),
       |v AS (SELECT doc_id, list_transform(wd, w -> ${wordVal("strpos")}) AS vals FROM wd),
       |b AS (SELECT doc_id, $bitSums FROM v)
       |SELECT doc_id, $combine AS simhash FROM b""".stripMargin
  }

  // --- D4b: SimHash near-dup pairs (banded hamming join) --------------------

  val HammingMax = 3

  /** Bands in the SimhashBits-wide fingerprint — HammingMax+1 bands so
    * the pigeonhole guarantee holds (hamming ≤ 3 ⇒ ≥1 band agrees). The
    * single source for the banding constants shared with the streaming
    * near-dup probe (DocStreams.nearDupFlag): changing SimhashBits
    * adjusts both sites' guarantee and bucket width together.
    *
    * CROSSOVER NOTE (r20, from the DOC_SCALE measurements): on a corpus
    * of N docs with near-uniform fingerprints, random band collisions
    * make the candidate join do ~SimhashBands·N²/2^BandBits pair
    * comparisons — QUADRATIC by construction, unlike the minhash tier
    * whose s^rows band curve keeps candidates ≈ true near-dups. At the
    * 60/4 profile (2^15 buckets) the soaked 2M-doc run measured 82 s
    * (~4·(2e6)²/2^15 ≈ 5e8 candidate pairs), already ~10x the
    * production-minhash tier's banding work at the same N; the
    * quadratic term passes it for good around N ≈ 1e6-2e6. The knob is
    * BandBits: every added bit halves candidate work but weakens the
    * pigeonhole guarantee unless SimhashBits grows with it (e.g. 96/4 =
    * 24-bit bands at the same hamming ≤ 3 ⇒ 2^24 buckets ⇒ the
    * crossover moves to N ≈ 5e8). Past that, near-dup detection at
    * 100 TB belongs to the minhash tier; simhash stays the cheap
    * fixed-width fingerprint for streaming probes and small-N batches.
    * The profile is a documented constant, not adaptive — re-choose it
    * per corpus size. */
  val SimhashBands: Int = 4
  /** Bits per band (15 at the 60/4 profile → 2^15 bucket values). */
  val BandBits: Int = SimhashBits / SimhashBands
  private val BandMask: Long = (1L << BandBits) - 1

  /** SQL fragment: band `bandCol` (0-based, low bits first) of
    * fingerprint `simhashCol`. */
  private[graft] def bandByteExpr(simhashCol: String, bandCol: String): String =
    s"(shiftright($simhashCol, $BandBits * $bandCol) % ${BandMask + 1})"

  /** First-agreeing-band predicate: true iff `bandCol` is the FIRST band
    * on which the two fingerprints agree — each colliding pair is
    * emitted by exactly one band row, so no DISTINCT shuffle over the
    * (large) candidate set. Unrolled to primitive bit ops (band count is
    * a small constant) — stays inside whole-stage codegen. */
  private[graft] def firstAgreeingBandSql(aCol: String, bCol: String,
                                          bandCol: String): String = {
    def diff(b: Int) =
      s"(shiftright($aCol, ${BandBits * b}) % ${BandMask + 1}) <> (shiftright($bCol, ${BandBits * b}) % ${BandMask + 1})"
    val arms = (1 until SimhashBands).map(k =>
      s"WHEN $k THEN ${(0 until k).map(diff).mkString(" AND ")}").mkString(" ")
    s"CASE $bandCol WHEN 0 THEN true $arms END"
  }

  /** Near-dup candidates by SimHash: pairs with hamming distance ≤ 3.
    * Banding for scale: the fingerprint splits into SimhashBands bands —
    * a pair within hamming 3 must agree on ≥1 band (pigeonhole), so the
    * join key is (band, value), never all-pairs; the exact bit_count
    * filter runs only on band-collision candidates. At the 60/4 profile
    * each band has 2^15 values, so a billion-doc corpus bucket holds
    * ~N/32768 docs per band value — the within-bucket self-join stays
    * subquadratic where an 8-bit band (256 values) would not. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhash(spark, dir).localCheckpoint()
    val banded = sh
      .selectExpr("doc_id", "simhash", s"explode(sequence(0, ${SimhashBands - 1})) AS band")
      .selectExpr("doc_id", "simhash", "band",
        s"${bandByteExpr("simhash", "band")} AS byte")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(expr(firstAgreeingBandSql("x.simhash", "y.simhash", "x.band")))
      .selectExpr("x.doc_id AS a", "y.doc_id AS b",
        "bit_count(x.simhash ^ y.simhash) AS hamming")
      .filter(col("hamming") <= HammingMax)
  }

  val simhashPairsOracle: String = {
    val bands = (0 until SimhashBands).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash // CAST(${1L << (BandBits * b)} AS BIGINT)) % ${BandMask + 1} AS byte FROM s")
      .mkString("\n  UNION ALL ")
    s"""WITH s AS MATERIALIZED ($simhashOracle),
       |banded AS MATERIALIZED ($bands)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  bit_count(xor(x.simhash, y.simhash)) AS hamming
       |FROM banded x JOIN banded y
       |  ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingMax""".stripMargin
  }

  // --- D8: dedup clusters (canonicalization) --------------------------------

  /** Verification threshold above which a candidate pair is a real
    * near-dup (the observed sf distribution is bimodal: true dups sit at
    * ~0.95, LSH false positives at ~0.01). */
  val ClusterJaccard = 0.5

  /** Near-dup cluster canonicalization — what a production pipeline does
    * AFTER pair verification: treat verified pairs as edges, find
    * connected components, and elect the min doc_id per cluster as the
    * canonical document (every other member is a drop candidate).
    *
    * Scale shape: this composes the dedup stack (D2 candidates → D3
    * verification) with the CC algorithm (G8), and the iterative CC runs
    * only on pair *survivors* — a graph many orders of magnitude smaller
    * than the corpus — so the per-round joins never touch the 100 TB
    * table. The GraphX fallback is sized to that survivor graph
    * (`numParts = 4`): running a ~50-edge component search at the
    * session's 32 partitions costs ~32 near-empty tasks per superstep —
    * the suite's biggest variance amplifier before this was pinned. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = jaccardPairs(spark, dir)
      .filter(col("jaccard") >= ClusterJaccard)
      .select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    // survivor graphs are bounded tiny relative to the corpus by the
    // verification threshold — assert it (probe-enforced) so the CC runs
    // as one collect + union-find instead of GraphX supersteps
    graft.graph.GraphXBridge.connectedComponents(spark,
        graft.graph.PropertyGraph(nodes, edges), numParts = 4,
        localBounded = 1 << 20)
      .select(col("node").as("doc_id"), col("comp").as("canonical_id"))
  }

  /** Unrolled min-label CC over the verified pair graph. The Spark side
    * runs pointer-jumping to the exact fixpoint; the oracle propagates
    * min one hop per round, so its 30 rounds bound the cluster radius it
    * can label correctly — far past the observed radius (≤3: near-dup
    * clusters are template cliques, and a >31-doc similarity *chain*
    * would mean the corpus generator emits graded near-dups, which it
    * does not). If the gate ever red-flags this query at a new SF, raise
    * the round count before suspecting the Spark side. The jaccard
    * filter applies the same DECIMAL-rounded value the D3 query emits,
    * so the surviving edge set is identical cross-engine. */
  val dedupClustersOracle: String = {
    val rounds = GraphOps.minLabelRoundsSql(30)
    s"""WITH $bandedDuckSql,
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |  ON x.band_idx = y.band_idx AND x.val = y.val AND x.doc_id < y.doc_id),
       |jp AS (SELECT a, b FROM cand
       |  JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
       |  WHERE CAST(round(CAST(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |    / CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS DECIMAL(18,10)), 4) AS DOUBLE) >= $ClusterJaccard),
       |ue AS MATERIALIZED (SELECT a AS src, b AS dst FROM jp UNION SELECT b, a FROM jp),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS comp FROM ue),
       |$rounds
       |SELECT node AS doc_id, comp AS canonical_id FROM l30""".stripMargin
  }

  // --- fast path variants (xxhash64; not oracle-matchable cross-engine) -----

  /** Exact dedup on xxhash64 — the production fast path (single 64-bit
    * hash pass, no md5 cost); semantics identical to exactDedup, verified
    * against it in tests rather than DuckDB (hash functions differ). */
  def exactDedupFast(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        xxhash64(array_join(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), " ")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))

  // --- D9: incremental (new-batch vs index) dedup ---------------------------

  /** The "new batch" side of the incremental dedup: one ingest source. */
  val IncrNewSource = "src0"

  /** D9: incremental dedup — the steady-state shape of a production
    * pipeline: an incoming batch is checked against the already-indexed
    * corpus, never corpus-vs-corpus. Both sides share one signature pass
    * (banded once, checkpointed); the candidate join is new-batch × index
    * on the (band, value) key, so cost scales with the BATCH size times
    * bucket occupancy — the 100 TB index is only ever probed, and the
    * first-agreeing-band predicate again replaces a global DISTINCT.
    * Output: each new doc that collides with the index, with its distinct
    * index-partner count and canonical (min) index match. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val banded = bandedFromShingles(
      shingleSets(spark, dir, Seq("source")), Seq("source")).localCheckpoint()
    banded.filter(col("source") === IncrNewSource).as("x")
      .join(banded.filter(col("source") =!= IncrNewSource).as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.val") === col("y.val"))
      .filter(firstAgreeingBand(Bands))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("match_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("match_id")).as("canonical_id"))
  }

  // --- D11: Bloom-prefiltered shingle membership ----------------------------

  /** Bloom sizing for [[bloomSeenShingles]]. 2^22 bits = 512 KB — ~10
    * bits per corpus shingle at the gate SFs (sub-1% fpp). At 100 TB the
    * same two knobs scale the filter to the corpus: m ≈ 10 × distinct
    * shingles for ~0.8% fpp at k=5 — ~1.25 GB per 10⁹ distinct shingles,
    * which is exactly why the probe side ships it as a torrent broadcast
    * (once per executor, memory-managed) and not a plan literal (re-sent
    * with every stage's task set): the raw shingle SET cannot be
    * broadcast at any price, its Bloom filter can. */
  val BloomSeenBits: Int = 1 << 22
  val BloomSeenHashes = 5

  /** D11: which of an incoming batch's shingles has the indexed corpus
    * already seen — the membership primitive behind incremental dedup
    * and decontamination at corpus scale. Three stages, none touching
    * corpus-side data more than once:
    *
    *  1. BUILD: `graft_bloom_agg` folds every corpus shingle hash into a
    *     fixed-size bit array (no DISTINCT first — insertion is
    *     idempotent, so the build is one scan with map-side partial
    *     merges and a single-row final OR).
    *  2. PROBE: the built filter — ONE row, ~BloomSeenBits/8 bytes — is
    *     fetched to the driver (a scalar reduction, same benign shape as
    *     the 1-row frontier probes in Traversals), broadcast, and probed
    *     through [[graft.functions.BroadcastBinary]]: the plan carries a
    *     handle, executors fetch the bytes once, and the batch drops
    *     definitely-unseen shingles with per-row bit tests — zero
    *     shuffle, zero corpus access, zero per-row copies.
    *     (NOT a crossJoin carrying the filter as a column: a joined-in
    *     512 KB binary is copied into EVERY probe row by the join's row
    *     writer — measured 16 s of pure memcpy at sf0.1. NOT a `lit`
    *     literal either: a GB-scale filter embedded in the plan rides
    *     every stage's serialized task set.)
    *  3. VERIFY: only possible members (true hits + the fpp sliver) join
    *     the distinct corpus shingles exactly. A Bloom filter has no
    *     false negatives, so prefilter + exact verify ≡ the exact join —
    *     the filter can only shrink the join input, never change the
    *     answer, which is why a probabilistic operator is oracle-gated
    *     (the DuckDB oracle runs the plain exact join).
    *
    * Output: per batch doc with ≥1 seen shingle, the seen count and its
    * total shingle count. */
  def bloomSeenShingles(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // one shingling pass shared by build, probe, and verify sides
    val sh = shingleSets(spark, dir, Seq("source")).localCheckpoint()
    val corpus = sh.filter(col("source") =!= IncrNewSource)
      .select(explode(col("shingles")).as("s"))
    val bf: Array[Byte] = corpus.selectExpr(
        s"graft_bloom_agg(xxhash64(s), $BloomSeenBits, $BloomSeenHashes) AS bf")
      .collect()(0).getAs[Array[Byte]](0)
    val bcast = spark.sparkContext.broadcast(bf)
    graft.functions.GraftFunctions.registerBloomProbe(spark, "graft_bloom_probe", bcast)
    val batch = sh.filter(col("source") === IncrNewSource)
      .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
        explode(col("shingles")).as("s"))
    batch.filter(call_function("graft_bloom_probe", xxhash64(col("s"))))
      .join(corpus.distinct(), Seq("s"))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_seen"))
      .select(col("doc_id"), col("n_seen"), col("n_shingles"))
  }

  /** The exact join the Bloom path must equal (no filter, no prefilter);
    * also the Spark-side twin of the DuckDB oracle. Test-only. */
  private[graft] def seenShinglesExact(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir, Seq("source"))
    sh.filter(col("source") === IncrNewSource)
      .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
        explode(col("shingles")).as("s"))
      .join(sh.filter(col("source") =!= IncrNewSource)
        .select(explode(col("shingles")).as("s")).distinct(), Seq("s"))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_seen"))
      .select(col("doc_id"), col("n_seen"), col("n_shingles"))
  }

  val bloomSeenShinglesOracle: String =
    s"""WITH docs AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents),
       |sh AS (SELECT doc_id, source, $duckShingles AS shingles FROM docs WHERE len(words) >= $ShingleLen),
       |corpus AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE source <> '$IncrNewSource'),
       |batch AS (SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS s FROM sh WHERE source = '$IncrNewSource')
       |SELECT b.doc_id, count(*) AS n_seen, min(b.n_shingles) AS n_shingles
       |FROM batch b JOIN corpus c ON b.s = c.s
       |GROUP BY b.doc_id""".stripMargin

  val incrementalDedupOracle: String =
    s"""WITH $bandedDuckSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS match_id
       |  FROM banded x
       |  JOIN documents dn ON dn.doc_id = x.doc_id AND dn.source = '$IncrNewSource'
       |  JOIN banded y ON x.band_idx = y.band_idx AND x.val = y.val
       |  JOIN documents di ON di.doc_id = y.doc_id AND di.source <> '$IncrNewSource')
       |SELECT doc_id, count(*) AS n_matches, min(match_id) AS canonical_id
       |FROM pairs GROUP BY doc_id""".stripMargin

  // --- D12: exact substring-span dedup --------------------------------------

  /** Span k-gram length in words. Longer than [[ShingleLen]] on purpose:
    * span dedup hunts verbatim RUNS (boilerplate, licenses, copied
    * paragraphs), not set similarity, and a 5-word exact run is already a
    * strong verbatim signal on a normalized token stream. */
  val SpanK = 5

  /** D12: duplicated n-gram span detection — the exact-substring flavor of
    * corpus dedup (the suffix-array pass of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", re-expressed on Spark):
    * a [[SpanK]]-word-gram that occurs in ≥2 DISTINCT docs marks a
    * duplicated span; overlapping marked grams within a doc are merged
    * into maximal spans by a per-doc window pass. Output (docs with ≥1
    * duplicated gram only): gram count, merged-span count, and the token
    * coverage of the merged spans — the per-doc "fraction verbatim-shared"
    * signal a span-dedup trim pass cuts on.
    *
    * Scale shape: one explode to (doc, position, gram-key) rows feeding
    * the duplicate test (min(doc)≠max(doc) — no count-distinct
    * expansion) on ONE gram-keyed exchange; the duplicated-gram set —
    * vocabulary-scale after the filter — comes BACK as the broadcast
    * build side of the semi-join, so the corpus-scale probe side never
    * shuffles (AQE falls back to a shuffled join if the dup set ever
    * outgrows broadcast); then a window partitioned by doc_id over the
    * survivors only. The gram KEY is one xxhash64 over the SpanK
    * per-WORD hashes by default — each word hashed once, every gram key
    * a fixed-width register op, no per-position array/string allocation
    * (see the r20 measurement in [[spanMarked]]; a 64-bit collision
    * among corpus grams is ~1e-8 at 1e5 grams and the oracle gate would
    * catch one). [[RawGramKeyKey]]=true keeps the raw string key —
    * DedupSpec pins the two keyings result-identical at bench scale.
    * Within-doc-only repeats are deliberately NOT spans (T11 repetition
    * covers those); merge is on overlap, adjacent spans stay separate. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables.documents(spark, dir))

  /** Session conf: `true` reverts [[spanMarked]]'s gram key to the raw
    * gram string (debugging/readability); default is the xxhash64 long
    * key. Either way the key is join-internal — results are identical. */
  val RawGramKeyKey = "graft.spandedup.rawGramKey"

  /** Shared core of D12/D12b: one row per cross-doc-duplicated gram with
    * its doc, token interval [i, e], doc token count, and merged-span
    * (island) id. */
  private def spanMarked(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rawKey =
      try docs.sparkSession.conf.get(RawGramKeyKey, "false").toBoolean
      catch { case _: IllegalArgumentException => false }
    // r20 constant attack, measured at 500k DocScale docs (2.75e7
    // per-token rows): the old per-position string gram (slice +
    // concat_ws + xxhash64 over ~30 chars) and its localCheckpoint were
    // 20.5 s of the 41.6 s operator; the window the r19 VERDICT
    // suspected was 2.7 s. Fix (4.2x, 41.6 → 9.8 s): hash each WORD
    // once, then the gram key is one fixed-width xxhash64 over the
    // SpanK word-hash longs — no per-position array/string allocation —
    // and the checkpoint is dropped: the per-token relation is cheap
    // enough to recompute that AQE's plan (dup-gram set aggregated on
    // one exchange, then BROADCAST back to the semi-join) never
    // shuffles the corpus-scale probe side at all. At 100 TB this is
    // two corpus scans + one vocabulary-scale exchange, strictly better
    // than materializing a 1.5x-corpus per-token table.
    val gram =
      if (rawKey)
        s"""transform(sequence(1, size(v) - ${SpanK - 1}),
           |  i -> struct(i AS i, concat_ws(' ', slice(v, i, $SpanK)) AS g))"""
          .stripMargin
      else
        s"transform(sequence(1, size(v) - ${SpanK - 1}), i -> struct(i AS i, " +
          (1 to SpanK).map(j => s"element_at(v, i + ${j - 1})")
            .mkString("xxhash64(", ", ", ")") + " AS g))"
    val tok = docs
      .selectExpr("doc_id", "regexp_extract_all(lower(text), '[a-z]+', 0) AS w")
      .filter(expr(s"size(w) >= $SpanK"))
    val pos = (if (rawKey) tok.selectExpr("doc_id", "size(w) AS n_tokens", "w AS v")
               else tok.selectExpr("doc_id", "size(w) AS n_tokens",
                 "transform(w, x -> xxhash64(x)) AS v"))
      .select(col("doc_id"), col("n_tokens"), explode(expr(gram)).as("u"))
      .select(col("doc_id"), col("n_tokens"), col("u.i").as("i"), col("u.g").as("g"))
    val dupGrams = pos.groupBy(col("g"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("g"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    pos.join(dupGrams, Seq("g"), "left_semi")
      .withColumn("e", col("i") + lit(SpanK - 1))
      // classic gaps-and-islands: a gram starts a new span iff it begins
      // past everything covered so far (positions are unique per doc, so
      // the order-by is total and the running max deterministic)
      .withColumn("pme", max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("pme").isNull || col("i") > col("pme"), 1).otherwise(0))
          .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
  }

  private[graft] def spanDedupOf(docs: DataFrame): DataFrame = {
    spanMarked(docs).groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg((max(col("e")) - min(col("i")) + 1).as("covered"), count(lit(1)).as("grams"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(col("grams")).as("n_dup_grams"), count(lit(1)).as("n_spans"),
        sum(col("covered")).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_spans"), col("dup_tokens"))
  }

  val spanDedupOracle: String =
    s"""WITH docs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
       |pos AS (SELECT doc_id, len(w) AS n_tokens, u.i AS i, u.g AS g FROM (
       |  SELECT doc_id, w, unnest(list_transform(range(1, len(w) - ${SpanK - 2}), i ->
       |    struct_pack(i := i, g := array_to_string(w[i:i + ${SpanK - 1}], ' ')))) AS u
       |  FROM docs WHERE len(w) >= $SpanK)),
       |dupg AS (SELECT g FROM pos GROUP BY g HAVING min(doc_id) <> max(doc_id)),
       |dpos AS (SELECT doc_id, n_tokens, i, i + ${SpanK - 1} AS e FROM pos WHERE g IN (SELECT g FROM dupg)),
       |marked AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM dpos),
       |isl AS (SELECT *, sum(CASE WHEN pme IS NULL OR i > pme THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM marked),
       |spans AS (SELECT doc_id, n_tokens, island, max(e) - min(i) + 1 AS covered,
       |    count(*) AS grams FROM isl GROUP BY 1, 2, 3)
       |SELECT doc_id, n_tokens, CAST(sum(grams) AS BIGINT) AS n_dup_grams,
       |  count(*) AS n_spans, CAST(sum(covered) AS BIGINT) AS dup_tokens
       |FROM spans GROUP BY 1, 2""".stripMargin

  // --- D12b: span-dedup trim --------------------------------------------------

  /** D12b: span-dedup TRIM — the corpus transformation D12 diagnoses:
    * every token covered by a cross-doc duplicated span is removed, and
    * the full corpus comes back one row per doc with its kept-token
    * count and the md5 of the trimmed token stream (the hash gates the
    * reconstruction end-to-end — a off-by-one in the interval arithmetic
    * flips every affected doc's hash). Untouched docs pass through with
    * their full token stream hashed.
    *
    * Scale shape: the span machinery is D12's (one gram-keyed
    * partitioning + per-doc windows); the covered-index sets ride back
    * to the corpus as a doc_id-keyed join (per-doc payload bounded by
    * doc length, corpus-scale in ROWS, so deliberately NOT broadcast)
    * and the removal itself is one per-row indexed-lambda filter — no
    * second corpus shuffle. */
  def spanTrim(spark: SparkSession, dir: String): DataFrame =
    spanTrimOf(Tables.documents(spark, dir))

  private[graft] def spanTrimOf(docs: DataFrame): DataFrame = {
    // per-doc MERGED [s, e] intervals (n_spans entries) — the removal
    // test is exists-over-intervals, O(tokens × spans) per doc, NOT an
    // exploded covered-index list: a 100k-token boilerplate doc that is
    // mostly covered would make an index-list contains() quadratic
    val spans = spanMarked(docs)
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    docs.selectExpr("doc_id", "regexp_extract_all(lower(text), '[a-z]+', 0) AS w")
      .join(spans, Seq("doc_id"), "left")
      // wi is 0-based in Spark's indexed filter lambda, 1-based in the
      // oracle's — hence the +1 here only (exists is order-independent,
      // so collect_list's nondeterministic span order is harmless)
      .selectExpr("doc_id", "size(w) AS n_tokens",
        """filter(w, (x, wi) -> NOT exists(
          |  coalesce(spans, CAST(array() AS array<struct<s:int,e:int>>)),
          |  sp -> wi + 1 >= sp.s AND wi + 1 <= sp.e)) AS kw""".stripMargin)
      .selectExpr("doc_id", "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(size(kw) AS BIGINT) AS n_kept",
        "md5(concat_ws(' ', kw)) AS kept_hash")
  }

  val spanTrimOracle: String =
    s"""WITH docs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
       |pos AS (SELECT doc_id, u.i AS i, u.g AS g FROM (
       |  SELECT doc_id, w, unnest(list_transform(range(1, len(w) - ${SpanK - 2}), i ->
       |    struct_pack(i := i, g := array_to_string(w[i:i + ${SpanK - 1}], ' ')))) AS u
       |  FROM docs WHERE len(w) >= $SpanK)),
       |dupg AS (SELECT g FROM pos GROUP BY g HAVING min(doc_id) <> max(doc_id)),
       |dpos AS (SELECT doc_id, i, i + ${SpanK - 1} AS e FROM pos WHERE g IN (SELECT g FROM dupg)),
       |marked AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM dpos),
       |isl AS (SELECT *, sum(CASE WHEN pme IS NULL OR i > pme THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM marked),
       |spans AS (SELECT doc_id, min(i) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
       |cov AS (SELECT doc_id, list(ci) AS cov FROM (
       |  SELECT doc_id, unnest(range(s, e + 1)) AS ci FROM spans) GROUP BY doc_id),
       |kept AS (SELECT d.doc_id, len(d.w) AS n_tokens,
       |    list_filter(d.w, (x, wi) -> NOT list_contains(coalesce(c.cov, []), wi)) AS kw
       |  FROM docs d LEFT JOIN cov c ON d.doc_id = c.doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(len(kw) AS BIGINT) AS n_kept,
       |  md5(coalesce(array_to_string(kw, ' '), '')) AS kept_hash
       |FROM kept""".stripMargin
  // ^ the coalesce matters: DuckDB's array_to_string([]) is NULL where
  //   Spark's concat_ws on an empty array is '' — a fully-trimmed doc
  //   must hash the empty stream on both engines, not NULL on one.

  // --- D13: cross-source overlap matrix --------------------------------------

  /** D13: source-pair shingle-overlap matrix — the contamination /
    * provenance audit over a multi-source corpus: for every pair of
    * sources, the distinct-shingle intersection size and Jaccard (fixed
    * point ×1e6 — integer division, engine-identical). The per-source
    * shingle sets reuse the dedup stack's [[ShingleLen]]-word shingles.
    *
    * Scale shape: the corpus is touched ONCE (explode → distinct
    * (source, shingle) — map-side combine makes the shuffle carry one row
    * per distinct pair per partition); the pair counts come from a
    * self-join on the shingle key, which at S sources fans each shingle
    * row into at most S-1 matches (S is small and bounded — this is a
    * per-SOURCE matrix, never a per-doc pair join); the size join at the
    * end is S rows, broadcast. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables.documents(spark, dir))

  private[graft] def sourceOverlapOf(docs: DataFrame,
                                     rawKey: Boolean = false): DataFrame = {
    // One corpus shingling pass feeds both self-join sides and the sizes.
    // The checkpoint BEFORE the explode is load-bearing twice over: it
    // stops the explode's inferred filter (size>0 AND isnotnull) from
    // being pushed below the shingle projection — which inlines the
    // whole array expression, regexp included, SIX times into a
    // non-codegen per-row Filter (measured 17× on this query) — and it
    // keeps the 4 consumers from re-tokenizing the corpus. The second
    // checkpoint materializes the per-source DISTINCT shingle relation —
    // vocabulary-scale (Heaps' law), not corpus-scale.
    //
    // r21 (guide §2.3, shuffle fewer bytes): every published value is a
    // DISTINCT-shingle count, so a shingle needs an IDENTITY, not its
    // text — hash each word once, derive each gram key as one fixed-width
    // xxhash64 over the ShingleLen word-hash longs (the span-dedup r20
    // recipe), and the checkpoint, the per-source DISTINCT exchange, and
    // the pair self-join all move 8-byte longs instead of ~25-byte gram
    // strings (the strings are never built at all). A 64-bit collision
    // merges two distinct shingles — ~V²/2⁶⁵ per source at vocabulary
    // size V, ≈1e-9 at the gate SFs, and the oracle gate would surface
    // one; DedupSpec pins the hashed path result-identical to the
    // raw-string path (`rawKey = true`, the pre-r21 shape) at bench scale.
    val gram =
      if (rawKey)
        s"transform(sequence(1, size(v) - ${ShingleLen - 1}), i -> concat_ws(' ', slice(v, i, $ShingleLen)))"
      else
        s"transform(sequence(1, size(v) - ${ShingleLen - 1}), i -> " +
          (1 to ShingleLen).map(j => s"element_at(v, i + ${j - 1})")
            .mkString("xxhash64(", ", ", "))")
    val tok = docs
      .selectExpr("source", "regexp_extract_all(lower(text), '[a-z]+', 0) AS w")
      .filter(expr(s"size(w) >= $ShingleLen"))
    val sh = (if (rawKey) tok.selectExpr("source", "w AS v")
              else tok.selectExpr("source", "transform(w, x -> xxhash64(x)) AS v"))
      .selectExpr("source", s"array_distinct($gram) AS gs")
      .localCheckpoint()
      .select(col("source"), explode(col("gs")).as("s"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n", "n_a")), Seq("source_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n", "n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("n_common * 1000000L DIV (n_a + n_b - n_common)").as("jaccard_x1e6"))
  }

  val sourceOverlapOracle: String =
    s"""WITH docs AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents),
       |sh AS (SELECT DISTINCT source, unnest(shingles) AS s FROM (
       |  SELECT source, $duckShingles AS shingles FROM docs WHERE len(words) >= $ShingleLen)),
       |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
       |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
       |  n_common * 1000000 // (sa.n + sb.n - n_common) AS jaccard_x1e6
       |FROM inter
       |JOIN sizes sa ON sa.source = source_a
       |JOIN sizes sb ON sb.source = source_b""".stripMargin

  // --- D14: containment pairs (near-superset detection) ----------------------

  /** Document-frequency cap for [[containmentPairs]]' inverted-index
    * candidate stage: only shingles appearing in at most this many docs
    * pair their posting lists. The containment analog of
    * [[GraphOps.commonNeighbors]]' witness-degree cap, and principled
    * the same way: a shingle shared by many documents is boilerplate —
    * near-zero containment signal — while a true near-superset shares
    * ALL of the contained doc's shingles, its rare ones included, so
    * capping df loses a pair only when the contained doc has NO rare
    * shingle at all (i.e. is itself pure boilerplate). */
  val ContainDfCap = 8

  /** Publish threshold, in percent: containment of the smaller set in
    * the larger must reach this. Applied as pure integer arithmetic
    * (100·|A∩B| ≥ pct·min(|A|,|B|)) so the cut is bit-identical
    * cross-engine — no float boundary. */
  val ContainMinPct = 50

  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsOf(Tables.documents(spark, dir))

  /** D14: near-superset pairs by shingle containment — the dedup case
    * MinHash/Jaccard LSH is BLIND to: a short document quoted whole
    * inside a long one has containment ~1 but Jaccard ~|A|/|B|, far
    * below any LSH banding threshold, so the D2 candidate generator
    * never pairs it. Candidates here come from a df-capped inverted
    * shingle index instead (pairs sharing ≥1 RARE shingle — see
    * [[ContainDfCap]]); the verify is the exact set intersection over
    * the pair's checkpointed shingle sets, published as integer
    * counts + the ppm-fixed-point containment of the smaller side
    * (same integer-division protocol as [[sourceOverlapOf]]).
    *
    * Scale shape: posting lists are df-capped, so the index self-join
    * is Σ_{df≤cap} df² ≤ cap·(total shingle occurrences) — linear in
    * the corpus with the cap as the constant, where the uncapped join
    * is quadratic in every boilerplate shingle's df. One shingling
    * pass feeds the index and both verify sides (checkpointed); the
    * candidate distinct is the one pair-bounded exchange.
    *
    * RECALL CONTRACT (pinned by DedupSpec, not just documented): with
    * `rarestK = 0` (the gated default) a pair is a candidate iff the
    * two docs share a shingle with 2 ≤ df ≤ [[ContainDfCap]] — so a
    * contained doc built ONLY of over-cap boilerplate shingles is
    * MISSED (recall 0 for that pair). With `rarestK = K > 0`, every
    * doc additionally contributes its K globally-rarest df≥2 shingles
    * to an ASYMMETRIC probe against the full inverted list, which
    * restores recall 1.0 for full containment deterministically: if
    * A ⊆ B, every shingle of A (its selected ones included) is in B,
    * so the probe pairs (A, B) regardless of df. For partial
    * containment c the selected shingles must land in the overlap —
    * miss probability ≈ (1−c)^K when selection is independent of the
    * overlap. Fallback cost is Σ_h sel(h)·df(h) ≤ K · Σ_{selected} df:
    * output-proportional in the mutual-boilerplate worst case (where
    * the TRUE pair set is itself quadratic), unchanged when every doc
    * already has a sub-cap shingle. */
  private[graft] def containmentPairsOf(docs: DataFrame,
                                        rarestK: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // the operator never touches a shingle STRING past this projection:
    // every doc's set becomes its sorted md5-head BIGINT array
    // (graft_md5h ≡ the DuckDB digit-arithmetic formulation — DedupSpec
    // pins the parity), so the index exchanges and the verify both move
    // 8-byte keys instead of ~40-byte strings — the same fixed-width-key
    // rule the span ops apply (xxhash64 gram keys), but engine-portable,
    // so the candidate set AND the intersection counts are bit-identical
    // to the oracle's
    // array_distinct AFTER hashing is load-bearing: md5h is 32-bit, so
    // two distinct shingles in one document can collide — without the
    // dedup the sorted arrays carry duplicates that graft_sorted_intersect
    // counts pairwise while the oracle's list_intersect dedups, breaking
    // bit-exactness with probability ~n_shingles²/2³³ per doc (≈1% for a
    // 10k-shingle document). Both engines dedup post-hash, so both
    // intersect true sets.
    val sh = shingleSetsOf(docs)
      .selectExpr("doc_id", "array_sort(array_distinct(graft_md5h(shingles))) AS hv")
      .localCheckpoint()
    // r21: `inv` is no longer checkpointed — it is one explode over the
    // already-materialized `sh`, so each consumer (the df agg, the idx
    // join, the rarestK probe) recomputes a cheap narrow map instead of
    // the engine materializing a second corpus-scale (doc, h) relation
    // (measured: the inv checkpoint write was pure overhead at sf0.1).
    val inv = sh.select(col("doc_id"), explode(col("hv")).as("h"))
    val dfs = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val rare = dfs
      .filter(col("df") >= 2 && col("df") <= ContainDfCap)
      .select(col("h"))
    val idx = inv.join(rare, Seq("h")).localCheckpoint()
    val basePairs = idx.select(col("h"), col("doc_id").as("a"))
      .join(idx.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val pairs = (if (rarestK <= 0) basePairs
    else {
      // per-doc K rarest df≥2 shingles (df-1 shingles cannot witness a
      // pair), selected with one doc-keyed agg — bounded per-doc state,
      // deterministic (df, h) order — then probed ASYMMETRICALLY
      // against the full inverted list, df cap deliberately absent:
      // this is the branch that buys the full-containment guarantee
      val sel = inv.join(dfs.filter(col("df") >= 2), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(slice(array_sort(collect_list(struct(col("df"), col("h")))),
          1, rarestK).as("sel"))
        .select(col("doc_id").as("a"), explode(col("sel")).as("s"))
        .select(col("a"), col("s.h").as("h"))
      val probed = sel.join(inv.select(col("h"), col("doc_id").as("b")), Seq("h"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
      basePairs.unionByName(probed)
    }).distinct()
    // exact verify as ONE sorted-long merge per candidate
    // (graft_sorted_intersect — the triangle counter's primitive), far
    // cheaper than string-array intersection over the ~99% of
    // candidates the threshold rejects
    pairs
      .join(sh.select(col("doc_id").as("a"), col("hv").as("ha")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("hv").as("hb")), Seq("b"))
      .selectExpr("a", "b",
        "CAST(size(graft_sorted_intersect(ha, hb)) AS BIGINT) AS n_inter",
        "CAST(size(ha) AS BIGINT) AS n_a",
        "CAST(size(hb) AS BIGINT) AS n_b")
      .filter(expr(s"100 * n_inter >= $ContainMinPct * least(n_a, n_b)"))
      .selectExpr("a", "b", "n_a", "n_b", "n_inter",
        "n_inter * 1000000L DIV least(n_a, n_b) AS containment_x1e6")
  }

  val containmentPairsOracle: String =
    s"""WITH docs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id,
       |  list_sort(list_distinct(list_transform(list_transform($duckShingles, s -> ${shingleHash("strpos", "substr")}), x -> CAST(x AS BIGINT)))) AS hv
       |  FROM docs WHERE len(words) >= $ShingleLen),
       |inv AS MATERIALIZED (SELECT doc_id, unnest(hv) AS h FROM sh),
       |rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) BETWEEN 2 AND $ContainDfCap),
       |idx AS MATERIALIZED (SELECT i.h, i.doc_id FROM inv i JOIN rare USING (h)),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM idx x JOIN idx y ON x.h = y.h AND x.doc_id < y.doc_id),
       |v AS (SELECT a, b,
       |    CAST(len(list_intersect(sa.hv, sb.hv)) AS BIGINT) AS n_inter,
       |    CAST(len(sa.hv) AS BIGINT) AS n_a,
       |    CAST(len(sb.hv) AS BIGINT) AS n_b
       |  FROM pairs JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
       |SELECT a, b, n_a, n_b, n_inter,
       |  CAST(n_inter * 1000000 // least(n_a, n_b) AS BIGINT) AS containment_x1e6
       |FROM v WHERE 100 * n_inter >= $ContainMinPct * least(n_a, n_b)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_containment" -> containmentPairs,
    "d_span_dedup" -> spanDedup,
    "d_span_trim" -> spanTrim,
    "d_source_overlap" -> sourceOverlap,
    "d_bloom_seen" -> bloomSeenShingles,
    "d_incr_dedup" -> incrementalDedup,
    "d_exact_dedup" -> exactDedup,
    "d_minhash_pairs" -> minhashPairs,
    "d_jaccard_pairs" -> jaccardPairs,
    "d_edit_pairs" -> editPairs,
    "d_simhash" -> simhash,
    "d_simhash_pairs" -> simhashPairs,
    "d_dedup_clusters" -> dedupClusters)

  val oracles: Map[String, String] = Map(
    "d_containment" -> containmentPairsOracle,
    "d_span_dedup" -> spanDedupOracle,
    "d_span_trim" -> spanTrimOracle,
    "d_source_overlap" -> sourceOverlapOracle,
    "d_bloom_seen" -> bloomSeenShinglesOracle,
    "d_incr_dedup" -> incrementalDedupOracle,
    "d_exact_dedup" -> exactDedupOracle,
    "d_minhash_pairs" -> minhashPairsOracle,
    "d_jaccard_pairs" -> jaccardPairsOracle,
    "d_edit_pairs" -> editPairsOracle,
    "d_simhash" -> simhashOracle,
    "d_simhash_pairs" -> simhashPairsOracle,
    "d_dedup_clusters" -> dedupClustersOracle)
}
