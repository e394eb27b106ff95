package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic block-replication scale-up of a testdata SF dir — the
  * input side of the self-run sf1 correctness gate (the driver's gate
  * tops out at the shipped sf0.1; one more decade exercises the
  * skew/AQE/spill paths a 60k-row run never touches, per the r14
  * verdict's task 8).
  *
  * The scaled dir is NOT a new synthetic corpus: block 0 is the shipped
  * data byte-for-byte, and blocks 1..k-1 are key-offset replicas
  * (offset = blk·10^8 on every FK pair, so referential integrity holds
  * per block) with two deterministic perturbations that keep the scaled
  * corpus honest for the dedup/ANN families:
  *
  *  - **documents**: replica text gets a salt token spliced after EVERY
  *    word, derived from (blk, preceding word) ONLY. Position period 1
  *    ≤ ShingleLen means every 3-gram shingle window contains at least
  *    one salt, so CROSS-block copies of the same doc share no shingle
  *    and never become near-dup pairs — outputs of the dedup family
  *    scale ~linearly in k instead of quadratically in replica pairs
  *    (the r15 salt sat after every 4TH word, leaving ~half of each
  *    doc's windows salt-free and cross-block replicas at ~50%
  *    containment — d_containment grew ~94× at factor 10). Deriving the
  *    salt VALUE from the preceding word (not the absolute word index)
  *    makes within-block structure offset-independent: identical texts
  *    stay identical, and a word span shared by two replica docs salts
  *    identically wherever it sits, so planted near-dup overlap is
  *    preserved exactly (the r15 index-derived salts only aligned when
  *    the shared span started at the same offset mod the period).
  *    n_chars is recomputed to keep the `n_chars = length(text)` corpus
  *    invariant.
  *  - **embeddings**: replica vectors get a ±0.1% per-coordinate
  *    deterministic jitter (hash of vec_id, blk, i), which preserves
  *    cluster/label geometry but breaks the exact-tie explosion ten
  *    identical copies would feed the top-k tie-breaks.
  *
  * Dimension tables (region, nation) are NOT replicated — replicated
  * customers/suppliers fan into the same 25 nations, which is exactly
  * the shape a 10× fact load has in a star schema (and what makes the
  * group-by-nation aggregates 10× heavier per key).
  *
  * Both engines of the correctness gate (Verify's Spark run and the
  * DuckDB oracle) read the SAME scaled parquet, so the compare is valid
  * at any factor; determinism (no RNG, hash-derived salts) makes the
  * dir reproducible bit-for-bit.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [factor=10]
  */
object ScaleUp {

  /** Key offset per replica block: far above any sf≤1 key range, far
    * below overflow under the id arithmetic any query applies. */
  val BlockOffset = 100000000L

  /** The replica-document salting expression over columns (text, blk) —
    * exposed so ScaleUpSpec can pin the two properties the dedup gate's
    * honesty rests on (the r15 advice failure class): (1) a salt after
    * EVERY word means no 3-gram window of a blk>0 replica survives from
    * the original, so cross-block copies share no shingle; (2) the salt
    * VALUE is a pure function of (blk, preceding word), so a word span
    * shared by two docs in one block salts identically at ANY offset —
    * within-block near-dup structure is offset-independent. Salt token:
    * pure [a-z], one ordinary never-matching-a-lexicon word to every
    * tokenizer regex in the repo. */
  /** The replica-embedding jitter over columns (vec_id, embedding, blk):
    * flat ±0.1% per coordinate at EVERY block (blk stays inside the
    * hash for cross-block decorrelation but is NOT a multiplier — the
    * r15 advice bug scaled the perturbation to ±0.9% at factor 10,
    * breaking the geometry-preservation claim); block 0 verbatim. */
  val JitteredEmbeddingSql: String =
    """transform(embedding, (x, i) ->
      |  CASE WHEN blk > 0
      |    THEN CAST(x * (1.0D + (CAST(pmod(xxhash64(vec_id, blk, i), 21) AS DOUBLE) - 10.0D) * 1e-4D) AS FLOAT)
      |    ELSE x END)""".stripMargin

  val SaltedTextSql: String =
    """array_join(flatten(transform(split(text, ' '), w ->
      |  CASE WHEN blk > 0
      |    THEN array(w, translate(lower(conv(CAST(pmod(xxhash64(blk, w), 60466176) AS STRING), 10, 36)),
      |                            '0123456789', 'qwertyuiop'))
      |    ELSE array(w) END)), ' ')""".stripMargin

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()
    writeScaled(spark, src, out, k)
    spark.stop()
  }

  def writeScaled(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val blocks = spark.range(k).select(col("id").as("blk"))
    def off(c: String): Column = col(c) + col("blk") * BlockOffset

    /** Replicate a table k× with per-block column rewrites; untouched
      * columns pass through with their original types. */
    def rep(table: String, parts: Int)(rewrites: (String, Column)*): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val rw = rewrites.toMap
      val cols = base.columns.toSeq.map(c => rw.getOrElse(c, col(c)).as(c))
      base.crossJoin(blocks).select(cols: _*)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    def copy(table: String): Unit =
      spark.read.parquet(s"$src/$table.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$table.parquet")

    copy("region")
    copy("nation")
    rep("customer", 4)("c_custkey" -> off("c_custkey"))
    rep("supplier", 1)("s_suppkey" -> off("s_suppkey"))
    rep("part", 2)("p_partkey" -> off("p_partkey"))
    rep("orders", 8)(
      "o_orderkey" -> off("o_orderkey"),
      "o_custkey" -> off("o_custkey"))
    rep("lineitem", 32)(
      "l_orderkey" -> off("l_orderkey"),
      "l_partkey" -> off("l_partkey"),
      "l_suppkey" -> off("l_suppkey"))
    rep("events", 16)(
      "event_id" -> off("event_id"),
      "user_id" -> off("user_id"))

    // documents: block 0 verbatim; replicas salted by (blk, preceding
    // word) only — see the scaladoc for why the salt must depend on
    // neither doc_id nor the absolute word index.
    val saltedText = expr(SaltedTextSql)
    rep("documents", 8)(
      "doc_id" -> off("doc_id"),
      "text" -> saltedText,
      "n_chars" -> length(saltedText).cast("long"))

    // embeddings: ±0.1% deterministic per-coordinate jitter on replicas
    rep("embeddings", 4)(
      "vec_id" -> off("vec_id"),
      "embedding" -> expr(JitteredEmbeddingSql))
  }
}
