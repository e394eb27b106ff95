package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale soak: generate a synthetic corpus N× the bench SF — with planted
  * exact and near duplicates — in the driver's `documents` schema, then
  * run every document-only operator from the real query registry against
  * it. The point is evidence, not a benchmark: the dedup/text/corpus-IO
  * plans that pass the gate at 5k docs execute unchanged at 100×+ that,
  * with per-query wall time reported so a regression to quadratic or
  * state-unbounded behavior is unmissable.
  *
  * Usage: runMain graft.Scale [nDocs]   (default 500000 ≈ 100× sf0.1)
  * Prints one [[Soak]] line: {"metric":"scale_total","n_docs":N,
  *   "queries":{name:sec,...},"jobs":{...},"check_secs":{...},
  *   "checks":{name:rows,...},"errors":{...}}; exit code 1 if any query
  *   errored.
  *
  * Timing caveat: single pass, no warmup (this is a soak, not a
  * benchmark — Bench owns steady-state numbers), so the first query of
  * each operator family absorbs that family's one-time janino/JIT
  * compilation; e.g. d_dedup_clusters runs alphabetically before the
  * other minhash consumers and pays the whole pipeline's warmup.
  *
  * Generation is fully distributed (spark.range → per-row expressions —
  * no driver-side data) and deterministic: doc i draws 30+i%50 words
  * from a 400-word vocabulary by hash (large enough that unrelated docs
  * share few shingles — a tiny vocabulary makes every LSH bucket hot,
  * which stress-tests bucket degeneracy rather than scale); doc 100k+99
  * is a byte-exact copy of doc 100k+98 (exact-dup plant) and doc
  * 100k+97 is doc 100k+96 plus one word (near-dup plant), so dedup
  * results have a known floor: ~1% exact-dup groups, ~1% near-dup pairs.
  */
object Scale {

  /** Queries runnable from the documents table alone (d_embed_neardup and
    * d_semantic_neardup are doc-prefixed but read the embeddings table —
    * excluded). */
  private val DocPrefixes = Seq("d_", "t_", "m_", "c_")
  private val Excluded = Set("d_embed_neardup", "d_semantic_neardup")

  def synthesize(spark: SparkSession, n: Long, outDir: String): Unit = {
    // vocabulary must be PURELY alphabetic: the text operators tokenize
    // with [a-z]+, so digit-bearing words like "word123" all collapse to
    // the token "word" — which silently turns the corpus into 100%
    // identical shingle sets and the pair space into all-pairs
    val vocabSql = (0 until 400)
      .map(i => s"'w${('a' + i / 26).toChar}${('a' + i % 26).toChar}'")
      .mkString("array(", ", ", ")")
    spark.range(n)
      .select(col("id").as("doc_id"),
        expr("CASE WHEN id % 100 IN (99, 97) THEN id - 1 ELSE id END").as("base"),
        expr("CASE WHEN id % 100 = 97 THEN ' extra' ELSE '' END").as("suffix"))
      .select(col("doc_id"),
        concat(
          array_join(expr(
            s"""transform(sequence(1, CAST(30 + base % 50 AS INT)),
               |  i -> element_at($vocabSql, CAST(pmod(xxhash64(base, i), 400) AS INT) + 1))""".stripMargin), " "),
          col("suffix")).as("text"),
        element_at(array(Seq("en", "de", "es", "fr", "zh").map(lit): _*),
          (col("doc_id") % 5 + 1).cast("int")).as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = GraftSession.local()
    val dir = s"/tmp/${Reset.ScratchPrefix}scale"
    synthesize(spark, n, dir)
    val soak = new Soak(spark, "scale_total")
    SparkEntry.queries.filter { case (name, _) =>
      DocPrefixes.exists(name.startsWith) && !Excluded(name)
    }.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      soak.op(name)(fn(spark, dir))(_.count())
    }
    soak.finish("n_docs" -> n)
  }
}
