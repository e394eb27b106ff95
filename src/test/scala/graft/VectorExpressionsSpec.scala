package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** ArrayDotProduct (graft_dot): codegen + interpreted paths against the
  * higher-order-function reference fold, on float and double arrays. */
class VectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .appName("vector-expressions-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The pre-graft_dot reference implementation: interpreted HOF fold. */
  private val hofDot =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin

  test("graft_dot matches the HOF fold bit-exactly on random float arrays") {
    val df = spark.range(200).selectExpr(
      "transform(sequence(1, 64), i -> CAST(sin(id * 31 + i) AS FLOAT)) AS a",
      "transform(sequence(1, 64), i -> CAST(cos(id * 17 + i) AS FLOAT)) AS b")
    val diff = df.selectExpr(s"graft_dot(a, b) AS d1", s"$hofDot AS d2")
      .filter("d1 <> d2") // bit-exact: same left-fold order
      .count()
    assert(diff === 0)
  }

  test("graft_dot handles double literals against float columns") {
    val df = spark.range(50).selectExpr("id",
      "transform(sequence(1, 4), i -> CAST(i * (id + 1) AS FLOAT)) AS a")
    // carry id alongside the result: pairing expected values by collect()
    // position would silently depend on partition collection order
    val rows = df.selectExpr("id", "graft_dot(array(1.0D, 0.5D, -1.0D, 2.0D), a) AS d")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // 1*(id+1) + 0.5*2(id+1) - 3(id+1) + 2*4(id+1) = 7(id+1)
    rows.foreach { case (id, d) => assert(d === 7.0 * (id + 1)) }
  }

  test("graft_dot is null-safe on null arrays and mismatched lengths") {
    // mismatched lengths → null (not a silent min-length truncation):
    // ragged embedding data must surface the same way the oracle's
    // fixed-range indexing does (NULL), never as a plausible number
    val r = spark.sql(
      """SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS n,
        |  graft_dot(array(1.0D, 2.0D, 3.0D), array(10.0D)) AS ragged,
        |  graft_dot(array(2.0D, 3.0D), array(10.0D, 100.0D)) AS ok""".stripMargin)
      .collect().head
    assert(r.isNullAt(0))
    assert(r.isNullAt(1))
    assert(r.getDouble(2) === 320.0)
  }

  /** Seeded corpus + the K lowest vec_ids as centroids, packed exactly the
    * way ivfAssignment packs them (one array_sort(collect_list(struct))
    * broadcast row). */
  private def ivfCorpus(k: Int) = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    val emb = spark.range(300).selectExpr(
      "id AS vec_id",
      "transform(sequence(1, 16), i -> CAST(sin(id * 31 + i) AS FLOAT)) AS embedding")
      .selectExpr("vec_id", "embedding", "graft_dot(embedding, embedding) AS nrm")
    val cents = emb.filter(s"vec_id < $k")
      .selectExpr("vec_id AS cid", "embedding AS ce", "nrm AS cn")
      .groupBy().agg(expr("array_sort(collect_list(struct(cid, ce, cn)))").as("cents"))
    emb.crossJoin(broadcast(cents)).localCheckpoint()
  }

  /** The pre-graft_ivf_argmax reference implementation: greatest() over K
    * inline (score, -cid) structs — correct but interpreter-cliffed at
    * scale (the generated projection outgrows the JIT's method limit). */
  private def greatestForm(k: Int): String = {
    val structs = (0 until k).map(c =>
      s"struct(graft_dot(embedding, cents[$c].ce) / (sqrt(nrm) * sqrt(cents[$c].cn)), -cents[$c].cid)")
    s"-((greatest(${structs.mkString(", ")})).col2)"
  }

  test("graft_ivf_argmax matches greatest(struct(cs, -cid)) on codegen AND interpreted paths") {
    val k = 16
    val df = ivfCorpus(k)
    def mismatches(): Long = df.selectExpr(
      "graft_ivf_argmax(embedding, nrm, cents) AS native",
      s"${greatestForm(k)} AS sql_form")
      .filter("native <> sql_form").count()
    assert(mismatches() === 0L)
    // the corpus must actually spread across cells or agreement is vacuous
    val distinct = df.selectExpr("graft_ivf_argmax(embedding, nrm, cents) AS c")
      .distinct().count()
    assert(distinct > 1, "argmax collapsed to one cell — seed corpus degenerate")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(mismatches() === 0L)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_ivf_argmax breaks exact score ties to the smallest cid") {
    // two centroids with IDENTICAL vectors (cids 7 and 3): scores tie
    // bit-for-bit, so the winner must be cid 3 — same rule as the SQL
    // form's max(-cid) and the oracle's ORDER BY cs DESC, cid ASC
    val r = spark.sql(
      """SELECT graft_ivf_argmax(e, graft_dot(e, e), array(
        |    named_struct('cid', 7L, 'ce', e, 'cn', graft_dot(e, e)),
        |    named_struct('cid', 3L, 'ce', e, 'cn', graft_dot(e, e)))) AS cid
        |FROM (SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS e)""".stripMargin)
      .collect().head
    assert(r.getLong(0) === 3L)
  }

  test("graft_ivf_argmax empty-centroid sentinel and NaN ordering match greatest") {
    // empty centroid array -> Long.MinValue sentinel (callers always
    // aggregate >= 1 centroid; slice keeps the struct element type)
    val k = 4
    val sentinel = ivfCorpus(k).limit(1)
      .selectExpr("graft_ivf_argmax(embedding, nrm, slice(cents, 1, 0)) AS c")
      .collect().head.getLong(0)
    assert(sentinel === Long.MinValue)
    // zero-norm EMBEDDING: every score is 0/0 = NaN; Spark's greatest
    // ranks NaN above all doubles and NaN ties with NaN, so all cells tie
    // and the smallest cid wins — native and SQL forms must agree. (The
    // SQL form needs ANSI off here: ANSI double division THROWS on /0
    // where the native loop follows IEEE 0/0 -> NaN — real corpora carry
    // no zero vectors, and the native form degrades gracefully instead.)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val zeroEmb = try {
      ivfCorpus(k).limit(1)
        .selectExpr("transform(embedding, x -> CAST(0.0 AS FLOAT)) AS embedding",
          "CAST(0.0 AS DOUBLE) AS nrm", "cents")
        .selectExpr("graft_ivf_argmax(embedding, nrm, cents) AS native",
          s"${greatestForm(k)} AS sql_form")
        .collect().head
    } finally spark.conf.unset("spark.sql.ansi.enabled")
    assert(zeroEmb.getLong(0) === 0L, "all-NaN tie must go to the smallest cid")
    assert(zeroEmb.getLong(0) === zeroEmb.getLong(1))
    // zero-norm CENTROID among finite ones: its lone NaN score ranks above
    // every finite score (cid 99 wins) on both paths
    val zeroCent = spark.sql(
      """SELECT graft_ivf_argmax(e, graft_dot(e, e), array(
        |    named_struct('cid', 1L, 'ce', e, 'cn', graft_dot(e, e)),
        |    named_struct('cid', 99L, 'ce', z, 'cn', CAST(0.0 AS DOUBLE)))) AS cid
        |FROM (SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS e,
        |             array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)) AS z)""".stripMargin)
      .collect().head
    assert(zeroCent.getLong(0) === 99L, "NaN-scored centroid must rank above finite scores")
  }

  /** Seeded corpus + a PQ codebook over M subspaces × K codes, packed
    * exactly the way Similarity.pqAnn packs it (bid = m·K + code, be =
    * the codeword row's subspace slice, one bid-sorted broadcast row). */
  private def pqCorpus(m: Int, k: Int, subDim: Int) = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    val dim = m * subDim
    val emb = spark.range(300).selectExpr(
      "id AS vec_id",
      s"transform(sequence(1, $dim), i -> CAST(sin(id * 31 + i) AS FLOAT)) AS embedding")
    val books = emb.filter(s"vec_id < $k")
      .selectExpr("vec_id", s"explode(sequence(0, ${m - 1})) AS m", "embedding")
      .selectExpr(s"CAST(m * $k + vec_id AS BIGINT) AS bid",
        s"slice(embedding, m * $subDim + 1, $subDim) AS be")
      .selectExpr("bid", "be", "graft_dot(be, be) AS bn")
      .groupBy().agg(expr("array_sort(collect_list(struct(bid, be, bn)))").as("books"))
    emb.crossJoin(broadcast(books)).localCheckpoint()
  }

  /** The inline-SQL reference formulation of one subspace's encode:
    * least() over K (dist, code) structs — correct but carrying the same
    * K×Dim projection growth the IVF argmax escaped. */
  private def leastForm(m: Int, k: Int, subDim: Int): String = {
    val structs = (0 until k).map { c =>
      val b = s"books[${m * k + c}]"
      s"struct($b.bn - 2.0D * graft_dot(slice(embedding, ${m * subDim + 1}, $subDim), $b.be), $c)"
    }
    s"(least(${structs.mkString(", ")})).col2"
  }

  test("graft_pq_encode matches least(struct(dist, code)) per subspace on codegen AND interpreted paths") {
    val (m, k, subDim) = (4, 4, 4)
    val df = pqCorpus(m, k, subDim)
    val sqlCodes = (0 until m).map(mi => leastForm(mi, k, subDim)).mkString("array(", ", ", ")")
    def mismatches(): Long = df.selectExpr(
      s"graft_pq_encode(embedding, books, $k) AS native",
      s"$sqlCodes AS sql_form")
      .filter("native <> sql_form").count()
    assert(mismatches() === 0L)
    // the encode must actually use multiple codes per subspace
    val distinct = df.selectExpr(s"graft_pq_encode(embedding, books, $k) AS c")
      .distinct().count()
    assert(distinct > 4, "PQ encode collapsed — seed corpus degenerate")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(mismatches() === 0L)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_pq_encode breaks exact distance ties to the smallest code") {
    // two identical codewords in one subspace (codes 0 and 1): distances
    // tie bit-for-bit, so the winner must be code 0 — same rule as
    // least(struct(dist, code)) and the oracle's ORDER BY dist ASC, k ASC
    val r = spark.sql(
      """SELECT graft_pq_encode(e, array(
        |    named_struct('bid', 0L, 'be', c, 'bn', graft_dot(c, c)),
        |    named_struct('bid', 1L, 'be', c, 'bn', graft_dot(c, c))), 2) AS codes
        |FROM (SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS e,
        |             array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS c)""".stripMargin)
      .collect().head
    assert(r.getSeq[Int](0) === Seq(0))
  }

  test("graft_pq_encode surfaces ragged layouts as null") {
    val df = pqCorpus(4, 4, 4)
    // books size not a multiple of k → null (never a silent partial encode)
    val ragged = df.limit(1)
      .selectExpr("graft_pq_encode(embedding, slice(books, 1, 15), 4) AS c")
      .collect().head
    assert(ragged.isNullAt(0))
    // empty books → null
    val empty = df.limit(1)
      .selectExpr("graft_pq_encode(embedding, slice(books, 1, 0), 4) AS c")
      .collect().head
    assert(empty.isNullAt(0))
    // embedding length not a multiple of M → null
    val shortEmb = df.limit(1)
      .selectExpr("graft_pq_encode(slice(embedding, 1, 15), books, 4) AS c")
      .collect().head
    assert(shortEmb.isNullAt(0))
  }

  test("planeIntsFor is deterministic, prefix-stable, and rejects bucket overflow") {
    import graft.operators.Similarity
    assert(Similarity.planeIntsFor(8) === Similarity.planeInts)
    // plane j depends only on j: a bigger family extends, never reshuffles
    assert(Similarity.planeIntsFor(12).take(8) === Similarity.planeIntsFor(8))
    Similarity.planeIntsFor(8).foreach(h =>
      h.foreach(v => assert(v >= 0 && v <= 0xffff)))
    // the INT bucket pack wraps at 1 << 32 — the constructor must refuse
    intercept[IllegalArgumentException](Similarity.planeIntsFor(32))
    Similarity.planeIntsFor(31) // 31 is the documented max, must succeed
  }

  test("constant-argument builders reject a string or NULL constant, naming the function") {
    val calls = Seq(
      "graft_bottomk" -> "graft_bottomk(id, %s)",
      "graft_mg_candidates" -> "graft_mg_candidates(id, %s)",
      "graft_md5h" -> "graft_md5h(array('a'), %s)",
      "graft_simhash" -> "graft_simhash(array(1L), %s)",
      "graft_minhash" -> "graft_minhash(array(1L), %s)",
      "graft_pq_encode" -> "graft_pq_encode(array(1.0f), array(array(1.0f)), %s)",
      "graft_bloom_agg" -> "graft_bloom_agg(id, %s, 3)",
      "graft_bloom_agg" -> "graft_bloom_agg(id, 1024, %s)")
    for ((fn, call) <- calls; arg <- Seq("'15'", "NULL")) {
      val e = intercept[Exception](spark.range(3).selectExpr(call.format(arg)).collect())
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x }
      assert(iae.exists(_.getMessage.contains(fn)), s"${call.format(arg)} threw $e")
    }
  }

  test("interpreted path (codegen off) agrees with codegen path") {
    val df = spark.range(100).selectExpr(
      "transform(sequence(1, 32), i -> CAST(sin(id + i) AS FLOAT)) AS a",
      "transform(sequence(1, 32), i -> CAST(cos(id - i) AS FLOAT)) AS b")
      .localCheckpoint()
    val withCodegen = df.selectExpr("sum(graft_dot(a, b)) AS s").collect().head.getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.selectExpr("sum(graft_dot(a, b)) AS s").collect().head.getDouble(0)
      assert(withCodegen === interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
