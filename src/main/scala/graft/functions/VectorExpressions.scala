package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the vector dot product — the hot loop of
  * the similarity stack (SURVEY §2 D5/D5b/D6).
  *
  * Why a custom expression and not `aggregate(zip_with(...))`: Spark's
  * higher-order functions evaluate their lambda once per element through
  * interpreted `LambdaFunction` machinery and allocate an intermediate
  * array per row; this expression compiles (`doGenCode`) to a tight
  * primitive `for` loop inside whole-stage codegen — no allocation, no
  * per-element virtual calls. On a 100 TB corpus scan the dot product runs
  * once per (row × query/plane), so this is the single most
  * codegen-sensitive spot in the engine.
  *
  * Semantics (kept bit-identical to the DuckDB oracle's `list_reduce`
  * left fold): `acc = 0.0; for i: acc += (double)a[i] * (double)b[i]` in
  * index order — IEEE addition in the same order produces the same double
  * on both engines, so rankings and LSH bucket signs agree exactly.
  *
  * Null handling: null array → null result; mismatched lengths → null
  * (dense embeddings are expected equal-length; silently truncating to
  * min(length) would produce a number where the SQL oracle's fixed-range
  * indexing yields NULL — ragged data should surface, not disappear);
  * null *elements* are not expected (embeddings are dense) and read as
  * 0.0 via ArrayData's primitive getters.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float|double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on mismatched lengths
  override def prettyName: String = "graft_dot"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) null
    else {
      val lf = elemIsFloat(left); val rf = elemIsFloat(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (lf) la.getFloat(i).toDouble else la.getDouble(i)
        val y = if (rf) ra.getFloat(i).toDouble else ra.getDouble(i)
        acc += x * y
        i += 1
      }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $l.$lGet($i)) * ((double) $r.$rGet($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the SimHash fingerprint fold — the hot
  * loop of the D4 fingerprint (operators/Dedup.withSimhash).
  *
  * Why: the SQL formulation is `bits` separate `aggregate(vals, ...)`
  * higher-order calls (one interpreted lambda walk over the word-hash
  * array PER BIT — 60 walks/row at the 60-bit profile). This expression
  * does one compiled pass: for each word hash, every bit's ±1 vote
  * accumulates into a reused int buffer; the fingerprint is the
  * sign-vote per bit. Semantics are bit-identical to the SQL form (and
  * the DuckDB oracle): vote = 2·((v >> i) & 1) − 1 summed in array
  * order, bit set iff the sum is strictly positive; empty array → 0.
  * Null array → null; word-hash values are nonnegative (< 2^60) so
  * arithmetic and logical shifts agree. */
case class SimhashFingerprint(child: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if bits >= 1 && bits <= 63 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash expects (array<bigint>, bits in 1..63), got " +
            s"${child.dataType.catalogString} with bits=$bits")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val cnt = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val v = a.getLong(i)
      var b = 0
      while (b < bits) {
        cnt(b) += (((v >>> b) & 1L).toInt * 2) - 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (cnt(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // per-row vote buffer reused across rows (mutable state, zeroed each
    // row) — no per-row allocation inside the scan loop
    val buf = ctx.addMutableState("int[]", "simhashVotes",
      v => s"$v = new int[$bits];")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val v = ctx.freshName("v")
      val fp = ctx.freshName("fp")
      s"""
         |final int $n = $c.numElements();
         |java.util.Arrays.fill($buf, 0);
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $v = $c.getLong($i);
         |  for (int $b = 0; $b < $bits; $b++) {
         |    $buf[$b] += ((int) (($v >>> $b) & 1L) * 2) - 1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($buf[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

/** Helper for [[ArrayMd5Head]] — kept as plain static JVM code so the
  * generated (janino) code is one call per row and the per-element loop
  * runs as ordinary JIT-compiled bytecode. */
object Md5Head {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 4 digest bytes as an unsigned 32-bit value in a Long —
    * EXACTLY the integer the SQL formulation builds from the first 8 md5
    * hex digits (digit d_k weighted 16^(7-k)), so Spark results stay
    * bit-identical to the DuckDB oracle's strpos/substr arithmetic. */
  def head64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) | ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  /** First `hexDigits` md5 hex digits as a nonnegative Long (digit d_k
    * weighted 16^(hexDigits-1-k)) — the generalized form of [[head64]]
    * (hexDigits = 8): one nibble walk over the digest bytes, bit-identical
    * to the instr/substr digit arithmetic both engines' SQL spells out.
    * hexDigits <= 15 keeps the value under 2^60 (nonnegative BIGINT on
    * both engines). */
  def headBits(s: org.apache.spark.unsafe.types.UTF8String, hexDigits: Int): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(s.getBytes)
    var v = 0L
    var k = 0
    while (k < hexDigits) {
      val by = b(k >> 1) & 0xff
      v = (v << 4) | (if ((k & 1) == 0) by >>> 4 else by & 0xf)
      k += 1
    }
    v
  }

  def hashAll(a: ArrayData): ArrayData = hashAll(a, 8)

  def hashAll(a: ArrayData, hexDigits: Int): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (a.isNullAt(i)) null
        else if (hexDigits == 8) head64(a.getUTF8String(i))
        else headBits(a.getUTF8String(i), hexDigits)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native per-element md5-prefix hash of a string array — the shingle →
  * 32-bit-value step feeding every MinHash consumer (D2/D3/D8/D9).
  *
  * Why: the SQL form is `transform(shingles, s -> <8 × instr+substring
  * over md5(s)>)` — an interpreted lambda with 16 string operations per
  * element, run once per shingle per document across the whole dedup
  * stack. This expression is one compiled pass: MD5 of the element's
  * UTF-8 bytes, first 4 digest bytes as the value (identical to the hex
  * arithmetic, see [[Md5Head.head64]]). */
case class ArrayMd5Head(child: Expression, hexDigits: Int = 8)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if hexDigits >= 1 && hexDigits <= 15 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_md5h expects (array<string>[, hexDigits in 1..15]), got " +
            s"${other.catalogString} with hexDigits=$hexDigits")
    }

  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_md5h"

  override def nullSafeEval(input: Any): Any =
    Md5Head.hashAll(input.asInstanceOf[ArrayData], hexDigits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Head.hashAll($c, $hexDigits);")

  override protected def withNewChildInternal(newChild: Expression): ArrayMd5Head =
    copy(child = newChild)
}

/** Helper for [[MinhashSignature]] — plain static JVM code (same rule as
  * [[Md5Head]]). */
object MinhashSig {
  /** `mins[j] = min over h in hvs of (a_j*h + 7919j + 911) mod
    * 1000000007` with a_j = 2654435761^(j+1) mod p (the decorrelated
    * powers family — see the permA doc in Dedup), for j in
    * 0 until k — one pass over the hash array with all k permutation
    * registers live, replacing k interpreted
    * `array_min(transform(hvs, ...))` walks (k = 128 at the production
    * profile). Constants are `Dedup.MinhashMod`/`permA`/`permB` spelled
    * as literals (the large multiplier decorrelates the permutations —
    * see the permA doc in Dedup); DedupSpec pins value parity against
    * the SQL formulation so they cannot drift apart silently. Null
    * elements are skipped (the SQL transform maps null→null and
    * array_min ignores nulls); a doc with no non-null hash yields
    * MaxValue-free behavior: all-null input returns null mins — callers
    * never see it because shingleSets filters empty docs. */
  /** Per-k multiplier tables, computed once per JVM — the table is a
    * pure function of k, so rebuilding it per row (k modmuls + an
    * alloc at k = 128) was pure overhead on a corpus-scale scan
    * (r19 ADVICE). */
  private val multTables =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def multipliers(k: Int): Array[Long] =
    multTables.computeIfAbsent(k, { kk =>
      val as = new Array[Long](kk)
      var acc = 1L
      var j0 = 0
      while (j0 < kk) {
        acc = (acc * 2654435761L) % 1000000007L
        as(j0) = acc
        j0 += 1
      }
      as
    })

  def signature(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val as = multipliers(k)
    var any = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        any = true
        val h = a.getLong(i)
        var j = 0
        while (j < k) {
          val v = (as(j) * h + 7919L * j + 911L) % 1000000007L
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(mins)
  }
}

/** Native MinHash signature: all `k` universal-hash permutation minima
  * of a shingle-hash array in ONE compiled pass
  * (`graft_minhash(hvs, k)` → array<bigint> of length k).
  *
  * Why: the SQL formulation evaluates `array_min(transform(hvs, h ->
  * (a_j*h + b_j) % p))` once per permutation — k interpreted lambda
  * walks, each allocating an intermediate array, per document. At the
  * production profile (128 hashes) over a 100 TB corpus that is the
  * dominant dedup-signature cost. Values are bit-identical to the SQL
  * (same integer ops in the same order; no overflow: h < 2^32,
  * a_j < p ≈ 2^30 → a_j*h + b_j < 2^62). */
case class MinhashSignature(child: Expression, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if numHashes >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash expects (array<bigint>, k >= 1), got " +
            s"${other.catalogString} with k=$numHashes")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // all-null input
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    MinhashSig.signature(input.asInstanceOf[ArrayData], numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.MinhashSig.signature($c, $numHashes);
      |${ev.isNull} = (${ev.value} == null);
      """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** Helper for [[IvfCentroidArgmax]] — plain static JVM code (same rule as
  * [[Md5Head]]): one call per row from the generated code, the K×Dim
  * scoring loop runs as ordinary JIT-compiled bytecode. */
object IvfArgmax {
  /** Winning centroid id by max cosine, ties to the SMALLEST cid —
    * bit-identical to `greatest(struct(cs, -cid)...)` over the same
    * centroid array: cs = dot(emb, ce)/(sqrt(nrm)·sqrt(cn)) with the
    * dot the same index-order left fold as [[ArrayDotProduct]], so the
    * doubles compared here are the exact doubles the SQL form (and the
    * DuckDB oracle's row_number ORDER BY cs DESC, cid ASC) ranks.
    * NaN scores (a zero-norm embedding or centroid — 0/0) follow Spark's
    * double ordering: NaN ranks ABOVE every double and ties with itself,
    * so a degenerate corpus produces the same cid as the `greatest()`
    * form instead of silently skipping NaN cells.
    * `cents` rows are struct<cid: bigint, ce: array<float>, cn: double>.
    * Returns Long.MinValue for an empty centroid array (callers always
    * aggregate ≥1 centroid; the sentinel keeps the expression
    * non-nullable). */
  def bestCid(emb: ArrayData, nrm: Double, cents: ArrayData): Long = {
    val k = cents.numElements()
    val n = emb.numElements()
    val en = math.sqrt(nrm)
    var bestCid = Long.MinValue
    var bestCs = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val row = cents.getStruct(c, 3)
      val cid = row.getLong(0)
      val ce = row.getArray(1)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += emb.getFloat(i).toDouble * ce.getFloat(i).toDouble
        i += 1
      }
      val cs = acc / (en * math.sqrt(row.getDouble(2)))
      // Spark double ordering: NaN > any double, NaN == NaN. (-0.0 vs 0.0
      // never ties here: acc starts at +0.0, so cs is never -0.0.)
      val better =
        if (java.lang.Double.isNaN(cs))
          !java.lang.Double.isNaN(bestCs) || cid < bestCid
        else
          !java.lang.Double.isNaN(bestCs) &&
            (cs > bestCs || (cs == bestCs && cid < bestCid))
      if (better) { bestCs = cs; bestCid = cid }
      c += 1
    }
    bestCid
  }
}

/** Native IVF centroid assignment — argmax-cosine over a broadcast
  * centroid array in ONE compiled call per row
  * (`graft_ivf_argmax(embedding, nrm, cents)` → bigint cid).
  *
  * Why: the SQL formulation (`greatest()` over K inline
  * struct(score, -cid) expressions, each score a graft_dot) is correct
  * and broadcast-shaped, but its generated projection method grows with
  * K×Dim past the JVM's huge-method JIT limit — the whole-stage code
  * still *compiles* (no fallback warning) yet runs in the bytecode
  * interpreter, ~50× slower per row at K=16, Dim=64 (measured by the
  * EmbedScale soak: 108 s for 1.25M rows where this expression scans
  * 5M in a few seconds). One static helper call keeps the row method
  * tiny and the scoring loop JIT-hot regardless of K. */
case class IvfCentroidArgmax(emb: Expression, nrm: Expression, cents: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = emb
  override def second: Expression = nrm
  override def third: Expression = cents

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // float-array elements may carry parquet's default nullable flag;
    // dense embeddings never hold nulls and getFloat reads them as 0.0
    // (same convention as ArrayDotProduct)
    def floatArr(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(0).dataType == LongType && floatArr(fs(1).dataType) &&
          fs(2).dataType == DoubleType
      case _ => false
    }
    if (floatArr(emb.dataType) && nrm.dataType == DoubleType && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_ivf_argmax expects (array<float>, double, " +
          "array<struct<cid bigint, ce array<float>, cn double>>), got " +
          s"${emb.dataType.catalogString}, ${nrm.dataType.catalogString}, " +
          s"${cents.dataType.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ivf_argmax"

  override def nullSafeEval(e: Any, n: Any, c: Any): Any =
    IvfArgmax.bestCid(e.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      c.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, n, c) =>
      s"${ev.value} = graft.functions.IvfArgmax.bestCid($e, $n, $c);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): IvfCentroidArgmax =
    copy(emb = newFirst, nrm = newSecond, cents = newThird)
}

/** Helper for [[PqEncodeCodes]] — plain static JVM code (same rule as
  * [[Md5Head]]/[[IvfArgmax]]): one call per row from the generated code,
  * the M×K×SubDim scoring loop runs as ordinary JIT-compiled bytecode —
  * the inline-`greatest()` alternative would regrow exactly the
  * huge-method projection the IVF argmax had to escape (M×K×SubDim here
  * equals the K×Dim that measured ~50× interpreted). */
object PqEncode {
  /** Product-quantization encode: for each of the M = books.len/k
    * subspaces, the id (0-based within the subspace) of the codeword
    * minimizing the L2 distance to the vector's subspace slice.
    *
    * `books` rows are struct<bid: bigint, be: array<float>, bn: double>,
    * sorted by bid with bid = m·k + code; `bn` is the codeword's
    * self-dot. The compared quantity is `bn − 2·dot(sub, be)` (the
    * ‖x‖²-free L2 expansion — the x-norm term is constant within a
    * subspace so the argmin is unchanged), with the dot the same
    * index-order left fold as [[ArrayDotProduct]]: bit-identical to the
    * doubles the DuckDB oracle's `row_number() ORDER BY dist ASC, k ASC`
    * ranks. No division anywhere → no NaN cases. Ties break to the
    * smallest code id (strict `<`). Returns null when the books array is
    * empty, its size is not a multiple of k, or the embedding length is
    * not a multiple of M — ragged layouts should surface, not encode
    * garbage. */
  def codes(emb: ArrayData, books: ArrayData, k: Int): ArrayData = {
    val nBooks = books.numElements()
    val dim = emb.numElements()
    if (nBooks == 0 || nBooks % k != 0) return null
    val m = nBooks / k
    if (dim % m != 0) return null
    val subDim = dim / m
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val base = mi * subDim
      var bestK = -1
      var bestDist = Double.PositiveInfinity
      var ki = 0
      while (ki < k) {
        val row = books.getStruct(mi * k + ki, 3)
        val be = row.getArray(1)
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          acc += emb.getFloat(base + i).toDouble * be.getFloat(i).toDouble
          i += 1
        }
        val dist = row.getDouble(2) - 2.0 * acc
        if (dist < bestDist || bestK < 0) { bestDist = dist; bestK = ki }
        ki += 1
      }
      out(mi) = bestK
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Native product-quantization encoder — all M subspace codeword argmins
  * of a vector against a broadcast codebook in ONE compiled call per row
  * (`graft_pq_encode(embedding, books, k)` → array<int> of length M).
  * See [[PqEncode.codes]] for the exact semantics; the rationale is the
  * same JIT-cliff avoidance as [[IvfCentroidArgmax]] (the SQL form's
  * generated projection grows with M×K×SubDim = K×Dim). */
case class PqEncodeCodes(emb: Expression, books: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = emb
  override def right: Expression = books

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def floatArr(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val booksOk = books.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(0).dataType == LongType && floatArr(fs(1).dataType) &&
          fs(2).dataType == DoubleType
      case _ => false
    }
    if (floatArr(emb.dataType) && booksOk && k >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode expects (array<float>, " +
          "array<struct<bid bigint, be array<float>, bn double>>, k >= 1), got " +
          s"${emb.dataType.catalogString}, ${books.dataType.catalogString}, k=$k")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true // ragged books/embedding layouts
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(e: Any, b: Any): Any =
    PqEncode.codes(e.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, b) => s"""
      |${ev.value} = graft.functions.PqEncode.codes($e, $b, $k);
      |${ev.isNull} = (${ev.value} == null);
      """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeCodes =
    copy(emb = newLeft, books = newRight)
}

/** Registration for graft's native expressions — as a session-builder call
  * (`GraftFunctions.register`) or via `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  val dotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"graft_dot takes 2 arguments, got ${exprs.length}")
      ArrayDotProduct(exprs.head, exprs(1))
    })

  /** A builder's constant integral argument. A foldable non-integral
    * constant (the string literal '15') or a NULL fails at analysis with
    * an IllegalArgumentException naming the function, never an opaque
    * ClassCastException or NullPointerException. */
  private def intConstant(fn: String, what: String, e: Expression): Int = {
    require(e.foldable, s"$fn's $what must be a constant")
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType),
      s"$fn's $what must be an integral constant, got ${e.dataType.catalogString}")
    val v = e.eval(null)
    require(v != null, s"$fn's $what must not be NULL")
    v.asInstanceOf[Number].intValue
  }

  val bottomkDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bottomk"),
    new ExpressionInfo(classOf[BottomK].getName, "graft_bottomk"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"graft_bottomk takes (expr, k), got ${exprs.length} args")
      BottomK(exprs.head, intConstant("graft_bottomk", "k", exprs(1)))
    })

  val argmaxDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_argmax"),
    new ExpressionInfo(classOf[ArgMaxBy].getName, "graft_argmax"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"graft_argmax takes (score, term), got ${exprs.length} args")
      ArgMaxBy(exprs.head, exprs(1))
    })

  val mgDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_mg_candidates"),
    new ExpressionInfo(classOf[MisraGries].getName, "graft_mg_candidates"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"graft_mg_candidates takes (expr, m), got ${exprs.length} args")
      MisraGries(exprs.head, intConstant("graft_mg_candidates", "capacity", exprs(1)))
    })

  val md5hDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_md5h"),
    new ExpressionInfo(classOf[ArrayMd5Head].getName, "graft_md5h"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1 || exprs.length == 2,
        s"graft_md5h takes (arr[, hexDigits]), got ${exprs.length} args")
      if (exprs.length == 1) ArrayMd5Head(exprs.head)
      else ArrayMd5Head(exprs.head, intConstant("graft_md5h", "hexDigits", exprs(1)))
    })

  val simhashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimhashFingerprint].getName, "graft_simhash"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"graft_simhash takes (vals, bits), got ${exprs.length} args")
      SimhashFingerprint(exprs.head, intConstant("graft_simhash", "bits", exprs(1)))
    })

  val bloomAggDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_agg"),
    new ExpressionInfo(classOf[BloomFilterAgg].getName, "graft_bloom_agg"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        s"graft_bloom_agg takes (hash, numBits, numHashes), got ${exprs.length} args")
      BloomFilterAgg(exprs.head,
        intConstant("graft_bloom_agg", "numBits", exprs(1)),
        intConstant("graft_bloom_agg", "numHashes", exprs(2)))
    })

  val bloomContainsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_contains"),
    new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"graft_bloom_contains takes (filter, hash), got ${exprs.length} args")
      BloomMightContain(exprs.head, exprs(1))
    })

  val qualityDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quality"),
    new ExpressionInfo(classOf[GraftQuality].getName, "graft_quality"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, s"graft_quality takes (text), got ${exprs.length} args")
      GraftQuality(exprs.head)
    })

  val sortedIntersectDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_sorted_intersect"),
    new ExpressionInfo(classOf[SortedLongIntersect].getName, "graft_sorted_intersect"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"graft_sorted_intersect takes (a, b), got ${exprs.length} args")
      SortedLongIntersect(exprs(0), exprs(1))
    })

  val dsumDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dsum"),
    new ExpressionInfo(classOf[MicrosSum].getName, "graft_dsum"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, s"graft_dsum takes (double_col), got ${exprs.length} args")
      MicrosSum(exprs.head)
    })

  val minhashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash"),
    new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"graft_minhash takes (hvs, k), got ${exprs.length} args")
      MinhashSignature(exprs.head, intConstant("graft_minhash", "k", exprs(1)))
    })

  val ivfArgmaxDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_ivf_argmax"),
    new ExpressionInfo(classOf[IvfCentroidArgmax].getName, "graft_ivf_argmax"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        s"graft_ivf_argmax takes (embedding, nrm, cents), got ${exprs.length} args")
      IvfCentroidArgmax(exprs(0), exprs(1), exprs(2))
    })

  val pqEncodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_encode"),
    new ExpressionInfo(classOf[PqEncodeCodes].getName, "graft_pq_encode"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        s"graft_pq_encode takes (embedding, books, k), got ${exprs.length} args")
      PqEncodeCodes(exprs(0), exprs(1), intConstant("graft_pq_encode", "k", exprs(2)))
    })

  val langidDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_langid"),
    new ExpressionInfo(classOf[GraftLangId].getName, "graft_langid"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, s"graft_langid takes (text), got ${exprs.length} args")
      GraftLangId(exprs.head)
    })

  /** Register (overwriting any prior registration) a session function
    * `name(hash)` that probes ONE specific broadcast Bloom filter:
    * resolves to `BloomMightContain(BroadcastBinary(bc), hash)`. The
    * broadcast handle can't be spelled in SQL, so the builder closure
    * carries it; Datasets analyze eagerly, so each caller's plan binds
    * the broadcast that was registered when the Dataset was built —
    * later re-registrations don't retroactively rebind existing plans. */
  /** Last broadcast registered per (session, function name): re-registering
    * under a fixed name (every bench pass rebuilds the filter) would
    * otherwise strand the prior 512 KB broadcast until GC + ContextCleaner
    * happen to notice the dropped reference. Datasets analyze eagerly, so
    * any plan built against the old registration has already captured its
    * handle and been executed by the time the operator re-registers. */
  private val liveProbeBroadcasts =
    new java.util.concurrent.ConcurrentHashMap[
      (Int, String), org.apache.spark.broadcast.Broadcast[_]]()

  private def swapProbeBroadcast(spark: SparkSession, name: String,
      bc: org.apache.spark.broadcast.Broadcast[_]): Unit = {
    val prev = liveProbeBroadcasts.put(
      (System.identityHashCode(spark.sparkContext), name), bc)
    if (prev != null && (prev ne bc))
      try prev.destroy() catch { case _: Throwable => () }
  }

  def registerBloomProbe(spark: SparkSession, name: String,
      bc: org.apache.spark.broadcast.Broadcast[Array[Byte]]): Unit = {
    swapProbeBroadcast(spark, name, bc)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[BloomMightContain].getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"$name takes (hash), got ${exprs.length} args")
        BloomMightContain(BroadcastBinary(bc), exprs.head)
      })
  }

  /** Register (overwriting any prior registration, destroying the prior
    * broadcast — same lifecycle as [[registerBloomProbe]]) a session
    * function `name(id)` probing ONE specific broadcast sorted long array
    * by binary search. The id-set analog of the Bloom probe: exact
    * membership against a bounded broadcast set, as a codegen'd per-row
    * FILTER — no join operator, no exchange, no plan-embedded literal.
    * The peel primitive of [[graft.graph.Algorithms.kCore]]'s trickle
    * rounds. `ids` must be sorted ascending (binarySearch contract). */
  def registerSetProbe(spark: SparkSession, name: String,
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]]): Unit = {
    swapProbeBroadcast(spark, name, bc)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[SortedLongSetContains].getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"$name takes (id), got ${exprs.length} args")
        SortedLongSetContains(bc, exprs.head)
      })
  }

  /** Deregister a probe function and destroy its current broadcast — for
    * short-lived per-invocation probes (kCore registers a fresh name per
    * call so concurrent peels on one session can't destroy each other's
    * in-flight broadcast, and drops it here once the result is
    * materialized). */
  def dropProbe(spark: SparkSession, name: String): Unit = {
    val prev = liveProbeBroadcasts.remove(
      (System.identityHashCode(spark.sparkContext), name))
    if (prev != null) try prev.destroy() catch { case _: Throwable => () }
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
  }

  /** Idempotent in-session registration (used by the operator builders so
    * `selectExpr("graft_dot(a, b)")` resolves without extensions config). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      dotDescriptor._1, dotDescriptor._2, dotDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      bottomkDescriptor._1, bottomkDescriptor._2, bottomkDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      mgDescriptor._1, mgDescriptor._2, mgDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      argmaxDescriptor._1, argmaxDescriptor._2, argmaxDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      simhashDescriptor._1, simhashDescriptor._2, simhashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      md5hDescriptor._1, md5hDescriptor._2, md5hDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      bloomAggDescriptor._1, bloomAggDescriptor._2, bloomAggDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      bloomContainsDescriptor._1, bloomContainsDescriptor._2, bloomContainsDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      qualityDescriptor._1, qualityDescriptor._2, qualityDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      langidDescriptor._1, langidDescriptor._2, langidDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      minhashDescriptor._1, minhashDescriptor._2, minhashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      dsumDescriptor._1, dsumDescriptor._2, dsumDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      sortedIntersectDescriptor._1, sortedIntersectDescriptor._2,
      sortedIntersectDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      ivfArgmaxDescriptor._1, ivfArgmaxDescriptor._2, ivfArgmaxDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      pqEncodeDescriptor._1, pqEncodeDescriptor._2, pqEncodeDescriptor._3)
  }
}

/** `spark.sql.extensions` entry point: injects graft's native functions
  * into every session built with the extension configured. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotDescriptor)
    ext.injectFunction(GraftFunctions.bottomkDescriptor)
    ext.injectFunction(GraftFunctions.mgDescriptor)
    ext.injectFunction(GraftFunctions.simhashDescriptor)
    ext.injectFunction(GraftFunctions.md5hDescriptor)
    ext.injectFunction(GraftFunctions.bloomAggDescriptor)
    ext.injectFunction(GraftFunctions.bloomContainsDescriptor)
    ext.injectFunction(GraftFunctions.qualityDescriptor)
    ext.injectFunction(GraftFunctions.langidDescriptor)
    ext.injectFunction(GraftFunctions.minhashDescriptor)
    ext.injectFunction(GraftFunctions.dsumDescriptor)
    ext.injectFunction(GraftFunctions.sortedIntersectDescriptor)
    ext.injectFunction(GraftFunctions.ivfArgmaxDescriptor)
    ext.injectFunction(GraftFunctions.pqEncodeDescriptor)
  }
}

/** Membership probe of a broadcast SORTED long array by binary search —
  * the exact-id analog of [[BloomMightContain]]+[[BroadcastBinary]]: a
  * bounded node-id set reaches every task as a torrent broadcast (never a
  * plan literal), and the probe compiles into whole-stage codegen as a
  * primitive `Arrays.binarySearch`, so removing a peeled trickle from a
  * 100 TB edge set is a FILTER — no join operator, no exchange, and the
  * filtered output keeps its partitioning (which is what lets kCore's
  * per-round degree aggregation run with zero added shuffles).
  *
  * Constructed only through [[GraftFunctions.registerSetProbe]] (the
  * broadcast handle cannot be spelled in SQL). The array must be sorted
  * ascending; the probed child is a non-null graph id (LongType). */
case class SortedLongSetContains(
    bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft set probe requires bigint, got ${child.dataType.catalogString}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_set_contains"
  // the payload must never print into plan strings; the broadcast id
  // identifies it (same rule as BroadcastBinary)
  override def toString: String = s"graft_set_contains(#${bc.id}, $child)"

  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(bc.value, v.asInstanceOf[Long]) >= 0

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("graftSetBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val ids = ctx.addMutableState("long[]", "graftSetIds",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = java.util.Arrays.binarySearch($ids, $v) >= 0;")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedLongSetContains =
    copy(child = newChild)
}
