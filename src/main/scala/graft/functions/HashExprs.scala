package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot per-row loops of the llmops
  * operators.
  *
  * Why not higher-order functions: Spark's `transform`/`aggregate`/
  * `zip_with` are `CodegenFallback` — every element evaluation walks an
  * interpreted expression tree. A 64-permutation MinHash over ~300
  * shingles costs ~20k interpreted evals per ROW that way (measured 41 s
  * for 5k docs); these expressions do the same math in one `eval` call
  * with tight JVM loops over the raw `ArrayData`/`UTF8String` — no
  * per-element boxing, no Catalyst dispatch. Still `CodegenFallback`,
  * and deliberately so — MEASURED, not assumed: a real `doGenCode`
  * for DotLong/CosineSim (loops inlined into the WholeStageCodegen
  * stage body) benchmarked 1.8× SLOWER at 1M rows × 128 dims
  * (SCALE.md, "Codegen A/B": 0.27 s fallback vs 0.48 s inlined cosine) —
  * the d-iteration loops push the generated stage method past the
  * JIT's inline/compile budget, while the fallback keeps the loop in
  * a small monomorphic always-hot method and pays only one virtual
  * call per row. Deterministic and partition-order-independent, so
  * results are stable at any scale.
  */
object HashExprs {

  private[functions] val P31 = 2147483647L // 2^31-1, Mersenne prime
  private[functions] val Mask31 = 0x7FFFFFFFL

  private def mix(z0: Long): Long = { // SplitMix64 finalizer
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[functions] def permA(j: Int): Long = (mix(2L * j + 1) & Mask31) | 1L
  private[functions] def permB(j: Int): Long = mix(j + 7L) & Mask31

  /** xxhash64 of a string's UTF-8 bytes, seed 42 (same seed as Spark's
    * SQL `xxhash64`). */
  @inline private[functions] def hash64(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  def minhashSig(shingles: Column, numPerm: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expr(shingles), numPerm))

  def shingleSet(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleSet(ColumnBridge.expr(text), k))

  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expr(tokens)))

  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(DotLong(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def cosineF(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def randomProjectionBits(vec: Column, numPlanes: Int,
                           planeOffset: Int): Column =
    ColumnBridge.column(RandomProjectionBits(ColumnBridge.expr(vec),
      numPlanes, planeOffset))

  def firstEqualIndex(a: Column, b: Column): Column =
    ColumnBridge.column(FirstEqualIndex(ColumnBridge.expr(a),
      ColumnBridge.expr(b)))
}

/** Index (0-based) of the first position where two array<long> columns
  * hold equal elements; -1 when no position matches, null on length
  * mismatch. The per-candidate predicate of the LSH first-collision
  * discipline ([[graft.llmops.Similarity.lshNearDupPairs]]): a pair
  * colliding in k of the T hash tables must be VERIFIED exactly once,
  * not k times, and "the table whose index equals the first signature
  * agreement" picks that once without any exchange. Early-exit loop —
  * for the projection-stable clusters that make first-collision worth
  * running, the agreement is at index 0 and the scan costs ONE
  * comparison; a zip_with/array_position formulation materializes a
  * T-element boolean array per CANDIDATE (billions at the rehearsal
  * tiers) before looking at it. */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_equal_index"
  // nullSafeEval returns null on a LENGTH MISMATCH even when both
  // children are non-nullable, so nullability cannot be inherited from
  // the children (the default): a non-nullable declaration would let
  // codegen elide the consumer's null check and NPE where eval
  // contract says null (round-16 advice).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) return java.lang.Integer.valueOf(i)
      i += 1
    }
    java.lang.Integer.valueOf(-1)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : FirstEqualIndex = copy(left = l, right = r)
}

/** MinHash signature: array<string> shingles → array<long> of
  * `numPerm` minima under h_j(x) = (a_j·(xxh64(x)&2³¹) + b_j) mod (2³¹-1).
  * Arithmetic stays in the 31-bit Mersenne field so products fit a long
  * without overflow (ANSI-safe). Empty/null-element shingle arrays
  * yield Long.MaxValue minima — deterministic sentinel. */
case class MinHashSig(child: Expression, numPerm: Int)
    extends UnaryExpression with CodegenFallback {
  import HashExprs._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private lazy val as: Array[Long] = Array.tabulate(numPerm)(permA)
  private lazy val bs: Array[Long] = Array.tabulate(numPerm)(permB)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numPerm)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i)) & Mask31
        var j = 0
        while (j < numPerm) {
          val v = (as(j) * h + bs(j)) % P31
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** 64-bit SimHash: array<string> tokens → long. Bit b is set iff more
  * than half the token hashes have bit b set (ties → unset). */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import HashExprs._

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    var total = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1
          b += 1
        }
        total += 1
      }
      i += 1
    }
    var word = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > total) word |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(word)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** Exact integer dot product of two array<long> columns (quantized
  * embeddings). Null on length mismatch. */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"
  // returns null on LENGTH MISMATCH even with non-nullable children —
  // nullability cannot be inherited (see FirstEqualIndex's note)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : DotLong = copy(left = l, right = r)
}

/** Cosine similarity of two array<float> (or array<double>) columns,
  * accumulated in float64 left-to-right. Null on length mismatch or
  * zero norm. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // returns null on LENGTH MISMATCH or ZERO NORM even with
  // non-nullable children — inheriting child nullability lets a
  // downstream codegen predicate (e.g. isnan) elide its null check
  // and NPE (measured: the SimilaritySpec zero-norm fixture)
  override def nullable: Boolean = true

  private lazy val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : CosineSim = copy(left = l, right = r)
}

/** Word k-shingles of a string: lowercase, split on whitespace runs,
  * emit distinct k-grams joined by single spaces (first-occurrence
  * order). Degenerate cases mirror the HOF formulation it replaces:
  * blank/null-ish text → [""], fewer than k tokens → the whole token
  * string as one shingle. One eval per row — the HOF pipeline
  * (split+transform+slice+concat_ws+array_distinct) is interpreted
  * per-element and dominated the MinHash stage cost. */
case class ShingleSet(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase.trim
    val toks = s.split("\\s+")
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length < k) out.add(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + k <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        out.add(sb.toString); i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator(); var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(c: Expression): ShingleSet =
    copy(child = c)
}

/** Sign-bit random-hyperplane LSH bucket: long whose bit p is the sign
  * of the projection onto pseudo-random hyperplane `planeOffset + p`.
  * Weights are SplitMix64-derived constants of (plane, dim) — identical
  * across rows, partitions and runs, computed inline (~5 ALU ops per
  * weight; cheaper than materializing a weight matrix per batch). */
case class RandomProjectionBits(child: Expression, numPlanes: Int,
                                planeOffset: Int)
    extends UnaryExpression with CodegenFallback {

  require(numPlanes >= 1 && numPlanes <= 64,
    s"random_projection_bits needs 1..64 planes (one sign bit each " +
      s"in a long bucket), got $numPlanes")

  override def dataType: DataType = LongType
  override def prettyName: String = "random_projection_bits"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @inline private def weight(p: Int, i: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  // The plane weights are a pure function of (plane, dim) — memoize
  // the numPlanes x dims table on first eval instead of re-hashing
  // per ELEMENT per ROW: at a 2M x 64-dim corpus with 16 tables x 20
  // planes that is 6e11 avalanche hashes re-derived for ~41k distinct
  // values, and it dominated the round-14 fourth-decade LSH wall-clock.
  // Growth is monotone (dims are corpus-constant in practice); a
  // concurrent re-build races benignly — both threads write identical
  // values. @volatile makes the reference store a SAFE PUBLICATION:
  // the element writes happen-before the volatile write, so a thread
  // sharing this expression instance can never observe the array
  // reference before its contents (a plain field has no such JMM
  // guarantee — the torn read would silently mis-bucket vectors,
  // costing recall that the downstream cosine verify can't restore).
  @volatile @transient private var wcache: Array[Array[Double]] = null

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var w = wcache
    if (w == null || w(0).length < n) {
      w = Array.tabulate(numPlanes)(p =>
        Array.tabulate(n)(i => weight(planeOffset + p, i)))
      wcache = w
    }
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      val wp = w(p)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        proj += x * wp(i)
        i += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  override protected def withNewChildInternal(c: Expression)
  : RandomProjectionBits = copy(child = c)
}
