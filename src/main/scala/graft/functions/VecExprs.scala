package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot per-row kernels.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`/`transform`) are
  * CodegenFallback AND pay per-ELEMENT lambda interpretation; these
  * expressions do the whole array in one tight JVM loop per row, so the
  * interpretation overhead is per-row. Measured on the LSH pair-scoring
  * stage this is a ~10× win over the HOF formulation (see BENCH notes).
  *
  * Every kernel is a [[UnaryKernel]] or [[BinaryKernel]]: its per-row work
  * is ONE Scala method, `compute`, which interpreted eval calls from
  * `nullSafeEval` and the generated code calls through a reference to the
  * expression. The host stage stays inside whole-stage codegen (one
  * CodegenFallback expression evicts its whole Project/Filter stage, so a
  * single interpreted kernel would make every OTHER column of the
  * projection pay interpreted eval too), the kernel is written once, and
  * the only per-row overhead is a virtual call. Numeric-array kernels read
  * elements through the one [[ElemReader]].
  *
  * All are deterministic pure functions — safe anywhere in the plan.
  */

/** Base of the one-input kernels (see the file header): subclasses define
  * `compute(input)`, `nullSafeEval` calling it, and `inputTypes`, so a
  * mis-typed input fails at analysis instead of inside a task. */
abstract class UnaryKernel extends UnaryExpression with ExpectsInputTypes {
  /** True when `compute` can return null for a non-null input; it then
    * returns its result boxed. */
  protected def computeMayBeNull: Boolean = false
  override def nullable: Boolean = computeMayBeNull || child.nullable
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernel.callCompute(ctx, ev, this, computeMayBeNull, a))
}

/** Two-input form of [[UnaryKernel]]. */
abstract class BinaryKernel extends BinaryExpression with ExpectsInputTypes {
  protected def computeMayBeNull: Boolean = false
  override def nullable: Boolean = computeMayBeNull || left.nullable || right.nullable
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => Kernel.callCompute(ctx, ev, this, computeMayBeNull, a, b))
}

private[functions] object Kernel {
  /** Generated Java for `ev = kernel.compute(args)`; a boxed result sets
    * `ev.isNull` when it is null. */
  def callCompute(ctx: CodegenContext, ev: ExprCode, kernel: Expression,
      mayBeNull: Boolean, args: String*): String = {
    val ref = ctx.addReferenceObj(kernel.nodeName, kernel, kernel.getClass.getName)
    val call = s"$ref.compute(${args.mkString(", ")})"
    if (!mayBeNull) s"${ev.value} = $call;"
    else {
      val boxedType = CodeGenerator.boxedType(kernel.dataType)
      val boxed = s"${ev.value}Boxed"
      s"""final $boxedType $boxed = ($boxedType) $call;
         |${ev.isNull} = $boxed == null;
         |if (!${ev.isNull}) ${ev.value} = $boxed;""".stripMargin
    }
  }
}

/** The one element reader of the numeric-array kernels: slot `i` of a
  * primitive numeric array as a double or as a long. The element-type
  * dispatch runs once, when a kernel builds its reader; every read is then
  * a virtual call returning a primitive (no closure, no boxing), and the
  * null-slot test is skipped when the array type admits no null elements. */
abstract class ElemReader(containsNull: Boolean) {
  def double(a: ArrayData, i: Int): Double
  /** Integral arrays only: the integral kernels declare integral inputs. */
  def long(a: ArrayData, i: Int): Long
  final def isNull(a: ArrayData, i: Int): Boolean = containsNull && a.isNullAt(i)
  /** Slot `i` is non-null and within the closed range [lo, hi]; false for
    * NaN, which fails both comparisons. */
  final def inRange(a: ArrayData, i: Int, lo: Double, hi: Double): Boolean =
    !isNull(a, i) && { val v = double(a, i); v >= lo && v <= hi }
  /** Slot `i` is non-null and equals `t` (exact integral equality). */
  final def equalsAt(a: ArrayData, i: Int, t: Long): Boolean =
    !isNull(a, i) && long(a, i) == t
}

object ElemReader {
  def apply(arrayType: DataType): ElemReader = arrayType match {
    case ArrayType(ByteType, n) => new ElemReader(n) {
      def double(a: ArrayData, i: Int) = a.getByte(i).toDouble
      def long(a: ArrayData, i: Int) = a.getByte(i).toLong }
    case ArrayType(ShortType, n) => new ElemReader(n) {
      def double(a: ArrayData, i: Int) = a.getShort(i).toDouble
      def long(a: ArrayData, i: Int) = a.getShort(i).toLong }
    case ArrayType(IntegerType, n) => new ElemReader(n) {
      def double(a: ArrayData, i: Int) = a.getInt(i).toDouble
      def long(a: ArrayData, i: Int) = a.getInt(i).toLong }
    case ArrayType(LongType, n) => new ElemReader(n) {
      def double(a: ArrayData, i: Int) = a.getLong(i).toDouble
      def long(a: ArrayData, i: Int) = a.getLong(i) }
    case ArrayType(FloatType, n) => new ElemReader(n) {
      def double(a: ArrayData, i: Int) = a.getFloat(i).toDouble
      def long(a: ArrayData, i: Int) = notIntegral(arrayType) }
    case ArrayType(DoubleType, n) => new ElemReader(n) {
      def double(a: ArrayData, i: Int) = a.getDouble(i)
      def long(a: ArrayData, i: Int) = notIntegral(arrayType) }
    case other => throw new IllegalArgumentException(s"not a primitive numeric array: $other")
  }
  private def notIntegral(dt: DataType): Long =
    throw new IllegalStateException(s"integral read of $dt")
}

/** dot(a, b) over two numeric arrays, accumulated in double. Mismatched
  * lengths (ragged embeddings) yield NULL — a truncated dot would be a
  * plausible but WRONG score; enforce equal dims upstream or filter nulls. */
case class VecDot(left: Expression, right: Expression) extends BinaryKernel {
  override def inputTypes = Seq(GraftShim.numericArray, GraftShim.numericArray)
  override def dataType: DataType = DoubleType
  override protected def computeMayBeNull: Boolean = true
  @transient private lazy val readL = ElemReader(left.dataType)
  @transient private lazy val readR = ElemReader(right.dataType)
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    val rx = readL
    val ry = readR
    var s = 0.0
    var i = 0
    while (i < n) { s += rx.double(x, i) * ry.double(y, i); i += 1 }
    s
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** sqrt(dot(a, a)). */
case class VecNorm(child: Expression) extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.numericArray)
  override def dataType: DataType = DoubleType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Double = {
    val r = read
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = r.double(x, i); s += v * v; i += 1 }
    math.sqrt(s)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HashMix {
  /** xxhash64-style avalanche over a long — cheap per-slot hash derivation. */
  @inline def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  /** FNV-1a 64 over UTF8 bytes — deterministic base hash for shingles. */
  def hashUtf8(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }
}

/** MinHash signature: array<long> of `numHashes` slots; slot j =
  * min over shingles of mix(base_hash ^ seed_j). One base hash per shingle,
  * `numHashes` mixes per shingle — the classic one-hash + derived-permutation
  * scheme. Null shingles are skipped. */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryKernel {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val seeds: Array[Long] =
    Array.tabulate(numHashes)(j => HashMix.mix(0x9e3779b97f4a7c15L * (j + 1)))
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = HashMix.hashUtf8(arr.getUTF8String(i))
        var j = 0
        while (j < numHashes) {
          val h = HashMix.mix(base ^ seeds(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** SimHash64 over string shingles: bit i of the result is the sign of the
  * shingle-count-weighted sum of hash bit i. Null shingles are skipped. */
case class SimHash64(child: Expression) extends UnaryKernel {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = HashMix.mix(HashMix.hashUtf8(arr.getUTF8String(i)))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Banded sign-LSH signatures for float vectors: returns array<long> of
  * `bands` band-values; band b = sign bits of `planesPerBand` deterministic
  * hyperplane dots. Hyperplane weights derive from mix(plane, dim) — no
  * driver-side randomness, reproducible at any parallelism. */
case class SignLshBands(child: Expression, bands: Int, planesPerBand: Int)
    extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.numericArray)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // weight(p, d) ∈ {-2,-1,0,1,2}
  @inline private def weight(p: Int, d: Int): Double =
    (java.lang.Math.floorMod(HashMix.mix((p.toLong << 32) | (d & 0xffffffffL)), 5L) - 2L).toDouble
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): ArrayData = {
    val r = read
    val dim = x.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = 0L
      var j = 0
      while (j < planesPerBand) {
        val p = b * planesPerBand + j
        var s = 0.0
        var d = 0
        while (d < dim) { s += r.double(x, d) * weight(p, d); d += 1 }
        if (s > 0) v |= (1L << j)
        j += 1
      }
      out(b) = v
      b += 1
    }
    new GenericArrayData(out)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** All numeric array elements within [lo, hi] — the hot token-domain
  * predicate. One JVM loop per row with early exit; `forall(...)` would pay
  * per-element lambda interpretation on every token of every row. A null or
  * NaN element is out of range ([[ElemReader.inRange]], the same test as
  * [[ArrayCountOutOfRange]]). */
case class ArrayAllInRange(child: Expression, lo: Double, hi: Double) extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.numericArray)
  override def dataType: DataType = BooleanType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Boolean = {
    val r = read
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (!r.inRange(x, i, lo, hi)) return false
      i += 1
    }
    true
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** COUNT of array elements outside the closed range [lo, hi] — the
  * quantified companion to [[ArrayAllInRange]] (which short-circuits on the
  * first offender and so can't measure HOW out-of-domain a corpus is). A
  * null ELEMENT counts as out-of-range (an invalid token, not an absent
  * one), and so does a NaN element in float/double arrays (the in-range
  * test `v >= lo && v <= hi` is false for NaN, so a NaN never passes as
  * in-vocab); a null ARRAY is null (leaf null-stance — assert presence
  * with NonNull). Backs per-group OOV-rate drift over token arrays: one
  * codegen'd pass per row, no explode, no HOF lambda. */
case class ArrayCountOutOfRange(child: Expression, lo: Double, hi: Double)
    extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.numericArray)
  override def dataType: DataType = LongType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Long = {
    val r = read
    val n = x.numElements()
    var bad = 0L
    var i = 0
    while (i < n) {
      if (!r.inRange(x, i, lo, hi)) bad += 1
      i += 1
    }
    bad
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** COUNT of array elements equal to `target` (exact integral equality) —
  * the pad counter behind pad-aware length checks: non-pad count =
  * size(arr) - ArrayCountEq(arr, pad), computed without materializing an
  * `array_remove` copy of an 8k-token array per row. A null ELEMENT never
  * equals anything; a null ARRAY is null (leaf null-stance). Tokens are
  * discrete symbols, so the pad-layout kernels take integral arrays only
  * (== on floats is a footgun, not a layout). */
case class ArrayCountEq(child: Expression, target: Long) extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.integralArray)
  override def dataType: DataType = LongType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Long = {
    val r = read
    val n = x.numElements()
    var eq = 0L
    var i = 0
    while (i < n) {
      if (r.equalsAt(x, i, target)) eq += 1
      i += 1
    }
    eq
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** TRUE iff every `pad` element is part of a contiguous suffix — i.e. no
  * non-pad element appears after the first pad. The layout invariant of a
  * right-padded training batch: [content..., EOS, PAD, PAD, ...]. A null
  * ELEMENT counts as non-pad (corruption after padding began is a layout
  * violation, not an absent slot); empty and all-pad arrays are trivially
  * ok. One forward pass, no allocation. */
case class ArrayPadSuffixOk(child: Expression, pad: Long) extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.integralArray)
  override def dataType: DataType = BooleanType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Boolean = {
    val r = read
    val n = x.numElements()
    var seenPad = false
    var i = 0
    while (i < n) {
      if (r.equalsAt(x, i, pad)) seenPad = true
      else if (seenPad) return false
      i += 1
    }
    true
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** COUNT of separator-delimited segments whose length falls outside
  * [minLen, maxLen] — the structural check for PACKED training sequences
  * ([doc1..., EOS, doc2..., EOS, ...]): an empty interior segment
  * (consecutive separators, or a leading separator) is a packing bug, and a
  * segment longer than the training context never fit a document boundary.
  * Segments are the runs BETWEEN separators plus a trailing run only when
  * non-empty (an array ending in a separator is fully terminated, not
  * followed by an empty document). No separator at all ⇒ one segment, the
  * whole array. Null elements count as ordinary tokens (their validity is
  * elemRange's job). One forward pass, no allocation. */
case class ArrayBadSegmentCount(child: Expression, sep: Long, minLen: Long, maxLen: Long)
    extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.integralArray)
  override def dataType: DataType = LongType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Long = {
    val r = read
    val n = x.numElements()
    var bad = 0L
    var prev = -1 // index of the last separator seen
    var i = 0
    while (i < n) {
      if (r.equalsAt(x, i, sep)) {
        val segLen = i - prev - 1
        if (segLen < minLen || segLen > maxLen) bad += 1
        prev = i
      }
      i += 1
    }
    val trailing = n - prev - 1
    if (trailing > 0 && (trailing < minLen || trailing > maxLen)) bad += 1
    bad
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Value of the LAST non-null element not equal to `skip` — "the last real
  * token before padding", robust even when pads leak into the interior.
  * NULL when the array is null, empty, all-pad, or all-null: there is no
  * last real token to report (EOS checks coalesce that to a violation).
  * Null elements are skipped here — their validity is elemRange's job. */
case class ArrayLastNotEq(child: Expression, skip: Long) extends UnaryKernel {
  override def inputTypes = Seq(GraftShim.integralArray)
  override def dataType: DataType = LongType
  override protected def computeMayBeNull: Boolean = true
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): java.lang.Long = {
    val r = read
    // backward scan: the common case (well-formed padded row) finds the
    // last real token within the pad-suffix length, not O(n) from the front
    var i = x.numElements() - 1
    while (i >= 0) {
      if (!r.isNull(x, i)) {
        val v = r.long(x, i)
        if (v != skip) return v
      }
      i -= 1
    }
    null
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Distinct lowercase word k-shingles of a text column in ONE pass:
  * tokenize on non-alphanumeric runs, lowercase, emit distinct k-grams
  * joined by single spaces. Replaces a 5-op HOF pipeline
  * (regexp_replace→split→filter→transform/slice/array_join→distinct), each
  * stage of which re-walks the text with interpreted lambdas. */
case class WordShingles(child: Expression, k: Int) extends UnaryKernel {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  def compute(s: UTF8String): ArrayData = {
    val text = s.toString
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else if (sb.length > 0) { words += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) words += sb.toString
    val out = new java.util.LinkedHashSet[String]()
    if (k <= 1) {
      words.foreach(out.add)
    } else {
      var j = 0
      while (j + k <= words.length) {
        out.add(words.slice(j, j + k).mkString(" "))
        j += 1
      }
    }
    val arr = new Array[AnyRef](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(arr)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Count of positions where two long arrays agree — MinHash signature
  * agreement (estimated Jaccard numerator). Mismatched lengths yield NULL
  * (signatures are fixed-width by construction; a mismatch means corrupt
  * input, not "compare the shorter prefix"). */
case class LongArrayEqCount(left: Expression, right: Expression) extends BinaryKernel {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override protected def computeMayBeNull: Boolean = true
  def compute(x: ArrayData, y: ArrayData): java.lang.Integer = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var c = 0
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
    c
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Count of DISTINCT elements of `left` also present in `right` — exactly
  * `size(array_intersect(left, right))` for string arrays (null elements
  * match null, duplicates count once) WITHOUT materializing the
  * intersection ARRAY: the Jaccard verification stages only ever read the
  * intersection's SIZE, and `array_intersect` + `size` built (then threw
  * away) an O(|a∩b|) string array per scored pair. One hash-set build per
  * side, a counter, zero per-pair output allocation. */
case class StringArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryKernel {
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  def compute(a: ArrayData, b: ArrayData): Int = {
    val nb = b.numElements()
    val bSet = new java.util.HashSet[UTF8String](Math.max(16, nb * 2))
    var bHasNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true
      else bSet.add(b.getUTF8String(i))
      i += 1
    }
    val na = a.numElements()
    // `seen` keeps duplicate-bearing inputs exact (array_intersect counts a
    // value once); per-document-distinct gram arrays never insert into it
    // beyond the bSet hit
    val seen = new java.util.HashSet[UTF8String](Math.max(16, na * 2))
    var c = 0
    var nullCounted = false
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bHasNull && !nullCounted) { c += 1; nullCounted = true }
      } else {
        val v = a.getUTF8String(i)
        if (bSet.contains(v) && seen.add(v)) c += 1
      }
      i += 1
    }
    c
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Distinct 64-bit hashes of every length-`n` token window in an integer
  * token array — the decontamination / token-span-dedup kernel for
  * pre-tokenized corpora. One JVM loop per row: polynomial window hash +
  * avalanche, deduped in-row (a 10^4-token doc yields ≤ 10^4 hashes, not a
  * string per window). 64-bit space makes cross-window collisions
  * negligible at 10^12-sequence scale (birthday bound ≈ 2^-20 per 10^6
  * distinct spans). */
case class TokenNgramHashes(child: Expression, n: Int) extends UnaryKernel {
  require(n > 0, "n > 0")
  override def inputTypes = Seq(GraftShim.integralArray)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): ArrayData = {
    val r = read
    val len = x.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + n <= len) {
      // windows containing NULL tokens are SKIPPED: ArrayData would read a
      // null slot as 0, silently aliasing null with token id 0 — a corrupt
      // window must never match a real one
      var h = 0xcbf29ce484222325L
      var ok = true
      var j = 0
      while (ok && j < n) {
        if (r.isNull(x, i + j)) ok = false
        else { h = (h ^ r.long(x, i + j)) * 0x100000001b3L; j += 1 }
      }
      if (ok) out.add(HashMix.mix(h))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = it.next(); m += 1 }
    new GenericArrayData(arr)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Index of the nearest centroid (squared L2, ties → lowest index) — the IVF
  * coarse-quantizer assignment. Centroids ship inside the expression (they
  * are the trained model, nlist×dim doubles — a few KB), so assignment is one
  * narrow codegen-stage-friendly pass with no join. */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryKernel {
  require(centroids.nonEmpty, "NearestCentroid requires >= 1 centroid")
  override def inputTypes = Seq(GraftShim.numericArray)
  override def dataType: DataType = IntegerType
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): Int = {
    val r = read
    val dim = x.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(dim, cent.length)
      var d = 0.0
      var i = 0
      while (i < n) { val t = r.double(x, i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The `nprobe` nearest centroid indices (squared L2, ascending by
  * (distance, index) — identical tie semantics to the driver-side
  * `Ivf.Model.probesFor`). The per-QUERY-row probe computation for batched
  * IVF search: queries explode to (query, list_id) pairs with no driver
  * round-trip per query. Centroids ride inside the expression (nlist×dim
  * doubles — KBs). */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
    extends UnaryKernel {
  require(centroids.nonEmpty, "NearestCentroids requires >= 1 centroid")
  require(nprobe >= 1, "nprobe >= 1")
  override def inputTypes = Seq(GraftShim.numericArray)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val read = ElemReader(child.dataType)
  def compute(x: ArrayData): ArrayData = {
    val r = read
    val dim = x.numElements()
    val n = centroids.length
    val d = new Array[Double](n)
    var c = 0
    while (c < n) {
      val cent = centroids(c)
      val m = math.min(dim, cent.length)
      var s = 0.0
      var i = 0
      while (i < m) { val t = r.double(x, i) - cent(i); s += t * t; i += 1 }
      d(c) = s
      c += 1
    }
    val p = math.min(nprobe, n)
    val idx = Array.range(0, n).sortBy(i => (d(i), i)).take(p)
    new GenericArrayData(idx)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column wrappers. */
object VecFunctions {
  private def c(e: Expression): Column = GraftShim.column(e)
  private def e(col: Column): Expression = GraftShim.expression(col)

  def vec_dot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def vec_norm(a: Column): Column = c(VecNorm(e(a)))
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    c(MinHashSig(e(shingles), numHashes))
  def simhash64(shingles: Column): Column = c(SimHash64(e(shingles)))
  def sign_lsh_bands(vec: Column, bands: Int, planesPerBand: Int): Column =
    c(SignLshBands(e(vec), bands, planesPerBand))
  def long_array_eq_count(a: Column, b: Column): Column =
    c(LongArrayEqCount(e(a), e(b)))
  def array_intersect_count(a: Column, b: Column): Column =
    c(StringArrayIntersectCount(e(a), e(b)))
  def array_all_in_range(a: Column, lo: Double, hi: Double): Column =
    c(ArrayAllInRange(e(a), lo, hi))
  def array_count_out_of_range(a: Column, lo: Double, hi: Double): Column =
    c(ArrayCountOutOfRange(e(a), lo, hi))
  def array_count_eq(a: Column, target: Long): Column = c(ArrayCountEq(e(a), target))
  def array_pad_suffix_ok(a: Column, pad: Long): Column = c(ArrayPadSuffixOk(e(a), pad))
  def array_last_not_eq(a: Column, skip: Long): Column = c(ArrayLastNotEq(e(a), skip))
  def array_bad_segments(a: Column, sep: Long, minLen: Long, maxLen: Long): Column =
    c(ArrayBadSegmentCount(e(a), sep, minLen, maxLen))
  def word_shingles(text: Column, k: Int): Column = c(WordShingles(e(text), k))
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    c(NearestCentroid(e(vec), centroids))
  def nearest_centroids(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    c(NearestCentroids(e(vec), centroids, nprobe))
  def token_ngram_hashes(tokens: Column, n: Int): Column =
    c(TokenNgramHashes(e(tokens), n))
}
