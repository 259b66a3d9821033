package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row kernels of the dedup /
  * similarity operators.
  *
  * The same computations are expressible with built-in higher-order
  * functions (`transform`/`aggregate`/`zip_with` — see the git history of
  * [[graft.ops.Dedup]]), but HOF lambdas evaluate an expression tree per
  * array element per iteration. These expressions run one tight JVM loop
  * per row instead, with ARITHMETIC IDENTICAL to both the HOF versions and
  * the DuckDB oracles (md5-derived hashes, left-to-right summation), so
  * swapping them in changes no query result.
  *
  * All are deterministic scalar expressions: Catalyst can constant-fold,
  * push filters across, and pipeline them inside whole-stage codegen spans.
  * The suite-wide hot kernels (LowerTokens, Md5Prefix32/60, and the vector
  * kernels evaluated once per candidate PAIR in the ANN/k-NN scoring
  * loops) implement `doGenCode` as one static kernel call, so the
  * surrounding projection never leaves generated code: as CodegenFallback
  * they forced every enclosing projection to materialize an InternalRow
  * and box the result per row, which grew in-suite cpu-s 50-110% on the
  * dedup/text rows even while isolated walls improved (round-12 verdict).
  * The cold-path codecs (image/audio header parsers, one call per payload)
  * stay CodegenFallback: their per-row work dwarfs the boundary cost.
  */
object Hashes {

  private val digests = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  private def md5(bytes: Array[Byte]): Array[Byte] = {
    val md = digests.get()
    md.reset()
    md.digest(bytes)
  }

  /** First 8 md5 hex chars as a long — equals
    * `conv(substring(md5(x),1,8),16,10)`: the first 4 digest bytes read
    * big-endian as an unsigned 32-bit value (no hex string materialized). */
  def h32(s: UTF8String): Long = h32(s.getBytes)

  def h32(bytes: Array[Byte]): Long = {
    val d = md5(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 15 md5 hex chars (60 bits, positive) as a long: bytes 0..6 fully
    * plus the high nibble of byte 7. */
  def h60(s: UTF8String): Long = h60(s.getBytes)

  def h60(bytes: Array[Byte]): Long = {
    val d = md5(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }
}

/** Static tokenizer kernel shared by [[LowerTokens]]'s interpreted eval and
  * its generated code — one public static entry point so whole-stage-
  * generated Java calls it directly (same pattern as [[VectorKernels]]). */
object TextKernels {

  // compiled once per JVM; thread-safe (Pattern is immutable)
  private val delim = java.util.regex.Pattern.compile("[^a-z0-9']+")

  private def isTok(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '\''

  /** Lowercased word tokens — semantics documented on [[LowerTokens]]. */
  def lowerTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    var ascii = true
    while (i < n) { if (bytes(i) < 0) { ascii = false; i = n } else i += 1 }
    if (!ascii) {
      val parts = delim.split(s.toLowerCase.toString, -1)
      val out = new java.util.ArrayList[AnyRef](parts.length)
      var j = 0
      while (j < parts.length) {
        if (parts(j).nonEmpty) out.add(UTF8String.fromString(parts(j)))
        j += 1
      }
      return new GenericArrayData(out.toArray)
    }
    val out = new java.util.ArrayList[AnyRef]()
    i = 0
    while (i < n) {
      if (isTok(bytes(i))) {
        val start = i
        while (i < n && isTok(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var k = start
        while (k < i) {
          val b = bytes(k)
          tok(k - start) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          k += 1
        }
        out.add(UTF8String.fromBytes(tok))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct word n-gram shingles — semantics on [[WordShingles]]. */
  def wordShingles(toks: ArrayData, n: Int): ArrayData = {
    val num = toks.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= num) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Count of the most frequent word trigram — semantics on
    * [[MaxTrigramCount]]. */
  def maxTrigramCount(toks: ArrayData): Int = {
    val num = toks.numElements()
    if (num < 3) return 0
    val sep = UTF8String.fromString(" ")
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var best = 0
    var i = 0
    while (i + 3 <= num) {
      val tri = UTF8String.concatWs(sep,
        toks.getUTF8String(i), toks.getUTF8String(i + 1), toks.getUTF8String(i + 2))
      val c = counts.merge(tri, 1, (a: Integer, b: Integer) => a + b)
      if (c > best) best = c
      i += 1
    }
    best
  }

  /** k-component MinHash signature — semantics on [[MinHashSig]]. */
  def minhashSig(shingles: ArrayData, k: Int, p: Long): ArrayData = {
    val mins = Array.fill[Long](k)(p)
    var s = 0
    val num = shingles.numElements()
    while (s < num) {
      val h = Hashes.h32(shingles.getUTF8String(s))
      var i = 0
      while (i < k) {
        val perm = (h * (2 * i + 1) + (101 * i + 17)) % p
        if (perm < mins(i)) mins(i) = perm
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** 60-bit SimHash — semantics on [[SimHash64]]. */
  def simhash64(toks: ArrayData): Long = {
    val num = toks.numElements()
    val counts = new Array[Long](60)
    var t = 0
    while (t < num) {
      val h = Hashes.h60(toks.getUTF8String(t))
      var j = 0
      while (j < 60) {
        counts(j) += (h >> j) & 1L
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) * 2 > num) sig |= 1L << j
      j += 1
    }
    sig
  }
}

/** `conv(substring(md5(x),1,8),16,10)` cast long, without the intermediate
  * hex string: md5 the input bytes once and read the first 4 digest bytes
  * big-endian as an unsigned 32-bit value. The built-in chain materializes a
  * 32-char hex UTF8String per row, copies 8 chars of it, and re-parses them
  * base-16 — three expression nodes and two allocations that this removes
  * from every hashed-token hot path (guide §1.2 step 2 / §4 built-ins). The
  * value is bit-identical to the chain for every input, so no query result
  * changes. Generates code (one static [[Hashes]] call) so the hashed-token
  * projections of the dedup/classifier family stay inside their
  * whole-stage span — as CodegenFallback this kernel forced an InternalRow
  * materialization + boxed eval per row at ~18 call sites (round-12
  * verdict: 50-110% in-suite cpu growth on the dedup/text rows). */
case class Md5Prefix32(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    Hashes.h32(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Hashes.h32($a);")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
    copy(child = newChild)
}

/** First 15 md5 hex chars (60 bits, always positive) as a long — the native
  * form of `conv(substring(md5(x),1,15),16,10)` cast long; see
  * [[Md5Prefix32]]. */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    Hashes.h60(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Hashes.h60($a);")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

/** Lowercased word tokens of a string — equals
  * `filter(split(lower(text), "[^a-z0-9']+"), t => length(t) > 0)`,
  * the tokenizer every text/dedup operator builds on.
  *
  * Fast path: pure-ASCII input (the overwhelming case) is tokenized in one
  * byte scan — `A-Z` lowered by +32, tokens are the maximal runs of
  * `[a-z0-9']` bytes — with no UTF-16 conversion, no regex engine, and no
  * hex/array intermediates. Any non-ASCII byte falls back to literally the
  * built-in semantics (`UTF8String.toLowerCase`, then the compiled
  * `[^a-z0-9']+` split with limit −1, empties dropped): the fallback is
  * REQUIRED for exactness, not convenience, because lowercasing can create
  * ASCII letters from non-ASCII input (e.g. U+0130 İ lowercases to
  * `i` + combining dot), so a byte-level scan of the raw input would
  * mis-tokenize such strings. Multi-byte UTF-8 units never contain ASCII
  * bytes, which is what makes the ASCII-only scan sound.
  *
  * Generates code (one static [[TextKernels]] call): this expression heads
  * every tokenize projection of ~60 text/dedup rows, and as
  * CodegenFallback it severed each of those whole-stage spans (round-12
  * verdict: the walls improved but in-suite cpu-s grew 50-110% on the
  * rows that tokenize most). */
case class LowerTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.lowerTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.lowerTokens($a);")

  override protected def withNewChildInternal(newChild: Expression): LowerTokens =
    copy(child = newChild)
}

/** Distinct word n-gram shingles over a token array, first-occurrence
  * order — equals `array_distinct(transform(...concat_ws(" ", slice…)))`.
  * Generates code (static [[TextKernels]] call, n baked in as a literal):
  * it shares the shingle projections of the dedup family with
  * [[LowerTokens]], and ONE CodegenFallback expression in a projection
  * expels the whole projection from its whole-stage span. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.wordShingles($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Occurrences of the most frequent word trigram in a token array
  * (non-distinct: repetition is the point), 0 below 3 tokens — equals the
  * max over `count(*) GROUP BY concat_ws(" ", slice(toks, i, 3))` of the
  * exploded windows. One hash-map pass per row, so a per-document
  * repetition statistic needs no explode, shuffle or join. Generates code
  * (static [[TextKernels]] call) so it shares the tokenize projection's
  * whole-stage span with [[LowerTokens]]. */
case class MaxTrigramCount(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.maxTrigramCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.maxTrigramCount($a);")

  override protected def withNewChildInternal(newChild: Expression): MaxTrigramCount =
    copy(child = newChild)
}

/** k-component MinHash signature over a shingle array using the permutation
  * family h_i(x) = (h32(x)·(2i+1) + 101i+17) mod P; empty input yields the
  * sentinel signature [P, P, …] — exactly the fold in
  * [[graft.ops.Dedup.minhashSignature]]'s HOF formulation. */
case class MinHashSig(child: Expression, k: Int, p: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhashSig(input.asInstanceOf[ArrayData], k, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.minhashSig($a, $k, ${p}L);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 60-bit SimHash over a token array: bit j set when more token h60 hashes
  * have bit j set than clear (strict majority). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.simhash64($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Random-hyperplane LSH bucket of a float/double vector: bit p of the
  * bucket is set when the projection on deterministic hyperplane p is
  * ≥ 0, with component (p, i) = h32("p:i")/2^32 − 0.5 — arithmetic
  * identical to the HOF formulation in [[graft.ops.Similarity]] and the
  * DuckDB oracle (left-to-right product summation).
  *
  * The components depend only on (plane, dim), NOT on the row, so they
  * are md5-hashed once per JVM and cached — the HOF version re-evaluates
  * the md5/conv tree for every element of every row, which made the
  * bucketer the hot kernel of LSH ANN and unblocked embedding dedup. */
case class LshBucket(child: Expression, nPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val elemType =
    child.dataType.asInstanceOf[ArrayType].elementType

  // grown under synchronization, published via @volatile so plain reads
  // in the eval loop always see fully initialized arrays
  @transient @volatile private var comps: Array[Array[Double]] = _

  private def ensure(dims: Int): Array[Array[Double]] = synchronized {
    var cur = comps
    if (cur == null) cur = Array.fill(nPlanes)(Array.emptyDoubleArray)
    var p = 0
    while (p < nPlanes) {
      if (cur(p).length < dims) {
        val old = cur(p)
        val nw = java.util.Arrays.copyOf(old, dims)
        var i = old.length
        while (i < dims) {
          nw(i) = Hashes.h32(UTF8String.fromString(p + ":" + i)) / 4294967296.0 - 0.5
          i += 1
        }
        cur(p) = nw
      }
      p += 1
    }
    comps = cur
    cur
  }

  /** Public kernel entry point, shared by interpreted eval and the
    * generated code (which reaches this instance — and its cached
    * hyperplane components — through a codegen reference object). */
  def bucketOf(a: ArrayData): Int = {
    val n = a.numElements()
    // empty vectors and null elements poison every plane's projection in
    // the HOF formulation (sequence(0,-1) null-pads the zip; null proj →
    // sign 0), so the bucket degrades to 0 — mirror that exactly
    if (n == 0) return 0
    val cs = {
      val cur = comps
      if (cur != null && cur(0).length >= n) cur else ensure(n)
    }
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return 0; i += 1 }
    val isFloat = elemType == FloatType
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      val comp = cs(p)
      var acc = 0.0
      i = 0
      while (i < n) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        acc += x * comp(i)
        i += 1
      }
      if (acc >= 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  override protected def nullSafeEval(input: Any): Any =
    bucketOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBucket", this,
      classOf[LshBucket].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.bucketOf($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** Shared primitive loops for the vector expressions below — public
  * static-forwarded methods so whole-stage-generated Java calls them
  * directly (one static call per row, no boxing, no InternalRow
  * re-wrapping). Summation is left to right: the oracle's order. */
object VectorKernels {
  def dot(x: ArrayData, y: ArrayData, xf: Boolean, yf: Boolean): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  def sumSq(x: ArrayData, xf: Boolean): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      acc += v * v
      i += 1
    }
    acc
  }

  def sqDist(x: ArrayData, y: ArrayData, xf: Boolean, yf: Boolean): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  /** Index of the centroid (array<array<double>>) nearest to x by squared
    * L2, first-wins on exact ties — callers order centroids by ascending
    * cell id so this equals the (dist, cell) lexicographic argmin the
    * crossJoin + row_number formulation produced. Length-mismatched or
    * null centroid rows are skipped; -1 when nothing is comparable. */
  def argMin(x: ArrayData, cents: ArrayData, xf: Boolean): Int = {
    val k = cents.numElements()
    var best = -1
    var bestD = Double.PositiveInfinity
    var i = 0
    while (i < k) {
      if (!cents.isNullAt(i)) {
        val c = cents.getArray(i)
        if (c.numElements() == x.numElements()) {
          val d = sqDist(x, c, xf, yf = false)
          if (d < bestD) { bestD = d; best = i }
        }
      }
      i += 1
    }
    best
  }
}

/** 0-based index of the nearest centroid to a float/double vector by
  * squared L2 (left-to-right summation, first-wins ties — centroids are
  * passed ordered by ascending cell id, making this the exact (dist, cell)
  * argmin). Replaces the k-means / IVF crossJoin + row_number assignment:
  * one generated-code call per row against the literal centroid table —
  * map-only, no k-fold row blowup, no per-id window shuffle. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val i = VectorKernels.argMin(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftFloat)
    if (i < 0) null else i
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorKernels.argMin($a, $b, $leftFloat);
         |if (${ev.value} < 0) { ${ev.isNull} = true; }""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two double arrays, summed left to right (the oracle's
  * summation order); null when lengths differ — matching the
  * `aggregate(zip_with(...))` formulation's null-propagation. Unlike the
  * hash kernels this one implements `doGenCode`: the scoring loops of the
  * ANN/k-NN operators evaluate it once per candidate pair, so it stays
  * inside the whole-stage span as a static call instead of a boxed
  * `eval(InternalRow)` round-trip. */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    VectorKernels.dot(x, y, leftFloat, rightFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.dot($a, $b, $leftFloat, $rightFloat);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotDouble =
    copy(left = newLeft, right = newRight)
}

/** Left-to-right sum of squares of a float/double vector — the inner
  * aggregate of an L2 norm (`sqrt` stays a built-in on top), equal to
  * `aggregate(dbl(a), 0.0, (acc, v) => acc + v*v)`. */
case class SumSqDouble(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.sumSq(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.sumSq($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): SumSqDouble =
    copy(child = newChild)
}

/** Squared euclidean distance between two float/double vectors, summed
  * left to right — equals `aggregate(zip_with(dbl(a), dbl(b),
  * (x,y)=>(x-y)*(x-y)), 0.0, +)`; null when lengths differ (zip_with
  * null-padding poisons the HOF sum). The IVF/k-means hot kernel: cell
  * assignment evaluates this once per (row, centroid) pair. */
case class SqDistDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    VectorKernels.sqDist(x, y, leftFloat, rightFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.sqDist($a, $b, $leftFloat, $rightFloat);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SqDistDouble =
    copy(left = newLeft, right = newRight)
}

/** zlib compression ratio of a string: deflated bytes / raw UTF-8 bytes.
  * The classic cheap boilerplate/repetition detector (used by the Gopher
  * quality rules): templated or repetitive pages compress far below
  * natural prose, so a low ratio flags machine-generated filler without
  * any tokenization. Level-6 single-shot deflate — deterministic for a
  * given zlib, evaluated once per row. Empty strings define ratio 1.0
  * (nothing to compress, nothing saved). */
case class DeflateRatio(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    DeflateRatio.ratio(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DeflateRatio.ratio($a);")

  override protected def withNewChildInternal(newChild: Expression): DeflateRatio =
    copy(child = newChild)
}

/** Image-header metadata parsed from raw payload bytes — pure-JVM byte
  * inspection, no codec library: a PNG's dimensions live in the IHDR chunk
  * that the spec requires first after the 8-byte signature, and a JPEG's in
  * its SOFn frame header (markers C0–CF minus C4/C8/CC), so width, height
  * and channel count are readable from a few header bytes without ever
  * decoding pixel data. Returns struct(format, width, height, channels);
  * null for any byte stream that is neither (audio payloads, truncated or
  * corrupt headers) — decode of NON-header content (pixels, audio samples)
  * still requires a codec and stays stubbed in [[graft.ops.Multimodal]].
  *
  * Scale shape: per-row, map-only, reads at most the first few hundred
  * bytes of each payload (JPEG marker scan stops at the first SOF). */
case class ImageHeaderMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("channels", IntegerType)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ImageHeaderMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): ImageHeaderMeta =
    copy(child = newChild)
}

object ImageHeaderMeta {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private def row(fmt: String, w: Long, h: Long, c: Int): GenericInternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h, c))

  /** Null (not an exception) for anything unparseable: the operator runs
    * over crawled corpora where truncated files are data, not errors. */
  def parse(b: Array[Byte]): GenericInternalRow = {
    if (b.length >= 29 &&
        u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      // IHDR data: width(4 BE) height(4 BE) bitdepth(1) colortype(1) ...
      val channels = u8(b, 25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return null
      }
      return row("png", be32(b, 16), be32(b, 20), channels)
    }
    if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return null
        val m = u8(b, i + 1)
        if (m == 0xff) { i += 1 }                          // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) { i += 2 } // standalone
        else {
          val len = be16(b, i + 2)
          if (len < 2) return null
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            // SOFn: len(2) precision(1) height(2 BE) width(2 BE) ncomp(1)
            if (i + 9 >= b.length) return null
            return row("jpeg", be16(b, i + 7).toLong, be16(b, i + 5).toLong, u8(b, i + 9))
          }
          i += 2 + len
        }
      }
      return null
    }
    null
  }
}

object DeflateRatio {
  // LIFETIME: each thread's Deflater holds a native zlib stream that is
  // never end()'d — it lives for the life of the thread. Spark executor
  // task threads come from a fixed pool, so the steady state is one
  // stream per pool thread (bounded, intended). Do NOT call this
  // expression from short-lived ad-hoc threads in a loop; that pattern
  // would leak one native stream per dead thread until GC finalization.
  private val deflater: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6, false))
  private val scratch: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](64 * 1024))

  /** Static kernel entry point, shared by interpreted eval and the
    * generated code — semantics documented on [[DeflateRatio]]. */
  def ratio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    // one zlib stream + scratch buffer per executor thread, reset per
    // row: per-row `new Deflater` would pay a JNI stream init/teardown
    // and a document-sized allocation for every document in the corpus.
    // Only the deflated byte COUNT is needed, so a fixed buffer drained
    // in a loop suffices at any document size.
    val d = deflater.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = scratch.get()
    var total = 0L
    while (!d.finished()) {
      val n = d.deflate(buf)
      total += n
      // finish() + setInput guarantee progress until finished; a zero
      // return with an unfinished stream cannot happen for this usage
      // (kept as a defensive exit so a zlib anomaly can't spin forever)
      if (n == 0 && !d.finished()) return 1.0
    }
    total.toDouble / raw.length
  }
}

/** Audio-header metadata parsed from raw WAV (RIFF/WAVE) payload bytes —
  * pure-JVM byte inspection like [[ImageHeaderMeta]], no codec library:
  * the `fmt ` chunk carries channels/sample-rate/byte-rate/bit-depth and
  * the `data` chunk's declared size divided by the byte rate IS the clip
  * duration, so everything but the samples themselves reads straight off
  * the header. Returns struct(format, channels, sample_rate, bits,
  * data_bytes, seconds); null for anything that is not a parseable WAV
  * (crawled corpora carry truncated files as data, not errors). Decoding
  * SAMPLES (waveforms, spectrograms) still needs a codec and stays stubbed
  * in [[graft.ops.Multimodal]].
  *
  * Scale shape: per-row, map-only, walks only the chunk headers (stops at
  * the `data` chunk — for a standard 44-byte header that is one hop). */
case class AudioHeaderMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", LongType),
    StructField("bits", IntegerType),
    StructField("data_bytes", LongType),
    StructField("seconds", DoubleType)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    AudioHeaderMeta.parse(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): AudioHeaderMeta =
    copy(child = newChild)
}

object AudioHeaderMeta {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
      b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte

  def parse(b: Array[Byte]): GenericInternalRow = {
    if (b.length < 44 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    // Long cursor: see PcmFrameStats.dataSpan (Int-wrap OOB on crafted sizes).
    var li = 12L
    var channels = -1; var sampleRate = -1L; var byteRate = -1L; var bits = -1
    while (li + 8 <= b.length) {
      val i = li.toInt
      val size = le32(b, i + 4)
      if (tag(b, i, "fmt ")) {
        if (size < 16 || i + 8 + 16 > b.length) return null
        // PCM fmt: audioFormat(2) channels(2) sampleRate(4) byteRate(4)
        // blockAlign(2) bitsPerSample(2) — all little-endian
        channels = le16(b, i + 10)
        sampleRate = le32(b, i + 12)
        byteRate = le32(b, i + 16)
        bits = le16(b, i + 22)
      } else if (tag(b, i, "data")) {
        if (channels <= 0 || sampleRate <= 0 || byteRate <= 0) return null
        // the data chunk may legally be truncated in a crawled file; the
        // DECLARED size is the ground truth the header asserts. Seconds
        // stay UNROUNDED — callers round, and Spark's round() (HALF_UP)
        // then agrees with other engines where rint's half-to-even breaks
        // ties differently (e.g. 0.0045625 s)
        return new GenericInternalRow(Array[Any](
          UTF8String.fromString("wav"), channels, sampleRate, bits, size,
          size.toDouble / byteRate))
      }
      if (size < 0 || size > Int.MaxValue - 16) return null
      // chunks are word-aligned: odd sizes carry one pad byte
      li += 8 + size + (size & 1)
    }
    null
  }
}

/** REAL PCM sample decode: frame-level waveform statistics computed from
  * the raw 16-bit little-endian PCM samples of a WAV payload — the first
  * decode step past the header that needs NO codec library, because PCM
  * *is* the samples. Walks the RIFF chunks to the `data` chunk (same walk
  * as [[AudioHeaderMeta]]), interprets min(declared, available) bytes as
  * int16-LE, and emits one struct per `frameSamples`-wide frame:
  * (frame_idx, n_samples, rms, zero_crossings, peak). Null for anything
  * that is not a parseable WAV; an empty data chunk yields an empty array.
  *
  * These are the standard audio-gating signals of a training-data
  * pipeline: RMS energy (silence / clipping filters), zero-crossing rate
  * (voiced-vs-noise heuristic), per-frame peak (dynamic-range checks).
  * RMS is returned UNROUNDED — callers round, so Spark's HALF_UP and the
  * oracle agree. Zero crossings are counted within a frame only (sample i
  * vs i-1 where both fall in the frame), sign convention v < 0 vs v >= 0.
  *
  * Scale shape: per-row, map-only, one tight primitive loop over the
  * payload bytes — a 100 TB audio corpus decodes embarrassingly parallel
  * with no shuffle and no driver involvement. */
case class PcmFrameStats(child: Expression, frameSamples: Int)
    extends UnaryExpression with CodegenFallback {
  require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("rms", DoubleType),
    StructField("zero_crossings", IntegerType),
    StructField("peak", IntegerType))), containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PcmFrameStats.eval(input.asInstanceOf[Array[Byte]], frameSamples)

  override protected def withNewChildInternal(newChild: Expression): PcmFrameStats =
    copy(child = newChild)
}

object PcmFrameStats {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
      b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte

  /** Offset and byte count of the `data` chunk's payload, or null. The
    * chunk may legally be truncated in a crawled file: decode what is
    * actually present, never past the buffer. Shared with [[PcmSpectral]]. */
  private[functions] def dataSpanOf(b: Array[Byte]): Array[Int] = dataSpan(b)

  private def dataSpan(b: Array[Byte]): Array[Int] = {
    if (b.length < 44 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    // Long cursor: a crafted chunk size near Int.MaxValue would wrap an Int
    // cursor negative and index out of bounds; with a Long the advance just
    // walks past b.length and the loop terminates (null, per the contract).
    var i = 12L
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val size = le32(b, ii + 4)
      if (size < 0 || size > Int.MaxValue - 16) return null
      if (tag(b, ii, "data")) {
        val avail = math.min(size, (b.length - i - 8)).toInt
        return Array(ii + 8, math.max(avail, 0))
      }
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    null
  }

  def eval(b: Array[Byte], frameSamples: Int): GenericArrayData = {
    val span = dataSpan(b)
    if (span == null) return null
    val off = span(0)
    val n = span(1) / 2 // whole int16 samples; a trailing odd byte drops
    val nFrames = (n + frameSamples - 1) / frameSamples
    val out = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      val start = f * frameSamples
      val end = math.min(start + frameSamples, n)
      var sumSq = 0.0
      var zc = 0
      var peak = 0
      var prevNeg = false
      var i = start
      while (i < end) {
        val p = off + i * 2
        val v = ((u8(b, p) | (u8(b, p + 1) << 8)) << 16) >> 16 // sign-extend
        sumSq += v.toDouble * v
        val neg = v < 0
        if (i > start && neg != prevNeg) zc += 1
        prevNeg = neg
        val a = math.abs(v)
        if (a > peak) peak = a
        i += 1
      }
      val cnt = end - start
      out(f) = new GenericInternalRow(Array[Any](
        f, cnt, math.sqrt(sumSq / cnt), zc, peak))
      f += 1
    }
    new GenericArrayData(out)
  }
}

/** REAL G.711 μ-law decode + frame stats: parses a RIFF/WAVE stream whose
  * `fmt ` chunk declares formatTag 7 (μ-law, 8-bit mono/any-channel), maps
  * every code byte through the closed-form G.711 expansion
  * `u = ~code; t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7);
  *  pcm = (u & 0x80) != 0 ? 0x84 - t : t - 0x84`
  * (the ITU-T G.711 Table 2a/2b companding law — a pure integer formula,
  * so a SQL oracle replays every sample with shifts and masks, no golden
  * file), and emits the same per-frame (rms, zero_crossings, peak) rows
  * as [[PcmFrameStats]]. Non-WAV or non-μ-law payloads return null.
  * Interop is pinned against the JDK's own javax.sound μ-law converter in
  * MultimodalSpec (bit-equal samples). Per-row, map-only. */
case class UlawFrameStats(child: Expression, frameSamples: Int)
    extends UnaryExpression with CodegenFallback {
  require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")

  override def dataType: DataType = PcmFrameStats(child, frameSamples).dataType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    G711Codec.frameStats(input.asInstanceOf[Array[Byte]], frameSamples)

  override protected def withNewChildInternal(newChild: Expression): UlawFrameStats =
    copy(child = newChild)
}

object G711Codec {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** G.711 μ-law expansion of one code byte to a linear int16 sample. */
  @inline def ulawToPcm(code: Int): Int = {
    val u = (~code) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u >>> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law expansion of one code byte to a linear int16 sample:
    * even bits invert (the spec's 0x55 toggle), segment 0 is linear
    * (t = (m << 4) + 8), segments 1..7 shift with the implicit leading
    * one (t = ((m << 4) + 0x108) << (seg - 1)). */
  @inline def alawToPcm(code: Int): Int = {
    val a = (code ^ 0x55) & 0xff
    val seg = (a >>> 4) & 7
    val m = a & 0x0f
    val t = if (seg == 0) (m << 4) + 8 else ((m << 4) + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** (formatTag, bitsPerSample, blockAlign, extra...) from the `fmt `
    * chunk, or null. Shared by the compressed-audio decoders. */
  private[functions] def fmtChunk(b: Array[Byte]): Array[Int] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = le16(i).toLong | (le16(i + 2).toLong << 16)
    if (b.length < 44 || !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
      !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    // Long cursor: see PcmFrameStats.dataSpan — an Int cursor can wrap
    // negative on a crafted near-Int.MaxValue chunk size and index OOB.
    var li = 12L
    while (li + 8 <= b.length) {
      val i = li.toInt
      val size = le32(i + 4)
      if (size < 0 || size > Int.MaxValue - 16) return null
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
        if (size < 16 || i + 8 + 16 > b.length) return null
        val body = i + 8
        // tag, channels, bits, blockAlign, samplesPerBlock (cb extension
        // when present — IMA ADPCM stores it there)
        val spb = if (size >= 20 && body + 20 <= b.length) le16(body + 18) else 0
        return Array(le16(body), le16(body + 2), le16(body + 14),
          le16(body + 12), spb)
      }
      li += 8 + size + (size & 1)
    }
    null
  }

  /** `fact` chunk sample count, or -1 (used by block-padded codecs). */
  private[functions] def factSamples(b: Array[Byte]): Long = {
    def u8(i: Int) = b(i) & 0xff
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    // Long cursor: see PcmFrameStats.dataSpan (Int-wrap OOB on crafted sizes).
    var li = 12L
    while (li + 8 <= b.length) {
      val i = li.toInt
      val size = le32(i + 4)
      if (size < 0 || size > Int.MaxValue - 16) return -1
      if (b(i) == 'f' && b(i + 1) == 'a' && b(i + 2) == 'c' && b(i + 3) == 't') {
        if (size < 4 || i + 12 > b.length) return -1
        return le32(i + 8)
      }
      li += 8 + size + (size & 1)
    }
    -1
  }

  /** Shared frame-stat fold over decoded int16 samples — the same
    * (frame_idx, n_samples, rms, zero_crossings, peak) contract as
    * [[PcmFrameStats]], so every audio query downstream is codec-blind. */
  private[functions] def statsOver(samples: Array[Int],
                                   frameSamples: Int): GenericArrayData = {
    val n = samples.length
    val nFrames = (n + frameSamples - 1) / frameSamples
    val out = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      val start = f * frameSamples
      val end = math.min(start + frameSamples, n)
      var sumSq = 0.0
      var zc = 0
      var peak = 0
      var prevNeg = false
      var i = start
      while (i < end) {
        val v = samples(i)
        sumSq += v.toDouble * v
        val neg = v < 0
        if (i > start && neg != prevNeg) zc += 1
        prevNeg = neg
        val a = math.abs(v)
        if (a > peak) peak = a
        i += 1
      }
      val cnt = end - start
      out(f) = new GenericInternalRow(Array[Any](
        f, cnt, math.sqrt(sumSq / cnt), zc, peak))
      f += 1
    }
    new GenericArrayData(out)
  }

  def frameStats(b: Array[Byte], frameSamples: Int): Any =
    g711Stats(b, frameSamples, alaw = false)

  /** Shared μ-law/A-law path: WAVE_FORMAT_MULAW = 7, WAVE_FORMAT_ALAW = 6;
    * both are one-code-byte-per-sample table expansions. */
  private[functions] def g711Stats(b: Array[Byte], frameSamples: Int,
                                   alaw: Boolean): Any = {
    val want = if (alaw) 6 else 7
    val fmt = fmtChunk(b)
    if (fmt == null || fmt(0) != want || fmt(1) == 0 || fmt(2) != 8) return null
    val span = PcmFrameStats.dataSpanOf(b)
    if (span == null || span(1) <= 0) return null
    val samples = new Array[Int](span(1))
    var i = 0
    while (i < samples.length) {
      val c = b(span(0) + i) & 0xff
      samples(i) = if (alaw) alawToPcm(c) else ulawToPcm(c)
      i += 1
    }
    statsOver(samples, frameSamples)
  }
}

/** [[UlawFrameStats]]'s A-law sibling (WAV formatTag 6) — the other G.711
  * companding law, same closed-form integer expansion, same SQL-replayable
  * oracle contract, same javax.sound interop pin. */
case class AlawFrameStats(child: Expression, frameSamples: Int)
    extends UnaryExpression with CodegenFallback {
  require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")

  override def dataType: DataType = PcmFrameStats(child, frameSamples).dataType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    G711Codec.g711Stats(input.asInstanceOf[Array[Byte]], frameSamples, alaw = true)

  override protected def withNewChildInternal(newChild: Expression): AlawFrameStats =
    copy(child = newChild)
}

/** REAL IMA ADPCM (DVI4 / WAV formatTag 0x11) encode: 4-bit adaptive
  * differential PCM — the classic public compressed-audio codec (IMA
  * "Recommended Practices for Enhancing Digital Audio Compatibility",
  * rev 3.00; the same step/index tables every implementation shares).
  * Source samples are the text's UTF-8 bytes read as int16 LE pairs —
  * the identical convention [[graft.ops.Multimodal.packMedia]] uses for
  * raw PCM — packed into standard 4-byte-header blocks (predictor =
  * first sample verbatim, running step index carried across blocks) with
  * low-nibble-first sample pairs, plus the mandatory `fact` chunk so a
  * decoder knows where a padded final block ends. Every operation is
  * integer table arithmetic, so the emitted bytes are bit-reproducible —
  * the golden oracle rebuilds each payload with an independent pure-
  * Python port. Per-row, map-only. */
case class AdpcmWavEncode(text: Expression)
    extends UnaryExpression with CodegenFallback {
  override def child: Expression = text
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    AdpcmCodec.encodeWav(input.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): AdpcmWavEncode =
    copy(text = newChild)
}

/** REAL IMA ADPCM decode + frame stats: parses fmt 0x11, walks the
  * block-aligned nibble stream with the standard step/index adaptation,
  * honors the `fact` sample count (a padded final block decodes only its
  * real samples), and emits the [[PcmFrameStats]] frame-stat contract
  * over the reconstructed int16 samples. Non-ADPCM payloads return null.
  * Per-row, map-only. */
case class AdpcmFrameStats(child: Expression, frameSamples: Int)
    extends UnaryExpression with CodegenFallback {
  require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")

  override def dataType: DataType = PcmFrameStats(child, frameSamples).dataType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    AdpcmCodec.frameStats(input.asInstanceOf[Array[Byte]], frameSamples)

  override protected def withNewChildInternal(newChild: Expression): AdpcmFrameStats =
    copy(child = newChild)
}

object AdpcmCodec {
  /** IMA step-size table (89 entries) — public spec constants. */
  private[functions] val Steps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Index adaptation per nibble magnitude — public spec constants. */
  private[functions] val IndexAdjust: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** 256-byte blocks: 4-byte header + 252 nibble bytes = 505 samples. */
  private val BlockAlign = 256
  private val SamplesPerBlock = (BlockAlign - 4) * 2 + 1

  @inline private def clampPred(v: Int): Int =
    math.max(-32768, math.min(32767, v))
  @inline private def clampIdx(v: Int): Int = math.max(0, math.min(88, v))

  /** One IMA quantize step: returns the nibble and updates (pred, idx)
    * exactly as the decoder will — encoder and decoder share the
    * reconstruction arithmetic, the property that keeps drift bounded. */
  @inline private def encodeSample(sample: Int, pred: Int,
                                   idx: Int): (Int, Int, Int) = {
    val step = Steps(idx)
    var diff = sample - pred
    val sign = if (diff < 0) 8 else 0
    if (diff < 0) diff = -diff
    var delta = 0
    var vpdiff = step >> 3
    if (diff >= step) { delta = 4; diff -= step; vpdiff += step }
    if (diff >= (step >> 1)) { delta |= 2; diff -= step >> 1; vpdiff += step >> 1 }
    if (diff >= (step >> 2)) { delta |= 1; vpdiff += step >> 2 }
    val nibble = sign | delta
    val np = clampPred(if (sign != 0) pred - vpdiff else pred + vpdiff)
    val ni = clampIdx(idx + IndexAdjust(delta))
    (nibble, np, ni)
  }

  /** One IMA reconstruction step from a nibble: new (pred, idx). */
  @inline private def decodeNibble(nibble: Int, pred: Int,
                                   idx: Int): (Int, Int) = {
    val step = Steps(idx)
    val delta = nibble & 7
    var vpdiff = step >> 3
    if ((delta & 4) != 0) vpdiff += step
    if ((delta & 2) != 0) vpdiff += step >> 1
    if ((delta & 1) != 0) vpdiff += step >> 2
    val np = clampPred(if ((nibble & 8) != 0) pred - vpdiff else pred + vpdiff)
    (np, clampIdx(idx + IndexAdjust(delta)))
  }

  /** text bytes → int16 LE samples (trailing odd byte drops), IMA-encoded
    * into a complete WAV: RIFF / fmt(0x11, mono 8000 Hz, cbSize=2,
    * samplesPerBlock) / fact(true sample count) / data(256-byte blocks,
    * final block zero-nibble-padded). Empty text → null (no samples). */
  def encodeWav(text: Array[Byte]): Array[Byte] = {
    val n = text.length / 2
    if (n == 0) return null
    val samples = new Array[Int](n)
    var i = 0
    while (i < n) {
      samples(i) = (((text(2 * i) & 0xff) | ((text(2 * i + 1) & 0xff) << 8)) << 16) >> 16
      i += 1
    }
    val nBlocks = (n + SamplesPerBlock - 1) / SamplesPerBlock
    val dataLen = nBlocks * BlockAlign
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    out.write("RIFF".getBytes, 0, 4); le32(4 + 28 + 12 + 8 + dataLen)
    out.write("WAVE".getBytes, 0, 4)
    out.write("fmt ".getBytes, 0, 4); le32(20)
    le16(0x11); le16(1); le32(8000) // IMA ADPCM, mono, 8 kHz
    le32(8000 * BlockAlign / SamplesPerBlock) // avg bytes/sec
    le16(BlockAlign); le16(4) // block align, bits per sample
    le16(2); le16(SamplesPerBlock) // cbSize, samples per block
    out.write("fact".getBytes, 0, 4); le32(4); le32(n)
    out.write("data".getBytes, 0, 4); le32(dataLen)
    var pred = 0
    var idx = 0
    var s = 0
    var b = 0
    while (b < nBlocks) {
      pred = samples(s) // block header carries the first sample verbatim
      le16(pred & 0xffff); out.write(idx); out.write(0)
      s += 1
      var bytesOut = 0
      var lowNibble = -1
      while (bytesOut < BlockAlign - 4) {
        val nib =
          if (s < n && s < (b + 1) * SamplesPerBlock) {
            val (nb, np, ni) = encodeSample(samples(s), pred, idx)
            pred = np; idx = ni; s += 1
            nb
          } else 0 // pad nibbles beyond the fact count decode to nothing
        if (lowNibble < 0) lowNibble = nib
        else {
          out.write(lowNibble | (nib << 4)) // low nibble first
          lowNibble = -1
          bytesOut += 1
        }
      }
      b += 1
    }
    out.toByteArray
  }

  def frameStats(b: Array[Byte], frameSamples: Int): Any = {
    val fmt = G711Codec.fmtChunk(b)
    if (fmt == null || fmt(0) != 0x11 || fmt(1) != 1) return null
    val blockAlign = fmt(3)
    val spb = fmt(4)
    if (blockAlign < 5 || spb != (blockAlign - 4) * 2 + 1) return null
    val span = PcmFrameStats.dataSpanOf(b)
    if (span == null || span(1) < blockAlign) return null
    val total = G711Codec.factSamples(b)
    // the capacity bound ties the decode buffer to the actual payload
    // size (≤ ~2 bytes of samples per payload byte), but a crafted
    // blockAlign/spb pair on a giant payload can still push the bound
    // past Int.MaxValue — total.toInt would wrap negative and
    // new Array[Int] would throw instead of honoring the null contract
    if (total <= 0 || total > (span(1) / blockAlign).toLong * spb ||
        total > Int.MaxValue - 8) return null
    val samples = new Array[Int](total.toInt)
    var s = 0
    var blockOff = span(0)
    val dataEnd = span(0) + span(1)
    while (s < samples.length && blockOff + blockAlign <= dataEnd) {
      var pred = (((b(blockOff) & 0xff) | ((b(blockOff + 1) & 0xff) << 8)) << 16) >> 16
      var idx = b(blockOff + 2) & 0xff
      if (idx > 88 || (b(blockOff + 3) & 0xff) != 0) return null
      samples(s) = pred; s += 1
      var p = blockOff + 4
      var inBlock = 1
      while (p < blockOff + blockAlign && s < samples.length && inBlock < spb) {
        val byte = b(p) & 0xff
        var half = 0
        while (half < 2 && s < samples.length && inBlock < spb) {
          val nib = if (half == 0) byte & 0x0f else byte >>> 4
          val (np, ni) = decodeNibble(nib, pred, idx)
          pred = np; idx = ni
          samples(s) = pred; s += 1; inBlock += 1
          half += 1
        }
        p += 1
      }
      blockOff += blockAlign
    }
    if (s < samples.length) return null // data chunk shorter than fact
    G711Codec.statsOver(samples, frameSamples)
  }
}

/** Frequency-domain PCM analysis: per 64-sample frame, the DFT power at
  * bins 1..8 with QUANTIZED trig coefficients — the fixed-point-table
  * variant standard in embedded DSP, chosen here because it makes the
  * whole transform EXACT integer arithmetic: re/im are plain integer
  * sums (order-free at any parallelism), magnitudes descale by
  * `(|x| + 2^13) / 2^14` on nonnegative values (truncating and floor
  * division agree, so a SQL mirror replays every bit), and the power
  * `q_re^2 + q_im^2` stays far under 2^63. cos table = round-half-up of
  * `16384*cos(2*pi*j/64)`; sin indexes the SAME table shifted by 48
  * (exact by symmetry). Emits array<struct(frame_idx, bin, power)>; null
  * for non-WAV payloads. Per-row, map-only — a 100 TB audio corpus
  * transforms with no shuffle and no driver involvement. */
case class PcmSpectral(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("bin", IntegerType),
    StructField("power", LongType))), containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PcmSpectral.eval(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): PcmSpectral =
    copy(child = newChild)
}

object PcmSpectral {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  final val FrameLen = 64
  final val Bins = 8
  /** round-half-up(16384*cos(2*pi*j/64)), j = 0..63 — shared verbatim
    * with the SQL oracle's list literal. */
  final val Cos: Array[Int] = Array(
    16384, 16305, 16069, 15679, 15137, 14449, 13623, 12665, 11585, 10394,
    9102, 7723, 6270, 4756, 3196, 1606, 0, -1606, -3196, -4756, -6270,
    -7723, -9102, -10394, -11585, -12665, -13623, -14449, -15137, -15679,
    -16069, -16305, -16384, -16305, -16069, -15679, -15137, -14449, -13623,
    -12665, -11585, -10394, -9102, -7723, -6270, -4756, -3196, -1606, 0,
    1606, 3196, 4756, 6270, 7723, 9102, 10394, 11585, 12665, 13623, 14449,
    15137, 15679, 16069, 16305)

  private def descale(x: Long): Long = (math.abs(x) + 8192L) / 16384L

  def eval(b: Array[Byte]): GenericArrayData = {
    val span = PcmFrameStats.dataSpanOf(b)
    if (span == null) return null
    val off = span(0)
    val n = span(1) / 2
    val nFrames = (n + FrameLen - 1) / FrameLen
    val out = new Array[Any](nFrames * Bins)
    var f = 0
    while (f < nFrames) {
      val start = f * FrameLen
      val end = math.min(start + FrameLen, n)
      var k = 1
      while (k <= Bins) {
        var re = 0L
        var im = 0L
        var i = start
        while (i < end) {
          val p = off + i * 2
          val v = (((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)) << 16) >> 16
          val j = (k * (i - start)) % FrameLen
          re += v.toLong * Cos(j)
          im += v.toLong * Cos((j + 48) % FrameLen)
          i += 1
        }
        val qre = descale(re)
        val qim = descale(im)
        out(f * Bins + (k - 1)) = new GenericInternalRow(Array[Any](
          f, k, qre * qre + qim * qim))
        k += 1
      }
      f += 1
    }
    new GenericArrayData(out)
  }
}

/** REAL PPM (P6) pixel decode: parses the ASCII header (`P6`, width,
  * height, maxval, comments allowed) and averages the raw RGB bytes per
  * channel — a complete image decode for the one interchange format whose
  * pixel data is codec-free. Returns struct(width, height, n_pixels,
  * mean_r, mean_g, mean_b); null when the payload is not a P6 PPM. Means
  * are over the min(width*height, available) COMPLETE pixels (crawled
  * payloads truncate mid-raster; a partial trailing pixel drops), returned
  * UNROUNDED — callers round. Per-row, map-only, no shuffle at any scale. */
case class PpmPixelStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_pixels", LongType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PpmPixelStats.parse(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): PpmPixelStats =
    copy(child = newChild)
}

object PpmPixelStats {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Parse one whitespace-delimited ASCII integer starting at `i`,
    * skipping leading whitespace and `#` comment lines (the PPM spec
    * allows them anywhere in the header). Returns (value, nextIndex) or
    * null. */
  private def int(b: Array[Byte], i0: Int): Array[Long] = {
    var i = i0
    var guard = 0
    while (i < b.length && guard < (1 << 16)) {
      val c = b(i) & 0xff
      if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
      else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
      else if (c >= '0' && c <= '9') {
        var v = 0L
        while (i < b.length && b(i) >= '0' && b(i) <= '9' && v <= Int.MaxValue) {
          v = v * 10 + (b(i) - '0'); i += 1
        }
        if (v > Int.MaxValue) return null
        return Array(v, i)
      } else return null
      guard += 1
    }
    null
  }

  /** (width, height, rasterOffset) of a P6 header, or null. */
  private[functions] def header(b: Array[Byte]): Array[Int] = {
    if (b.length < 2 || b(0) != 'P' || b(1) != '6') return null
    val w = int(b, 2); if (w == null) return null
    val h = int(b, w(1).toInt); if (h == null) return null
    val mx = int(b, h(1).toInt); if (mx == null || mx(0) < 1 || mx(0) > 255) return null
    // spec: exactly ONE whitespace byte separates maxval from the raster
    val off = mx(1).toInt + 1
    if (off > b.length) return null
    Array(w(0).toInt, h(0).toInt, off)
  }

  def parse(b: Array[Byte]): GenericInternalRow = {
    val hd = header(b)
    if (hd == null) return null
    val width = hd(0); val height = hd(1); val off = hd(2)
    val declared = width.toLong * height
    val nPix = math.min(declared, ((b.length - off) / 3).toLong)
    if (nPix < 0) return null
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < nPix) {
      val p = off + i * 3
      sr += b(p) & 0xff; sg += b(p + 1) & 0xff; sb += b(p + 2) & 0xff
      i += 1
    }
    val d = math.max(nPix, 1L).toDouble
    new GenericInternalRow(Array[Any](width, height, nPix,
      sr / d, sg / d, sb / d))
  }
}

/** Shannon entropy (bits/byte) of the utf-8 byte distribution of a string
  * — the classic complementary signal to [[DeflateRatio]] for boilerplate
  * and gibberish detection (low entropy = repetitive/templated, ~8 bits =
  * random/binary-ish). One 256-bucket histogram per row, map-only.
  *
  * Computed as log2(n) − (Σ_b cnt_b·log2(cnt_b))/n with the sum taken in
  * ASCENDING byte order — the algebraic form and summation order the
  * DuckDB oracle replays term-for-term (`list(cnt ORDER BY byte)` +
  * left-to-right `list_sum`), so the doubles agree to the last bit before
  * rounding. Empty string → 0.0. Returned UNROUNDED — callers round. */
case class ByteEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[UTF8String].getBytes
    if (b.length == 0) return 0.0d
    val cnt = new Array[Int](256)
    var i = 0
    while (i < b.length) { cnt(b(i) & 0xff) += 1; i += 1 }
    val ln2 = math.log(2)
    var s = 0.0
    var c = 0
    while (c < 256) {
      if (cnt(c) > 0) s += cnt(c) * (math.log(cnt(c)) / ln2)
      c += 1
    }
    math.log(b.length) / ln2 - s / b.length
  }

  override protected def withNewChildInternal(newChild: Expression): ByteEntropy =
    copy(child = newChild)
}

/** REAL image resize for P6 PPM payloads: a `side`×`side` nearest-neighbor
  * thumbnail of the raster rows actually present (the standard cheap
  * perceptual fingerprint / preview step — and the pre-hash normalization
  * of image near-dup). Source pixel for thumbnail cell (r, c) is
  * (⌊r·hEff/side⌋, ⌊c·w/side⌋) over the hEff = min(h, available/3/w)
  * COMPLETE rows, so truncated crawl payloads resize over their valid
  * prefix. Returns the 3·side·side RGB bytes; null when the payload is
  * not a P6 PPM or carries no complete row. Per-row, map-only. */
case class PpmThumbnail(child: Expression, side: Int)
    extends UnaryExpression with CodegenFallback {
  require(side >= 1, s"side must be >= 1, got $side")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val hd = PpmPixelStats.header(b)
    if (hd == null) return null
    val w = hd(0); val h = hd(1); val off = hd(2)
    if (w <= 0) return null
    val hEff = math.min(h.toLong, ((b.length - off) / 3) / w).toInt
    if (hEff <= 0) return null
    val out = new Array[Byte](3 * side * side)
    var r = 0
    while (r < side) {
      val srcR = (r.toLong * hEff / side).toInt
      var c = 0
      while (c < side) {
        val srcC = (c.toLong * w / side).toInt
        val p = off + (srcR * w + srcC) * 3
        val o = (r * side + c) * 3
        out(o) = b(p); out(o + 1) = b(p + 1); out(o + 2) = b(p + 2)
        c += 1
      }
      r += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): PpmThumbnail =
    copy(child = newChild)
}

/** Perceptual difference-hash (dHash) of a P6 PPM payload: nearest-neighbor
  * sample a 9-wide × 7-tall integer-grayscale grid over the complete raster
  * rows present (same sampling arithmetic as [[PpmThumbnail]]), then set
  * bit r·8+c when gray(r,c) < gray(r,c+1) — 56 bits, always positive, the
  * classic near-dup fingerprint for images (near-identical images differ
  * in a few bits; hamming distance is the similarity). Gray is the integer
  * mean (R+G+B)/3 so the DuckDB oracle replays every bit. Null when the
  * payload is not a P6 PPM or carries no complete row. Per-row, map-only. */
case class PpmDHash(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val hd = PpmPixelStats.header(b)
    if (hd == null) return null
    val w = hd(0); val h = hd(1); val off = hd(2)
    if (w <= 0) return null
    val hEff = math.min(h.toLong, ((b.length - off) / 3) / w).toInt
    if (hEff <= 0) return null
    val gray = Array.ofDim[Int](7, 9)
    var r = 0
    while (r < 7) {
      val srcR = (r.toLong * hEff / 7).toInt
      var c = 0
      while (c < 9) {
        val srcC = (c.toLong * w / 9).toInt
        val p = off + (srcR * w + srcC) * 3
        gray(r)(c) = ((b(p) & 0xff) + (b(p + 1) & 0xff) + (b(p + 2) & 0xff)) / 3
        c += 1
      }
      r += 1
    }
    var sig = 0L
    r = 0
    while (r < 7) {
      var c = 0
      while (c < 8) {
        if (gray(r)(c) < gray(r)(c + 1)) sig |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): PpmDHash =
    copy(child = newChild)
}

/** REAL PNG encode: build a complete, spec-valid PNG (8-bit, non-
  * interlaced; color types 0/2/6) whose raster is the text's UTF-8 bytes
  * cycled to width×height×bpp. Per-scanline filter type is row % 5, so
  * every filter the PNG spec defines (None/Sub/Up/Average/Paeth) appears
  * in every image taller than 4 rows and a decoder must reconstruct all
  * five to recover the raster. IDAT is one zlib stream (level 6 — the
  * same public zlib CPython wraps, so an independently-built golden is
  * byte-identical); all chunk CRC32s are real. Reference behavior shape:
  * husqvarnagroup/GETL keeps binary payloads opaque
  * (getl/blocks/load/entrypoint.py batch readers) — this synthesizes the
  * payloads a real image ingest would carry so the decode path is
  * testable end-to-end. Per-row, map-only at any corpus size. */
case class PngEncode(text: Expression, widthExpr: Expression,
                     heightExpr: Expression, colorType: Expression)
    extends QuaternaryExpression with CodegenFallback {

  override def first: Expression = text
  override def second: Expression = widthExpr
  override def third: Expression = heightExpr
  override def fourth: Expression = colorType
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override protected def nullSafeEval(t: Any, w: Any, h: Any, ct: Any): Any =
    PngCodec.encode(t.asInstanceOf[UTF8String].getBytes,
      w.asInstanceOf[Int], h.asInstanceOf[Int], ct.asInstanceOf[Int])

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): PngEncode =
    copy(text = f, widthExpr = s, heightExpr = t, colorType = q)
}

/** REAL PNG pixel decode — no codec library, pure JVM: IDAT is a zlib
  * stream (`java.util.zip.Inflater`), and scanline reconstruction
  * (None/Sub/Up/Average/Paeth, per the PNG spec's filter definitions) is
  * plain byte arithmetic. Walks the chunk list, verifies IHDR/IDAT CRCs
  * (a real decoder rejects corrupt chunks), inflates, unfilters, and
  * averages per channel over the complete pixels present — truncated
  * streams decode their valid scanline prefix, exactly like the PPM
  * decoder, because crawled corpora carry truncated files as data.
  * Returns struct(width, height, color_type, n_pixels, mean_r, mean_g,
  * mean_b) — grayscale maps its single channel to all three means, alpha
  * never contributes; null for anything that is not a supported PNG
  * (interlaced, palette, or 16-bit images need tables/passes out of scope
  * for the 8-bit ingest shape). Per-row, map-only at any corpus size. */
case class PngPixelStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("color_type", IntegerType),
    StructField("n_pixels", LongType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PngCodec.pixelStats(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): PngPixelStats =
    copy(child = newChild)
}

object PngCodec {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private val SIG = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** Samples per pixel for the supported 8-bit color types. */
  private def bppOf(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => -1
  }

  private def chunk(out: java.io.ByteArrayOutputStream, tag: String,
                    data: Array[Byte]): Unit = {
    def be32(v: Long): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    out.write(be32(data.length), 0, 4)
    val tb = tag.getBytes("US-ASCII")
    out.write(tb, 0, 4)
    out.write(data, 0, data.length)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    out.write(be32(crc.getValue), 0, 4)
  }

  /** PNG filter prediction for byte i of a scanline: a = left (same
    * channel), b = above, c = upper-left — the spec's Paeth operands. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  def encode(text: Array[Byte], width: Int, height: Int, colorType: Int): Array[Byte] = {
    val bpp = bppOf(colorType)
    if (bpp < 0 || colorType == 4 || width <= 0 || height <= 0) return null
    val stride = width * bpp
    val raster = new Array[Byte](height * stride)
    if (text.nonEmpty) {
      var i = 0
      while (i < raster.length) { raster(i) = text(i % text.length); i += 1 }
    }
    // filter each scanline with filter type row % 5 (encode = subtract the
    // predictor; decode adds it back)
    val filtered = new Array[Byte](height * (1 + stride))
    var r = 0
    while (r < height) {
      val ft = r % 5
      val o = r * (1 + stride)
      filtered(o) = ft.toByte
      var i = 0
      while (i < stride) {
        val raw = raster(r * stride + i) & 0xff
        val a = if (i >= bpp) raster(r * stride + i - bpp) & 0xff else 0
        val b = if (r > 0) raster((r - 1) * stride + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) raster((r - 1) * stride + i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        filtered(o + 1 + i) = ((raw - pred) & 0xff).toByte
        i += 1
      }
      r += 1
    }
    val d = new java.util.zip.Deflater(6, false)
    d.setInput(filtered); d.finish()
    val zOut = new java.io.ByteArrayOutputStream(filtered.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      zOut.write(buf, 0, n)
    }
    d.end()
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val out = new java.io.ByteArrayOutputStream(zOut.size() + 128)
    out.write(SIG, 0, 8)
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", zOut.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  def pixelStats(b: Array[Byte]): GenericInternalRow = {
    if (b.length < 8) return null
    var i = 0
    while (i < 8) { if (b(i) != SIG(i)) return null; i += 1 }
    var width = -1L; var height = -1L; var colorType = -1; var bpp = -1
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8
    var done = false
    while (!done && pos + 8 <= b.length) {
      val len = be32(b, pos)
      if (len < 0 || len > Int.MaxValue || pos + 12 + len > b.length) return null
      val tag = new String(b, pos + 4, 4, "US-ASCII")
      val dataOff = pos + 8
      val crc = new java.util.zip.CRC32()
      crc.update(b, pos + 4, 4 + len.toInt)
      if (crc.getValue != be32(b, dataOff + len.toInt) &&
          (tag == "IHDR" || tag == "IDAT")) return null
      tag match {
        case "IHDR" =>
          if (len != 13) return null
          width = be32(b, dataOff); height = be32(b, dataOff + 4)
          val depth = b(dataOff + 8) & 0xff
          colorType = b(dataOff + 9) & 0xff
          val interlace = b(dataOff + 12) & 0xff
          bpp = bppOf(colorType)
          // 16-bit, palette, and interlaced images are out of the 8-bit
          // ingest scope — null, never a wrong answer
          if (depth != 8 || bpp < 0 || interlace != 0) return null
        case "IDAT" => idat.write(b, dataOff, len.toInt)
        case "IEND" => done = true
        case _ => ()                 // ancillary chunks skip; CRC unchecked
      }
      pos = dataOff + len.toInt + 4
    }
    if (width <= 0 || height <= 0 || bpp < 0 || idat.size() == 0) return null
    if (width * bpp + 1 > Int.MaxValue / math.max(height, 1)) return null
    val stride = (width * bpp).toInt
    val inf = new java.util.zip.Inflater(false)
    inf.setInput(idat.toByteArray)
    val expect = (height * (1 + stride)).toInt
    val filtered = new Array[Byte](expect)
    var got = 0
    var exhausted = false
    try {
      while (got < expect && !inf.finished() && !exhausted) {
        val n = inf.inflate(filtered, got, expect - got)
        // n == 0 can also mean needsDictionary() (FDICT streams, which PNG
        // forbids but crawled bytes may carry) — treat ANY zero-progress
        // state as end-of-stream so a crafted payload can't wedge the task
        if (n == 0) exhausted = true
        else got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return null }
    finally inf.end()
    // complete scanlines actually recovered (truncated payloads are data):
    // `got` counts only bytes the inflater really produced, so zero-filled
    // buffer tail never masquerades as decoded rows
    val rows = math.min(height, got.toLong / (1 + stride)).toInt
    if (rows <= 0) return null
    val raster = new Array[Byte](rows * stride)
    var r = 0
    while (r < rows) {
      val o = r * (1 + stride)
      val ft = filtered(o) & 0xff
      if (ft > 4) return null
      var i = 0
      while (i < stride) {
        val x = filtered(o + 1 + i) & 0xff
        val a = if (i >= bpp) raster(r * stride + i - bpp) & 0xff else 0
        val bb = if (r > 0) raster((r - 1) * stride + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) raster((r - 1) * stride + i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => bb
          case 3 => (a + bb) / 2
          case 4 => paeth(a, bb, c)
        }
        raster(r * stride + i) = ((x + pred) & 0xff).toByte
        i += 1
      }
      r += 1
    }
    val nPix = rows.toLong * width
    var (sr, sg, sb) = (0L, 0L, 0L)
    var p = 0
    while (p < nPix) {
      val o = p * bpp
      colorType match {
        case 0 | 4 =>
          val g = raster(o.toInt) & 0xff
          sr += g; sg += g; sb += g
        case _ =>
          sr += raster(o.toInt) & 0xff
          sg += raster(o.toInt + 1) & 0xff
          sb += raster(o.toInt + 2) & 0xff
      }
      p += 1
    }
    val dn = nPix.toDouble
    new GenericInternalRow(Array[Any](width, height, colorType, nPix,
      sr / dn, sg / dn, sb / dn))
  }
}

/** REAL baseline JPEG encode (ITU-T T.81): grayscale, 8-bit, sequential
  * DCT, the Annex K luminance quantization and Huffman tables — a
  * spec-valid JFIF-less JPEG any standard decoder reads (interop is
  * pinned against the JDK's own ImageIO reader in MultimodalSpec). The
  * raster is the text's UTF-8 bytes cycled to width×height, exactly like
  * [[PngEncode]]/PPM. All arithmetic is fixed-point integer (a 2^14
  * orthonormal DCT matrix, floor-division descales), so the emitted bytes
  * are bit-reproducible across JVMs AND across languages — the golden
  * oracle rebuilds every payload with an independent pure-Python port of
  * the same integer spec. Per-row, map-only at any corpus size.
  *
  * With `progressive = true` the same quantized coefficients emit as a
  * PROGRESSIVE JPEG (SOF2) through the classic six-scan successive-
  * approximation script (DC Al=1; AC 1-5 and 6-63 at Al=2; AC refine
  * 2→1; DC refine 1→0; AC refine 1→0) — a lossless reordering, so the
  * decoded raster is bit-identical to the baseline encode of the same
  * input. */
case class JpegEncode(text: Expression, widthExpr: Expression,
                      heightExpr: Expression, progressive: Boolean = false)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, widthExpr, heightExpr)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input); val w = widthExpr.eval(input)
    val h = heightExpr.eval(input)
    if (t == null || w == null || h == null) null
    else if (progressive)
      JpegCodec.encodeProgressive(t.asInstanceOf[UTF8String].getBytes,
        w.asInstanceOf[Int], h.asInstanceOf[Int])
    else JpegCodec.encode(t.asInstanceOf[UTF8String].getBytes,
      w.asInstanceOf[Int], h.asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): JpegEncode =
    copy(text = c(0), widthExpr = c(1), heightExpr = c(2))
}

/** REAL JPEG decode — no codec library, pure JVM: marker walk, canonical
  * Huffman decode (DC DPCM + AC run-length, byte unstuffing),
  * dequantization against the DQT actually present in the stream, and the
  * same fixed-point integer IDCT the encoder transposes. Handles both
  * SEQUENTIAL baseline (SOF0, one full-band scan) and PROGRESSIVE (SOF2,
  * any spec-valid multi-scan script: spectral selection bands, successive
  * approximation with DC/AC first and refinement passes, EOBn run codes) —
  * grayscale only (one component, no subsampling). Anything else
  * (multi-component, arithmetic coding, restart intervals, lossless SOFs)
  * returns null rather than a wrong answer. Returns struct(width, height,
  * n_pixels, mean_gray) over the cropped w×h raster. Per-row, map-only. */
case class JpegPixelStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_pixels", LongType),
    StructField("mean_gray", DoubleType)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    JpegCodec.pixelStats(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): JpegPixelStats =
    copy(child = newChild)
}

/** Baseline sequential JPEG, grayscale, fixed-point integer transforms.
  *
  * Every rounding step is `Math.floorDiv(x + half, 2*half)` — floor
  * division after adding half, identical to Python's `(x + half) // (2*half)`
  * — so an independent implementation reproduces the entropy stream
  * byte-for-byte. The DCT matrix is the orthonormal DCT-II scaled by 2^14,
  * committed as LITERALS (deriving it at runtime through libm cos would
  * tie bit-reproducibility to the platform's last-ulp cos behavior).
  * Reference behavior shape: husqvarnagroup/GETL carries binary payloads
  * opaquely (getl/blocks/load/entrypoint.py); this synthesizes and decodes
  * the payloads a real image ingest would carry. */
object JpegCodec {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Orthonormal DCT-II basis A[u][x] = c(u)/2·cos((2x+1)uπ/16), scaled by
    * 2^14 and rounded half-up. floor(A·2^14 + 0.5) literals. */
  private[functions] val A: Array[Array[Long]] = Array(
    Array(5793, 5793, 5793, 5793, 5793, 5793, 5793, 5793),
    Array(8035, 6811, 4551, 1598, -1598, -4551, -6811, -8035),
    Array(7568, 3135, -3135, -7568, -7568, -3135, 3135, 7568),
    Array(6811, -1598, -8035, -4551, 4551, 8035, 1598, -6811),
    Array(5793, -5793, -5793, 5793, 5793, -5793, -5793, 5793),
    Array(4551, -8035, 1598, 6811, -6811, -1598, 8035, -4551),
    Array(3135, -7568, 7568, -3135, -3135, 7568, -7568, 3135),
    Array(1598, -4551, 6811, -8035, 8035, -6811, 4551, -1598))

  /** Annex K Table K.1 luminance quantization (natural row-major order). */
  private[functions] val QLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Zigzag scan: natural index visited at each of the 64 positions. */
  private[functions] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.3.1: luminance DC code counts per length 1..16 + symbols. */
  private val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array.range(0, 12).map(_.toByte)

  /** Annex K.3.2: luminance AC code counts + the standard 162 symbols. */
  private val AcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83.toByte, 0x84.toByte, 0x85.toByte, 0x86.toByte, 0x87.toByte,
    0x88.toByte, 0x89.toByte, 0x8a.toByte, 0x92.toByte, 0x93.toByte,
    0x94.toByte, 0x95.toByte, 0x96.toByte, 0x97.toByte, 0x98.toByte,
    0x99.toByte, 0x9a.toByte, 0xa2.toByte, 0xa3.toByte, 0xa4.toByte,
    0xa5.toByte, 0xa6.toByte, 0xa7.toByte, 0xa8.toByte, 0xa9.toByte,
    0xaa.toByte, 0xb2.toByte, 0xb3.toByte, 0xb4.toByte, 0xb5.toByte,
    0xb6.toByte, 0xb7.toByte, 0xb8.toByte, 0xb9.toByte, 0xba.toByte,
    0xc2.toByte, 0xc3.toByte, 0xc4.toByte, 0xc5.toByte, 0xc6.toByte,
    0xc7.toByte, 0xc8.toByte, 0xc9.toByte, 0xca.toByte, 0xd2.toByte,
    0xd3.toByte, 0xd4.toByte, 0xd5.toByte, 0xd6.toByte, 0xd7.toByte,
    0xd8.toByte, 0xd9.toByte, 0xda.toByte, 0xe1.toByte, 0xe2.toByte,
    0xe3.toByte, 0xe4.toByte, 0xe5.toByte, 0xe6.toByte, 0xe7.toByte,
    0xe8.toByte, 0xe9.toByte, 0xea.toByte, 0xf1.toByte, 0xf2.toByte,
    0xf3.toByte, 0xf4.toByte, 0xf5.toByte, 0xf6.toByte, 0xf7.toByte,
    0xf8.toByte, 0xf9.toByte, 0xfa.toByte).map(_.toByte)

  /** Canonical Huffman codes per the T.81 C.2 procedure: for lengths
    * 1..16 assign `bits(len)` consecutive codes, then shift left. */
  private def buildCodes(bits: Array[Int], vals: Array[Byte]): Array[(Int, Int)] = {
    // symbol -> (code, length); dense array indexed by symbol byte
    val table = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k) & 0xff) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    table
  }
  private val DcCodes = buildCodes(DcBits, DcVals)
  private val AcCodes = buildCodes(AcBits, AcVals)

  /** Round-half-up descale shared with the Python mirror:
    * floorDiv(x + 2^(s-1), 2^s). */
  @inline private def descale(x: Long, s: Int): Long =
    Math.floorDiv(x + (1L << (s - 1)), 1L << s)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(value: Int, length: Int): Unit = {
      var i = length - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >>> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flushWithOnes(): Unit = {
      while (nbits != 0) put(1, 1)
    }
  }

  /** Bit size ("category") of a DC diff / AC coefficient magnitude. */
  @inline private def bitSize(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Quantized DCT coefficients per 8×8 block, row-major block order,
    * each block in ZIGZAG index order (zq(k) = coefficient at zigzag
    * position k) — the representation every entropy coder consumes. The
    * raster is text bytes cycled row-major (blank documents → mid gray),
    * edge-replicated past the crop; fDCT F = A·f·Aᵀ at scale 2^28 with
    * one floor-division descale, then Annex K quantization. */
  private def quantBlocks(text: Array[Byte], width: Int,
                          height: Int): Array[Array[Int]] = {
    val raster = new Array[Int](width * height)
    var i = 0
    while (i < raster.length) {
      raster(i) = if (text.nonEmpty) text(i % text.length) & 0xff else 128
      i += 1
    }
    val bw8 = (width + 7) / 8
    val bh8 = (height + 7) / 8
    val blocks = new Array[Array[Int]](bw8 * bh8)
    val f = new Array[Long](64)
    val tmp = new Array[Long](64)
    val q = new Array[Int](64)
    var by = 0
    while (by < bh8) {
      var bx = 0
      while (bx < bw8) {
        // level-shifted block, edge-replicated beyond the raster
        var y = 0
        while (y < 8) {
          val sy = math.min(by * 8 + y, height - 1)
          var x = 0
          while (x < 8) {
            val sx = math.min(bx * 8 + x, width - 1)
            f(y * 8 + x) = raster(sy * width + sx) - 128
            x += 1
          }
          y += 1
        }
        // F = A · f · Aᵀ at scale 2^28, one descale at the end
        var v = 0
        while (v < 8) { // tmp[v][x] = Σ_y A[v][y]·f[y][x]
          var x = 0
          while (x < 8) {
            var s = 0L; var y2 = 0
            while (y2 < 8) { s += A(v)(y2) * f(y2 * 8 + x); y2 += 1 }
            tmp(v * 8 + x) = s
            x += 1
          }
          v += 1
        }
        v = 0
        while (v < 8) { // F[v][u] = Σ_x tmp[v][x]·A[u][x], quantized
          var u = 0
          while (u < 8) {
            var s = 0L; var x2 = 0
            while (x2 < 8) { s += tmp(v * 8 + x2) * A(u)(x2); x2 += 1 }
            val coef = descale(s, 28)
            val qv = QLum(v * 8 + u)
            q(v * 8 + u) = Math.floorDiv(coef + qv / 2, qv).toInt
            u += 1
          }
          v += 1
        }
        val zq = new Array[Int](64)
        var k = 0
        while (k < 64) { zq(k) = q(Zigzag(k)); k += 1 }
        blocks(by * bw8 + bx) = zq
        bx += 1
      }
      by += 1
    }
    blocks
  }

  /** SOI + DQT + SOF + both Annex K DHTs — the header shared by the
    * sequential and progressive encoders (they differ only in the SOF
    * marker code and the scan script that follows). */
  private def writeHeaders(out: java.io.ByteArrayOutputStream, sof: Int,
                           width: Int, height: Int): Unit = {
    def be16(v: Int): Unit = { out.write(v >>> 8); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xdb); be16(2 + 1 + 64) // DQT, Pq=0 Tq=0, zigzag order
    out.write(0x00)
    var i = 0
    while (i < 64) { out.write(QLum(Zigzag(i))); i += 1 }
    marker(sof); be16(8 + 3) // SOF0/SOF2: precision 8, 1 component
    out.write(8); be16(height); be16(width); out.write(1)
    out.write(1); out.write(0x11); out.write(0) // id 1, 1x1 sampling, Tq 0
    def dht(cls: Int, bits: Array[Int], vals: Array[Byte]): Unit = {
      marker(0xc4); be16(2 + 1 + 16 + vals.length)
      out.write(cls << 4)
      bits.foreach(out.write)
      out.write(vals, 0, vals.length)
    }
    dht(0, DcBits, DcVals)
    dht(1, AcBits, AcVals)
  }

  private def writeSos(out: java.io.ByteArrayOutputStream, ss: Int, se: Int,
                       ah: Int, al: Int): Unit = {
    out.write(0xff); out.write(0xda)
    out.write(0); out.write(8) // length
    out.write(1); out.write(1); out.write(0x00) // 1 component, Td=0 Ta=0
    out.write(ss); out.write(se); out.write((ah << 4) | al)
  }

  def encode(text: Array[Byte], width: Int, height: Int): Array[Byte] = {
    if (width <= 0 || height <= 0) return null
    val blocks = quantBlocks(text, width, height)
    val out = new java.io.ByteArrayOutputStream()
    writeHeaders(out, 0xc0, width, height)
    writeSos(out, 0, 63, 0, 0)
    val bw = new BitWriter(out)
    var prevDc = 0
    var b = 0
    while (b < blocks.length) {
      val zq = blocks(b)
      // DC: DPCM + category bits
      val diff = zq(0) - prevDc
      prevDc = zq(0)
      val ds = bitSize(diff)
      val (dc, dl) = DcCodes(ds)
      bw.put(dc, dl)
      if (ds > 0)
        bw.put(if (diff >= 0) diff else diff + (1 << ds) - 1, ds)
      // AC: run-length over zigzag 1..63
      var run = 0
      var k = 1
      while (k < 64) {
        val ac = zq(k)
        if (ac == 0) run += 1
        else {
          while (run > 15) { val (c, l) = AcCodes(0xf0); bw.put(c, l); run -= 16 }
          val s = bitSize(ac)
          val (c, l) = AcCodes((run << 4) | s)
          bw.put(c, l)
          bw.put(if (ac >= 0) ac else ac + (1 << s) - 1, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (c, l) = AcCodes(0x00); bw.put(c, l) } // EOB
      b += 1
    }
    bw.flushWithOnes()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** PROGRESSIVE encode (SOF2) of the same quantized coefficients, via the
    * classic six-scan grayscale successive-approximation script:
    *
    *   1. DC first      Ss=0 Se=0  Ah=0 Al=1   (DPCM of dc >> 1)
    *   2. AC first      Ss=1 Se=5  Ah=0 Al=2   (low band, |ac| >> 2)
    *   3. AC first      Ss=6 Se=63 Ah=0 Al=2   (high band)
    *   4. AC refine     Ss=1 Se=63 Ah=2 Al=1
    *   5. DC refine     Ss=0 Se=0  Ah=1 Al=0   (raw low bit)
    *   6. AC refine     Ss=1 Se=63 Ah=1 Al=0
    *
    * All refinements complete, so decoding reconstructs EXACTLY the
    * baseline coefficients — the raster and pixel statistics of the
    * progressive payload equal the sequential encode's bit-for-bit. Uses
    * the same Annex K tables as [[encode]]; since that AC table carries no
    * EOBn symbols (only EOB0 0x00 and ZRL 0xF0), end-of-band runs emit as
    * per-block EOB0 — spec-valid, marginally less compact. */
  def encodeProgressive(text: Array[Byte], width: Int, height: Int): Array[Byte] = {
    if (width <= 0 || height <= 0) return null
    val blocks = quantBlocks(text, width, height)
    val out = new java.io.ByteArrayOutputStream()
    writeHeaders(out, 0xc2, width, height)

    def dcFirst(al: Int): Unit = {
      writeSos(out, 0, 0, 0, al)
      val bw = new BitWriter(out)
      var prevDc = 0
      var b = 0
      while (b < blocks.length) {
        val v = blocks(b)(0) >> al // DC point transform: arithmetic shift
        val diff = v - prevDc
        prevDc = v
        val ds = bitSize(diff)
        val (dc, dl) = DcCodes(ds)
        bw.put(dc, dl)
        if (ds > 0)
          bw.put(if (diff >= 0) diff else diff + (1 << ds) - 1, ds)
        b += 1
      }
      bw.flushWithOnes()
    }

    def dcRefine(ah: Int, al: Int): Unit = {
      writeSos(out, 0, 0, ah, al)
      val bw = new BitWriter(out)
      var b = 0
      while (b < blocks.length) {
        bw.put((blocks(b)(0) >> al) & 1, 1)
        b += 1
      }
      bw.flushWithOnes()
    }

    def acFirst(ss: Int, se: Int, al: Int): Unit = {
      writeSos(out, ss, se, 0, al)
      val bw = new BitWriter(out)
      var b = 0
      while (b < blocks.length) {
        val zq = blocks(b)
        var run = 0
        var k = ss
        while (k <= se) {
          val v = zq(k)
          // AC point transform: magnitude shift, sign reapplied (T.81
          // A.4's divide-toward-zero)
          val mag = math.abs(v) >> al
          if (mag == 0) run += 1
          else {
            while (run > 15) { val (c, l) = AcCodes(0xf0); bw.put(c, l); run -= 16 }
            val s = bitSize(mag)
            val (c, l) = AcCodes((run << 4) | s)
            bw.put(c, l)
            val sv = if (v >= 0) mag else -mag
            bw.put(if (sv >= 0) sv else sv + (1 << s) - 1, s)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (c, l) = AcCodes(0x00); bw.put(c, l) } // EOB0
        b += 1
      }
      bw.flushWithOnes()
    }

    def acRefine(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      writeSos(out, ss, se, ah, al)
      val bw = new BitWriter(out)
      var b = 0
      while (b < blocks.length) {
        val zq = blocks(b)
        // For this pass, band position k is: newly significant (temp == 1),
        // already significant from an earlier pass (temp > 1, owes one
        // correction bit), or still zero (temp == 0, counted in runs).
        // The bit stream is produced by SIMULATING the decode traversal —
        // after each symbol, emit exactly the correction bits the decoder
        // reads while honoring that symbol — so interleavings of runs,
        // ZRLs, and history coefficients can never desynchronize.
        @inline def temp(k: Int): Int = math.abs(zq(k)) >> al
        var c = ss // decode-traversal cursor
        var kn = ss
        while (kn <= se) {
          if (temp(kn) == 1) { // newly significant at kn
            var r = 0 // zero-history run length between the cursor and kn
            var t = c
            while (t < kn) { if (temp(t) == 0) r += 1; t += 1 }
            while (r > 15) {
              val (cc, ll) = AcCodes(0xf0); bw.put(cc, ll) // ZRL
              // its decode traversal consumes exactly 16 zero-history
              // positions (no temp==1 can intervene before kn), reading a
              // correction bit at each history coefficient passed
              var left = 16
              while (left > 0) {
                val t2 = temp(c)
                if (t2 > 1) bw.put(t2 & 1, 1) else left -= 1
                c += 1
              }
              r -= 16
            }
            val (cc, ll) = AcCodes((r << 4) | 1)
            bw.put(cc, ll)
            bw.put(if (zq(kn) < 0) 0 else 1, 1) // sign of the new coefficient
            while (c < kn) { // traversal up to the placement position
              val t2 = temp(c)
              if (t2 > 1) bw.put(t2 & 1, 1)
              c += 1
            }
            c = kn + 1
          }
          kn += 1
        }
        if (c <= se) { // band tail: EOB0, then history correction bits
          val (cc, ll) = AcCodes(0x00); bw.put(cc, ll)
          while (c <= se) {
            val t2 = temp(c)
            if (t2 > 1) bw.put(t2 & 1, 1)
            c += 1
          }
        }
        b += 1
      }
      bw.flushWithOnes()
    }

    dcFirst(1)
    acFirst(1, 5, 2)
    acFirst(6, 63, 2)
    acRefine(1, 63, 2, 1)
    dcRefine(1, 0)
    acRefine(1, 63, 1, 0)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  // ---------- decode ----------

  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var bad = false
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= data.length) { bad = true; return 0 }
        var b = data(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= data.length) { bad = true; return 0 }
          val b2 = data(pos) & 0xff; pos += 1
          if (b2 != 0x00) { bad = true; return 0 } // a marker ends the scan
          b = 0xff
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** Canonical Huffman decoder state: per length, the smallest code and
    * the index of its first symbol (T.81 F.2.2.3 DECODE procedure). */
  private final class HuffDecoder(bits: Array[Int], vals: Array[Byte]) {
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) == 0) { maxCode(len) = -1 }
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit()
      var len = 1
      while ((maxCode(len) < 0 || code > maxCode(len)) && len < 16) {
        code = (code << 1) | br.bit()
        len += 1
      }
      if (maxCode(len) < 0 || code > maxCode(len)) { br.bad = true; 0 }
      else vals(valPtr(len) + code - minCode(len)) & 0xff
    }
  }
  private val DcDec = new HuffDecoder(DcBits, DcVals)
  private val AcDec = new HuffDecoder(AcBits, AcVals)

  /** T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value. */
  @inline private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode one PROGRESSIVE scan's entropy segment into `coefs` (per-block
    * zigzag-order raw coefficient values, successive-approximation bits
    * accumulated in place — dequantization happens once, after the last
    * scan): DC first/refine, AC first/refine, EOBn runs, ZRL over
    * zero-history positions (T.81 G.2 procedures). Sequential streams
    * never come here — they stream block-at-a-time through
    * [[decodeSequentialSum]] with O(1) memory. Returns the data index
    * where the next marker search begins, or -1 if the stream is
    * corrupt. */
  private def decodeScan(data: Array[Byte], start: Int, coefs: Array[Int],
                         nBlocks: Int, dcDec: HuffDecoder, acDec: HuffDecoder,
                         ss: Int, se: Int, ah: Int, al: Int): Int = {
    val dcScan = ss == 0 && se == 0
    // scan-shape validity: progressive separates DC and AC bands
    if (!(dcScan || ss >= 1)) return -1
    if (se > 63 || ss > se || al > 13 || ah > 13) return -1
    if (ss == 0 && ah == 0 && dcDec == null) return -1
    if (se >= 1 && acDec == null) return -1
    val br = new BitReader(data, start)
    val p1 = 1 << al
    val m1 = -p1
    var prevDc = 0
    var eobrun = 0
    var b = 0
    while (b < nBlocks) {
      val off = b * 64
      if (ss == 0) { // DC coefficient (alone, or leading the full scan)
        if (ah == 0) {
          val s = dcDec.decode(br)
          if (s > 15) { br.bad = true }
          else {
            prevDc += extend(br.bits(s), s)
            coefs(off) = prevDc << al
          }
        } else if (br.bit() == 1) coefs(off) = coefs(off) | p1
      }
      if (se >= 1) { // AC band (1..63 in the full scan, Ss..Se otherwise)
        val ks = math.max(ss, 1)
        var k = ks
        if (ah == 0) { // first pass
          if (eobrun > 0) eobrun -= 1
          else {
            var done = false
            while (!done && k <= se) {
              val rs = acDec.decode(br)
              val r = rs >>> 4; val s = rs & 0xf
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else { // EOBn: 2^r - 1 + appended bits FURTHER blocks end
                  eobrun = (1 << r) - 1
                  if (r > 0) eobrun += br.bits(r)
                  done = true
                }
              } else {
                k += r
                if (k > se) { br.bad = true; done = true }
                else {
                  coefs(off + k) = extend(br.bits(s), s) << al
                  k += 1
                }
              }
            }
          }
        } else { // AC refinement (T.81 G.2, correction-bit traversal)
          if (eobrun == 0) {
            var done = false
            while (!done && k <= se && !br.bad) {
              val rs = acDec.decode(br)
              var r = rs >>> 4; val s = rs & 0xf
              var newval = 0
              if (s == 0) {
                if (r != 15) { // EOBn: counts INCLUDING this block
                  eobrun = 1 << r
                  if (r > 0) eobrun += br.bits(r)
                  done = true
                } // r == 15: ZRL — 16 zero-history positions skip below
              } else {
                if (s != 1) { br.bad = true; done = true }
                else newval = if (br.bit() == 1) p1 else m1
              }
              if (!done && !br.bad) {
                // advance over r zero-HISTORY positions, reading a
                // correction bit at every already-significant one passed
                var placed = false
                while (!placed && k <= se && !br.bad) {
                  val c = coefs(off + k)
                  if (c != 0) {
                    if (br.bit() == 1 && (c & p1) == 0)
                      coefs(off + k) = if (c > 0) c + p1 else c + m1
                    k += 1
                  } else if (r == 0) placed = true
                  else { r -= 1; k += 1 }
                }
                if (newval != 0) {
                  if (!placed) br.bad = true // new coefficient past Se
                  else coefs(off + k) = newval
                }
                if (placed) k += 1
              }
            }
          }
          if (eobrun > 0 && !br.bad) {
            // remainder of this block's band: correction bits only
            while (k <= se) {
              val c = coefs(off + k)
              if (c != 0 && br.bit() == 1 && (c & p1) == 0)
                coefs(off + k) = if (c > 0) c + p1 else c + m1
              k += 1
            }
            eobrun -= 1
          }
        }
      }
      if (br.bad) return -1
      b += 1
    }
    // entropy data ends at the next marker (skipping stuffed FF00 pairs
    // and the pad bits of the final byte)
    var p = br.pos
    while (p + 1 < data.length &&
      !((data(p) & 0xff) == 0xff && (data(p + 1) & 0xff) != 0x00)) p += 1
    if (p + 1 >= data.length) data.length else p
  }

  /** Dequantize one block's zigzag-order raw coefficients (64 ints at
    * `off`), IDCT at scale 2^28, and return the sum of its clipped pixels
    * that fall inside the image bounds. `coef`/`tmp` are caller-provided
    * 64-element scratch so the per-block path allocates nothing. */
  private def idctBlockSum(raw: Array[Int], off: Int, qt: Array[Int],
                           by: Int, bx: Int, width: Int, height: Int,
                           coef: Array[Long], tmp: Array[Long]): Long = {
    // dequantize: qt is stored in zigzag order, so zigzag position k
    // dequantizes with qt(k), landing at natural Zigzag(k)
    java.util.Arrays.fill(coef, 0L)
    var k = 0
    while (k < 64) {
      val c = raw(off + k)
      if (c != 0) coef(Zigzag(k)) = c.toLong * qt(k)
      k += 1
    }
    // IDCT f = Aᵀ·F·A at scale 2^28: F[v][u] natural layout, v the
    // vertical frequency — f[y][x] = Σ_v Σ_u A[v][y]·F[v][u]·A[u][x]
    var y = 0
    while (y < 8) { // tmp[y][u] = Σ_v A[v][y]·F[v][u]
      var u = 0
      while (u < 8) {
        var sAcc = 0L; var v2 = 0
        while (v2 < 8) { sAcc += A(v2)(y) * coef(v2 * 8 + u); v2 += 1 }
        tmp(y * 8 + u) = sAcc
        u += 1
      }
      y += 1
    }
    var sum = 0L
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val py = by * 8 + y
        val px = bx * 8 + x
        if (py < height && px < width) {
          var sAcc = 0L; var u2 = 0
          while (u2 < 8) { sAcc += tmp(y * 8 + u2) * A(u2)(x); u2 += 1 }
          val p = descale(sAcc, 28) + 128
          sum += math.max(0, math.min(255, p.toInt))
        }
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Streaming decode of the single sequential (SOF0) scan: each block's
    * 64 raw coefficients decode into a reused buffer and IDCT immediately —
    * memory is O(1) in the geometry, the pre-progressive single-scan shape.
    * Returns the total clipped-pixel sum, or -1 if the stream is corrupt. */
  private def decodeSequentialSum(data: Array[Byte], start: Int,
                                  bw8: Int, bh8: Int, width: Int, height: Int,
                                  qt: Array[Int], dcDec: HuffDecoder,
                                  acDec: HuffDecoder): Long = {
    val br = new BitReader(data, start)
    val raw = new Array[Int](64)
    val coef = new Array[Long](64)
    val tmp = new Array[Long](64)
    var prevDc = 0
    var sum = 0L
    var by = 0
    while (by < bh8) {
      var bx = 0
      while (bx < bw8) {
        java.util.Arrays.fill(raw, 0)
        val s = dcDec.decode(br)
        if (s > 15) br.bad = true
        else { prevDc += extend(br.bits(s), s); raw(0) = prevDc }
        var k = 1
        var done = br.bad
        while (!done && k <= 63) {
          val rs = acDec.decode(br)
          val r = rs >>> 4; val sz = rs & 0xf
          if (sz == 0) {
            if (r == 15) k += 16 else done = true // ZRL / EOB
          } else {
            k += r
            if (k > 63) { br.bad = true; done = true }
            else { raw(k) = extend(br.bits(sz), sz); k += 1 }
          }
        }
        if (br.bad) return -1L
        sum += idctBlockSum(raw, 0, qt, by, bx, width, height, coef, tmp)
        bx += 1
      }
      by += 1
    }
    sum
  }

  def pixelStats(data: Array[Byte]): Any = {
    if (data == null || data.length < 4 ||
      (data(0) & 0xff) != 0xff || (data(1) & 0xff) != 0xd8) return null
    var pos = 2
    var width = 0; var height = 0
    val qtabs = new Array[Array[Int]](4)   // zigzag order as stored, by Tq
    val dcTabs = new Array[HuffDecoder](4) // by Th, from DHT segments
    val acTabs = new Array[HuffDecoder](4)
    var sofTq = 0
    var haveSof = false
    var progressive = false
    var coefs: Array[Int] = null // nBlocks×64, zigzag order, raw pre-dequant
    var nBlocks = 0
    var seqSum = -1L // sequential scans stream their pixel sum directly
    var sawScan = false
    var atEnd = false
    while (!atEnd && pos + 1 < data.length) {
      if ((data(pos) & 0xff) != 0xff) return null
      // T.81 B.1.1.2: any number of 0xFF fill bytes may pad before the
      // marker code; the code is the first non-FF byte
      var mp = pos + 1
      while (mp < data.length && (data(mp) & 0xff) == 0xff) mp += 1
      if (mp >= data.length) return null
      val m = data(mp) & 0xff
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) { pos = mp + 1 } // TEM/RSTn/SOI: standalone, no length
      else if (m == 0xd9) { // EOI: done (an EOI before any scan = no image)
        if (!sawScan) return null
        atEnd = true
      }
      else {
        if (mp + 2 >= data.length) return null
        val len = ((data(mp + 1) & 0xff) << 8) | (data(mp + 2) & 0xff)
        if (len < 2 || mp + 1 + len > data.length) return null
        val body = mp + 3
        val end = body + (len - 2)
        m match {
          case 0xdb => // DQT: one OR MORE tables per segment, 8- or 16-bit
            var p = body
            while (p < end) {
              val pq = (data(p) & 0xff) >>> 4
              val tq = data(p) & 0x0f
              if (tq > 3 || pq > 1) return null
              val step = if (pq == 0) 1 else 2
              if (p + 1 + 64 * step > end) return null
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(i) = if (pq == 0) data(p + 1 + i) & 0xff
                       else ((data(p + 1 + 2 * i) & 0xff) << 8) |
                            (data(p + 2 + 2 * i) & 0xff)
                i += 1
              }
              qtabs(tq) = t
              p += 1 + 64 * step
            }
          case 0xc0 | 0xc2 => // SOF0 sequential / SOF2 progressive
            if (haveSof) return null // a second frame header is corrupt
            if (end - body < 9 || (data(body) & 0xff) != 8) return null
            height = ((data(body + 1) & 0xff) << 8) | (data(body + 2) & 0xff)
            width = ((data(body + 3) & 0xff) << 8) | (data(body + 4) & 0xff)
            if ((data(body + 5) & 0xff) != 1) return null // grayscale only
            sofTq = data(body + 8) & 0x0f // component spec: C, HxV, Tq
            if (sofTq > 3 || width <= 0 || height <= 0) return null
            progressive = m == 0xc2
            haveSof = true
            val bw8 = (width + 7) / 8
            val bh8 = (height + 7) / 8
            if (progressive) {
              // the multi-scan store holds every block's coefficients;
              // 2^18 blocks (a 4096×4096 frame, 64 MiB of ints) bounds
              // the per-row allocation a crafted geometry could demand
              if (bw8.toLong * bh8 > (1L << 18)) return null
              nBlocks = bw8 * bh8
              coefs = new Array[Int](nBlocks * 64)
            } else {
              // sequential streams block-by-block through a 64-element
              // buffer (O(1) memory — decodeSequentialSum derives its own
              // geometry), so it keeps the wider pre-SOF2 bound:
              // 2^20 blocks = 8192×8192
              if (bw8.toLong * bh8 > (1L << 20)) return null
            }
          case 0xc4 => // DHT: one OR MORE tables; build real decoders
            var p = body
            while (p < end) {
              if (p + 17 > end) return null
              val tc = (data(p) & 0xff) >>> 4
              val th = data(p) & 0x0f
              if (tc > 1 || th > 3) return null
              val hbits = new Array[Int](16)
              var total = 0
              var i = 0
              while (i < 16) {
                hbits(i) = data(p + 1 + i) & 0xff; total += hbits(i); i += 1
              }
              if (total > 256 || p + 17 + total > end) return null
              val hvals = new Array[Byte](total)
              System.arraycopy(data, p + 17, hvals, 0, total)
              val dec = new HuffDecoder(hbits, hvals)
              if (tc == 0) dcTabs(th) = dec else acTabs(th) = dec
              p += 17 + total
            }
          case 0xdd => // DRI: restart intervals are out of scope — only a
            // zero interval (no RSTn in the entropy stream) is accepted
            if (len != 4) return null
            if ((((data(body) & 0xff) << 8) | (data(body + 1) & 0xff)) != 0)
              return null
          case 0xda => // SOS: decode this scan into the coefficient store
            if (!haveSof) return null
            if (end - body < 6 || (data(body) & 0xff) != 1) return null
            val dcSel = (data(body + 2) & 0xff) >>> 4
            val acSel = data(body + 2) & 0x0f
            if (dcSel > 3 || acSel > 3) return null
            val ss = data(body + 3) & 0xff
            val se = data(body + 4) & 0xff
            val ah = (data(body + 5) & 0xff) >>> 4
            val al = data(body + 5) & 0x0f
            // the scan decodes with ITS OWN tables; fall back to Annex K
            // only when the stream omits DHT entirely (abbreviated streams)
            val dcDec = if (dcTabs(dcSel) != null) dcTabs(dcSel) else DcDec
            val acDec = if (acTabs(acSel) != null) acTabs(acSel) else AcDec
            if (!progressive) {
              // sequential = exactly one full scan, streamed (tables must
              // precede the scan, per T.81); trailing bytes after it are
              // tolerated, as they always were
              if (!(ss == 0 && se == 63 && ah == 0 && al == 0)) return null
              val qt = qtabs(sofTq)
              if (qt == null) return null
              seqSum = decodeSequentialSum(data, mp + 1 + len,
                (width + 7) / 8, (height + 7) / 8, width, height,
                qt, dcDec, acDec)
              if (seqSum < 0) return null
              sawScan = true
              atEnd = true
            } else {
              val nx = decodeScan(data, mp + 1 + len, coefs, nBlocks,
                dcDec, acDec, ss, se, ah, al)
              if (nx < 0) return null
              sawScan = true
              pos = nx
            }
          case x if x >= 0xc1 && x <= 0xcf =>
            return null // unsupported SOF (extended/lossless/arith) / DAC
          case _ => ()
        }
        if (m != 0xda) pos = mp + 1 + len
      }
    }
    // a truncated progressive stream (no EOI) still decodes the scans
    // that arrived — that is the format's defining property
    if (!haveSof || !sawScan) return null
    val n = width.toLong * height
    val sum =
      if (!progressive) seqSum // already streamed at the scan
      else {
        val qt = qtabs(sofTq)
        if (qt == null) return null
        val bw8 = (width + 7) / 8
        val bh8 = (height + 7) / 8
        val coef = new Array[Long](64)
        val tmp = new Array[Long](64)
        var acc = 0L
        var by = 0
        while (by < bh8) {
          var bx = 0
          while (bx < bw8) {
            acc += idctBlockSum(coefs, (by * bw8 + bx) * 64, qt,
              by, bx, width, height, coef, tmp)
            bx += 1
          }
          by += 1
        }
        acc
      }
    new GenericInternalRow(Array[Any](width.toLong, height.toLong, n,
      sum.toDouble / n))
  }
}
