package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Java-visible interface for the shingle-kernel codegen call site: the
  * generated code holds the kernel as a reference object typed by this
  * trait's clean (un-mangled) binary name.
  */
trait ShingleKernel extends Serializable {
  def compute(s: UTF8String): ArrayData
}

/** Java-visible interface for array-in/array-out vector kernels (the
  * ShingleKernel rule applied to array<double> inputs). */
trait VecKernel extends Serializable {
  def compute(v: ArrayData): ArrayData
}

/** Java-visible interface for the argmin-centroid codegen call site
  * (`graft_argmin_centroid` — the k-means assignment at SCALE k). */
trait CentroidKernel extends Serializable {
  /** cid of the nearest centroid under dist = qq + qvx·ext_c (ties →
    * lowest cid), or Long.MinValue when the vector is malformed (wrong
    * length / NULL element) — mapped to SQL NULL by the expression. */
  def assign(qvx: ArrayData, qq: Double): Long
}

/** Argmin over a centroid matrix as ONE compiled loop. The k=8 registry
  * path inlines k `graft_dot`s under a `least()` — fine at testbed k, but
  * the expression tree is O(k) generated source and Janino's 64 KB method
  * limit kills it near k ≈ 100 (measured: a hard job abort at k = 256,
  * tools/IvfScaleSmoke). Here k only grows the referenced matrix, not the
  * code. Same exact arithmetic as the inline form: every term is
  * integer-valued (see KMeansOps), so accumulation order is irrelevant
  * and ties are exact; iteration ascends the cents order and improves on
  * strict `<` or equal-dist-lower-cid, reproducing the composite
  * `dist·CompBase + cid` argmin bit-for-bit.
  */
final class ArgminCentroidKernel(cids: Array[Long], exts: Array[Array[Double]])
    extends CentroidKernel {
  require(cids.length == exts.length && cids.nonEmpty,
    s"argmin centroids malformed: ${cids.length} cids, ${exts.length} rows")

  override def assign(qvx: ArrayData, qq: Double): Long = {
    val d = exts(0).length
    if (qvx.numElements() != d) return Long.MinValue
    val q = new Array[Double](d)
    var j = 0
    while (j < d) {
      if (qvx.isNullAt(j)) return Long.MinValue
      q(j) = qvx.getDouble(j)
      j += 1
    }
    var bestCid = Long.MaxValue
    var bestDist = Double.PositiveInfinity
    var taken = false
    var c = 0
    while (c < exts.length) {
      val e = exts(c)
      var acc = qq
      var i = 0
      while (i < d) { acc += q(i) * e(i); i += 1 }
      if (acc < bestDist || (acc == bestDist && cids(c) < bestCid)) {
        bestDist = acc
        bestCid = cids(c)
        taken = true
      }
      c += 1
    }
    // a NaN acc loses every comparison; if EVERY distance was NaN (a NaN
    // slipping past the upstream finiteness gates), no centroid was ever
    // taken — surface SQL NULL, not the Long.MaxValue sentinel as a cid
    if (taken) bestCid else Long.MinValue
  }
}

/** Shared byte-level tokenizer for the shingle kernels. */
private[functions] object Tokenize {
  /** Flat [start0, end0, start1, end1, …] byte ranges of the non-empty
    * space-separated tokens of `bytes` (UTF-8; 0x20 never occurs inside a
    * multi-byte character, so byte-level splitting is codepoint-safe).
    */
  def ranges(bytes: Array[Byte]): Array[Int] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Int](32)
    val n = bytes.length
    var i = 0
    var tokStart = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        if (i > tokStart) { buf += tokStart; buf += i }
        tokStart = i + 1
      }
      i += 1
    }
    buf.toArray
  }
}

/** Rolling-hash kernel behind `graft_window_hashes`: one pass over the
  * canonical token stream (tokens joined by single spaces) builds prefix
  * hashes H and powers PW of the polyhash base, then every W-token window
  * hash is H[b] − H[a]·PW[b−a] (mod 2³¹−1) — two multiplies per window.
  * Top-level class so the codegen reference object has a clean binary
  * name (the ShingleKernel rule).
  */
final class WindowHashKernel(w: Int, base: Long = 131L) extends ShingleKernel {
  private val Mod = VectorExpressions.HashMod

  override def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val r = Tokenize.ranges(bytes)
    val nTok = r.length / 2
    if (nTok < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    var streamLen = nTok - 1
    var t = 0
    while (t < nTok) { streamLen += r(2 * t + 1) - r(2 * t); t += 1 }
    val h = new Array[Long](streamLen + 1)
    val pw = new Array[Long](streamLen + 1)
    val tokStart = new Array[Int](nTok)
    val tokEnd = new Array[Int](nTok)
    pw(0) = 1L
    var pos = 0
    t = 0
    while (t < nTok) {
      if (t > 0) { // the joining space
        h(pos + 1) = (h(pos) * base + 0x20L) % Mod
        pw(pos + 1) = (pw(pos) * base) % Mod
        pos += 1
      }
      tokStart(t) = pos
      var b = r(2 * t)
      val e = r(2 * t + 1)
      while (b < e) {
        h(pos + 1) = (h(pos) * base + (bytes(b) & 0xffL)) % Mod
        pw(pos + 1) = (pw(pos) * base) % Mod
        pos += 1
        b += 1
      }
      tokEnd(t) = pos
      t += 1
    }
    val out = new Array[Long](nTok - w + 1)
    var j = 0
    while (j < out.length) {
      val a = tokStart(j)
      val b = tokEnd(j + w - 1)
      val v = (h(b) - (h(a) * pw(b - a)) % Mod) % Mod
      out(j) = if (v < 0) v + Mod else v
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native Catalyst expressions for the hot inner loops (SURVEY §4's "custom
  * work" list). Both participate in whole-stage codegen: the generated Java
  * is a primitive loop over ArrayData / UTF8String bytes — no boxing, no
  * lambda dispatch — replacing `aggregate(zip_with(...))` higher-order
  * functions that dominated the sf0.1 bench.
  *
  * Semantics are kept bit-identical to the HOF encodings (sequential
  * left-to-right summation), so the DuckDB oracles are unchanged.
  */
object VectorExpressions {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}

  /** Shared rolling-hash modulus 2\u00b3\u00b9\u22121 \u2014 ONE definition for every
    * kernel (matched by the oracle-side P in DedupOps): cross-kernel hash
    * compatibility depends on these never diverging. */
  private[functions] val HashMod = 2147483647L

  /** Analysis-time input validation (the CosineTopKAggregate pattern:
    * fail at analysis, not with an executor ClassCastException \u2014 or
    * worse, silent garbage from codegen's unchecked getDouble reads over
    * a non-double array). */
  private def requireString(fn: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case StringType => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$fn expects a string input, got ${other.catalogString}")
    }

  private def requireDoubleArray(fn: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$fn expects array<double>, got ${other.catalogString}")
    }

  /** graft_dot(a, b): Σ a[i]·b[i] over two array<double> columns.
    * Null semantics match `aggregate(zip_with(a,b,*), 0d, +)` EXACTLY
    * (sequential order; unequal lengths or a null element ⇒ null, because
    * zip_with pads with nulls and null poisons the sum) — which makes the
    * [[RewriteDotProduct]] optimizer rule a sound rewrite.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      Seq(left, right).map(requireDoubleArray("graft_dot", _))
        .find(_ != TypeCheckSuccess).getOrElse(TypeCheckSuccess)

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (y.numElements() != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // ctx.freshName, NOT fixed names: several graft_dot instances can
        // land in one whole-stage-codegen method (the k-means assignment
        // emits K of them) and duplicate local declarations would fail
        // Janino → silent interpreted fallback.
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |      ${ev.isNull} = true; break;
           |    }
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  ${ev.value} = $acc;
           |}
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** graft_polyhash(s): base-131 rolling hash over ALL bytes mod 2^31−1
    * (acc ← (acc·131 + byte) mod p) — the token/shingle key used by the
    * minhash/simhash signatures (DedupOps). Full-length hashing keeps the
    * collision rate at ~2⁻³¹ so jaccard over hashed shingle sets tracks
    * string jaccard. Byte-level == code-point-level for the ASCII corpus,
    * matching the oracle's ascii(substr) fold.
    */
  case class PolyHash(child: Expression)
      extends UnaryExpression {

    private val Mod = HashMod

    override def checkInputDataTypes(): TypeCheckResult =
      requireString("graft_polyhash", child)

    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String]
      val n = s.numBytes()
      var acc = 0L
      var i = 0
      while (i < n) { acc = (acc * 131 + (s.getByte(i) & 0xffL)) % Mod; i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
           |int $n = $s.numBytes();
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc = ($acc * 131L + (($s.getByte($i)) & 0xffL)) % ${Mod}L;
           |}
           |${ev.value} = $acc;
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** graft_shingle_hashes(text): the whole shingle pipeline —
    * space-tokenize, drop empty tokens, 3-gram shingles, base-131 polyhash
    * of each "tok1 tok2 tok3" string, distinct preserving first occurrence
    * — as ONE native call. Semantically identical to the HOF chain
    *   array_distinct(transform(sequence(1, size(t)-2),
    *     i -> graft_polyhash(concat_ws(' ', t[i], t[i+1], t[i+2]))))
    *   with t = filter(split(text, ' '), w -> w <> '')
    * but with zero interpreted lambda dispatch and zero intermediate
    * strings: shingle hashes fold straight over the input bytes (the joined
    * string is never materialized). <3 tokens ⇒ empty array.
    */
  case class ShingleHashes(child: Expression)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      requireString("graft_shingle_hashes", child)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any =
      ShingleHashes.compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // reference the companion kernel as an object handle — avoids spelling
      // the Scala-mangled nested-object class name in generated Java
      val kernel = ctx.addReferenceObj("shingleKernel", ShingleHashes,
        classOf[ShingleKernel].getName)
      nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $kernel.compute($s);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object ShingleHashes extends ShingleKernel {
    private val Mod = VectorExpressions.HashMod

    /** Called from both interpreted eval and generated Java. */
    override def compute(s: UTF8String): ArrayData = {
      val bytes = s.getBytes
      val r = Tokenize.ranges(bytes)
      val nTok = r.length / 2
      if (nTok < 3) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
      val seen = new java.util.HashSet[java.lang.Long]()
      val out = new java.util.ArrayList[java.lang.Long]()
      var t = 0
      while (t <= nTok - 3) {
        var acc = 0L
        var g = 0
        while (g < 3) {
          if (g > 0) acc = (acc * 131 + 0x20L) % Mod // the joining space
          var b = r(2 * (t + g))
          val e = r(2 * (t + g) + 1)
          while (b < e) { acc = (acc * 131 + (bytes(b) & 0xffL)) % Mod; b += 1 }
          g += 1
        }
        val boxed = java.lang.Long.valueOf(acc)
        if (seen.add(boxed)) out.add(boxed)
        t += 1
      }
      val arr = new Array[Long](out.size())
      var j = 0
      while (j < arr.length) { arr(j) = out.get(j); j += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
  }

  /** graft_shingle_rows(text): generator form of the STRING shingle
    * pipeline — one output row per DISTINCT 3-gram shingle ("tok1 tok2
    * tok3"), first-occurrence order. Replaces
    *   explode(transform(sequence(...), i -> concat_ws(...))) + distinct()
    * for the exact n-gram Jaccard path: the per-shingle strings are built
    * in one compiled pass over the input bytes and the per-doc dedup
    * happens inside the generator, so no aggregate is needed afterwards.
    * (Generators always run via GenerateExec; CodegenFallback here only
    * affects the expression, not the surrounding stage.)
    */
  case class ShingleRows(child: Expression)
      extends Generator with CodegenFallback {

    override def checkInputDataTypes(): TypeCheckResult =
      requireString("graft_shingle_rows", child)

    override def children: Seq[Expression] = Seq(child)

    override def elementSchema: StructType =
      StructType(Seq(StructField("sh", StringType, nullable = false)))

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Iterator.empty
      val bytes = v.asInstanceOf[UTF8String].getBytes
      val r = Tokenize.ranges(bytes)
      val nTok = r.length / 2
      if (nTok < 3) return Iterator.empty
      val seen = new java.util.HashSet[UTF8String]()
      val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow]()
      var t = 0
      while (t <= nTok - 3) {
        val len = (r(2 * t + 1) - r(2 * t)) +
          (r(2 * t + 3) - r(2 * t + 2)) +
          (r(2 * t + 5) - r(2 * t + 4)) + 2
        val buf = new Array[Byte](len)
        var o = 0
        var g = 0
        while (g < 3) {
          if (g > 0) { buf(o) = 0x20; o += 1 }
          val s0 = r(2 * (t + g))
          val l0 = r(2 * (t + g) + 1) - s0
          System.arraycopy(bytes, s0, buf, o, l0)
          o += l0
          g += 1
        }
        val sh = UTF8String.fromBytes(buf)
        if (seen.add(sh))
          out.add(org.apache.spark.sql.catalyst.InternalRow(sh))
        t += 1
      }
      scala.jdk.CollectionConverters.ListHasAsScala(out).asScala
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
  }

  /** graft_simhash(tks[, bits]): the `bits`-wide (32 default, 64 max)
    * SimHash signature of a hashed-shingle array in ONE codegen call —
    * per-bit majority vote over the elements' low `bits` bits, bit j set iff
    * strictly more elements have bit j set than clear. Replaces `bits`
    * separate `aggregate(...)` higher-order functions (each an interpreted
    * per-element lambda) with a single compiled two-level loop. Empty array
    * ⇒ all votes tie at 0 ⇒ signature 0, the same value the HOF encoding
    * produced. At 64 bits the sign bit participates like any other (the
    * signature is a raw bit pattern, not a number).
    *
    * When `bits` exceeds 32 each element is first spread through an
    * xorshift-multiply finalizer (LCG constants, wrapping 64-bit arithmetic)
    * — the shingle keys are mod-(2^31−1) polyhashes, so without the mix the
    * widened signature's upper bits would all vote on constant zeros.
    */
  case class SimhashSignature(child: Expression, bitsExpr: Expression)
      extends UnaryExpression {

    /** Width fixed at plan time: banding/verification logic needs a literal.
      * Only read after checkInputDataTypes has passed (lazy so a bad
      * argument surfaces as an AnalysisException, not a constructor throw).
      */
    private lazy val bits: Int = bitsExpr match {
      case Literal(v: Int, IntegerType) => v
      case _ => 32 // unreachable post-analysis; checkInputDataTypes rejects
    }

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      child.dataType match {
        case ArrayType(LongType, _) => bitsExpr match {
          case Literal(v: Int, IntegerType) if v >= 1 && v <= 64 =>
            TypeCheckSuccess
          case other => TypeCheckFailure(
            s"graft_simhash bits must be an INT literal in [1, 64], got $other")
        }
        case other => TypeCheckFailure(
          s"graft_simhash expects array<bigint>, got ${other.catalogString}")
      }
    }

    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    private lazy val mixed = bits > 32

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Int](bits)
      var i = 0
      while (i < n) {
        var t = arr.getLong(i)
        if (mixed) {
          var z = t + SimhashSignature.MixB
          z = (z ^ (z >>> 30)) * SimhashSignature.MixA
          z = (z ^ (z >>> 27)) * SimhashSignature.MixA
          t = z ^ (z >>> 31)
        }
        var j = 0
        while (j < bits) {
          if (((t >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var sig = 0L
      var j = 0
      while (j < bits) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        // every local via ctx.freshName so two graft_simhash instances can
        // share one whole-stage-codegen method (fixed names fail Janino →
        // silent interpreted fallback)
        val n = ctx.freshName("n")
        val votes = ctx.freshName("votes")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val t = ctx.freshName("t")
        val z = ctx.freshName("z")
        val sig = ctx.freshName("sig")
        val mixCode = if (mixed)
          s"""
             |long $z = $t + ${SimhashSignature.MixB}L;
             |$z = ($z ^ ($z >>> 30)) * ${SimhashSignature.MixA}L;
             |$z = ($z ^ ($z >>> 27)) * ${SimhashSignature.MixA}L;
             |$t = $z ^ ($z >>> 31);
             |""".stripMargin
        else ""
        s"""
           |int $n = $arr.numElements();
           |int[] $votes = new int[$bits];
           |for (int $i = 0; $i < $n; $i++) {
           |  long $t = $arr.getLong($i);
           |  $mixCode
           |  for (int $j = 0; $j < $bits; $j++) {
           |    if ((($t >> $j) & 1L) == 1L) $votes[$j]++;
           |    else $votes[$j]--;
           |  }
           |}
           |long $sig = 0L;
           |for (int $j = 0; $j < $bits; $j++) {
           |  if ($votes[$j] > 0) $sig |= 1L << $j;
           |}
           |${ev.value} = $sig;
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object SimhashSignature {
    /** Wrapping xorshift-multiply finalizer constants (Knuth LCG pair —
      * the same A/B the DSV2 source's generator uses; both < 2^63 so the
      * DuckDB oracle can replay the multiply in HUGEINT mod 2^64). */
    val MixA = 6364136223846793005L
    val MixB = 1442695040888963407L
  }

  /** graft_window_hashes(text, W): polyhash of EVERY W-token sliding
    * window, in window order (duplicates kept — window ordinal = array
    * position + 1). Value-identical to
    *   transform(sequence(1, size(t) - W + 1),
    *             j -> graft_polyhash(array_join(slice(t, j, W), ' ')))
    * but O(chars) instead of O(chars × W): one canonical-stream pass
    * builds prefix hashes and 131-powers, then each window hash is two
    * modular multiplies — hash(s[a..b)) = H[b] − H[a]·131^(b−a) (mod P).
    * The joined window string is never materialized, and multi-space
    * separators collapse exactly like filter(split(...)) tokenization
    * (the canonical stream inserts ONE joining space between tokens).
    * < W tokens ⇒ empty array, matching the callers' size filter.
    */
  case class WindowHashes(child: Expression, width: Int, base: Long = 131L)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      requireString("graft_window_hashes", child)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    @transient private lazy val kernel = new WindowHashKernel(width, base)

    override def nullSafeEval(v: Any): Any =
      kernel.compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = ctx.addReferenceObj("windowHashKernel", kernel,
        classOf[ShingleKernel].getName)
      nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $k.compute($s);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** graft_q8(v): symmetric per-vector int8 scalar quantization — codes
    * c[i] = floor(v[i] · 127 / s) with s = max|v[i]| (all-zero or empty
    * vector ⇒ all-zero codes). Codes are emitted as array<double> so the
    * existing [[DotProduct]] kernel scores them: every code is an integer
    * in [−128, 127] — floor is asymmetric, and FP rounding in v·127/s
    * can nudge the most-negative element to −128 (the oracle's identical
    * floor(x·127/s) reproduces the same value, so parity holds; a
    * consumer packing codes into signed bytes must allow −128) — so a
    * 64-dim code dot product (|Σ| ≤ ~10⁶) is EXACTLY representable in
    * double: the "integer" arithmetic rides the compiled double loop and
    * both engines agree bit-for-bit.
    * Semantically identical to the HOF encoding
    *   transform(v, x -> floor(x * 127 / aggregate-max-abs))
    * but one compiled pass, no interpreted lambdas (the 25× lesson at
    * [[SimilarityOps]]'s plane projections). A null element ⇒ null.
    */
  case class Quantize8(child: Expression)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      requireDoubleArray("graft_q8", child)

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any =
      Quantize8.compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernel = ctx.addReferenceObj("q8Kernel", Quantize8,
        classOf[VecKernel].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"""
           |${ev.value} = $kernel.compute($v);
           |if (${ev.value} == null) { ${ev.isNull} = true; }
           |""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object Quantize8 extends VecKernel {
    /** Called from both interpreted eval and generated Java; null on a
      * null element (mirrors DotProduct's null poisoning). */
    override def compute(v: ArrayData): ArrayData = {
      val n = v.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        val a = math.abs(v.getDouble(i))
        if (a > s) s = a
        i += 1
      }
      val out = new Array[Double](n)
      if (s > 0) {
        i = 0
        while (i < n) { out(i) = math.floor(v.getDouble(i) * 127.0 / s); i += 1 }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** graft_argmin_centroid(qvx, qq, cids, exts) — nearest-centroid id via
    * [[ArgminCentroidKernel]]: one compiled loop over a referenced k×(d+1)
    * matrix, replacing the k-way `least(graft_dot…)` tree that exceeds the
    * JVM method limit past k ≈ 100. cids/exts must be literals (they ARE
    * the model); NULL on malformed input like every vec kernel.
    */
  case class NearestCentroid(left: Expression, right: Expression,
                             kernel: CentroidKernel)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      requireDoubleArray("graft_argmin_centroid", left) match {
        case TypeCheckSuccess =>
          if (right.dataType == DoubleType) TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(
            s"graft_argmin_centroid qq must be double, got ${right.dataType.sql}")
        case fail => fail
      }

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val r = kernel.assign(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])
      if (r == Long.MinValue) null else r
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // reference object typed by the TOP-LEVEL trait (the Janino
        // mangled-name rule — see the file header discipline)
        val k = ctx.addReferenceObj("centroidKernel", kernel,
          classOf[CentroidKernel].getName)
        s"""
           |${ev.value} = $k.assign($a, $b);
           |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private[functions] val registrations: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_argmin_centroid" -> (es => es match {
      case Seq(qvx, qq,
          Literal(cidsV: ArrayData, ArrayType(LongType, _)),
          Literal(extsV: ArrayData, ArrayType(ArrayType(DoubleType, _), _))) =>
        val cids = cidsV.toLongArray()
        val exts = Array.tabulate(extsV.numElements())(i =>
          extsV.getArray(i).toDoubleArray())
        NearestCentroid(qvx, qq, new ArgminCentroidKernel(cids, exts))
      case other => throw new IllegalArgumentException(
        "graft_argmin_centroid expects (qvx, qq, cids literal, exts literal), " +
          s"got ${other.length} args")
    }),
    "graft_dot" -> (es => es match {
      case Seq(a, b) => DotProduct(a, b)
      case other => throw new IllegalArgumentException(
        s"graft_dot expects 2 arguments, got ${other.length}")
    }),
    "graft_q8" -> (es => Quantize8(es.head)),
    "graft_polyhash" -> (es => PolyHash(es.head)),
    "graft_shingle_hashes" -> (es => ShingleHashes(es.head)),
    "graft_shingle_rows" -> (es => ShingleRows(es.head)),
    "graft_window_hashes" -> (es => es(1) match {
      case Literal(w: Int, IntegerType) if w >= 1 =>
        es.drop(2) match {
          case Seq() => WindowHashes(es.head, w)
          // base must stay BELOW the modulus: base % Mod == 0 collapses
          // every prefix power to zero and every window hash to its last
          // byte — silent signal destruction, not an error
          case Seq(Literal(b: Int, IntegerType)) if b > 1 && b < HashMod =>
            WindowHashes(es.head, w, b.toLong)
          case other => throw new IllegalArgumentException(
            s"graft_window_hashes base must be an int literal in (1, $HashMod), got $other")
        }
      case other => throw new IllegalArgumentException(
        s"graft_window_hashes width must be a positive int literal, got $other")
    }),
    "graft_simhash" -> (es => es.length match {
      case 1 => SimhashSignature(es.head, Literal(32))
      case 2 => SimhashSignature(es.head, es(1))
      // loud, not silently dropped: this throws during function resolution,
      // i.e. at analysis time
      case k => throw new IllegalArgumentException(
        s"graft_simhash expects 1 or 2 arguments, got $k")
    }))

  /** Idempotent per-session registration — call before using
    * expr("graft_*"). The SessionExtensions path below is the spark-submit
    * route; this one covers sessions we don't construct.
    */
  def ensureRegistered(spark: SparkSession): Unit =
    registrations.foreach { case (name, builder) => register(spark, name, builder) }
}

/** Optimizer rule: rewrite the declarative HOF dot-product idiom
  *   aggregate(zip_with(x, y, (a,b) -> a*b), 0d, (acc,v) -> acc+v)
  * into the native codegen [[VectorExpressions.DotProduct]]. Users keep
  * writing portable `functions._` code; the plan gets the primitive loop.
  * Sound because DotProduct reproduces the HOF's null/length semantics.
  */
object RewriteDotProduct
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case n: NamedLambdaVariable => n.exprId == v.exprId
    case _ => false
  }

  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case agg @ ArrayAggregate(
            ZipWith(l, r, LambdaFunction(m: Multiply, Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(add: Add, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
            LambdaFunction(fin, Seq(res: NamedLambdaVariable), _))
          if (l.dataType match {
              case ArrayType(DoubleType, _) => true; case _ => false
            }) &&
            (r.dataType match {
              case ArrayType(DoubleType, _) => true; case _ => false
            }) &&
            ((isVar(m.left, a) && isVar(m.right, b)) ||
              (isVar(m.left, b) && isVar(m.right, a))) &&
            ((isVar(add.left, acc) && isVar(add.right, v)) ||
              (isVar(add.left, v) && isVar(add.right, acc))) &&
            isVar(fin, res) =>
        VectorExpressions.DotProduct(l, r)
    }
}

/** Injects the native vector functions and graft's optimizer rules
  * (the dot-product and range-join rewrites, and the opt-in approximate
  * distinct) into a session's function registry and operator-optimization
  * batch. [[graft.Session.local]] installs it with `withExtensions`; a
  * cluster deployment passes
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExpressions.registrations.foreach { case (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.VectorExpressions", name),
          builder))
    }
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRangeJoin)
    ext.injectOptimizerRule(_ => graft.plans.RewriteApproxDistinct)
  }
}
