package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared input validation: `array<elem>` or analysis-time failure.
  * Returning TypeCheckFailure (not throwing) keeps SQL-registered misuse —
  * e.g. `lsh_bucket(array<double>)`, which would otherwise read garbage
  * through `ArrayData.getFloat` — a clean AnalysisException.
  */
private[plans] object SketchTypeCheck {
  def arrayOf(expected: DataType, actual: DataType, fname: String): TypeCheckResult =
    actual match {
      case ArrayType(et, _) if et == expected => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fname expects array<${expected.catalogString}>, got ${other.catalogString}")
    }
}

/** Codegen plumbing shared by the sketch expressions: splice a call to the
  * expression's own kernel into the generated stage.
  */
private[plans] trait KernelCodegen { self: UnaryExpression =>
  /** Generated-Java expression computing this node's value from `input`
    * (an ArrayData variable name). Must be assignable to the java type of
    * [[dataType]].
    */
  protected def kernelCall(ref: String, input: String): String =
    s"$ref.kernel($input)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj(prettyName.replace("_", ""), this,
        this.getClass.getName)
      s"${ev.value} = ${kernelCall(ref, input)};"
    })
}

/** MinHash signature of a string-array column: element k of the result is
  * min over the array of xxhash64(element, seed=k). One pass per row.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  def kernel(arr: ArrayData): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        var k = 0
        while (k < numHashes) {
          val h = XXH64.hashUTF8String(s, k.toLong)
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash of a string-array (token) column: per token, xxhash64
  * votes each bit up/down; the result sets bits with positive votes.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  def kernel(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUTF8String(s, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(kernel(input.asInstanceOf[ArrayData]))
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Random-hyperplane LSH bucket of a float-array embedding: bit b of the
  * result is the sign of the dot product with a pseudo-random hyperplane
  * whose component (b, d) derives from xxhash64(b*dim + d, seed) mapped
  * to [-1, 1). Deterministic, stateless, one pass.
  */
case class HyperplaneLshBucket(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(FloatType, child.dataType, prettyName)
  def kernel(arr: ArrayData): Long = {
    val dim = arr.numElements()
    var out = 0L
    var b = 0
    while (b < nBits) {
      var dp = 0.0
      var d = 0
      while (d < dim) {
        val h = XXH64.hashLong((b.toLong << 32) | d.toLong, seed)
        // map hash to [-1, 1)
        val comp = (h.toDouble / Long.MaxValue.toDouble)
        dp += arr.getFloat(d) * comp
        d += 1
      }
      if (dp >= 0) out |= (1L << b)
      b += 1
    }
    out
  }
  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(kernel(input.asInstanceOf[ArrayData]))
  override protected def withNewChildInternal(newChild: Expression): HyperplaneLshBucket =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_lsh_bucket"
}

/** Shared n-gram hashing: token array → one 64-bit hash per word n-gram
  * (chained xxhash64 over per-token hashes — no gram strings are ever
  * materialized). Fewer than n tokens → a single whole-text gram hash.
  */
private[plans] object NgramHashing {
  final val Seed = 42L
  def gramHashes(arr: ArrayData, n: Int): Array[Long] = {
    val nTok = arr.numElements()
    val th = new Array[Long](nTok)
    var i = 0
    while (i < nTok) {
      val s = arr.getUTF8String(i)
      th(i) = if (s == null) 0L else XXH64.hashUTF8String(s, Seed)
      i += 1
    }
    if (nTok < n) {
      var acc = Seed
      var j = 0
      while (j < nTok) { acc = XXH64.hashLong(th(j), acc); j += 1 }
      Array(acc)
    } else {
      val out = new Array[Long](nTok - n + 1)
      i = 0
      while (i <= nTok - n) {
        var acc = Seed
        var j = 0
        while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
        out(i) = acc
        i += 1
      }
      out
    }
  }
  def distinctLongs(a: Array[Long]): Array[Long] = {
    val set = new java.util.HashSet[Long](a.length * 2)
    val out = new Array[Long](a.length)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (set.add(a(i))) { out(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}

/** MinHash signature computed straight from the token array: n-gram hashes
  * via [[NgramHashing]], then k seeded re-hashes per gram, keeping mins.
  * One pass, zero string allocation — the 100 TB path for signature
  * computation (the string-shingle variant exists for oracle-matching
  * Jaccard, this one for sketching).
  */
case class NgramMinHash(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  def kernel(arr: ArrayData): ArrayData = {
    val grams = NgramHashing.gramHashes(arr, n)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < grams.length) {
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashLong(grams(i), k.toLong)
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): NgramMinHash =
    copy(child = newChild)
  override def prettyName: String = "ngram_minhash"
}

/** Distinct word n-gram hashes of a token array — the inverted-index key
  * set for exact n-gram Jaccard joins. Joining on 8-byte hashes instead
  * of gram strings shrinks shuffle bytes ~5× (collision odds 2^-64).
  */
case class NgramHashes(child: Expression, n: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  def kernel(arr: ArrayData): ArrayData =
    new GenericArrayData(NgramHashing.distinctLongs(
      NgramHashing.gramHashes(arr, n)))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
  override def prettyName: String = "ngram_hashes"
}

/** Word n-gram hashes WITH multiplicity — the frequency-counting
  * companion to [[NgramHashes]] (which dedups): one hash per overlapping
  * n-gram, in document order. Feeds repetition/frequency aggregations
  * that group on the 8-byte hash instead of the gram string. Documents
  * shorter than n tokens produce an empty array (no complete n-gram) —
  * unlike the shingle semantics of the distinct variant.
  */
case class NgramHashesAll(child: Expression, n: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  def kernel(arr: ArrayData): ArrayData =
    if (arr.numElements() < n) new GenericArrayData(Array.empty[Long])
    else new GenericArrayData(NgramHashing.gramHashes(arr, n))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): NgramHashesAll =
    copy(child = newChild)
  override def prettyName: String = "ngram_hashes_all"
}

/** Stopword-profile language ID in one pass: counts per-profile stopword
  * hits over the token array and returns the label of the first profile
  * achieving the maximum count, or "und" when no profile hits. Replaces a
  * fold of per-language higher-order filters whose interpreted subtrees
  * were duplicated ~30× per row.
  */
case class StopwordProfileArgmax(child: Expression,
                                 labels: Seq[String],
                                 profiles: Seq[Seq[String]])
    extends UnaryExpression with KernelCodegen {
  require(labels.length == profiles.length)
  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    profiles.map { ws =>
      val s = new java.util.HashSet[UTF8String]()
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray
  @transient private lazy val labelUtf =
    labels.map(UTF8String.fromString).toArray
  @transient private lazy val und = UTF8String.fromString("und")
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  def kernel(arr: ArrayData): UTF8String = {
    val counts = new Array[Int](sets.length)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val raw = arr.getUTF8String(i)
      if (raw != null) {
        // case-fold before the profile lookup (profiles are lowercase):
        // sentence-initial "The"/"Der" must still hit
        val t = raw.toLowerCase
        var p = 0
        while (p < sets.length) {
          if (sets(p).contains(t)) counts(p) += 1
          p += 1
        }
      }
      i += 1
    }
    var best = 0
    var p = 1
    while (p < counts.length) {
      if (counts(p) > counts(best)) best = p // strict: earliest wins ties
      p += 1
    }
    if (counts(best) == 0) und else labelUtf(best)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): StopwordProfileArgmax =
    copy(child = newChild)
  override def prettyName: String = "stopword_profile_argmax"
}

/** Nearest-centroid assignment for IVF-style ANN: returns the index of
  * the centroid (rows of `flatCentroids`, laid out row-major, `dim` wide)
  * with the highest dot product against the input float vector. The
  * centroid table is a plan-time literal — small by construction (the
  * coarse quantizer), so it ships inside the serialized plan and the
  * assignment is a pure map (no shuffle, no join).
  */
case class ArgMaxDot(child: Expression, flatCentroids: Array[Double], dim: Int)
    extends UnaryExpression with KernelCodegen {
  require(flatCentroids.length % dim == 0, "centroid table not rectangular")
  private val nCentroids = flatCentroids.length / dim
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(FloatType, child.dataType, prettyName)
  def kernel(arr: ArrayData): Int = {
    var best = -1
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < nCentroids) {
      var dp = 0.0
      var d = 0
      val off = c * dim
      while (d < dim) { dp += arr.getFloat(d) * flatCentroids(off + d); d += 1 }
      if (dp > bestDot) { bestDot = dp; best = c }
      c += 1
    }
    best
  }
  override protected def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(kernel(input.asInstanceOf[ArrayData]))
  override protected def withNewChildInternal(newChild: Expression): ArgMaxDot =
    copy(child = newChild)
  override def prettyName: String = "argmax_dot"
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
  * a polynomial *rolling* hash over every k-byte gram of the text (O(n),
  * one multiply-add per byte), an avalanche finalizer per gram, then the
  * minimum hash of each w-wide gram window — the classic local document
  * fingerprinting scheme. Guarantee: any shared substring of length ≥
  * w + k − 1 contributes at least one complete window to both documents,
  * so they share at least one fingerprint. Output: sorted distinct
  * selected hashes (deterministic; usable as a groupBy/join key).
  *
  * Texts shorter than k fall back to a single whole-text hash (mirrors
  * the shingle fallback in TextFunctions.wordShingles).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 2 && w >= 1, s"winnow needs k>=2, w>=1 (got k=$k, w=$w)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.catalogString}")
    }
  // Odd base → multiplication is a bijection mod 2^64; B^(k-1) strips the
  // outgoing byte as the window rolls.
  private val B = 1000003L
  private val Bk = { var p = 1L; var i = 1; while (i < k) { p *= B; i += 1 }; p }
  def kernel(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array(XXH64.hashUTF8String(s, 42L)))
    val m = n - k + 1 // gram count
    val grams = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    grams(0) = XXH64.hashLong(h, 42L) // finalizer: rolled values correlate
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xffL) * Bk) * B + (bytes(i) & 0xffL)
      grams(i - k + 1) = XXH64.hashLong(h, 42L)
      i += 1
    }
    if (m <= w) { // shorter than one window: keep the global minimum
      var mn = grams(0); i = 1
      while (i < m) { if (grams(i) < mn) mn = grams(i); i += 1 }
      return new GenericArrayData(Array(mn))
    }
    // per-window minimum via a monotonic index deque — O(m) total
    val deque = new Array[Int](m)
    var head = 0; var tail = 0 // [head, tail) holds candidate indices
    val selected = new Array[Long](m - w + 1)
    i = 0
    while (i < m) {
      while (tail > head && grams(deque(tail - 1)) >= grams(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) selected(i - w + 1) = grams(deque(head))
      i += 1
    }
    val d = NgramHashing.distinctLongs(selected)
    java.util.Arrays.sort(d) // sorted set → stable groupBy/join key
    new GenericArrayData(d)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

/** Shared core for the content-defined anchor selectors: walk a string's
  * code points once, evaluate a predicate on each k-gram's UTF-8 bytes,
  * return the CHARACTER positions (0-based, code points — the same unit
  * Spark's `substr`/`length` count, so downstream slicing agrees) whose
  * grams selected. One compiled pass per document vs the higher-order
  * `filter(sequence(...), s -> md5(substr(...)))` formulation, which
  * evaluates interpreted per position and allocates a substring per gram.
  */
private[plans] object AnchorSelection {
  /** Byte offset of each code point (plus the end), so grams hash without
    * materializing per-position substrings.
    */
  def codePointOffsets(bytes: Array[Byte]): Array[Int] = {
    // over-allocate to byte length + 1: numChars ≤ numBytes
    val offs = new Array[Int](bytes.length + 1)
    var n = 0
    var off = 0
    while (off < bytes.length) {
      offs(n) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      n += 1
    }
    offs(n) = bytes.length
    java.util.Arrays.copyOf(offs, n + 1)
  }

  def positions(s: UTF8String, k: Int)(pred: (Array[Byte], Int, Int) => Boolean): ArrayData = {
    val bytes = s.getBytes
    val offs = codePointOffsets(bytes)
    val n = offs.length - 1 // code point count
    if (n < k) return new GenericArrayData(Array.empty[Int])
    val out = new Array[Int](n - k + 1)
    var m = 0
    var p = 0
    while (p <= n - k) {
      if (pred(bytes, offs(p), offs(p + k) - offs(p))) { out(m) = p; m += 1 }
      p += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}

/** Anchor positions by md5-prefix cutoff: position `s` selects iff the
  * first byte of md5(text[s, s+k)) is < `byteCutoff` — exactly
  * `substr(md5(substr(text, s+1, k)), 1, 2) < hex(byteCutoff)`, the
  * formulation any ANSI engine reproduces (lowercase-hex lexicographic
  * order on two hex chars IS unsigned order on the first digest byte).
  * Density = byteCutoff/256 of positions.
  */
case class Md5PrefixAnchors(child: Expression, k: Int, byteCutoff: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 2, s"gram length too short to be selective: $k")
  require(byteCutoff >= 1 && byteCutoff <= 255,
    s"byteCutoff out of (0, 255]: $byteCutoff")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.catalogString}")
    }
  def kernel(s: UTF8String): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    AnchorSelection.positions(s, k) { (bytes, off, len) =>
      md.reset()
      md.update(bytes, off, len)
      (md.digest()(0) & 0xff) < byteCutoff
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Md5PrefixAnchors =
    copy(child = newChild)
  override def prettyName: String = "md5_prefix_anchors"
}

/** Anchor positions by xxhash64 residue: position `s` selects iff
  * xxhash64(text[s, s+k)) ≡ 0 (mod `density`) — Spark's own xxhash64
  * (seed 42) over the gram's UTF-8 bytes, so `pmod(xxhash64(gram),
  * density) = 0` computes the same set. The production selector: one
  * 64-bit mix per gram vs a full md5, for pipelines that don't need the
  * cross-engine-reproducible variant.
  */
case class XxModAnchors(child: Expression, k: Int, density: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 2, s"gram length too short to be selective: $k")
  require(density >= 2, s"density < 2 anchors everything: $density")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.catalogString}")
    }
  def kernel(s: UTF8String): ArrayData =
    AnchorSelection.positions(s, k) { (bytes, off, len) =>
      java.lang.Math.floorMod(
        XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, 42L),
        density.toLong) == 0L
    }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): XxModAnchors =
    copy(child = newChild)
  override def prettyName: String = "xx_mod_anchors"
}

/** One BPE merge pass over a token array: every adjacent (left, right)
  * pair merges to their concatenation, greedy left-to-right in one pass
  * (the subword-nmt application order: after "a a a" merges (a,a), the
  * result is [aa, a] — a consumed token never re-merges in the same
  * pass). Chained in rank order this IS BPE encoding; called once per
  * training round it re-tokenizes the vocabulary. Null elements are
  * impossible by construction (inputs are substr-derived); a null array
  * returns null via the usual unary null-safety.
  */
case class BpeMergePair(child: Expression, mergeLeft: String, mergeRight: String)
    extends UnaryExpression with KernelCodegen {
  require(mergeLeft.nonEmpty && mergeRight.nonEmpty,
    "empty merge component would loop forever in training")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(StringType, child.dataType, prettyName)
  @transient private lazy val ua = UTF8String.fromString(mergeLeft)
  @transient private lazy val ub = UTF8String.fromString(mergeRight)
  @transient private lazy val uab = UTF8String.fromString(mergeLeft + mergeRight)
  def kernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    var m = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && ua == cur && ub == arr.getUTF8String(i + 1)) {
        out(m) = uab; m += 1; i += 2
      } else {
        out(m) = cur; m += 1; i += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): BpeMergePair =
    copy(child = newChild)
  override def prettyName: String = "bpe_merge_pair"
}

/** Dot product of two float-array columns as a native binary expression:
  * one tight 64-wide multiply-add loop per pair instead of the
  * higher-order `zip_with`+`aggregate` tree, which runs interpreted and
  * re-walks both arrays through per-element lambda dispatch — the
  * difference between microseconds and milliseconds per candidate pair
  * in pairwise similarity joins. Double accumulation in array order
  * (deterministic within the engine; use the exact-decimal path for
  * cross-engine bit-equality of *output* values — this is the candidate
  * pruning kernel).
  */
case class DotProductF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  // the kernel introduces its OWN null (length mismatch / null element)
  // even when both children are non-nullable — without this override,
  // codegen for non-nullable inputs gets no assignable isNull slot and
  // the generated `isNull = true` fails to compile (whole-stage falls
  // back to interpreted on every such plan)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<float>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  /** Null result (not a truncated prefix dot) on length mismatch or null
    * elements — matching what the zip_with formulation this replaces
    * produced, so malformed vectors surface as null scores rather than
    * plausible wrong ones.
    */
  def kernel(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("dotf", this, this.getClass.getName)
      val r = ctx.freshName("dotr")
      s"""java.lang.Double $r = $ref.kernel($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_f"
}

/** Exact-decimal dot product of two float/double-array columns as one
  * native pass — bit-identical to the higher-order formulation
  * `aggregate(zip_with(a, b, (x, y) => (x·y).cast(DECIMAL(30,15))), 0,
  * (acc, x) => (acc + x).cast(DECIMAL(30,15))).cast(double)` that
  * [[graft.functions.Similarity.dotExact]] previously built, including
  * its null/overflow corners, but ~50× cheaper per pair: the HOF tree
  * runs interpreted (per-element lambda dispatch) and routes every
  * partial sum through Catalyst `Decimal`/`changePrecision` wrappers,
  * which made the exact rescore the dominant cost of the blocked kNN
  * operators.
  *
  * Semantics mirrored exactly (the oracle hash-compares these doubles):
  *  - each product is the DOUBLE product (floats widened first), then
  *    decimal-ized via the double's shortest string representation
  *    (`BigDecimal.valueOf`, what Spark's double→decimal cast does) and
  *    rounded HALF_UP to scale 15;
  *  - per-element or running precision above 30 digits THROWS, as does
  *    a NaN/Inf product — the engine runs ANSI mode (Spark 4 default),
  *    where the HOF's decimal cast is equally loud; null elements and
  *    length mismatches yield null (zip_with pads with nulls and a null
  *    product nulls the sum without erroring, in either mode);
  *  - the scale-15 running sum is exact (adding scale-15 decimals never
  *    rounds), returned as `decimal→double`.
  */
case class DotProductExactF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  // see DotProductF.nullable: kernel-introduced nulls need their own slot
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if (l == FloatType || l == DoubleType) &&
            (r == FloatType || r == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects float/double arrays, got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType
  /** Fast path: the scale-15 unscaled sum accumulates in a plain long
    * via [[Decimal15.unitsOrUnsafe]] (integer-exact, no BigDecimal, no
    * Double.toString per element — measured the dominant per-pair cost
    * of every exact-rescore stage). Elements the integer proof cannot
    * cover go through the per-element BigDecimal reference; a sum that
    * outgrows the long (legal until 10¹⁵) restarts the whole call on
    * [[kernelSlow]], the original formulation — which also remains the
    * executable spec the fast path is fuzzed against (Decimal15Spec).
    */
  def kernel(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sumUnits = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val prod = x * y
      if (java.lang.Double.isNaN(prod) || java.lang.Double.isInfinite(prod))
        throw new ArithmeticException(
          s"$prettyName: non-finite product $prod cannot be represented as Decimal(30, 15)")
      var u = Decimal15.unitsOrUnsafe(prod)
      if (u == Decimal15.Unsafe) u = Decimal15.unitsReference(prod, prettyName)
      if (u == Decimal15.Unsafe) return kernelSlow(a, b) // element beyond long
      try sumUnits = Math.addExact(sumUnits, u)
      catch { case _: ArithmeticException => return kernelSlow(a, b) }
      i += 1
    }
    java.lang.Double.valueOf(
      java.math.BigDecimal.valueOf(sumUnits, 15).doubleValue)
  }

  /** The original per-element BigDecimal formulation — bit-identical
    * semantics by construction; the restart target for inputs beyond the
    * long-units domain and the reference the spec fuzzes [[kernel]]
    * against.
    */
  private[graft] def kernelSlow(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sum = java.math.BigDecimal.ZERO.setScale(15)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val prod = x * y
      if (java.lang.Double.isNaN(prod) || java.lang.Double.isInfinite(prod))
        throw new ArithmeticException(
          s"$prettyName: non-finite product $prod cannot be represented as Decimal(30, 15)")
      val p = java.math.BigDecimal.valueOf(prod)
        .setScale(15, java.math.RoundingMode.HALF_UP)
      if (p.precision > 30)
        throw new ArithmeticException(
          s"$prettyName: $p cannot be represented as Decimal(30, 15)")
      sum = sum.add(p)
      if (sum.precision > 30)
        throw new ArithmeticException(
          s"$prettyName: running sum $sum cannot be represented as Decimal(30, 15)")
      i += 1
    }
    java.lang.Double.valueOf(sum.doubleValue)
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("dotexactf", this, this.getClass.getName)
      val r = ctx.freshName("dotxr")
      s"""java.lang.Double $r = $ref.kernel($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExactF =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_exact_f"
}

/** Exact-decimal argmax over a centroid table, two-phase: the k dots run
  * in plain doubles first; when the winner's lead over the runner-up
  * exceeds a scale-aware error bound, the double argmax IS the decimal
  * argmax (and no decimal tie is possible), so the expensive pipeline is
  * skipped. Only near-ties (or non-finite dots) recompute every dot with
  * the DotProductExactF discipline — per-term HALF_UP rounding to 15
  * decimals, exact summation, `.doubleValue` — and take the first
  * maximum, reproducing `array_position(dots, array_max(dots)) - 1` over
  * k [[DotProductExactF]] columns bit-for-bit at a fraction of the cost
  * (the composed form paid k·dim BigDecimal ops per row unconditionally).
  *
  * Same cross-engine contract as the composed form: the k-means oracle
  * unrolls the identical decimal dots in DuckDB and the assignment must
  * match on ties and near-ties — which is exactly when this kernel falls
  * back to the decimal path.
  */
case class ArgMaxDotExact(child: Expression, flatCentroids: Array[Double], dim: Int)
    extends UnaryExpression {
  require(dim >= 1 && flatCentroids.length % dim == 0,
    "centroid table not rectangular")
  private val nCentroids = flatCentroids.length / dim
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.arrayOf(FloatType, child.dataType, prettyName)
  private def exactDot(arr: ArrayData, c: Int): Double = {
    var sum = java.math.BigDecimal.ZERO.setScale(15)
    val off = c * dim
    var d = 0
    while (d < dim) {
      val prod = arr.getFloat(d).toDouble * flatCentroids(off + d)
      if (java.lang.Double.isNaN(prod) || java.lang.Double.isInfinite(prod))
        throw new ArithmeticException(
          s"$prettyName: non-finite product $prod cannot be represented as Decimal(30, 15)")
      sum = sum.add(java.math.BigDecimal.valueOf(prod)
        .setScale(15, java.math.RoundingMode.HALF_UP))
      if (sum.precision > 30)
        throw new ArithmeticException(
          s"$prettyName: running sum $sum cannot be represented as Decimal(30, 15)")
      d += 1
    }
    sum.doubleValue
  }
  def kernel(arr: ArrayData): java.lang.Integer = {
    if (arr.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (arr.isNullAt(i)) return null; i += 1 }
    var best = 0
    var bestV = Double.NegativeInfinity
    var second = Double.NegativeInfinity
    var maxAbsTerm = 0.0
    var c = 0
    while (c < nCentroids) {
      var dp = 0.0
      var d = 0
      val off = c * dim
      while (d < dim) {
        val t = arr.getFloat(d) * flatCentroids(off + d)
        val a = math.abs(t)
        if (a > maxAbsTerm) maxAbsTerm = a
        dp += t
        d += 1
      }
      if (dp > bestV) { second = bestV; bestV = dp; best = c }
      else if (dp > second) second = dp
      c += 1
    }
    // |double dot − decimal dot| ≤ decimal term-rounding (dim·0.5e-15)
    // + naive double summation error (≤ dim·eps·Σ|t| ≤ dim²·eps·maxTerm,
    // eps ≈ 1.11e-16). The margin carries BOTH a dim² term and the flat
    // dim term so the safety factor (~9–18×) stays constant in dim —
    // a margin linear in dim would shrink toward the worst case at
    // dim ≈ 4096 and be unsound beyond. A larger margin only routes more
    // near-ties through the exact-decimal tiebreak (correct, just slower).
    val margin = dim.toDouble * dim.toDouble * (maxAbsTerm + 1.0) * 1e-15 +
      dim.toDouble * 2e-15
    if (nCentroids == 1) return Integer.valueOf(0)
    if (java.lang.Double.isNaN(bestV) || !(bestV - second > margin)) {
      var bestExact = Double.NegativeInfinity
      var bestIdx = -1
      c = 0
      while (c < nCentroids) {
        val e = exactDot(arr, c) // strictly greater: first max wins, the
        if (e > bestExact) { bestExact = e; bestIdx = c } // array_position rule
        c += 1
      }
      Integer.valueOf(bestIdx)
    } else Integer.valueOf(best)
  }
  override protected def nullSafeEval(input: Any): Any = {
    val r = kernel(input.asInstanceOf[ArrayData])
    if (r == null) null else r.intValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("argmaxexact", this, this.getClass.getName)
      val r = ctx.freshName("amxr")
      s"""java.lang.Integer $r = $ref.kernel($input);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.intValue(); }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ArgMaxDotExact =
    copy(child = newChild)
  override def prettyName: String = "argmax_dot_exact"
}

/** Per-document character-entropy statistics in ONE map-side pass:
  * `struct(n: total code points, s: Σ_c decimal15(k_c · ln k_c) as
  * double)`. Replaces the per-codepoint explode + (id, char) shuffle
  * formulation of `Corpus.charEntropy` — at crawl scale that exchanged
  * one row per character; this kernel exchanges nothing.
  *
  * Bit-parity contract with the relational chain it replaces (and the
  * DuckDB oracle): `ln` is `StrictMath.log` (what Spark's `log()`
  * compiles to), each `k·ln k` product is one double multiply, each
  * product rounds to DECIMAL(_,15) via HALF_UP (Spark's
  * `Cast(double→decimal)` semantics) and the rounded terms sum exactly —
  * so summation order is irrelevant and the result matches
  * `sum(cast(k*ln(k) as decimal(30,15)))` bit for bit. Characters are
  * Unicode code points, matching `length()`/`substr()`.
  * Empty input → (0, null).
  */
case class CharEntropyStats(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", DoubleType, nullable = true)))
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.catalogString}")
    }
  def kernel(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, java.lang.Long]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      val boxed = Integer.valueOf(cp)
      val prev = counts.get(boxed)
      counts.put(boxed, if (prev == null) 1L else prev + 1L)
      n += 1
    }
    if (n == 0L)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, null))
    var sum = java.math.BigDecimal.ZERO.setScale(15)
    val it = counts.values().iterator()
    while (it.hasNext) {
      val k = it.next().longValue()
      val prod = k.toDouble * StrictMath.log(k.toDouble)
      sum = sum.add(java.math.BigDecimal.valueOf(prod)
        .setScale(15, java.math.RoundingMode.HALF_UP))
      if (sum.precision > 30)
        throw new ArithmeticException(
          s"$prettyName: running sum $sum cannot be represented as Decimal(30, 15)")
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, sum.doubleValue))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
  override def prettyName: String = "char_entropy_stats"
}

/** Per-document Unicode-script census in one map pass: code-point counts
  * for the blocks a multilingual curation pipeline routes on (Latin
  * letters, digits, Cyrillic, CJK unified, Arabic, whitespace, other).
  * Block boundaries are EXPLICIT integer ranges (not `Character`
  * properties, whose tables shift across JDKs and never match another
  * engine): latin = [65,90]∪[97,122], digit = [48,57],
  * cyrillic = [1024,1279], cjk = [19968,40959], arabic = [1536,1791],
  * space = {9,10,13,32} — each mirrored verbatim in the DuckDB oracle.
  * Null text is the caller's to coalesce (the [[CharEntropyStats]]
  * convention).
  */
case class ScriptProfile(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StructType(
    Seq("n", "latin", "digit", "cyrillic", "cjk", "arabic", "space", "other")
      .map(f => StructField(f, LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.catalogString}")
    }
  def kernel(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    var n = 0L; var latin = 0L; var digit = 0L; var cyr = 0L
    var cjk = 0L; var arab = 0L; var space = 0L; var other = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if ((cp >= 65 && cp <= 90) || (cp >= 97 && cp <= 122)) latin += 1
      else if (cp >= 48 && cp <= 57) digit += 1
      else if (cp >= 1024 && cp <= 1279) cyr += 1
      else if (cp >= 19968 && cp <= 40959) cjk += 1
      else if (cp >= 1536 && cp <= 1791) arab += 1
      else if (cp == 9 || cp == 10 || cp == 13 || cp == 32) space += 1
      else other += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, latin, digit, cyr, cjk, arab, space, other))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): ScriptProfile =
    copy(child = newChild)
  override def prettyName: String = "script_profile"
}

/** Greedy funnel progression over ONE user's event array — the batch
  * kernel of the one-shuffle deep funnel (`Events.funnelDeep`): input is
  * the user's `array<struct<us: long, t: string>>` events (any order —
  * the kernel sorts by time itself), output the number of funnel steps
  * the user completes within `windowUs` of step 1.
  *
  * Semantics are EXACTLY the batch recurrence of `Events.funnel` (step k
  * = earliest event of type steps(k−1) at or AFTER step k−1's time):
  * each advancement restarts the scan so every step binds to the
  * globally earliest qualifying event — the restart is what makes
  * equal-timestamp chains and repeated step types right (one event can
  * satisfy consecutive identical steps; `≥` is inclusive), the same
  * fixpoint as the streaming funnel's per-batch pass. The returned reach
  * is the largest prefix k with t_k − t_1 ≤ windowUs (step times are
  * nondecreasing, so the window test is a prefix property). Null events
  * or null fields are skipped; rescans cost O(steps × events) per user —
  * a small constant times within-group work, never state.
  */
case class FunnelReach(child: Expression, steps: Seq[String], windowUs: Long)
    extends UnaryExpression with KernelCodegen {
  require(steps.nonEmpty, "funnel needs at least one step")
  require(windowUs >= 0, s"windowUs must be non-negative: $windowUs")
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
      if s.length == 2 && s(0).dataType == LongType &&
        s(1).dataType == StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<long, string>>, got ${other.catalogString}")
  }
  @transient private lazy val stepU: Array[UTF8String] =
    steps.map(UTF8String.fromString).toArray
  def kernel(arr: ArrayData): Int = {
    val n = arr.numElements()
    val us = new Array[Long](n)
    val ty = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val row = arr.getStruct(i, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          us(m) = row.getLong(0); ty(m) = row.getUTF8String(1); m += 1
        }
      }
      i += 1
    }
    // time order (secondary order irrelevant — the rescan revisits):
    // sort both arrays by us with a simple index sort
    val order = Array.tabulate(m)(identity)
    // insertion sort on us — per-user event lists are small; avoids boxing
    var a = 1
    while (a < m) {
      val o = order(a); val key = us(o); var b = a - 1
      while (b >= 0 && us(order(b)) > key) { order(b + 1) = order(b); b -= 1 }
      order(b + 1) = o
      a += 1
    }
    val stepTimes = new Array[Long](stepU.length)
    var idx = 0
    var tLast = 0L
    var progressed = true
    while (progressed && idx < stepU.length) {
      progressed = false
      var j = 0
      while (!progressed && j < m) {
        val k = order(j)
        if (stepU(idx) == ty(k) && (idx == 0 || us(k) >= tLast)) {
          tLast = us(k)
          stepTimes(idx) = tLast
          idx += 1
          progressed = true
        }
        j += 1
      }
    }
    // reach = largest prefix inside the window (monotone step times)
    var r = 0
    while (r < idx && stepTimes(r) - stepTimes(0) <= windowUs) r += 1
    r
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): FunnelReach =
    copy(child = newChild)
  override def prettyName: String = "funnel_reach"
}

/** Viterbi-best unigram-LM segmentation of ONE word — the encode/E-step
  * kernel of the SentencePiece-style tokenizer (`Corpus.unigramTrain` /
  * `unigramEncode`): maximize the sum of the pieces' log probabilities
  * over all segmentations into vocabulary pieces of length ≤
  * `maxPieceLen`.
  *
  * Cross-engine determinism contract (the DuckDB oracle unrolls the
  * identical DP): log probs arrive ROUNDED to 9 decimals and accumulate
  * as exact decimals (scale 15 — the oracle's DECIMAL(30,15)), so
  * partial scores are bit-comparable; ties break by (score desc, piece
  * count asc, last-piece length asc) at every DP cell; a single
  * character absent from the vocabulary scores exactly −10⁹ (the OOV
  * floor — guarantees every word segments, and the constant is exact in
  * both engines). Characters are Unicode code points (the length()/
  * substr() convention). Vocabulary and log probs ride as plan literals
  * — vocab-sized driver state, the codebook contract.
  */
case class UnigramViterbi(child: Expression, pieces: Seq[String],
                          logps: Seq[Double], maxPieceLen: Int)
    extends UnaryExpression with KernelCodegen {
  require(pieces.length == logps.length, "pieces and logps must align")
  require(maxPieceLen >= 1, s"maxPieceLen must be positive: $maxPieceLen")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  @transient private lazy val oovFloor =
    new java.math.BigDecimal(-1000000000L).setScale(15)
  @transient private lazy val lpMap: java.util.HashMap[String, java.math.BigDecimal] = {
    val m = new java.util.HashMap[String, java.math.BigDecimal]()
    pieces.indices.foreach { i =>
      m.put(pieces(i), java.math.BigDecimal.valueOf(logps(i)).setScale(15))
    }
    m
  }
  def kernel(word: UTF8String): ArrayData = {
    val cps = word.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    def slice(from: Int, until: Int): String =
      new String(cps, from, until - from)
    val score = new Array[java.math.BigDecimal](n + 1)
    val np = new Array[Int](n + 1)
    val choice = new Array[Int](n + 1)
    score(0) = java.math.BigDecimal.ZERO.setScale(15)
    var p = 1
    while (p <= n) {
      var bestS: java.math.BigDecimal = null
      var bestNp = 0
      var bestJ = 0
      var j = 1
      while (j <= math.min(maxPieceLen, p)) {
        if (score(p - j) != null) {
          val piece = slice(p - j, p)
          val lp0 = lpMap.get(piece)
          val lp = if (lp0 != null) lp0 else if (j == 1) oovFloor else null
          if (lp != null) {
            val s = score(p - j).add(lp)
            val candNp = np(p - j) + 1
            val cmp = if (bestS == null) 1 else s.compareTo(bestS)
            if (cmp > 0 || (cmp == 0 && (candNp < bestNp ||
                (candNp == bestNp && j < bestJ)))) {
              bestS = s; bestNp = candNp; bestJ = j
            }
          }
        }
        j += 1
      }
      score(p) = bestS
      np(p) = bestNp
      choice(p) = bestJ
      p += 1
    }
    // backtrack (score(n) is non-null: the OOV floor makes every word
    // reachable through single characters)
    val out = new Array[AnyRef](np(n))
    var pos = n
    var k = np(n) - 1
    while (pos > 0) {
      val j = choice(pos)
      out(k) = UTF8String.fromString(slice(pos - j, pos))
      k -= 1
      pos -= j
    }
    new GenericArrayData(out)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): UnigramViterbi =
    copy(child = newChild)
  override def prettyName: String = "unigram_viterbi"
}

/** Greedy longest-match-first WordPiece segmentation of ONE word (the
  * BERT tokenizer's algorithm): at each position take the LONGEST
  * vocabulary piece that matches — continuation positions (pos > 0)
  * match against the piece's `##`-prefixed form — and if any position
  * has no match the WHOLE word collapses to the single `unk` token
  * (the published semantics: no partial fallback). Characters are
  * Unicode code points; vocabulary rides as a plan literal (vocab-sized
  * driver state). Purely deterministic — no scores, no ties (a (body,
  * continuation) pair occurs at most once in a set vocabulary) — so the
  * DuckDB oracle unrolls the identical forward walk.
  */
case class WordpieceEncode(child: Expression, vocab: Seq[String],
                           unk: String, maxPieceLen: Int)
    extends UnaryExpression with KernelCodegen {
  require(vocab.nonEmpty, "empty vocabulary")
  require(maxPieceLen >= 1, s"maxPieceLen must be positive: $maxPieceLen")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val unkU = UTF8String.fromString(unk)
  def kernel(word: UTF8String): ArrayData = {
    val cps = word.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](4)
    var pos = 0
    while (pos < n) {
      var len = math.min(maxPieceLen, n - pos)
      var matched: String = null
      var matchedLen = 0
      while (matched == null && len >= 1) {
        val body = new String(cps, pos, len)
        val cand = if (pos == 0) body else "##" + body
        if (vocabSet.contains(cand)) { matched = cand; matchedLen = len }
        len -= 1
      }
      if (matched == null)
        return new GenericArrayData(Array[AnyRef](unkU))
      out += UTF8String.fromString(matched)
      pos += matchedLen // code-point advance (matched.length is UTF-16 units)
    }
    new GenericArrayData(out.toArray)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): WordpieceEncode =
    copy(child = newChild)
  override def prettyName: String = "wordpiece_encode"
}

/** Column constructors for the native Catalyst expressions above,
  * the hash-sketch kernels (MinHash, SimHash, LSH) among them. These
  * are single-pass, allocation-light kernels: the
  * Column-function formulation (higher-order `transform`/`aggregate` per
  * hash function) re-evaluates the shingle array per hash and runs
  * interpreted — O(numHashes × shingles × tokenize) per row vs
  * O(shingles × numHashes) tight-loop here.
  *
  * Each expression participates in whole-stage codegen: `doGenCode` emits
  * a call to the expression's own `kernel` method (referenced via
  * `addReferenceObj`), so the sketch projection fuses into the surrounding
  * generated stage instead of forcing the whole stage to the interpreted
  * path the way `CodegenFallback` did. The kernel itself is a tight JVM
  * loop — the same pattern Spark's own hash expressions use for their
  * non-inlinable cores.
  *
  * Reference capability note: go-sif/sif keys reductions via xxhash64 of
  * user key bytes (reference operations/transform/reduce.go:112-125,
  * internal/partition/partition-keyable.go:15-57); these expressions use
  * the same xxhash64 family (Spark's XXH64) for sketch hashing.
  */
object HashExpressions {
  def wordpieceEncode(word: Column, vocab: Seq[String], unk: String,
                      maxPieceLen: Int): Column =
    ColumnBridge.column(WordpieceEncode(ColumnBridge.expression(word),
      vocab, unk, maxPieceLen))
  def unigramViterbi(word: Column, pieces: Seq[String], logps: Seq[Double],
                     maxPieceLen: Int): Column =
    ColumnBridge.column(UnigramViterbi(ColumnBridge.expression(word),
      pieces, logps, maxPieceLen))
  def funnelReach(events: Column, steps: Seq[String], windowUs: Long): Column =
    ColumnBridge.column(FunnelReach(ColumnBridge.expression(events), steps, windowUs))
  def scriptProfile(text: Column): Column =
    ColumnBridge.column(ScriptProfile(ColumnBridge.expression(text)))
  def charEntropyStats(text: Column): Column =
    ColumnBridge.column(CharEntropyStats(ColumnBridge.expression(text)))
  def argMaxDotExact(vec: Column, flatCentroids: Array[Double], dim: Int): Column =
    ColumnBridge.column(ArgMaxDotExact(ColumnBridge.expression(vec), flatCentroids, dim))
  def minhashSignature(grams: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(grams), numHashes))
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
  def lshBucketF(vec: Column, nBits: Int, seed: Long = 42L): Column =
    ColumnBridge.column(HyperplaneLshBucket(ColumnBridge.expression(vec), nBits, seed))
  def ngramMinHash(tokens: Column, n: Int, numHashes: Int): Column =
    ColumnBridge.column(NgramMinHash(ColumnBridge.expression(tokens), n, numHashes))
  def ngramHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(NgramHashes(ColumnBridge.expression(tokens), n))
  def ngramHashesAll(tokens: Column, n: Int): Column =
    ColumnBridge.column(NgramHashesAll(ColumnBridge.expression(tokens), n))
  def argMaxDot(vec: Column, flatCentroids: Array[Double], dim: Int): Column =
    ColumnBridge.column(ArgMaxDot(ColumnBridge.expression(vec), flatCentroids, dim))
  def stopwordProfileArgmax(tokens: Column, labels: Seq[String],
                            profiles: Seq[Seq[String]]): Column =
    ColumnBridge.column(StopwordProfileArgmax(ColumnBridge.expression(tokens), labels, profiles))
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), k, w))
  def md5PrefixAnchors(text: Column, k: Int, byteCutoff: Int): Column =
    ColumnBridge.column(Md5PrefixAnchors(ColumnBridge.expression(text), k, byteCutoff))
  def xxModAnchors(text: Column, k: Int, density: Int): Column =
    ColumnBridge.column(XxModAnchors(ColumnBridge.expression(text), k, density))
  def bpeMergePair(tokens: Column, left: String, right: String): Column =
    ColumnBridge.column(BpeMergePair(ColumnBridge.expression(tokens), left, right))
  def dotF(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductF(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def dotExactF(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExactF(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
