package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** The one code-point walk behind every char-window kernel
  * ([[MinHashSig]], [[ShingleSet]], [[SimHash64]], [[CharWindowGrams]]).
  *
  * A window of k code points starting at char `c` is the byte range
  * `[offsets(c), offsets(c + k))` — exactly the bytes
  * `substring(text, c + 1, k)` returns — so every window is hashed or
  * sliced in place after ONE O(bytes) walk. ASCII text (numBytes ==
  * numChars) skips the walk: its char offsets are its byte offsets.
  * Code-point lengths come from `UTF8String.numBytesForFirstByte`, the
  * table Spark's own `substring` and `length` use, so an invalid
  * UTF-8 byte counts as one char in both. The one divergence: a
  * multi-byte lead byte truncated at the very END of the string, where
  * Spark's `substring` copies past the string's last byte; the walk
  * clamps that last window to the string.
  */
private[graftbridge] object CharWindows {
  final val SqlXxhashSeed = 42L

  /** Start byte of each code point of `s`, then `numBytes`; null when
    * `s` is ASCII (char offset == byte offset).
    */
  private def offsets(s: UTF8String): Array[Int] = {
    val numBytes = s.numBytes()
    val numChars = s.numChars()
    if (numChars == numBytes) return null
    val off = new Array[Int](numChars + 1)
    var b = 0
    var c = 0
    while (c < numChars) {
      off(c) = b
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
      c += 1
    }
    off(numChars) = math.min(b, numBytes)
    off
  }

  /** Number of windows [[forEachWindow]] visits. */
  def count(s: UTF8String, k: Int, clampShort: Boolean): Int = {
    val m = s.numChars() - (k - 1)
    if (clampShort) math.max(m, 1) else math.max(m, 0)
  }

  /** Visit the byte range `(from, until)` of every k-code-point window
    * of `s`, in start order. With `clampShort` a text shorter than k
    * yields ONE window, the whole text (`substr`'s clamping, the
    * shingle-kernel contract; "" yields one empty window); without it
    * such a text yields none.
    */
  @inline def forEachWindow(s: UTF8String, k: Int, clampShort: Boolean)(f: (Int, Int) => Unit): Unit = {
    val numChars = s.numChars()
    val n = count(s, k, clampShort)
    val off = offsets(s)
    var i = 0
    while (i < n) {
      val e = math.min(i + k, numChars)
      if (off == null) f(i, e) else f(off(i), off(e))
      i += 1
    }
  }

  /** xxhash64 (seed 42, Spark's SQL default) of every k-char shingle of
    * `s`, matching `xxhash64(substr(s, i, k))` exactly; texts shorter
    * than k hash their whole (clamped) text, mirroring `substr`, so
    * results equal the exploded formulation on every input. Zero
    * allocation per shingle, ASCII or not.
    */
  @inline def forEachShingleHash(s: UTF8String, k: Int)(f: Long => Unit): Unit = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    forEachWindow(s, k, clampShort = true) { (from, until) =>
      f(XXH64.hashUnsafeBytes(base, offset + from, until - from, SqlXxhashSeed))
    }
  }
}

/** One-pass MinHash signature of a string — `numHashes` permutation
  * minima over the k-shingle xxhash64 stream, identical to the
  * explode + `min` aggregation formulation (Dedup.minhashSignatures)
  * but as a PURE PROJECTION: no exploded (id, hash) rows, no shuffle,
  * no aggregation hash map. At 100 TB this turns signature computation
  * from a full shuffle stage into a map-only pass that fuses with the
  * scan.
  *
  * The permutation family is (a·h' + b) mod P over the 31-bit prime
  * field P = 2147483629 (h' = h folded into [0, P)), with a ∈ [1, P),
  * b ∈ [0, P) drawn deterministically from `seed` — the same universal
  * family Spark ML's MinHashLSH uses. a spanning the FULL field makes
  * the map wrap ~a·h'/P times (well mixed); an earlier variant with
  * a < 2^29 over a 61-bit field wrapped at most once, which made the
  * "permutations" rotation-like and heavily correlated — signature
  * estimates overshot true Jaccard by up to +0.4 (caught by
  * GroundTruthSuite's all-pairs reference). Coefficients are kept in a
  * per-instance table, resolved once per task.
  */
case class MinHashSig(child: Expression, numHashes: Int, shingleK: Int, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val coeffs: (Array[Long], Array[Long]) = MinHashSig.coefficients(numHashes, seed)

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], numHashes, shingleK, coeffs._1, coeffs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The heavy loop lives in a static helper; codegen inlines the call
    // so the expression stays inside whole-stage codegen (no
    // interpreted fallback, no row boxing).
    val cls = MinHashSig.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val aRef = ctx.addReferenceObj("minhashA", coeffs._1, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coeffs._2, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $cls.compute($c, $numHashes, $shingleK, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Largest prime below 2^31: a, h' < 2^31 keeps a·h' + b < 2^63
    * (no overflow) while a still spans the whole field.
    */
  final val Prime = 2147483629L

  /** Same deterministic family as Dedup.permCoeffs (identical Random
    * consumption order: a then b per index).
    */
  def coefficients(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      a(j) = rnd.nextInt((Prime - 1).toInt).toLong + 1
      b(j) = rnd.nextInt(Prime.toInt).toLong
      j += 1
    }
    (a, b)
  }

  def compute(s: UTF8String, numHashes: Int, k: Int, a: Array[Long], b: Array[Long]): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    CharWindows.forEachShingleHash(s, k) { h =>
      // Fold the 64-bit shingle hash into the field: mask to 31 bits,
      // then reduce mod P (collision prob per in-doc pair ~2^-31 —
      // negligible next to the 1/numHashes estimator noise).
      val hq = (h & 0x7FFFFFFFL) % Prime
      var j = 0
      while (j < numHashes) {
        // Operands are < 2^31 and non-negative, so the product fits a
        // long and plain % is already the positive remainder.
        val v = (a(j) * hq + b(j)) % Prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** One-pass 64-bit SimHash of a string: signed per-bit counters over
  * the k-shingle xxhash64 stream (repeats add weight — weighted
  * SimHash), reassembled into the sign vector. Identical results to
  * the explode + 64 conditional-sum aggregation, as a pure projection.
  */
case class SimHash64(child: Expression, shingleK: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String], shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash64.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.compute($c, $shingleK);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted distinct k-shingle xxhash64 array of a string, in ONE
  * projection pass — bit-identical to
  * `sort_array(collect_set(h))` over the exploded shingle stream
  * (equivalence ScalaTested), but with no exploded rows and no
  * aggregation shuffle: the shingle count is known from the string
  * length, so the hashes fill a pre-sized primitive buffer that is
  * sorted and deduped in place. This is the exact-Jaccard verifier's
  * set-build stage; as an explode + collect_set aggregation it was the
  * dominant q32 cost (~20M exploded rows at sf0.1 for ~5k docs).
  */
case class ShingleSet(child: Expression, shingleK: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSet.compute(input.asInstanceOf[UTF8String], shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleSet.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.compute($c, $shingleK);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSet {
  def compute(s: UTF8String, k: Int): ArrayData = {
    val n = CharWindows.count(s, k, clampShort = true)
    val buf = new Array[Long](n)
    var i = 0
    CharWindows.forEachShingleHash(s, k) { h => buf(i) = h; i += 1 }
    java.util.Arrays.sort(buf)
    var w = 0
    var r = 0
    while (r < n) {
      if (r == 0 || buf(r) != buf(r - 1)) { buf(w) = buf(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == n) buf else java.util.Arrays.copyOf(buf, w))
  }
}

/** Shared token-span scan for the word-gram expressions: byte-level
  * tokenization of a UTF8String into maximal runs of non-whitespace,
  * where whitespace is Java regex `\s` = [ \t\n\x0B\f\r] (ASCII-only,
  * matching `regexp_extract_all(text, '\\S+', 0)` exactly — those six
  * bytes never occur inside a UTF-8 multi-byte sequence, so the scan
  * is correct for all inputs without decoding).
  */
private[graftbridge] object WordGramSupport {
  @inline def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** (starts, ends, count): token i spans bytes [starts(i), ends(i)). */
  def tokenSpans(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var n = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        if (n == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(n) = i
        while (i < len && !isWs(bytes(i))) i += 1
        ends(n) = i
        n += 1
      }
    }
    (starts, ends, n)
  }

  /** Is the window of tokens [i, i+n) a contiguous single-space run in
    * the source bytes (the always-true case for normalize()d text)?
    * Then the joined gram IS the byte range — no assembly needed.
    */
  @inline def contiguous(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
                         i: Int, n: Int): Boolean = {
    var j = i
    while (j < i + n - 1) {
      if (starts(j + 1) != ends(j) + 1 || bytes(ends(j)) != 0x20) return false
      j += 1
    }
    true
  }

  /** Join tokens [i, i+n) with single spaces into a fresh array. */
  def assemble(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
               i: Int, n: Int): Array[Byte] = {
    var size = n - 1
    var j = i
    while (j < i + n) { size += ends(j) - starts(j); j += 1 }
    val out = new Array[Byte](size)
    var w = 0
    j = i
    while (j < i + n) {
      val l = ends(j) - starts(j)
      System.arraycopy(bytes, starts(j), out, w, l)
      w += l
      if (j < i + n - 1) { out(w) = 0x20; w += 1 }
      j += 1
    }
    out
  }
}

/** Sorted distinct xxhash64 values of a string's word n-grams in ONE
  * projection pass — bit-identical to exploding `\S+` tokens, joining
  * each n-window with single spaces (`concat_ws(' ', ...)`) and
  * hashing with `xxhash64`, but with no exploded rows, no lead-window
  * shuffle and no dropDuplicates aggregation: the decontamination /
  * bigram gram stage becomes a scan-fused projection. On normalized
  * text every gram is a contiguous byte range of the input (tokens are
  * single-space separated), hashed in place with zero copies; general
  * input falls back to a per-window join buffer with identical
  * results.
  */
case class WordGramHashes(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordGramHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = WordGramHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.compute($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGramHashes {
  import org.apache.spark.unsafe.Platform

  def compute(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends, nTok) = WordGramSupport.tokenSpans(bytes)
    val m = nTok - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val buf = new Array[Long](m)
    var i = 0
    while (i < m) {
      buf(i) =
        if (WordGramSupport.contiguous(bytes, starts, ends, i, n))
          XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + starts(i),
            ends(i + n - 1) - starts(i), CharWindows.SqlXxhashSeed)
        else {
          val g = WordGramSupport.assemble(bytes, starts, ends, i, n)
          XXH64.hashUnsafeBytes(g, Platform.BYTE_ARRAY_OFFSET, g.length,
            CharWindows.SqlXxhashSeed)
        }
      i += 1
    }
    java.util.Arrays.sort(buf)
    var w = 0
    var r = 0
    while (r < m) {
      if (r == 0 || buf(r) != buf(r - 1)) { buf(w) = buf(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) buf else java.util.Arrays.copyOf(buf, w))
  }
}

/** All word n-grams of a string as strings, in token order (duplicates
  * kept — corpus-wide and per-doc gram COUNTS need every occurrence),
  * in one projection pass: replaces the posexplode + lead-window
  * formulation (whose window shuffles the exploded token stream on the
  * doc id) with a scan-fused projection + explode.
  */
case class WordGrams(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"

  override protected def nullSafeEval(input: Any): Any =
    WordGrams.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = WordGrams.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.compute($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGrams {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends, nTok) = WordGramSupport.tokenSpans(bytes)
    val m = nTok - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (WordGramSupport.contiguous(bytes, starts, ends, i, n))
          UTF8String.fromBytes(bytes, starts(i), ends(i + n - 1) - starts(i))
        else
          UTF8String.fromBytes(WordGramSupport.assemble(bytes, starts, ends, i, n))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object SimHash64 {
  def compute(s: UTF8String, k: Int): Long = {
    val counts = new Array[Int](64)
    CharWindows.forEachShingleHash(s, k) { h =>
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }
}

/** Every length-`n` character window of a string, in start order
  * (duplicates kept: the array index is the window's 0-based start),
  * from ONE code-point walk ([[CharWindows]]) — the span-dedup window
  * stage as a scan-fused projection. `hashed` yields the xxhash64 (seed
  * 42) of each window, bit-identical to `xxhash64(substring(t, s, n))`;
  * otherwise the window strings themselves, equal to
  * `substring(t, s, n)`, for s in 1..len-n+1. A text shorter than n has
  * no window (empty array). One walk per doc, because a `substring`
  * per window re-walks the string from byte 0: O(len²) per doc.
  */
case class CharWindowGrams(child: Expression, n: Int, hashed: Boolean)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"window length must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(if (hashed) LongType else StringType, containsNull = false)
  override def prettyName: String = if (hashed) "char_window_hashes" else "char_windows"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (hashed) CharWindowGrams.hashes(s, n) else CharWindowGrams.windows(s, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = CharWindowGrams.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val fn = if (hashed) "hashes" else "windows"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.$fn($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharWindowGrams {
  def hashes(s: UTF8String, n: Int): ArrayData = {
    val buf = new Array[Long](CharWindows.count(s, n, clampShort = false))
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    var i = 0
    CharWindows.forEachWindow(s, n, clampShort = false) { (from, until) =>
      buf(i) = XXH64.hashUnsafeBytes(base, offset + from, until - from, CharWindows.SqlXxhashSeed)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(buf)
  }

  def windows(s: UTF8String, n: Int): ArrayData = {
    val out = new Array[Any](CharWindows.count(s, n, clampShort = false))
    val bytes = s.getBytes
    var i = 0
    CharWindows.forEachWindow(s, n, clampShort = false) { (from, until) =>
      out(i) = UTF8String.fromBytes(bytes, from, until - from)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
