package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic hashing kernels for the dedup family. All derive from splitmix64 —
  * public-domain mixing constants (Steele et al., "Fast Splittable Pseudorandom Number
  * Generators", OOPSLA'14) — so results are stable across JVMs and sessions.
  */
object HashKernels {
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hashString(s: String, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < s.length) { h = splitmix64(h ^ s.charAt(i).toLong); i += 1 }
    splitmix64(h ^ s.length.toLong)
  }

  /** Lower-cased word tokens (letters/digits runs). */
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  /** 64-bit SimHash over word tokens: bit b is the sign of Σ_tokens ±1 where the sign
    * comes from bit b of the token hash. Near-duplicate documents differ in few bits.
    */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    tokens(text).foreach { t =>
      val h = hashString(t, 0x51A7_C0DEL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Polynomial rolling fingerprint over the whitespace-normalized, lower-cased text —
    * the classic content-defined document fingerprint (base-31 Horner over code points).
    */
  def rollingFingerprint(text: String): Long = {
    val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
    var h = 1125899906842597L
    var i = 0
    while (i < norm.length) { h = 31 * h + norm.codePointAt(i); i += 1 }
    splitmix64(h)
  }

  // UTF8String entry points, called through [[KernelCall]]
  def simhash64U8(s: UTF8String): Long = simhash64(s.toString)
  def rollingFingerprintU8(s: UTF8String): Long = rollingFingerprint(s.toString)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val wordSplit = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  /** All token `n`-gram xxhash64 values of an ALREADY-LOWERCASED text, in token
    * order — bit-identical to the Catalyst chain
    * `transform(sequence(0, size(w)-n), i -> xxhash64(concat_ws(" ", slice(w, i+1, n))))`
    * over `w = filter(split(text, "[^\p{L}\p{N}]+"), length > 0)`: the same Java
    * regex splits the tokens (Spark's `split` delegates to java.util.regex), and
    * the hash is Spark's XXH64(seed=42) over the UTF-8 bytes of the space-joined
    * gram (UTF-8 concatenation == concatenation of UTF-8, so the gram string is
    * never materialized). One pass, no per-gram array slices or UTF8String
    * allocations. Fewer than `n` tokens (the caller maps null text to "") → empty.
    */
  def tokenNgramHashesU8(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val raw = wordSplit.split(s.toString, -1)
    var m = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) { raw(m) = raw(i); m += 1 }; i += 1 }
    if (m < n) return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(new Array[Long](0))
    val tokBytes = new Array[Array[Byte]](m)
    i = 0
    while (i < m) { tokBytes(i) = raw(i).getBytes(java.nio.charset.StandardCharsets.UTF_8); i += 1 }
    var maxLen = n - 1
    i = 0
    var winLen = n - 1
    while (i < m) {
      winLen += tokBytes(i).length
      if (i >= n) winLen -= tokBytes(i - n).length
      if (i >= n - 1 && winLen > maxLen) maxLen = winLen
      i += 1
    }
    val buf = new Array[Byte](maxLen)
    val out = new Array[Long](m - n + 1)
    var g = 0
    while (g <= m - n) {
      var pos = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val tb = tokBytes(g + j)
        System.arraycopy(tb, 0, buf, pos, tb.length)
        pos += tb.length
        j += 1
      }
      out(g) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      g += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** LSH band keys over a MinHash signature: band b's key is xxhash64 (seed 42) of
    * the DECIMAL-ASCII comma-join of its `rows` signature slots — bit-identical to
    * `xxhash64(concat_ws(",", element_at(sig, b·rows+1) .. element_at(sig, (b+1)·rows)))`
    * (Spark casts the longs to their decimal string; Long.toString is pure ASCII,
    * so the joined string's UTF-8 bytes are what both formulations hash). One
    * buffer, no per-band string columns — the Catalyst tree was bands × rows
    * element_at/concat/cast nodes (256 for the 64/32 default).
    */
  def minhashBandKeysU8(sig: org.apache.spark.sql.catalyst.util.ArrayData,
      rows: Int, bands: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val buf = new Array[Byte](rows * 21) // worst case: 20 chars per long + comma
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var pos = 0
      var r = 0
      while (r < rows) {
        if (r > 0) { buf(pos) = ','; pos += 1 }
        val s = java.lang.Long.toString(sig.getLong(b * rows + r))
        var i = 0
        while (i < s.length) { buf(pos) = s.charAt(i).toByte; pos += 1; i += 1 }
        r += 1
      }
      out(b) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Pigeonhole bucket keys over a 64-bit simhash: for each block combination
    * (the canonical `(0 until blocks).combinations(blocks - maxHamming)` order),
    * the chosen block values packed left-to-right — bit-identical to the
    * `c.map(blockVal).reduce((a, b) => shiftleft(a, width) | b)` fold of the
    * Catalyst formulation it replaces.
    */
  def simhashBucketKeysU8(sim: Long, width: Int,
      combos: scala.collection.immutable.ArraySeq.ofInt,
      comboLen: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val combosFlat = combos.unsafeArray
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val nCombos = combosFlat.length / comboLen
    val out = new Array[Long](nCombos)
    var c = 0
    while (c < nCombos) {
      var key = 0L
      var j = 0
      while (j < comboLen) {
        val blk = combosFlat(c * comboLen + j)
        key = (key << width) | ((sim >>> (blk * width)) & mask)
        j += 1
      }
      out(c) = key
      c += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Uniform [0,1) from the top 52 bits of md5(bytes of s) — BIT-IDENTICAL to the
    * engine-portable formula `conv(substring(md5(s), 1, 13), 16, 10)::DOUBLE / 2^52`
    * (13 hex chars = digest bytes 0..5 plus the high nibble of byte 6; the 52-bit
    * integer is exact in a double, and the final division is the same IEEE op).
    * One digest + a handful of shifts per call, where the expression chain pays
    * digest → hex-encode → substring → base-16 BigInt parse → decimal string →
    * double parse (measured ~2 s per pass over the 1.5M-token sf0.1 explode).
    */
  def md5Frac52U8(s: UTF8String): Double = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val top = ((d(0) & 0xffL) << 44) | ((d(1) & 0xffL) << 36) | ((d(2) & 0xffL) << 28) |
      ((d(3) & 0xffL) << 20) | ((d(4) & 0xffL) << 12) | ((d(5) & 0xffL) << 4) |
      ((d(6) & 0xffL) >>> 4)
    top.toDouble / 4503599627370496.0 // 2^52
  }

  /** Banded signed-random-projection sketch over a numeric vector, all bands in ONE
    * pass: band b's key bit i is the sign of Σ_d v_d · r(b·bits+i, d), with the
    * Rademacher sign r = parity of splitmix64((hyperplane << 32) ^ dim). A tight
    * O(dims · bits · bands) JVM loop — replaces bits·bands separate interpreted
    * higher-order-function passes (measured ~20× on the embeddings table). A null
    * array element nulls the whole sketch (matching the replaced HOF fold — a
    * fabricated key would silently bucket the row with unrelated vectors).
    */
  def srpBands(vec: org.apache.spark.sql.catalyst.util.ArrayData, tag: Int,
      bits: Int, bands: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val total = bits * bands
    val dots = new Array[Double](total)
    val dims = vec.numElements()
    var d = 0
    while (d < dims) {
      if (vec.isNullAt(d)) return null
      val x = graft.functions.NumArrays.get(vec, tag, d)
      var b = 0
      while (b < total) {
        if ((splitmix64((b.toLong << 32) ^ d.toLong) & 1L) == 0L) dots(b) += x
        else dots(b) -= x
        b += 1
      }
      d += 1
    }
    val out = new Array[Long](bands)
    var band = 0
    while (band < bands) {
      var key = 0L
      var i = 0
      while (i < bits) {
        if (dots(band * bits + i) >= 0) key |= (1L << i)
        i += 1
      }
      out(band) = key
      band += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** MinHash signature kernel: distinct code-point k-shingles, then per seed the min
    * of splitmix64(shingleHash ^ seed). Tight loop, zero per-gram allocation.
    */
  def minhashSignatureU8(v: UTF8String, k: Int, numHashes: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val cps = v.toString.codePoints().toArray
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (cps.length >= k) {
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i + k <= cps.length) {
        val gram = new String(cps, i, k)
        if (seen.add(gram)) {
          val g = hashString(gram, 0x9E3779B9L)
          var j = 0
          while (j < numHashes) {
            val h = splitmix64(g ^ (j * 0xC2B2AE3D27D4EB4FL))
            if (h < sig(j)) sig(j) = h
            j += 1
          }
        }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sig)
  }
}

/** Banded SRP sketch (see [[HashKernels.srpBands]]): array&lt;float|double&gt; →
  * array&lt;long&gt; of `bands` independent LSH keys, `bits` hyperplanes each.
  */
case class SrpSketchBands(child: Expression, bits: Int, bands: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 62 && bands >= 1,
    s"need 1 <= bits <= 62 and bands >= 1 (got $bits, $bands)")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    NumArrays.checkInput("srpSketchBands", child.dataType)

  private lazy val tag: Int = NumArrays.tagOf(child.dataType, "srpSketchBands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // null input OR any null array element → null sketch
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashKernels.srpBands(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      tag, bits, bands)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("graftSrp")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $tmp =
        graft.functions.HashKernels.srpBands($c, $tag, $bits, $bands);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object hashfns {
  private val longs = ArrayType(LongType, containsNull = false)

  /** 64-bit word-token SimHash (see [[HashKernels.simhash64]]). */
  def simhash64(c: Column): Column = KernelCall(HashKernels, "simhash64U8", LongType, c)
  /** MinHash signature in one pass: distinct code-point k-shingles, then for each of
    * `numHashes` seeds the min of splitmix64(shingleHash ^ seed). A tight JVM loop —
    * O(shingles · numHashes) with zero per-gram allocation — replacing 64 separate
    * higher-order-function passes (measured 30× faster on the documents table).
    */
  def minhashSignature(c: Column, k: Int, numHashes: Int): Column =
    KernelCall(HashKernels, "minhashSignatureU8", longs, c, k, numHashes)
  def rollingFingerprint(c: Column): Column =
    KernelCall(HashKernels, "rollingFingerprintU8", LongType, c)
  /** md5-top-52-bit uniform fraction of a STRING column (null → null; see
    * [[HashKernels.md5Frac52U8]]): the value every sampler keys on, the same as the
    * md5/conv/substring Catalyst chain it replaces, at one digest per row.
    */
  def md5Fraction(c: Column): Column = KernelCall(HashKernels, "md5Frac52U8", DoubleType, c)
  /** Token n-gram xxhash64 array of an already-lowercased text column (see
    * [[HashKernels.tokenNgramHashesU8]]; Spark's `lower` stays outside so its
    * collation semantics are untouched). NEVER null: a null text has no grams and
    * yields the empty array, exactly like the `when(size(w) >= n, ...).otherwise(array())`
    * chain it replaces.
    */
  def tokenNgramHashes(lowered: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(n >= 1, s"n must be >= 1, got $n")
    KernelCall(HashKernels, "tokenNgramHashesU8", longs, coalesce(lowered, lit("")), n)
  }
  /** `bands` LSH band keys over a MinHash signature array (see
    * [[HashKernels.minhashBandKeysU8]]). Null signature (null text) → null, which
    * posexplode skips — the replaced per-band xxhash64(concat_ws(..)) columns gave
    * every null-signature row the hash of "", i.e. shared buckets whose candidate
    * pairs the exact-verify then dropped (null jaccard); no verified pair changes,
    * the null docs just stop generating doomed candidates.
    */
  def minhashBandKeys(sig: Column, rows: Int, bands: Int): Column = {
    require(rows >= 1 && bands >= 1)
    KernelCall(HashKernels, "minhashBandKeysU8", longs, sig, rows, bands)
  }
  /** Pigeonhole bucket keys over a 64-bit simhash (see
    * [[HashKernels.simhashBucketKeysU8]]), one key per block combination in the
    * canonical combinations order. Null simhash (null text) → null; the replaced
    * expression array emitted all-null keys instead, which the equi-join on the
    * bucket could never match — no pair output changes. The flattened combination
    * table is the literal; it compares by value and prints its entries.
    */
  def simhashBucketKeys(sim: Column, width: Int, combos: Seq[Seq[Int]]): Column = {
    require(combos.nonEmpty && combos.map(_.size).distinct.size == 1)
    KernelCall(HashKernels, "simhashBucketKeysU8", longs, sim, width,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(combos.flatten.toArray),
      combos.head.size)
  }
  def srpSketchBands(c: Column, bits: Int, bands: Int): Column =
    ColumnBridge.column(SrpSketchBands(ColumnBridge.expression(c), bits, bands))
}
