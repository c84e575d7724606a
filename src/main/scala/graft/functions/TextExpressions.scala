package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** String-similarity kernels the reference gets from the `polars-ds` Rust plugin
  * (reference: transformers/text_transformers.py:40-104) re-implemented as native
  * Catalyst expressions. `CodegenFallback` keeps them usable inside codegen'd stages;
  * the kernels themselves are allocation-light and operate on code-point arrays.
  *
  * Golden parity (test_text_transformers.py:20-30, test_pipeline.py:431-437):
  *   - Damerau-Levenshtein similarity = 1 − OSA_distance / max(len)
  *   - Jaro-Winkler boosts only when jaro > 0.7, prefix capped at 4, weight param
  *   - Jaccard over contiguous character n-gram SETS
  *   - character entropy: Shannon entropy (base 2) of the code-point histogram
  */
object TextKernels {
  def codePoints(s: String): Array[Int] = s.codePoints().toArray

  // UTF8String entry points — called from generated code (top-level Scala objects
  // emit static forwarders, same pattern as CharClassKernels.count)
  def dlSimilarityU8(a: UTF8String, b: UTF8String): Double = dlSimilarity(a.toString, b.toString)
  def jaroSimilarityU8(a: UTF8String, b: UTF8String): Double = jaroSimilarity(a.toString, b.toString)
  def jaroWinklerU8(a: UTF8String, b: UTF8String, w: Double): Double =
    jaroWinkler(a.toString, b.toString, w)
  def ngramJaccardU8(a: UTF8String, b: UTF8String, n: Int): Double =
    ngramJaccard(a.toString, b.toString, n)
  def charEntropyU8(s: UTF8String): Double = charEntropy(s.toString)
  /** Unicode NFC (canonical composition) via the JDK normalizer. */
  def nfcU8(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** Optimal String Alignment distance (Damerau-Levenshtein with adjacent
    * transpositions, no substring re-edits).
    */
  def osaDistance(a: Array[Int], b: Array[Int]): Int = {
    val n = a.length; val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    var prev2 = new Array[Int](m + 1)
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var d = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          d = math.min(d, prev2(j - 2) + 1)
        cur(j) = d
        j += 1
      }
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  def dlSimilarity(a: String, b: String): Double = {
    val ca = codePoints(a); val cb = codePoints(b)
    val mx = math.max(ca.length, cb.length)
    if (mx == 0) 1.0 else 1.0 - osaDistance(ca, cb).toDouble / mx
  }

  def jaro(a: Array[Int], b: Array[Int]): Double = {
    val n = a.length; val m = b.length
    if (n == 0 && m == 0) return 1.0
    if (n == 0 || m == 0) return 0.0
    val window = math.max(math.max(n, m) / 2 - 1, 0)
    val aMatched = new Array[Boolean](n)
    val bMatched = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a(i) == b(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < n) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a(i) != b(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val mm = matches.toDouble
    (mm / n + mm / m + (mm - transpositions / 2.0) / mm) / 3.0
  }

  def jaroSimilarity(a: String, b: String): Double = jaro(codePoints(a), codePoints(b))

  def jaroWinkler(a: String, b: String, weight: Double): Double = {
    val ca = codePoints(a); val cb = codePoints(b)
    val j = jaro(ca, cb)
    if (j <= 0.7) return j
    var l = 0
    val cap = math.min(4, math.min(ca.length, cb.length))
    while (l < cap && ca(l) == cb(l)) l += 1
    j + l * weight * (1.0 - j)
  }

  def ngramSet(s: String, n: Int): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    val cps = codePoints(s)
    var i = 0
    while (i + n <= cps.length) {
      set.add(new String(cps, i, n))
      i += 1
    }
    set
  }

  /** Distinct code-point k-grams in FIRST-OCCURRENCE order — the same gram set
    * (and order) `array_distinct(transform(sequence(...), substring(...)))`
    * produces, in one pass with no per-gram Column machinery. Texts shorter
    * than k yield an empty array (the HOF chain yielded `[null]`, which every
    * consumer filtered — callers must keep filtering nothing, not nulls).
    */
  def distinctShinglesU8(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cps = codePoints(s.toString)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + k <= cps.length) {
      seen.add(new String(cps, i, k))
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def ngramJaccard(a: String, b: String, n: Int): Double = {
    val sa = ngramSet(a, n); val sb = ngramSet(b, n)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    inter.toDouble / union
  }

  /** Shannon entropy (base 2) of the code-point frequency distribution; "" → 0.0.
    * Counting via sort + run-length scan — no boxing, one array allocation per row
    * (this sits in the hot path of the headline feature job).
    */
  def charEntropy(s: String): Double = {
    if (s.isEmpty) return 0.0
    val cps = codePoints(s)
    java.util.Arrays.sort(cps)
    val total = cps.length.toDouble
    val invLog2 = 1.0 / math.log(2.0)
    var h = 0.0
    var i = 0
    while (i < cps.length) {
      var j = i + 1
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val p = (j - i) / total
      h -= p * math.log(p) * invLog2
      i = j
    }
    h
  }
}

/** Binary string→double kernels, whole-stage-codegen'd: doGenCode emits a call to the
  * static UTF8String kernel entry point, so these never break a WSCG span.
  */
abstract class BinaryStringDoubleExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  protected def compute(a: String, b: String): Double
  /** Java source for the static kernel call; `l`/`r` are UTF8String variables. */
  protected def genCall(l: String, r: String): String
  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (l, r) => genCall(l, r))
}

case class DamerauLevenshteinSimilarity(left: Expression, right: Expression)
    extends BinaryStringDoubleExpression {
  protected def compute(a: String, b: String): Double = TextKernels.dlSimilarity(a, b)
  protected def genCall(l: String, r: String): String =
    s"graft.functions.TextKernels.dlSimilarityU8($l, $r)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class JaroSimilarity(left: Expression, right: Expression) extends BinaryStringDoubleExpression {
  protected def compute(a: String, b: String): Double = TextKernels.jaroSimilarity(a, b)
  protected def genCall(l: String, r: String): String =
    s"graft.functions.TextKernels.jaroSimilarityU8($l, $r)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class JaroWinklerSimilarity(left: Expression, right: Expression, weight: Double)
    extends BinaryStringDoubleExpression {
  protected def compute(a: String, b: String): Double = TextKernels.jaroWinkler(a, b, weight)
  protected def genCall(l: String, r: String): String =
    s"graft.functions.TextKernels.jaroWinklerU8($l, $r, ${weight}D)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class NgramJaccardSimilarity(left: Expression, right: Expression, n: Int)
    extends BinaryStringDoubleExpression {
  protected def compute(a: String, b: String): Double = TextKernels.ngramJaccard(a, b, n)
  protected def genCall(l: String, r: String): String =
    s"graft.functions.TextKernels.ngramJaccardU8($l, $r, $n)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** UTF8String byte-level kernels for the common character classes. All ASCII classes
  * test lead bytes directly (UTF-8 continuation bytes 0x80-0xBF never collide with
  * ASCII ranges); the complement classes count code points via numChars().
  * Exact Java-regex equivalents: `\d`/`\s` are ASCII-only without
  * UNICODE_CHARACTER_CLASS, matching both Spark regexp_count and Polars' goldens.
  */
object CharClassKernels {
  val Digits = 0; val Whitespace = 1; val Uppercase = 2; val Lowercase = 3
  val Letter = 4; val NonAlphanumeric = 5; val NonAscii = 6

  val idByName: Map[String, Int] = Map(
    "digits_ascii" -> Digits, "whitespace_ascii" -> Whitespace, "uppercase" -> Uppercase,
    "lowercase" -> Lowercase, "letter" -> Letter, "non_alphanumeric" -> NonAlphanumeric,
    "non_ascii" -> NonAscii)

  def count(s: UTF8String, cls: Int): Int = {
    val n = s.numBytes()
    var c = 0
    var i = 0
    cls match {
      case Digits =>
        while (i < n) { val b = s.getByte(i); if (b >= '0' && b <= '9') c += 1; i += 1 }
        c
      case Whitespace =>
        while (i < n) {
          val b = s.getByte(i)
          if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r') c += 1
          i += 1
        }
        c
      case Uppercase =>
        while (i < n) { val b = s.getByte(i); if (b >= 'A' && b <= 'Z') c += 1; i += 1 }
        c
      case Lowercase =>
        while (i < n) { val b = s.getByte(i); if (b >= 'a' && b <= 'z') c += 1; i += 1 }
        c
      case Letter =>
        while (i < n) {
          val b = s.getByte(i)
          if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) c += 1
          i += 1
        }
        c
      case NonAlphanumeric =>
        while (i < n) {
          val b = s.getByte(i)
          if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) c += 1
          i += 1
        }
        s.numChars() - c
      case NonAscii =>
        while (i < n) { if ((s.getByte(i) & 0x80) == 0) c += 1; i += 1 }
        s.numChars() - c
    }
  }
}

/** Single-pass counter for the common character classes — no regex engine, no String
  * materialization, and fully whole-stage-codegen'd (doGenCode calls the static
  * kernel). Used automatically by TextCountMatchesTransformer when the requested regex
  * is one of these classes; arbitrary regexes still go through `regexp_count`.
  */
case class CharClassCount(child: Expression, className: String) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  private val classId: Int = CharClassKernels.idByName(className)

  override def nullSafeEval(v: Any): Any =
    CharClassKernels.count(v.asInstanceOf[UTF8String], classId)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharClassKernels.count($c, $classId)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CharClassCount {
  /** Java-regex Character.isDigit/isWhitespace match `\d`/`\s` on these inputs only for
    * ASCII `\d` (Java `\d` is ASCII-only by default, isDigit is Unicode) — so `\d` maps
    * to an explicit ASCII check below via the `digits_ascii` alias.
    */
  val byRegex: Map[String, String] = Map(
    """\d""" -> "digits_ascii",
    """\s""" -> "whitespace_ascii",
    """[A-Z]""" -> "uppercase",
    """[a-z]""" -> "lowercase",
    """[A-Za-z]""" -> "letter",
    """[^A-Za-z0-9]""" -> "non_alphanumeric",
    """[^\x00-\x7F]""" -> "non_ascii")
}

/** Unicode NFC normalization — the canonical first step of web-text cleaning (the
  * same text crawled twice often differs only in composed vs decomposed accents,
  * which breaks exact dedup). Codegen'd; DuckDB's nfc_normalize is the gate oracle.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullSafeEval(v: Any): Any = TextKernels.nfcU8(v.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfcU8($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Distinct code-point k-shingles of a text (see [[TextKernels.distinctShinglesU8]]).
  * Null text → null; short text → empty array (the HOF chain's `[null]` singleton
  * was filtered by every consumer — same exploded rows either way).
  */
case class DistinctShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType,
      containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.distinctShinglesU8(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.distinctShinglesU8($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CharacterEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    TextKernels.charEntropy(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charEntropyU8($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Column-level entry points. */
/** Aho–Corasick multi-pattern substring automaton: does the text contain ANY of the
  * patterns? One O(|text|) scan regardless of pattern count — vs the
  * `exists(snips, contains)` formulation, which re-scans the document once per
  * snippet. Built once on the driver, shipped to executors as a codegen reference
  * object (same mechanism as the PrefixAgg quantile bounds).
  *
  * Standard construction: goto trie + BFS failure links, with terminal marks
  * propagated through the links so a match ending mid-trie (a pattern that is a
  * proper suffix of another's prefix path) is still seen.
  */
final class AhoCorasick(patterns: Array[String]) extends Serializable {
  private val gotoMaps =
    scala.collection.mutable.ArrayBuffer(new java.util.HashMap[Character, Integer]())
  private val terminal = scala.collection.mutable.ArrayBuffer(false)
  // an empty-string pattern is a substring of everything (String.contains agrees)
  private val matchesAll: Boolean = patterns.exists(_.isEmpty)
  patterns.foreach { p =>
    var s = 0
    var i = 0
    while (i < p.length) {
      val c = Character.valueOf(p.charAt(i))
      var t = gotoMaps(s).get(c)
      if (t == null) {
        gotoMaps += new java.util.HashMap[Character, Integer]()
        terminal += false
        t = Integer.valueOf(gotoMaps.size - 1)
        gotoMaps(s).put(c, t)
      }
      s = t.intValue()
      i += 1
    }
    if (p.nonEmpty) terminal(s) = true
  }
  private val fail = new Array[Int](gotoMaps.size)
  locally {
    val q = new java.util.ArrayDeque[Integer]()
    gotoMaps(0).forEach((_, s) => { fail(s.intValue()) = 0; q.add(s) })
    while (!q.isEmpty) {
      val u = q.poll().intValue()
      if (terminal(fail(u))) terminal(u) = true
      gotoMaps(u).forEach { (c, v) =>
        q.add(v)
        var f = fail(u)
        while (f != 0 && gotoMaps(f).get(c) == null) f = fail(f)
        val t = gotoMaps(f).get(c)
        fail(v.intValue()) = if (t != null && t.intValue() != v.intValue()) t.intValue() else 0
      }
    }
  }

  def containsAny(text: String): Boolean = {
    if (matchesAll) return true
    var s = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = Character.valueOf(text.charAt(i))
      var t = gotoMaps(s).get(c)
      while (t == null && s != 0) { s = fail(s); t = gotoMaps(s).get(c) }
      s = if (t == null) 0 else t.intValue()
      if (terminal(s)) return true
      i += 1
    }
    false
  }
  def containsAnyU8(t: UTF8String): Boolean = containsAny(t.toString)
}

/** Boolean: text contains any of `patterns` (compiled Aho–Corasick; null text →
  * null). `patterns` is plan-time data — the literal snippet list — so equality /
  * explain / canonicalization see it like any other expression parameter.
  */
case class MultiContains(child: Expression, patterns: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  @transient private lazy val ac = new AhoCorasick(patterns.toArray)

  override def nullSafeEval(v: Any): Any = ac.containsAnyU8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("graftAc", ac, classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"$ref.containsAnyU8($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A trained character-trigram language model: packed code-point-trigram keys
  * (3 × 21 bits in one long, sorted) with their smoothed log-probabilities, plus
  * the shared unseen-trigram log-probability. Ships ONCE per executor as a codegen
  * reference object (the `MultiContains` mechanism); lookup is a
  * binary search, scoring one document is a single code-point pass.
  */
final class TrigramLmModel(
    val keys: Array[Long], // sorted packed trigrams
    val logProbs: Array[Double], // parallel to keys
    val unseenLogProb: Double) extends Serializable {
  require(keys.length == logProbs.length)

  /** Mean log-probability of the text's code-point trigrams; null (boxed) when the
    * text has fewer than 3 code points. Code-point (not UTF-16-unit) trigrams match
    * Spark's `substring` and DuckDB's `substr` semantics, so the oracle can mirror
    * the extraction exactly.
    */
  def scoreOrNull(t: UTF8String): java.lang.Double = {
    val s = t.toString
    val n = s.length
    if (n < 3) { // fast reject on UTF-16 length (cp count <= UTF-16 count)
      if (s.codePointCount(0, n) < 3) return null
    }
    var c0 = 0; var c1 = 0; var c2 = 0
    var i = 0; var seen = 0
    var sum = 0.0; var count = 0L
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      c0 = c1; c1 = c2; c2 = cp
      seen += 1
      if (seen >= 3) {
        val key = (c0.toLong << 42) | (c1.toLong << 21) | c2.toLong
        val at = java.util.Arrays.binarySearch(keys, key)
        sum += (if (at >= 0) logProbs(at) else unseenLogProb)
        count += 1
      }
    }
    if (count == 0) null else java.lang.Double.valueOf(sum / count)
  }

  /** Pack a 3-code-point string the same way scoring does (training-side helper). */
  def packedSize: Int = keys.length
}

object TrigramLmModel {
  /** Pack a trigram string's 3 code points into the model key; -1 if not exactly 3. */
  def packGram(g: String): Long = {
    if (g == null) return -1L
    val n = g.codePointCount(0, g.length)
    if (n != 3) return -1L
    var i = 0
    var key = 0L
    var c = 0
    while (i < g.length) {
      val cp = g.codePointAt(i)
      i += Character.charCount(cp)
      key = (key << 21) | cp.toLong
      c += 1
    }
    key
  }
}

/** Array[Long]: every code-point trigram of the text packed 3 × 21 bits into one
  * long (the [[TrigramLmModel]] key format), in document order; empty for texts
  * with < 3 code points. Exists so LM TRAINING can explode + count fixed-width
  * longs instead of allocating one 3-char string per trigram — UTF-8 byte order
  * equals packed-long order for 3-code-point grams, so the deterministic
  * (count desc, gram asc) vocabulary cut is unchanged.
  */
case class PackedTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = false)

  override def nullSafeEval(v: Any): Any =
    PackedTrigrams.pack(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PackedTrigrams.pack($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PackedTrigrams {
  /** One code-point pass; the same rolling pack as [[TrigramLmModel.scoreOrNull]]. */
  def pack(t: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = t.toString
    val n = s.length
    val cps = s.codePointCount(0, n)
    val out = new Array[Long](math.max(cps - 2, 0))
    if (out.length > 0) {
      var c0 = 0L; var c1 = 0L; var c2 = 0L
      var i = 0; var seen = 0
      while (i < n) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        c0 = c1; c1 = c2; c2 = cp.toLong
        seen += 1
        if (seen >= 3) out(seen - 3) = (c0 << 42) | (c1 << 21) | c2
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Double: mean log-probability of the text's code-point trigrams under `model`;
  * null for null text or texts with < 3 code points (no trigram to score).
  */
case class TrigramLogProb(child: Expression, model: TrigramLmModel)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = model.scoreOrNull(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("graftTriLm", model, classOf[TrigramLmModel].getName)
    // freshName: two TrigramLogProb instances can land in ONE codegen function
    // (e.g. scoring two text columns in a single projection) — a fixed local name
    // would redeclare and fail janino compilation
    val score = ctx.freshName("graftLmScore")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double $score = $ref.scoreOrNull($c);
      if ($score == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $score.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-row charset resolution for web-crawl payload decode. Charset names arrive
  * from HTTP Content-Type headers, so they are attacker-controlled strings: unknown,
  * illegal, or unsupported names fall back to UTF-8 (the WARC default) instead of
  * failing the task. Resolved [[java.nio.charset.Charset]]s are cached per name —
  * a crawl shard carries a handful of distinct charsets across millions of records.
  */
object CharsetKernels {
  private[graft] val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.charset.Charset]()
  // the names are attacker-controlled (per-row HTTP headers): normalize the key so
  // case/whitespace variants of one charset share an entry, and BOUND the map —
  // a shard with millions of distinct junk names must not grow executor memory
  // without limit (r6 ADVICE). Once full, new names resolve without being cached,
  // so a flood never evicts the real charsets cached before it; charset lookup is
  // case-insensitive, so the lowercased key resolves identically.
  private val MaxCacheEntries = 4096
  def resolve(name: String): java.nio.charset.Charset = {
    if (name == null) return java.nio.charset.StandardCharsets.UTF_8
    val key = name.trim.toLowerCase(java.util.Locale.ROOT)
    if (key.isEmpty) return java.nio.charset.StandardCharsets.UTF_8
    val hit = cache.get(key)
    if (hit != null) return hit
    val cs =
      try java.nio.charset.Charset.forName(key)
      catch { case _: IllegalArgumentException | _: java.nio.charset.UnsupportedCharsetException =>
        java.nio.charset.StandardCharsets.UTF_8 }
    if (cache.size() < MaxCacheEntries) cache.put(key, cs)
    cs
  }

  /** Decode `bytes` under the named charset (empty/null/unknown → UTF-8). The String
    * constructor REPLACES malformed sequences with U+FFFD — deliberately unlike
    * Spark's `decode` builtin, which throws MALFORMED_CHARACTER_CODING: crawl bytes
    * are untrusted, and one mojibake page must not fail the task. Valid input decodes
    * byte-identically to the builtin.
    */
  def decode(bytes: Array[Byte], cs: UTF8String): UTF8String =
    UTF8String.fromString(new String(bytes, resolve(if (cs == null) null else cs.toString)))
}

/** `decode(binary, charset_column)` — Spark's builtin `decode` takes a LITERAL charset
  * only; crawl pages declare theirs per row in the HTTP Content-Type. Whole-stage
  * codegen'd via a static kernel call. Standard binary null semantics (either child
  * null → null); [[textfns.decodeCharset]] coalesces the charset to "" (→ UTF-8, the
  * WARC default) so a missing header never nulls the page out.
  */
case class CharsetDecode(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullSafeEval(bin: Any, cs: Any): Any =
    CharsetKernels.decode(bin.asInstanceOf[Array[Byte]], cs.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (b, c) => s"graft.functions.CharsetKernels.decode($b, $c)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

object textfns {
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def col(ex: Expression): Column = ColumnBridge.column(ex)

  def damerauLevenshteinSim(l: Column, r: Column): Column = col(DamerauLevenshteinSimilarity(e(l), e(r)))
  /** Plain Levenshtein similarity 1 − dist/max(len) ("" vs "" → 1). Composes Spark's
    * codegen'd builtin — unlike OSA/Jaro, plain edit distance is implementation-
    * unambiguous, so this is the cross-engine-checkable member of the family.
    */
  def levenshteinSim(l: Column, r: Column): Column = {
    import org.apache.spark.sql.functions.{greatest, length, levenshtein, lit, when}
    val mx = greatest(length(l), length(r))
    when(mx === 0, 1.0).otherwise(lit(1.0) - levenshtein(l, r).cast("double") / mx)
  }
  def jaroSim(l: Column, r: Column): Column = col(JaroSimilarity(e(l), e(r)))
  def jaroWinklerSim(l: Column, r: Column, weight: Double = 0.1): Column =
    col(JaroWinklerSimilarity(e(l), e(r), weight))
  def ngramJaccardSim(l: Column, r: Column, n: Int = 2): Column = col(NgramJaccardSimilarity(e(l), e(r), n))
  def charEntropy(c: Column): Column = col(CharacterEntropy(e(c)))
  def nfcNormalize(c: Column): Column = col(NfcNormalize(e(c)))
  /** Distinct code-point k-shingles, first-occurrence order (null → null). */
  def distinctShingles(c: Column, k: Int): Column = col(DistinctShingles(e(c), k))
  /** True iff the text contains any of `patterns` (one compiled-automaton pass). */
  def multiContains(text: Column, patterns: Seq[String]): Column =
    col(MultiContains(e(text), patterns))
  /** Mean trigram log-probability under a trained [[TrigramLmModel]]. */
  def trigramLogProb(text: Column, model: TrigramLmModel): Column =
    col(TrigramLogProb(e(text), model))
  /** Packed-long code-point trigrams (LM training's count key). */
  def packedTrigrams(text: Column): Column = col(PackedTrigrams(e(text)))
  /** Decode a binary column under a PER-ROW charset name (null/empty/unknown name →
    * UTF-8). Spark's `decode` builtin takes only a literal charset; crawl pages
    * declare theirs in the HTTP Content-Type header, one per row.
    */
  def decodeCharset(bin: Column, charsetName: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    col(CharsetDecode(e(bin), e(coalesce(charsetName, lit("")))))
  }
}
