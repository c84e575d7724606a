package graft.data

import graft.functions.hashfns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis columns for training-data curation: language ID, quality scoring,
  * token counting, document fingerprinting. All pure column expressions over the
  * `documents` table — codegen-friendly, no shuffles, no UDF round-trips (the only
  * non-builtin is the fingerprint Catalyst expression).
  */
object TextAnalysis {

  /** Stopword profiles per language — the classic n-gram/function-word heuristic.
    * Deterministic, dependency-free; ties resolve to the alphabetically-largest code
    * via the (score, lang) struct max.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pour", "dans", "que", "une", "des"),
    "es" -> Seq("el", "la", "los", "las", "que", "para", "con", "una", "por", "es"),
    "cs" -> Seq("je", "na", "se", "že", "pro", "jako", "tak", "ale", "nebo", "podle"),
    "it" -> Seq("il", "la", "che", "per", "con", "una", "del", "non", "sono", "della"))

  private def wordCount(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit(words.mkString("\\b(", "|", ")\\b")))

  /** Per-language stopword-hit score, normalized by token count. */
  def langScores(text: Column): Seq[(String, Column)] =
    stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> (wordCount(text, words).cast("double") / greatest(tokenCount(text).cast("double"), lit(1.0)))
    }

  /** Heuristic language id: argmax stopword score; "und" (undetermined) when no
    * profile scores above the floor.
    */
  def langId(text: Column, minScore: Double = 0.01): Column = {
    val best = greatest(langScores(text).map { case (l, s) => struct(s.as("s"), lit(l).as("l")) }: _*)
    when(best.getField("s") >= minScore, best.getField("l")).otherwise(lit("und"))
  }

  /** Whitespace-delimited token count; NULL for NULL text (the guard keeps
    * `size(NULL)`'s −1 out when ANSI is off).
    */
  def whitespaceTokenCount(text: Column): Column =
    when(text.isNotNull,
      size(split(trim(text), "\\s+")) - when(length(trim(text)) === 0, 1).otherwise(0))

  /** BPE-ish token count: letter runs, digit runs, and single non-space symbols —
    * the pre-tokenizer split most BPE vocabularies assume.
    */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("""\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"""))

  /** Composite quality score in [0,1]: length band, alpha ratio, stopword presence,
    * moderate punctuation/digit density, sane mean word length.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val alpha = regexp_count(text, lit("""\p{L}""")).cast("double")
    val digits = regexp_count(text, lit("""\p{N}""")).cast("double")
    val punct = regexp_count(text, lit("""[.,;:!?]""")).cast("double")
    val toks = greatest(tokenCount(text).cast("double"), lit(1.0))
    val stop = langScores(text).map(_._2).reduce((a, b) => greatest(a, b))

    val lengthScore = least(len / 200.0, lit(1.0))
    val alphaScore = alpha / greatest(len, lit(1.0))
    val stopScore = least(stop * 10.0, lit(1.0))
    val digitPenalty = least(digits / greatest(len, lit(1.0)) * 2.0, lit(1.0))
    val punctScore = least(punct / toks * 5.0, lit(1.0))
    greatest(least(
      lengthScore * 0.3 + alphaScore * 0.3 + stopScore * 0.2 +
        (lit(1.0) - digitPenalty) * 0.1 + punctScore * 0.1,
      lit(1.0)), lit(0.0))
  }

  /** Content-defined document fingerprint (rolling hash over normalized text). */
  def fingerprint(text: Column): Column = hashfns.rollingFingerprint(text)

  // -------------------------------------------- repetition / format signals (Gopher)

  /** Trimmed, non-empty lines of a document. Splits on `\r?\n` so CRLF pages see
    * the same lines as LF pages (a trailing `\r` would survive ASCII-space trim and
    * skew every line-keyed signal). Trim is ASCII-space (Spark `trim` and DuckDB
    * `trim` agree), so the oracle splits identically.
    */
  def lines(text: Column): Column =
    filter(transform(split(text, "\r?\n"), l => trim(l)), l => length(l) > 0)

  /** Lowercased word tokens (letter/digit runs) as an array — the same tokenization
    * [[wordCounts]] and the decontamination n-grams use.
    */
  def wordTokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), w => length(w) > 0)

  private def dupFraction(arr: Column): Column = {
    val n = size(arr).cast("double")
    when(n > 0, (n - size(array_distinct(arr)).cast("double")) / n).otherwise(lit(0.0))
  }

  private def lineFraction(text: Column, pred: Column => Column): Column = {
    val l = lines(text)
    val n = size(l).cast("double")
    when(n > 0, size(filter(l, pred)).cast("double") / n).otherwise(lit(0.0))
  }

  /** Fraction of lines that are duplicates of another line (1 − distinct/total);
    * 0 for an empty document. Boilerplate-heavy pages (nav menus, cookie banners
    * repeated per template) score high.
    */
  def dupLineFraction(text: Column): Column = dupFraction(lines(text))

  /** Fraction of word tokens that are repeats of an earlier token. */
  def dupWordFraction(text: Column): Column = dupFraction(wordTokens(text))

  /** '#' / '…' symbols per word — the classic symbol-to-word screen for markup and
    * truncation residue. 0.0 on null text, like the four sibling signals (null
    * handling must be uniform across the family — consumers filter on any one of
    * them interchangeably).
    */
  def symbolToWordRatio(text: Column): Column =
    coalesce(
      regexp_count(text, lit("[#…]")).cast("double") /
        greatest(size(wordTokens(text)).cast("double"), lit(1.0)),
      lit(0.0))

  /** Fraction of lines that start with a bullet marker. */
  def bulletLineFraction(text: Column): Column =
    lineFraction(text, l => l.rlike("^[•‣▶*-]"))

  /** Fraction of lines that end with an ellipsis ("..." or "…") — link-list and
    * teaser-snippet pages.
    */
  def ellipsisLineFraction(text: Column): Column =
    lineFraction(text, l => l.rlike("(\\.\\.\\.|…)$"))

  // ------------------------------------------------------------ script composition

  /** Unicode scripts profiled by [[scriptFractions]]. Java regex spells them
    * `\p{IsLatin}`; RE2 (DuckDB oracle) spells the same scripts `\p{Latin}`.
    */
  val scripts: Seq[String] = Seq("latin", "cyrillic", "han", "arabic")
  private val scriptRegex: Map[String, String] = Map(
    "latin" -> "\\p{IsLatin}", "cyrillic" -> "\\p{IsCyrillic}",
    "han" -> "\\p{IsHan}", "arabic" -> "\\p{IsArabic}")

  /** Per-script fraction of LETTER characters (`script_frac` sums to ≤ 1; scripts
    * outside the profiled set and null text give 0.0). Mixed-script documents —
    * the classic look-alike-spam / wrong-corpus signal — show split fractions.
    */
  def scriptFractions(text: Column): Seq[(String, Column)] = {
    val letters = greatest(regexp_count(text, lit("\\p{L}")).cast("double"), lit(1.0))
    scripts.map { s =>
      s -> coalesce(regexp_count(text, lit(scriptRegex(s))).cast("double") / letters, lit(0.0))
    }
  }

  /** Majority script of the letter characters; ties break in [[scripts]] order
    * (latin > cyrillic > han > arabic); "und" when the text has no letters (or is
    * null) OR when its letters all fall outside the profiled set (Greek, Hangul,
    * Devanagari, … must not masquerade as latin in wrong-corpus screening). The
    * comparison chain is mirrored verbatim in the oracle SQL.
    */
  def dominantScript(text: Column): Column = {
    val f = scriptFractions(text).toMap
    when(coalesce(regexp_count(text, lit("\\p{L}")), lit(0)) === 0, lit("und"))
      .when(greatest(f("latin"), f("cyrillic"), f("han"), f("arabic")) === 0.0, lit("und"))
      .when(f("latin") >= f("cyrillic") && f("latin") >= f("han") &&
        f("latin") >= f("arabic"), lit("latin"))
      .when(f("cyrillic") >= f("han") && f("cyrillic") >= f("arabic"), lit("cyrillic"))
      .when(f("han") >= f("arabic"), lit("han"))
      .otherwise(lit("arabic"))
  }

  /** Attach the five repetition/format signals. Pure column expressions (array HOFs
    * + regex counts) — one codegen'd projection, no shuffle, no UDFs; at 100 TB this
    * runs at scan speed alongside [[analyze]].
    */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("dup_line_frac", dupLineFraction(t))
      .withColumn("dup_word_frac", dupWordFraction(t))
      .withColumn("symbol_word_ratio", symbolToWordRatio(t))
      .withColumn("bullet_line_frac", bulletLineFraction(t))
      .withColumn("ellipsis_line_frac", ellipsisLineFraction(t))
  }

  /** Repetition/format keep-filter with published-rule-shaped defaults (duplicate
    * lines ≤ 30%, duplicate words ≤ 70%, symbols/word ≤ 0.1, bullet lines ≤ 90%,
    * ellipsis lines ≤ 30%). Null text is dropped — by the explicit `isNotNull`
    * conjunct, NOT by relying on any individual signal propagating null (all five
    * signals are 0.0 on null text).
    */
  def passesRepetitionFilter(text: Column,
      maxDupLineFrac: Double = 0.30, maxDupWordFrac: Double = 0.70,
      maxSymbolWordRatio: Double = 0.10, maxBulletLineFrac: Double = 0.90,
      maxEllipsisLineFrac: Double = 0.30): Column =
    coalesce(
      text.isNotNull &&
        dupLineFraction(text) <= maxDupLineFrac &&
        dupWordFraction(text) <= maxDupWordFrac &&
        symbolToWordRatio(text) <= maxSymbolWordRatio &&
        bulletLineFraction(text) <= maxBulletLineFrac &&
        ellipsisLineFraction(text) <= maxEllipsisLineFrac,
      lit(false))

  // ------------------------------------------------------------- cleaning operators

  /** Unicode NFC normalization — composed vs decomposed accents break exact dedup;
    * run this before hashing. Codegen'd JDK normalizer (q_normalize gate vs DuckDB).
    */
  def nfcNormalize(text: Column): Column = graft.functions.textfns.nfcNormalize(text)

  /** PII masking: emails, phone-like digit runs, dotted quads (IP-like).
    * Patterns restricted to syntax RE2 also supports, so the DuckDB oracle runs the
    * identical regexes. The phone pattern needs ≥7 digits with separator runs of at
    * most 2 chars between them — "+1 555 123 4567" and "(555) 123-4567" match, but
    * prose number lists with wider gaps ("1999 - 2008") no longer collapse to
    * <PHONE>. Still aggressive by design (space-separated digit groups DO match);
    * run maskPii AFTER numeric-sensitive analysis (token counts, word frequencies).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("""[\w.+-]+@[\w-]+(\.[\w-]+)+""", "<EMAIL>"),
    ("""\+?\d(?:[() -]{0,2}\d){6,}""", "<PHONE>"),
    ("""\b\d{1,3}(\.\d{1,3}){3}\b""", "<IP>"))

  def maskPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (rx, repl)) => regexp_replace(c, rx, repl) }

  /** Boilerplate filter: keep only lines with at least `minWords` word tokens (nav
    * menus, timestamps, and link lists are short lines). Pure HOFs over the split —
    * no explode of the corpus.
    */
  def stripShortLines(text: Column, minWords: Int = 4): Column =
    array_join(
      filter(split(text, "\n"),
        line => size(split(trim(line), "\\s+")) >= minWords && length(trim(line)) > 0),
      "\n")

  /** Corpus word-frequency table — the input to tokenizer/BPE training and stopword
    * mining: lowercased BPE-ish pre-tokens, exploded and counted. One shuffle with
    * map-side combine; at 100 TB this is the canonical word-count shape.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(wordTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))

  /** Top-`k` TF-IDF keywords per document — the classic per-doc salient-term
    * extraction (tf · ln(N/df) over [[wordTokens]]), used for corpus topic
    * dashboards and keyword-conditioned filtering. Returns one row per kept
    * `(id, word)` with the r6-ROUNDED score (rounded BEFORE ranking so the
    * cross-engine rank order is decided on identical values) and the 1-based
    * rank; ties break word-ascending. Documents with no tokens emit no rows.
    *
    * Scale shape: one explode + map-side-combinable groupBy to per-doc term
    * counts, one groupBy on the word for document frequencies, the corpus-size
    * scalar attached via a broadcast crossJoin of a 1-row aggregate (lazy — no
    * driver action), one shuffle join back on the word (AQE skew-splits
    * stopword-hot words), and a per-doc window over the doc's OWN terms only.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int,
      wordOut: String = "word", scoreOut: String = "tfidf",
      rankOut: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df
      .select(col(idCol), explode(wordTokens(col(textCol))).as(wordOut))
      .groupBy(col(idCol), col(wordOut)).agg(count(lit(1)).as("__tf"))
    val dfw = tf.groupBy(col(wordOut)).agg(count(lit(1)).as("__df"))
    val n = df.where(col(idCol).isNotNull)
      .agg(countDistinct(col(idCol)).cast("double").as("__n"))
    val scored = tf.join(dfw, Seq(wordOut))
      .crossJoin(broadcast(n))
      .withColumn(scoreOut,
        round(col("__tf").cast("double") * log(col("__n") / col("__df").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(scoreOut).desc, col(wordOut).asc)
    scored.withColumn(rankOut, row_number().over(w))
      .where(col(rankOut) <= k)
      .select(col(idCol), col(wordOut), col(scoreOut), col(rankOut))
  }

  /** Convenience: attach all analysis columns. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("lang_id", langId(t))
      .withColumn("token_count", tokenCount(t))
      .withColumn("ws_token_count", whitespaceTokenCount(t))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
