package graft.transformers

import graft.core._
import graft.functions.textfns
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text transformers (reference: transformers/text_transformers.py). */
abstract class TextSimilarityTransformer(l: ColumnSpec, r: ColumnSpec) extends BinaryTransformer(l, r) {
  private val stringy = TypeSelector(Set(ColType.Text, ColType.Nominal, ColType.Ordinal))
  def inputTypes: Seq[TypeSelector] = Seq(stringy, stringy)
  def returnType: ColType = ColType.Numeric
  protected def distStr: String
  def outputName: String = s"${l.name}_${distStr}_text_similarity_${r.name}"
}

final case class DamerauLevenshteinSimilarityTransformer(l: ColumnSpec, r: ColumnSpec)
    extends TextSimilarityTransformer(l, r) {
  protected def distStr = "damerau_levenshtein"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    simple(textfns.damerauLevenshteinSim(col(l.name), col(r.name)))
}

final case class JaccardSimilarityTransformer(l: ColumnSpec, r: ColumnSpec, substrSize: Int = 2)
    extends TextSimilarityTransformer(l, r) {
  protected def distStr = "jaccard"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    simple(textfns.ngramJaccardSim(col(l.name), col(r.name), substrSize))
}

final case class JaroSimilarityTransformer(l: ColumnSpec, r: ColumnSpec)
    extends TextSimilarityTransformer(l, r) {
  protected def distStr = "jaro"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    simple(textfns.jaroSim(col(l.name), col(r.name)))
}

final case class JaroWinklerSimilarityTransformer(l: ColumnSpec, r: ColumnSpec, weight: Double = 0.1)
    extends TextSimilarityTransformer(l, r) {
  protected def distStr = "jaro_winkler"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    simple(textfns.jaroWinklerSim(col(l.name), col(r.name), weight))
}

abstract class TextExtractionTransformer(val column: ColumnSpec) extends FeatureTransformer {
  def inputTypes: Seq[TypeSelector] =
    Seq(TypeSelector(Set(ColType.Text, ColType.Nominal, ColType.Ordinal)))
}

final case class TextLengthTransformer(c: ColumnSpec) extends TextExtractionTransformer(c) {
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${c.name}_length_chars"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(length(col(c.name)))
}

final case class EmailDomainExtractionTransformer(c: ColumnSpec) extends TextExtractionTransformer(c) {
  def returnType: ColType = ColType.Nominal
  def outputName: String = s"${c.name}_email_domain"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    // Spark's regexp_extract returns "" on no-match where Polars returns null
    // (golden: test_pipeline.py:436)
    val ex = regexp_extract(col(c.name), "@(.+)$", 1)
    simple(when(length(ex) === 0, lit(null)).otherwise(ex))
  }
}

final case class CharacterEntropyTransformer(c: ColumnSpec) extends TextExtractionTransformer(c) {
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${c.name}_character_entropy"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(textfns.charEntropy(col(c.name)))
}

/** Named regexes of the reference's CommonPatterns enum (text_transformers.py:214-236). */
object CommonPatterns {
  val patterns: Map[String, String] = Map(
    "digits" -> """\d""",
    "letter" -> """[A-Za-z]""",
    "uppercase" -> """[A-Z]""",
    "lowercase" -> """[a-z]""",
    "non_alphanumeric" -> """[^A-Za-z0-9]""",
    "whitespace" -> """\s""",
    "consecutive_digits" -> """\d{3,}""",
    "consecutive_letters" -> """[A-Za-z]{5,}""",
    "special_symbols" -> """[!@#$%^&*_=+|~<>]""",
    "punctuation" -> """[.,;:!?]""",
    "dot" -> """\.""",
    "slash" -> """/""",
    "at_sign" -> """@""",
    "hyphen" -> """-""",
    "underscore" -> """_""",
    "non_ascii" -> """[^\x00-\x7F]""",
    "zero_width" -> "[\\u200B-\\u200D\\uFEFF]")

  /** Resolve a raw regex / known pattern / (regex, name) to (regex, humanName). */
  def resolve(pattern: String): (String, String) =
    patterns.collectFirst { case (name, rx) if rx == pattern => (rx, name) }
      .getOrElse((pattern, pattern))
}

final case class TextCountMatchesTransformer(c: ColumnSpec, regex: String, humanName: String)
    extends TextExtractionTransformer(c) {
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${c.name}_count_$humanName"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    // single-character-class patterns take a regex-free single-pass counter
    graft.functions.CharClassKernels.byRegex.get(regex) match {
      case Some(cls) => simple(graft.functions.KernelCall(graft.functions.CharClassKernels,
        "count", org.apache.spark.sql.types.IntegerType, col(c.name), cls))
      case None => simple(regexp_count(col(c.name), lit(regex)))
    }
}

object TextCountMatchesTransformer {
  def apply(c: ColumnSpec, pattern: String): TextCountMatchesTransformer = {
    val (rx, name) = CommonPatterns.resolve(pattern)
    TextCountMatchesTransformer(c, rx, name)
  }
}
