package graft.web

import graft.core._
import graft.dataset.GraftDataset
import graft.pipeline.{ops, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship point-in-time feature-synthesis job over the Common-Crawl-style page
  * table — the north-star workload: per (url, warc_ts), lag/lead deltas, rolling
  * aggregates, sessionization, and count/distinct encodings over lang and text-derived
  * columns, with zero temporal leakage (every feature is an order-bounded window in
  * event time).
  *
  * Plan shape at scale: all per-url features share Window.partitionBy(url)
  * .orderBy(warc_ts…) → ONE shuffle + sort services every feature; scalar text
  * features ride the same projection (whole-stage codegen).
  */
object WebFeatures {

  val pageSchema: FeatureSchema = FeatureSchema(
    ColumnSpec.nominal("url", ColRole.Identifier),
    ColumnSpec.datetime("warc_ts", ColRole.TimeInfo),
    ColumnSpec.text("text"),
    ColumnSpec.nominal("lang"))

  /** @param pages (url, warc_ts, html, text, lang); `html` is dropped up front — the
    * feature table is keyed (url, warc_ts) and never re-emits raw page bytes, and
    * carrying them through the shuffle + every window pass would more than double the
    * sort volume (measured ~60% of input bytes)
    */
  def pointInTime(pages: DataFrame, sessionGapSeconds: Long = 2 * 86400L): DataFrame = {
    val slim0 = pages.select(pages.columns.filterNot(_ == "html").map(col): _*)
    // pre-materialize warc_ts's epoch-seconds twin (AggContext.alignedName contract):
    // the pipeline's rolling + running windows AND the bespoke lag/sessionize windows
    // below all order by (twin, warc_ts, url), so the ENTIRE per-url feature chain —
    // six window families — rides one shuffle + ONE sort (was three sorts)
    val ordName = AggContext.alignedName("warc_ts")
    val slim = slim0.withColumn(ordName, col("warc_ts").cast("timestamp").cast("long"))
    // scalar text-derived columns first (become pipeline inputs in the next layer)
    val ds = GraftDataset(slim, pageSchema, orderBy = Seq("warc_ts", "url"))
    val withFeatures = Pipeline(ds)
      .withTextExtraction("text", Seq(ops.TextExtract.Length, ops.TextExtract.CharacterEntropy))
      .withTextCountMatches("text", Seq("""\d""", """\s"""))
      .withNewLayer()
      // per-url point-in-time features — all share partitionBy(url)
      .withCount(overColumnsCombinations = Seq(Seq("url")), cumulative = Cum.Inclusive)
      .withLagged("text_length_chars", Seq(1), overColumnsCombinations = Seq(Seq("url")))
      .withArithmeticAggregation("text_length_chars",
        Seq(ops.Agg.Mean, ops.Agg.Max),
        overColumnsCombinations = Seq(Seq("url")), cumulative = Cum.Exclusive)
      .withCount(overColumnsCombinations = Seq(Seq("url")),
        timeWindows = Seq("7d", "30d"), indexColumnName = Some("warc_ts"))
      .withNumUnique("lang", overColumnsCombinations = Seq(Seq("url")), cumulative = Cum.Inclusive)
      .toDF()

    // session structure + exact-change tracking — same (url, (warc_ts, url)) window
    // family as every pipeline feature above, so it rides the same shuffle + sort.
    // The independent lag features are computed BEFORE sessionization so Catalyst's
    // CollapseWindow merges them into sessionize's first (independent) window node
    // instead of trailing its dependent second stage.
    val order = Seq(ordName, "warc_ts", "url")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
      .orderBy(order.map(col(_).asc): _*)
    val withLags = withFeatures
      .withColumn("text_fingerprint", xxhash64(col("text")))
      .withColumn("text_changed",
        coalesce(xxhash64(col("text")) =!= lag(xxhash64(col("text")), 1).over(w), lit(true)))
      .withColumn("secs_since_last_snapshot",
        col("warc_ts").cast("long") - lag(col("warc_ts"), 1).over(w).cast("long"))
    Sessionize.withSessionIds(withLags, Seq("url"), "warc_ts",
      sessionGapSeconds, orderBy = order)
      .drop(ordName)
  }

  /** Extract the text payload from a raw `html` BINARY column: UTF-8 decode, take the
    * body element's contents, strip residual tags. Pure codegen'd column expressions
    * (decode + regexp), no UDF. On the synthetic page table this reproduces the `text`
    * column byte-identically — the north rule's per-row invariant, asserted in WebSpec.
    */
  def htmlText(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // NOT Spark's `decode` builtin: that throws MALFORMED_CHARACTER_CODING on invalid
    // UTF-8, and crawl bytes are untrusted — one mojibake page must not kill the task.
    // The kernel replaces malformed sequences with U+FFFD; valid UTF-8 is unchanged,
    // preserving the byte-identity invariant on the synthetic page table.
    stripTags(graft.functions.textfns.decodeCharset(html, lit("")))

  /** Charset-aware variant for WARC-sourced pages: decode each page's bytes under the
    * charset its own HTTP Content-Type declared (`WarcSource.pages` carries it as
    * `content_type`); pages with no/unknown charset parameter decode as UTF-8 — the
    * WARC-default fallback — making this a strict superset of the UTF-8 overload.
    */
  def htmlText(html: org.apache.spark.sql.Column,
      contentType: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    stripTags(graft.functions.textfns.decodeCharset(html, graft.web.WarcSource.charsetOf(contentType)))

  /** All outlink targets of a raw `html` BINARY page: href values of anchor tags,
    * in document order, fragment-only links dropped. Pure codegen (charset-safe
    * decode + regexp_extract_all) — feeds [[UrlOps.hostOf]] → [[HostGraph.pageRank]]
    * to build the host-centrality curation prior straight off a crawl. Quoted
    * href values only (single or double) — unquoted attributes, a pre-HTML5
    * relic, are deliberately out of scope; for graph building the recall loss is
    * negligible and the regex stays single-group (regexp_extract_all's limit). */
  def extractLinks(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(
      // `(?:[^>]*?\s)?href` — href must sit at an attribute boundary (start of the
      // attribute list or after whitespace), so data-href / xlink:href never match
      // and can't shadow the real href later in the same tag. The value closes on
      // a BACKREFERENCE of the opening quote (r6 ADVICE): an apostrophe inside a
      // double-quoted href (href="it's-a-page") is part of the value, not a
      // terminator — the independent ["'] close class truncated such URLs.
      regexp_extract_all(graft.functions.textfns.decodeCharset(html, lit("")),
        lit("(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*([\"'])((?!#)(?:(?!\\1).)+)\\1"), lit(2)),
      l => length(l) > 0)

  private def stripTags(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val body = regexp_extract(s, "(?s)<body[^>]*>(.*)</body>", 1)
    regexp_replace(body, "(?s)<[^>]*>", "")
  }

  /** Backfill: attach the latest page snapshot at-or-before each event's timestamp. */
  def backfillEvents(events: DataFrame, pages: DataFrame): DataFrame =
    AsOfJoin.backward(events, pages.select(col("url"), col("warc_ts"), col("text"), col("lang")),
      Seq("url"), "ts", Seq("url"), "warc_ts", Seq("warc_ts", "text", "lang"))
}
