package graft.web

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic Common-Crawl-style page table, per BASELINE.json's
  * input_hint: `(url string, warc_ts timestamp, html binary, text string, lang string)`.
  *
  * Fully distributed generation (spark.range → column expressions; no driver loops):
  *  - Zipf-skewed domains AND Zipf-skewed snapshot counts per url → hot-domain /
  *    hot-url skew for exercising the as-of join (one window partition per url)
  *    and AQE skew handling.
  *  - `text` derives deterministically from `html` (both functions of (urlId, snap)),
  *    giving the per-row byte-identity invariant: same (url, warc_ts) ⇒ same text.
  *  - Timestamps form per-url increasing snapshot chains with variable gaps,
  *    driving sessionization and rolling windows.
  */
object Pages {
  val Epoch0 = 1577836800L // 2020-01-01T00:00:00Z

  def generate(spark: SparkSession, numUrls: Long, seed: Long = 42L,
      numPartitions: Int = 32): DataFrame = {
    val base = spark.range(0, numUrls, 1, numPartitions).toDF("url_id")
    val h = xxhash64(col("url_id"), lit(seed))
    val hd = xxhash64(col("url_id"), lit(seed + 1))

    // Zipf-ish domain: domain_id = floor(numDomains^u) with u uniform — few domains
    // take most urls
    val numDomains = greatest(lit(16L), (lit(numUrls) / 50).cast("long"))
    val u = (pmod(hd, lit(1000000L)).cast("double") / 1e6)
    val domainId = floor(pow(numDomains.cast("double"), u)).cast("long")

    // snapshot count per url: mostly 1-4, with a heavy tail (hot urls)
    val r = pmod(h, lit(10000L))
    val snapCount = when(r < 6000, (r % 3) + 1)
      .when(r < 9500, (r % 8) + 2)
      .when(r < 9990, (r % 64) + 16)
      .otherwise((r % 512) + 128) // ~0.1% very hot urls

    val withMeta = base
      .withColumn("domain_id", domainId)
      .withColumn("snap_count", snapCount)
      .withColumn("url",
        concat(lit("https://d"), col("domain_id"), lit(".example.com/p/"),
          pmod(xxhash64(col("url_id"), lit(seed + 2)), lit(100000L)), lit("-"), col("url_id")))

    val exploded = withMeta
      .withColumn("snap", explode(sequence(lit(0L), col("snap_count") - 1)))

    val hs = xxhash64(col("url_id"), col("snap"), lit(seed + 3))
    // per-url phase + per-snapshot gaps of 1h..20d (variable → session structure)
    val phase = pmod(xxhash64(col("url_id"), lit(seed + 4)), lit(86400L * 30))
    val gap = lit(3600L) + pmod(hs, lit(86400L * 20))
    val wSnap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url_id")).orderBy(col("snap"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tsSeconds = lit(Epoch0) + phase + sum(gap).over(wSnap)

    val langs = array(lit("en"), lit("en"), lit("en"), lit("en"), lit("en"), lit("en"),
      lit("de"), lit("de"), lit("fr"), lit("es"), lit("cs"), lit("zh"))
    val lang = element_at(langs, (pmod(xxhash64(col("url_id"), lit(seed + 5)), lit(12)) + 1).cast("int"))

    // deterministic body: words drawn from a hash-keyed vocabulary; html wraps text
    val words = (0 to 11).map(i =>
      concat(lit("w"), pmod(xxhash64(col("url_id"), col("snap"), lit(seed + 10 + i)), lit(997L))))
    val text = concat(
      lit("Title "), col("url_id"), lit(" snapshot "), col("snap"), lit(" :: "),
      concat_ws(" ", words: _*))
    val html = concat(lit("<html><head><t>"), col("url_id"), lit("</t></head><body>"),
      text, lit("</body></html>"))

    exploded.select(
      col("url"),
      tsSeconds.cast("timestamp").as("warc_ts"),
      encode(html, "UTF-8").as("html"),
      text.as("text"),
      lang.as("lang"),
      col("url_id"), col("domain_id"), col("snap"))
  }

  /** Companion "events to backfill" table with timestamps interleaved between
    * snapshot times (as-of boundary cases: exact-match ts, before-first, after-last).
    */
  def events(spark: SparkSession, pages: DataFrame, perSnapshot: Int = 2, seed: Long = 42L): DataFrame = {
    val e = pages.select(col("url"), col("warc_ts"), col("url_id"), col("snap"))
      .withColumn("k", explode(sequence(lit(0), lit(perSnapshot - 1))))
    val hh = xxhash64(col("url_id"), col("snap"), col("k"), lit(seed + 100))
    // offsets straddle the snapshot: some before (negative), some after, some exactly 0
    val offset = when(pmod(hh, lit(5L)) === 0, lit(0L))
      .otherwise(pmod(hh, lit(2L * 86400L)) - 86400L)
    e.select(
      col("url"),
      (col("warc_ts").cast("long") + offset).cast("timestamp").as("ts"),
      pmod(hh, lit(1000L)).cast("double").as("value"))
  }
}
