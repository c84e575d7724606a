package graft

import graft.streaming.StreamingFeatures
import graft.streaming.StreamingFeatures.PageEvent
import graft.web.{Pages, WebFeatures}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch/stream parity: replaying the synthetic page table through MemoryStream must
  * reproduce the batch job's values for the shared features — the streaming engine is
  * the same point-in-time semantics expressed as per-key state.
  */
class StreamingSpec extends SparkTestBase {

  test("stateful streaming features match the batch point-in-time job") {
    import spark.implicits._
    val pages = Pages.generate(spark, numUrls = 120, seed = 11L, numPartitions = 2)
      .select(col("url"), col("warc_ts"), col("text"), col("lang"))
      .as[PageEvent]
    val batch = WebFeatures.pointInTime(pages.toDF())
      .select(col("url"), col("warc_ts"),
        col("inclusive_cum_count_over_url").cast("long").as("snapshot_idx"),
        col("secs_since_last_snapshot"),
        col("session_id"),
        col("text_changed"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    // TTL far above the synthetic table's multi-year url timelines: this test checks
    // feature parity, not eviction (eviction has its own test below)
    val query = StreamingFeatures.features(input.toDS(), sessionGapSeconds = 2 * 86400L,
        stateTtlSeconds = 100L * 365 * 86400)
      .writeStream.format("memory").queryName("stream_features")
      .outputMode("append").start()
    try {
      // feed in two event-time-ordered micro-batches (state must carry across)
      val rows = pages.collect().sortBy(e => (e.warc_ts.getTime, e.url))
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("stream_features").collect()
    assert(streamed.length == batch.size)
    streamed.foreach { r =>
      val key = (r.getString(0), r.getTimestamp(1))
      val b = batch(key)
      assert(r.getLong(2) == b.getLong(2), s"snapshot_idx mismatch at $key")
      val streamGap = if (r.isNullAt(3)) null else Long.box(r.getLong(3))
      val batchGap = if (b.isNullAt(3)) null else Long.box(b.getLong(3))
      assert(streamGap == batchGap, s"gap mismatch at $key")
      assert(r.getLong(4) == b.getLong(4), s"session_id mismatch at $key")
      assert(r.getBoolean(5) == b.getBoolean(5), s"text_changed mismatch at $key")
    }
  }

  test("the feature fold is lazy: k outputs consume exactly k inputs") {
    import graft.streaming.StreamingFeatures.UrlState
    // one output per input, state threaded in order — if the fold buffered
    // (toSeq/sort), this counter would jump to n on the first element
    var consumed = 0
    val n = 1000
    val events = Iterator.tabulate(n) { i =>
      consumed += 1
      PageEvent("http://hot.example/", new java.sql.Timestamp(1700000000000L + i * 1000L),
        s"text $i", "en")
    }
    val out = StreamingFeatures.foldFeatures("http://hot.example/", events,
      UrlState(0L, Long.MinValue, -1L, 0L, 0.0), sessionGapSeconds = 3600L)
    assert(consumed == 0) // nothing consumed before the first pull
    val first = out.next()._1
    assert(consumed == 1 && first.snapshot_idx == 1L)
    (2 to 10).foreach(k => assert(out.next()._1.snapshot_idx == k.toLong))
    assert(consumed == 10, s"10 outputs must consume exactly 10 inputs, got $consumed")
    // drain with foreach (Iterator.size would shortcut via knownSize, pulling nothing)
    var drained = 0
    out.foreach(_ => drained += 1)
    assert(drained == n - 10 && consumed == n) // state threads to the end
  }

  test("session_window stats match batch sessionStats on closed sessions") {
    import spark.implicits._
    import java.sql.Timestamp
    val gap = 2 * 86400L
    val pages = Pages.generate(spark, numUrls = 80, seed = 17L, numPartitions = 2)
      .select(col("url"), col("warc_ts"), col("text"), col("lang"))
      .as[PageEvent]
    val rows = pages.collect().sortBy(e => (e.warc_ts.getTime, e.url))
    val batch = graft.web.Sessionize.sessionStats(pages.toDF(), Seq("url"), "warc_ts", gap,
        orderBy = Seq("warc_ts", "url"))
      .select(col("url"), col("session_num_events"), col("session_start"),
        col("session_end"), col("session_duration_seconds"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4))).toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    val query = StreamingFeatures.sessionStats(input.toDS(), gap, watermark = "1 second")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first.toSeq); query.processAllAvailable()
      input.addData(second.toSeq); query.processAllAvailable()
      // two far-future sentinels on a throwaway url push the watermark past every
      // real session's end+gap so they all CLOSE and emit (append mode emits only
      // closed sessions); the sentinel's own session stays open and never emits
      val maxTs = rows.map(_.warc_ts.getTime).max
      val s1 = PageEvent("__sentinel", new Timestamp(maxTs + 100L * 86400_000L), "x", "en")
      val s2 = PageEvent("__sentinel", new Timestamp(maxTs + 101L * 86400_000L), "x", "en")
      input.addData(Seq(s1)); query.processAllAvailable()
      input.addData(Seq(s2)); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("stream_sessions")
      .where(col("url") =!= "__sentinel")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"closed streaming sessions diverge from batch: missing=${batch -- streamed} extra=${streamed -- batch}")
  }

  test("streaming as-of backfill matches the batch as-of join row for row") {
    import spark.implicits._
    import graft.streaming.StreamingFeatures.{BackfilledEvent, TimelineRow}
    val pagesFull = Pages.generate(spark, numUrls = 120, seed = 13L, numPartitions = 2).cache()
    val pages = pagesFull.select(col("url"), col("warc_ts"), col("text"), col("lang"))
    val events = Pages.events(spark, pagesFull, seed = 13L)

    def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double, Any, Any)] =
      df.select(col("url"), col("ts").cast("long"), col("value"),
          col("warc_ts").cast("long"), col("text"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) null else r.getLong(3), if (r.isNullAt(4)) null else r.getString(4)))
        .toSeq.sorted(Ordering.by((t: (String, Long, Double, Any, Any)) =>
          (t._1, t._2, t._3, String.valueOf(t._4))))

    val batch = canon(WebFeatures.backfillEvents(events, pages))

    val timeline =
      pages.select(col("url"), col("warc_ts").as("ts"), lit(true).as("isPage"),
          col("text"), col("lang"), lit(0.0).as("value")).as[TimelineRow].collect() ++
      events.select(col("url"), col("ts"), lit(false).as("isPage"),
          lit("").as("text"), lit("").as("lang"), col("value")).as[TimelineRow].collect()
    // two event-time-ordered micro-batches; pages sort before events at equal ts
    val ordered = timeline.sortBy(r => (r.ts.getTime, if (r.isPage) 0 else 1))
    val (first, second) = ordered.splitAt(ordered.length / 2)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[TimelineRow]
    val query = graft.streaming.StreamingFeatures.backfill(input.toDS(),
        stateTtlSeconds = 100L * 365 * 86400)
      .writeStream.format("memory").queryName("stream_backfill")
      .outputMode("append").start()
    try {
      input.addData(first.toSeq); query.processAllAvailable()
      input.addData(second.toSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = canon(spark.table("stream_backfill"))
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("stateful features evict state for urls silent past the TTL") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(daysFromEpoch: Long) = new java.sql.Timestamp(1577836800000L + daysFromEpoch * 86400_000L)
    val input = MemoryStream[PageEvent]
    // TTL 1 day, watermark delay 0: a url silent > 1 day of event time is evicted
    val query = StreamingFeatures.features(input.toDS(), sessionGapSeconds = 86400L,
        watermarkDelay = "0 seconds", stateTtlSeconds = 86400L)
      .writeStream.format("memory").queryName("stream_evict")
      .outputMode("append").start()
    try {
      input.addData(PageEvent("a", ts(0), "v1", "en"), PageEvent("a", ts(0), "v1", "en"))
      query.processAllAvailable() // watermark after this batch: day 0
      // sentinel url advances the watermark to day 10 — far past a's TTL (day 1)
      input.addData(PageEvent("z", ts(10), "x", "en"))
      query.processAllAvailable()
      // one more batch so the day-10 watermark is APPLIED: a's timeout fires here
      input.addData(PageEvent("z", ts(11), "x", "en"))
      query.processAllAvailable()
      // a returns after eviction: must restart COLD (idx 1, null gap), not resume
      input.addData(PageEvent("a", ts(12), "v2", "en"))
      query.processAllAvailable()
    } finally query.stop()
    val a = spark.table("stream_evict").where(col("url") === "a")
      .orderBy("warc_ts").collect()
    assert(a.length == 3, a.mkString(", "))
    val revived = a.last
    assert(revived.getAs[Long]("snapshot_idx") == 1L,
      s"state not evicted: revived url resumed at snapshot_idx ${revived.getAs[Long]("snapshot_idx")}")
    assert(revived.isNullAt(revived.fieldIndex("secs_since_last_snapshot")),
      "state not evicted: revived url still sees a gap to its pre-eviction snapshot")
    // timeout invocations must not emit rows of their own
    assert(spark.table("stream_evict").count() == 5)
  }

  test("streaming backfill evicts snapshot state past the TTL (cold-start nulls)") {
    import spark.implicits._
    import graft.streaming.StreamingFeatures.TimelineRow
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(d: Long) = new java.sql.Timestamp(1577836800000L + d * 86400_000L)
    val input = MemoryStream[TimelineRow]
    val query = StreamingFeatures.backfill(input.toDS(),
        watermarkDelay = "0 seconds", stateTtlSeconds = 86400L)
      .writeStream.format("memory").queryName("stream_backfill_evict")
      .outputMode("append").start()
    try {
      input.addData(
        TimelineRow("a", ts(0), isPage = true, "snapshot text", "en", 0.0),
        TimelineRow("a", ts(0), isPage = false, "", "", 1.5))
      query.processAllAvailable()
      input.addData(TimelineRow("z", ts(10), isPage = true, "x", "en", 0.0))
      query.processAllAvailable()
      input.addData(TimelineRow("z", ts(11), isPage = true, "x", "en", 0.0))
      query.processAllAvailable() // a's snapshot state evicted here (TTL = day 1 < wm)
      input.addData(TimelineRow("a", ts(12), isPage = false, "", "", 2.5))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("stream_backfill_evict").orderBy("ts").collect()
    assert(rows.length == 2, rows.mkString(", "))
    assert(rows.head.getAs[java.sql.Timestamp]("warc_ts") == ts(0)) // pre-TTL: enriched
    assert(rows.last.isNullAt(rows.last.fieldIndex("warc_ts")),
      "snapshot state not evicted: post-TTL event still backfilled from the dead snapshot")
  }

  test("streaming exact dedup keeps the first content hash across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2020-01-$day%02d 00:00:00")
    val input = MemoryStream[PageEvent]
    val query = graft.streaming.StreamingFeatures.dedupStream(input.toDS(), "7 days")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      input.addData(
        PageEvent("u1", ts(1), "same text", "en"),
        PageEvent("u2", ts(1), "same text", "en"), // in-batch duplicate
        PageEvent("u3", ts(2), "other text", "en"))
      query.processAllAvailable()
      input.addData(PageEvent("u4", ts(3), "same text", "en")) // cross-batch duplicate
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.table("stream_dedup")
    assert(out.count() == 2, out.collect().mkString(", "))
    assert(out.select("text").collect().map(_.getString(0)).toSet ==
      Set("same text", "other text"))
  }

  test("watermarked windowed counts produce rows and respect the window width") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    val query = StreamingFeatures.windowedCounts(input.toDS(), "7 days", "1 day")
      .writeStream.format("memory").queryName("stream_windows")
      .outputMode("append").start()
    try {
      val rows = Pages.generate(spark, numUrls = 50, seed = 12L, numPartitions = 2)
        .select(col("url"), col("warc_ts"), col("text"), col("lang"))
        .as[PageEvent].collect().sortBy(_.warc_ts.getTime)
      input.addData(rows.toSeq)
      query.processAllAvailable()
      // advance the watermark far past the data so all windows close and emit
      val last = rows.last
      input.addData(PageEvent(last.url,
        java.sql.Timestamp.from(last.warc_ts.toInstant.plusSeconds(365L * 86400)),
        "tick", "en"))
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.table("stream_windows")
    assert(out.count() > 0)
    val badWidth = out.where(
      col("window.end").cast("long") - col("window.start").cast("long") =!= 7L * 86400).count()
    assert(badWidth == 0)
  }

  test("curation ops are streaming-safe: signals and decontamination flags on a stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // repetitionSignals, passesRepetitionFilter, and the substring decontamination
    // flag are STATELESS projections, so the same code runs per micro-batch with no
    // state store — the streaming counterpart of the batch curation pass is the
    // batch code itself, asserted here against the identical batch run
    val input = MemoryStream[(Long, String)]
    val leak = "the exact benchmark answer string"
    val rows = Seq(
      (1L, s"clean document body with some words and $leak inside"),
      (2L, "spam spam spam spam spam spam"),
      (3L, "a perfectly ordinary page about gardening tools"))
    val bench = Seq(leak).toDF("snippet")
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val flagged = graft.data.Decontaminate.flagContains(
        graft.data.TextAnalysis.repetitionSignals(df, "_2"), "_2", bench, "snippet")
      flagged.withColumn("keep",
        graft.data.TextAnalysis.passesRepetitionFilter(col("_2")) && !col("contaminated"))
    }
    val query = curate(input.toDF()).writeStream.format("memory")
      .queryName("stream_curation").outputMode("append").start()
    try {
      input.addData(rows)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("stream_curation")
      .select("_1", "dup_word_frac", "contaminated", "keep")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3))).toSet
    val batch = curate(rows.toDF())
      .select("_1", "dup_word_frac", "contaminated", "keep")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3))).toSet
    assert(streamed == batch)
    assert(streamed.exists { case (id, _, cont, keep) => id == 1L && cont && !keep })
    assert(streamed.exists { case (id, _, _, keep) => id == 3L && keep })
  }
}
