package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured-Streaming counterpart of the batch point-in-time features: the batch
  * engine's cumulative/EXCLUSIVE operators are prefix aggregates in event time, which
  * is exactly per-key streaming state (SURVEY.md §1.2). This module computes the same
  * per-url features incrementally over a stream of page snapshots:
  * snapshot index, seconds since last snapshot, gap-based session id, text-change flag,
  * running text-length mean — each value uses only rows at-or-before its snapshot, so
  * zero temporal leakage holds by construction here too.
  *
  * Batch/stream parity is tested: replaying the synthetic page table through
  * `MemoryStream` must reproduce the batch job's values for the shared features.
  */
object StreamingFeatures {

  final case class PageEvent(url: String, warc_ts: Timestamp, text: String, lang: String)

  final case class UrlState(
      snapshots: Long,
      lastTsSeconds: Long,
      sessionId: Long,
      lastTextHash: Long,
      lengthSum: Double)

  final case class PageFeature(
      url: String,
      warc_ts: Timestamp,
      snapshot_idx: Long, // 1-based, == batch inclusive_cum_count_over_url
      secs_since_last_snapshot: Option[Long],
      session_id: Long,
      text_changed: Boolean,
      text_length_running_mean: Double)

  /** Per-url incremental feature computation. Events within a micro-batch are
    * processed in event-time order; state carries across batches.
    *
    * BOUNDED STATE: per-url state is small but the url universe of a
    * Common-Crawl-style stream is unbounded, so state for a url silent longer than
    * `stateTtlSeconds` (measured in EVENT time, anchored at the url's own latest
    * snapshot) is evicted once the watermark passes `last_ts + ttl`. A later event
    * for an evicted url restarts from a cold state — snapshot_idx 1, null gap, a
    * fresh session — the same contract as a url never seen before. Pick the TTL
    * above the longest url silence whose continuity matters (a re-crawl after a year
    * usually IS a new session anyway). Rows later than `watermarkDelay` behind the
    * stream's max event time are dropped by the engine (the standard event-time
    * lateness contract).
    *
    * Per micro-batch, each url's events are buffered and sorted in memory
    * (`toSeq.sortBy`) — bounded by one key's rows in one micro-batch, not by the
    * stream; a hot url in a huge batch is the only spike. Sorting makes the result
    * correct for any arrival order.
    */
  def features(pages: Dataset[PageEvent], sessionGapSeconds: Long,
      watermarkDelay: String = "30 days",
      stateTtlSeconds: Long = 365L * 86400): Dataset[PageFeature] = {
    require(stateTtlSeconds > 0, s"stateTtlSeconds must be > 0, got $stateTtlSeconds")
    val spark = pages.sparkSession
    import spark.implicits._
    val streaming = pages.isStreaming
    val src = if (streaming) pages.withWatermark("warc_ts", watermarkDelay) else pages
    src.groupByKey(_.url).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (url: String, events: Iterator[PageEvent], state: GroupState[UrlState]) =>
        if (state.hasTimedOut) { // url silent past the TTL: drop its state, emit nothing
          state.remove()
          Iterator.empty
        } else {
          val s0 = state.getOption.getOrElse(UrlState(0L, Long.MinValue, -1L, 0L, 0.0))
          // the INPUT is already materialized for the sort, so materializing the
          // (same-cardinality) output and committing EAGERLY costs the same order of
          // memory and makes the state update unconditional — immune to a
          // downstream that stops consuming
          val ordered = events.toSeq.sortBy(_.warc_ts.getTime).iterator
          var s = s0
          val out = foldFeatures(url, ordered, s0, sessionGapSeconds)
            .map { case (f, st) => s = st; f }.toVector
          state.update(s)
          // Expire once the watermark passes lastTs + ttl; clamped above the current
          // watermark because Spark rejects timeouts at-or-before it (a key whose
          // whole TTL is already behind the watermark times out on the next batch).
          // Batch execution has no watermark — timeouts never fire there anyway.
          if (streaming)
            state.setTimeoutTimestamp(math.max(
              s.lastTsSeconds * 1000L + stateTtlSeconds * 1000L,
              state.getCurrentWatermarkMs() + 1L))
          out.iterator
        }
    }
  }

  /** The per-url feature fold over event-time-ordered events, threading the state:
    * one output per input, lazily (element k needs exactly the first k events).
    */
  private[graft] def foldFeatures(url: String, events: Iterator[PageEvent],
      s0: UrlState, sessionGapSeconds: Long): Iterator[(PageFeature, UrlState)] = {
    var s = s0
    events.map { e =>
      val ts = e.warc_ts.toInstant.getEpochSecond
      val gap = if (s.snapshots == 0) None else Some(ts - s.lastTsSeconds)
      val newSession = gap.forall(_ > sessionGapSeconds)
      val textHash = graft.functions.HashKernels.hashString(e.text, 0L)
      val f = PageFeature(
        url = url,
        warc_ts = e.warc_ts,
        snapshot_idx = s.snapshots + 1,
        secs_since_last_snapshot = gap,
        session_id = if (newSession) s.sessionId + 1 else s.sessionId,
        text_changed = s.snapshots == 0 || textHash != s.lastTextHash,
        text_length_running_mean = (s.lengthSum + e.text.length) / (s.snapshots + 1))
      s = UrlState(s.snapshots + 1, ts,
        if (newSession) s.sessionId + 1 else s.sessionId, textHash,
        s.lengthSum + e.text.length)
      (f, s)
    }
  }

  // ---------------------------------------------------------- streaming as-of backfill

  /** One unified timeline row: a page snapshot (`isPage`) or an event to backfill. */
  final case class TimelineRow(url: String, ts: Timestamp, isPage: Boolean,
      text: String, lang: String, value: Double)

  final case class SnapshotState(warcTsMillis: Long, text: String, lang: String)

  final case class BackfilledEvent(url: String, ts: Timestamp, value: Double,
      warc_ts: Option[Timestamp], text: Option[String], lang: Option[String])

  /** Streaming counterpart of [[graft.web.AsOfJoin.backward]] for the backfill shape:
    * per-url state carries the LATEST page snapshot seen; each event row emits
    * enriched with it — the same inclusive as-of contract (a snapshot at exactly the
    * event's timestamp matches, because pages order before events at equal ts within
    * a batch). Requires per-key event-time-ordered arrival ACROSS micro-batches (the
    * usual log-compaction/kafka-partition-by-url setup); within a batch any order is
    * fine. Batch/stream parity is tested in StreamingSpec.
    *
    * BOUNDED STATE: a url silent (no page OR event) past `stateTtlSeconds` of event
    * time has its snapshot state evicted once the watermark passes; the next event
    * for that url backfills NULL — exactly the cold-start contract, and the honest
    * answer at corpus scale (holding every url's last snapshot forever is the
    * unbounded-state bug this TTL exists to kill). The per-batch per-key
    * buffer/sort note on [[features]] applies here too.
    */
  def backfill(timeline: Dataset[TimelineRow],
      watermarkDelay: String = "30 days",
      stateTtlSeconds: Long = 365L * 86400): Dataset[BackfilledEvent] = {
    require(stateTtlSeconds > 0, s"stateTtlSeconds must be > 0, got $stateTtlSeconds")
    val spark = timeline.sparkSession
    import spark.implicits._
    val streaming = timeline.isStreaming
    val src = if (streaming) timeline.withWatermark("ts", watermarkDelay) else timeline
    src.groupByKey(_.url).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (url: String, rows: Iterator[TimelineRow], state: GroupState[SnapshotState]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var s = state.getOption
          var lastMs = Long.MinValue
          // input already materialized for the sort → eager commit,
          // unconditional on downstream consumption (see [[features]])
          val out = rows.toSeq.sortBy(r => (r.ts.getTime, if (r.isPage) 0 else 1)).flatMap { r =>
            lastMs = math.max(lastMs, r.ts.getTime)
            if (r.isPage) { s = Some(SnapshotState(r.ts.getTime, r.text, r.lang)); None }
            else Some(BackfilledEvent(url, r.ts, r.value,
              s.map(st => new Timestamp(st.warcTsMillis)), s.map(_.text), s.map(_.lang)))
          }
          s.foreach(state.update)
          // TTL anchored at the key's latest TIMELINE row (page or event): any
          // activity keeps the snapshot alive for another TTL window
          if (streaming && state.exists)
            state.setTimeoutTimestamp(math.max(
              lastMs + stateTtlSeconds * 1000L,
              state.getCurrentWatermarkMs() + 1L))
          out.iterator
        }
    }
  }

  /** Streaming exact dedup: the first page with a given content hash survives; later
    * duplicates within the watermark horizon drop. Uses
    * `dropDuplicatesWithinWatermark`, whose state IS evicted once event time passes
    * the watermark — plain `dropDuplicates(hash)` would keep every hash ever seen
    * forever (the event-time column isn't part of the key, so nothing ages out).
    */
  def dedupStream(pages: Dataset[PageEvent], watermark: String): org.apache.spark.sql.DataFrame =
    pages.toDF()
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Watermarked per-url tumbling-window snapshot counts — the streaming analogue of
    * the batch rolling count, with late data dropped past the watermark.
    */
  def windowedCounts(pages: Dataset[PageEvent], windowDuration: String,
      watermark: String): org.apache.spark.sql.DataFrame =
    pages.toDF()
      .withWatermark("warc_ts", watermark)
      .groupBy(col("url"), window(col("warc_ts"), windowDuration))
      .agg(count(lit(1)).as("snapshots_in_window"),
        approx_count_distinct(col("lang")).as("langs_in_window"))

  /** Streaming counterpart of [[graft.web.Sessionize.sessionStats]]: one row per
    * CLOSED (key, session), via Spark's native `session_window` — sessions merge as
    * events arrive and a session emits once the watermark passes its end + gap, after
    * which its state is evicted (bounded state at any corpus rate; the
    * mapGroupsWithState path in [[features]] assigns per-ROW ids instead and never
    * closes sessions). Same gap semantics as the batch operator: an event at exactly
    * `gapSeconds` after the previous one still EXTENDS the session (batch cuts only
    * on `delta > gap`), hence the `gap + 1s` window. Exact parity holds at
    * whole-second timestamps (the page table's granularity); with fractional seconds
    * the batch operator compares FLOOR-second deltas while `session_window` measures
    * real time, so events within the same second can group differently.
    */
  def sessionStats(pages: Dataset[PageEvent], gapSeconds: Long,
      watermark: String): org.apache.spark.sql.DataFrame =
    pages.toDF()
      .withWatermark("warc_ts", watermark)
      .groupBy(col("url"), session_window(col("warc_ts"), s"${gapSeconds + 1} seconds"))
      .agg(
        count(lit(1)).as("session_num_events"),
        min(col("warc_ts")).as("session_start"),
        max(col("warc_ts")).as("session_end"))
      .select(col("url"), col("session_num_events"), col("session_start"),
        col("session_end"),
        (col("session_end").cast("timestamp").cast("long") -
          col("session_start").cast("timestamp").cast("long")).as("session_duration_seconds"))
}
