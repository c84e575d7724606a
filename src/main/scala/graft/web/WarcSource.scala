package graft.web

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC ingest — the Common-Crawl container format (ISO 28500, a public spec):
  * concatenated records of `WARC/1.0\r\n` + `Name: value` header lines + blank line
  * + `Content-Length` payload bytes + `\r\n\r\n`. Response records carry a full HTTP
  * response as payload (status line + headers + blank line + body).
  *
  * Read shape: shards are listed once on the driver (glob over any Hadoop
  * filesystem) and each shard becomes ONE task — exactly how Common Crawl
  * distributes (thousands of shards per crawl). Within a task the shard is parsed
  * STREAMING from the open Hadoop input stream through a bounded rolling buffer:
  * memory is O(largest record), never O(shard), so a standard full-size CC shard
  * (~1 GB gz ≈ 4 GB decompressed) ingests without re-sharding. Neither the
  * compressed nor the decompressed shard is ever materialized. Multi-member gzip
  * (CC's layout: one gzip member per record) decompresses transparently — JDK
  * `GZIPInputStream` reads concatenated members. The reader is NOT split-inside-a-
  * shard: CC's record-level gzip members would allow that with a custom Hadoop
  * InputFormat, which is deliberately out of scope — shard-level parallelism
  * already yields tens of thousands of tasks on a real crawl.
  *
  * Malformed records (truncated payload, missing mandatory headers, non-numeric
  * Content-Length) are SKIPPED, never fatal: on a 100-TB crawl a poison record
  * must cost one record, not one shard. Bounds arithmetic is done in Long, so an
  * adversarial Content-Length near 2^31 cannot wrap negative and crash the task.
  * A record whose payload exceeds [[DefaultMaxRecordBytes]] is skipped in O(1)
  * memory by discarding its payload from the stream (its declared length is
  * trusted for framing — the only option once the payload cannot be buffered).
  * A truncated/corrupt gzip tail (a crawl upload cut mid-member — common at fleet
  * scale) ends the stream early: every intact leading record is salvaged, only
  * the torn tail record is lost. [[records]] preserves everything parseable;
  * [[pages]] lowers response records to the engine's page schema
  * `(url, warc_ts, html)` ready for [[WebFeatures]].
  */
object WarcSource {

  /** One parsed WARC record. `body` is the HTTP payload body for response records
    * (bytes after the HTTP header block) and the raw WARC payload otherwise.
    */
  final case class WarcRecord(
      path: String,
      url: String,
      warc_ts: java.sql.Timestamp,
      record_type: String,
      content_type: String,
      http_status: Int,
      body: Array[Byte])

  /** Cap on bytes buffered for a single record (WARC header + payload). Far above
    * any real CC record (p99 ≈ 1 MB); a record above the cap is skipped without
    * buffering. This bounds per-task memory regardless of shard size.
    */
  val DefaultMaxRecordBytes: Int = 256 * 1024 * 1024

  /** Header blocks (WARC header up to the blank line) larger than this are treated
    * as malformed — a framing-loss guard so a corrupt length field can't make the
    * header scan buffer unboundedly.
    */
  private val MaxHeaderBytes = 1024 * 1024

  private val crlfCrlf = "\r\n\r\n".getBytes("ISO-8859-1")
  private val warcMagic = "WARC/".getBytes("ISO-8859-1")

  /** Bounded rolling window over an InputStream. Holds at most `maxBuf` bytes;
    * consumed bytes are compacted away, so memory is O(max single ensure), i.e.
    * O(record) for the WARC parser. Any IOException mid-read (torn gzip member,
    * transport cut) is treated as EOF — the buffered prefix is salvaged.
    */
  private final class RollingBuffer(in: java.io.InputStream, maxBuf: Int) {
    private var bufArr = new Array[Byte](math.min(64 * 1024, maxBuf))
    private var bufLen = 0
    private var eof = false

    def buf: Array[Byte] = bufArr
    def len: Int = bufLen
    def atEof: Boolean = eof

    private def readMore(): Boolean = {
      if (eof) return false
      if (bufLen == bufArr.length) {
        if (bufArr.length >= maxBuf) return false // caller must ensure() first
        bufArr = java.util.Arrays.copyOf(bufArr, math.min(bufArr.length.toLong * 2, maxBuf.toLong).toInt)
      }
      val n =
        try in.read(bufArr, bufLen, bufArr.length - bufLen)
        catch { case _: java.io.IOException => -1 } // torn tail: salvage the prefix
      if (n < 0) { eof = true; false } else { bufLen += n; true }
    }

    /** Try to have at least `n` valid bytes buffered (n must be <= maxBuf). */
    def ensure(n: Int): Boolean = {
      if (n > maxBuf) return false
      if (n > bufArr.length)
        bufArr = java.util.Arrays.copyOf(bufArr,
          math.min(math.max(bufArr.length.toLong * 2, n.toLong), maxBuf.toLong).toInt)
      while (bufLen < n && readMore()) {}
      bufLen >= n
    }

    /** Read more bytes if possible (grows up to maxBuf); false at EOF/cap. */
    def fill(): Boolean = readMore()

    /** Discard the first `n` buffered bytes. */
    def drop(n: Int): Unit = {
      val d = math.min(n, bufLen)
      if (d > 0) { System.arraycopy(bufArr, d, bufArr, 0, bufLen - d); bufLen -= d }
    }

    /** Discard `n` bytes total (buffered first, then skipped from the stream)
      * without ever buffering them — the O(1)-memory path for oversized payloads.
      */
    def discard(n: Long): Unit = {
      var remaining = n
      val d = math.min(remaining, bufLen.toLong).toInt
      drop(d); remaining -= d
      try {
        while (remaining > 0 && !eof) {
          val s = in.skip(remaining)
          if (s > 0) remaining -= s
          else if (in.read() < 0) eof = true // skip() can return 0 pre-EOF; probe
          else remaining -= 1
        }
      } catch { case _: java.io.IOException => eof = true }
    }

    def indexOf(needle: Array[Byte], from: Int): Int = {
      var i = math.max(from, 0)
      val last = bufLen - needle.length
      while (i <= last) {
        var j = 0
        while (j < needle.length && bufArr(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
        i += 1
      }
      -1
    }
  }

  /** Parse every well-formed record off an open (already-decompressed) stream.
    * Scan: find the next `WARC/` magic, buffer the header block up to the blank
    * line, buffer `Content-Length` payload bytes, emit, drop, continue. The
    * rolling buffer bounds memory at O(record); the stream is closed at EOF.
    */
  private[web] def parseStream(path: String, in: java.io.InputStream,
      maxRecordBytes: Int = DefaultMaxRecordBytes): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private val rb = new RollingBuffer(in, maxRecordBytes)
      private var nextRec: WarcRecord = null
      private var closed = false

      private def closeQuietly(): Unit = if (!closed) {
        closed = true
        try in.close() catch { case _: java.io.IOException => () }
      }

      /** Position the magic at buffer offset 0; false when no further magic exists. */
      private def seekMagic(): Boolean = {
        while (true) {
          val at = rb.indexOf(warcMagic, 0)
          if (at >= 0) { rb.drop(at); return true }
          // keep a magic-length-1 tail so a magic straddling the fill boundary survives
          rb.drop(math.max(rb.len - (warcMagic.length - 1), 0))
          if (!rb.fill()) return false
        }
        false
      }

      /** Buffer until the header terminator is visible; -1 if absent within bounds. */
      private def seekHeaderEnd(): Int = {
        var searched = 0
        while (true) {
          // overlap the previous scan boundary so a straddling terminator is found
          val he = rb.indexOf(crlfCrlf, math.max(searched - (crlfCrlf.length - 1), 0))
          if (he >= 0) return he
          searched = rb.len
          if (searched >= MaxHeaderBytes || !rb.fill()) return -1
        }
        -1
      }

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null) {
          if (!seekMagic()) { closeQuietly(); return }
          val headerEnd = seekHeaderEnd()
          if (headerEnd < 0) {
            if (rb.atEof) { closeQuietly(); return } // torn tail — no complete record left
            rb.drop(warcMagic.length) // oversized header: malformed, rescan
          } else {
            val headerText = new String(rb.buf, 0, headerEnd, "ISO-8859-1")
            val headers: Map[String, String] = headerText.split("\r\n").iterator
              .drop(1) // the WARC/1.x version line
              .flatMap { line =>
                val i = line.indexOf(':')
                if (i <= 0) None
                else Some(line.substring(0, i).trim.toLowerCase -> line.substring(i + 1).trim)
              }.toMap
            val payloadStart = headerEnd + 4
            // Long math end-to-end: a Content-Length near 2^31 must not wrap
            headers.get("content-length").flatMap(_.toLongOption) match {
              case Some(len) if len >= 0 && payloadStart.toLong + len <= maxRecordBytes =>
                if (rb.ensure(payloadStart + len.toInt)) {
                  val rec = toRecord(path, headers, rb.buf, payloadStart, len.toInt)
                  rb.drop(payloadStart + len.toInt)
                  if (rec != null) nextRec = rec // else: malformed — skip, keep scanning
                } else {
                  // the declared payload doesn't materialize before EOF: a torn tail
                  // OR a lying length — rescan the salvaged remainder for intact
                  // records (a true torn tail has no further magic, so this ends)
                  rb.drop(warcMagic.length)
                }
              case Some(len) if len > 0 =>
                // payload can't be buffered: skip it in O(1) memory, trusting the
                // declared length for framing (the record costs itself, not the shard)
                rb.discard(payloadStart.toLong + len)
              case _ =>
                rb.drop(warcMagic.length) // missing/bad length: rescan past the magic
            }
          }
        }
      }

      private def toRecord(path: String, h: Map[String, String],
          raw: Array[Byte], payloadStart: Int, len: Int): WarcRecord = {
        val ts = h.get("warc-date").flatMap { s =>
          try Some(java.sql.Timestamp.from(java.time.Instant.parse(s)))
          catch { case _: Exception => None }
        }.orNull
        val recType = h.getOrElse("warc-type", "")
        if (ts == null || recType.isEmpty) return null
        val url = h.getOrElse("warc-target-uri", "")
        val payloadEnd = payloadStart + len
        var status = 0
        var bodyStart = payloadStart
        // the WARC-level Content-Type of a response record is the envelope
        // ("application/http; msgtype=response"); the curation-relevant type is the
        // HTTP header's, parsed below for responses
        var contentType = h.getOrElse("content-type", "")
        if (recType == "response") {
          // HTTP header block ends at the first \r\n\r\n inside the payload
          var httpEnd = -1
          var i = payloadStart
          val last = payloadEnd - crlfCrlf.length
          while (httpEnd < 0 && i <= last) {
            var j = 0
            while (j < crlfCrlf.length && raw(i + j) == crlfCrlf(j)) j += 1
            if (j == crlfCrlf.length) httpEnd = i else i += 1
          }
          if (httpEnd >= 0) {
            val httpHead = new String(raw, payloadStart, httpEnd - payloadStart, "ISO-8859-1")
            val httpLines = httpHead.split("\r\n")
            status = httpLines.head.split(" ").lift(1).flatMap(_.toIntOption).getOrElse(0)
            httpLines.iterator.drop(1)
              .map(_.split(":", 2))
              .collectFirst { case Array(k, v) if k.trim.equalsIgnoreCase("content-type") => v.trim }
              .foreach(contentType = _)
            // clamp: a header terminator flush against the payload end leaves no body
            bodyStart = math.min(httpEnd + 4, payloadEnd)
          }
        }
        WarcRecord(path, url, ts, recType, contentType, status,
          java.util.Arrays.copyOfRange(raw, bodyStart, payloadEnd))
      }

      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = { val r = nextRec; advance(); r }
    }

  /** Buffer-input convenience over [[parseStream]] (tests, pre-loaded shards). */
  private[web] def parseShard(path: String, raw: Array[Byte]): Iterator[WarcRecord] =
    parseStream(path, new java.io.ByteArrayInputStream(raw))

  /** Wrap gzip decompression when the path or magic bytes say so. The 2-byte sniff
    * matches the gzip magic (0x1f 0x8b) so extensionless CC-style shards still
    * decompress; a shard whose very first member is corrupt yields an empty stream
    * (zero salvageable prefix).
    */
  private[web] def maybeGunzip(path: String, raw0: java.io.InputStream): java.io.InputStream = {
    val in = new java.io.PushbackInputStream(raw0, 2)
    val b0 = in.read(); val b1 = if (b0 >= 0) in.read() else -1
    if (b1 >= 0) in.unread(b1)
    if (b0 >= 0) in.unread(b0)
    val gz = path.endsWith(".gz") || (b0 == 0x1f && b1 == 0x8b)
    if (!gz) in
    else
      try new java.util.zip.GZIPInputStream(in, 64 * 1024)
      catch { case _: java.io.IOException => // first member header torn: nothing to salvage
        try in.close() catch { case _: java.io.IOException => () }
        new java.io.ByteArrayInputStream(Array.emptyByteArray)
      }
  }

  /** All parseable records under `pathGlob` (plain or gzipped WARC shards),
    * streamed — per-task memory is O(record), so full-size CC shards ingest
    * directly. The driver lists the glob once (dirs expand one level); the
    * Hadoop configuration travels to executors as broadcast entries.
    */
  def records(spark: SparkSession, pathGlob: String,
      maxRecordBytes: Int = DefaultMaxRecordBytes): Dataset[WarcRecord] = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val globPath = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = globPath.getFileSystem(hconf)
    val statuses = Option(fs.globStatus(globPath)).getOrElse(Array.empty)
    val shards: Seq[String] = statuses.toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
    }.map(_.getPath.toString).sorted
    // Configuration is not serializable; ship its entries and rebuild per task
    val confEntries: Seq[(String, String)] = {
      val it = hconf.iterator(); val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val bcConf = spark.sparkContext.broadcast(confEntries)
    val rdd = spark.sparkContext
      .parallelize(shards, math.max(shards.length, 1))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        bcConf.value.foreach { case (k, v) => conf.set(k, v) }
        val hp = new org.apache.hadoop.fs.Path(p)
        val raw = hp.getFileSystem(conf).open(hp)
        // register the close hook BEFORE parseStream: its iterator constructor
        // eagerly reads the first record, and a non-IOException thrown there
        // (header-handling bug, OOM) must not leak the open stream; a task cut
        // mid-iteration (limit, failure) is covered by the same listener
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try raw.close() catch { case _: java.io.IOException => () }))
        parseStream(p, maybeGunzip(p, raw), maxRecordBytes)
      }
    spark.createDataset(rdd)
  }

  /** The charset parameter of an HTTP Content-Type header value, as a column:
    * `text/html; charset="ISO-8859-1"` → `iso-8859-1`; absent parameter → "".
    * Charset names are case-insensitive (RFC 2978 §5.1), quotes optional. Feed the
    * result to [[graft.functions.textfns.decodeCharset]] ("" decodes as UTF-8, the
    * WARC default) — done for you by `WebFeatures.htmlText(html, contentType)`.
    */
  def charsetOf(contentType: Column): Column =
    regexp_extract(lower(contentType), """charset\s*=\s*"?\s*([^";\s]+)""", 1)

  /** Response records lowered to the engine's page schema: `(url, warc_ts, html)`
    * (+ http_status, content_type), ready for `WebFeatures.htmlText` / the
    * point-in-time feature job. Non-2xx and empty-url records are dropped.
    */
  def pages(records: Dataset[WarcRecord]): DataFrame =
    records.toDF()
      .where(col("record_type") === "response" && length(col("url")) > 0 &&
        col("http_status") >= 200 && col("http_status") < 300)
      .select(col("url"), col("warc_ts"), col("body").as("html"),
        col("http_status"), col("content_type"))
}
