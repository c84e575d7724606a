package graft

import graft.web._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Web-scale layer: as-of join vs a brute-force oracle (incl. the salted/bucketed
  * variant and boundary cases), sessionization invariants, zero-temporal-leakage
  * property, checkpoint resume, page-generator determinism.
  */
class WebSpec extends SparkTestBase {

  private lazy val pages: DataFrame = Pages.generate(spark, numUrls = 300, seed = 7L, numPartitions = 4).cache()
  private lazy val events: DataFrame = Pages.events(spark, pages, perSnapshot = 2, seed = 7L).cache()

  /** Brute-force as-of oracle computed driver-side. */
  private def bruteForce(strict: Boolean, tolerance: Option[Long]): Map[(String, Long), Option[Long]] = {
    val snaps = pages.select("url", "warc_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    events.select("url", "ts").collect().map { r =>
      val url = r.getString(0); val ts = r.getTimestamp(1).toInstant.getEpochSecond
      val cand = snaps.getOrElse(url, Array.empty[Long])
        .filter(s => if (strict) s < ts else s <= ts)
        .filter(s => tolerance.forall(t => ts - s <= t))
      (url, ts) -> (if (cand.isEmpty) None else Some(cand.max))
    }.toMap
  }

  private def checkAsOf(result: DataFrame, strict: Boolean, tolerance: Option[Long]): Unit = {
    val expected = bruteForce(strict, tolerance)
    val got = result.select(col("url"), col("ts"), col("warc_ts")).collect().map { r =>
      val m = if (r.isNullAt(2)) None else Some(r.getTimestamp(2).toInstant.getEpochSecond)
      (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond) -> m
    }
    assert(got.length == events.count())
    val bad = got.filter { case (k, m) => expected(k) != m }
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(3).toSeq} vs expected ${bad.take(3).map(b => expected(b._1)).toSeq}")
  }

  test("as-of join (window formulation) matches brute force incl. exact-ts/before-first") {
    checkAsOf(WebFeatures.backfillEvents(events, pages), strict = false, tolerance = None)
  }

  test("as-of join bucketed/salted variant matches brute force") {
    checkAsOf(AsOfJoin.backwardBucketed(events, pages.select("url", "warc_ts", "text", "lang"),
      Seq("url"), "ts", Seq("url"), "warc_ts", Seq("warc_ts", "text", "lang"), 7 * 86400L),
      strict = false, tolerance = None)
  }

  test("strict as-of excludes equal timestamps") {
    val r = AsOfJoin.backward(events, pages.select("url", "warc_ts", "text", "lang"),
      Seq("url"), "ts", Seq("url"), "warc_ts", Seq("warc_ts", "text"), strict = true)
    checkAsOf(r, strict = true, tolerance = None)
  }

  test("as-of tolerance nulls out stale matches") {
    val tol = 3 * 86400L
    val r = AsOfJoin.backward(events, pages.select("url", "warc_ts", "text", "lang"),
      Seq("url"), "ts", Seq("url"), "warc_ts", Seq("warc_ts", "text"), tolerance = Some(tol))
    checkAsOf(r, strict = false, tolerance = Some(tol))
  }

  test("url canonicalization edge cases") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://A.Com/" -> "https://a.com/",
      "https://a.com" -> "https://a.com/",
      "https://a.com/x/" -> "https://a.com/x",
      "https://a.com/x?utm_source=1" -> "https://a.com/x",
      "https://a.com/x?a=1&utm_medium=2&b=2#f" -> "https://a.com/x?a=1&b=2",
      "http://B.org:8080/Y?gclid=z&q=K" -> "http://b.org:8080/Y?q=K",
      // scheme-less / relative urls pass through, never collapse onto one key
      "example.com/a?x=1" -> "example.com/a?x=1",
      "//cdn.example.com/x" -> "//cdn.example.com/x")
    val got = cases.map(_._1).toDF("u")
      .select(UrlOps.canonicalizeUrl(col("u"))).collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), got)
  }

  test("bucketed range join equals the native non-equi join (both window shapes)") {
    val l = events.select(col("url"), col("ts"), col("value"))
    val r = pages.select(col("url").as("purl"), col("warc_ts"), col("lang"))
    def native(before: Long, after: Long) =
      l.join(r, l("url") === r("purl") &&
          r("warc_ts").cast("long") >= l("ts").cast("long") - before &&
          r("warc_ts").cast("long") <= l("ts").cast("long") + after)
        .select(col("url"), col("ts").cast("long").as("ts"),
          col("warc_ts").cast("long").as("wts"))
    def bucketed(before: Long, after: Long) =
      RangeJoin.byKeyAndTime(l, r, Seq("url"), "ts", Seq("purl"), "warc_ts",
          before, after, valueCols = Seq("warc_ts", "lang"))
        .select(col("url"), col("ts").cast("long").as("ts"),
          col("warc_ts").cast("long").as("wts"))
    for ((b, a) <- Seq((3L * 86400, 0L), (86400L, 2L * 86400))) {
      val exp = native(b, a); val got = bucketed(b, a)
      assert(got.count() == exp.count(), s"count mismatch for ($b,$a)")
      assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0,
        s"row mismatch for ($b,$a)")
    }
  }

  test("sessionization invariants") {
    val gap = 5 * 86400L
    val s = Sessionize.withSessionIds(pages, Seq("url"), "warc_ts", gap)
    // within a session, consecutive gaps <= gap; across session boundary > gap
    val viol = s.where(
      (col("session_event_idx") > 0 && col("session_gap_seconds") > gap) ||
      (col("session_event_idx") === 0 && col("session_gap_seconds").isNotNull &&
        col("session_gap_seconds") <= gap))
    assert(viol.count() == 0)
    // session ids are 0-based contiguous per url
    val perUrl = s.groupBy("url").agg(
      max(col("session_id")).as("maxId"),
      countDistinct(col("session_id")).as("n")).where(col("maxId") =!= col("n") - 1)
    assert(perUrl.count() == 0)
    // stats consistency
    val stats = Sessionize.sessionStats(pages, Seq("url"), "warc_ts", gap)
    assert(stats.agg(sum("session_num_events")).head.getLong(0) == pages.count())
  }

  test("zero temporal leakage: truncating the future does not change past features") {
    val cutoff = lit("2020-06-01").cast("timestamp")
    val full = WebFeatures.pointInTime(pages)
    val truncated = WebFeatures.pointInTime(pages.where(col("warc_ts") < cutoff))
    val fullPast = full.where(col("warc_ts") < cutoff)
    val cols = fullPast.columns.toSeq
    assert(fullPast.count() == truncated.count())
    assert(fullPast.select(cols.map(col): _*).exceptAll(truncated.select(cols.map(col): _*)).count() == 0)
  }

  test("page generator is deterministic and skewed; text derives from html") {
    val again = Pages.generate(spark, numUrls = 300, seed = 7L, numPartitions = 8)
    assert(pages.exceptAll(again).count() == 0 && again.exceptAll(pages).count() == 0)
    val counts = pages.groupBy("url").count().agg(max("count"), avg("count")).head
    assert(counts.getLong(0) >= 10 * counts.getDouble(1), s"expected hot-url skew: $counts")
    // per-row invariant: text is byte-identical to the body embedded in html
    val mismatch = pages.where(
      decode(col("html"), "UTF-8") =!= concat(lit("<html><head><t>"), col("url_id"),
        lit("</t></head><body>"), col("text"), lit("</body></html>")))
    assert(mismatch.count() == 0)
    // ...and the extraction OPERATOR reproduces text from the raw bytes (north rule)
    assert(pages.where(WebFeatures.htmlText(col("html")) =!= col("text")).count() == 0)
  }

  test("checkpoint resume recomputes only uncommitted partitions") {
    withTempDir("graft_ckpt") { tmp =>
      val dir = tmp.toString
      val df = pages.withColumn("bucket", pmod(col("url_id"), lit(4L)))
        .select("url", "warc_ts", "text", "bucket")
      // simulate a first run that only managed buckets 0 and 1
      val r1 = Checkpoint.resumeWrite(spark, df.where(col("bucket") < 2), "bucket", dir)
      assert(r1.written.map(_.value).toSet == Set("0", "1") && r1.snapshotId == 0)
      // resumed run: full input, but only 2 and 3 get written
      val r2 = Checkpoint.resumeWrite(spark, df, "bucket", dir)
      assert(r2.written.map(_.value).toSet == Set("2", "3"), r2)
      assert(r2.skipped.toSet == Set("0", "1") && r2.snapshotId == 1)
      // total rows intact, committed map complete
      assert(spark.read.parquet(s"$dir/data").count() == df.count())
      assert(Checkpoint.committed(dir).keySet == Set("0", "1", "2", "3"))
      // per-partition lineage row counts match the data
      val expected = df.groupBy("bucket").count().collect()
        .map(r => r.getLong(0).toString -> r.getLong(1)).toMap
      assert(Checkpoint.committed(dir).view.mapValues(_.rows).toMap == expected)
      // idempotent third run writes nothing
      val r3 = Checkpoint.resumeWrite(spark, df, "bucket", dir)
      assert(r3.written.isEmpty && r3.skipped.size == 4)
    }
  }

  test("commit recount reads only newly written partitions, never the committed table") {
    withTempDir("graft_ckpt2") { tmp =>
      val dir = tmp.toString
      val df = pages.withColumn("bucket", when(col("url_id") < 270, lit(0L)).otherwise(lit(1L)))
        .select("url", "warc_ts", "text", "bucket")
      Checkpoint.resumeWrite(spark, df.where(col("bucket") === 0), "bucket", dir) // ~90% of rows
      val n = df.count()
      val (r2, l) = GraftMetricsListener.during(spark)(Checkpoint.resumeWrite(spark, df, "bucket", dir))
      assert(r2.written.map(_.value) == Seq("1"))
      // reads = input scan (≤ n) + recount of ONLY bucket 1 (~0.1 n); a full-table
      // recount on commit would add the committed ~0.9 n again
      assert(l.totalRecordsRead.sum() < (1.35 * n).toLong,
        s"commit appears to re-scan committed data: read=${l.totalRecordsRead.sum()} of n=$n")
    }
  }

  test("checkpoint resume keeps partition values that contain , \" and }") {
    import spark.implicits._
    withTempDir("graft_ckpt3") { tmp =>
      val dir = tmp.toString
      val values = Seq("a", "a,b", "say \"hi\"", "x}y")
      val df = values.flatMap(v => (0 until 3).map(i => (v, i))).toDF("v", "i")
      Checkpoint.resumeWrite(spark, df.where(col("v") === "a,b"), "v", dir)
      val r2 = Checkpoint.resumeWrite(spark, df, "v", dir)
      assert(r2.skipped == Seq("a,b"), r2)
      assert(Checkpoint.committed(dir).keySet == values.toSet)
      assert(Checkpoint.committed(dir).values.forall(_.rows == 3))
      val back = spark.read.parquet(s"$dir/data").groupBy("v").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(back == values.map(_ -> 3L).toMap)
    }
  }

  test("end-to-end kill/resume of the feature job reproduces the direct run exactly") {
    withTempDir("graft_e2e") { tmp =>
      val dir = tmp.toString
      // feature table partitioned by month — the realistic resumable layout
      val features = WebFeatures.pointInTime(pages)
        .withColumn("month_bucket", date_format(col("warc_ts"), "yyyy-MM"))
      // "killed" first run: only managed a prefix of the months
      val months = features.select("month_bucket").distinct()
        .collect().map(_.getString(0)).sorted
      assert(months.length >= 3, s"fixture too small: ${months.toSeq}")
      val firstHalf = months.take(months.length / 2)
      val r1 = Checkpoint.resumeWrite(spark,
        features.where(col("month_bucket").isin(firstHalf: _*)), "month_bucket", dir)
      assert(r1.written.map(_.value).toSet == firstHalf.toSet)
      // resume with the full job: only the remaining months are recomputed
      val r2 = Checkpoint.resumeWrite(spark, features, "month_bucket", dir)
      assert(r2.written.map(_.value).toSet == months.toSet -- firstHalf)
      assert(r2.skipped.toSet == firstHalf.toSet)
      // resumed output == a direct single-shot run, row for row
      val resumed = spark.read.parquet(s"$dir/data").drop("month_bucket")
      val direct = WebFeatures.pointInTime(pages)
      assert(resumed.count() == direct.count())
      assert(resumed.exceptAll(direct).count() == 0 && direct.exceptAll(resumed).count() == 0)
      // time travel: snapshot 0 sees only the first run's months
      val atFirst = Checkpoint.readSnapshot(spark, dir, r1.snapshotId, "month_bucket")
      assert(atFirst.select("month_bucket").distinct().collect()
        .map(_.getString(0)).toSet == firstHalf.toSet)
    }
  }

  test("prefix running aggregates equal a sequential global window, across partitions") {
    import graft.web.PrefixAgg
    import graft.web.PrefixAgg.{Op, RunningSpec}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // leading null region in BOTH the order key (ids 0-2: null k, NULLS FIRST
    // bucket) and the value (ids 0-9: null v — null-until-first-value across range
    // boundaries); 7 forced ranges on 200 rows so offsets really compose
    // ids 77/150: NaN values — Spark orders NaN as GREATEST in min/max, and the
    // fold must agree regardless of which range the NaN lands in
    val df = spark.range(200).select(
      col("id"),
      when(col("id") < 3, lit(null).cast("double"))
        .otherwise(floor(col("id") / 3).cast("double")).as("k"),
      when(col("id") < 10, lit(null).cast("double"))
        .when(col("id").isin(77, 150), lit(Double.NaN))
        .otherwise(sin(col("id").cast("double")) * 100).as("v"))
    val got = PrefixAgg.running(df, Seq("k", "id"), Seq(
        PrefixAgg.runningCount("c"),
        RunningSpec(Op.Sum, "v", "s"),
        RunningSpec(Op.Min, "v", "mn"),
        RunningSpec(Op.Max, "v", "mx")),
      numRanges = 7)
    val w = Window.orderBy(col("k").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.select(col("id"),
      count(lit(1)).over(w).as("c"), sum("v").over(w).as("s"),
      min("v").over(w).as("mn"), max("v").over(w).as("mx"))
    val g = got.select("id", "c", "s", "mn", "mx").orderBy("id").collect()
    val e = want.orderBy("id").collect()
    assert(g.length == e.length)
    g.zip(e).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1),
        s"count mismatch at ${a.getLong(0)}")
      Seq(2, 3, 4).foreach { i =>
        val (x, y) = (a.isNullAt(i), b.isNullAt(i))
        assert(x == y, s"null mismatch col $i at id ${a.getLong(0)}")
        // sum reassociates once per partition boundary; min/max are exact
        if (!x) {
          val (av, bv) = (a.getDouble(i), b.getDouble(i))
          assert((av.isNaN && bv.isNaN) || math.abs(av - bv) < 1e-9,
            s"value mismatch col $i at id ${a.getLong(0)}: $av vs $bv")
        }
      }
    }
    // plan shape: the full-data shuffle on rid, the range-local running window
    // partitioned on rid, and the broadcast join of the offsets (a window over
    // range-count rows) back — nothing funnels the full table through one task.
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__graft_prefix_rid"), plan.take(2000))
    assert("""Window \[.*\], \[__graft_prefix_rid#\d+\]""".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    // the range totals keep fixed-width buffers, so they stay a hash aggregate
    // whichever outputs are read (a struct buffer, as min_by's, plans SortAggregate)
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
    for (outs <- Seq(Seq("mn"), Seq("mx"), Seq("c", "s", "mn", "mx"))) {
      val p = got.select("id", outs: _*).queryExecution.sparkPlan
      val aggs = p.collect { case a: BaseAggregateExec => a }
      assert(aggs.nonEmpty && aggs.forall(_.isInstanceOf[HashAggregateExec]),
        s"reading ${outs.mkString(", ")}: range totals left the hash aggregate:\n$p")
    }
  }

  test("prefix range ids built twice give equal plans that print their bounds") {
    val df = spark.range(1000).select(col("id"), (col("id") * 7 % 101).cast("double").as("k"))
    val Seq(a, b) = Seq.fill(2)(df.withColumn("rid", PrefixAgg.rangeId(df, col("k"), 8)))
    assert(a.sameSemantics(b))
    val plan = a.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
    assert(!plan.contains("[D@") && plan.contains("ArraySeq("), plan)
    // and so do two identical running frames built over them
    val Seq(r1, r2) = Seq.fill(2)(PrefixAgg.running(df, Seq("k", "id"),
      Seq(PrefixAgg.runningCount("c")), numRanges = 8))
    assert(r1.sameSemantics(r2))
  }

  test("prefix running aggregates survive degenerate range geometries") {
    import graft.web.PrefixAgg
    import graft.web.PrefixAgg.{Op, RunningSpec}
    import org.apache.spark.sql.expressions.Window

    // `outs` picks the outputs read: column pruning drops the unread ones from the plan
    def check(df: DataFrame, numRanges: Int, label: String,
        outs: Seq[String] = Seq("c", "s", "mn", "mx")): Unit = {
      val got = PrefixAgg.running(df, Seq("k", "id"), Seq(
          PrefixAgg.runningCount("c"),
          RunningSpec(Op.Sum, "v", "s"),
          RunningSpec(Op.Min, "v", "mn"),
          RunningSpec(Op.Max, "v", "mx")),
        numRanges = numRanges)
      val w = Window.orderBy(col("k").asc, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.select(col("id"), count(lit(1)).over(w).as("c"),
        sum("v").over(w).as("s"), min("v").over(w).as("mn"), max("v").over(w).as("mx"))
      val g = got.select("id", outs: _*).orderBy("id").collect()
      val e = want.select("id", outs: _*).orderBy("id").collect()
      assert(g.length == e.length, label)
      g.zip(e).foreach { case (a, b) =>
        outs.zipWithIndex.foreach { case (out, j) =>
          val i = j + 1
          assert(a.isNullAt(i) == b.isNullAt(i), s"$label: null $out at id ${a.getLong(0)}")
          // sum reassociates once per range boundary; min/max are bit-exact, so a
          // -0.0 where the window keeps 0.0 (or the reverse) is a mismatch
          if (!a.isNullAt(i)) out match {
            case "c" => assert(a.getLong(i) == b.getLong(i), s"$label: count at id ${a.getLong(0)}")
            case _ =>
              val (av, bv) = (a.getDouble(i), b.getDouble(i))
              assert(if (out == "s") math.abs(av - bv) < 1e-9
                else java.lang.Double.doubleToLongBits(av) == java.lang.Double.doubleToLongBits(bv),
                s"$label: $out at id ${a.getLong(0)}: $av vs $bv")
          }
        }
      }
    }

    // constant leading key: every quantile bound collapses to ONE value → a single
    // range — the degenerate genuinely-sequential case must still be correct
    check(spark.range(500).select(col("id"), lit(1.0).as("k"),
      sin(col("id").cast("double")).as("v")), numRanges = 8, "constant key")

    // heavy skew: 90% of rows share one key value → one range carries ~90% of rows
    check(spark.range(1000).select(col("id"),
      when(col("id") % 10 =!= 0, lit(5.0)).otherwise(col("id").cast("double")).as("k"),
      cos(col("id").cast("double")).as("v")), numRanges = 8, "90% skew")

    // far more ranges than distinct keys: deduped bounds leave some ranges empty
    check(spark.range(300).select(col("id"), (col("id") % 3).cast("double").as("k"),
      sin(col("id").cast("double")).as("v")), numRanges = 64, "numRanges >> distinct keys")

    // signed zeros: Spark's min/max treat -0.0 and 0.0 as equal and keep the first
    // seen. A zero shows only while it is the running extreme, so the frame opens
    // with the two zeros and repeats them in every range among values beyond them.
    def zeros(first: Double, second: Double, rest: Column): DataFrame =
      spark.range(300).select(col("id"), col("id").cast("double").as("k"),
        when(col("id") % 3 === 0, lit(first)).when(col("id") % 3 === 1, lit(second))
          .otherwise(rest).as("v"))
    check(zeros(0.0, -0.0, col("id").cast("double")), numRanges = 5, "0.0 then -0.0, min")
    check(zeros(-0.0, 0.0, -col("id").cast("double")), numRanges = 5, "-0.0 then 0.0, max")

    // only a Min (or only a Max) read: no Sum keeps the range totals' input sorted,
    // so their tie rule must not depend on row order. Descending key; zeros alternate
    // 0.0 / -0.0 (as a product: Spark folds a CASE between the literals 0.0 and -0.0,
    // which compare equal, into one of them), and one NaN is the greatest value.
    val alternating = spark.range(3000).select(col("id"), (-col("id")).as("k"),
      when(col("id") === 1000, lit(Double.NaN))
        .otherwise((-(col("id") % 2)).cast("double").multiply(0.0)).as("v"))
    check(alternating, numRanges = 7, "alternating zeros, min only", Seq("mn"))
    check(alternating, numRanges = 7, "alternating zeros, max only", Seq("mx"))
  }

  test("WARC source parses records, skips malformed ones, and filters pages") {
    import graft.web.WarcSource
    def rec(typ: String, url: String, date: String, payload: Array[Byte]): Array[Byte] = {
      val header = s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Date: $date\r\n" +
        (if (url.nonEmpty) s"WARC-Target-URI: $url\r\n" else "") +
        s"Content-Length: ${payload.length}\r\n\r\n"
      header.getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    def http(status: Int, body: String): Array[Byte] =
      s"HTTP/1.1 $status X\r\nContent-Type: text/html\r\n\r\n$body".getBytes("UTF-8")

    val good1 = rec("response", "http://a.example/x", "2024-01-01T00:00:00Z",
      http(200, "<html><body>alpha page</body></html>"))
    val req = rec("request", "http://a.example/x", "2024-01-01T00:00:00Z",
      "GET /x HTTP/1.1\r\n\r\n".getBytes("UTF-8"))
    val notFound = rec("response", "http://a.example/gone", "2024-01-02T00:00:00Z",
      http(404, "nope"))
    // malformed: bogus Content-Length — must cost ONE record, not the shard
    val broken = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2024-01-03T00:00:00Z\r\n" +
      "Content-Length: zzz\r\n\r\njunk").getBytes("ISO-8859-1")
    val good2 = rec("response", "http://b.example/y", "2024-01-04T12:30:00Z",
      http(200, "<html>beta</html>"))
    val shard = good1 ++ req ++ notFound ++ broken ++ good2

    withTempDir("warc_test") { dir =>
      java.nio.file.Files.write(dir.resolve("shard-00000.warc"), shard)
      // gzipped twin of the same shard (multi-record, one member)
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(shard); gz.close()
      java.nio.file.Files.write(dir.resolve("shard-00001.warc.gz"), bos.toByteArray)

      val recs = WarcSource.records(spark, dir.toString + "/*")
      val all = recs.collect()
      // per shard: good1 + req + notFound + good2 parse; broken is skipped — ×2 shards
      assert(all.length == 8, all.map(r => (r.path, r.record_type, r.url)).mkString(", "))
      val g1 = all.filter(r => r.url == "http://a.example/x" && r.record_type == "response")
      assert(g1.length == 2 && g1.forall(r =>
        new String(r.body, "UTF-8") == "<html><body>alpha page</body></html>" &&
          r.http_status == 200 && r.content_type == "text/html"))
      assert(all.count(_.record_type == "request") == 2)

      val pages = WarcSource.pages(recs).collect()
      // only 2xx responses with a url survive: good1 + good2, from each shard
      assert(pages.length == 4, pages.mkString(", "))
      assert(pages.forall(_.getInt(3) == 200))
      assert(pages.map(_.getString(0)).toSet ==
        Set("http://a.example/x", "http://b.example/y"))
      val ts = pages.map(_.getTimestamp(1).toInstant.toString).toSet
      assert(ts == Set("2024-01-01T00:00:00Z", "2024-01-04T12:30:00Z"))

      // truncated gzip shard (upload cut mid-member): the decompressed prefix is
      // salvaged, so intact leading records still parse — one torn record lost,
      // not the shard
      withTempDir("warc_trunc") { dir2 =>
        def member(bytes: Array[Byte]): Array[Byte] = {
          val b = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(b)
          g.write(bytes); g.close(); b.toByteArray
        }
        // CC layout: one gzip member per record; tear the SECOND member mid-stream
        val m2 = member(good2)
        val torn = member(good1) ++ java.util.Arrays.copyOfRange(m2, 0, m2.length - 20)
        java.nio.file.Files.write(dir2.resolve("torn.warc.gz"), torn)
        val salvaged = WarcSource.records(spark, dir2.toString + "/*").collect()
        assert(salvaged.length >= 1 && salvaged.head.url == "http://a.example/x",
          salvaged.map(_.url).mkString(", "))

        // 40 records of random size in both gzip layouts — one member per record (CC)
        // and the whole shard as ONE member — each read whole-shard to exactly the
        // written records; a torn last member loses only that record
        val rng = new scala.util.Random(11)
        val pads = (0 until 40).map(_ => rng.nextInt(3000))
        def body(i: Int) = s"<html><body>page $i ${"x" * pads(i)}</body></html>"
        val many = (0 until 40).map(i => rec("response", s"http://ex.test/p$i",
          s"2024-02-0${1 + i % 9}T00:00:00Z", http(200, body(i))))
        val members = many.map(member)
        withTempDir("warc_layouts") { dir3 =>
          java.nio.file.Files.write(dir3.resolve("cc.warc.gz"), members.reduce(_ ++ _))
          java.nio.file.Files.write(dir3.resolve("whole.warc.gz"), member(many.reduce(_ ++ _)))
          java.nio.file.Files.write(dir3.resolve("torn.warc.gz"),
            members.init.reduce(_ ++ _) ++ members.last.take(members.last.length / 2))
          def read(name: String) = WarcSource.records(spark, s"$dir3/$name").collect()
            .map(r => (r.url, r.warc_ts.toInstant.toString, new String(r.body, "UTF-8"))).toSeq
          val want = (0 until 40).map(i =>
            (s"http://ex.test/p$i", s"2024-02-0${1 + i % 9}T00:00:00Z", body(i)))
          assert(read("cc.warc.gz") == want)
          assert(read("whole.warc.gz") == want)
          assert(read("torn.warc.gz") == want.init)
        }
      }
    }
  }

  test("WARC pages decode under their declared charset, falling back to UTF-8") {
    import graft.web.{WarcSource, WebFeatures}
    def rec(url: String, contentType: String, body: Array[Byte]): Array[Byte] = {
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n\r\n".getBytes("ISO-8859-1") ++ body
      val header = s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2024-03-01T00:00:00Z\r\n" +
        s"WARC-Target-URI: $url\r\nContent-Length: ${http.length}\r\n\r\n"
      header.getBytes("ISO-8859-1") ++ http ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    val latinBody = "<html><body>café résumé</body></html>".getBytes("ISO-8859-1")
    assert(latinBody.count(b => (b & 0xFF) == 0xE9) == 3) // genuinely non-UTF-8 bytes
    val shard =
      // quoted charset name, mixed case: RFC 2978 names are case-insensitive
      rec("http://l.example/a", """text/html; charset="ISO-8859-1"""", latinBody) ++
      // same bytes, no charset parameter: must fall back to UTF-8 (mojibake, not null)
      rec("http://l.example/b", "text/html", latinBody) ++
      // unknown charset name: fall back to UTF-8 instead of failing the task
      rec("http://l.example/c", "text/html; charset=not-a-charset",
        "<html><body>plain ascii</body></html>".getBytes("UTF-8")) ++
      // UTF-8 page through the charset-aware path: byte-identical to the UTF-8 overload
      rec("http://l.example/d", "text/html; charset=utf-8",
        "<html><body>café 中文</body></html>".getBytes("UTF-8"))
    withTempDir("warc_charset") { dir =>
      java.nio.file.Files.write(dir.resolve("cs.warc"), shard)

      val pages = WarcSource.pages(WarcSource.records(spark, dir.toString + "/*"))
      val decoded = pages
        .withColumn("text_cs", WebFeatures.htmlText(col("html"), col("content_type")))
        .withColumn("text_utf8", WebFeatures.htmlText(col("html")))
        .select("url", "text_cs", "text_utf8")
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(decoded("http://l.example/a")._1 == "café résumé")
      // UTF-8 decode of 0xE9 is malformed → replacement chars, never a crash/null
      assert(decoded("http://l.example/b")._1 == decoded("http://l.example/b")._2 &&
        decoded("http://l.example/b")._1.contains('�'))
      assert(decoded("http://l.example/c")._1 == "plain ascii")
      assert(decoded("http://l.example/d")._1 == "café 中文" &&
        decoded("http://l.example/d")._1 == decoded("http://l.example/d")._2)

      // charsetOf unit surface: parameter extraction shapes
      import spark.implicits._
      val cs = Seq("text/html; charset=ISO-8859-1", """TEXT/HTML;CHARSET = "Windows-1252" """,
        "text/html", null).toDF("ct")
        .select(WarcSource.charsetOf(col("ct")).as("cs")).collect().map(_.getString(0))
      assert(cs(0) == "iso-8859-1" && cs(1) == "windows-1252" && cs(2) == "")
    }
  }

  private def warcRec(typ: String, url: String, date: String, payload: Array[Byte],
      lengthOverride: Option[Long] = None): Array[Byte] = {
    val header = s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Date: $date\r\n" +
      (if (url.nonEmpty) s"WARC-Target-URI: $url\r\n" else "") +
      s"Content-Length: ${lengthOverride.getOrElse(payload.length.toLong)}\r\n\r\n"
    header.getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }
  private def warcHttp(status: Int, body: String): Array[Byte] =
    s"HTTP/1.1 $status X\r\nContent-Type: text/html\r\n\r\n$body".getBytes("UTF-8")

  test("WARC streaming parse is O(record) memory: shard >> cap still ingests") {
    import graft.web.WarcSource
    // 60 small records + one whose payload alone exceeds the 64 KB record cap,
    // then 60 more — total shard ~0.5 MB, parsed through a 64 KB bound. The
    // rolling buffer structurally cannot exceed the cap, so a pass here proves
    // memory is O(record), not O(shard).
    val cap = 64 * 1024
    val small = (0 until 120).map { i =>
      warcRec("response", s"http://s.example/$i", "2024-02-01T00:00:00Z",
        warcHttp(200, s"<html>page $i ${"x" * 500}</html>"))
    }
    val big = warcRec("response", "http://s.example/huge", "2024-02-01T00:00:00Z",
      warcHttp(200, "<html>" + ("y" * (3 * cap)) + "</html>"))
    val shard = (small.take(60) :+ big) ++ small.drop(60)
    val bytes = shard.reduce(_ ++ _)
    assert(bytes.length > 4 * cap) // the shard genuinely exceeds the memory bound

    withTempDir("warc_bound") { dir =>
      java.nio.file.Files.write(dir.resolve("big.warc"), bytes)
      // gzipped twin: the decompressed stream also never materializes
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(bytes); gz.close()
      java.nio.file.Files.write(dir.resolve("big2.warc.gz"), bos.toByteArray)

      val recs = WarcSource.records(spark, dir.toString + "/*", maxRecordBytes = cap).collect()
      // per shard: all 120 small records parse; the oversized one is skipped
      assert(recs.length == 240, s"got ${recs.length}")
      assert(!recs.exists(_.url == "http://s.example/huge"))
      assert(recs.count(_.url == "http://s.example/7") == 2)
      assert(recs.filter(_.url == "http://s.example/7").forall(r =>
        new String(r.body, "UTF-8") == s"<html>page 7 ${"x" * 500}</html>"))
    }
  }

  test("WARC adversarial Content-Length near 2^31 cannot kill the task") {
    import graft.web.WarcSource
    val good = warcRec("response", "http://ok.example/a", "2024-03-01T00:00:00Z",
      warcHttp(200, "<html>fine</html>"))
    // a lying header claiming ~2 GB: Long bounds math must not wrap negative; the
    // poison record is skipped (its declared length is trusted for framing)
    val poison = warcRec("response", "http://bad.example/b", "2024-03-01T00:00:00Z",
      "tiny".getBytes("UTF-8"), lengthOverride = Some(Int.MaxValue.toLong - 50))
    withTempDir("warc_adv") { dir =>
      java.nio.file.Files.write(dir.resolve("adv.warc"), good ++ good ++ poison)
      val recs = WarcSource.records(spark, dir.toString + "/*").collect()
      assert(recs.length == 2 && recs.forall(_.url == "http://ok.example/a"))

      // lying length UNDER the cap mid-shard: ensure() hits EOF, and the salvage
      // rescan still recovers intact records buffered after the liar
      val liar = warcRec("response", "http://liar.example/c", "2024-03-02T00:00:00Z",
        "short".getBytes("UTF-8"), lengthOverride = Some(1 << 20))
      java.nio.file.Files.write(dir.resolve("liar.warc"), liar ++ good)
      val salvaged = WarcSource.records(spark, dir.toString + "/liar.warc").collect()
      assert(salvaged.exists(_.url == "http://ok.example/a"), salvaged.mkString(", "))
    }
  }

  test("WARC shard streams end-to-end into the point-in-time feature job") {
    import graft.web.WarcSource
    // the ingest→feature seam: timestamp types, binary html, status filtering
    val docs = for {
      (u, n) <- Seq("http://e2e.example/a" -> 4, "http://e2e.example/b" -> 3)
      i <- 0 until n
    } yield warcRec("response", u, f"2024-04-0${i + 1}%dT0$i%d:00:00Z",
      warcHttp(200, s"<html><head>h</head><body>doc $u rev $i</body></html>"))
    val noise = Seq(
      warcRec("request", "http://e2e.example/a", "2024-04-01T00:00:00Z",
        "GET /a HTTP/1.1\r\n\r\n".getBytes("UTF-8")),
      warcRec("response", "http://e2e.example/gone", "2024-04-01T00:00:00Z",
        warcHttp(500, "boom")))
    withTempDir("warc_e2e") { dir =>
      java.nio.file.Files.write(dir.resolve("e2e.warc"),
        (docs ++ noise).reduce(_ ++ _))

      val pages = WarcSource.pages(WarcSource.records(spark, dir.toString + "/*"))
        .withColumn("text", WebFeatures.htmlText(col("html")))
        .withColumn("lang", lit("en"))
      val feats = WebFeatures.pointInTime(pages)
      val rows = feats.collect()
      assert(rows.length == 7, s"got ${rows.length}")
      // per-row invariant: extracted text survives the whole chain byte-identically
      val txt = feats.where(col("url") === "http://e2e.example/a")
        .orderBy("warc_ts").select("text").collect().map(_.getString(0))
      assert(txt.toSeq == (0 until 4).map(i => s"doc http://e2e.example/a rev $i"))
      // zero leakage: the cumulative count at the first snapshot of each url is 1
      val firstCounts = feats.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("url").orderBy("warc_ts")))
        .where(col("rn") === 1).select("inclusive_cum_count_over_url")
        .collect().map(_.getLong(0))
      assert(firstCounts.toSeq == Seq(1L, 1L))
    }
  }

  test("metrics listener captures per-task lineage and skew ratio") {
    val (_, l) = GraftMetricsListener.during(spark)(pages.groupBy("domain_id").count().count())
    assert(l.taskStats.nonEmpty)
    assert(l.summaryJson.contains("\"skewRatio\""))
    assert(l.totalRecordsRead.sum() >= 0)
  }

  test("extractLinks + hostOf: anchor hrefs out of raw html, composed into pageRank") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.test/1",
        """<html><body><p>x</p><a href="https://B.test/page">b</a>
          |<A HREF='https://c.test/z?q=1'>c</A><a href="#frag">self</a>
          |<a data-x="1" href="https://b.test/other">b2</a>
          |<a href="https://b.test/it's-a-page">apos</a>
          |<a href='https://b.test/say-"hi"'>quot</a></body></html>""".stripMargin),
      ("https://b.test/1",
        """<a data-href="https://phantom.test/x" href="https://c.test/1">c</a>"""),
      ("https://c.test/1", """<div>no links</div>""")
    ).toDF("url", "htmlStr")
      .withColumn("html", encode(col("htmlStr"), "UTF-8"))

    val links = pages.select(col("url"),
        explode(WebFeatures.extractLinks(col("html"))).as("href"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(links == Set(
      ("https://a.test/1", "https://B.test/page"),
      ("https://a.test/1", "https://c.test/z?q=1"),
      ("https://a.test/1", "https://b.test/other"),
      // the OTHER quote inside a value is part of it, not a terminator (the
      // close quote is a backreference of the opener)
      ("https://a.test/1", "https://b.test/it's-a-page"),
      ("https://a.test/1", "https://b.test/say-\"hi\""),
      ("https://b.test/1", "https://c.test/1")), links.toString)

    // hostOf: lowercases, strips port/userinfo, keeps IPv6 brackets whole,
    // null for relative urls
    val hosts = Seq("https://B.test/page", "http://u:p@x.test:8080/a",
        "https://[2001:DB8::1]:8443/p", "/rel", "nohost")
      .toDF("u").select(UrlOps.hostOf(col("u"))).collect().map(r =>
        if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(hosts == Seq("b.test", "x.test", "[2001:db8::1]", null, null))

    // the composed crawl chain: html -> links -> host edges -> pageRank
    val edges = pages.select(UrlOps.hostOf(col("url")).as("src"),
      explode(WebFeatures.extractLinks(col("html"))).as("href"))
      .select(col("src"), UrlOps.hostOf(col("href")).as("dst"))
    val ranks = HostGraph.pageRank(edges, "src", "dst", iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.keySet == Set("a.test", "b.test", "c.test"))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    // c.test is linked by both others and links only onward to b... rank order:
    // c (2 in-edges) > b (1 in-edge + dangling share) > a (dangling share only)
    assert(ranks("c.test") > ranks("b.test") && ranks("b.test") > ranks("a.test"), ranks.toString)
  }
}
