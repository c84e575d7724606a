package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** What a generator wrote: where, how many rows, how many uncompressed MB (UTF-8
  * string bytes plus 8 bytes per numeric or timestamp value), and the traffic
  * dimensions the workload's behaviour depends on. `nearDups` lists the generated
  * (original, near-duplicate) document pairs, for the dedup recall check.
  */
final case class Inputs(dir: String, rows: Long, mb: Double, dims: Seq[(String, String)],
    nearDups: Seq[(Long, Long)] = Nil)

/** Seeded input generators. Every value is drawn from one `SplittableRandom` per
  * table, in a fixed order, in this JVM's main thread: the same seed gives
  * byte-identical tables.
  * The program only ever sees the written parquet files.
  */
object Gen {
  val Epoch0 = 1577836800L // 2020-01-01T00:00:00Z
  private val Day = 86400L

  /** Zipf(s=1) rank in [0, n): the log-uniform inverse CDF, P(rank=r) ~ 1/(r+1). */
  def zipf(rng: SplittableRandom, n: Int): Int =
    math.min(n - 1, math.floor(math.pow(n.toDouble, rng.nextDouble())).toInt - 1).max(0)

  private def utf8(s: String): Long = s.getBytes("UTF-8").length.toLong

  private def write(spark: SparkSession, rows: ArrayBuffer[Row], schema: StructType,
      path: String, partitions: Int): Unit = {
    val rdd = spark.sparkContext.parallelize(rows.toSeq, partitions)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------------ pit_pages

  val PagesSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("text", StringType), StructField("lang", StringType)))
  val PageEventsSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  private val PageLangs = Array("en", "en", "en", "en", "en", "en", "de", "de", "fr", "es", "cs", "zh")

  /** Common-Crawl-style page snapshots plus the events to backfill against them.
    * Domains are Zipf over urls/50; snapshots per url are 1-3 (60%), 2-9 (35%),
    * 16-79 (4.9%) and 128-640 (0.1% tail); gaps are 1 h-20 d; 40% of snapshots
    * repeat the previous text; two events per snapshot sit within a day of it, a
    * fifth of them exactly on it.
    */
  def pages(spark: SparkSession, seed: Long, dir: String, urls: Int): Inputs = {
    val rng = new SplittableRandom(seed * 1000003L + 1)
    val lexicon = 5000
    val domains = math.max(16, urls / 50)
    val pages = ArrayBuffer.empty[Row]
    val events = ArrayBuffer.empty[Row]
    var bytes = 0L
    var maxSnaps = 0
    for (u <- 0 until urls) {
      val domain = zipf(rng, domains)
      val r = rng.nextDouble()
      val snaps =
        if (r < 0.6) 1 + rng.nextInt(3)
        else if (r < 0.95) 2 + rng.nextInt(8)
        else if (r < 0.999) 16 + rng.nextInt(64)
        else 128 + rng.nextInt(513)
      maxSnaps = math.max(maxSnaps, snaps)
      val url = s"https://d$domain.example.com/p/${rng.nextInt(100000)}-$u"
      val lang = PageLangs(rng.nextInt(PageLangs.length))
      var ts = Epoch0 + rng.nextLong(30 * Day)
      var text = ""
      for (s <- 0 until snaps) {
        ts += 3600L + rng.nextLong(20 * Day)
        if (s == 0 || rng.nextDouble() >= 0.4) {
          val words = Array.fill(12 + rng.nextInt(49))(Words.latin(zipf(rng, lexicon)))
          text = s"Title $u snapshot $s :: ${words.mkString(" ")}"
        }
        pages += Row(url, new Timestamp(ts * 1000L), text, lang)
        bytes += utf8(url) + utf8(text) + utf8(lang) + 8
        for (_ <- 0 until 2) {
          val off = if (rng.nextInt(5) == 0) 0L else rng.nextLong(2 * Day) - Day
          events += Row(url, new Timestamp((ts + off) * 1000L), rng.nextInt(1000).toDouble)
          bytes += utf8(url) + 16
        }
      }
    }
    write(spark, pages, PagesSchema, s"$dir/pages", 8)
    write(spark, events, PageEventsSchema, s"$dir/events", 8)
    Inputs(dir, pages.size.toLong + events.size, bytes / 1e6, Seq(
      "urls" -> urls.toString, "pages" -> pages.size.toString, "events" -> events.size.toString,
      "domain_skew" -> s"zipf(s=1) over $domains domains",
      "snapshots_per_url" -> s"1-3 60%, 2-9 35%, 16-79 4.9%, 128-640 0.1%; max $maxSnaps",
      "snapshot_gap" -> "1h-20d uniform", "text_words" -> s"12-60 from a $lexicon-word zipf lexicon"))
  }

  // --------------------------------------------------------- clickstream_select

  val ClickSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("channel", StringType), StructField("amount", DoubleType),
    StructField("duration", DoubleType), StructField("items", DoubleType),
    StructField("label", BooleanType)))

  private val EventTypes = Array("view", "view", "view", "click", "click", "cart", "buy")
  private val Channels = Array("web", "app", "email", "ads", "social", "direct", "partner", "search")

  /** Clickstream over 30 days: `hotShare` of the events go to `hotUsers` hot users
    * by Zipf, which sets the rows per 7-day window of the busiest key; the rest
    * spread uniformly over `users` users. The label leans on amount, channel and hour so that feature
    * selection has signal to find.
    */
  def clickstream(spark: SparkSession, seed: Long, dir: String, events: Int, users: Int,
      hotUsers: Int, hotShare: Double): Inputs = {
    val rng = new SplittableRandom(seed * 1000003L + 2)
    val rows = ArrayBuffer.empty[Row]
    val perUser = new java.util.HashMap[Long, Integer]()
    var bytes = 0L
    for (e <- 0 until events) {
      val user = if (rng.nextDouble() < hotShare) zipf(rng, hotUsers).toLong
        else hotUsers + rng.nextInt(users).toLong
      perUser.merge(user, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      val ts = Epoch0 + rng.nextLong(30 * Day)
      val et = EventTypes(rng.nextInt(EventTypes.length))
      val ch = Channels(zipf(rng, Channels.length))
      val amount = math.exp(rng.nextDouble() * 6.0) / 10.0
      val duration = rng.nextInt(3600).toDouble
      val items = (1 + zipf(rng, 20)).toDouble
      val hour = (ts % Day) / 3600
      val score = 0.3 * math.log1p(amount) + (if (ch == "email") 0.8 else 0.0) +
        (if (hour >= 18) 0.4 else 0.0) + rng.nextDouble() * 2.0
      rows += Row(e.toLong, new Timestamp(ts * 1000L), user, et, ch, amount, duration, items,
        score > 2.2)
      bytes += 8 * 7 + utf8(et) + utf8(ch)
    }
    write(spark, rows, ClickSchema, s"$dir/clicks", 8)
    var hottest = 0
    perUser.values.forEach(v => hottest = math.max(hottest, v))
    Inputs(dir, rows.size.toLong, bytes / 1e6, Seq(
      "events" -> events.toString, "users" -> (users + hotUsers).toString,
      "key_skew" -> f"${hotShare * 100}%.0f%% of events over $hotUsers hot users by zipf(s=1)",
      "hottest_user_events" -> hottest.toString,
      "rows_per_7d_window_hottest" -> f"${hottest * 7.0 / 30}%.0f",
      "columns" -> "3 numeric, 2 nominal, 1 boolean label"))
  }

  // -------------------------------------------------------------- text_curation

  /** Column layout of the gate table `documents.parquet`, so the corpus can also
    * feed the engine's document gates.
    */
  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val DocLangs = Array("en", "ru", "zh")

  private val Boilerplate = Array(
    "Copyright 2024 All rights reserved. Terms of use and privacy policy apply.",
    "This website uses cookies to improve your experience. Accept all cookies.",
    "Subscribe to our newsletter for weekly updates and exclusive offers.",
    "Share this article on social media and tell your friends about it.",
    "Read more articles like this one in our archive of stories.",
    "Skip to main content. Home | About | Contact | Help center",
    "Sign in or create an account to leave a comment below.",
    "Advertisement: the best deals of the season are available now.",
    "Related posts: see also our other guides and reviews.",
    "Back to top of page. All times are in UTC.",
    "Powered by an open source content management system.",
    "Report a problem with this page to the site administrators.")

  /** Multilingual web corpus: scripts 70/20/10 latin/cyrillic/han, 4-28 lines of
    * 5-15 words, a quarter of the words stopwords and the rest from a Zipf lexicon
    * of `lexicon` words per script, half the documents ending in one of 12 shared
    * boilerplate lines, and `dupShare` of the documents near-duplicates of an
    * earlier one (one line replaced, one word changed).
    */
  def corpus(spark: SparkSession, seed: Long, dir: String, docs: Int, lexicon: Int,
      dupShare: Double): Inputs = {
    val rng = new SplittableRandom(seed * 1000003L + 3)
    val bodies = ArrayBuffer.empty[Array[String]]
    val scripts = ArrayBuffer.empty[Int]
    val rows = ArrayBuffer.empty[Row]
    var bytes = 0L
    val nearDups = ArrayBuffer.empty[(Long, Long)]
    def line(script: Int): String = Array.fill(5 + rng.nextInt(11)) {
      if (rng.nextInt(4) == 0) Words.stopword(script, rng.nextInt(Words.StopwordsPerScript))
      else Words.word(script, zipf(rng, lexicon))
    }.mkString(" ")
    for (d <- 0 until docs) {
      val (script, lines) =
        if (d > 0 && rng.nextDouble() < dupShare) {
          val src = rng.nextInt(d)
          nearDups += ((src.toLong, d.toLong))
          val s = scripts(src)
          val ls = bodies(src).clone()
          ls(rng.nextInt(ls.length)) = line(s)
          val j = rng.nextInt(ls.length)
          val ws = ls(j).split(" ")
          ws(rng.nextInt(ws.length)) = Words.word(s, zipf(rng, lexicon))
          ls(j) = ws.mkString(" ")
          (s, ls)
        } else {
          val r = rng.nextInt(10)
          val s = if (r < 7) 0 else if (r < 9) 1 else 2
          val body = Array.fill(4 + rng.nextInt(25))(line(s))
          (s, if (rng.nextBoolean()) body :+ Boilerplate(zipf(rng, Boilerplate.length)) else body)
        }
      bodies += lines
      scripts += script
      val text = lines.mkString("\n")
      val lang = DocLangs(script)
      rows += Row(d.toLong, text, lang, s"src${zipf(rng, 40)}", text.codePointCount(0, text.length).toLong)
      bytes += utf8(text) + utf8(lang) + 24
    }
    write(spark, rows, DocsSchema, s"$dir/documents.parquet", 8)
    Inputs(dir, rows.size.toLong, bytes / 1e6, Seq(
      "docs" -> docs.toString, "avg_doc_kb" -> f"${bytes / 1e3 / docs}%.2f",
      "lines_per_doc" -> "4-28 (+1 boilerplate line in half the originals)",
      "script_mix" -> "70/20/10 latin/cyrillic/han", "lexicon_words" -> lexicon.toString,
      "stopword_share" -> "0.25", "near_dup_share" -> f"${nearDups.size.toDouble / docs}%.3f"),
      nearDups.toSeq)
  }
}

/** Deterministic word shapes per script: rank -> word, one-to-one. */
object Words {
  val StopwordsPerScript = 12
  private val Stop = Array(
    Array("the", "of", "and", "to", "in", "is", "that", "it", "for", "on", "with", "as"),
    Array("и", "в", "не", "на", "я", "что", "он", "с", "как", "а", "то", "все"),
    Array("的", "了", "是", "在", "和", "有", "我", "他", "这", "中", "也", "就"))

  def stopword(script: Int, i: Int): String = Stop(script)(i)

  def word(script: Int, rank: Int): String = script match {
    case 0 => latin(rank)
    case 1 => spell(rank + 1024, 0x0430, 32)
    case _ => new String(Array(0x4E00 + rank % 4000, 0x4E00 + 4000 + (rank / 4000) % 4000), 0, 2)
  }

  /** Three letters or more. */
  def latin(rank: Int): String = spell(rank + 676, 'a', 26)

  private def spell(n0: Int, base: Int, radix: Int): String = {
    val sb = new java.lang.StringBuilder
    var n = n0
    while (n > 0) { sb.appendCodePoint(base + n % radix); n /= radix }
    sb.toString
  }
}
