package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.util.Random
import graft.pipeline.{CompositeScorePipeline, FundamentalScorePipeline}
import graft.sources.CsvIngest

/** Seeded input generator. Every byte it writes is a function of the
  * seed and the workload's size, so the same seed gives the same files
  * (mtimes are set explicitly too, because `latestByMtime` and the file
  * stream source order by them). The program only ever sees these
  * files and frames.
  *
  * The inputs copy the reference's dirty shapes: quoted headers with
  * commas, unicode minus signs, `%` and `T INR` suffixes, thousands
  * commas, blank keys, 17-56% null fundamentals, skewed industry sizes
  * with singleton industries, stringly-typed momentum tables, news
  * batches with duplicates, premium items, blank and late URLs, and
  * embeddings with planted near-duplicate clusters. */
object Gen {

  /** Size of one cron universe. The reference's own traffic is
    * 1,643 symbols, 1,384 rows per CSV, 20 sectors and 119 industries. */
  final case class CronSize(symbols: Int, techRows: Int, fundRows: Int,
      sectors: Int = 20, industries: Int = 119, blankKeys: Int = 3) {
    val techValid: Int = techRows - blankKeys
    val fundValid: Int = fundRows - blankKeys
    require(techValid + fundValid >= symbols, "the two CSVs must cover every symbol")
  }
  val referenceSize: CronSize = CronSize(1643, 1384, 1384)
  /** cron_universe: the reference's shape at 20,000 symbols (rows per
    * CSV in the reference's 1,384 : 1,643 ratio), where task execution
    * is most of each day's pipeline time. */
  val universeSize: CronSize = CronSize(20000, 16847, 16847)

  /** One file written by the generator, for the run's input record. */
  final case class Written(path: String, bytes: Long, rows: Int, digest: String)

  def sha(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(bytes).take(8).map("%02x".format(_)).mkString
  }

  private def write(path: String, text: String, rows: Int, mtime: Long): Written = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Files.write(f.toPath, bytes)
    f.setLastModified(mtime)
    Written(path, bytes.length.toLong, rows, sha(bytes))
  }

  /** A fixed clock for file mtimes (2026-01-01T00:00:00Z). */
  val epochMs: Long = 1767225600000L

  private def rng(seed: Long, parts: Long*): Random =
    new Random(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L))

  // ---------------------------------------------------------------- cron

  val sectorNames: Seq[String] = Seq("Finance", "Technology services",
    "Electronic technology", "Health technology", "Consumer non-durables",
    "Consumer durables", "Retail trade", "Energy minerals", "Non-energy minerals",
    "Process industries", "Producer manufacturing", "Industrial services",
    "Utilities", "Transportation", "Communications", "Commercial services",
    "Distribution services", "Health services", "Consumer services", "Miscellaneous")

  /** Static per-symbol attributes of one universe. */
  final case class Universe(size: CronSize, symbols: Array[String],
      industryOf: Array[Int], sectorOfIndustry: Array[Int], industryNames: Array[String],
      marketCap: Array[Double], price: Array[Double],
      techSymbols: Array[Int], fundSymbols: Array[Int])

  def universe(seed: Long, size: CronSize): Universe = {
    val r = rng(seed, 1)
    val n = size.symbols
    val symbols = Array.tabulate(n)(i => f"S$i%06d")
    val sectorOfIndustry = Array.tabulate(size.industries)(j =>
      if (j < size.sectors) j else r.nextInt(size.sectors))
    val industryNames = Array.tabulate(size.industries)(j =>
      s"${sectorNames(sectorOfIndustry(j) % sectorNames.size)} group $j")
    // skewed industry sizes: a tenth of the industries are singletons
    // (their rows fall back to the sector peer group), the rest share
    // the universe with Zipf(1) weights, at least two symbols each
    val singletons = math.max(1, size.industries / 10)
    val zipf = (0 until size.industries - singletons).map(k => 1.0 / (k + 1))
    val rest = n - singletons - 2 * zipf.size
    require(rest >= 0, s"universe of $n symbols is too small for ${size.industries} industries")
    val extra = zipf.map(w => math.floor(rest * w / zipf.sum).toInt).toArray
    extra(0) += rest - extra.sum
    val industryOf = (zipf.indices.flatMap(k => Seq.fill(2 + extra(k))(k)) ++
      (zipf.size until size.industries)).toArray
    val shuffledIndustry = r.shuffle(industryOf.toSeq).toArray
    val marketCap = Array.fill(n)(math.exp(20 + 3.0 * r.nextGaussian()).floor + 1e6)
    val price = Array.fill(n)(math.exp(5 + r.nextGaussian()))
    // technical rows take the head of a seeded permutation, fundamental
    // rows the tail; the middle is in both files
    val perm = r.shuffle((0 until n).toVector).toArray
    Universe(size, symbols, shuffledIndustry, sectorOfIndustry, industryNames,
      marketCap, price, perm.take(size.techValid), perm.takeRight(size.fundValid))
  }

  /** Dirty numeric rendering as TradingView exports it. */
  private def num(v: Double, r: Random, pct: Boolean = false): String = {
    val body = "%.2f".format(math.abs(v))
    val signed = if (v < 0) (if (r.nextBoolean()) "−" else "-") + body else body
    if (pct && r.nextInt(3) == 0) signed + "%" else signed
  }
  private def big(v: Double): String = {
    val s = "%,.0f".format(math.abs(v))
    (if (v < 0) "−" else "") + s
  }
  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private val ratings = Seq("Strong buy", "Buy", "Neutral", "Sell", "Strong sell")
  private val analyst = Seq("Strong Buy", "Buy", "Hold", "Neutral", "Sell", "Strong Sell", "")

  /** Value of one technical column for symbol `i` on `day`. */
  private def techValue(u: Universe, header: String, i: Int, day: Int, r: Random): String = {
    val drift = 1.0 + 0.02 * r.nextGaussian()
    header match {
      case "Symbol" => u.symbols(i)
      case "Description" => s"${u.symbols(i)} Industries, Ltd."
      case "Sector" => sectorNames(u.sectorOfIndustry(u.industryOf(i)) % sectorNames.size)
      case "Industry" => u.industryNames(u.industryOf(i))
      case "Analyst Rating" => analyst(r.nextInt(analyst.size))
      case "Index" => if (r.nextInt(4) == 0) "Nifty 50, Nifty 500" else ""
      case "Candlestick Pattern 1 day" => if (r.nextInt(5) == 0) "Doji" else ""
      case h if h.endsWith("Currency") => "INR"
      case h if h.contains("Rating") => ratings(r.nextInt(ratings.size))
      case "Market capitalization" => big(u.marketCap(i) * drift)
      case "Price" => num(u.price(i) * drift, r)
      case h if h.contains("Moving Average (") || h.contains("Bollinger") ||
          h.startsWith("Target price 1 year") && !h.contains("%") =>
        num(u.price(i) * (1.0 + 0.1 * r.nextGaussian()), r)
      case h if h.contains("%") => num(15 * r.nextGaussian() + day * 0.1, r, pct = true)
      case _ => num(30 * r.nextGaussian() + 50, r)
    }
  }

  /** Fundamental metric value; `null` rate is per metric (17-56%). */
  private def fundValue(u: Universe, header: String, i: Int, r: Random): String =
    header match {
      case "Symbol" | "Description" | "Sector" | "Industry" | "Analyst Rating" |
           "Market capitalization" | "Price" => techValue(u, header, i, 0, r)
      case h if h.endsWith("Currency") => "INR"
      case h if h.startsWith("Total") || h.startsWith("Net income,") || h.startsWith("EBITDA") ||
          h.startsWith("Free cash") || h.startsWith("Enterprise value") && !h.contains("ratio") ||
          h.startsWith("Cash &") || h.startsWith("Total common") =>
        big(u.marketCap(i) * (0.05 + 0.3 * r.nextGaussian()))
      case h if h.contains("ratio") || h.startsWith("Price to") || h.contains("coverage") =>
        num(math.exp(2.5 + r.nextGaussian()) * (if (r.nextInt(12) == 0) -1 else 1), r)
      case h => num(20 * r.nextGaussian() + 8, r, pct = h.contains("%"))
    }

  /** The technical export for `day`: the map's headers (commas quoted)
    * plus two unmapped columns, valid rows plus blank-key rows. */
  def technicalCsv(seed: Long, u: Universe, day: Int): (String, Int) = {
    val headers = CsvIngest.technicalMap.map(_._1) ++ Seq("Volume 1 day", "Change % 1 day")
    val r = rng(seed, 2, day)
    val rows = u.techSymbols.toSeq.map(i => headers.map { h =>
      val v = if (h == "Volume 1 day") big(1e5 * math.abs(r.nextGaussian()) + 1)
        else techValue(u, h, i, day, r)
      // a few blank technical values; never the key or the market cap
      if (h != "Symbol" && h != "Market capitalization" && r.nextInt(50) == 0) "" else v
    }) ++ Seq.tabulate(u.size.blankKeys)(k =>
      headers.map(h => if (h == "Symbol") Seq("", " ", "  ")(k % 3) else techValue(u, h, 0, day, r)))
    val lines = (headers +: r.shuffle(rows)).map(_.map(csvField).mkString(","))
    (lines.mkString("\n") + "\n", rows.size)
  }

  /** The fundamental export for `week`. Like the reference's real export
    * it has no 'Net margin %, Trailing 12 months' column. */
  def fundamentalCsv(seed: Long, u: Universe, week: Int): (String, Int) = {
    val headers = CsvIngest.fundamentalMap.map(_._1)
      .filterNot(_ == "Net margin %, Trailing 12 months") :+ "Employees"
    val r = rng(seed, 3, week)
    val metricNames = FundamentalScorePipeline.all.map(_.name).toSet
    val nullable = headers.map(h =>
      CsvIngest.fundamentalMap.toMap.get(h).exists(metricNames.contains))
    val rateOf = headers.indices.map(k => rng(seed, 5, k).nextDouble() * 0.39 + 0.17)
    val rows = u.fundSymbols.toSeq.map(i => headers.indices.map { k =>
      val h = headers(k)
      if (nullable(k) && r.nextDouble() < rateOf(k)) ""
      else if (h == "Employees") big(1000 * math.abs(r.nextGaussian()) + 1)
      else fundValue(u, h, i, r)
    }) ++ Seq.tabulate(u.size.blankKeys)(k =>
      headers.map(h => if (h == "Symbol") "" else fundValue(u, h, 0, r)))
    val lines = (headers +: r.shuffle(rows)).map(_.map(csvField).mkString(","))
    (lines.mkString("\n") + "\n", rows.size)
  }

  /** Momentum table rows as the scraper leaves them: every number a
    * string ('12.3T INR', '−1.2%', '1,234'). */
  def momentumRows(seed: Long, names: Seq[String], day: Int, salt: Int): Seq[Seq[String]] = {
    val r = rng(seed, 6 + salt, day)
    names.map { name =>
      def pct() = num(10 * r.nextGaussian(), r) + "%"
      Seq(name, "%.2fT INR".format(math.abs(r.nextGaussian()) * 20 + 0.1), pct(),
        pct(), pct(), pct(), pct(), pct(), pct(), big(1 + r.nextInt(400)))
    }
  }
  val momentumCols: Seq[String] = Seq("market_cap", "change_pct", "perf_1w", "perf_1m",
    "perf_3m", "perf_6m", "perf_ytd", "perf_1y", "stocks")

  /** Files for `days` technical days and `weeks` fundamental weeks, one
    * directory per file so each day's glob resolves to its own export. */
  def writeCron(seed: Long, u: Universe, root: String, days: Int, weeks: Int): Seq[Written] = {
    val tech = (0 until days).map { d =>
      val (text, rows) = technicalCsv(seed, u, d)
      write(f"$root/tech/day-$d%03d/Technicals_2026-01-${d % 28 + 1}%02d.csv", text, rows,
        epochMs + d * 86400000L)
    }
    val fund = (0 until weeks).map { w =>
      val (text, rows) = fundamentalCsv(seed, u, w)
      write(f"$root/fund/week-$w%03d/funda_2026-01-${w % 28 + 1}%02d.csv", text, rows,
        epochMs + w * 86400000L)
    }
    tech ++ fund
  }
  def techGlob(root: String, day: Int): String = f"$root/tech/day-$day%03d/Technicals_*.csv"
  def fundGlob(root: String, week: Int): String = f"$root/fund/week-$week%03d/funda_*.csv"

  /** Expected band sizes for `n` ranked symbols with a market cap. */
  def bandSizes(n: Long): Map[String, Long] = {
    val labels = CompositeScorePipeline.bands.map(_._2) :+ "Micro Cap"
    val bounds = CompositeScorePipeline.bands.map(_._1) :+ Long.MaxValue
    labels.zip(bounds).foldLeft((Map.empty[String, Long], 0L)) { case ((m, prev), (l, b)) =>
      val take = math.max(0L, math.min(n, b) - prev)
      (if (take > 0) m + (l -> take) else m, math.min(n, b))
    }._1
  }

  // ---------------------------------------------------------------- news

  final case class NewsItem(url: String, headline: String, premium: Boolean,
      critical: Option[Boolean], eventMs: Long)

  /** `batches` scrape files of about `perBatch` items. Cross-batch
    * duplicate URLs, premium items, blank URLs and late re-scrapes of
    * old articles (older than the 1-hour watermark, so the stream drops
    * them) are mixed in; every fifth batch is all duplicates or premium
    * items, so its trigger adds nothing. Returns the batches and the
    * set of URLs that must end up committed. */
  def news(seed: Long, batches: Int, perBatch: Int): (Seq[Seq[NewsItem]], Set[String]) = {
    val r = rng(seed, 10)
    val stepMs = 30 * 60 * 1000L
    var next = 0
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    def pick(from: Seq[(String, Long)], headline: String): Option[NewsItem] =
      if (from.isEmpty) None
      else {
        val (u, at) = from(r.nextInt(from.size))
        Some(NewsItem(u, headline, premium = false, None, at))
      }
    val out = (0 until batches).map { b =>
      val t0 = epochMs + b * stepMs
      def fresh(premium: Boolean): NewsItem = {
        next += 1
        val url = s"https://www.tradingview.com/news/item-$seed-$next/"
        NewsItem(url, s"Headline $next: " + "markets move " * (1 + r.nextInt(60)), premium,
          if (r.nextBoolean()) Some(r.nextInt(10) == 0) else None, t0 + r.nextInt(stepMs.toInt))
      }
      // re-scrapes of the last half hour, and of articles at least two
      // hours old, which are behind the 1-hour watermark
      val recent = emitted.filter(_._2 > t0 - 30 * 60 * 1000L).toSeq
      val old = emitted.filter(_._2 < t0 - 2 * 3600 * 1000L).toSeq
      val idle = b > 0 && b % 5 == 4
      val items = (0 until perBatch).flatMap { _ =>
        val k = r.nextInt(100)
        if (idle) (if (k < 50) pick(recent, "Repeated headline") else Some(fresh(premium = true)))
        else if (k < 8) Some(fresh(premium = true))
        else if (k < 12) Some(NewsItem(Seq("", "   ", null)(k % 3), "No link", premium = false, None, t0))
        else if (k < 22) pick(recent, "Repeated headline")
        else if (k < 26) pick(old, "Late re-scrape")
        else Some(fresh(premium = false))
      }
      items.foreach { it =>
        if (!it.premium && it.url != null && it.url.trim.nonEmpty && seen.add(it.url))
          emitted += ((it.url, it.eventMs))
      }
      items
    }
    (out, emitted.map(_._1).toSet)
  }

  private def jsonStr(s: String): String = if (s == null) "null" else graft.functions.JsonText.quote(s)

  /** One JSON-lines scrape file per batch, mtimes ascending. */
  def writeNews(dir: String, batches: Seq[Seq[NewsItem]]): Seq[Written] =
    batches.zipWithIndex.map { case (items, b) =>
      val text = items.map { it =>
        val ts = java.time.Instant.ofEpochMilli(it.eventMs).toString
        s"""{"article_url":${jsonStr(it.url)},"headline":${jsonStr(it.headline)},""" +
          s""""is_premium":${it.premium},"is_critical":${it.critical.map(_.toString).getOrElse("null")},""" +
          s""""source":"tradingview","event_time":"$ts"}"""
      }.mkString("", "\n", "\n")
      write(f"$dir/batch-$b%05d.json", text, items.size, epochMs + b * 2000L)
    }

  // ------------------------------------------------------------ embeddings

  /** `n` ids starting at `firstId` with `dim`-dimensional embeddings.
    * A fifth of the ids belong to planted clusters of 2-4 near-copies
    * (cosine > 0.99 to each other); `anchors` are earlier vectors that
    * some of the new ones copy, so nightly batches also join standing
    * clusters. Returns (id, vector) rows and the planted pairs. */
  def embeddings(seed: Long, salt: Int, firstId: Long, n: Int, dim: Int,
      anchors: IndexedSeq[(Long, Array[Float])]): (IndexedSeq[(Long, Array[Float])], Seq[(Long, Long)]) = {
    val r = rng(seed, 20 + salt)
    def randomVec(): Array[Float] = Array.fill(dim)(r.nextGaussian().toFloat)
    def near(v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x + 0.04 * norm / math.sqrt(dim) * r.nextGaussian()).toFloat)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var id = firstId
    while (rows.size < n) {
      val k = r.nextInt(100)
      if (k < 5 && anchors.nonEmpty) {
        val (aid, av) = anchors(r.nextInt(anchors.size))
        rows += ((id, near(av))); pairs += ((aid, id)); id += 1
      } else if (k < 12) {
        val base = randomVec()
        val members = (0 until 2 + r.nextInt(3)).map(_ => id + 0).map { _ =>
          val row = (id, near(base)); id += 1; row
        }.take(n - rows.size)
        rows ++= members
        for (a <- members; b <- members if a._1 < b._1) pairs += ((a._1, b._1))
      } else {
        rows += ((id, randomVec())); id += 1
      }
    }
    (rows.toIndexedSeq, pairs.toSeq)
  }
}
