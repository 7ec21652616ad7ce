package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generator. Everything the program sees is made here from
  * `--seed`; the same seed gives byte-identical files. Each generator also
  * returns the ground truth its workload's checks compare against. */
object Gen {

  def symbol(i: Int): String = f"X$i%06d"

  private def writeLines(f: File)(body: (String => Unit) => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), UTF_8), 1 << 16)
    try body(line => { w.write(line); w.write('\n') }) finally w.close()
  }

  private def gauss(r: SplittableRandom, mu: Double, sd: Double): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    mu + sd * math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Market capitalisation of symbol `i`: fixed per symbol (so bands are a
    * property of the universe), log-normal across symbols. */
  private def marketCap(seed: Long, i: Int): Double = {
    val r = new SplittableRandom(seed * 1000003L + i)
    math.exp(gauss(r, 23.0, 2.0))
  }

  // ---- screener universe -----------------------------------------------

  /** One committed `stock_rankings` row: what the screeners read. */
  final case class Ranking(symbol: String, band: String,
      composite: Option[Double], fundamental: Option[Double])

  private def round2(v: Double): Double = math.round(v * 100) / 100.0

  /** A scored universe of `n` symbols: market-cap bands by rank (100 Large,
    * 150 Mid, 250 Small, the rest Micro), 2-dp scores (so ties occur and
    * the symbol tie-break matters) and 1% missing scores. */
  def rankings(seed: Long, n: Int): IndexedSeq[Ranking] = {
    val r = new SplittableRandom(seed * 59L + 1)
    val rank = (0 until n).sortBy(i => (-marketCap(seed, i), i)).zipWithIndex.toMap
    def band(k: Int) =
      if (k < 100) "Large Cap" else if (k < 250) "Mid Cap"
      else if (k < 500) "Small Cap" else "Micro Cap"
    def score(v: => Double) = if (r.nextDouble() < 0.01) None else Some(round2(v))
    (0 until n).map(i => Ranking(symbol(i), band(rank(i)),
      score(gauss(r, 50, 15)), score(r.nextDouble() * 100)))
  }

  // ---- end-of-day screener exports --------------------------------------

  /** The reference's 20 sectors and 119 industries; industry `j` belongs
    * to sector `j % 20`. */
  val sectors: IndexedSeq[String] = (1 to 20).map(k => f"Sector $k%02d")
  val industries: IndexedSeq[String] = (1 to 119).map(k => f"Industry $k%03d")
  def industryOf(i: Int): Int = (i * 7919) % industries.size
  def sectorOf(i: Int): Int = industryOf(i) % sectors.size

  /** Market capitalisation as exported: a whole number, fixed per symbol. */
  def marketCapOf(seed: Long, i: Int): Long = math.round(marketCap(seed, i))

  private val ratings =
    IndexedSeq("Strong Buy", "Buy", "Neutral", "Sell", "Strong Sell")

  private def grouped(v: Long): String =
    String.format(java.util.Locale.ROOT, "%,d", Long.box(v))

  /** One dirty numeric cell: mostly plain, some blank, some percent
    * strings, some with the unicode minus, thousands separators above
    * 1,000. */
  private def dirty(r: SplittableRandom, v: Double): String = {
    val p = r.nextDouble()
    if (p < 0.04) ""
    else {
      val a = math.abs(v)
      val body =
        if (a >= 1000) grouped(a.toLong) + f"${a - a.floor}%.2f".drop(1)
        else f"$a%.2f"
      val sign = if (v >= 0) "" else if (r.nextBoolean()) "−" else "-"
      sign + body + (if (p < 0.14) "%" else "")
    }
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** A screener export: the given headers (commas in a header are quoted,
    * as in the real export), one row per listed symbol in shuffled order,
    * plus a few copies with a blank symbol that ingestion must drop. */
  private def screenerCsv(f: File, seed: Long, salt: Long, n: Int,
      headers: Seq[String])(cell: (SplittableRandom, Int, String) => String): Unit = {
    val r = new SplittableRandom(seed * 61L + salt)
    val order = (0 until n).map(i => (r.nextLong(), i)).sorted.map(_._2)
    writeLines(f) { line =>
      line(headers.map(csvCell).mkString(","))
      order.zipWithIndex.foreach { case (i, k) =>
        val cells = headers.map(h => if (h == "Symbol") "" else csvCell(cell(r, i, h)))
        def row(sym: String) = line(headers.zip(cells).map {
          case ("Symbol", _) => sym
          case (_, c) => c
        }.mkString(","))
        row(symbol(i))
        if (k % 997 == 13) row("  ")
      }
    }
  }

  private def exportCell(seed: Long)(r: SplittableRandom, i: Int, h: String): String =
    h match {
      case "Description" => s"Company $i, Ltd."
      case "Sector" => sectors(sectorOf(i))
      case "Industry" => industries(industryOf(i))
      case "Market capitalization" => grouped(marketCapOf(seed, i))
      case "Total common shares outstanding" =>
        grouped(1000000L + r.nextInt(1000000000))
      case "Index" => if (r.nextBoolean()) "NIFTY 500, NIFTY 50" else ""
      case "Candlestick Pattern 1 day" => if (r.nextBoolean()) "Doji" else ""
      case h if h.endsWith("Currency") => "INR"
      case h if h.contains("Rating") => ratings(r.nextInt(ratings.size))
      case h if h == "Price" || h.startsWith("Simple Moving") ||
          h.startsWith("Bollinger") || h.startsWith("Target price 1 year") =>
        dirty(r, 50 + math.abs(gauss(r, 0, 1)) * 900)
      case _ => dirty(r, gauss(r, 5, 40))
    }

  /** A technical or fundamental export over `n` symbols; `salt` tells
    * the exports apart. */
  def screenerExport(f: File, seed: Long, salt: Long, n: Int,
      headers: Seq[String]): Unit =
    screenerCsv(f, seed, salt, n, headers)(exportCell(seed))

  /** Merged sector or industry table rows: name plus the momentum metrics
    * as scraped strings ('−1.2%', '2.5T INR', '1,234'). */
  def groupRows(seed: Long, names: Seq[String]): Seq[Seq[String]] = {
    val r = new SplittableRandom(seed * 67L + names.size)
    def pct() = {
      val v = gauss(r, 2, 8)
      (if (v < 0) "−" else "") + f"${math.abs(v)}%.2f%%"
    }
    names.map { n =>
      Seq(n, f"${1 + r.nextDouble() * 40}%.2fT INR", pct(), pct(), pct(), pct(),
        pct(), pct(), pct(), grouped(5 + r.nextInt(2000).toLong))
    }
  }

  // ---- news batches ------------------------------------------------------

  /** One scraped item. `url` is None for an invalid (blank) URL. */
  final case class Item(url: Option[String], premium: Boolean)

  def urlOf(id: Int): String = s"https://news.example/a/$id"

  /** `batches` scrape ticks 15 minutes apart, one JSON-lines file each.
    * Planted: duplicate URLs inside a batch, re-scrapes of the previous
    * three ticks, premium items (a property of the URL), blank URLs and
    * truncated (corrupt) lines. Returns every batch's items for ground
    * truth; corrupt lines are extra and carry no item. */
  def newsBatches(dir: File, seed: Long, batches: Int,
      perBatch: Int): IndexedSeq[IndexedSeq[Item]] = {
    val r = new SplittableRandom(seed * 43L + 5)
    var next = 0
    val out = IndexedSeq.newBuilder[IndexedSeq[Item]]
    val hist = scala.collection.mutable.ArrayBuffer[IndexedSeq[Int]]()
    dir.mkdirs()
    val base = java.time.Instant.parse("2026-01-05T03:45:00Z").getEpochSecond
    for (b <- 0 until batches) {
      val ids = scala.collection.mutable.ArrayBuffer[Int]()
      val items = (0 until perBatch).map { _ =>
        val p = r.nextDouble()
        val id =
          if (p < 0.03) -1
          else if (p < 0.08 && ids.nonEmpty) ids(r.nextInt(ids.size))
          else if (p < 0.20 && hist.nonEmpty) {
            val back = hist(hist.size - 1 - r.nextInt(math.min(3, hist.size)))
            back(r.nextInt(back.size))
          } else { next += 1; next }
        if (id > 0) ids += id
        Item(if (id > 0) Some(urlOf(id)) else None, id > 0 && id % 13 == 0)
      }
      hist += ids.toIndexedSeq
      val ts = java.time.Instant.ofEpochSecond(base + b * 900L)
      val f = new File(dir, f"tick-$b%05d.json")
      writeLines(f) { line =>
        items.zipWithIndex.foreach { case (it, k) =>
          val url = it.url match {
            case Some(u) => "\"" + u + "\""
            case None => if (k % 2 == 0) "\"\"" else "null"
          }
          val words = 8 + r.nextInt(120)
          val headline = (0 until words).map(w => s"w${(w * 7 + k) % 97}")
            .mkString(" ")
          val crit = r.nextInt(3) match {
            case 0 => "null"; case 1 => "true"; case _ => "false"
          }
          line(s"""{"headline":"$headline","article_url":$url,""" +
            s""""is_premium":${it.premium},"is_critical":$crit,""" +
            s""""scraped_at":"${ts.plusSeconds(k % 600)}"}""")
          if (k % 50 == 7) line(s"""{"headline":"$headline","article_url":"ht""")
        }
      }
      // the file source orders by mtime: make the replay order total
      f.setLastModified(1767225600000L + b * 2000L)
      out += items
    }
    out.result()
  }

  def md5Key(url: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(url.getBytes(UTF_8))
    "tv_" + d.map(b => f"${b & 0xff}%02x").mkString.take(20)
  }

  // ---- embeddings --------------------------------------------------------

  /** A corpus of 64-d gaussian vectors in which some vectors are exact
    * copies of earlier ones. Night 0 is the standing corpus, nights 1..n
    * each a delta batch; a copy may point at any earlier vector, so
    * clusters grow across nights. `root(id)` is the original a vector
    * copies (itself if it is one), which is also its cluster's least id. */
  final case class Corpus(nights: IndexedSeq[IndexedSeq[(Long, Array[Float])]],
      root: IndexedSeq[Long]) {
    /** Planted component map over the ids below `upTo`: every node of a
      * cluster with two or more members, labelled by its least id. */
    def components(upTo: Long): Map[Long, Long] =
      (0L until upTo).groupBy(i => root(i.toInt)).values
        .filter(_.size > 1).flatMap(g => g.map(_ -> g.min)).toMap
  }

  def corpus(seed: Long, standing: Int, deltas: Int, perDelta: Int,
      copyShare: Double): Corpus = {
    val r = new SplittableRandom(seed * 47L + 3)
    val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val root = scala.collection.mutable.ArrayBuffer[Long]()
    def add(): (Long, Array[Float]) = {
      val id = vecs.size
      if (vecs.nonEmpty && r.nextDouble() < copyShare) {
        val src = r.nextInt(vecs.size)
        vecs += vecs(src); root += root(src)
      } else {
        vecs += Array.fill(64)(gauss(r, 0, 1).toFloat); root += id.toLong
      }
      (id.toLong, vecs(id))
    }
    val nights = (0 to deltas).map { n =>
      (0 until (if (n == 0) standing else perDelta)).map(_ => add())
    }
    Corpus(nights, root.toIndexedSeq)
  }
}
