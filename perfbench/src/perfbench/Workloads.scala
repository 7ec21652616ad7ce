package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import graft.pipeline.{NewsIngestPipeline, Orchestration}
import graft.serve.Screeners
import graft.sinks.MergeByKey
import graft.sources.{CsvIngest, JsonIngest}
import graft.streaming.Streams

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What one measured pass produced. `ops` are the workload's unit
  * operations in ms, `batches` its batch step in s, `items` the input
  * items it processed in `wallS` seconds. */
final case class Pass(ops: Seq[Double], batches: Seq[Double], items: Long,
    wallS: Double, cycles: Double, commitsPerCycle: Double, attempted: Long,
    failed: Long, notes: Seq[String])

/** Counts operations and failed checks; a failed check is a failed
  * operation. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val notes: ArrayBuffer[String] = ArrayBuffer[String]()
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1; notes += s"op failed: ${e.toString.take(300)}"; None }
  }
  /** `ok(expected)` must hold. As a self-test, `ok(planted)` on a
    * deliberately wrong expected value must not: a check that accepts it
    * cannot catch a wrong output, so that counts as a failure too. */
  def check[E](name: String, expected: E, planted: E)(ok: E => Boolean): Unit = {
    def holds(e: E) = try ok(e) catch { case ex: Exception =>
      notes += s"$name threw: ${ex.toString.take(300)}"; false }
    attempted += 1
    if (!holds(expected)) { failed += 1; notes += s"check failed: $name" }
    else if (holds(planted)) {
      failed += 1; notes += s"self-test failed: $name accepted a planted wrong value"
    }
  }
}

object Workload {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

abstract class Workload(val spark: SparkSession, val seed: Long,
    val dir: File) {
  /** Generate this workload's inputs (and expected results) into `in`. */
  def generate(in: File): Unit
  /** Program-side preparation and warm-up over the generated inputs. */
  def warmUp(): Unit
  /** Run for `seconds` (untraced pass), or exactly `cycles` cycles. */
  def measure(spans: Spans, seconds: Double, cycles: Option[Int]): Pass
  /** Sink tables whose committed versions the traced pass inspects. */
  def sinkTables: Seq[String]
  /** Input rows the user fed to the sinks per cycle. */
  def incomingRowsPerCycle: Double
  /** Items the pipeline appended ÷ items scraped (news only). */
  def newItemRatio: Double = 0.0
  /** Streaming progress of the last pass (news only). */
  def progress: Seq[StreamingQueryProgress] = Nil

  protected def now(): Long = System.nanoTime()
  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Repeat whole cycles until `seconds` pass, or `cycles` times. */
  protected def loop(seconds: Double, cycles: Option[Int])(body: Int => Unit): Int = {
    val start = now()
    var k = 0
    while (cycles.fold(k == 0 || ms(start) < seconds * 1e3)(k < _)) {
      body(k); k += 1
    }
    k
  }

  protected def path(f: File, parts: String*): String =
    parts.foldLeft(f)(new File(_, _)).getAbsolutePath

  private var runSeq = 0
  private var lastRun: Option[File] = None
  /** A fresh directory for one cycle; the previous cycle's is removed. */
  protected def freshRun(prefix: String): File = {
    lastRun.foreach(Workload.deleteTree)
    runSeq += 1
    val f = new File(dir, s"$prefix-$runSeq")
    lastRun = Some(f)
    f
  }

  /** Commits made so far to the current sink tables. */
  def commits(): Long = sinkTables.map(t =>
    MergeByKey.committedVersion(spark, t).fold(0L)(_ + 1)).sum

  /** Mean data-file count of the sink tables' committed versions. */
  def filesPerVersion(): Double = Stats.mean(sinkTables.flatMap { t =>
    MergeByKey.committedVersion(spark, t).map { v =>
      Option(new File(t, s"v=$v").listFiles).getOrElse(Array.empty[File])
        .count(_.getName.startsWith("part-")).toDouble
    }
  })
}

/** Screener responses over the reference's real universe: a closed loop
  * of `clients` callers, each waiting for its reply. */
final class ScreenerServe(spark: SparkSession, seed: Long, dir: File,
    val clients: Int) extends Workload(spark, seed, dir) {
  val universe = 1643
  private var wh: String = _
  private var expected: Map[String, Seq[String]] = Map.empty
  /** Requests per batch step (and per cycle in per-layer totals): small
    * enough for several batch steps in a run. */
  val batch = 10
  /** The three screeners, drawn uniformly (no request mix is on record). */
  private val screeners = IndexedSeq("btst", "swing", "position")

  private var rows: IndexedSeq[Gen.Ranking] = IndexedSeq.empty

  def generate(in: File): Unit = { rows = Gen.rankings(seed, universe) }

  /** The top-20 lists computed on the driver from the generated rows,
    * without the program. */
  private def topTwenty(): Map[String, Seq[String]] = {
    def top(rs: Seq[Gen.Ranking], score: Gen.Ranking => Option[Double]) =
      rs.flatMap(r => score(r).map(v => (-v, r.symbol))).sorted.take(20).map(_._2)
    Map("btst" -> top(rows, _.composite),
      "swing" -> top(rows.filter(r => r.band == "Large Cap" || r.band == "Mid Cap"),
        _.composite),
      "position" -> top(rows, _.fundamental))
  }

  private val Sym = "\"symbol\":\"([^\"]+)\"".r
  private def valid(json: String, top: Seq[String]): Boolean =
    json.startsWith("{\"success\":true,") && json.contains("\"count\":20,") &&
      Sym.findAllMatchIn(json).map(_.group(1)).toSeq == top

  private def request(spans: Spans, name: String): String =
    spans("serve.request") {
      val scored = spans("sinks.read_committed") {
        MergeByKey.readCommitted(spark, s"$wh/stock_rankings")
      }
      spans("serve.respond")(Screeners.respond(spark, name, scored))
    }

  /** Commit the scored universe through the sink, then warm the request
    * path. */
  def warmUp(): Unit = {
    wh = path(dir, "serve-warehouse")
    val schema = StructType(Seq(StructField("symbol", StringType),
      StructField("market_cap_category", StringType),
      StructField("composite_score", DoubleType),
      StructField("fundamental_score", DoubleType)))
    def box(v: Option[Double]): Any = v.map(Double.box).orNull
    MergeByKey.upsert(spark, spark.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row(r.symbol, r.band, box(r.composite), box(r.fundamental))): _*),
      schema), s"$wh/stock_rankings", "symbol")
    expected = topTwenty()
    for (_ <- 1 to 5; n <- screeners)
      require(valid(request(Spans.off, n), expected(n)), s"warm-up $n response invalid")
  }

  private var lastCounts: Seq[Int] = Nil

  /** Closed loop: each client sends its next request when the previous
    * reply is in. The traced pass replays each client's request count. */
  def measure(spans: Spans, seconds: Double, cycles: Option[Int]): Pass = {
    val counts = if (cycles.isEmpty) None else Some(lastCounts)
    val lat = Array.fill(clients)(ArrayBuffer[Double]())
    val done = Array.fill(clients)(ArrayBuffer[Long]())
    val bad = new java.util.concurrent.atomic.AtomicLong()
    val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = now()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = new java.util.SplittableRandom(seed * 53L + c)
        var k = 0
        def more = counts.fold(ms(t0) < seconds * 1e3)(k < _(c))
        while (more) {
          val name = screeners(r.nextInt(screeners.size))
          val q0 = now()
          val resp =
            try Some(request(spans, name))
            catch { case e: Exception => notes.add(e.toString.take(300)); None }
          lat(c) += ms(q0)
          done(c) += now()
          // self-test: the same response against the list with its
          // last two symbols swapped must be rejected
          val top = expected(name)
          val planted = top.init.init ++ top.takeRight(2).reverse
          if (!resp.exists(valid(_, top))) {
            bad.incrementAndGet(); notes.add(s"invalid $name response")
          } else if (resp.exists(valid(_, planted))) {
            bad.incrementAndGet(); notes.add(s"self-test failed: $name accepted a planted order")
          }
          k += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = ms(t0) / 1e3
    lastCounts = lat.map(_.size).toSeq
    val n = lat.map(_.size).sum
    // the batch step: wall time per `batch` consecutive completions
    val ends = (t0 +: done.flatten.sorted).toIndexedSeq
    val perBatch = (batch until ends.size by batch).map(i =>
      (ends(i) - ends(i - batch)) / 1e9)
    Pass(lat.flatten.toSeq, perBatch, n, wall, n.toDouble / batch, 0.0, n, bad.get(),
      notes.asScala.toSeq.distinct)
  }

  def sinkTables: Seq[String] = Seq(s"$wh/stock_rankings")
  def incomingRowsPerCycle: Double = 0.0
}

/** News ingest as a stream: one staged JSON-lines file per cron tick. Each
  * cron firing lands the next ticks and runs a catch-up query (one file per
  * trigger, dedup on the URL, merge into the store by tweet id) that
  * resumes from the previous firing's checkpoint. A cycle is a fixed
  * number of firings over a fresh store and checkpoint that replay the
  * ticks from the first, so every cycle does the same work. */
final class NewsStream(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  private val firings = 3
  private val ticksPerFiring = 2
  private val perTick = 200
  private val ticks = firings * ticksPerFiring
  private var hold: File = _
  private var keys: IndexedSeq[Set[String]] = IndexedSeq.empty
  private var store: String = _
  private var storeRows = 0L
  private var lastProgress: Seq[StreamingQueryProgress] = Nil
  override def progress: Seq[StreamingQueryProgress] = lastProgress

  def generate(in: File): Unit = {
    hold = new File(in, "ticks")
    val batches = Gen.newsBatches(hold, seed, ticks, perTick)
    keys = batches.map(_.filter(i => i.url.isDefined && !i.premium)
      .map(i => Gen.md5Key(i.url.get)).toSet)
  }

  private val schema = "headline STRING, article_url STRING, " +
    "is_premium BOOLEAN, is_critical BOOLEAN, scraped_at TIMESTAMP"

  /** A stream over the run's landed ticks through the program's news path
    * (JSON-lines parse, cleanse, URL dedup, merge by tweet id), started as
    * one catch-up run; returns its progress. */
  private def catchUp(spans: Spans, run: File): Seq[StreamingQueryProgress] = {
    val lines = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(path(run, "src"))
    val parsed = JsonIngest.parseRecords(lines, col("value"), schema,
      requiredField = "scraped_at").filter(!col("is_corrupt"))
      .drop("value", "is_corrupt")
    val items = NewsIngestPipeline.prepare(parsed,
      postedAt = to_timestamp(lit("2026-01-05 00:00:00")))
    val writer = Streams.mergeSink(
      Streams.dedupByKey(items, "article_url", "scraped_at", "1 hour"),
      path(run, "store"), "tweet_id")
    val q = spans("streaming.run_available_now") {
      val q = Streams.runAvailableNow(writer, path(run, "checkpoint"))
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq
  }

  /** Copy ticks [from, until) into the run's source directory, in order. */
  private def land(run: File, from: Int, until: Int): Unit = {
    val src = new File(run, "src")
    src.mkdirs()
    (from until until).foreach { t =>
      val name = f"tick-$t%05d.json"
      val to = new File(src, name).toPath
      java.nio.file.Files.copy(new File(hold, name).toPath, to)
      // the file source orders by mtime: keep landing order total
      to.toFile.setLastModified(1767225600000L + t * 2000L)
    }
  }

  private def check(t: Tally, until: Int): Unit = {
    val got = MergeByKey.readCommitted(spark, store).select("tweet_id")
      .collect().map(_.getString(0))
    storeRows = got.length
    val want = keys.take(until).reduce(_ ++ _)
    t.check(s"committed tweet ids = unique valid non-premium urls of ticks < $until",
      want, want - want.head + "tv_planted")(got.toSet == _)
    t.check("no duplicate tweet ids", got.toSet.size, got.toSet.size - 1)(
      got.length == _)
  }

  /** `count` firings over a fresh store; returns each firing's progress
    * and time in s. */
  private def cycle(spans: Spans, t: Tally,
      count: Int): Seq[(Seq[StreamingQueryProgress], Double)] = {
    val run = freshRun("news")
    store = path(run, "store")
    (0 until count).map { f =>
      land(run, f * ticksPerFiring, (f + 1) * ticksPerFiring)
      val t0 = now()
      val ps = t.op(catchUp(spans, run)).getOrElse(Nil)
      val dt = ms(t0) / 1e3
      check(t, (f + 1) * ticksPerFiring)
      (ps, dt)
    }
  }

  def warmUp(): Unit = {
    val t = new Tally
    cycle(Spans.off, t, 1)
    require(t.failed == 0, t.notes.mkString("; "))
  }

  /** Cycles for `seconds` (or `cycles` cycles): ops are triggers, the
    * batch step is one firing's catch-up run. */
  def measure(spans: Spans, seconds: Double, cycles: Option[Int]): Pass = {
    val tally = new Tally
    val trig = ArrayBuffer[Double]()
    val firingS = ArrayBuffer[Double]()
    val prog = ArrayBuffer[StreamingQueryProgress]()
    val n = loop(seconds, cycles) { _ =>
      cycle(spans, tally, firings).foreach { case (ps, dt) =>
        prog ++= ps
        trig ++= ps.filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").doubleValue)
        firingS += dt
      }
    }
    lastProgress = prog.toSeq
    Pass(trig.toSeq, firingS.toSeq, n * (ticks * perTick).toLong, firingS.sum, n,
      commits().toDouble, tally.attempted, tally.failed, tally.notes.toSeq)
  }

  def sinkTables: Seq[String] = Seq(store)
  def incomingRowsPerCycle: Double = ticks * perTick.toDouble
  override def newItemRatio: Double = storeRows.toDouble / (ticks * perTick)
}

/** The nightly near-duplicate refresh: night 1 builds the component map
  * over the standing corpus, nights 2..N merge a delta batch into it. */
final class NeardupNightly(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  private val standing = 10000
  private val deltas = 4
  private val perDelta = 1000
  private var corpus: Gen.Corpus = _
  private var nightDirs: IndexedSeq[String] = _
  private var wh: String = _
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def generate(in: File): Unit = {
    corpus = Gen.corpus(seed, standing, deltas, perDelta, copyShare = 0.05)
    // one write for all nights; each night is a partition directory
    val rows = corpus.nights.zipWithIndex.flatMap { case (vs, n) =>
      vs.map { case (id, v) => Row(id, v, n) } }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      schema.add("night", IntegerType)).write.partitionBy("night")
      .parquet(path(in, "corpus"))
    nightDirs = corpus.nights.indices.map(n => path(in, "corpus", s"night=$n"))
  }

  /** Night `n` (0 = the full build): the caller stages the grown standing
    * corpus, then refreshes with that night's batch. */
  private def night(spans: Spans, run: File, n: Int): DataFrame = {
    val batch =
      if (n == 0) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.parquet(nightDirs(n))
    val standingDf = graft.Tables.stagedParquet(spark, path(run, s"corpus-$n")) {
      (0 until math.max(n, 1)).map(i => spark.read.parquet(nightDirs(i)))
        .reduce(_ unionByName _)
    }
    spans(if (n == 0) "pipeline.run_near_dup_full" else "pipeline.run_near_dup_refresh") {
      Orchestration.runNearDupRefresh(spark, standingDf, batch, "vec_id",
        "embedding", threshold = 0.999, path(run, s"keys-$n"), wh,
        baseBits = 64, bands = 8, bitsPerBand = 16)
    }
  }

  /** Night 1 and then `upTo` delta nights over a fresh warehouse; returns
    * each night's time in ms. */
  private def cycle(spans: Spans, t: Tally, upTo: Int = deltas): Seq[Double] = {
    val run = freshRun("neardup")
    wh = path(run, "warehouse")
    val out = (0 to upTo).map { n =>
      val t0 = now()
      val map = t.op(night(spans, run, n))
      val dt = ms(t0)
      map.foreach { m =>
        val got = m.select("node", "component").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = corpus.components(standing.toLong + n * perDelta)
        val (node, comp) = want.head
        t.check(s"night ${n + 1} component map = planted clusters",
          want, want.updated(node, comp + 1))(got == _)
      }
      dt
    }
    out
  }

  def warmUp(): Unit = {
    val t = new Tally
    cycle(Spans.off, t, upTo = 1)
    require(t.failed == 0, t.notes.mkString("; "))
  }

  def measure(spans: Spans, seconds: Double, cycles: Option[Int]): Pass = {
    val tally = new Tally
    val deltaMs = ArrayBuffer[Double]()
    // the batch step is the whole cycle: a single full build per run
    // spreads too widely across runs to be a bounded metric on its own
    val cycleS = ArrayBuffer[Double]()
    var made = 0L
    val n = loop(seconds, cycles) { _ =>
      val nights = cycle(spans, tally)
      deltaMs ++= nights.tail
      cycleS += nights.sum / 1e3
      made += commits()
    }
    Pass(deltaMs.toSeq, cycleS.toSeq, n.toLong * (standing + deltas * perDelta),
      cycleS.sum, n, made.toDouble / n, tally.attempted, tally.failed,
      tally.notes.toSeq)
  }

  def sinkTables: Seq[String] = Seq(s"$wh/neardup_components")
  def incomingRowsPerCycle: Double = standing + deltas * perDelta
}

/** The reference's end-of-day cron cycle over screener CSV exports, one
  * cycle a week on a fresh warehouse: the technical export lands and
  * `runTechnical` scores it, then the fundamental export lands and
  * `runFundamental` ranks it, then the sector and industry momentum
  * refresh runs. */
final class EodBatch(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  /** The reference's universe (1,643 symbols in `stock_data`). */
  private val universe = 1643
  private val technicalHeaders = CsvIngest.technicalMap.map(_._1)
  // the reference's fundamental export has no net-margin column
  private val fundamentalHeaders = CsvIngest.fundamentalMap.map(_._1)
    .filterNot(_ == "Net margin %, Trailing 12 months")
  private val groupSchema = StructType(
    Seq("name", "market_cap", "change_pct", "perf_1w", "perf_1m", "perf_3m",
      "perf_6m", "perf_ytd", "perf_1y", "stocks")
      .map(StructField(_, StringType)))
  private var in: File = _
  private var wh: String = _
  private var groups: Seq[(String, DataFrame, Set[String])] = Nil

  def generate(in: File): Unit = {
    this.in = in
    Gen.screenerExport(new File(in, "technical.csv"), seed, 1, universe,
      technicalHeaders)
    Gen.screenerExport(new File(in, "fundamental.csv"), seed, 2, universe,
      fundamentalHeaders)
    groups = Seq("sector" -> Gen.sectors, "industry" -> Gen.industries).map {
      case (key, names) =>
        val df = spark.createDataFrame(java.util.Arrays.asList(
          Gen.groupRows(seed, names).map(Row.fromSeq): _*), groupSchema)
          .withColumnRenamed("name", key)
        (key, df, names.toSet)
    }
  }

  /** Copy an export into the landing directory, newest by mtime. */
  private def land(landing: File, name: String, to: String, k: Int): Unit = {
    val f = new File(landing, to)
    java.nio.file.Files.copy(new File(in, name).toPath, f.toPath)
    f.setLastModified(1767225600000L + k * 2000L)
  }

  /** Band of every symbol by market-cap rank (100 Large, 150 Mid, 250
    * Small, the rest Micro), computed without the program. */
  private lazy val bands: Map[String, String] =
    (0 until universe).sortBy(i => (-Gen.marketCapOf(seed, i), Gen.symbol(i)))
      .zipWithIndex.map { case (i, k) =>
        Gen.symbol(i) -> (if (k < 100) "Large Cap" else if (k < 250) "Mid Cap"
          else if (k < 500) "Small Cap" else "Micro Cap")
      }.toMap

  private def table(name: String): DataFrame =
    MergeByKey.readCommitted(spark, s"$wh/$name")

  private def check(t: Tally): Unit = {
    val keys = table("stock_data").select("symbol").collect().map(_.getString(0))
    t.check("stock_data keys = the universe", bands.keySet,
      bands.keySet - bands.head._1)(keys.toSet == _)
    val ranked = table("stock_rankings")
      .select("symbol", "market_cap_category", "fundamental_rank").collect()
    val got = ranked.map(r => r.getString(0) -> r.getString(1)).toMap
    val (sym, _) = bands.find(_._2 == "Large Cap").get
    t.check("stock_rankings bands follow the 100/250/500 rule", bands,
      bands.updated(sym, "Mid Cap"))(got == _)
    val counts = bands.groupBy(_._2).map { case (b, m) => b -> m.size }
    val ranks = ranked.groupBy(_.getString(1)).map { case (b, rs) =>
      b -> rs.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).sorted.toSeq }
    t.check("fundamental_rank covers every scored row (1..n per band)", counts,
      counts.updated("Large Cap", counts("Large Cap") + 1))(c =>
      ranks == c.map { case (b, n) => b -> (1L to n.toLong) })
    groups.foreach { case (key, _, names) =>
      val rows = table(s"${key}_data").select(col(key), col("normalized_score_3m"),
        col("normalized_score_6m"), col("normalized_score_1y")).collect()
      val scored = rows.filter(r => (1 to 3).forall(c =>
        !r.isNullAt(c) && r.getDouble(c) >= 0 && r.getDouble(c) <= 100))
      t.check(s"${key}_data keys = the ${names.size} ${key}s, scores in [0, 100]",
        names, names - names.head)(n =>
        scored.map(_.getString(0)).toSet == n && rows.length == n.size)
    }
  }

  /** One week over a fresh warehouse. Returns the technical day's time in
    * ms and the week's program time in s. */
  private def cycle(spans: Spans, t: Tally): (Double, Double) = {
    val run = freshRun("eod")
    wh = path(run, "warehouse")
    val landing = new File(run, "landing")
    landing.mkdirs()
    def timed(body: => Unit): Double = {
      val t0 = now(); body; ms(t0)
    }
    land(landing, "technical.csv", "Technicals_0.csv", 0)
    val dayMs = timed(t.op(spans("pipeline.run_technical") {
      Orchestration.runTechnical(spark, s"$landing/Technicals_*.csv", wh).get
    }))
    land(landing, "fundamental.csv", "funda_0.csv", 1)
    val restMs = timed(t.op(spans("pipeline.run_fundamental") {
      Orchestration.runFundamental(spark, s"$landing/funda_*.csv", wh).get
    })) + groups.map { case (key, df, _) =>
      timed(t.op(spans("pipeline.run_group_momentum") {
        Orchestration.runGroupMomentum(spark, df, wh, s"${key}_data", key)
      }))
    }.sum
    check(t)
    (dayMs, (dayMs + restMs) / 1e3)
  }

  /** None: like the reference's cron jobs, each a fresh process, the first
    * week runs cold. */
  def warmUp(): Unit = ()

  def measure(spans: Spans, seconds: Double, cycles: Option[Int]): Pass = {
    val tally = new Tally
    val dayMs = ArrayBuffer[Double]()
    val weekS = ArrayBuffer[Double]()
    var made = 0L
    val n = loop(seconds, cycles) { _ =>
      val (d, w) = cycle(spans, tally)
      dayMs += d
      weekS += w
      made += commits()
    }
    Pass(dayMs.toSeq, weekS.toSeq, (n * incomingRowsPerCycle).toLong, weekS.sum,
      n, made.toDouble / n, tally.attempted, tally.failed, tally.notes.toSeq)
  }

  def sinkTables: Seq[String] = (Seq("stock_data", "stock_rankings") ++
    groups.map(g => s"${g._1}_data")).map(t => s"$wh/$t")
  /** Export and group rows fed to the flows per week (blank-symbol copies
    * aside). */
  def incomingRowsPerCycle: Double =
    2.0 * universe + Gen.sectors.size + Gen.industries.size
}
