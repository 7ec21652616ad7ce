package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, one pass of `--seconds`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --dir <scratch dir> --out <result file>
  * }}}
  * Untraced (`--trace 0`): set-up, warm-up, then a timed pass; the result
  * holds the end-to-end metrics. Traced (`--trace 1`): the same untraced
  * pass, then a second pass that makes the same calls under the trace and
  * reports the per-layer metrics. The result file holds one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {

  val workloads: Seq[String] =
    Seq("eod_batch", "screener_serve", "news_stream", "neardup_nightly")

  /** Set-ups per run; set-up time is the median. */
  val setUps = 3

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(dir: File, cores: Int): SparkSession =
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(dir, "spark-warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(dir, "hadoop-tmp").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  def make(name: String, spark: SparkSession, seed: Long, dir: File,
      cores: Int): Workload = name match {
    case "eod_batch" => new EodBatch(spark, seed, dir)
    case "screener_serve" => new ScreenerServe(spark, seed, dir, clients = cores)
    case "news_stream" => new NewsStream(spark, seed, dir)
    case "neardup_nightly" => new NeardupNightly(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; one of ${workloads.mkString(", ")}")
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  type Metric = (String, Double, String)

  def endToEnd(p: Pass, setupS: Double): Seq[Metric] = Seq(
    ("setup_s", setupS, "s"),
    ("op_p50_ms", Stats.quantile(p.ops, 0.5), "ms"),
    ("op_p90_ms", Stats.quantile(p.ops, 0.9), "ms"),
    ("batch_s", Stats.median(p.batches), "s"),
    ("throughput_per_s", p.items / p.wallS, "1/s"),
    ("success_rate", 1.0 - p.failed.toDouble / p.attempted, "ratio"))

  def perLayer(w: Workload, tr: Trace, traced: Pass, untraced: Pass,
      cores: Int): Seq[Metric] = {
    val s = tr.summary(traced.cycles, cores, w.progress)
    val modules = s.moduleMetrics
    val sinkOut = modules.find(_._1 == "sinks.output_bytes").get._2
    val requests = s.spans.filter(_.name == "serve.request")
    val requestIds = requests.map(_.id).toSet
    val requestJobs = s.jobs.count(j => requestIds.contains(s.root(j.span)))
    def perRequest(v: Double) = if (requests.isEmpty) 0.0 else v / requests.size
    modules ++ Seq(
      ("pipeline.run_technical_s", s.spanMs("pipeline.run_technical") / 1e3, "s"),
      ("pipeline.run_fundamental_s", s.spanMs("pipeline.run_fundamental") / 1e3, "s"),
      ("pipeline.run_group_momentum_s", s.spanMs("pipeline.run_group_momentum") / 1e3, "s"),
      ("pipeline.run_near_dup_full_s",
        s.spanMs("pipeline.run_near_dup_full") / 1e3, "s"),
      ("pipeline.run_near_dup_refresh_s",
        s.spanMs("pipeline.run_near_dup_refresh") / 1e3, "s"),
      ("sinks.read_committed_ms", s.spanMs("sinks.read_committed"), "ms"),
      ("serve.respond_ms", s.spanMs("serve.respond"), "ms"),
      ("streaming.run_available_now_s",
        s.spanMs("streaming.run_available_now") / 1e3, "s")) ++
      s.execMetrics ++ s.streamingMetrics ++ Seq(
      ("streaming.new_item_ratio", w.newItemRatio, "ratio"),
      ("sinks.commits", traced.commitsPerCycle, "count"),
      ("sinks.bytes_per_incoming_row",
        if (w.incomingRowsPerCycle > 0) sinkOut / w.incomingRowsPerCycle else 0.0,
        "bytes/row"),
      ("sinks.files_per_version", w.filesPerVersion(), "count"),
      ("serve.jobs_per_request", perRequest(requestJobs), "count"),
      ("serve.gap_ms_per_request", perRequest(s.gapMs(requests)), "ms"),
      ("trace.overhead_s",
        traced.wallS / traced.cycles - untraced.wallS / untraced.cycles, "s"),
      ("jvm.peak_rss_mb", peakRssMb(), "MB"))
  }

  private def json(ms: Seq[Metric]): String =
    ms.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    require(workloads.contains(name),
      s"unknown workload $name; one of ${workloads.mkString(", ")}")
    val seed = arg(args, "seed").toLong
    val secs = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val dir = new File(arg(args, "dir")).getAbsoluteFile
    val out = new File(arg(args, "out"))
    // two task slots leave the other cores of a small box to the driver,
    // JIT and GC threads, which keeps run-to-run timings steadier
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    // long call sites, so a job's innermost program frame is always kept
    System.setProperty("spark.callstack.depth", "200")

    val t0 = System.nanoTime()
    val spark = session(dir, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = seconds(t0)
    try {
      val w = make(name, spark, seed, dir, cores)
      val gen = (1 to setUps).map { k =>
        val in = new File(dir, s"input-$k")
        val g0 = System.nanoTime()
        w.generate(in)
        val s = seconds(g0)
        if (k < setUps) Workload.deleteTree(in)
        s
      }
      val w0 = System.nanoTime()
      w.warmUp()
      val warmS = seconds(w0)
      val setupS = sessionS + Stats.median(gen) + warmS
      println(f"setup: session $sessionS%.2f s, input generation " +
        f"${gen.map(g => f"$g%.2f").mkString("/")} s, warm-up $warmS%.2f s")

      val plain = w.measure(Spans.off, secs, None)
      var passes = Seq(plain)
      val metrics =
        if (!traced) endToEnd(plain, setupS)
        else {
          val tr = new Trace(spark.sparkContext)
          tr.start()
          val p = w.measure(tr, secs, Some(math.max(1, plain.cycles.round.toInt)))
          tr.stop()
          passes :+= p
          perLayer(w, tr, p, plain, cores)
        }
      val attempted = passes.map(_.attempted).sum
      val failed = passes.map(_.failed).sum
      passes.flatMap(_.notes).distinct.take(20).foreach(n => println(s"note: $n"))
      println(f"$name: ${plain.cycles}%.1f cycles, ${plain.ops.size} ops, " +
        f"${plain.wallS}%.2f s measured, $cores cores")
      metrics.foreach { case (n, v, u) => println(f"  $n%-36s $v%.6g $u") }
      val result = s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": ${json(metrics)}}"""
      Files.write(out.toPath, result.getBytes(UTF_8))
    } finally spark.stop()
  }
}
