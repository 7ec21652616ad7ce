package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing FULL materialization through a noop sink
  * (a bare .count() would let Catalyst prune the projections we mean to
  * measure). Prints exactly one JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(defaultCpus = 32, logLevel = "ERROR")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    // JVM/codegen warmup so per-query numbers measure the plan, not
    // first-query class-loading.
    try SparkEntry.entry(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Stage pre-build (r17 verdict #3): build every staged store
    // (target/graft-stage) in this labeled untimed phase so a fresh
    // checkout pays first-touch builds HERE, not inside whichever timed
    // query hits each store first (the r17 driver artifact read q278 at
    // 65.35 s vs 3.26 s warm and q23 at 25.23 s vs 0.65 s — cold-stage
    // inflation indistinguishable from a regression without this
    // accounting). stage_build_sec lands in the artifact; near zero on
    // a warm checkout.
    val stageT0 = System.nanoTime()
    val stageBuilds = SparkEntry.prebuildStages(spark, sfDir)
    val stageBuildSec = (System.nanoTime() - stageT0) / 1e9
    val stageJson = stageBuilds.map { case (k, sec) =>
      "\"" + k + f"\":$sec%.3f" }.mkString("{", ",", "}")
    // optional name filter for local iteration (driver passes no args)
    val selected = if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    // Contention-proof protocol (round-11): each query runs REPEATS
    // times and reports the MEDIAN. The r10 driver box was contended
    // and the single-run artifact recorded 818 s for a suite that
    // measures ~150 s quiet — with one sample per query a loaded box
    // is indistinguishable from a 5x regression. Medians of 3 make
    // transient load visible (min << median) instead of fatal.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3")
      .toInt.max(1)
    // Box-health fingerprint (round-12 task #7): record 1-min loadavg
    // before and after the run so a contended driver box is machine-
    // detectable from the artifact instead of needing a forensic pass
    // over per-query spreads (the r12 driver run inflated heavy queries
    // up to 17x; only a manual min-vs-median read exposed it).
    def loadAvg(): Double =
      try java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadAvg()
    // Noisy-neighbor signature: back-to-back samples of the SAME query
    // growing monotonically (run1 < run2 < run3) means the box load was
    // ramping during the measurement — the exact pattern the r12 driver
    // run showed (q30: 12.3 / 50.3 / 123.8 s). One query can do this by
    // chance; MANY doing it is contention, so the count is an artifact-
    // level health flag.
    def isMonotonic(runs: Seq[Double]): Boolean =
      runs.size >= 2 && runs.sliding(2).forall(p => p(1) > p(0) * 1.05)
    // Driver-window survival (r18 verdict #2: BENCH_r18.json was rc=124 /
    // parsed:null — the run was KILLED and nothing was written):
    //  - a wall-clock budget degrades repeats 3→2→1 as the deadline
    //    nears (degraded:true in the artifact) instead of dying silently;
    //  - the per-query artifact is flushed INCREMENTALLY after every
    //    query, so a killed run still yields every completed timing
    //    (partial:true marks an in-progress file);
    //  - q40_accuracy_audit runs ONCE — it is excluded from the headline
    //    total anyway, so extra repeats bought ~40 s of nothing on a
    //    loaded box.
    // Default sized so a QUIET box's full 3-repeat suite never crosses
    // the 60% degrade threshold: the r19 suite's quiet WALL is ~1500 s
    // (sum-of-medians ×3 ≈ 1000 s plus per-sample plan/GC/clearCache
    // overhead across 360×3 samples — measured r19, two runs), so 60%
    // of 3000 = 1800 s keeps a quiet run undegraded while a loaded
    // driver box self-caps at 50 min instead of being killed with no
    // artifact (BENCH_r18 rc=124). tools/project_driver_cost.py reads
    // the same default.
    val wallBudgetSec = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_WALL_BUDGET", "3000").toDouble
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    def writeArtifact(line: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    var anyDegraded = false
    val done = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, Double, Vector[Double]))]
    val ordered = selected.toSeq.sortBy(_._1)
    ordered.zipWithIndex.foreach { case ((name, fn), idx) =>
      def sample(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // isolate queries: drop intermediates persisted by LSH/simhash
        // ops so every repeat (and the next query) pays its own cost
        spark.catalog.clearCache()
        dt
      }
      // Budget-aware repeat count: past 60% of the wall budget drop to
      // 2 samples, past 80% to 1 — every query still gets SOME timing
      // rather than the tail getting none.
      val effRepeats =
        if (name == "q40_accuracy_audit") 1
        else if (wallBudgetSec <= 0) repeats
        else if (elapsedSec > wallBudgetSec * 0.8) 1
        else if (elapsedSec > wallBudgetSec * 0.6) math.min(repeats, 2)
        else repeats
      if (effRepeats < repeats && name != "q40_accuracy_audit")
        anyDegraded = true
      var runs = (1 to effRepeats).map(_ => sample()).toVector
      // Self-heal (r13 verdict): a monotonic-growth sample set is the
      // contended-window fingerprint — take up to 2 extra samples so
      // the published median has a chance to settle once the transient
      // load passes, instead of entering the artifact contaminated.
      // Still-monotonic after the extras ⇒ the query keeps its
      // monotonic_growth flag and the median is read as suspect.
      var extra = 0
      while (effRepeats >= 2 && isMonotonic(runs) && extra < 2) {
        runs = runs :+ sample()
        extra += 1
      }
      val sorted = runs.sorted
      // LOWER median: for even sample counts (degraded 2-repeat tail,
      // self-heal extras) the upper-middle pick would report the WORSE
      // of 2 samples — a systematic upward bias exactly when the box
      // is already contended. Contention inflates but never deflates
      // a sample, so the lower-middle is the honest quiet estimate
      // (ScaleProbe's min-of-2 discipline, applied to medians). Odd
      // counts are unchanged — this is the true median for 3 and 5.
      val median = sorted((sorted.size - 1) / 2)
      done += (name -> (median, sorted.head, runs))
      // incremental flush: a killed run keeps every completed timing
      if (idx < ordered.size - 1) {
        val partialQs = done.map { case (k, (med, _, _)) =>
          "\"" + k + f"\":$med%.3f" }.mkString("{", ",", "}")
        writeArtifact(f"""{"metric":"total","value":${done.map(_._2._1).sum}%.3f,"unit":"sec","partial":true,"n_done":${done.size},"n_queries":${ordered.size},"degraded":$anyDegraded,"queries":$partialQs,"sf":"$sfDir"}""")
      }
    }
    val results = done.toSeq
    val qs = results.map { case (k, (med, _, _)) => "\"" + k + f"\":$med%.3f" }
      .mkString("{", ",", "}")
    // 2-decimal variant for the stdout line — every byte counts against
    // the driver's log-capture window (see flatLine note below)
    val qsFlat = results.map { case (k, (med, _, _)) => "\"" + k + f"\":$med%.2f" }
      .mkString("{", ",", "}")
    val monotonicQs = results.collect {
      case (k, (_, _, runs)) if isMonotonic(runs) => k }
    val runsJson = results.map { case (k, (_, min, runs)) =>
      "\"" + k + "\":{\"min\":" + f"$min%.3f" + ",\"runs\":[" +
        runs.map(r => f"$r%.3f").mkString(",") +
        (if (isMonotonic(runs)) "],\"monotonic_growth\":true}" else "]}")
    }.mkString("{", ",", "}")
    // q40 re-runs every sketch's exact quadratic twin — an audit of the
    // approximate operators, not an operator. Its time is reported
    // per-query and as audit_sec, but kept out of the headline total so
    // the total measures the operators themselves.
    val (audit, ops) = results.partition(_._1 == "q40_accuracy_audit")
    val total = ops.map(_._2._1).sum
    val auditSec = audit.map(_._2._1).sum
    // total_with_audit bridges the r8 metric change for cross-round
    // dashboards: pre-r8 "value" included the q40 audit, r8+ excludes
    // it (audit_sec reports it separately).
    // Contention indicator for the reader: when the box is loaded,
    // per-query min stays near the quiet-box level while the median
    // inflates — a large median/min spread across MANY queries says
    // "contended driver box", a spread on ONE query says "that query
    // regressed". r10's single-run artifact could not distinguish the
    // two (818 s recorded vs ~150 s clean); this protocol can.
    val spread = {
      val rs = results.map { case (_, (med, min, _)) =>
        if (min > 0) med / min else 1.0 }
      if (rs.isEmpty) 1.0 else rs.sum / rs.size
    }
    val notes = s"per-query values are medians of $repeats runs " +
      "(BENCH_LOCAL.json query_runs has min+raw samples); mean " +
      f"median/min spread $spread%.2f (near 1.0 = quiet box, >>1 " +
      "across many queries = contended box); q26/q30/q31/q61/q62 " +
      "include their exact guarantee kernels (hash-gated since r10); " +
      "q23/q73 probe a STAGED corpus MinHash index (target/graft-stage, " +
      "built on first touch — visible as an inflated first run in " +
      "query_runs); q73's residual cost is the honest probe: batch " +
      "re-shingle + band join + exact-Jaccard verify"
    val loadAfter = loadAvg()
    val monoJson = monotonicQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val richLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","audit_sec":$auditSec%.3f,"total_with_audit":${total + auditSec}%.3f,"stage_build_sec":$stageBuildSec%.3f,"stage_builds":$stageJson,"repeats":$repeats,"degraded":$anyDegraded,"wall_budget_sec":$wallBudgetSec%.0f,"spread":$spread%.2f,"load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"monotonic_growth_queries":$monoJson,"notes":"$notes","queries":$qs,"query_runs":$runsJson,"sf":"$sfDir"}"""
    // Persist the full per-query map as a file artifact: the r9 driver
    // artifact had "parsed":null with a truncated stdout tail that lost
    // 20 queries' timings — a file can be lifted whole regardless of
    // log clipping. (This final write replaces the partial:true flushes.)
    writeArtifact(richLine)
    // The LAST stdout line must survive the driver's 2,000-char log-tail
    // capture (r10/r11/r12 artifacts all recorded "parsed": null because
    // the full 192-query map is ~6 KB). So stdout ends with a COMPACT
    // summary: totals + the slowest-10 map + a pointer to the committed
    // file artifact holding every timing. The full flat map is still
    // printed FIRST (useful when the whole log is kept), but the final
    // line is the one guaranteed to parse.
    println(f"""{"metric":"total_full_map","value":$total%.3f,"unit":"sec","queries":$qsFlat,"sf":"$sfDir"}""")
    // The compact line SELF-TRUNCATES to the capture budget instead of
    // require-crashing (which would fail the run AFTER the expensive
    // measurement succeeded): shrink the slowest-k map until it fits,
    // down to a minimal totals-only line that always does.
    // Contention self-defense (r15 verdict): the tail must not be able
    // to present load-contaminated medians as plan regressions. A box
    // whose 1-min loadavg already exceeds cpus/4 at start, or whose
    // monotonic-growth flags survived the self-heal extras, is marked
    // contended:true right in the guaranteed-to-parse line — readers
    // (and BENCH_DIFF consumers) must re-run on a quiet box before
    // treating its medians as regressions.
    val contended = (loadBefore > cpus.toDouble / 4.0) ||
      monotonicQs.size >= 3
    def compactLine(k: Int): String = {
      val slowest = ops.sortBy(-_._2._1).take(k)
        .map { case (q, (med, _, _)) => "\"" + q + f"\":$med%.2f" }
        .mkString("{", ",", "}")
      val monoTail = monotonicQs.take(5).map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","audit_sec":$auditSec%.3f,"total_with_audit":${total + auditSec}%.3f,"stage_build_sec":$stageBuildSec%.3f,"repeats":$repeats,"degraded":$anyDegraded,"spread":$spread%.2f,"load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"contended":$contended,"n_monotonic":${monotonicQs.size},"monotonic_growth_queries":$monoTail,"n_queries":${results.size},"n_ops":${ops.size},"slowest":$slowest,"queries":$slowest,"artifact":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    }
    val compact = (10 to 0 by -5).map(compactLine)
      .find(_.length < 1900)
      .getOrElse(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${ops.size},"artifact":"BENCH_LOCAL.json"}""")
    println(compact)
    spark.stop()
  }
}
