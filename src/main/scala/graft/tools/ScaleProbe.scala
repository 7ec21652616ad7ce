package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, HierarchicalZScore, PeerPercentile,
  PiiScrub, RankOps, Sampling, SequencePack, TermRelevance, TextAnalysis}

/** Scale probe: run the core window operators on generated data 100-1000x
  * the correctness-gate size, with a deliberately skewed group, and print
  * wall times. Deterministic (hash-derived values, no RNG).
  * Usage: runMain graft.tools.ScaleProbe [rows]
  *
  * Emits one JSON line per probe and, when SPARK_GRAFT_SCALE_OUT is
  * set, writes them all to that file as a committed scale artifact
  * (SCALE_r11.json) — the round-11 verdict asked for recorded evidence
  * that the pairwise operators (fuzzy join, containment) stay
  * sub-quadratic at sf1-equivalent volumes, so the pairwise probes
  * also emit SHAPE metrics (block-size distribution, candidate-pair
  * volume) alongside wall time.
  */
object ScaleProbe {
  private val outLines = scala.collection.mutable.ArrayBuffer[String]()
  private def emit(line: String): Unit = { println(line); outLines += line }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    // optional second arg: comma-separated probe names — run only
    // those (append the emitted lines to the committed artifact by
    // hand; a partial run must not overwrite the full record)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(',').toSet) else None
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // every session in this repo pins UTC (Tables.normalizeTs now
      // fail-fasts on anything else); this probe generates its own data
      // but must not be the one non-UTC session in the tree
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // skew: segment 0 holds ~40% of all rows; 120 nations; ~8% null metric
    val h = xxhash64(col("id"))
    val df = spark.range(n)
      .withColumn("seg",
        when(pmod(h, lit(10)) < 4, lit("S0"))
          .otherwise(concat(lit("S"), pmod(h, lit(7)).cast("string"))))
      .withColumn("nat", pmod(xxhash64(col("id"), lit(1)), lit(120)).cast("int"))
      .withColumn("m1", when(pmod(h, lit(12)) === 0, lit(null))
        .otherwise((pmod(xxhash64(col("id"), lit(2)), lit(100000)) / 100.0)))
      .withColumn("m2", (pmod(xxhash64(col("id"), lit(3)), lit(10000)) / 10.0))

    // Artifact header (r16 verdict #4): record the box's 1-min loadavg
    // before the suite, so a contended run is adjudicable from the
    // artifact alone — the same defense BENCH grew in r12/r16.
    def loadAvg(): Double =
      try java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    emit(f"""{"header":"scale","rows":$n,"repeats":2,"load_before":${loadAvg()}%.2f}""")

    // by-name: operators with eager internals (checkpointing iterative
    // loops) must run INSIDE the timer, not at argument evaluation.
    // r16 verdict #4: each probe runs TWICE and reports sec = MIN plus
    // both raw samples — contention inflates wall time but never
    // deflates it, so min is the quiet estimate and a within-probe
    // spread > 2x marks the samples themselves as noisy
    // (tools/scale_diff.py adjudicates cross-round drift from these).
    def timeRuns(name: String)(run: Int => org.apache.spark.sql.DataFrame): Unit = {
      if (!only.forall(_.contains(name))) return
      val runs = (1 to 2).map { i =>
        val t0 = System.nanoTime()
        run(i).write.format("noop").mode("overwrite").save()
        // scalable rank/percentile and clustering persist internally;
        // isolate probes (and the repeat) like Verify/Bench do
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      emit(f"""{"probe":"$name","rows":$n,"sec":${runs.min}%.2f,""" +
        s""""sec_runs":[${runs.map(r => f"$r%.2f").mkString(",")}]}""")
    }
    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      timeRuns(name)(_ => df)

    time("hierarchical_zscore") {
      HierarchicalZScore(df, Seq("m1" -> 0.6, "m2" -> 0.4),
        inner = Seq("seg", "nat"), outer = Seq("seg"))
        .select(col("id"), col("composite_score"))
    }
    time("peer_percentile") {
      val g = PeerPercentile.needsGlobalLevel(df, Seq(col("seg")))
      df.select(col("id"),
        PeerPercentile.percentile(col("m1"),
          Seq(col("seg"), col("nat")), Seq(col("seg")),
          includeGlobal = g).as("p"))
    }
    time("group_percentile_scalable") {
      graft.operators.ScalableRank.groupPercentile(
        df.select(col("id"), col("seg"), col("m1")), Seq("seg"), "m1")
    }
    time("band_by_rank_scalable") {
      RankOps.bandByRankScalable(df.select(col("id"), col("m2")), "m2", "id",
        Seq(100L -> "L", 250L -> "M", 500L -> "S"), "X")
    }
    // near-dup clustering at n/5 edges: clusters of 5 consecutive ids
    // (chain-linked, so transitivity is exercised) plus one n/100-long
    // chain — the worst case for naive propagation; path halving must
    // close it in O(log) rounds, not O(n/100).
    time("connected_components") {
      val clusterEdges = spark.range(n).filter(pmod(col("id"), lit(5)) =!= 4)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val chain = spark.range(n / 100)
        .select((col("id") + n).as("id_a"), (col("id") + n + 1).as("id_b"))
      graft.operators.Dedup.connectedComponents(
        clusterEdges.union(chain), "id_a", "id_b")
    }

    // ---- curation-operator probes over synthetic docs (n/10 docs of 12
    // hash-derived words; positions 0-5 draw from a 6-word vocab so
    // distinct docs DO share 5-grams — decontamination and repetition
    // see real overlap, not a degenerate all-unique corpus). concat_ws
    // of scalar expressions: codegen'd generation, no HOF lambdas.
    val nDocs = math.max(n / 10, 1000L)
    val wordCols = (0 until 12).map { i =>
      val v = if (i < 6) 6 else 40
      concat(lit("w"),
        pmod(xxhash64(col("id"), lit(i)), lit(v)).cast("string"))
    }
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), concat_ws(" ", wordCols: _*).as("text"),
        concat(lit("L"), pmod(xxhash64(col("id"), lit(99)), lit(30))
          .cast("string")).as("lang"))

    time("decontaminate") {
      val bench = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      val corpus = docs.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
      Decontaminate.overlapReport(corpus, bench, "doc_id", "text", n = 5)
    }
    time("repetition_signals") {
      TextAnalysis.repetitionSignals(docs, "doc_id", "text")
    }
    time("stratified_sample") {
      Sampling.stratifiedSample(docs, "lang", "doc_id", k = 1000)
    }
    time("sequence_pack") {
      // full n rows through the packer: token counts are the input, the
      // probe measures the bucketed mapPartitions scan itself
      val toks = spark.range(n).select(col("id"),
        (pmod(xxhash64(col("id"), lit(5)), lit(400)) + 1).as("toks"))
      SequencePack.packGreedy(toks, "id", "toks", capacity = 2048L,
        nBuckets = 64)
    }
    time("term_relevance") {
      TermRelevance.bm25(docs, "doc_id", "text", Seq("w0", "w3", "w17"))
    }
    time("pii_scrub") {
      PiiScrub.scrub(docs, "doc_id", "text")
    }
    time("readability_cli") {
      // per-doc Coleman–Liau (q323) — q218's per-source FK card keeps
      // the probe name "readability"
      TextAnalysis.readability(docs, "doc_id", "text")
    }

    // ---- round-7 operators: sketches, layout, joins, export
    // A DIVERSE corpus for the pairwise dedup probes: `docs` above is
    // deliberately overlap-heavy (6-word vocab in half the positions),
    // which makes the TRUE near-dup pair set quadratically dense — a
    // probe there measures output volume, not operator shape. Here each
    // doc draws all 12 words from a 10k vocab (random pairs share
    // nothing) and every 50th doc is an exact duplicate of a base doc —
    // n/100 planted pairs, the realistic few-percent-dups regime.
    val diverseWordCols = (0 until 12).map { i =>
      concat(lit("v"),
        pmod(xxhash64(col("base_id"), lit(100 + i)), lit(10000)).cast("string"))
    }
    val diverseDocs = spark.range(nDocs)
      .withColumn("base_id",
        when(pmod(col("id"), lit(50)) === 49, col("id") - 49)
          .otherwise(col("id")))
      .select(col("id").as("doc_id"), concat_ws(" ", diverseWordCols: _*).as("text"))
    time("minhash_lsh") {
      graft.operators.Dedup.minhashLSH(diverseDocs, "doc_id", "text", n = 3)
    }
    time("winnowing_overlap") {
      TextAnalysis.fingerprintOverlapPairs(diverseDocs, "doc_id", "text",
        k = 8, w = 4, maxDocFreq = 5L, minShared = 2L)
    }
    time("frequent_tokens_mg") {
      graft.operators.FrequentItems.frequentTokens(docs, "text", k = 64)
    }
    time("vocab_top1000") {
      graft.operators.VocabBuild.topTokens(docs, "doc_id", "text",
        topK = 1000)
    }
    time("cms_sketch_and_probe") {
      import graft.expressions.CountMinSketchAgg.{cms_estimate, cms_sketch}
      val items = spark.range(n).select(
        concat(lit("g"), pmod(xxhash64(col("id"), lit(7)), lit(8)).cast("string")).as("grp"),
        pmod(xxhash64(col("id"), lit(8)), lit(100000)).cast("string").as("it"))
      val sk = items.groupBy(col("grp"))
        .agg(cms_sketch(col("it"), 4, 2048).as("sk"))
      items.dropDuplicates("grp", "it").join(broadcast(sk), "grp")
        .select(col("grp"), col("it"),
          cms_estimate(col("sk"), col("it"), 4, 2048).as("est"))
    }
    time("shard_export_1024") {
      graft.operators.ShardExport.assign(
        spark.range(n).select(col("id").as("doc_id")), "doc_id",
        numShards = 1024)
    }
    time("zorder_layout") {
      val pts = spark.range(n).select(col("id"),
        (pmod(xxhash64(col("id"), lit(11)), lit(1000000)) / 100.0).as("x"),
        (pmod(xxhash64(col("id"), lit(12)), lit(1000000)) / 100.0).as("y"))
      graft.operators.ZOrderLayout.layout(pts, "x", "y", bits = 8,
        nFiles = 64)
    }
    time("repeated_substrings") {
      graft.operators.SubstringDedup.coverageReport(diverseDocs,
        "doc_id", "text", minLen = 20)
    }
    time("incremental_neardup") {
      // standing corpus = 90% of docs (index build included in the
      // probe), batch = 10%; planted dups land on both sides
      val standing = diverseDocs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = diverseDocs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val index = graft.operators.Dedup.buildMinHashIndex(
        standing, "doc_id", "text", n = 3)
      graft.operators.Dedup.incrementalNearDup(index, batch,
        "doc_id", "text", threshold = 0.5)
    }
    time("winsorize") {
      graft.operators.Winsorize.clipToQuantiles(
        df.select(col("id"), col("seg"), col("m2")),
        Seq("seg"), expr("cast(round(m2 * 10, 0) as bigint)"),
        scale = 10L, pLow = 0.05, pHigh = 0.95)
    }
    time("winsorize_scalable") {
      // range-partitioned rank path: the group sort spans many tasks
      // instead of one task per group (3 segs at n rows each here)
      graft.operators.Winsorize.clipToQuantiles(
        df.select(col("id"), col("seg"), col("m2")),
        Seq("seg"), expr("cast(round(m2 * 10, 0) as bigint)"),
        scale = 10L, pLow = 0.05, pHigh = 0.95, scalable = true)
    }
    time("robust_zscore") {
      graft.operators.RobustScore.madZScore(
        df.select(col("id"), col("seg"), col("m2")),
        Seq("seg"), expr("cast(round(m2 * 10, 0) as bigint)"))
    }
    time("robust_zscore_scalable") {
      graft.operators.RobustScore.madZScore(
        df.select(col("id"), col("seg"), col("m2")),
        Seq("seg"), expr("cast(round(m2 * 10, 0) as bigint)"),
        scalable = true)
    }
    time("group_correlation") {
      graft.operators.GroupStats.pearson(
        df.select(col("seg"), col("m1"), col("m2")), Seq("seg"),
        expr("round(m1 * 100, 0)"), expr("round(m2 * 10, 0)"))
    }

    // ---- round-9 operators: allocation, mixture cut, batched retrieval
    // full n rows across 200 sources (the realistic domain cardinality;
    // the windows in largestRemainder run on 200 grouped rows)
    val sourced = spark.range(n).select(col("id"),
      concat(lit("d"), pmod(xxhash64(col("id"), lit(41)), lit(200))
        .cast("string")).as("source"),
      (pmod(xxhash64(col("id"), lit(42)), lit(400)) + 1).as("toks"),
      pmod(xxhash64(col("id"), lit(43)), lit(10000)).as("q_e4"))
    time("budget_apportion") {
      graft.operators.Apportion.largestRemainder(
        sourced, "source", "toks", budget = n)
    }
    time("mixture_select") {
      // per-source quality-ordered cut at half the corpus volume:
      // group-partitioned window sort, broadcast alloc join
      graft.operators.Apportion.selectToAllocation(sourced, "source",
        "toks", Seq(col("q_e4").desc, col("id").asc), budget = n * 100)
    }
    time("ann_batch_topk") {
      // n/20 vectors x 16 dims, 8 broadcast queries, two-phase top-k:
      // the second phase sorts |Q|*k*P candidates, not the corpus
      val vecs = spark.range(math.max(n / 20, 10000L)).select(
        col("id").as("vec_id"),
        array((0 until 16).map(d =>
          (pmod(xxhash64(col("id"), lit(200 + d)), lit(2000))
            .cast("double") / 1000.0 - 1.0).cast("float")): _*)
          .as("embedding"))
      graft.operators.SimilaritySearch.bruteForceTopKBatch(
        vecs, "vec_id", "embedding", queryIds = (0L until 8L), k = 10)
    }
    time("data_card") {
      graft.operators.DataCard.perSource(
        docs.withColumn("source",
          concat(lit("d"), pmod(xxhash64(col("doc_id"), lit(44)), lit(200))
            .cast("string"))),
        "doc_id", "text", "source", "lang")
    }
    time("gopher_rules") {
      TextAnalysis.gopherRules(docs, "doc_id", "text")
    }
    time("bigram_likelihood") {
      // n/10 docs; bigram/prefix count tables bounded by observed
      // vocabulary, one broadcast scalar, gram stream persisted once
      graft.operators.NgramLm.bigramLikelihood(docs, "doc_id", "text")
    }
    // --- streaming state-store throughput: events through a real
    // MemoryStream in 8 micro-batches, noop sink (no driver
    // accumulation). Bounded at 2M events — the feed array is
    // driver-side, which is the harness's cost, not the operator's;
    // per-user/group state is what's being scaled.
    locally {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.Streams
      import spark.implicits._
      val m = math.min(n, 2000000L).toInt
      def streamProbe(name: String)(run: Int => Unit): Unit = {
        if (!only.forall(_.contains(name))) return
        val t0 = System.nanoTime()
        run(m)
        emit(f"""{"probe":"$name","rows":$m,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      streamProbe("streaming_sessions") { mm =>
        // 50k concurrent user sessions in the state store
        val evs = (0 until mm).map { i =>
          Streams.SessionEvent((i % 50000).toLong,
            (i / 50000).toLong * 600L + (i % 7) * 17L, 1.0)
        }
        val input = MemoryStream[Streams.SessionEvent]
        val q = Streams.statefulSessions(input.toDS(), gapSec = 1800L)
          .writeStream.format("noop").outputMode("append").start()
        try evs.grouped(mm / 8 + 1).foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
      }
      streamProbe("streaming_heavy_hitters") { mm =>
        // 8 groups × k=64 counters of state; 100k distinct items
        val evs = (0 until mm).map { i =>
          Streams.ItemEvent(s"g${i % 8}",
            ((i.toLong * 2654435761L) % 100000L).toString)
        }
        val input = MemoryStream[Streams.ItemEvent]
        val q = Streams.streamingHeavyHitters(input.toDS(), k = 64)
          .writeStream.format("noop").outputMode("update").start()
        try evs.grouped(mm / 8 + 1).foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
      }
    }

    time("interval_join") {
      // n points against n/100 intervals over a shared key domain;
      // interval spans average 5 buckets at width 1000
      val pts = spark.range(n).select(col("id").as("p_id"),
        pmod(xxhash64(col("id"), lit(21)), lit(1000)).as("k"),
        pmod(xxhash64(col("id"), lit(22)), lit(10000000)).as("ts"))
      val ivs = spark.range(n / 100).select(col("id").as("iv_id"),
        pmod(xxhash64(col("id"), lit(23)), lit(1000)).as("k"),
        pmod(xxhash64(col("id"), lit(24)), lit(10000000)).as("s"))
        .withColumn("e", col("s") +
          pmod(xxhash64(col("iv_id"), lit(25)), lit(5000)))
      graft.operators.IntervalJoin.pointInInterval(pts, ivs,
        "ts", "s", "e", keys = Seq("k"), bucketWidth = 1000L)
    }

    // ---- round-10 operators
    time("fuzzy_join") {
      // n/10 names over a 2,000-value block key (~nDocs/2000 rows per
      // block → ~nDocs·nDocs/4000 candidate pairs, the shape knob);
      // every 50th name is a planted 1-edit variant of its block mate
      val names = spark.range(nDocs).select(col("id").as("k"),
        concat(lit("blk"),
          pmod(xxhash64(col("id"), lit(30)), lit(2000)).cast("string"),
          lit(" item"),
          pmod(xxhash64(col("id"), lit(31)), lit(40)).cast("string"),
          when(pmod(col("id"), lit(50)) === 49, lit("x")).otherwise(lit("")))
          .as("nm"))
      graft.operators.FuzzyJoin.byEditDistance(names, "k", "nm",
        maxDist = 2, minDist = 1)
    }
    time("containment_pairs") {
      // diverse corpus + planted exact dups (containment 1.0): the
      // probe measures the inverted-index pair reduction, not output
      graft.operators.Dedup.containmentPairs(diverseDocs, "doc_id",
        "text", n = 3, thrNum = 6, thrDen = 10)
    }
    time("burst_hours") {
      // n events into 8 types × 2 years of hours; counts vary by hash
      // so the trailing-mean filter has real selectivity
      val evs = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(32)), lit(8))
          .cast("string")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(33)), lit(17520)) * 3600000000000L)
          .as("ts"))
      graft.operators.EventAnalytics.burstHours(evs, "event_type", "ts",
        trailingHours = 24, minTrailing = 12, multNum = 2, multDen = 1)
    }
    time("rolling_active") {
      // 100k users × 365 days; explode-to-contributing-days path
      val evs = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(34)), lit(100000)).as("user_id"),
        (pmod(xxhash64(col("id"), lit(35)), lit(365)) * 86400000000000L)
          .as("ts"))
      graft.operators.EventAnalytics.rollingActiveUsers(evs, "user_id",
        "ts", windowDays = 7)
    }
    // 64-dim hash-derived vector fixture shared by the similarity probes
    val dim = 64
    val vecCols = (0 until dim).map(i =>
      ((pmod(xxhash64(col("id"), lit(200 + i)), lit(2000)) -
        lit(1000)).cast("double") / 1000.0).cast("float"))
    val labeledVecs = spark.range(nDocs).select(col("id").as("vec_id"),
      array(vecCols: _*).as("embedding"),
      pmod(xxhash64(col("id"), lit(36)), lit(100)).cast("int").as("label"))
    time("centroid_shift") {
      // n/10 64-dim vectors, 100 labels, parity halves: the explode
      // is rows x dims, everything after is (label, half, dim) sums
      graft.operators.Prototypes.centroidShift(labeledVecs, "vec_id",
        "embedding", "label", pmod(col("vec_id"), lit(2)) === 1)
    }
    time("hard_negatives_batch") {
      // n/10 64-dim vectors, 100 labels, 5 anchors: one corpus scan,
      // two-phase top-k — the probe scales the scan, not the anchors
      graft.operators.SimilaritySearch.hardNegativesBatch(labeledVecs,
        "vec_id", "embedding", "label", queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10)
    }

    // ---- round-10 operators not previously probed
    val sourcedDocs = docs.withColumn("source",
      concat(lit("d"), pmod(xxhash64(col("doc_id"), lit(44)), lit(200))
        .cast("string")))
    time("source_overlap") {
      graft.operators.DataCard.sourceOverlap(sourcedDocs,
        "doc_id", "text", "source")
    }
    time("dedup_impact") {
      graft.operators.DataCard.dedupImpact(sourcedDocs,
        "doc_id", "text", "source")
    }
    time("percentile_band") {
      graft.operators.Sampling.percentileBand(
        sourced.select(col("id"), col("source"), col("q_e4")),
        "source", "q_e4", "id", loPct = 10, hiPct = 90)
    }
    time("source_cap") {
      graft.operators.Sampling.capPerGroup(
        sourced.select(col("id"), col("source"), col("toks")),
        "source", "toks", "id", cap = 1000)
    }
    // label_noise_pairs_lsh moved below the staged-surface builds
    // (r16 verdict #3): it now consumes the staged verified-pair
    // store instead of re-running candidate generation + verify.

    // ---- round-11 operators
    time("line_dedup") {
      graft.operators.LineDedup.trimReport(docs, "doc_id", "text",
        lineWords = 4, maxDocFreq = 1L)
    }
    time("jaccard_prefix_join") {
      graft.operators.Dedup.prefixFilteredJaccard(diverseDocs,
        "doc_id", "text", n = 3, thrNum = 1L, thrDen = 2L)
    }
    time("ann_quantized") {
      graft.operators.SimilaritySearch.quantizedTopK(labeledVecs,
        "vec_id", "embedding", queryId = 0L, k = 10)
    }
    time("ann_pq_refined") {
      graft.operators.SimilaritySearch.pqTopKRefined(labeledVecs,
        "vec_id", "embedding", queryId = 0L, k = 10,
        m = 16, nCodes = 64, shortlist = 100)
    }
    time("ngram_novelty") {
      graft.operators.TextAnalysis.ngramNovelty(docs, "doc_id", "text",
        n = 3)
    }

    // ---- pairwise-shape metrics (the round-11 "stays sub-quadratic"
    // evidence): candidate volumes and block-size distribution, with
    // explicit bound checks against the all-pairs count nDocs²/2
    // Each probe's emit is gated on its OWN name (r13 ADVICE: the
    // shared forall let a partial run requesting one name emit both,
    // duplicating the other's line in a hand-appended artifact).
    val allPairs = nDocs * (nDocs - 1) / 2
    if (only.forall(_.contains("containment_candidates"))) {
      // containment/jaccard candidate volume on the DIVERSE corpus =
      // Σ df·(df−1)/2 over shingles — what the posting self-join emits
      val ss = graft.operators.Dedup.shingleStats(diverseDocs,
        "doc_id", "text", n = 3).collect()(0)
      val cand = ss.getLong(2)
      emit(s"""{"probe":"containment_candidates","rows":$nDocs,""" +
        s""""n_shingles":${ss.getLong(0)},"max_df":${ss.getLong(1)},""" +
        s""""candidate_pairs":$cand,"all_pairs":$allPairs,""" +
        s""""sub_quadratic":${cand * 100 < allPairs}}""")
    }
    if (only.forall(_.contains("fuzzy_join_blocks"))) {
      // fuzzy-join block-size distribution on the names fixture: the
      // pair expansion is Σ nb² — bounded by max_block · rows
      val names = spark.range(nDocs).select(col("id").as("k"),
        concat(lit("blk"),
          pmod(xxhash64(col("id"), lit(30)), lit(2000)).cast("string"),
          lit(" item"),
          pmod(xxhash64(col("id"), lit(31)), lit(40)).cast("string"))
          .as("nm"))
      val bs = names
        .select(graft.operators.FuzzyJoin.firstTokenBlock(col("nm")).as("blk"))
        .groupBy(col("blk")).agg(count(lit(1)).as("bn"))
        .agg(count(lit(1)).as("n_blocks"), max(col("bn")).as("max_block"),
          sum(expr("bn * bn")).as("pair_cells"))
        .collect()(0)
      emit(s"""{"probe":"fuzzy_join_blocks","rows":$nDocs,""" +
        s""""n_blocks":${bs.getLong(0)},"max_block":${bs.getLong(1)},""" +
        s""""pair_cells":${bs.getLong(2)},"all_pairs":$allPairs,""" +
        s""""sub_quadratic":${bs.getLong(2) / 2 * 100 < allPairs}}""")
    }

    // ---- round-11c probes: the new rank/prefix-sum and per-group
    // operators at the same 2M-row skewed volume
    time("scd2_history") {
      graft.operators.SnapshotDiff.scd2History(
        df.select(pmod(col("id"), lit(n / 50)).as("k"),
          col("id").as("ts"), col("id").as("eid"), col("seg").as("v")),
        "k", "ts", "v", "eid")
    }
    time("quantile_normalize") {
      graft.operators.QuantileNormalize.quantileNormalize(
        df.select(col("id"), col("seg"),
          (col("m2") * 10).cast("long").as("v")),
        "seg", col("v"), Seq("id"))
    }
    time("systematic_weighted_sample") {
      Sampling.systematicWeighted(
        df.select(col("id"), pmod(xxhash64(col("id"), lit(40)), lit(100))
          .as("w")),
        "id", "w", n = 10000)
    }
    time("cooccurrence_baskets") {
      graft.operators.CoOccurrence.basketPairs(
        df.select(pmod(col("id"), lit(n / 5)).as("b"), col("nat").as("i")),
        "b", "i", minSupport = 2L)
    }
    time("basket_triples") {
      graft.operators.CoOccurrence.basketTriples(
        df.select(pmod(col("id"), lit(n / 5)).as("b"), col("nat").as("i")),
        "b", "i", minSupport = 2L)
    }
    time("transition_matrix") {
      graft.operators.EventAnalytics.transitionMatrix(
        df.select(pmod(col("id"), lit(n / 100)).as("u"),
          col("id").as("ts"), col("id").as("eid"), col("seg")),
        "u", "ts", "seg", "eid")
    }
    time("weighted_median") {
      graft.operators.GroupStats.weightedMedian(
        df.select(col("seg"), (col("m2") * 10).cast("long").as("v"),
          (pmod(xxhash64(col("id"), lit(41)), lit(50)) + 1).as("w")),
        Seq("seg"), col("v"), col("w"))
    }

    // ---- round-12 probes: the two graph composites AS COMPOSED IN
    // THE GATE (q117/q161) after their move off the exact O(n²)
    // kernel — candidates from banded-hyperplane LSH. bitsPerBand is
    // the corpus-size knob (gate uses r=12 for a dense graph over
    // 500-2,000 vectors; at nDocs = n/10 = 200k, r=16 keeps buckets
    // near-singleton: expected candidates ≈ b·n²/2^(r+1) — r grows
    // with log₂(n), never a code change).
    if (only.forall(_.contains("lsh_neardup_candidates"))) {
      val allVecPairs = nDocs * (nDocs - 1) / 2
      val bandKeys = graft.expressions.HyperplaneBandKeys(
        col("embedding"), 512, 96, 16)
      val buckets = labeledVecs
        .select(explode(bandKeys).as("pkey"))
        .groupBy(col("pkey")).agg(count(lit(1)).as("s"))
        .agg(count(lit(1)).as("n_buckets"), max(col("s")).as("max_bucket"),
          sum(expr("s * (s - 1) div 2")).as("cand_pairs"))
        .collect()(0)
      emit(s"""{"probe":"lsh_neardup_candidates","rows":$nDocs,""" +
        s""""n_buckets":${buckets.getLong(0)},""" +
        s""""max_bucket":${buckets.getLong(1)},""" +
        s""""candidate_pairs":${buckets.getLong(2)},""" +
        s""""all_pairs":$allVecPairs,""" +
        s""""sub_quadratic":${buckets.getLong(2) * 100 < allVecPairs}}""")
    }
    // r16 (r15 verdict #1) + r17 (r16 verdict #3): the probes mirror
    // production's THREE staging layers — band keys signed once
    // (stagedBandKeys), the verified PAIR surface built once from
    // those keys (stagedParquet at the graph-feeding 0.3 floor; every
    // higher-threshold consumer filters the stored cosine), and the
    // component-label map built once — and every composite consumer
    // reads the staged stores, so its probe measures ONLY its own
    // cost. The build costs are probes of their own, sampled twice
    // into separate store dirs so both samples are REAL builds (a
    // second touch of the same store would measure a parquet read);
    // connected_components above stays the from-scratch gate of the
    // propagation kernel.
    val probeStage = java.nio.file.Files
      .createTempDirectory("graft-probe-stage").toString
    def probeVecKeys(sfx: String = "") = graft.operators.SimilaritySearch
      .stagedBandKeys(labeledVecs, "vec_id", "embedding",
        s"$probeStage/embkeys$sfx", 512, 96, 16)
    timeRuns("staged_band_keys_build") { i =>
      probeVecKeys(if (i == 1) "" else s"-s$i")
    }
    def probePairs(sfx: String = "") = graft.Tables.stagedParquet(spark,
      s"$probeStage/pairs$sfx") {
      graft.operators.SimilaritySearch.embeddingNearDupFromKeys(
        probeVecKeys(), labeledVecs, "vec_id", "embedding",
        threshold = 0.3)
    }
    timeRuns("staged_pairs_build") { i =>
      probePairs(if (i == 1) "" else s"-s$i")
    }
    def probeComponents(sfx: String = "") = graft.Tables.stagedParquet(spark,
      s"$probeStage/comps$sfx") {
      graft.operators.Dedup.connectedComponents(
        graft.operators.SimilaritySearch.embeddingNearDupFromKeys(
          probeVecKeys(), labeledVecs, "vec_id", "embedding",
          threshold = 0.45).select(col("id_a"), col("id_b")),
        "id_a", "id_b")
    }
    timeRuns("staged_components_build") { i =>
      probeComponents(if (i == 1) "" else s"-s$i")
    }
    // incremental component maintenance (r16 verdict #2): a delta
    // batch of nDocs/100 pseudo-random pairs merged into the staged
    // label map — the nightly-refresh path, which must cost a small
    // fraction of staged_components_build's full rebuild
    time("component_map_delta_merge") {
      val delta = spark.range(nDocs / 100)
        .select(pmod(xxhash64(col("id"), lit(70)), lit(nDocs)).as("id_a"),
          pmod(xxhash64(col("id"), lit(71)), lit(nDocs)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      graft.operators.Dedup.mergeComponentMap(probeComponents(), delta,
        "id_a", "id_b")
    }
    time("label_noise_pairs_lsh") {
      // consumer cost only: filter the staged 0.3-floor pair store to
      // the realistic label-noise threshold 0.8, attach labels
      graft.operators.SimilaritySearch.crossLabelNearDupFromPairs(
        probePairs().filter(col("cosine") >= 0.8), labeledVecs,
        "vec_id", "label")
    }
    time("label_propagation_lsh") {
      val pairs = probePairs().select(col("id_a"), col("id_b"))
      val nodes = labeledVecs.select(col("vec_id"),
        when(pmod(col("vec_id"), lit(4)) === 0,
          col("label").cast("long")).as("label"))
      graft.operators.LabelProp.propagate(nodes, "vec_id", "label",
        pairs, "id_a", "id_b", iterations = 2)
    }
    time("cluster_weighted_sample_lsh") {
      val cc = probeComponents()
      val sizes = labeledVecs.select(col("vec_id"))
        .join(cc, col("vec_id") === col("node"), "left")
        .select(coalesce(col("component"), col("vec_id")).as("rep"))
        .groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
      Sampling.systematicWeighted(sizes, "rep", "cluster_size", n = 100)
    }
    // Batched BPE at corpus scale (r13): 2M docs collapse to one
    // word-frequency vocabulary, then 16 vocabulary passes adopting
    // up to 16 symbol-disjoint merges each — the probe demonstrates
    // passes ≪ merges holds when the corpus is 100x the gate tables
    time("bpe_batched_train") {
      graft.operators.BpeTrain.topMergesBatched(diverseDocs, "doc_id",
        "text", passes = 16, batchCap = 16, candN = 256)
    }
    // PPJoin filter pruning power (r12: length + positional filters
    // joined the prefix filter): candidate volume the exact verify
    // actually touches, against the all-pairs bound
    if (only.forall(_.contains("jaccard_prefix_candidates"))) {
      val allDocPairs = nDocs * (nDocs - 1) / 2
      val cand = graft.operators.Dedup.prefixJaccardCandidates(
        diverseDocs, "doc_id", "text", n = 3, thrNum = 1L, thrDen = 2L)
        .count()
      emit(s"""{"probe":"jaccard_prefix_candidates","rows":$nDocs,""" +
        s""""candidate_pairs":$cand,"all_pairs":$allDocPairs,""" +
        s""""sub_quadratic":${cand * 100 < allDocPairs}}""")
      spark.catalog.clearCache()
    }

    // r13 token-shuffle operators: each is one explode-to-(group,word)
    // shuffle plus bounded-frame re-aggregates — the probes pin that
    // none of them hides a per-doc or per-pair blowup at 100x gate
    // volume (TV matrix: |groups|^2 rows per word, groups = 30 langs)
    time("importance_score") {
      graft.operators.ImportanceScore.targetLikeness(docs, "doc_id",
        "text", col("lang") === "L0")
    }
    time("lexical_diversity") {
      graft.operators.LexicalDiversity.perSource(docs, "doc_id",
        "text", "lang", topK = 10)
    }
    time("lexical_tv_matrix") {
      graft.operators.Drift.lexicalTvMatrix(docs, "text", "lang")
    }

    // r13 late additions: eval / multimodal-dedup / ingest / text
    time("roc_auc") {
      // full n rows, ~10k distinct scores: the probe pins the
      // per-distinct-score tally + range-partitioned below-count path
      val scored = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(41)), lit(10000)).as("s"),
        (pmod(xxhash64(col("id"), lit(42)), lit(3)) === 0).as("y"))
      graft.operators.EvalMetrics.rocAuc(scored, "s", "y")
    }
    time("centroid_similarity") {
      // |labels|=100 -> 4,950 pair rows off one explode + dim join
      graft.operators.Prototypes.centroidSimilarity(labeledVecs,
        "embedding", "label")
    }
    time("url_canonical_dedup") {
      val u = graft.functions.UrlCanon
      spark.range(n).select(col("id"),
          u.canonicalUrl(u.synthUrl(col("id"))).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("id")).as("first_doc"))
    }
    time("readability") {
      graft.operators.TextAnalysis.readabilityBySource(docs, "text",
        "lang")
    }
    time("zipf_slope") {
      // r14: token shuffle to type counts + range-partitioned rank
      // over the type table + a per-lang OLS aggregate
      graft.operators.TextAnalysis.zipfSlope(docs, "text", "lang")
    }
    time("source_containment") {
      // r14: per-lang distinct 3-gram type table + inverted-index
      // self-join whose per-gram fan-out is bounded by the lang count
      graft.operators.Dedup.sourceContainment(diverseDocs
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "text", "lang", n = 3)
    }
    // the q216 pipeline probes SPLIT (an earlier fused probe taught
    // the lesson): (1) the PNG encode + ImageIO decode + dHash narrow
    // map, timed alone — its cost is per-image CPU, embarrassingly
    // parallel; (2) the multi-index banded-hamming join at FULL n
    // over entropy-realistic 64-bit fingerprints with planted
    // near-dup groups. The fused probe at 200k synthetic ≤16×14-px
    // images ground a single straggler for an hour — NOT an operator
    // flaw: 4-px-wide sources pin most resampled comparisons to
    // equal pixels, collapsing dHash entropy to a few bits, so both
    // the band buckets AND the true hamming≤3 pair set are
    // quadratically dense. Real photographs are not 4 pixels wide;
    // the generator was the degenerate part, and the probe below
    // keeps the decode cost measured without the synthetic
    // entropy collapse.
    if (only.forall(_.contains("image_dhash_decode"))) {
      val t0 = System.nanoTime()
      graft.operators.Multimodal.dhashFingerprints(
        graft.operators.Multimodal.synthVariantPngPayloads(
          spark.range(nDocs).select(col("id").as("doc_id")), "doc_id",
          groupSize = 4), "doc_id", "payload")
        .write.format("noop").mode("overwrite").save()
      emit(f"""{"probe":"image_dhash_decode","rows":$nDocs,""" +
        f""""sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      spark.catalog.clearCache()
    }
    time("y4m_frame_demux") {
      // r14: real Y4M demux at volume — n/10 videos x 4 frames of
      // 8x4 C420 (48 bytes each), payload synthesized from md5 hex
      // (ASCII, so cast to binary is byte-stable); per-frame
      // luma/chroma sums through the narrow demux map
      val hdr = "YUV4MPEG2 W8 H4 F25:1 C420\n"
      def frame(f: Int) = concat(lit("FRAME\n"),
        substring(concat(
          md5(concat(col("id").cast("string"), lit(s"-$f-a"))),
          md5(concat(col("id").cast("string"), lit(s"-$f-b")))), 1, 48))
      val vids = spark.range(n / 10).select(col("id").as("doc_id"),
        concat(lit(hdr), frame(0), frame(1), frame(2), frame(3))
          .cast("binary").as("payload"))
      graft.operators.Multimodal.y4mFrameStats(vids, "doc_id", "payload")
    }
    time("y4m_scene_cuts") {
      // same synthetic videos, demux + per-video lag window
      val hdr = "YUV4MPEG2 W8 H4 F25:1 C420\n"
      def frame(f: Int) = concat(lit("FRAME\n"),
        substring(concat(
          md5(concat(col("id").cast("string"), lit(s"-$f-a"))),
          md5(concat(col("id").cast("string"), lit(s"-$f-b")))), 1, 48))
      val vids = spark.range(n / 10).select(col("id").as("doc_id"),
        concat(lit(hdr), frame(0), frame(1), frame(2), frame(3))
          .cast("binary").as("payload"))
      graft.operators.Multimodal.sceneChanges(vids, "doc_id", "payload",
        thrNum = 1L, thrDen = 20L)
    }
    if (only.forall(_.contains("dhash_banded_join"))) {
      // groups of 4 share a random 64-bit base fp; variants flip one
      // or two distinct planted bits (pairwise hamming <= 2), the
      // rest of keyspace is uniform — n/4 * 6 guaranteed pairs
      val t0 = System.nanoTime()
      val grp = call_function("div", col("id"), lit(4L))
      val base = xxhash64(grp, lit(77))
      val b1 = pmod(xxhash64(grp, lit(78)), lit(64))
      val b2 = pmod(b1 + lit(1L) + pmod(xxhash64(grp, lit(79)),
        lit(63)), lit(64))
      val v = pmod(col("id"), lit(4))
      val f1 = call_function("shiftleft", lit(1L), b1.cast("int"))
      val f2 = call_function("shiftleft", lit(1L), b2.cast("int"))
      val fp = base
        .bitwiseXOR(when(v === 1 || v === 3, f1).otherwise(lit(0L)))
        .bitwiseXOR(when(v === 2 || v === 3, f2).otherwise(lit(0L)))
      val fps = spark.range(n).select(col("id").as("doc"), fp.as("fp"))
      val pairs = graft.operators.Dedup.simhashFromFingerprints(
        fps, bands = 4, maxHamming = 3).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val allPairs = BigInt(n) * BigInt(n - 1) / 2
      emit(f"""{"probe":"dhash_banded_join","rows":$n,""" +
        f""""sec":$sec%.2f,"pairs":$pairs,"planted":${n / 4 * 6},""" +
        s""""all_pairs":$allPairs,""" +
        s""""sub_quadratic":${BigInt(pairs) * 100 < allPairs}}""")
      spark.catalog.clearCache()
    }

    // ---- r13 batch-2 additions: span dedup, lift table, k-means
    time("dup_span_coverage") {
      // n/10 docs × 12 words; the 6-word head vocab makes 8-grams
      // genuinely dense — the probe stresses the gram-key shuffle,
      // the count join, and the per-doc interval sweep together
      graft.operators.Dedup.dupSpanCoverage(docs, "doc_id", "text",
        k = 8)
    }
    time("lift_table") {
      // full n rows, ~10k distinct scores: the range-partitioned
      // global rank is the cost; buckets/cum windows are 10 rows
      val scored = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id"), lit(51)), lit(10000)).as("s"),
        (pmod(xxhash64(col("id"), lit(52)), lit(4)) === 0).as("y"))
      graft.operators.EvalMetrics.liftTable(scored, "id", "s", "y")
    }
    time("span_removal") {
      // the transform twin of dup_span_coverage: adds the keeper
      // aggregate and the per-doc reconstruction collect_list
      graft.operators.Dedup.removeDupSpans(docs, "doc_id", "text",
        k = 8)
    }
    time("span_decontaminate") {
      // ~10% bench split; the semi join's build side is the distinct
      // bench gram set — small next to the corpus gram stream
      val bench = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      val corpus = docs.join(bench.select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      graft.operators.Dedup.scrubBenchSpans(corpus, bench, "doc_id",
        "text", k = 5)
    }
    time("asof_nearest") {
      // n left rows vs n/10 right rows over 50k keys: the single
      // union+window shuffle that prices BOTH directional carries
      val l = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id"), lit(61)), lit(50000)).as("k"),
        pmod(xxhash64(col("id"), lit(62)), lit(1000000000L)).as("ts"))
      val r = spark.range(n / 10).select(
        pmod(xxhash64(col("id"), lit(63)), lit(50000)).as("k"),
        pmod(xxhash64(col("id"), lit(64)), lit(1000000000L)).as("ts"),
        col("id").as("rid"))
      graft.operators.AsOfJoin.leftAsOfNearest(l, r, Seq("k"), "ts",
        "ts", Seq("rid"))
    }
    time("range_overlap") {
      // n self-paired ranges (width <= 32 over a 1e6 span, 2000
      // keys): sparse overlaps, bucket width = max range width
      val a = spark.range(n).select(col("id").as("id_a"),
        pmod(xxhash64(col("id"), lit(65)), lit(2000)).as("k"),
        pmod(xxhash64(col("id"), lit(66)), lit(1000000L)).as("sa"))
        .withColumn("ea",
          col("sa") + pmod(xxhash64(col("id_a"), lit(67)), lit(32)))
      val b = a.select(col("id_a").as("id_b"), col("k"),
        col("sa").as("sb"), col("ea").as("eb"))
      graft.operators.IntervalJoin.rangeOverlap(a, b, "sa", "ea",
          "sb", "eb", keys = Seq("k"), bucketWidth = 32L)
        .filter(col("id_a") < col("id_b"))
    }
    time("spearman") {
      // full n rows, skewed groups, ~100k distinct values per side:
      // the two runningTotal prefix passes dominate
      graft.operators.GroupStats.spearman(
        df.filter(col("m1").isNotNull),
        Seq("seg"), (col("m1") * 100).cast("long"),
        (col("m2") * 10).cast("long"))
    }
    time("hits_bipartite") {
      // 2M-edge bipartite graph, 100k hubs × 10k authorities with a
      // hash-skewed degree distribution: six half-step joins + six
      // 1-row normalizers
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(71)), lit(100000)).as("s"),
        (pmod(xxhash64(col("id"), lit(72)),
          pmod(xxhash64(col("id"), lit(73)), lit(10000)) + 1))
          .as("d"))
      graft.operators.GraphRank.hits(edges, "s", "d", iterations = 3)
    }
    // r14: the two graph probes the r13 verdict flagged as the only
    // headline family without 2M scale evidence (q108 is the suite's
    // slowest query). Same fixed-iteration localCheckpoint loop shapes
    // as the gates; edge volume n, node domains sized so degree skew
    // is real.
    time("pagerank") {
      // 2M edges, 100k sources, hash-skewed destination domain (dst
      // domains of 1..50k per edge draw → heavy head): 5 iterations,
      // each one join + one groupBy(dst) aggregate
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(81)), lit(100000)).as("s"),
        pmod(xxhash64(col("id"), lit(82)),
          pmod(xxhash64(col("id"), lit(83)), lit(50000)) + 1).as("d"))
      graft.operators.GraphRank.pageRank(edges, "s", "d", iterations = 5)
    }
    time("katz_centrality") {
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(81)), lit(100000)).as("s"),
        pmod(xxhash64(col("id"), lit(82)),
          pmod(xxhash64(col("id"), lit(83)), lit(50000)) + 1).as("d"))
      graft.operators.GraphRank.katzCentrality(edges, "s", "d",
        iterations = 3)
    }
    time("partition_modularity") {
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(84)), lit(100000)).as("a"),
        pmod(xxhash64(col("id"), lit(85)), lit(100000)).as("b"))
      val mem = spark.range(100000).select(col("id").as("node"),
        pmod(col("id"), lit(50)).as("lab"))
      graft.operators.GraphRank.partitionModularity(edges, "a", "b",
        mem, "node", "lab")
    }
    time("local_clustering") {
      // 500k nodes, ~8 avg degree -> ~16M wedges, the honest
      // uncapped cost; the hub cap is spec-covered
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(86)), lit(500000)).as("a"),
        pmod(xxhash64(col("id"), lit(87)), lit(500000)).as("b"))
      graft.operators.GraphRank.localClustering(edges, "a", "b")
    }
    time("textrank") {
      val docs = spark.range(n / 8).select(col("id").as("doc"),
        concat_ws(" ", (0 until 8).map(i => concat(lit("w"),
          pmod(xxhash64(col("id"), lit(130 + i)), lit(5000))
            .cast("string"))): _*).as("text"))
      graft.operators.TextAnalysis.textRank(docs, "doc", "text",
        iterations = 5, topK = 20)
    }
    time("brier_decomposition") {
      val sc = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(140)), lit(1000001)).as("p"),
        (pmod(xxhash64(col("id"), lit(141)), lit(100)) < 50).as("y"))
      graft.operators.EvalMetrics.brierDecomposition(sc, "p", "y")
    }
    time("oversample_balanced") {
      // near-uniform 1000 labels: fan-out stays ~n (the probe times
      // the ranking + explode machinery, not a pathological target)
      val df2 = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id"), lit(142)), lit(1000)).as("lab"))
      graft.operators.Sampling.oversampleBalanced(df2, "id", "lab")
    }
    time("generalization_ladder") {
      val df2 = spark.range(n).select(
        concat(lit("c"), pmod(xxhash64(col("id"), lit(143)), lit(5))
          .cast("string")).as("cat"),
        (pmod(xxhash64(col("id"), lit(144)), lit(2000000)) -
          1000000L).as("v"))
      graft.operators.PrivacyAudit.generalizationLadder(df2, "cat",
        col("v"), widths = Seq(1000L, 10000L, 100000L, 1000000L),
        k = 10L)
    }
    time("ivm_join_agg") {
      val fact = spark.range(n).select(col("id").as("k__"),
        pmod(xxhash64(col("id"), lit(145)), lit(100000)).as("ck"),
        pmod(xxhash64(col("id"), lit(146)), lit(1000000)).as("v"))
      val dim = spark.range(100000).select(col("id").as("ck"),
        pmod(col("id"), lit(25)).as("nat"))
      def joined(f: org.apache.spark.sql.DataFrame) =
        f.join(broadcast(dim), "ck")
      val base = graft.operators.AggMaintenance.aggState(
        joined(fact.filter(pmod(col("k__"), lit(5)) =!= 0)),
        Seq("nat"), col("v"))
      val delta = graft.operators.AggMaintenance.aggState(
        joined(fact.filter(pmod(col("k__"), lit(5)) === 0)),
        Seq("nat"), col("v"))
      graft.operators.AggMaintenance.mergeStates(base, delta,
        Seq("nat"))
    }
    time("triangle_stats") {
      // half the edges are 5-cliques over consecutive ids (n/20 groups
      // × 10 edges → 10 real triangles each), half hash-random pairs
      // over n/10 nodes, plus a 20k-degree hub node — the shape the
      // compact-forward orientation exists for: the hub's wedge set
      // must stay O(√m), not hub-degree²
      val nn = n / 10
      val cliquePairs = Seq((0, 1), (0, 2), (0, 3), (0, 4), (1, 2),
        (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
      val cliques = spark.range(n / 20)
        .select(col("id").as("g"), explode(array(cliquePairs.map {
          case (i, j) => struct(lit(i).as("i"), lit(j).as("j"))
        }: _*)).as("p"))
        .select((col("g") * 5 + col("p.i")).as("a"),
          (col("g") * 5 + col("p.j")).as("b"))
      val rand = spark.range(n * 2 / 5).select(
        pmod(xxhash64(col("id"), lit(84)), lit(nn)).as("a"),
        pmod(xxhash64(col("id"), lit(85)), lit(nn)).as("b"))
      val hub = spark.range(n / 10).select(lit(nn + 1).as("a"),
        pmod(xxhash64(col("id"), lit(86)), lit(nn)).as("b"))
      graft.operators.GraphRank.triangleStats(
        cliques.union(rand).union(hub), "a", "b")
    }
    time("kcenter_coreset") {
      // k=5 over n/10 64-dim vectors: four linear passes with a <= k
      // broadcast selected set
      graft.operators.Prototypes.kCenterGreedy(labeledVecs, "vec_id",
        "embedding", k = 5)
    }
    time("kmeans_lloyd") {
      // n/10 64-dim vectors, k=8, 3 iterations + final assign: four
      // broadcast-join assign passes over the 64×nDocs unit stream
      graft.operators.Prototypes.kmeansLloyd(labeledVecs, "vec_id",
        "embedding", k = 8, iterations = 3)
    }
    time("pc_projection") {
      // r14: 3 power steps (broadcast-dims join + two aggregates per
      // step) + the projection pass over n/10 64-dim vectors
      graft.operators.Spectral.pcProjection(labeledVecs, "vec_id",
        "embedding", iterations = 3)
    }
    time("simplified_silhouette") {
      // r14: Lloyd's passes + one more broadcast distance pass and a
      // width-2 rank extraction — the linear cluster-quality card
      graft.operators.Prototypes.simplifiedSilhouette(labeledVecs,
        "vec_id", "embedding", k = 8, iterations = 3)
    }

    // ---- r15 probes: the round-15 operator family at 2M rows ----
    time("chi_square") {
      // 8 × 120 contingency over 2M rows: two aggregates + the
      // broadcast r×c grid (960 cells)
      graft.operators.GroupStats.chiSquare(
        df.select(col("seg"), col("nat")), "seg", "nat")
    }
    time("bfs_hops") {
      // the pagerank edge shape (100k sources, skewed dst domain),
      // 100 seeds, 3 relaxation rounds over the symmetrized list
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(81)), lit(100000)).as("s"),
        pmod(xxhash64(col("id"), lit(82)),
          pmod(xxhash64(col("id"), lit(83)), lit(50000)) + 1).as("d"))
      val seeds = spark.range(100).select((col("id") * 1000L).as("node"))
      graft.operators.GraphRank.bfsHops(edges, "s", "d", seeds,
        "node", maxHops = 3)
    }
    time("kcore") {
      // same edge shape, k=4, 4 peels: per round two alive joins +
      // one degree count, alive set shrinking monotonically
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(81)), lit(100000)).as("s"),
        pmod(xxhash64(col("id"), lit(82)),
          pmod(xxhash64(col("id"), lit(83)), lit(50000)) + 1).as("d"))
      graft.operators.GraphRank.kCore(edges, "s", "d", k = 4, rounds = 4)
    }
    time("assortativity") {
      // n hash pairs over n/10 nodes + a 20k-degree hub: degree join
      // + the double-cover 5-sum reduce
      val nn = n / 10
      val rand = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(84)), lit(nn)).as("a"),
        pmod(xxhash64(col("id"), lit(85)), lit(nn)).as("b"))
      val hub = spark.range(n / 100).select(lit(nn + 1).as("a"),
        pmod(xxhash64(col("id"), lit(86)), lit(nn)).as("b"))
      graft.operators.GraphRank.degreeAssortativity(
        rand.union(hub), "a", "b")
    }
    time("ordered_pairs") {
      // 2M events, 100k users × 20 types: the per-user type summary
      // (≤ 20 rows/user) bounds the self-join
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(91)), lit(100000)).as("u"),
        concat(lit("t"), pmod(xxhash64(col("id"), lit(92)), lit(20))
          .cast("string")).as("t"),
        pmod(xxhash64(col("id"), lit(93)), lit(1000000000L)).as("ts"))
      graft.operators.EventAnalytics.orderedPairSupport(ev, "u", "ts", "t")
    }
    time("assoc_rules") {
      // same basket shape: capped distinct (user, type) baskets, both
      // rule directions
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(91)), lit(100000)).as("u"),
        concat(lit("t"), pmod(xxhash64(col("id"), lit(92)), lit(20))
          .cast("string")).as("t"))
      graft.operators.CoOccurrence.associationRules(ev, "u", "t",
        minSupport = 2L, maxBasketSize = 64)
    }
    time("ks_group_vs_rest") {
      // 8 groups × ~100k distinct units: the grid is groups ×
      // distinct values (the documented allowance), cumulative
      // windows over the tally only
      graft.operators.Drift.ksGroupVsRest(
        df.filter(col("m1").isNotNull).select(col("seg"), col("m1")),
        "seg", (col("m1") * 100).cast("long"))
    }
    time("wasserstein_group_vs_rest") {
      // same grid allowance as ks_group_vs_rest; the extra lead()
      // rides the same per-group window sort
      graft.operators.Drift.wasserstein1GroupVsRest(
        df.filter(col("m1").isNotNull).select(col("seg"), col("m1")),
        "seg", (col("m1") * 100).cast("long"))
    }
    time("two_hop_reach") {
      // the link_prediction background graph with hub middles capped
      val e = spark.range(n / 4).select(
        pmod(xxhash64(col("id"), lit(101)), lit(n / 8)).as("a"),
        pmod(xxhash64(col("id"), lit(102)), lit(n / 8)).as("b"))
      graft.operators.GraphRank.twoHopReach(e, "a", "b",
        maxCenterDegree = 64)
    }
    time("streaks") {
      // 2M events, 100k users over a 60-day horizon: per-user
      // distinct-day partitions bounded by the calendar
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(94)), lit(100000)).as("u"),
        (pmod(xxhash64(col("id"), lit(95)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.activityStreaks(ev, "u", "ts")
    }
    time("int8_card") {
      // n/10 64-dim vectors: two per-dim aggregates + a broadcast
      // bounds join
      graft.operators.Spectral.quantizeInt8Card(labeledVecs,
        "vec_id", "embedding")
    }
    time("oov_rate") {
      // n/10 docs × 12 words, 30 'sources': one (source, word)
      // aggregate, distributed top-1000, broadcast vocab join
      graft.operators.VocabBuild.oovRate(docs, "text", "lang",
        vocabSize = 1000)
    }
    time("isotonic_fit") {
      // hash scores vs a correlated label at corpus size; collapses
      // to 10 bins then O(bins³) joins
      val scored = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(96)), lit(10001)).as("s"),
        (pmod(xxhash64(col("id"), lit(97)), lit(10000)) <
          pmod(xxhash64(col("id"), lit(96)), lit(10001))).as("y"))
      graft.operators.EvalMetrics.isotonicCalibration(scored, "s", "y",
        bins = 10)
    }
    time("ols2") {
      // 8 groups × 2M rows: one 9-sum map-side-combinable aggregate
      graft.operators.GroupStats.ols2(
        df.filter(col("m1").isNotNull), Seq("seg"),
        (col("m2") * 10).cast("long") % 100L,
        pmod(xxhash64(col("id"), lit(98)), lit(10)),
        (col("m1") * 100).cast("long") % 100000L)
    }

    time("personalized_pagerank") {
      // the q108 probe shape with a 100-node seed set: same 5-round
      // join+aggregate loop plus the broadcast seed indicator
      val edges = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(81)), lit(100000)).as("s"),
        pmod(xxhash64(col("id"), lit(82)),
          pmod(xxhash64(col("id"), lit(83)), lit(50000)) + 1).as("d"))
      val seeds = spark.range(100).select((col("id") * 1000L).as("node"))
      graft.operators.GraphRank.personalizedPageRank(edges, "s", "d",
        seeds, "node", iterations = 5)
    }
    time("strict_funnel") {
      // 2M events, 100k users, 3 bounded stages against the shrinking
      // reached set
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(91)), lit(100000)).as("u"),
        concat(lit("t"), pmod(xxhash64(col("id"), lit(92)), lit(5))
          .cast("string")).as("t"),
        pmod(xxhash64(col("id"), lit(93)), lit(1000000000L)).as("ts"))
      graft.operators.EventAnalytics.strictFunnel(ev, "u", "ts", "t",
        Seq("t0", "t1", "t2"), horizonNanos = 500000000L)
    }
    time("coverage_curve") {
      // n/10 docs x 12 words: one tally + one range-partitioned
      // global rank + one conditional aggregate
      graft.operators.VocabBuild.coverageCurve(docs, "text")
    }
    time("rfm_scores") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(94)), lit(100000)).as("u"),
        (pmod(xxhash64(col("id"), lit(95)), lit(60)) *
          86400000000000L).as("ts"),
        (pmod(xxhash64(col("id"), lit(96)), lit(10000)) / 100.0)
          .as("v"))
      graft.operators.EventAnalytics.rfmScores(ev, "u", "ts", "v")
    }
    time("entry_paths") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(91)), lit(100000)).as("u"),
        pmod(xxhash64(col("id"), lit(93)), lit(1000000000L)).as("ts"),
        col("id").as("tie"),
        concat(lit("t"), pmod(xxhash64(col("id"), lit(92)), lit(5))
          .cast("string")).as("t"))
      graft.operators.EventAnalytics.topPaths(ev, "u", "ts", "tie",
        "t", depth = 3)
    }
    time("linear_attribution") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(91)), lit(100000)).as("u"),
        pmod(xxhash64(col("id"), lit(93)), lit(1000000000L)).as("ts"),
        col("id").as("eid"),
        when(pmod(xxhash64(col("id"), lit(92)), lit(10)) < 8, "view")
          .otherwise("purchase").as("t"))
      graft.operators.EventAnalytics.linearAttribution(ev, "u", "ts",
        "eid", "t", "view", "purchase", windowNanos = 100000000L)
    }
    time("week_over_week") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(92)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(95)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.weekOverWeek(ev, "t", "ts")
    }
    time("gini_stump") {
      // ~100k distinct values; two runningTotal prefix passes + one
      // struct-max reduce
      val scored = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(96)), lit(100000)).as("v"),
        (pmod(xxhash64(col("id"), lit(97)), lit(200000)) <
          pmod(xxhash64(col("id"), lit(96)), lit(100000))).as("y"))
      graft.operators.EvalMetrics.giniStump(scored, "y", col("v"))
    }
    time("vector_qa") {
      graft.operators.Spectral.vectorQa(labeledVecs, "vec_id",
        "embedding")
    }
    time("threshold_curve") {
      // pair-frame input is near-dup-sized by contract: n/4 synthetic
      // scored pairs through the 6-way tagged expansion
      val pairs = spark.range(n / 4).select(
        col("id").as("a"), (col("id") + 1L).as("b"),
        pmod(xxhash64(col("id"), lit(98)), lit(10001)).as("s"))
      graft.operators.Dedup.thresholdCurve(pairs, "a", "b", col("s"),
        Seq(2500L, 5000L, 7500L))
    }

    time("tcloseness") {
      // ~960 quasi classes x 50 ordered sensitive buckets: the
      // class-value grid is bounded by construction
      graft.operators.PrivacyAudit.tCloseness(
        df.select(col("seg"), col("nat"),
          pmod(xxhash64(col("id"), lit(99)), lit(50)).as("v")),
        Seq("seg", "nat"), col("v"))
    }
    time("link_prediction") {
      // n/4 hash edges over n/8 nodes (mean degree ~4): wedge volume
      // stays linear-ish; candidate surface = open wedges only
      val e = spark.range(n / 4).select(
        pmod(xxhash64(col("id"), lit(101)), lit(n / 8)).as("a"),
        pmod(xxhash64(col("id"), lit(102)), lit(n / 8)).as("b"))
      graft.operators.GraphRank.linkPrediction(e, "a", "b")
    }
    time("link_prediction_capped_star") {
      // r15 verdict #2 star fixture: ONE hub adjacent to n/10 spokes
      // (uncapped wedge volume would be ~(n/10)²/2 ≈ 2e10 pairs at
      // n=2M — never enumerable) + the hash background above. The
      // degree cap drops the hub's wedges wholesale BEFORE the
      // self-join, so the probe completes at background-graph cost;
      // this is the documented recall trade bought structurally.
      val star = spark.range(n / 10)
        .select(lit(0L).as("a"), (col("id") + n).as("b"))
      val bg = spark.range(n / 4).select(
        pmod(xxhash64(col("id"), lit(101)), lit(n / 8)).as("a"),
        pmod(xxhash64(col("id"), lit(102)), lit(n / 8)).as("b"))
      graft.operators.GraphRank.linkPrediction(star.union(bg),
        "a", "b", maxCenterDegree = 64)
    }

    // r16 batch A: backtest/retention/robust-trend/randomness cards —
    // each collapses events to per-(key, day) rows first, so the
    // windows and pair joins run over calendar-bounded frames
    time("concentration") {
      // the skewed seg column (40% in S0) exercises the
      // range-partitioned rank path under concentration itself
      graft.operators.GroupStats.concentration(
        df.select(col("seg"), col("id"),
          (col("m2") * 10).cast("long").as("v")),
        "seg", "id", col("v"))
    }
    time("markov_backtest") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(110)), lit(n / 100)).as("u"),
        (pmod(xxhash64(col("id"), lit(111)), lit(60)) *
          86400000000000L +
          pmod(xxhash64(col("id"), lit(112)), lit(86400000L)) * 1000L)
          .as("ts"),
        col("id").as("eid"),
        concat(lit("t"), pmod(xxhash64(col("id"), lit(113)), lit(8))
          .cast("string")).as("t"))
      graft.operators.EventAnalytics.markovBacktest(ev, "u", "ts",
        "eid", "t")
    }
    time("churn_hazard") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(114)), lit(n / 20)).as("u"),
        (pmod(xxhash64(col("id"), lit(115)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.churnHazard(ev, "u", "ts")
    }
    time("theil_sen") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(116)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(117)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.theilSen(ev, "t", "ts")
    }
    time("runs_test") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(118)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(119)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.runsTest(ev, "t", "ts")
    }
    time("rolling_slope") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(103)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(104)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.rollingSlope(ev, "t", "ts", 7)
    }
    time("acf_daily") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(120)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(121)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.acfDaily(ev, "t", "ts", 7)
    }
    time("densify_ffill") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(105)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(106)), lit(60)) *
          86400000000000L).as("ts"),
        (pmod(xxhash64(col("id"), lit(107)), lit(1000)) / 10.0)
          .as("v"))
      graft.operators.EventAnalytics.densifyDaily(ev, "t", "ts", "v")
    }
    time("interpolate_daily") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(122)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(123)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.interpolateDaily(
        ev.filter(pmod(graft.functions.TimeFns.floorDiv(col("ts"),
          86400L * 1000000000L), lit(3)) =!= 1), "t", "ts")
    }
    time("diff_in_diff") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(124)), lit(200000)).as("u"),
        (pmod(xxhash64(col("id"), lit(125)), lit(60)) *
          86400000000000L).as("ts"),
        when(pmod(xxhash64(col("id"), lit(126)), lit(4)) === 0,
          lit("purchase")).otherwise(lit("view")).as("t"))
      graft.operators.EventAnalytics.diffInDiff(ev, "u", "ts", "t",
        "purchase")
    }
    time("changepoint_daily") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(127)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(128)), lit(365)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.changepointDaily(ev, "t", "ts")
    }
    time("orc_roundtrip") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-orc-probe").toString
      val back = graft.Tables.stagedOrc(spark, dir) {
        spark.range(n).select(col("id"),
          pmod(xxhash64(col("id")), lit(1000)).as("k"),
          pmod(xxhash64(col("id"), lit(7)), lit(1000000000L)).as("v"))
      }
      back.groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("s"))
    }
    time("rbo") {
      // 1000 groups x ~2000 rows: the WindowGroupLimit heap keeps
      // depth rows per group map-side
      val d2 = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(108)), lit(1000)).as("g"),
        col("id").as("item"),
        pmod(xxhash64(col("id"), lit(109)), lit(1000000)).as("sa"),
        pmod(xxhash64(col("id"), lit(110)), lit(1000000)).as("sb"))
      graft.operators.EvalMetrics.rankBiasedOverlap(d2, "g", "item",
        col("sa"), col("sb"), depth = 10)
    }
    time("otsu_card") {
      // n pixels over n/64 images, 32 gray levels
      val px = spark.range(n).select(
        call_function("div", col("id"), lit(64L)).as("img"),
        pmod(xxhash64(col("id"), lit(111)), lit(32)).as("l"))
      graft.operators.Multimodal.otsuCard(px, "img", "l")
    }

    time("position_attribution") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(112)), lit(n / 16)).as("u"),
        pmod(xxhash64(col("id"), lit(113)), lit(1000000000000L)).as("ts"),
        col("id").as("eid"),
        when(pmod(xxhash64(col("id"), lit(114)), lit(10)) < 8,
          lit("view")).otherwise(lit("purchase")).as("t"))
      graft.operators.EventAnalytics.positionAttribution(ev, "u",
        "ts", "eid", "t", "view", "purchase",
        windowNanos = 100000000L)
    }
    time("weighted_pagerank") {
      val we = spark.range(n / 4).select(
        pmod(xxhash64(col("id"), lit(115)), lit(n / 8)).as("a"),
        pmod(xxhash64(col("id"), lit(116)), lit(n / 8)).as("b"),
        (pmod(xxhash64(col("id"), lit(117)), lit(8)) + 1L).as("w"))
      graft.operators.GraphRank.weightedPageRank(we, "a", "b", "w",
        iterations = 5)
    }
    time("mann_kendall") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(118)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(119)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.mannKendall(ev, "t", "ts")
    }

    time("rendezvous_assign") {
      graft.operators.ShardExport.rendezvousAssign(
        spark.range(n).toDF("id"), "id", 8)
    }
    time("exact_split") {
      val d2 = spark.range(n).select(col("id"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(120)), lit(20))
          .cast("string")).as("st"))
      graft.operators.Sampling.exactSplit(d2, "st", "id",
        Seq(8, 1, 1), Seq("train", "val", "test"))
    }

    time("stupid_backoff") {
      // md5-half split of the shared 12-word docs: vocab-sized count
      // tables, three left joins on the scored gram stream
      val isRef = substring(md5(col("doc_id").cast("string")), 1, 2)
        .lt(lit("80"))
      graft.operators.NgramLm.stupidBackoff(
        docs.filter(isRef), docs.filter(!isRef), "doc_id", "text")
    }
    time("text_png_dhash") {
      // ~n/10 real PNG encode->decode roundtrips + the banded
      // hamming join over text-derived fingerprints
      val src = docs.select(col("doc_id"),
        rpad(col("text"), 96, "x").as("text"))
      graft.operators.Dedup.simhashFromFingerprintsCapped(
        graft.operators.Multimodal.dhashFingerprints(
          graft.operators.Multimodal.textPngPayloads(
            src, "doc_id", "text"), "doc_id", "payload"),
        bands = 4, maxHamming = 3, maxBucket = 64)
    }

    time("token_movers") {
      val half = pmod(xxhash64(col("doc_id"), lit(121)), lit(2)) === 0
      graft.operators.Drift.tokenMovers(docs.filter(half),
        docs.filter(!half), "text", k = 20)
    }
    time("fano_factor") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(122)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(123)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.fanoFactor(ev, "t", "ts")
    }

    time("new_vs_returning") {
      val ev = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(124)), lit(n / 16)).as("u"),
        (pmod(xxhash64(col("id"), lit(125)), lit(60)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.newVsReturning(ev, "u", "ts")
    }

    time("hilbert_pruning") {
      val d2 = spark.range(n).select(
        (pmod(xxhash64(col("id"), lit(126)), lit(100000)) / 10.0)
          .as("a"),
        pmod(xxhash64(col("id"), lit(127)), lit(50000)).cast("double")
          .as("b"))
      graft.operators.HilbertLayout.pruningStats(d2, "a", "b",
        bits = 8, nFiles = 64, aLo = 1000.0, aHi = 3000.0,
        bLo = 10000.0, bHi = 20000.0)
    }

    time("technical_indicators") {
      // drawdown + bollinger on the same generated daily surface:
      // one daily tally feeding calendar-bounded per-group windows
      val ev = spark.range(n).select(
        concat(lit("g"), pmod(xxhash64(col("id"), lit(128)), lit(20))
          .cast("string")).as("g"),
        pmod(xxhash64(col("id"), lit(129)), lit(2000)).as("dy"),
        (pmod(xxhash64(col("id"), lit(130)), lit(10000)) + 1L).as("v"))
      graft.operators.TechnicalIndicators.maxDrawdown(ev, Seq("g"),
          col("dy"), col("v"))
        .unionByName(graft.operators.TechnicalIndicators
          .bollingerBreakouts(ev, Seq("g"), col("dy"), col("v"),
            window = 20)
          .select(col("g"), col("n_days"), col("n_above"),
            col("n_below"), lit(0L).as("x"), lit(0L).as("y"))
          .toDF("g", "n_days", "max_drawdown", "at_day", "peak",
            "trough"))
    }

    time("lead_lag_scan") {
      val ev = spark.range(n).select(
        when(pmod(xxhash64(col("id"), lit(131)), lit(2)) === 0,
          lit("view")).otherwise(lit("purchase")).as("t"),
        (pmod(xxhash64(col("id"), lit(132)), lit(2000)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.leadLagScan(ev, "t", "ts",
        "view", "purchase", maxLag = 7)
    }
    time("seasonal_naive") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(133)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(134)), lit(2000)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.seasonalNaiveBacktest(ev, "t",
        "ts")
    }

    time("symspell_pairs") {
      // corpus-token tally dominates; the deletion expansion is
      // vocabulary-sized by construction
      graft.operators.Dedup.symmetricDeletePairs(docs, "text",
        minLen = 2)
    }

    time("eta_squared") {
      graft.operators.GroupStats.etaSquared(
        df.filter(col("m1").isNotNull), "seg",
        (col("m1") * 100).cast("long"))
    }

    // ---- round-17 operators
    time("recursive_ldiversity") {
      graft.operators.PrivacyAudit.recursiveLDiversity(
        df.select(col("seg"), col("nat")), Seq("seg"), "nat",
        l = 3, cNum = 1L, cDen = 1L)
    }
    time("harmonic_centrality") {
      // the connected_components fixture graph (5-chains + one long
      // chain) with a 20-landmark sample: per-landmark BFS cost, not
      // all-pairs
      val clusterEdges = spark.range(n).filter(pmod(col("id"), lit(5)) =!= 4)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val seeds = spark.range(20).select((col("id") * (n / 20)).as("node"))
      graft.operators.GraphRank.harmonicCentrality(clusterEdges,
        "src", "dst", seeds, "node", maxHops = 3)
    }
    time("kendall_daily") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(135)), lit(8))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(136)), lit(400)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.kendallDailyPairs(ev, "t", "ts")
    }
    time("dow_seasonality") {
      val ev = spark.range(n).select(
        concat(lit("t"), pmod(xxhash64(col("id"), lit(137)), lit(20))
          .cast("string")).as("t"),
        (pmod(xxhash64(col("id"), lit(138)), lit(2000)) *
          86400000000000L).as("ts"))
      graft.operators.EventAnalytics.dowSeasonality(ev, "t", "ts")
    }
    time("ann_range_count") {
      // 200 anchors against the staged key store: broadcast anchor
      // keys, candidate-only verify, per-anchor aggregate
      graft.operators.SimilaritySearch.rangeCountFromKeys(
        probeVecKeys(), labeledVecs, "vec_id", "embedding",
        spark.range(200).select((col("id") * (nDocs / 200)).as("vec_id")),
        "vec_id", threshold = 0.45)
    }
    time("weighted_jaccard") {
      graft.operators.Dedup.weightedJaccardPairs(diverseDocs,
        "doc_id", "text", n = 3, thrNum = 1L, thrDen = 2L)
    }
    // renamed from "ktruss" in r18: the workload changed (fixed-2-round
    // k=4 peel -> convergence-detected k=3), so cross-round diffs must
    // read it as a new probe, not a regression of the old one
    time("ktruss_converge") {
      // chain + skip edges: every interior node closes triangles
      // (i, i+1, i+2); degree is bounded at 4 so the wedge expansion
      // stays linear in edges. k=3 converges in a handful of rounds
      // (a small boundary cascade, then the stable-count confirm);
      // k=4 would unravel the whole strip one step per round — the
      // exact pathology the convergence-detected peel now refuses.
      val edges = spark.range(n / 4)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
        .union(spark.range(n / 4)
          .select(col("id").as("a"), (col("id") + 2).as("b")))
      graft.operators.GraphRank.kTruss(edges, "a", "b", k = 3)
    }
    time("hyperball") {
      // the ktruss strip graph at n/4 nodes: per round one adjacency
      // join + one (node, bucket) max-aggregate over <= 16 register
      // rows per node — the register-merge shape that replaces the
      // exact (seed, node) frontier at all-nodes scale
      val edges = spark.range(n / 4)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
        .union(spark.range(n / 4)
          .select(col("id").as("a"), (col("id") + 2).as("b")))
      graft.operators.GraphRank.hyperBall(edges, "a", "b", rounds = 3)
    }
    time("component_map_delta_merge_large") {
      // a 10x-larger delta (nDocs/10 pairs) — the merge must stay far
      // under the staged_components_build rebuild even when the batch
      // is a tenth of the corpus
      val delta = spark.range(nDocs / 10)
        .select(pmod(xxhash64(col("id"), lit(72)), lit(nDocs)).as("id_a"),
          pmod(xxhash64(col("id"), lit(73)), lit(nDocs)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      graft.operators.Dedup.mergeComponentMap(probeComponents(), delta,
        "id_a", "id_b")
    }

    // ---- layout probes (r18 verdict #5): q357/q358's plan-shape
    // properties were gated only at sf0.01 — prove they hold at 2M
    // rows, with the shape booleans IN the artifact so a silent
    // layout-bypass (planner falls back to shuffle; filter degrades to
    // a row predicate) reads as a red field, not a slow number.
    def timeShaped(name: String, df: => org.apache.spark.sql.DataFrame,
        shape: String => Seq[(String, Boolean)]): Unit = {
      if (!only.forall(_.contains(name))) return
      val q = df // build layouts once, OUTSIDE the timed runs
      val shapeFields = shape(q.queryExecution.executedPlan.toString)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",", ",", "")
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      emit(f"""{"probe":"$name","rows":$n,"sec":${runs.min}%.2f,""" +
        s""""sec_runs":[${runs.map(r => f"$r%.2f").mkString(",")}]""" +
        shapeFields + "}")
    }
    // bucketed co-located join: n/4-row build side — far over any
    // broadcast threshold at real scale, pinned here so the probe
    // exercises the shuffle path bucketing exists to remove
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      timeShaped("bucketed_join", {
        val o = graft.Tables.bucketedTable(spark, s"graft_scale_bkt_o_$n",
          spark.range(n / 4).select(col("id").as("k"),
            concat(lit("p"), pmod(xxhash64(col("id"), lit(80)), lit(5))
              .cast("string")).as("prio")),
          "k", buckets = 16)
        val li = graft.Tables.bucketedTable(spark, s"graft_scale_bkt_li_$n",
          spark.range(n).select(
            pmod(xxhash64(col("id"), lit(81)), lit(n / 4)).as("fk"),
            (col("id") * 3L).as("v")),
          "fk", buckets = 16)
        // aggregate on the BUCKET KEY so the whole plan — both scans,
        // the join, and the aggregate — rides the bucket partitioning
        // with zero Exchange (an agg on any other column would
        // legitimately shuffle its own tiny post-join output)
        o.join(li, o("k") === li("fk"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sv"))
      }, p => Seq(
        "exchange_free" -> !p.contains("Exchange"),
        "bucketed_scan" -> p.contains("Bucketed: true")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    // hive-partitioned store: equality filter prunes to 1 of 8 status
    // directories at the scan
    timeShaped("partition_pruned", {
      val root = sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR",
        "target/graft-stage")
      val store = graft.Tables.stagedPartitionedParquet(spark,
          s"$root/scale-by-status-$n", "status") {
        spark.range(n).select(col("id"),
          concat(lit("s"), pmod(xxhash64(col("id"), lit(82)), lit(8))
            .cast("string")).as("status"),
          (col("id") * 7L).as("v"))
      }
      store.filter(col("status") === "s3")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sv"))
    }, p => Seq(
      "partition_filter_at_scan" -> (p.contains("PartitionFilters: [") &&
        p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("s3")),
      "no_row_filter_fallback" ->
        !p.contains("PushedFilters: [IsNotNull(status)")))
    // dynamic partition pruning over the same store: the filter lives
    // on a file-backed 8-row dim and must prune the fact scan THROUGH
    // the broadcast join (q359's shape at 2M fact rows)
    timeShaped("dpp_join", {
      val root = sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR",
        "target/graft-stage")
      val store = graft.Tables.stagedPartitionedParquet(spark,
          s"$root/scale-by-status-$n", "status") {
        spark.range(n).select(col("id"),
          concat(lit("s"), pmod(xxhash64(col("id"), lit(82)), lit(8))
            .cast("string")).as("status"),
          (col("id") * 7L).as("v"))
      }
      val dim = graft.Tables.stagedParquet(spark,
          s"$root/scale-status-dim-$n") {
        spark.range(8).select(
          concat(lit("s"), col("id").cast("string")).as("dstatus"),
          when(col("id") === 3, lit("keep")).otherwise(lit("drop"))
            .as("category"))
      }
      store.join(dim.filter(col("category") === "keep"),
          col("status") === col("dstatus"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sv"))
    }, p => Seq(
      "dynamic_pruning_at_scan" -> p.toLowerCase.contains("dynamicpruning")))

    sys.env.get("SPARK_GRAFT_SCALE_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        outLines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
