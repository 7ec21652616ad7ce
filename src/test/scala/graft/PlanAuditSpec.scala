package graft

import org.apache.spark.sql.functions._
import graft.operators.{Apportion, IntervalJoin, ShardExport,
  SimilaritySearch, Winsorize}

/** Plan-shape guards for the scale-critical round-7 operators — the
  * assertions that keep a future refactor from silently reintroducing
  * the plan Spark would have picked on its own (nested-loop range
  * joins, single-partition windows over the corpus). */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("interval join plans an equi-join, never nested-loop/cartesian") {
    val pts = (1 to 100).map(i => (i.toLong, i.toLong * 10))
      .toDF("p_id", "ts")
    val ivs = (1 to 20).map(i => (i.toLong, i * 50L, i * 50L + 30))
      .toDF("iv_id", "s", "e")
    val p = plan(IntervalJoin.pointInInterval(pts, ivs, "ts", "s", "e",
      bucketWidth = 100L))
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested loop crept in")
    assert(!p.contains("CartesianProduct"), "cartesian crept in")
    // the naive formulation DOES nested-loop — prove the contrast
    val naive = plan(pts.join(ivs,
      col("ts") >= col("s") && col("ts") <= col("e")))
    assert(naive.contains("BroadcastNestedLoopJoin") ||
      naive.contains("CartesianProduct"))
  }

  test("shard export sorts via range partitioning, no single-partition window") {
    val p = plan(ShardExport.assign(
      (1 to 500).map(i => Tuple1(i.toLong)).toDF("doc_id"), "doc_id", 8))
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"expected a range exchange in:\n$p")
    assert(!p.contains("Window"), "a window operator appeared in shard export")
  }

  test("batched top-k broadcasts the query set; windows partition by query") {
    val rnd = new scala.util.Random(3)
    val df = (0L until 200L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(SimilaritySearch.bruteForceTopKBatch(
      df, "vec_id", "embedding", Seq(0L, 1L), k = 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set must move by broadcast, not shuffle:\n$p")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no corpus-wide single-partition stage may exist:\n$p")
  }

  test("apportionment's corpus stage is a partial-aggregated count only") {
    val df = (1 to 1000).map(i => (s"s${i % 5}", i.toLong)).toDF("src", "w")
    val p = plan(Apportion.largestRemainder(df, "src", "w", 1000L))
    // corpus side: hash aggregate with a partial phase (map-side combine)
    assert(p.contains("HashAggregate"), s"expected hash aggregate in:\n$p")
    // the single-partition window exists but runs AFTER the group-by
    // (bounded #groups): the plan must place the corpus aggregate
    // below the window exchange, never sort corpus rows
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(windowIdx >= 0 && aggIdx > windowIdx,
      s"window must consume the grouped frame, not corpus rows:\n$p")
  }

  test("winsorize broadcasts the bounds back, no second corpus-wide window") {
    val rows = (1 to 300).map(i => ("g", i.toLong)).toDF("grp", "units")
    val out = Winsorize.clipToQuantiles(rows, Seq("grp"), col("units"),
      1L, 0.05, 0.95)
    assert(plan(out).contains("BroadcastHashJoin"),
      "bounds should join back broadcast")
  }

  test("profile columns plans ONE scan regardless of column count") {
    // N profiled columns must NOT become N table reads: the stats run
    // as one Expand-based multi-distinct aggregate over a single scan.
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val p = plan(graft.operators.Profile.columns(df,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")))
    assert("FileScan".r.findAllIn(p).length == 1,
      s"expected exactly one parquet scan:\n$p")
  }

  test("graduated approximate gates broadcast their guarantee aggregates") {
    // q26/q30/q61's guarantee booleans come from single-row aggregate
    // frames cross-joined back onto the exact surface — the join MUST
    // broadcast those one-row frames, and no cartesian of two
    // corpus-sized sides may exist anywhere in the plan.
    val dir = "/root/testdata/sf0.001"
    Seq("q26_ann_lsh", "q30_embedding_neardup_lsh", "q61_bloom_decontaminate",
        "q62_semantic_dedup").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"),
        s"$q guarantee aggregates must move by broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q grew a cartesian product:\n$p")
    }
    Caches.unpersistAll(blocking = true)
  }

  test("fuzzy join repartitions the probe side on (block, salt)") {
    val df = (1 to 400).map(i => (i.toLong, s"name variant $i"))
      .toDF("k", "nm")
    val p = plan(graft.operators.FuzzyJoin.byEditDistance(
      df, "k", "nm", maxDist = 2, saltParts = 8))
    // the explicit exchanges are the whole point: without them a
    // single-file scan runs the entire pair expansion in one task.
    // BOTH sides must carry one — the planner is free to pick either
    // side as broadcast build, so whichever probes must be spread
    val exchanges = "hashpartitioning\\(blk".r.findAllIn(p).length
    assert(exchanges >= 2,
      s"both sides must repartition on (blk, salt), found $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"fuzzy join grew a cartesian product:\n$p")
  }

  test("hard-negative mining broadcasts the anchor set") {
    val rnd = new scala.util.Random(7)
    val df = (0L until 200L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()), (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
    val p = plan(SimilaritySearch.hardNegativesBatch(
      df, "vec_id", "embedding", "label", Seq(0L, 1L), k = 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"anchor set must move by broadcast, not shuffle:\n$p")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no corpus-wide single-partition stage may exist:\n$p")
  }

  test("scalable winsorize ranks via range partitioning with NO window operator") {
    val rows = (1 to 300).map(i => ("g", i.toLong)).toDF("grp", "units")
    val out = Winsorize.clipToQuantiles(rows, Seq("grp"), col("units"),
      1L, 0.05, 0.95, scalable = true)
    val p = plan(out)
    assert(!p.contains("Window"),
      s"scalable path must not sort groups in a window task:\n$p")
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected a range exchange in:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  // ---- round-11 operator plan guards -----------------------------------

  test("OOV report broadcasts the vocabulary, never shuffles it") {
    val docs = (1 to 300).map(i => (i.toLong, s"tok${i % 40} other words"))
      .toDF("doc_id", "text")
    val vocab = (0 until 10).map(i => Tuple1(s"tok$i")).toDF("token")
    val p = plan(graft.operators.VocabBuild.oovReport(
      docs, "doc_id", "text", vocab))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab membership must be a broadcast join:\n$p")
  }

  test("keySkew's top-k is TakeOrdered (no global sort), totals broadcast") {
    val df = (1 to 1000).map(i => Tuple1((i % 37).toLong)).toDF("k")
    val p = plan(graft.operators.Profile.keySkew(df, "k", topK = 5))
    assert(p.contains("TakeOrdered"),
      s"top-k must plan TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row totals must broadcast:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("quantized probe scans byte codes through TakeOrdered") {
    val rnd = new scala.util.Random(11)
    val df = (0L until 200L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(SimilaritySearch.quantizedTopK(
      df, "vec_id", "embedding", 0L, 5))
    assert(p.contains("TakeOrdered"),
      s"probe top-k must plan TakeOrderedAndProject:\n$p")
    // the scoring kernel is the fused cosine expression over the code
    // arrays (the QuantizeInt8 projection itself constant-folds into
    // the local fixture relation — on a real scan it sits in the scan
    // project, exercised end-to-end by the q105 gate)
    assert(p.contains("cosinesimilarity"),
      s"the fused cosine kernel must score the codes:\n$p")
  }

  test("sorted neighborhood ranks via range partitioning, no global window") {
    val df = (1 to 400).map(i => (i.toLong, f"name$i%04d")).toDF("k", "nm")
    val p = plan(graft.operators.FuzzyJoin.sortedNeighborhood(
      df, "k", "nm", windowSize = 3, maxDist = 1))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"the global rank must come from a range exchange:\n$p")
    assert(!p.contains("Window"),
      s"no single-task global window may exist:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("decay activity: one broadcast scalar + combinable aggregate, no window") {
    val ev = (1 to 500).map(i =>
      ((i % 50).toLong, i.toLong * 86400L * 1000000000L))
      .toDF("user_id", "ts")
    val p = plan(graft.operators.EventAnalytics.decayActivity(
      ev, "user_id", "ts"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the reference-day scalar must broadcast:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
    assert(p.contains("HashAggregate"),
      s"per-user sums must be a hash aggregate:\n$p")
  }

  test("collocations: TakeOrdered top-k, per-doc windows, no cartesian " +
    "beyond the 1-row total") {
    val docs = (1 to 50).map(i => (i.toLong, s"w$i common word stream"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.collocations(
      docs, "doc_id", "text", minCount = 1L, topK = 10))
    assert(p.contains("TakeOrdered"),
      s"top-k must plan TakeOrderedAndProject, not sort+limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the bigram window partitions by doc: its sort keys must include
    // the doc column, never a corpus-wide empty partition spec
    assert(p.contains("windowspecdefinition(doc__"),
      s"bigram window must partition by doc:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("basket pairs: equi-join on the basket key, no nested loop") {
    val df = (1 to 300).map(i => ((i % 60).toLong, (i % 7).toLong))
      .toDF("b", "i")
    val p = plan(graft.operators.CoOccurrence.basketPairs(
      df, "b", "i", minSupport = 1L))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"pair expansion must ride the basket-key equi-join:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("systematic weighted sample: range-partitioned prefix sum, " +
    "pid-partitioned window only") {
    val df = (1 to 400).map(i => (i.toLong, (i % 9).toLong + 1))
      .toDF("k", "w")
    val p = plan(graft.operators.Sampling.systematicWeighted(
      df, "k", "w", n = 20))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"the cumulative line must come from a range exchange:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"no empty-partition (single-task) window may exist:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("scd2: one hash partitioning by key; both window families " +
    "share it") {
    val df = (1 to 300).map(i =>
      ((i % 30).toLong, i.toLong, i.toLong, s"v${i % 3}"))
      .toDF("k", "ts", "eid", "v")
    val p = plan(graft.operators.SnapshotDiff.scd2History(
      df, "k", "ts", "v", "eid"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"join shape broke:\n$p")
    // every window partitions by the key — no corpus-wide window
    assert(!p.contains("windowspecdefinition()"),
      s"no empty-partition window may exist:\n$p")
  }

  test("quantile normalize: both ranks range-partitioned, no " +
    "empty-partition window") {
    val df = (1 to 400).map(i =>
      (i.toLong, s"g${i % 4}", (i * 7 % 100).toLong)).toDF("id", "g", "v")
    val p = plan(graft.operators.QuantileNormalize.quantileNormalize(
      df, "g", col("v"), Seq("id")))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"ranks must come from range exchanges:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"no single-task global window may exist:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("category drift: totals broadcast back, no window over " +
    "categories") {
    val ref = (1 to 200).map(i => s"c${i % 40}").toDF("c")
    val cur = (1 to 150).map(i => s"c${i % 35}").toDF("c")
    val p = plan(graft.operators.Drift.categoryDrift(ref, cur, "c"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row totals must broadcast:\n$p")
    assert(!p.contains("Window"),
      s"no window over the category space may exist:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("cdc apply: per-key log window + one equi full-outer join, " +
    "no nested loop") {
    val base = (1 to 200).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    val log = (1 to 100).map(i =>
      ((i % 50).toLong, i.toLong, if (i % 7 == 0) "D" else "U", s"u$i"))
      .toDF("k", "seq", "op", "name")
    val p = plan(graft.operators.CdcApply.applyLog(
      base, log, "k", "seq", "op", Seq("name")))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the apply must be an equi join:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"the latest-pick window must partition by key:\n$p")
  }

  test("groupTopK plants WindowGroupLimit (map-side per-group heaps)") {
    val df = (1 to 2000).map(i =>
      (s"g${i % 5}", i.toLong, i.toLong * 7 % 1000)).toDF("g", "id", "v")
    val p = plan(graft.operators.RankOps.groupTopK(
      df, Seq("g"), 3, col("v"), Seq(col("id"))))
    assert(p.contains("WindowGroupLimit"),
      s"rank-filter idiom must trigger InferWindowGroupLimit:\n$p")
  }

  test("compressibility is one codegen'd pass: no Generate, no shuffle") {
    val docs = (1 to 50).map(i => (i.toLong, "ab" * i + "\ncc"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.compressibility(
      docs, "doc_id", "text"))
    // the r11-flagged shape moved one row PER CHARACTER through an
    // explode -> shuffle -> aggregate; the r12 form is a projection
    assert(!p.contains("Generate"), s"per-char explode is back:\n$p")
    assert(!p.contains("Exchange"), s"a shuffle appeared:\n$p")
    assert(!p.contains("HashAggregate"), s"an aggregate appeared:\n$p")
  }

  test("prefix-filtered jaccard verify joins pairs, not a posting self-join") {
    val docs = (1 to 80).map(i =>
      (i.toLong, s"w${i % 7} w${i % 11} w${i % 13} w${i % 17} w$i"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.prefixFilteredJaccard(
      docs, "doc_id", "text", n = 3))
    // the verify's intersection must be keyed by (doc, shingle) —
    // the pair-restricted form — and never re-expand postings by
    // shingle alone (the r12-fixed quadratic re-expansion)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected equi joins:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop in the verify:\n$p")
    Caches.unpersistAll(blocking = true)
  }

  test("lexical diversity: top-k mass rides WindowGroupLimit, " +
    "no unpartitioned window") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"w${i % 9} w${i % 4} tail$i", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val p = plan(graft.operators.LexicalDiversity.perSource(
      docs, "doc_id", "text", "source", topK = 5))
    assert(p.contains("WindowGroupLimit"),
      s"per-source top-k must map-side heap:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared:\n$p")
  }

  test("lexical TV matrix: word-keyed equi self-join; only the " +
    "|sources|^2 pair frame is nested-loop") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"w${i % 9} w${i % 4} tail$i", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val p = plan(graft.operators.Drift.lexicalTvMatrix(
      docs, "text", "source"))
    // the corpus-sized join must be the word-keyed equi join; the
    // cross of per-source TOTALS (|sources| rows) is the one allowed
    // nested-loop surface
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected word equi join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cartesian appeared:\n$p")
  }

  test("rocAuc's below-count rides range partitioning; no " +
    "unpartitioned corpus window") {
    val df = (1 to 500).map(i => (i.toLong % 97, i % 3 == 0))
      .toDF("s", "y")
    val p = plan(graft.operators.EvalMetrics.rocAuc(df, "s", "y"))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected the runningTotal range partition:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared:\n$p")
  }

  test("triangleStats: equi-joins only, no window, no cartesian") {
    val e = (1 to 200).map(i => (i.toLong, (i % 50).toLong + 300L))
      .toDF("a", "b")
    val p = plan(graft.operators.GraphRank.triangleStats(e, "a", "b"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the triangle path:\n$p")
    assert(!p.contains("Window"),
      s"a window operator appeared in triangle counting:\n$p")
  }

  test("readability is projections + one aggregate — no explode, " +
    "one scan-equivalent") {
    val df = Seq(("a b c. d!", "s"), ("x y?", "t"))
      .toDF("text", "source")
    val p = plan(graft.operators.TextAnalysis
      .readabilityBySource(df, "text", "source"))
    assert(!p.contains("Generate"),
      s"an explode crept into readability:\n$p")
    assert(!p.contains("Window"),
      s"a window crept into readability:\n$p")
  }

  test("url canonicalization is a pure codegen projection before " +
    "its rollup") {
    import graft.functions.UrlCanon
    val proj = spark.range(100).select(UrlCanon.canonicalUrl(
      UrlCanon.synthUrl(col("id"))).as("c"))
    val p = plan(proj)
    // one Project over the source — no explode, no shuffle. (The
    // param filter/sort lambdas are higher-order functions, which
    // Spark evaluates interpreted — acceptable here: the arrays are
    // a URL's query params, a handful of elements.)
    assert(!p.contains("Generate") && !p.contains("Exchange"),
      s"canonicalization should be a narrow projection:\n$p")
  }

  test("embargo split anchors on a broadcast 1-row aggregate, " +
    "never a cartesian") {
    val day = 86400L * 1000000000L
    val ev = (1 to 300).map(i => (i.toLong % 40, (i % 25).toLong * day))
      .toDF("user_id", "ts")
    val p = plan(graft.operators.Sampling.embargoSplit(
      ev, "ts", "user_id"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected the broadcast max-day anchor:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cartesian appeared:\n$p")
  }

  test("cusumDaily windows partition by group — never the whole " +
    "daily frame") {
    val day = 86400L * 1000000000L
    val ev = (1 to 400).map(i => (s"t${i % 5}", (i % 30).toLong * day))
      .toDF("event_type", "ts")
    val p = plan(graft.operators.EventAnalytics.cusumDaily(
      ev, "event_type", "ts"))
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared:\n$p")
  }

  test("dupSpanCoverage: gram-count equi-join, per-doc windows only, " +
    "no cartesian") {
    val docs = (1 to 50).map(i =>
      (i.toLong, s"w${i % 3} w${i % 5} w${i % 3} w${i % 5} w${i % 2}"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.dupSpanCoverage(
      docs, "doc_id", "text", k = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the span path:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared (lead/sweep must partition " +
        s"by doc):\n$p")
  }

  test("liftTable rank rides range partitioning; only the bounded " +
    "bucket-table window is unpartitioned") {
    val df = (1 to 500).map(i => (i.toLong, (i % 97).toLong, i % 3 == 0))
      .toDF("id", "s", "y")
    val p = plan(graft.operators.EvalMetrics.liftTable(
      df, "id", "s", "y"))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected the scalable-rank range exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cartesian appeared (the totals join must " +
        s"broadcast its 1-row side):\n$p")
  }

  test("kmeansLloyd assigns via a broadcast centroid join — never a " +
    "shuffled or cartesian distance stage") {
    val emb = (1 to 200).map(i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.operators.Prototypes.kmeansLloyd(
      emb, "vec_id", "embedding", k = 2, iterations = 1))
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian crept into the assign stage:\n$p")
  }

  test("removeDupSpans: keeper is a min-struct aggregate (no per-gram " +
    "window); only per-doc windows; no cartesian") {
    val docs = (1 to 50).map(i =>
      (i.toLong, s"w${i % 3} w${i % 5} w${i % 3} w${i % 5} w${i % 2}"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.removeDupSpans(
      docs, "doc_id", "text", k = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the removal path:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared:\n$p")
  }

  test("scrubBenchSpans: bench grams SEMI-join corpus occurrences; " +
    "no cartesian, only per-doc windows") {
    val bench = (1 to 5).map(i => (i.toLong, s"b$i b${i + 1} b${i + 2}"))
      .toDF("doc_id", "text")
    val corpus = (10 to 60).map(i =>
      (i.toLong, s"w${i % 3} b2 b3 b4 w${i % 5}")).toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.scrubBenchSpans(
      corpus, bench, "doc_id", "text", k = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the scrub path:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared:\n$p")
  }

  test("rangeOverlap plans an equi-join on (key, bucket) — the naive " +
    "theta form nested-loops, the bucketed form must not") {
    val a = (1 to 100).map(i => (i.toLong, i.toLong % 7, i * 5L, i * 5L + 8))
      .toDF("id_a", "k", "sa", "ea")
    val b = a.select(col("id_a").as("id_b"), col("k"),
      col("sa").as("sb"), col("ea").as("eb"))
    val p = plan(IntervalJoin.rangeOverlap(a, b, "sa", "ea", "sb", "eb",
      keys = Seq("k"), bucketWidth = 8L))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range overlap fell back to a non-equi join:\n$p")
  }

  test("leftAsOfNearest: both carries ride ONE keyed window family — " +
    "no unpartitioned window, no join at all") {
    val l = (1 to 200).map(i => (i.toLong, i.toLong % 9, i.toLong * 3))
      .toDF("id", "k", "ts")
    val r = (1 to 50).map(i => (i.toLong % 9, i.toLong * 11, i.toLong))
      .toDF("k", "ts", "rid")
    val p = plan(graft.operators.AsOfJoin.leftAsOfNearest(
      l, r, Seq("k"), "ts", "ts", Seq("rid")))
    assert(!p.contains("windowspecdefinition()"),
      s"an unpartitioned window appeared:\n$p")
    assert(!p.contains("Join"), s"nearest as-of should be join-free:\n$p")
  }

  test("kCenterGreedy distance stage: selected-set units broadcast, " +
    "no cartesian (the loop checkpoints, so the stage is audited " +
    "directly)") {
    val units = (1 to 150).flatMap(i => Seq(
      (i.toLong, 1L, (i % 13).toLong), (i.toLong, 2L, (i % 17).toLong)))
      .toDF("id__", "dim", "u__")
    val selected = Seq(Tuple1(7L)).toDF("id__")
    val p = plan(graft.operators.Prototypes.kcMinDist(units, selected))
    assert(p.contains("BroadcastHashJoin"),
      s"selected-set join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian crept into the distance stage:\n$p")
  }

  test("spearman ranks ride range partitioning (q215 discipline) — " +
    "never a window partitioned by the few group keys") {
    val df = (1 to 400).map(i =>
      (i % 3, (i % 97).toLong, (i % 89).toLong)).toDF("k", "x", "y")
    val p = plan(graft.operators.GroupStats.spearman(
      df, Seq("k"), col("x"), col("y")))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected the runningTotal range exchange:\n$p")
    assert(!p.contains("windowspecdefinition(k#"),
      s"a group-keyed corpus window appeared:\n$p")
  }

  test("benfordCard is one projection + one 9-group aggregate; the " +
    "totals join broadcasts its 1-row side") {
    val vals = (1 to 300).map(i => Tuple1(i.toLong * 7)).toDF("v")
    val p = plan(graft.operators.Profile.benfordCard(vals, col("v")))
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cartesian appeared:\n$p")
    assert(!p.contains("Window"),
      s"a window operator appeared in the digit card:\n$p")
  }

  // ---- round-15 plan guards ----

  test("chiSquare is windowless; the r x c grid and totals ride " +
    "broadcast, never a shuffled cartesian") {
    val rows = (1 to 400).map(i => (s"a${i % 4}", s"b${i % 7}"))
      .toDF("x", "y")
    val p = plan(graft.operators.GroupStats.chiSquare(rows, "x", "y"))
    assert(!p.contains("Window"), s"window crept into chi-square:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the category grid must broadcast, not shuffle:\n$p")
  }

  test("oovRate takes the vocabulary via TakeOrderedAndProject and " +
    "joins it back broadcast — no global sort, no window") {
    val docs = (1 to 200).map(i => (s"s${i % 3}", s"w${i % 40} w${i % 7}"))
      .toDF("source", "text")
    val p = plan(graft.operators.VocabBuild.oovRate(docs, "text",
      "source", vocabSize = 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k vocabulary must be a distributed partial top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary must join back broadcast:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
  }

  test("quantizeInt8Card's bounds join is broadcast; both stages are " +
    "hash aggregates") {
    val emb = (0 until 100).map(i => (i.toLong, Seq(i / 100.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.operators.Spectral.quantizeInt8Card(emb,
      "vec_id", "embedding"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-dim bounds must broadcast back:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
  }

  test("ksGroupVsRest windows partition by GROUP over the value " +
    "tally — never a single global partition") {
    val docs = (1 to 300).map(i => (s"s${i % 4}", (i % 37).toLong))
      .toDF("g", "v")
    val p = plan(graft.operators.Drift.ksGroupVsRest(docs, "g",
      col("v")))
    assert(p.contains("windowspecdefinition(g__#") ||
      p.contains("partitionBy=[g__"),
      s"the cumulative window must partition by group:\n$p")
  }

  test("orderedPairSupport expands pairs from the per-user type " +
    "summary and broadcasts the marginals") {
    val ev = (1 to 300).map(i =>
      ((i % 40).toLong, (i % 13).toLong, s"t${i % 5}"))
      .toDF("u", "ts", "t")
    val p = plan(graft.operators.EventAnalytics.orderedPairSupport(
      ev, "u", "ts", "t"))
    assert(p.contains("BroadcastHashJoin"),
      s"marginals must broadcast:\n$p")
    // the 1-row totals ride a broadcast nested loop (the Apportion
    // allowance); the PAIR expansion itself must be an equi-join
    // keyed on the user column
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(p.contains("BroadcastHashJoin [u__") ||
      p.contains("SortMergeJoin [u__") ||
      p.contains("ShuffledHashJoin [u__"),
      s"the pair expansion must stay an equi-join on user:\n$p")
  }

  test("isotonicCalibration collapses the corpus to bins BEFORE the " +
    "cubic interval stage (aggregate sits below every join)") {
    val df = (0 until 500).map(i => ((i * 20 % 10001).toLong, i % 3 == 0))
      .toDF("s", "y")
    val p = plan(graft.operators.EvalMetrics.isotonicCalibration(
      df, "s", "y", bins = 10))
    val firstJoin = Seq("BroadcastNestedLoopJoin", "SortMergeJoin",
      "BroadcastHashJoin").map(p.indexOf).filter(_ >= 0)
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(firstJoin.nonEmpty && lastAgg > firstJoin.max,
      s"the corpus bin aggregate must feed the joins, not follow " +
        s"them:\n$p")
  }

  test("linkPrediction: candidates come from EQUI wedge joins, never " +
    "a cartesian; the edge set leaves as a left-anti") {
    val e = (1 to 200).map(i => (i.toLong, (i % 37).toLong))
      .toDF("a", "b")
    val p = plan(graft.operators.GraphRank.linkPrediction(e, "a", "b"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must ride equi-joins:\n$p")
    assert(p.contains("LeftAnti"), s"expected the left-anti edge " +
      s"exclusion in:\n$p")
  }

  test("linkPrediction maxCenterDegree: the hub cap is a LeftSemi " +
    "against the degree table BEFORE the wedge self-join fans out") {
    val e = (1 to 200).map(i => (i.toLong, (i % 37).toLong))
      .toDF("a", "b")
    val p = plan(graft.operators.GraphRank.linkPrediction(
      e, "a", "b", maxCenterDegree = 3))
    assert(p.contains("LeftSemi"),
      s"expected the degree-cap semi-join in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"capped wedge enumeration must stay on equi-joins:\n$p")
    // differential: the uncapped plan has NO semi-join, so the
    // LeftSemi above is exactly the cap, sitting on the adjacency
    // input that feeds the wedge self-join
    val uncapped = plan(graft.operators.GraphRank.linkPrediction(
      e, "a", "b"))
    assert(!uncapped.contains("LeftSemi"),
      s"uncapped plan unexpectedly grew a semi-join:\n$uncapped")
  }

  test("rankBiasedOverlap: both prefix ranks ride WindowGroupLimit " +
    "(map-side size-depth heaps, not full per-group sorts)") {
    val df = (0 until 400).map(i =>
      (s"g${i % 7}", i.toLong, (i * 13 % 101).toLong,
        (i * 7 % 103).toLong)).toDF("g", "id", "sa", "sb")
    val p = plan(graft.operators.EvalMetrics.rankBiasedOverlap(
      df, "g", "id", col("sa"), col("sb"), depth = 5))
    assert(p.contains("WindowGroupLimit"),
      s"the rank-filter shape must trigger the group-limit rewrite:\n$p")
  }

  test("exactSplit ranks via range partitioning with NO window " +
    "operator (the groupRowNumber path)") {
    val df = (0 until 500).map(i => (s"s${i % 5}", i.toLong))
      .toDF("st", "k")
    val p = plan(graft.operators.Sampling.exactSplit(df, "st", "k",
      Seq(8, 1, 1), Seq("train", "val", "test")))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected a range exchange:\n$p")
    assert(!p.contains("Window"),
      s"a window operator appeared in exactSplit:\n$p")
  }

  test("positionAttribution windows partition by conversion — no " +
    "corpus-wide single-partition stage") {
    val ev = (0 until 300).map(i => (i.toLong % 20, i.toLong * 10,
      i.toLong, if (i % 5 == 0) "purchase" else "view"))
      .toDF("u", "ts", "id", "t")
    val p = plan(graft.operators.EventAnalytics.positionAttribution(
      ev, "u", "ts", "id", "t", "view", "purchase", 1000000L))
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no corpus-wide single-partition stage may exist:\n$p")
  }

  test("mannKendall's pair expansion is an equi-join on the type key") {
    val ev = (0 until 400).map(i => (s"t${i % 4}",
      (i % 50).toLong * 86400000000000L)).toDF("t", "ts")
    val p = plan(graft.operators.EventAnalytics.mannKendall(
      ev, "t", "ts"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the day-pair join must stay keyed on type:\n$p")
  }

  test("tokenMovers' two top-ks compile to TakeOrderedAndProject — " +
    "per-partition heaps, no global sort") {
    val a = (0 until 50).map(i => s"w${i % 9} w${i % 7}").toDF("text")
    val b = (0 until 50).map(i => s"w${i % 5} w${i % 3}").toDF("text")
    val p = plan(graft.operators.Drift.tokenMovers(a, b, "text", k = 5))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected heap-based top-k in:\n$p")
  }

  test("symmetricDeletePairs: the variant join stays an equi-join — " +
    "no cartesian/nested-loop candidate product") {
    val docs = (0 until 60).map(i => s"word$i words$i").toDF("text")
    val p = plan(graft.operators.Dedup.symmetricDeletePairs(
      docs, "text", minLen = 4))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the shared-variant equi-join:\n$p")
  }

  test("stupidBackoff: all count joins are keyed; the only row " +
    "product is the broadcast 1-row token total") {
    val ref = (0 until 40).map(i => s"a b c w$i").toDF("text")
    val scored = (0 until 20).map(i => s"a b x$i").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val p = plan(graft.operators.NgramLm.stupidBackoff(
      ref, scored, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"),
      s"no cartesian may appear (the 1-row N total rides a " +
        s"broadcast):\n$p")
  }

  test("HilbertLayout.assign is ONE projection stage — the codegen'd " +
    "expression, not collapsed per-bit CASE chains") {
    val d = spark.range(100).select(
      (col("id") % 10).cast("double").as("a"),
      (col("id") / 10).cast("double").as("b"))
    val p = plan(graft.operators.HilbertLayout.assign(d, "a", "b",
      bits = 8))
    assert(p.contains("hilbertindex") || p.contains("HilbertIndex"),
      s"expected the native expression in:\n$p")
    assert(!p.contains("Exchange"),
      s"index assignment must be a narrow map:\n$p")
  }

  // ---- round-16 additions ----

  test("textRank tops out via TakeOrdered, never a global sort") {
    val docs = (1 to 50).map(i =>
      (i.toLong, s"w${i % 7} w${i % 5} w${i % 3} w${i % 7}"))
      .toDF("doc", "text")
    val p = plan(graft.operators.TextAnalysis.textRank(
      docs, "doc", "text", iterations = 1, topK = 5))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected the top-k heap in:\n$p")
    graft.Caches.unpersistAll()
  }

  test("oversampleBalanced ranks via range partitioning with NO " +
    "window; the fan-out is a Generate") {
    val df = (0 until 300).map(i => (i.toLong, (i % 7).toLong))
      .toDF("vec_id", "label")
    val p = plan(graft.operators.Sampling.oversampleBalanced(
      df, "vec_id", "label"))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected the groupRowNumber range exchange in:\n$p")
    assert(!p.contains("Window"),
      s"a window operator appeared in oversampleBalanced:\n$p")
    assert(p.contains("Generate"),
      s"expected the explode fan-out in:\n$p")
  }

  test("localClustering closes wedges with a LeftSemi probe over " +
    "equi-joins, never a cartesian") {
    val e = (1 to 200).map(i => (i.toLong, (i % 23).toLong))
      .toDF("a", "b")
    val p = plan(graft.operators.GraphRank.localClustering(e, "a", "b"))
    assert(p.contains("LeftSemi"),
      s"expected the closing-edge semi-join in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must ride equi-joins:\n$p")
    graft.Caches.unpersistAll()
  }

  test("brierDecomposition is pure aggregation — no window, no " +
    "cartesian; the 1-row totals ride a broadcast") {
    val df = (0 until 400).map(i =>
      ((i * 2503L) % 1000001L, i % 3 == 0)).toDF("p", "y")
    val p = plan(graft.operators.EvalMetrics.brierDecomposition(
      df, "p", "y"))
    assert(!p.contains("Window"),
      s"a window operator appeared in brierDecomposition:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a cartesian appeared in brierDecomposition:\n$p")
  }

  test("generalizationLadder: one explode Generate, no window, no " +
    "cartesian") {
    val df = (0 until 300).map(i => (s"c${i % 4}", i.toLong - 150L))
      .toDF("cat", "v")
    val p = plan(graft.operators.PrivacyAudit.generalizationLadder(
      df, "cat", col("v"), widths = Seq(10L, 100L), k = 5L))
    assert(p.contains("Generate"),
      s"expected the widths explode in:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"unexpected operator in generalizationLadder:\n$p")
  }

  test("partitionModularity joins labels by equi-hash; only the " +
    "1-row total is a broadcast nested loop") {
    val e = (1 to 200).map(i => (i.toLong, (i % 31).toLong))
      .toDF("a", "b")
    val mem = (0 until 250).map(i => (i.toLong, (i % 5).toLong))
      .toDF("node", "lab")
    val p = plan(graft.operators.GraphRank.partitionModularity(
      e, "a", "b", mem, "node", "lab"))
    assert(!p.contains("CartesianProduct"),
      s"a cartesian appeared in partitionModularity:\n$p")
    // the single BNLJ is the broadcast of the 1-row edge total
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"more than the 1-row-total BNLJ in:\n$p")
  }

  test("rangeCountFromKeys: the anchor batch moves by broadcast; the " +
    "index join and the vector fetches stay equi-joins") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 300L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val keys = SimilaritySearch.bandKeyRows(vecs, "vec_id", "embedding",
      baseBits = 64, bands = 8, bitsPerBand = 8)
    val p = plan(SimilaritySearch.rangeCountFromKeys(keys, vecs,
      "vec_id", "embedding",
      (0L until 5L).toDF("vec_id"), "vec_id", threshold = 0.5))
    assert(p.contains("BroadcastHashJoin"),
      s"anchors must broadcast, not shuffle:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join crept into rangeCountFromKeys:\n$p")
  }

  test("kendallDailyPairs: the day-pair expansion is an equi-join on " +
    "the type-pair key, never a cartesian") {
    val DAY = 86400L * 1000000000L
    val ev = (0 until 400).map(i =>
      (s"t${i % 4}", (i % 25).toLong * DAY + 1L)).toDF("t", "ts")
    val p = plan(graft.operators.EventAnalytics.kendallDailyPairs(
      ev, "t", "ts"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi pair expansion in kendallDailyPairs:\n$p")
  }

  test("recursiveLDiversity windows partition by the class key — no " +
    "single-partition stage") {
    val df = (0 until 400).map(i => (s"c${i % 4}", (i % 13).toLong))
      .toDF("seg", "sv")
    val p = plan(graft.operators.PrivacyAudit.recursiveLDiversity(
      df, Seq("seg"), "sv", l = 3, cNum = 1L, cDen = 1L))
    assert(!p.toLowerCase.contains("singlepartition"),
      s"corpus-wide single-partition stage in recursiveLDiversity:\n$p")
  }

  test("dowSeasonality: bounded (type, dow) windows only — no " +
    "single-partition stage, no cartesian") {
    val DAY = 86400L * 1000000000L
    val ev = (0 until 400).map(i =>
      (s"t${i % 4}", (i % 30).toLong * DAY + 1L)).toDF("t", "ts")
    val p = plan(graft.operators.EventAnalytics.dowSeasonality(
      ev, "t", "ts"))
    assert(!p.toLowerCase.contains("singlepartition") &&
      !p.contains("CartesianProduct"),
      s"unexpected stage in dowSeasonality:\n$p")
  }

  test("hyperBall: register merge is equi-join + hash aggregate only — " +
    "no window, no cartesian, no single-partition stage") {
    val edges = (0L until 300L).map(i => (i, (i + 1) % 300L))
      .toDF("a", "b")
    val p = plan(graft.operators.GraphRank.hyperBall(edges, "a", "b",
      rounds = 2))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join crept into hyperBall:\n$p")
    assert(!p.contains("Window"),
      s"a window operator appeared in hyperBall:\n$p")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no corpus-wide single-partition stage may exist:\n$p")
  }

  test("bucketed co-located join: neither side shuffles — the join " +
    "consumes the bucket partitioning both scans already report") {
    val a = (1L to 500L).map(i => (i, s"p${i % 5}")).toDF("k", "prio")
    val b = (1L to 2000L).map(i => (i % 500L + 1L, i * 3L)).toDF("fk", "v")
    val ta = graft.Tables.bucketedTable(spark, "graft_audit_bkt_a", a,
      "k", buckets = 8)
    val tb = graft.Tables.bucketedTable(spark, "graft_audit_bkt_b", b,
      "fk", buckets = 8)
    // fixtures are tiny, so the planner would broadcast and bypass the
    // bucketing ("Bucketed: false (disabled by query planner)") — turn
    // broadcast off to audit the shuffle path bucketing exists for
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ta.join(tb, ta("k") === tb("fk"))
        .select(col("k"), col("v"))
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"a bucketed-on-key join must not shuffle either side:\n$p")
      assert(p.contains("Bucketed: true"),
        s"both scans must consume the bucket layout:\n$p")
      // the unbucketed twin DOES shuffle both sides — prove the contrast
      val naive = plan(a.join(b, a("k") === b("fk"))
        .select(col("k"), col("v")))
      assert(naive.contains("Exchange"),
        s"expected shuffles in the unbucketed twin:\n$naive")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("hive-partitioned store: an equality filter on the partition " +
    "column reaches the scan as a PartitionFilter, never a row filter") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_partprune").toString
    val df = (1L to 300L).map(i => (i, s"s${i % 3}", i * 7L))
      .toDF("id", "status", "v")
    val store = graft.Tables.stagedPartitionedParquet(spark,
      s"$dir/by-status", "status")(df)
    val p = plan(store.filter(col("status") === "s1")
      .groupBy(col("status")).agg(count(lit(1)).as("n")))
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("s1"),
      s"the status predicate must prune partitions at the scan:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(status)"),
      s"the partition predicate must not degrade to a data filter:\n$p")
    // the store layout really is hive-partitioned directories
    assert(new java.io.File(s"$dir/by-status/data/status=s1").isDirectory)
  }

  test("dynamic partition pruning: a dim-side filter prunes the " +
    "partitioned fact scan THROUGH the join — dynamicpruning subquery " +
    "in the fact scan's PartitionFilters (q359's 100 TB shape)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dpp").toString
    val df = (1L to 300L).map(i => (i, s"s${i % 3}", i * 7L))
      .toDF("id", "status", "v")
    val store = graft.Tables.stagedPartitionedParquet(spark,
      s"$dir/by-status", "status")(df)
    // the dim must be file-backed: a LocalRelation's filter constant-
    // folds away before the PartitionPruning rule looks for a
    // selective predicate (same reason q359 stages its dim)
    Seq(("s0", "keep"), ("s1", "drop"), ("s2", "drop"))
      .toDF("dstatus", "category")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val q = store.join(dim.filter(col("category") === "keep"),
        col("status") === col("dstatus"))
      .groupBy(col("status")).agg(sum(col("v")).as("sv"))
    val p = plan(q)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the dim filter must prune fact partitions through the join:\n$p")
    // and the static-literal assert stays true for the same store: the
    // two pruning modes coexist, DPP does not replace static pruning
    val pStatic = plan(store.filter(col("status") === "s1")
      .groupBy(col("status")).agg(count(lit(1)).as("n")))
    assert(pStatic.contains("PartitionFilters: ["),
      s"static pruning must still reach the scan:\n$pStatic")
  }

  test("fundamental scoring plans one exchange per peer level, whatever the metric count") {
    import graft.pipeline.FundamentalScorePipeline
    // a null industry reaches the sector level; with `tiny`, a 3-row
    // sector also reaches the single-partition 'all' level
    def exchanges(metrics: Seq[FundamentalScorePipeline.Metric],
        tiny: Boolean): Int = {
      val df = spark.range(64).select($"id" +:
        when(lit(tiny) && $"id" < 3, lit("tiny"))
          .otherwise(concat(lit("s"), ($"id" % 3).cast("string"))).as("sector") +:
        when($"id" === 10, lit(null).cast("string"))
          .otherwise(concat(lit("i"), ($"id" % 6).cast("string"))).as("industry") +:
        metrics.zipWithIndex.map { case (m, k) =>
          ($"id" * (k + 7) % 23 - 4).cast("double").as(m.name) }: _*)
      val p = plan(FundamentalScorePipeline(df))
      // the partitioned levels stay partitioned: the single-partition
      // 'all' level must not absorb them
      assert(p.contains("hashpartitioning(industry") &&
        p.contains("hashpartitioning(sector"),
        s"industry and sector levels must shuffle by their keys:\n$p")
      "(?m)^\\W*Exchange ".r.findAllIn(p).length
    }
    assert(FundamentalScorePipeline.all.size == 18)
    Seq(false, true).foreach { tiny =>
      val all = exchanges(FundamentalScorePipeline.all, tiny)
      assert(all <= 3,
        s"expected at most one shuffle per peer level, found $all (tiny=$tiny)")
      assert(exchanges(FundamentalScorePipeline.all.take(4), tiny) == all,
        s"adding metrics must not add shuffles (tiny=$tiny)")
    }
  }

  /** Spark jobs `body` starts on this thread, counted by a listener on
    * a fresh job group. A marker job under another group runs after
    * `body`; the listener bus delivers events in order, so once the
    * marker's start arrives every job of `body` has been counted. */
  private def jobsRunBy(body: => Unit): Int = jobsAndStagesRunBy(body)._1

  /** [[jobsRunBy]] with the stages `body`'s jobs submitted; a stage a
    * job skips (its shuffle output already there) is not counted. */
  private def jobsAndStagesRunBy(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    def groupOf(props: java.util.Properties) =
      Option(props).map(_.getProperty("spark.jobGroup.id"))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
      (jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Names of the Dataset actions (`count`, `isEmpty`, `head`,
    * `localCheckpoint`, ...) that `body` runs in this session, in order. */
  private def actionsRunBy(body: => Unit): Seq[String] =
    executionsRunBy(body).map(_._1)

  /** The Dataset actions `body` runs in this session, in order, each
    * with the `QueryExecution` it ran. Listener events arrive
    * asynchronously, so two marker actions bracket the body: events
    * before the first marker belong to earlier work, and the second
    * marker proves every event of the body has been delivered. */
  private def executionsRunBy(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (begin, end) = (s"begin_$tag", s"end_$tag")
    val runs =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val endSeen = new java.util.concurrent.CountDownLatch(1)
    @volatile var begun = false
    def record(funcName: String, qe: QueryExecution): Unit =
      qe.analyzed.output.map(_.name) match {
        case Seq(`begin`) => begun = true
        case Seq(`end`) => endSeen.countDown()
        case _ => if (begun) runs.add(funcName -> qe)
      }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = record(funcName, qe)
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(begin).collect()
      body
      spark.range(1).toDF(end).collect()
      assert(endSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the end marker never reached the listener")
      assert(begun, "the begin marker never reached the listener")
      runs.toArray(Array.empty[(String, QueryExecution)]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("the fixpoint loops run no action but their rounds' checkpoints: " +
    "each stop witness is observed in its round's own checkpoint pass") {
    import graft.operators.{Dedup, GraphRank}
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    val staged = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "component")
    val delta = Seq((2L, 5L), (6L, 9L)).toDF("a", "b")
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      .toDF("a", "b")
    val runs = Seq(
      "connectedComponents" -> actionsRunBy(
        Dedup.connectedComponents(chain, "a", "b")),
      "mergeComponentMap" -> actionsRunBy(
        Dedup.mergeComponentMap(staged, delta, "a", "b")),
      "kTruss" -> actionsRunBy(GraphRank.kTruss(k4 union chain, "a", "b", 3)),
      "hyperBallLadderWithRounds" -> actionsRunBy(
        GraphRank.hyperBallLadderWithRounds(chain, "a", "b", rounds = 10)))
    val offenders = runs.filterNot { case (_, actions) =>
      actions.nonEmpty && actions.forall(_ == "localCheckpoint")
    }
    assert(offenders.isEmpty,
      s"actions other than the rounds' checkpoints: $offenders")
    Caches.unpersistAll()
  }

  test("a repeat read of an unchanged committed version runs no Spark job; " +
    "a screener response over it runs one") {
    import graft.serve.Screeners
    import graft.sinks.MergeByKey
    val dir = java.nio.file.Files.createTempDirectory("graft_pin_jobs")
      .toString + "/t"
    MergeByKey.upsert(spark, (1 to 30).map(i => (s"S$i", "Large Cap",
      i.toDouble, i.toDouble)).toDF("symbol", "market_cap_category",
      "composite_score", "fundamental_score"), dir, "symbol")
    val first = MergeByKey.readCommitted(spark, dir)
    var again: org.apache.spark.sql.DataFrame = null
    val readJobs = jobsRunBy { again = MergeByKey.readCommitted(spark, dir) }
    assert(readJobs == 0,
      s"a repeat read of v=0 ran $readJobs jobs: it re-listed the version")
    assert(again eq first, "the repeat read must reuse the pinned relation")
    var reply = ""
    val respondJobs = jobsRunBy { reply = Screeners.respond(spark, "btst", again) }
    assert(reply.startsWith("{\"success\":true,") && reply.contains("\"count\":20,"),
      reply)
    assert(respondJobs == 1, s"a screener response ran $respondJobs jobs")
  }

  /** A committed 30-row screener store and its pinned frame. */
  private def pinnedScreenerStore(prefix: String) = {
    import graft.sinks.MergeByKey
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
    MergeByKey.upsert(spark, (1 to 30).map(i => (s"S$i",
      if (i % 2 == 0) "Large Cap" else "Small Cap", i.toDouble,
      (31 - i).toDouble)).toDF("symbol", "market_cap_category",
      "composite_score", "fundamental_score"), dir, "symbol")
    (dir, MergeByKey.readCommitted(spark, dir))
  }

  /** A screener envelope with its per-request timestamp blanked. */
  private def blank(reply: String) =
    reply.replaceAll("\"timestamp\":\"[^\"]*\"", "")

  test("a screener's first response over a pin runs 1 job of 1 stage with " +
    "no exchange or adaptive node; a repeat runs no job and answers the " +
    "same body") {
    import graft.serve.Screeners
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val (_, pin) = pinnedScreenerStore("graft_memo")
    for (name <- Seq("btst", "swing", "position")) {
      var first = ""
      var jobsAndStages = (0, 0)
      val runs = executionsRunBy {
        jobsAndStages = jobsAndStagesRunBy {
          first = blank(Screeners.respond(spark, name, pin))
        }
      }
      assert(first.startsWith("{\"success\":true,"), first)
      assert(runs.map(_._1) == Seq("collect"), s"$name: $runs")
      assert(jobsAndStages == (1, 1),
        s"a first $name response ran $jobsAndStages (jobs, stages)")
      val plan = runs.head._2.executedPlan
      assert(plan.find {
        case _: Exchange | _: AdaptiveSparkPlanExec => true
        case _ => false
      }.isEmpty, s"$name's emit plan is not single-stage:\n$plan")
      var repeat = ""
      val repeatJobs = jobsRunBy { repeat = blank(Screeners.respond(spark, name, pin)) }
      assert(repeatJobs == 0, s"a repeat $name response ran $repeatJobs jobs")
      assert(repeat == first)
    }
  }

  test("a screener response over a frame that is not a pin plans anew on " +
    "each call") {
    import graft.serve.Screeners
    val scored = (1 to 30).map(i => (s"S$i", i.toDouble, i.toDouble))
      .toDF("symbol", "composite_score", "fundamental_score")
    val first = executionsRunBy(Screeners.respond(spark, "btst", scored))
    val second = executionsRunBy(Screeners.respond(spark, "btst", scored))
    assert(first.size == 1 && second.size == 1, s"$first / $second")
    assert(!(first.head._2 eq second.head._2),
      "a frame that is not a pin must not reuse a kept plan")
  }

  test("a commit between two screener requests is visible to the second; " +
    "the old frame, no longer a pin, is computed on every call and still " +
    "answers its own snapshot") {
    import graft.serve.Screeners
    import graft.sinks.MergeByKey
    val (dir, pin) = pinnedScreenerStore("graft_memo_commit")
    var before = ""
    assert(jobsRunBy { before = blank(Screeners.respond(spark, "btst", pin)) } == 1)
    assert(before.contains("{\"symbol\":\"S30\","), before)
    assert(jobsRunBy(Screeners.respond(spark, "btst", pin)) == 0)
    MergeByKey.upsert(spark, Seq(("S1", 99.0)).toDF("symbol", "composite_score"),
      dir, "symbol")
    assert(!MergeByKey.isPinned(pin), "the commit must drop the old pin")
    val fresh = MergeByKey.readCommitted(spark, dir)
    var after = ""
    assert(jobsRunBy { after = blank(Screeners.respond(spark, "btst", fresh)) } == 1,
      "the fresh pin's first request must compute its answer")
    assert(after.contains("\"data\":[{\"symbol\":\"S1\",\"market_cap_category\":" +
      "\"Small Cap\",\"composite_score\":99.0"), after)
    var again = ""
    assert(jobsRunBy { again = blank(Screeners.respond(spark, "btst", fresh)) } == 0,
      "a repeat request over the fresh pin ran a job")
    assert(again == after)
    // the frame read before the commit is computed anew on each call and
    // still answers with the snapshot it was resolved against
    for (_ <- 1 to 2) {
      var old = ""
      assert(jobsRunBy { old = blank(Screeners.respond(spark, "btst", pin)) } == 1,
        "a frame that is no longer a pin answered from a kept result")
      assert(old == before)
    }
  }

  test("first requests racing on a fresh pin compute each screener once and " +
    "all answer the unpinned envelope") {
    import graft.serve.Screeners
    import graft.sinks.MergeByKey
    val (dir, pin) = pinnedScreenerStore("graft_memo_race")
    val names = Seq("btst", "swing", "position")
    val expected = names.map(n =>
      n -> blank(Screeners.respond(spark, n, spark.read.parquet(s"$dir/v=0")))).toMap
    names.foreach(n => assert(expected(n).contains("\"count\":"), expected(n)))
    val clients = 4
    val step = new java.util.concurrent.CyclicBarrier(clients)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val jobs = jobsRunBy {
      val threads = (0 until clients).map { _ =>
        new Thread(() => {
          try names.foreach { n =>
            step.await(120, java.util.concurrent.TimeUnit.SECONDS)
            got.add(n -> blank(Screeners.respond(spark, n, pin)))
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
    }
    assert(failures.isEmpty, failures)
    assert(MergeByKey.isPinned(pin))
    assert(got.size == clients * names.size)
    val wrong = got.toArray(Array.empty[(String, String)]).toSeq
      .filterNot { case (n, reply) => reply == expected(n) }
    assert(wrong.isEmpty, s"${wrong.size} replies differ, e.g. ${wrong.headOption}")
    assert(jobs == names.size,
      s"${clients * names.size} racing first requests ran $jobs jobs")
  }

  test("a failed screener request over a pin is not kept: the next request " +
    "runs again and answers") {
    import graft.serve.Screeners
    import graft.sinks.MergeByKey
    val (_, pin) = pinnedScreenerStore("graft_memo_failure")
    val part = new java.io.File(new java.net.URI(pin.inputFiles.head))
    val aside = new java.io.File(part.getParentFile.getParentFile, "aside.parquet")
    assert(part.renameTo(aside), s"could not move $part aside")
    val failed = try Screeners.respond(spark, "btst", pin)
      finally assert(aside.renameTo(part), s"could not move $part back")
    assert(failed.startsWith("{\"success\":false,\"data\":null,\"count\":0,"),
      failed)
    assert(MergeByKey.isPinned(pin))
    val reply = Screeners.respond(spark, "btst", pin)
    assert(reply.startsWith("{\"success\":true,") && reply.contains("\"count\":20,"),
      reply)
  }

  test("pins are bounded per JVM: past maxPins the least recently read " +
    "store is evicted and its next read lists the version again") {
    import graft.sinks.MergeByKey
    import org.apache.commons.io.FileUtils
    val root = java.nio.file.Files.createTempDirectory("graft_pin_lru").toFile
    val first = new java.io.File(root, "s0")
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), first.toString, "k")
    val stores = first +: (1 to MergeByKey.maxPins).map { i =>
      val copy = new java.io.File(root, s"s$i")
      FileUtils.copyDirectory(first, copy)
      copy
    }
    stores.foreach(d => MergeByKey.readCommitted(spark, d.toString))
    assert(jobsRunBy(MergeByKey.readCommitted(spark, stores.last.toString)) == 0)
    assert(jobsRunBy(MergeByKey.readCommitted(spark, first.toString)) == 1,
      "the least recently read of maxPins + 1 stores must have been evicted")
    FileUtils.deleteDirectory(root)
  }

  test("readCommitted right after an upsert runs no Spark job in the " +
    "writer's session; a staged store's read right after its build runs " +
    "none") {
    import graft.sinks.MergeByKey
    val root = java.nio.file.Files.createTempDirectory("graft_handed_forward")
    val rows = (1 to 50).map(i => (i.toLong, s"r$i", i * 0.5)).toDF("id", "v", "x")
    val table = s"$root/t"
    MergeByKey.upsert(spark, rows, table, "id")
    assert(jobsRunBy(MergeByKey.readCommitted(spark, table)) == 0,
      "the first commit's read-back ran a job")
    MergeByKey.upsert(spark, rows.limit(5).withColumn("x", lit(99.0)), table, "id")
    var head: org.apache.spark.sql.DataFrame = null
    assert(jobsRunBy { head = MergeByKey.readCommitted(spark, table) } == 0,
      "a read right after a merge commit ran a job")
    assert(head.filter(col("x") === 99.0).count() == 5 && head.count() == 50)
    val writeJobs = jobsRunBy(rows.write.parquet(s"$root/plain"))
    val stagedJobs = jobsRunBy(Tables.stagedParquet(spark, s"$root/staged")(rows))
    assert(stagedJobs == writeJobs,
      s"stagedParquet ran $stagedJobs jobs where its write alone runs $writeJobs")
  }

  test("a nightly refresh delta night runs no dimension probe, and no " +
    "action but its two writes and the components' checkpoints") {
    import graft.pipeline.Orchestration
    val root = java.nio.file.Files.createTempDirectory("graft_night_actions")
    def vec(seed: Int): Array[Float] = (0 until 8).map { d =>
      val h = scala.util.hashing.MurmurHash3.productHash((seed, d))
      (h % 1000) / 1000.0f
    }.toArray
    val standing = Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(1)))
      .toDF("vec_id", "embedding")
    def night(standing: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) =
      Orchestration.runNearDupRefresh(spark, standing, batch, "vec_id",
        "embedding", threshold = 0.999, s"$root/stage", s"$root/wh",
        baseBits = 128, bands = 16, bitsPerBand = 8)
    night(standing, standing.limit(0))
    val batch = Seq((4L, vec(0)), (5L, vec(1))).toDF("vec_id", "embedding")
    val runs = executionsRunBy(night(standing, batch))
    val names = runs.map(_._1)
    val probes = runs.filter { case (_, qe) =>
      qe.analyzed.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.GlobalLimit])
    }
    assert(probes.isEmpty, s"a limit action ran: ${probes.map(_._1)}")
    // the key signing and the map upsert write; everything else is a
    // round's checkpoint
    val (checkpoints, others) = runs.partition(_._1 == "localCheckpoint")
    assert(checkpoints.nonEmpty && others.size == 2 &&
      others.forall(_._2.analyzed.isInstanceOf[
        org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand]),
      s"actions other than the two writes and the checkpoints: $names")
    Caches.unpersistAll()
  }
}
