package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Semantics fixtures for W1-W5 per FIXTURES.md §7 edge cases. */
class WindowOpsSpec extends SparkSpec {
  import spark.implicits._

  // (id, cap, sector, industry, metric)
  private def zFixture = Seq(
    // industry i1 has 3 members -> inner z-score, weight 1.0
    (1L, "L", "s1", "i1", 10.0),
    (2L, "L", "s1", "i1", 20.0),
    (3L, "L", "s1", "i1", 30.0),
    // industry i2 has 1 member -> falls to sector, weight 0.8
    (4L, "L", "s1", "i2", 40.0),
    // sector s2: industry i3 with 2 members but only 2 non-null peers
    // (< minPeers=3) -> contribution 0
    (5L, "L", "s2", "i3", 5.0),
    (6L, "L", "s2", "i3", 7.0),
    // sector s3: constant metric -> std 0 -> contribution 0
    (7L, "L", "s3", "i4", 1.0),
    (8L, "L", "s3", "i4", 1.0),
    (9L, "L", "s3", "i4", 1.0)
  ).toDF("id", "cap", "sector", "industry", "m")

  test("hierarchical z-score: inner group, sample std, weight 1.0") {
    val out = HierarchicalZScore(zFixture, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    // i1: mean 20, stddev_samp 10 -> z = -1, 0, 1
    assert(out(1L) == -1.0 && out(2L) == 0.0 && out(3L) == 1.0)
  }

  test("hierarchical z-score: singleton industry falls back to sector x0.8") {
    val out = HierarchicalZScore(zFixture, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    // id 4: sector s1 group {10,20,30,40}: mean 25, std_samp = 12.909944...
    val exp = 0.8 * (40.0 - 25.0) / 12.909944487358056
    assert(math.abs(out(4L) - math.rint(exp * 100) / 100) < 1e-9)
  }

  test("hierarchical z-score: <3 peers and zero-std groups contribute 0") {
    val out = HierarchicalZScore(zFixture, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    assert(out(5L) == 0.0 && out(6L) == 0.0)
    assert(out(7L) == 0.0 && out(8L) == 0.0 && out(9L) == 0.0)
  }

  test("hierarchical z-score: NULL metric contributes 0") {
    val df = Seq(
      (1L, "s", "i", Some(1.0)), (2L, "s", "i", Some(2.0)),
      (3L, "s", "i", Some(3.0)), (4L, "s", "i", None)
    ).toDF("id", "sector", "industry", "m")
    val out = HierarchicalZScore(df, Seq("m" -> 1.0),
      inner = Seq("sector", "industry"), outer = Seq("sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    assert(out(4L) == 0.0)
  }

  // percentile fixture: group sizes straddle minPeers=5
  private def pctFixture = Seq(
    // nation n1 in segment A: 5 members -> inner level
    (1L, "A", 1, Some(10.0)), (2L, "A", 1, Some(20.0)), (3L, "A", 1, Some(20.0)),
    (4L, "A", 1, Some(30.0)), (5L, "A", 1, None),
    // nation n2 in segment A: 2 members -> outer (segment A has 7 rows)
    (6L, "A", 2, Some(-5.0)), (7L, "A", 2, Some(50.0)),
    // segment B: 3 rows total -> all-level fallback
    (8L, "B", 3, Some(1.0)), (9L, "B", 3, Some(2.0)), (10L, "B", 4, Some(3.0))
  ).toDF("id", "seg", "nat", "v")

  test("hierarchical z-score: money-magnitude groups don't overflow the decimal accumulators") {
    // Σx² ≈ 3,500 × (1.4e6)² ≈ 6.9e15 — above the ~1e14 cap of a
    // DECIMAL(18,4) accumulator (the round-2 regression: ANSI
    // NUMERIC_VALUE_OUT_OF_RANGE at sf0.01; silent all-zero scores with
    // ANSI off). Values are exact multiples of 0.25 so both the 2dp
    // decimals and the doubles are exact, and the expected z-scores can
    // be recomputed locally with the identical formula.
    val n = 3500
    val vals = (1 to n).map(i => 1000000.0 + i * 137.25)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "L", "s1", "i1", v) }
      .toDF("id", "cap", "sector", "industry", "m")
    val out = HierarchicalZScore(df, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    assert(out.size == n)
    // local exact mirror: decimal Σx/Σx², varnum = n·Σx² − (Σx)², one
    // double formula, HALF_UP 2dp round — same as the operator
    val sx = vals.map(v => BigDecimal(v).setScale(2)).sum
    val sxx = vals.map { v => val d = BigDecimal(v).setScale(2); d * d }.sum
    val varnum = BigDecimal(n) * sxx - sx * sx
    assert(varnum > 0, "variance numerator must be positive (not overflowed/nulled)")
    val cntD = n.toDouble
    val mu = sx.toDouble / cntD
    val sd = math.sqrt(varnum.toDouble / (cntD * (cntD - 1.0)))
    vals.zipWithIndex.foreach { case (v, i) =>
      val exp = new java.math.BigDecimal((v - mu) / sd)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue
      assert(math.abs(out(i.toLong) - exp) < 1e-12,
        s"id=$i spark=${out(i.toLong)} expected=$exp")
    }
    assert(out.values.exists(_ != 0.0), "z-scores must not be silently zeroed")
  }

  test("peer percentile: strict-less with ties, nulls excluded from denominator") {
    val out = pctFixture.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg", $"nat"), Seq($"seg")).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // group (A,1): size 5 -> inner. valid = {10,20,20,30}, n=4
    assert(out(1L) == Some(0.0))          // 0 strictly below
    assert(out(2L) == Some(25.0))         // only 10 below (strict: ties not counted)
    assert(out(3L) == Some(25.0))
    assert(out(4L) == Some(75.0))
    assert(out(5L) == None)               // null value -> null
  }

  test("peer percentile: group-size fallback inner->outer->all") {
    val lvl = pctFixture.select($"id",
      PeerPercentile.peerLevel(Seq($"seg", $"nat"), Seq($"seg")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lvl(1L) == "inner")
    assert(lvl(6L) == "outer") // nation group of 2 < 5, segment A = 7 rows
    assert(lvl(8L) == "all")   // segment B = 3 rows < 5
    // id 6 (-5.0) against segment A valid {10,20,20,30,-5,50}: 0 below -> 0%
    val out = pctFixture.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg", $"nat"), Seq($"seg")).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(6L) == Some(0.0))
    assert(out(7L) == Some(100.0 * 5 / 6))
  }

  test("peer percentile: valuation rule (<=0 scores 0, peers filtered positive, inverted)") {
    val df = Seq(
      (1L, "g", Some(10.0)), (2L, "g", Some(20.0)), (3L, "g", Some(-3.0)),
      (4L, "g", Some(40.0)), (5L, "g", None), (6L, "g", Some(0.0))
    ).toDF("id", "seg", "v")
    val out = df.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg"), Seq($"seg"),
        valuation = true).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(3L) == Some(0.0) && out(6L) == Some(0.0)) // loss-makers
    assert(out(5L) == None)
    // positive peers {10,20,40}; lower-is-better: 10 beats 2 -> 2/3
    assert(out(1L) == Some(100.0 * 2 / 3))
    assert(out(2L) == Some(100.0 * 1 / 3))
    assert(out(4L) == Some(0.0))
  }

  test("peer percentile: fewer than 2 valid peers -> neutral 50") {
    val df = Seq(
      (1L, "g", 1, Some(10.0)), (2L, "g", 1, None), (3L, "g", 1, None),
      (4L, "g", 1, None), (5L, "g", 1, None)
    ).toDF("id", "seg", "nat", "v")
    val out = df.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg", $"nat"), Seq($"seg")).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(50.0))
  }

  test("needsGlobalLevel: a null outer key or a small outer group reaches 'all'") {
    def frame(rows: Seq[Option[String]]) = rows.zipWithIndex
      .map { case (seg, i) => (i.toLong, seg) }.toDF("id", "seg")
    val fiveA = Seq.fill(5)(Option("A"))
    // the null-keyed group has 5 rows: only its null key can trigger
    assert(PeerPercentile.needsGlobalLevel(
      frame(fiveA ++ Seq.fill(5)(Option.empty[String])), Seq($"seg")))
    assert(PeerPercentile.needsGlobalLevel(
      frame(fiveA ++ Seq.fill(4)(Option("B"))), Seq($"seg")))
    assert(!PeerPercentile.needsGlobalLevel(
      frame(fiveA ++ Seq.fill(6)(Option("B"))), Seq($"seg")))
  }

  // pctFixture widened to every branch of the fallback and the scoring
  // rules: a null industry (nat) and a null sector (seg), a valuation
  // metric with <= 0 and NULL values, ties, a metric with < 2 valid
  // peers in a group, an all-NULL metric and a lower-is-better metric.
  private def pctWideFixture = Seq[(Long, Option[String], Option[Int],
      Option[Double], Option[Double], Option[Double], Option[Double], Option[Double])](
    // (A,1): 5 members -> inner; `few` has one valid value here
    (1L, Some("A"), Some(1), Some(10.0), Some(15.0), Some(3.0), None, Some(0.5)),
    (2L, Some("A"), Some(1), Some(20.0), Some(-1.0), None, None, Some(0.5)),
    (3L, Some("A"), Some(1), Some(20.0), Some(0.0), None, None, Some(1.5)),
    (4L, Some("A"), Some(1), Some(30.0), None, None, None, Some(2.0)),
    (5L, Some("A"), Some(1), None, Some(15.0), None, None, None),
    // (A,2): 2 members -> outer (segment A has 8 rows)
    (6L, Some("A"), Some(2), Some(-5.0), Some(8.0), Some(1.0), None, Some(0.1)),
    (7L, Some("A"), Some(2), Some(50.0), Some(40.0), None, None, Some(0.5)),
    // null industry -> outer
    (8L, Some("A"), None, Some(25.0), Some(12.0), Some(2.0), None, Some(3.0)),
    // segment B: 3 rows -> all
    (9L, Some("B"), Some(3), Some(1.0), Some(2.0), None, None, Some(0.2)),
    (10L, Some("B"), Some(3), Some(2.0), Some(-4.0), None, None, Some(0.2)),
    (11L, Some("B"), Some(4), Some(3.0), Some(6.0), Some(5.0), None, None),
    // null sector -> all
    (12L, None, Some(1), Some(20.0), Some(9.0), None, None, Some(1.0))
  ).toDF("id", "seg", "nat", "v", "pe", "few", "none", "debt")

  private val wideMetrics = Seq(
    PeerPercentile.Metric("v", "p_v"),
    PeerPercentile.Metric("pe", "p_pe", higherIsBetter = false, valuation = true),
    PeerPercentile.Metric("few", "p_few"),
    PeerPercentile.Metric("none", "p_none"),
    PeerPercentile.Metric("debt", "p_debt", higherIsBetter = false))

  /** (DataFrame form, Column form) over `df`, both sorted by id. */
  private def bothForms(df: org.apache.spark.sql.DataFrame) = {
    val inner = Seq("seg", "nat")
    val outer = Seq("seg")
    val out = $"id" +: wideMetrics.map(m => col(m.outCol)) :+ $"peer_level"
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.select(out: _*).orderBy($"id").collect().map(_.toSeq).toSeq
    val frame = sorted(PeerPercentile(df, wideMetrics, inner, outer))
    val column = sorted(df.select($"*" +: wideMetrics.map(m =>
      round(PeerPercentile.percentile(col(m.column), inner.map(col),
        outer.map(col), higherIsBetter = m.higherIsBetter,
        valuation = m.valuation), 2).as(m.outCol)) :+
      PeerPercentile.peerLevel(inner.map(col), outer.map(col)).as("peer_level"): _*))
    (frame, column)
  }

  test("peer percentile: DataFrame form equals the Column form, global level reached") {
    val df = pctWideFixture
    assert(PeerPercentile.needsGlobalLevel(df, Seq($"seg")))
    val (frame, column) = bothForms(df)
    assert(frame.size == 12)
    assert(frame.map(_.last).toSet == Set("inner", "outer", "all"))
    assert(frame == column)
    // spot values: ties, < 2 valid peers, the valuation rule
    val byId = frame.map(r => r.head -> r).toMap
    assert(byId(2L)(1) == 25.0 && byId(3L)(1) == 25.0)
    assert(byId(1L)(3) == 50.0)
    assert(byId(2L)(2) == 0.0 && byId(3L)(2) == 0.0 && byId(4L)(2) == null)
    assert(frame.forall(_(4) == null))
  }

  test("peer percentile: DataFrame form equals the Column form, global level not reached") {
    val df = pctWideFixture.filter($"seg" === "A")
    assert(!PeerPercentile.needsGlobalLevel(df, Seq($"seg")))
    val (frame, column) = bothForms(df)
    assert(frame.size == 8)
    assert(frame.map(_.last).toSet == Set("inner", "outer"))
    assert(frame == column)
  }

  test("bandByRank: thresholds, null value -> null band, deterministic ties") {
    val df = (1L to 600L).map(i => (i, Some(1000.0 - (i - 1)))).toDF("id", "v")
      .union(Seq((601L, Option.empty[Double])).toDF("id", "v"))
    val out = RankOps.bandByRank(df, $"v", $"id",
      Seq(100L -> "Large", 250L -> "Mid", 500L -> "Small"), "Micro")
      .select($"id", $"band").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(100L) == "Large" && out(101L) == "Mid")
    assert(out(250L) == "Mid" && out(251L) == "Small")
    assert(out(500L) == "Small" && out(501L) == "Micro")
    assert(out(601L) == null)
  }

  test("bandByRankScalable matches window-based banding") {
    val df = (1L to 300L).map(i => (i, Some((i * 37 % 101).toDouble))).toDF("id", "v")
    val a = RankOps.bandByRank(df, $"v", $"id",
      Seq(50L -> "A", 150L -> "B"), "C").select($"id", $"band").rowsSet
    val b = RankOps.bandByRankScalable(df, "v", "id",
      Seq(50L -> "A", 150L -> "B"), "C").select($"id", $"band").rowsSet
    assert(a == b)
  }

  test("minMaxNorm: constant group -> 1.0, null passes through") {
    val df = Seq(("g1", Some(10.0)), ("g1", Some(30.0)), ("g1", None),
      ("g2", Some(7.0)), ("g2", Some(7.0))).toDF("g", "v")
    val out = df.select($"g", $"v",
      RankOps.minMaxNorm($"v", $"g").as("n")).collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    assert(out.contains(("g1", Some(10.0), Some(0.0))))
    assert(out.contains(("g1", Some(30.0), Some(1.0))))
    assert(out.contains(("g1", None, None)))
    assert(out.contains(("g2", Some(7.0), Some(1.0))))
  }

  test("rankInGroup and topK determinism under ties") {
    val df = Seq((1L, "g", 5.0), (2L, "g", 5.0), (3L, "g", 9.0)).toDF("id", "g", "v")
    val ranks = df.select($"id",
      RankOps.rankInGroup($"v", $"id", $"g").as("r")).rowsSet
    assert(ranks == Set(Seq(3L, 1), Seq(1L, 2), Seq(2L, 3)))
    val top = RankOps.topK(df, 2, $"v", $"id").select($"id").rowsSet
    assert(top == Set(Seq(3L), Seq(1L)))
  }

  test("weighted scores: renormalization on missing metrics") {
    val df = Seq((1L, Some(10.0), Some(20.0)), (2L, Some(10.0), None),
      (3L, Option.empty[Double], Option.empty[Double])).toDF("id", "a", "b")
    val out = df.select($"id",
      WeightedScore.weightedSum(Seq($"a" -> 0.75, $"b" -> 0.25)).as("ws"),
      WeightedScore.renormalizedWeightedAvg(Seq($"a" -> 0.75, $"b" -> 0.25)).as("wa"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(12.5), Some(12.5)))
    assert(out(2L) == (Some(7.5), Some(10.0))) // renorm: only weight 0.75 active
    assert(out(3L) == (Some(0.0), None))
  }
}
