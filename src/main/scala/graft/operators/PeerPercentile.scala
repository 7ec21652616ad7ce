package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** W3 — peer-group percentile with group-size fallback
  * (SURVEY.md §2.5 W3; ref calfundamentalscore.py:137-203,256-296).
  *
  * Reference semantics, reproduced exactly:
  *  - peer group per ROW: inner partition (industry) if it has >=
  *    `minPeers` members (row count), else outer partition (sector) if >=
  *    `minPeers`, else the whole table (ref get_peer_group, MIN_PEERS=5);
  *  - percentile (higher-is-better) = 100 * (# peers with value strictly
  *    < v) / (# peers with non-null value), self included in the
  *    denominator (ref :137-159);
  *  - lower-is-better inverts to strictly-greater counts;
  *  - fewer than 2 valid peers -> neutral 50.0; NULL value -> NULL;
  *  - "valuation" metrics: value <= 0 scores 0.0 and peers are filtered
  *    to > 0 (ref :196-203, loss-maker rule).
  *
  * Implementation: pure window-rank arithmetic, no self-join and no UDAF.
  * With `rank()` over (partition ORDER BY m ASC NULLS FIRST):
  *   rank - 1 = #rows strictly before = #nulls + #non-null strictly less,
  * so strictLess = rank - 1 - (size - cntNonNull). Strictly-greater uses
  * DESC NULLS FIRST symmetrically.
  *
  * Plan shape: many metrics go through the DataFrame form `apply`, which
  * computes each peer level in its own select — all inner windows, then
  * all outer windows, then the single-partition ones — so a level costs
  * one exchange however many metrics it scores, and each metric adds
  * only a sort within it. The global level enters the plan only when
  * `needsGlobalLevel` (one aggregate query over the outer groups) finds
  * a row that reaches it. The Column form `percentile` is kept for
  * single columns and composition; several of them in one projection mix
  * inner and outer window specs, Spark orders the extracted `Window`
  * nodes by spec, so the partitionings interleave and every switch
  * re-shuffles (17 metrics planned 36 exchanges that way).
  *
  * Scale note: the global "all" fallback is a single-partition window. It
  * exists to mirror the reference exactly; at cluster scale that level
  * should come from a broadcast global aggregate instead — the fallback
  * population is by construction tiny (only rows whose sector has <
  * minPeers members).
  */
object PeerPercentile {

  /** Strict-less / strict-greater peer counts via rank arithmetic. */
  private def pct(
      m: Column, w: WindowSpec, size: Column, cntNonNull: Column,
      higherIsBetter: Boolean): Column = {
    val ordered =
      if (higherIsBetter) w.orderBy(m.asc_nulls_first)
      else w.orderBy(m.desc_nulls_first)
    val strictBefore = rank().over(ordered) - 1 - (size - cntNonNull)
    when(m.isNull, lit(null).cast("double"))
      .when(cntNonNull < 2, lit(50.0))
      .otherwise(lit(100.0) * strictBefore.cast("double") / cntNonNull.cast("double"))
  }

  /** The value a metric is ranked by, and its direction: valuation
    * metrics rank only their positive values, lower-is-better. */
  private def scoredValue(metric: Column, higherIsBetter: Boolean,
      valuation: Boolean): (Column, Boolean) =
    if (valuation) (when(metric > 0, metric), false)
    else (metric, higherIsBetter)

  /** The loss-maker rule around a valuation percentile: NULL stays NULL,
    * a value <= 0 scores 0.0 whatever its peers. */
  private def lossMaker(metric: Column, chosen: Column): Column =
    when(metric.isNull, lit(null).cast("double"))
      .when(metric <= 0, lit(0.0))
      .otherwise(chosen)

  /** The per-row inner -> outer -> global choice. Null peer-group keys
    * fall through, matching the reference's pd.notna(industry) guards
    * (calfundamentalscore.py:168-176). */
  private def fallback(inner: Seq[Column], sizeI: Column, outer: Seq[Column],
      sizeO: Column, minPeers: Int)(i: Column, o: Column, g: Column): Column =
    when(inner.map(_.isNotNull).reduce(_ && _) && sizeI >= minPeers, i)
      .when(outer.map(_.isNotNull).reduce(_ && _) && sizeO >= minPeers, o)
      .otherwise(g)

  /** Percentile of `metric` with inner->outer->global fallback.
    * `valuation = true` applies the loss-maker rule (peers filtered > 0,
    * value <= 0 scores 0.0) and scores lower-is-better (inverted), which
    * is how the reference treats valuation ratios.
    */
  def percentile(
      metric: Column,
      inner: Seq[Column],
      outer: Seq[Column],
      minPeers: Int = 5,
      higherIsBetter: Boolean = true,
      valuation: Boolean = false,
      includeGlobal: Boolean = true): Column = {
    val (m, hib) = scoredValue(metric, higherIsBetter, valuation)
    val wI = Window.partitionBy(inner: _*)
    val wO = Window.partitionBy(outer: _*)
    def level(w: WindowSpec): Column =
      pct(m, w, count(lit(1)).over(w), count(m).over(w), hib)
    // The global level is a single-partition window; Spark evaluates
    // every window in the plan for every row, so when the caller KNOWS
    // no row falls through to 'all' (see `needsGlobalLevel`), dropping
    // it removes the one non-scalable exchange from the plan.
    val globalLevel =
      if (includeGlobal) level(Window.partitionBy())
      else lit(null).cast("double")
    val chosen = fallback(inner, count(lit(1)).over(wI),
      outer, count(lit(1)).over(wO), minPeers)(level(wI), level(wO), globalLevel)
    if (valuation) lossMaker(metric, chosen) else chosen
  }

  /** True if any row would land on the global 'all' fallback — i.e. some
    * row's outer group is smaller than minPeers or has a null outer key.
    * One aggregate query: a null outer key forms its own group, so the
    * group sizes answer both questions. Lets callers drop the
    * single-partition global window from the plan when it cannot be
    * reached. */
  def needsGlobalLevel(df: DataFrame,
      outer: Seq[Column], minPeers: Int = 5): Boolean = {
    val keys = outer.indices.map(i => s"__pp_key$i")
    !df.groupBy(outer.zip(keys).map { case (c, k) => c.as(k) }: _*).count()
      .filter(keys.map(col(_).isNull).reduce(_ || _) || col("count") < minPeers)
      .isEmpty
  }

  /** One metric of the DataFrame form `apply`: `column` scored into
    * `outCol`, with the options of `percentile`. */
  case class Metric(column: String, outCol: String,
      higherIsBetter: Boolean = true, valuation: Boolean = false)

  /** DataFrame form of `percentile` and `peerLevel` over many metrics —
    * the scale path, as `HierarchicalZScore.apply` is to `contribution`.
    * Adds every metric's `outCol`, rounded to 2dp like the reference
    * (ref calculate_percentile :159), then `peer_level`; values are
    * those of `round(percentile(...), 2)` and `peerLevel` row for row.
    *
    * Each peer level is one select holding all of its windows (group
    * size, then per metric the `pct` rank arithmetic), so the plan
    * carries one exchange per level: inner, outer, and the
    * single-partition global level only when `needsGlobalLevel`. A final
    * projection picks inner → outer → global per row with the same
    * `when` chain as `percentile` and drops the per-level columns.
    */
  def apply(
      df: DataFrame,
      metrics: Seq[Metric],
      inner: Seq[String],
      outer: Seq[String],
      minPeers: Int = 5): DataFrame = {
    val innerCols = inner.map(col)
    val outerCols = outer.map(col)
    val includeGlobal = needsGlobalLevel(df, outerCols, minPeers)
    val levels = Seq("i" -> Window.partitionBy(innerCols: _*),
      "o" -> Window.partitionBy(outerCols: _*)) ++
      (if (includeGlobal) Seq("g" -> Window.partitionBy()) else Nil)
    def size(l: String) = s"__pp_size_$l"
    def tmp(l: String, i: Int) = s"__pp_${l}_$i"

    val scored = metrics.map(m =>
      scoredValue(col(m.column), m.higherIsBetter, m.valuation))
    val staged = levels.foldLeft(df) { case (d, (l, w)) =>
      // The global level reads an explicit one-partition exchange: without
      // it the optimizer's TransposeWindow may sink the unpartitioned
      // windows below the partitioned levels, and every level then runs
      // in one task.
      val in = if (l == "g") d.repartition(1) else d
      val n = count(lit(1)).over(w)
      in.select(col("*") +: n.as(size(l)) +: scored.zipWithIndex.map {
        case ((v, hib), i) => pct(v, w, n, count(v).over(w), hib).as(tmp(l, i))
      }: _*)
    }

    val pick = fallback(innerCols, col(size("i")),
      outerCols, col(size("o")), minPeers) _
    val outs = metrics.zipWithIndex.map { case (m, i) =>
      val chosen = pick(col(tmp("i", i)), col(tmp("o", i)),
        if (includeGlobal) col(tmp("g", i)) else lit(null).cast("double"))
      m.outCol -> round(
        if (m.valuation) lossMaker(col(m.column), chosen) else chosen, 2)
    }
    staged
      .withColumns(ListMap(outs :+
        ("peer_level" -> pick(lit("inner"), lit("outer"), lit("all"))): _*))
      .drop(levels.flatMap { case (l, _) =>
        size(l) +: metrics.indices.map(tmp(l, _)) }: _*)
  }

  /** Which fallback level a row lands in — the reference logs this
    * distribution as a behavioral fingerprint (SURVEY §5: industry 1567 /
    * sector 69 / all 7). */
  def peerLevel(
      inner: Seq[Column], outer: Seq[Column], minPeers: Int = 5): Column =
    fallback(inner, count(lit(1)).over(Window.partitionBy(inner: _*)),
      outer, count(lit(1)).over(Window.partitionBy(outer: _*)), minPeers)(
      lit("inner"), lit("outer"), lit("all"))
}
