package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cleanse
import graft.operators.{HierarchicalZScore, RankOps}

/** The reference's daily technical scoring pipeline, Spark-first
  * (ref calcompositescore.py — the ~300-line pandas loop collapses into
  * one declarative plan: feature projection → global-rank banding → two
  * window families → weighted sum).
  *
  * Input: a `stock_data`-shaped DataFrame (FIXTURES.md §1/§3 canonical
  * column names). Output: input + feature columns + `market_cap_category`
  * + `composite_score` (2dp).
  *
  * Divergence note (documented, intentional): when a sector holds both a
  * singleton industry and larger ones, the reference's dict-accumulate
  * pivot makes scores order-dependent (sector-level fallback entries can
  * overwrite industry entries depending on industry iteration order,
  * calcompositescore.py:284-299 + :144-158). We implement the intended
  * per-row rule: a row uses its industry group when that group has >= 2
  * members, else its sector group at 0.8 weight.
  */
object CompositeScorePipeline {

  /** Weights from calcompositescore.py:161-186 (sum 67.5 across 24
    * metrics — SURVEY §5 invariant). */
  val weights: Seq[(String, Double)] = Seq(
    "rsi_14_1_day" -> 3.0,
    "momentum_10_1_day" -> 3.0,
    "roc_9_1_day" -> 3.0,
    "macd_12_26_level_1_day" -> 3.0,
    "adx_14_1_day" -> 3.0,
    "stochastic_k_14_3_3_1_day" -> 2.5,
    "cci_20_1_day" -> 2.5,
    "sma50_relative" -> 2.0,
    "sma200_relative" -> 2.0,
    "bollinger_upper_relative" -> 2.0,
    "bollinger_middle_relative" -> 2.0,
    "bollinger_lower_relative" -> 2.0,
    "chaikin_money_flow_20_1_day" -> 3.0,
    "performance_ytd" -> 2.0,
    "performance_1_year" -> 2.0,
    "performance_6_months" -> 3.0,
    "performance_3_months" -> 3.0,
    "performance_1_month" -> 4.0,
    "performance_1_week" -> 5.0,
    "analyst_rating_score" -> 5.0,
    "target_price_performance_1_year" -> 3.0,
    "macd_histogram" -> 3.0,
    "chaikin_money_flow_20_1_week" -> 2.0,
    "chaikin_money_flow_20_1_month" -> 2.5)

  val bands: Seq[(Long, String)] =
    Seq(100L -> "Large Cap", 250L -> "Mid Cap", 500L -> "Small Cap")

  /** Feature projection: rating ordinal (F3), price-relative features
    * (F4), MACD histogram (F5) — calcompositescore.py:100-139. Absent
    * input columns read as NULL, mirroring the reference's
    * missing-column tolerance (its scoring loop skips columns not in
    * the frame). */
  def features(df: DataFrame): DataFrame = {
    def c(name: String) =
      if (df.columns.contains(name)) col(name) else lit(null).cast("double")
    val price = c("price")
    df
      .withColumn("analyst_rating_score",
        Cleanse.ratingOrdinal(
          if (df.columns.contains("analyst_rating")) col("analyst_rating")
          else lit(null).cast("string")).cast("double"))
      .withColumn("sma50_relative", Cleanse.relDiff(c("sma_50_1_day"), price))
      .withColumn("sma200_relative", Cleanse.relDiff(c("sma_200_1_day"), price))
      .withColumn("bollinger_upper_relative",
        Cleanse.relDiff(c("bollinger_upper_20_1_day"), price))
      .withColumn("bollinger_middle_relative",
        Cleanse.relDiff(c("bollinger_basis_20_1_day"), price))
      .withColumn("bollinger_lower_relative",
        Cleanse.relDiff(c("bollinger_lower_20_1_day"), price))
      .withColumn("macd_histogram",
        Cleanse.macdHistogram(c("macd_12_26_level_1_day"),
          c("macd_12_26_signal_1_day")))
  }

  def apply(stockData: DataFrame): DataFrame = {
    val banded = RankOps.bandByRank(features(stockData),
      col("market_capitalization"), col("symbol"),
      bands, "Micro Cap", outCol = "market_cap_category")
    val present = weights.filter { case (m, _) => banded.columns.contains(m) }
    HierarchicalZScore(banded, present,
      inner = Seq("market_cap_category", "sector", "industry"),
      outer = Seq("market_cap_category", "sector"),
      outCol = "composite_score")
  }
}
