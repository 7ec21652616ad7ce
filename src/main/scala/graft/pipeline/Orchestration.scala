package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.MergeByKey
import graft.sources.CsvIngest

/** End-to-end pipeline drivers mirroring the reference's cron entry
  * points (SURVEY §3.1-3.3), with the subprocess boundaries collapsed
  * into one Spark plan per stage and the REST upserts replaced by the
  * merge-by-key parquet sink. A reference user's daily/weekly flows map
  * 1:1 onto these calls.
  */
object Orchestration {

  /** §3.1 daily technical flow: newest technical CSV → canonicalize →
    * upsert into stock_data → composite scores → upsert into
    * stock_rankings. Returns the scored frame. */
  def runTechnical(spark: SparkSession, csvGlob: String,
      warehouse: String): Option[DataFrame] =
    graft.Tables.latestByMtime(spark, csvGlob).map { path =>
      val canonical = CsvIngest.canonicalize(
        CsvIngest.readCsv(spark, path), CsvIngest.technicalMap)
      MergeByKey.upsert(spark, canonical, s"$warehouse/stock_data", "symbol")
      val scored = CompositeScorePipeline(
        MergeByKey.readCommitted(spark, s"$warehouse/stock_data"))
      val rankings = scored.select(col("symbol"), col("market_cap_category"),
        col("composite_score"), current_timestamp().as("update_date"))
      MergeByKey.upsert(spark, rankings, s"$warehouse/stock_rankings", "symbol")
      scored
    }

  /** §3.2 weekly fundamental flow: fundamental CSV → canonicalize →
    * upsert into the SAME stock_data (columns merge by symbol) →
    * percentile scores + ranks → upsert score columns. */
  def runFundamental(spark: SparkSession, csvGlob: String,
      warehouse: String): Option[DataFrame] =
    graft.Tables.latestByMtime(spark, csvGlob).map { path =>
      val canonical = CsvIngest.canonicalize(
        CsvIngest.readCsv(spark, path), CsvIngest.fundamentalMap)
      MergeByKey.upsert(spark, canonical, s"$warehouse/stock_data", "symbol")
      val stock = MergeByKey.readCommitted(spark, s"$warehouse/stock_data")
      val scored = FundamentalScorePipeline(stock)
      val withCats = scored.join(
        MergeByKey.readCommitted(spark, s"$warehouse/stock_rankings")
          .select(col("symbol"), col("market_cap_category")),
        Seq("symbol"), "left")
      val ranked = FundamentalScorePipeline.withRanks(withCats)
      val scoreCols = Seq("symbol", "fundamental_score", "quality_score",
        "growth_score", "valuation_score", "health_score", "fundamental_rank")
      MergeByKey.upsert(spark,
        ranked.select(scoreCols.map(col): _*)
          .withColumn("fundamental_update_date", current_timestamp()),
        s"$warehouse/stock_rankings", "symbol")
      ranked
    }

  /** NIGHTLY NEAR-DUP REFRESH (r17 verdict #8) — the staging chain the
    * per-query gates exercise piecewise (q179 incremental pairs, q344
    * component merge, q41 sink) wired end-to-end as the production
    * cycle the README tells. Two stores under `warehouse`:
    * `neardup_keys`, the band keys of every id merged so far, and
    * `neardup_components`, the committed (node, component) map. A night
    * costs what its delta costs:
    *
    *   1. every id of standing ∪ batch that the key store lacks — the
    *      batch, and any standing id no earlier night signed — is
    *      signed once ([[SimilaritySearch.signNewBandKeys]]); those keys
    *      probe the stored keys ∪ themselves for candidates, and only
    *      candidates are cosine-verified;
    *   2. yesterday's committed label map merges with the new pairs
    *      (star contraction ∪ delta — merge == full recompute, the q344
    *      contract). The first night, with no committed map, feeds the
    *      whole pair surface of the keys to connectedComponents instead;
    *   3. the merged map upserts through the merge-by-key sink — the
    *      snapshot readers keep resolving while the refresh runs;
    *   4. only then do the new keys join the key store, so a night that
    *      dies before its commit signs its ids again on the re-run
    *      instead of skipping them.
    *
    * A night with nothing to sign (a re-run of the same night, an empty
    * batch) commits nothing and returns the committed map. The caller
    * hands in the grown corpus as `standing` each night; nothing in it
    * is signed twice. `stageDir` is not used: the keys live in
    * `warehouse`, and the parameter stays so callers need not change.
    * One writer per warehouse. Returns the committed label map. */
  def runNearDupRefresh(spark: SparkSession, standing: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, stageDir: String, warehouse: String,
      baseBits: Int, bands: Int, bitsPerBand: Int): DataFrame = {
    import graft.operators.{Dedup, SimilaritySearch}
    val table = s"$warehouse/neardup_components"
    val keyStore = s"$warehouse/neardup_keys"
    val vectors = standing.unionByName(batch)
    val keys = SimilaritySearch.signNewBandKeys(vectors, idCol, vecCol,
      keyStore, baseBits, bands, bitsPerBand)
    val committed = MergeByKey.committedVersion(spark, table)
    if (committed.isEmpty || keys.freshRows > 0) {
      val merged = committed match {
        case Some(_) =>
          Dedup.mergeComponentMap(
            MergeByKey.readCommitted(spark, table)
              .select(col("node"), col("component")),
            SimilaritySearch.incrementalNearDupFromKeys(keys.all, keys.fresh,
              vectors, idCol, vecCol, threshold).select(col("id_a"), col("id_b")),
            "id_a", "id_b")
        case None =>
          Dedup.connectedComponents(
            SimilaritySearch.embeddingNearDupFromKeys(keys.all, vectors,
              idCol, vecCol, threshold).select(col("id_a"), col("id_b")),
            "id_a", "id_b")
      }
      MergeByKey.upsert(spark, merged, table, "node")
    }
    SimilaritySearch.publishBandKeys(spark, keyStore, keys)
    MergeByKey.readCommitted(spark, table)
  }

  /** §3.3 sector/industry momentum flow: merged group table → parse +
    * min-max + 3-horizon scores → keyed update of the score columns
    * only (S9). */
  def runGroupMomentum(spark: SparkSession, groupTable: DataFrame,
      warehouse: String, tableName: String, keyCol: String): DataFrame = {
    val scored = GroupMomentumPipeline(groupTable)
      .withColumn("updated_at", current_timestamp())
    MergeByKey.upsert(spark, scored, s"$warehouse/$tableName", keyCol,
      overwriteColumns = Some(Seq("normalized_score_3m", "normalized_score_6m",
        "normalized_score_1y", "updated_at")))
    scored
  }
}
