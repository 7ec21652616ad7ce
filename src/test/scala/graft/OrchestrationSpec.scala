package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Orchestration
import graft.serve.Screeners

/** End-to-end: technical CSV -> stock_data -> composite scores ->
  * rankings; fundamental CSV merges onto the same rows; screeners serve
  * from the result. The full reference daily+weekly cycle on files. */
class OrchestrationSpec extends SparkSpec {
  import spark.implicits._

  test("technical + fundamental cycle over a file warehouse") {
    val dir = Files.createTempDirectory("graft_e2e")
    val wh = s"$dir/warehouse"

    // 6 symbols across 2 sectors / 3 industries with enough numeric
    // spread to produce non-trivial scores
    val techCsv = (Seq(
      "Symbol,Sector,Industry,Price,Market capitalization,Analyst Rating," +
        "Relative Strength Index (14) 1 day,Performance % 1 week") ++
      Seq(
        "AAA,Energy,Oil,100,6000000000,Buy,61,2.5",
        "BBB,Energy,Oil,90,5000000000,Hold,55,1.0",
        "CCC,Energy,Oil,80,4000000000,Sell,40,-1.5",
        "DDD,Energy,Gas,70,3000000000,Buy,70,3.0",
        "EEE,Tech,Software,60,2000000000,Strong Buy,65,4.0",
        "FFF,Tech,Software,50,1000000000,Neutral,40,0.5")).mkString("\n")
    Files.writeString(dir.resolve("Technicals_2026-01-01.csv"), techCsv)

    val scored = Orchestration.runTechnical(
      spark, s"$dir/Technicals_*.csv", wh)
    assert(scored.isDefined)
    val rankings = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/stock_rankings")
    assert(rankings.count() == 6)
    assert(rankings.filter($"market_cap_category" === "Large Cap").count() == 6)
    assert(rankings.select($"composite_score").filter($"composite_score" =!= 0.0).count() > 0)

    // weekly fundamentals merge onto the SAME stock_data rows
    // headers containing commas are quoted, as in the real screener export
    val fundaCsv = (Seq(
      "Symbol,Sector,Industry,\"Return on equity %, Trailing 12 months\"," +
        "Price to earnings ratio") ++
      Seq(
        "AAA,Energy,Oil,25,12", "BBB,Energy,Oil,18,18", "CCC,Energy,Oil,9,25",
        "DDD,Energy,Gas,30,8", "EEE,Tech,Software,40,35", "FFF,Tech,Software,5,-4"))
      .mkString("\n")
    Files.writeString(dir.resolve("funda_2026-01-05.csv"), fundaCsv)

    val ranked = Orchestration.runFundamental(spark, s"$dir/funda_*.csv", wh)
    assert(ranked.isDefined)
    val stock = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/stock_data")
    // technical AND fundamental columns coexist on merged rows
    val aaa = stock.filter($"symbol" === "AAA").collect()(0)
    assert(aaa.getAs[Double]("rsi_14_1_day") == 61.0)
    assert(aaa.getAs[Double]("return_on_equity_ttm") == 25.0)

    val finalRankings = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/stock_rankings")
    assert(finalRankings.columns.contains("fundamental_score"))
    assert(finalRankings.filter($"fundamental_rank" >= 1).count() == 6)

    // serving surface over the merged rankings
    val resp = Screeners.respond(spark, "position", finalRankings)
    assert(resp.contains("\"success\":true") && resp.contains("\"count\":6"))
  }

  test("nightly near-dup refresh: first night builds the full map from " +
    "the staged keys, the delta night merges == full recompute, both " +
    "committed through the sink (r17 verdict #8)") {
    import graft.operators.{Dedup, SimilaritySearch}
    val dir = Files.createTempDirectory("graft_refresh")
    val wh = s"$dir/warehouse"
    val stage = s"$dir/stage/night1"
    def vec(seed: Int): Array[Float] = (0 until 8).map { d =>
      val h = scala.util.hashing.MurmurHash3.productHash((seed, d))
      (h % 1000) / 1000.0f
    }.toArray
    // standing: {1,2} are exact twins, 3 stands alone
    val standing = Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(1)))
      .toDF("vec_id", "embedding")
    val night1 = Orchestration.runNearDupRefresh(spark, standing,
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.999, stage, wh,
      baseBits = 128, bands = 16, bitsPerBand = 8)
    assert(night1.rowsSet == Set(Seq(1L, 1L), Seq(2L, 1L)),
      "first night: full build labels the twin cluster, singletons absent")
    // night 2: 4 joins cluster {1,2}; 5 pairs with the singleton 3
    val batch = Seq((4L, vec(0)), (5L, vec(1))).toDF("vec_id", "embedding")
    val night2 = Orchestration.runNearDupRefresh(spark, standing, batch,
      "vec_id", "embedding", threshold = 0.999, stage, wh,
      baseBits = 128, bands = 16, bitsPerBand = 8)
    // merge == full recompute over the grown corpus (the q344 contract,
    // here proven through the committed table, not just the operator)
    val all = standing.unionByName(batch)
    val fullPairs = SimilaritySearch.embeddingNearDupFromKeys(
      SimilaritySearch.bandKeyRows(all, "vec_id", "embedding", 128, 16, 8),
      all, "vec_id", "embedding", 0.999)
    val full = Dedup.connectedComponents(fullPairs, "id_a", "id_b")
    assert(night2.rowsSet == full.rowsSet,
      "delta merge through the sink equals the full rebuild")
    assert(night2.rowsSet == Set(Seq(1L, 1L), Seq(2L, 1L), Seq(4L, 1L),
      Seq(3L, 3L), Seq(5L, 3L)))
    // two sink commits happened: v=0 (night 1) then v=1 (night 2)
    assert(graft.sinks.MergeByKey.committedVersion(spark,
      s"$wh/neardup_components") === Some(1L))
  }

  /** A deterministic 8-d vector per seed: equal seeds are exact twins. */
  private def vec8(seed: Int): Array[Float] = (0 until 8).map { d =>
    val h = scala.util.hashing.MurmurHash3.productHash((seed, d))
    (h % 1000) / 1000.0f
  }.toArray

  test("nightly near-dup refresh over a growing corpus: each night's key " +
    "store is a fresh signing of the grown corpus, its map a full " +
    "recompute, and a re-run of a night changes neither") {
    import graft.operators.{Dedup, SimilaritySearch}
    import graft.sinks.MergeByKey
    val dir = Files.createTempDirectory("graft_refresh_grow")
    val wh = s"$dir/warehouse"
    def frame(rows: (Long, Int)*) =
      rows.map { case (id, seed) => (id, vec8(seed)) }.toDF("vec_id", "embedding")
    // night 1 builds; nights 2-4 each bring twins of earlier ids, a
    // bridge between two clusters, and loners
    val batches = Seq(
      frame(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 2),
      frame(5L -> 1, 6L -> 3, 7L -> 3),
      frame(8L -> 0, 9L -> 4, 10L -> 5),
      frame(11L -> 4, 12L -> 3, 13L -> 6))
    def refresh(standing: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame, night: Int) =
      Orchestration.runNearDupRefresh(spark, standing, batch, "vec_id",
        "embedding", threshold = 0.999, s"$dir/stage/night$night", wh,
        baseBits = 128, bands = 16, bitsPerBand = 8)
    def keyRows = spark.read.parquet(s"$wh/neardup_keys")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def mapRows(m: org.apache.spark.sql.DataFrame) =
      m.select("node", "component").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    var standing = batches.head
    val empty = frame()
    batches.zipWithIndex.foreach { case (b, i) =>
      val batch = if (i == 0) empty else b
      val night = refresh(standing, batch, i + 1)
      val grown = if (i == 0) standing else standing.unionByName(batch)
      val fresh = SimilaritySearch.bandKeyRows(grown, "vec_id", "embedding",
        128, 16, 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(keyRows == fresh, s"night ${i + 1}: key store != fresh signing")
      val full = Dedup.connectedComponents(
        SimilaritySearch.embeddingNearDupFromKeys(
          SimilaritySearch.bandKeyRows(grown, "vec_id", "embedding", 128, 16, 8),
          grown, "vec_id", "embedding", 0.999), "id_a", "id_b")
      assert(mapRows(night) == mapRows(full),
        s"night ${i + 1}: merged map != full recompute")
      // the same night again: nothing to sign, nothing to commit
      val version = MergeByKey.committedVersion(spark, s"$wh/neardup_components")
      val again = refresh(standing, batch, i + 1)
      assert(keyRows == fresh, s"night ${i + 1} re-run changed the key store")
      assert(mapRows(again) == mapRows(full),
        s"night ${i + 1} re-run changed the map")
      assert(MergeByKey.committedVersion(spark, s"$wh/neardup_components") ==
        version, s"night ${i + 1} re-run committed a version")
      standing = grown
    }
    assert(mapRows(MergeByKey.readCommitted(spark, s"$wh/neardup_components")) ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 5L -> 3L, 6L -> 6L, 7L -> 6L,
        8L -> 1L, 9L -> 9L, 11L -> 9L, 12L -> 6L))
  }

  test("the nightly refresh signs a standing id its key store lacks") {
    import graft.operators.SimilaritySearch
    val dir = Files.createTempDirectory("graft_refresh_lacks")
    val wh = s"$dir/warehouse"
    val first = Seq((1L, vec8(0)), (2L, vec8(1))).toDF("vec_id", "embedding")
    def refresh(standing: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) =
      Orchestration.runNearDupRefresh(spark, standing, batch, "vec_id",
        "embedding", threshold = 0.999, s"$dir/stage", wh,
        baseBits = 128, bands = 16, bitsPerBand = 8)
    refresh(first, first.limit(0))
    // id 3 joins the standing corpus without a night of its own; the
    // next night must sign it and find its twin 1 anyway
    val standing = first.unionByName(Seq((3L, vec8(0))).toDF("vec_id", "embedding"))
    val night = refresh(standing, Seq((4L, vec8(1))).toDF("vec_id", "embedding"))
    assert(night.rowsSet == Set(Seq(1L, 1L), Seq(3L, 1L), Seq(2L, 2L), Seq(4L, 2L)))
    val all = standing.unionByName(Seq((4L, vec8(1))).toDF("vec_id", "embedding"))
    assert(spark.read.parquet(s"$wh/neardup_keys").rowsSet ==
      SimilaritySearch.bandKeyRows(all, "vec_id", "embedding", 128, 16, 8).rowsSet)
  }

  test("a schema handed forward equals the inferred one, nullability " +
    "included: staged corpus, key store, committed version") {
    import org.apache.spark.sql.types._
    import graft.operators.SimilaritySearch
    import graft.sinks.MergeByKey
    val dir = Files.createTempDirectory("graft_schema_forward")
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("tag", StringType)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Array(0.5f, 0.25f), "a"),
      org.apache.spark.sql.Row(2L, Array(0.5f, 0.25f), null))
    val df = spark.createDataFrame(rows, schema)
    def inferred(path: String) = spark.read.parquet(path).schema
    val corpus = Tables.stagedParquet(spark, s"$dir/corpus")(df)
    assert(corpus.schema == inferred(s"$dir/corpus/data"))
    val keys = SimilaritySearch.stagedBandKeys(df, "vec_id", "embedding",
      s"$dir/keys", 64, 4, 8)
    assert(keys.schema == inferred(s"$dir/keys/keys"))
    val signed = SimilaritySearch.signNewBandKeys(df, "vec_id", "embedding",
      s"$dir/store", 64, 4, 8)
    assert(signed.fresh.schema == inferred(s"$dir/store/_delta"))
    SimilaritySearch.publishBandKeys(spark, s"$dir/store", signed)
    val again = SimilaritySearch.signNewBandKeys(df, "vec_id", "embedding",
      s"$dir/store", 64, 4, 8)
    assert(again.freshRows == 0L)
    assert(again.stored.schema == inferred(s"$dir/store"))
    MergeByKey.upsert(spark, df, s"$dir/table", "vec_id")
    assert(MergeByKey.readCommitted(spark, s"$dir/table").schema ==
      inferred(s"$dir/table/v=0"))
    assert(MergeByKey.readCommitted(spark, s"$dir/table").collect()
      .map(_.getString(2)).toSet == Set("a", null))
  }

  test("group momentum keyed update writes only score columns") {
    val dir = Files.createTempDirectory("graft_e2e_grp")
    val wh = s"$dir/warehouse"
    val sectors = Seq(
      ("Energy", "10%", "1,000"), ("Tech", "−5%", "500"), ("Pharma", "2.5%", "250"))
      .toDF("sector", "change_pct", "market_cap")
    val scored = Orchestration.runGroupMomentum(spark, sectors, wh,
      "sector_data", "sector")
    assert(scored.columns.contains("normalized_score_3m"))
    val stored = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/sector_data")
    assert(stored.count() == 3)
    assert(stored.filter($"normalized_score_3m".isNotNull).count() == 3)
  }
}
