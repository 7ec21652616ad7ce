package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import OracleSql.{lshBands, lshBaseBits, lshBitsPerBand}

/** The staged stores the query builders share (band keys, near-dup
  * components, BPE model, purchase edges, MinHash index, stream feeds,
  * the q360 version store, staged CSV/JSON files), the harness that
  * runs a streaming gate in a scratch dir, and [[prebuild]]: the list
  * of every store a fresh checkout builds on first touch.
  */
private[graft] object Stages {

  /** Root of every staged store below (band keys, MinHash index, BPE
    * model, stream feeds, …): `SPARK_GRAFT_STAGE_DIR`, else
    * target/graft-stage. */
  lazy val stageRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR", "target/graft-stage")

  /** The staged full-corpus band-key store behind [[lshNearDupPairs]]
    * and every other LSH consumer (range counts, batch probes). */
  def stagedEmbKeys(s: SparkSession, dir: String): DataFrame = {
    val stamp = Dedup.sourceStamp(s, s"$dir/embeddings.parquet")
    SimilaritySearch.stagedBandKeys(
      T(s, dir, "embeddings"), "vec_id", "embedding",
      s"$stageRoot/embkeys-full-$stamp-b$lshBaseBits-n$lshBands-r$lshBitsPerBand",
      lshBaseBits, lshBands, lshBitsPerBand)
  }

  /** The GRAPH-FEEDING near-dup pair generator: banded-hyperplane LSH
    * (candidates from bucket co-membership, exact cosine verify on
    * candidates only — never all pairs), in the one fixed
    * configuration the [[lshPairCtes]] oracle mirrors bit for bit.
    * Every declared query that consumes a near-dup graph (components,
    * representatives, splits, label propagation, negative sampling)
    * routes through here (r12); the O(n²·d) exact kernel remains only
    * in the q29/q40 audit surfaces and the guarantee gates that
    * measure LSH recall against it.
    *
    * Round 13: the band-key table comes from the STAGED full-corpus
    * store (source-stamped, built on first touch) and the per-query
    * work is [[SimilaritySearch.embeddingNearDupFromKeys]] — the 8
    * graph consumers previously re-signed the corpus per query (~2 s
    * each, ~20 s of suite); key derivation is deterministic, so the
    * staged path is pair-for-pair identical and the oracle is
    * untouched. q30 keeps the unstaged embeddingNearDup build as the
    * from-scratch gate of the signing stage itself. */
  def lshNearDupPairs(s: SparkSession, dir: String,
      threshold: Double): DataFrame =
    SimilaritySearch.embeddingNearDupFromKeys(stagedEmbKeys(s, dir),
      T(s, dir, "embeddings"), "vec_id", "embedding", threshold)

  /** Round 16: the near-dup COMPONENT-LABEL map at the suite's
    * standard 0.45 threshold, staged once per (corpus stamp, LSH
    * params) the way band keys are ([[lshNearDupPairs]]'s store) —
    * r15 verdict #1: the seven component consumers (q47/q48/q86/
    * q118/q161/q191/q272) each re-ran the min-label propagation from
    * the pair surface, the worst remaining scale surface (40 s/2M
    * per consumer). At 100 TB the label map is computed once per
    * corpus stamp and every consumer reads (node, component) back as
    * a parquet scan. Labels are deterministic (min reachable id), so
    * the staged map is row-for-row what each inline build produced
    * and every consumer oracle is untouched; q47 doubles as the
    * from-scratch gate of the build itself on first touch. */
  def stagedNearDupComponents(s: SparkSession, dir: String): DataFrame = {
    val stamp = Dedup.sourceStamp(s, s"$dir/embeddings.parquet")
    Tables.stagedParquet(s, s"$stageRoot/neardup-comps-$stamp" +
        s"-b$lshBaseBits-n$lshBands-r$lshBitsPerBand-t045") {
      Dedup.connectedComponents(
        lshNearDupPairs(s, dir, threshold = 0.45)
          .select(col("id_a"), col("id_b")), "id_a", "id_b")
    }
  }

  /** The q174/q200 batched-BPE tokenizer artifact, staged once per
    * corpus (source-stamped like the MinHash / band-key stores): the
    * 16-pass trainer runs on first touch and ships (merge table,
    * word segmentation); both gates read the shipped tables — the
    * train-once production shape. */
  def stagedBpeModel(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val stamp = Dedup.sourceStamp(s, s"$dir/documents.parquet")
    BpeTrain.stagedBatchedModel(T(s, dir, "documents"), "text",
      s"$stageRoot/bpe-$stamp-p16-c16-n256", passes = 16, batchCap = 16,
      candN = 256)
  }

  /** The customer→supplier purchase graph (distinct (2·custkey,
    * 2·suppkey+1) edges via shared orders), staged once per corpus
    * stamp and shared by every graph gate that ranks it (q108
    * PageRank, q242 HITS) — r13 verdict: each consumer re-paid the
    * same lineitem⋈orders join + distinct per query, the single most
    * expensive build in the suite. Edge derivation is deterministic,
    * so the staged store is exactly what the inline build produced
    * and both oracles are untouched. */
  def stagedPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet") + "-" +
      Dedup.sourceStamp(s, s"$dir/lineitem.parquet")
    Tables.stagedParquet(s, s"$stageRoot/purchase-edges-$stamp") {
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2L).as("src"),
          (col("l_suppkey") * 2L + 1L).as("dst"))
        .distinct()
    }
  }

  /** The corpus-wide MinHash index over `documents`, staged to a local
    * parquet store keyed by the source file's stamp (name+size+mtime —
    * testdata regenerates between rounds, so path alone would go stale)
    * and the index parameters. q23 and q73 both consume THIS index: q23
    * runs the band self-join over it, q73 anti-joins the probe batch
    * out to obtain the standing side — per-doc index rows make the
    * filtered store exactly equal to an index built over the remainder.
    * First touch per corpus builds + writes; every later run (bench
    * repeats, the sibling query, the next session over unchanged data)
    * pays three parquet scans — the append-only production shape where
    * the archive is never re-shingled. */
  def stagedDocsIndex(s: SparkSession, dir: String): Dedup.MinHashIndex = {
    val stamp = Dedup.sourceStamp(s, s"$dir/documents.parquet")
    Dedup.stagedMinHashIndex(T(s, dir, "documents"), "doc_id", "text",
      s"$stageRoot/minhash-$stamp-n3-h64-b32", n = 3, numHashes = 64, bands = 32)
  }

  /** Source-stamped STAGED STREAM FEED (r20 optimization, r19 verdict
    * #1b): a streaming gate's batch-file feed is a pure deterministic
    * function of the `events` table and the stager code, so it is
    * built ONCE per (corpus stamp, stager version, Spark version)
    * under target/graft-stage — [[prebuild]] pays the build untimed
    * and reports it as stage_build_sec — and every invocation replays
    * the SAME files. Before r20, every bench sample re-derived the
    * feed (events scan → crossJoin(range) → repartition → parquet
    * write → rename) into a fresh /tmp dir and never deleted it:
    * 2,357 leaked graft-* dirs / 4.3 GB after 19 rounds, with the
    * stager I/O (not the streaming operator) dominating and
    * destabilizing the streaming family's bench numbers. `ver` is the
    * generator version (the ScaleProbe ADVICE lesson: a content stamp
    * alone cannot see stager-code drift); the Spark version rides in
    * the path so stageBatchFiles' 4.1.x batch-pinning check re-fires
    * after an engine bump. Built once through [[Tables.buildOnce]];
    * the build clears a killed writer's leftovers first, and
    * FileStreamSource ignores `_`-prefixed names, so the marker never
    * enters a micro-batch. */
  private def stagedStreamFeed(s: SparkSession, dir: String, name: String,
      ver: Int = 1)(build: => DataFrame): String = {
    val stamp = Dedup.sourceStamp(s, s"$dir/events.parquet")
    val feedDir = s"$stageRoot/feed-$name-v$ver-s${s.version}-$stamp"
    Tables.buildOnce(s, feedDir) {
      val p = new org.apache.hadoop.fs.Path(feedDir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.streaming.Streams.stageBatchFiles(build, "b", feedDir)
    }
    feedDir
  }

  /** Value-slice batch number of column `t` over the `mn`/`mx` range
    * columns a feed builder cross-joins in: `(t − mn)·n div
    * (mx − mn + 1)`, in [0, n). Monotone in `t`, so batches stay
    * time-ordered and equal values never split. Each builder applies
    * its own late-row rule around it and casts the result to int. */
  private def valueSlice(t: String, n: Long): Column =
    call_function("div", (col(t) - col("mn")) * n,
      col("mx") - col("mn") + 1L)

  /** Leak-proof per-invocation scratch dir (r19 verdict #1a + ADVICE
    * q360 item): run `body` against a fresh temp dir (streaming sink +
    * checkpoint, merge stores), EAGERLY materialize the small gate
    * result via localCheckpoint, and delete the dir in a finally — on
    * the failure path too. A checkpoint is correctness state for a
    * restartable production stream, but each gate invocation is a
    * complete AvailableNow run, so keeping it only accumulated debris
    * (3 repeats × N rounds of never-deleted /tmp dirs). The eager
    * localCheckpoint is what makes the delete safe: the returned frame
    * no longer reads the dir. Gate outputs are small (sessions,
    * windows, diff cards), so block-manager residency is negligible. */
  def withScratchDir(s: SparkSession, prefix: String)
      (body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir).localCheckpoint(true)
    finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      // delete returns false without throwing on a transient failure
      // (observed once in ~20 invocations under the forked test JVM);
      // fall back to JVM-exit cleanup rather than leaking silently
      if (!fs.delete(p, true) && fs.exists(p)) fs.deleteOnExit(p)
    }
  }

  /** The streaming-gate runner: run `stream` to completion as one
    * [[graft.streaming.Streams.runAvailableNow]] append query into a
    * parquet sink under a [[withScratchDir]] dir (sink + checkpoint),
    * then return `readBack` over the sink's rows. */
  def runStreamGate(s: SparkSession, name: String,
      stream: Dataset[_])
      (readBack: DataFrame => DataFrame): DataFrame =
    withScratchDir(s, s"graft-$name-out") { outDir =>
      graft.streaming.Streams.runAvailableNow(
        stream.toDF().writeStream.format("parquet")
          .option("path", s"$outDir/rows").outputMode("append"),
        s"$outDir/ckpt").awaitTermination()
      readBack(s.read.parquet(s"$outDir/rows"))
    }

  /** The q360 two-version MergeByKey store, staged once per corpus
    * stamp (r19 verdict #4): the gate's subject is [[graft.sinks.MergeByKey.diffVersions]]
    * — the CDC read between committed snapshots — but the pre-r20
    * query body paid two full versioned upsert COMMITS (claim, write,
    * manifest flip, commit record) into a fresh /tmp store on every
    * invocation, ~4 s of write harness around a ~1 s diff, plus a
    * leaked store on any failure (ADVICE r19 low). The upsert path
    * itself stays gated end-to-end by q41/q42/q244; snapshot
    * derivation is deterministic, so the staged store is byte-for-byte
    * what the inline build produced and the oracle is untouched.
    * Built once through [[Tables.buildOnce]]; the build clears a
    * killed writer's half-committed store first. */
  def stagedVersionStoreQ360(s: SparkSession, dir: String): String = {
    val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet")
    val base = s"$stageRoot/q360-store-v1-$stamp"
    Tables.buildOnce(s, base) {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      def snap(status: String) = T(s, dir, "orders")
        .filter(col("o_orderstatus") === status)
        .groupBy(col("o_custkey").cast("long").as("k"))
        .agg(expr("cast(sum(cast(round(o_totalprice * 100, 0) as bigint)) as bigint)")
          .as("val_e2"))
      graft.sinks.MergeByKey.upsert(s, snap("F"), s"$base/store", "k")
      graft.sinks.MergeByKey.upsert(s, snap("O"), s"$base/store", "k")
    }
    s"$base/store"
  }

  // ---- staged stream-feed builders (r20): one per distinct stager,
  // each a deterministic function of the events table, so every feed
  // is staged once per corpus stamp and shared across invocations AND
  // across the queries that replay the same feed (q229 replays q169's
  // late-data slices, q264 replays q224's day slices, q177/q181/q209
  // share the ssj left/right pair). The derivations are verbatim the
  // pre-r20 inline stagers — only WHERE the files live changed.

  def feedQ77(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q77") {
      T(s, dir, "events")
        .select(col("event_type").as("group"),
          col("user_id").cast("string").as("item"),
          pmod(col("event_id").cast("long"), lit(4)).cast("int").as("b"))
    }

  def feedQ78(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q78") {
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("userId"),
          tsSec.cast("long").as("tsSec"))
      val maxTs = ev.agg(min(col("tsSec")).as("mn"),
        max(col("tsSec")).as("mx"))
      val sentinel = ev.select(col("userId")).distinct()
        .crossJoin(broadcast(maxTs))
        .select(col("userId"), (col("mx") + 1801L).as("tsSec"))
      ev.crossJoin(broadcast(maxTs))
        .withColumn("b", valueSlice("tsSec", 4).cast("int"))
        .select(col("userId"), col("tsSec"), col("b"))
        .unionByName(sentinel.withColumn("b", lit(4).cast("int")))
        .withColumn("value", lit(0.0))
    }

  /** q169's late-data slice feed — ALSO q229's (the sliding gate
    * replays the identical stager; pre-r20 both derived it inline). */
  def feedQ169(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q169") {
      val ev = T(s, dir, "events")
        .select(col("event_type"), tsSec.cast("long").as("tsSec"),
          round(col("value") * 100, 0).cast("long").as("v"),
          col("event_id").cast("long").as("eid"))
      val rng = ev.filter(pmod(col("eid"), lit(10)) =!= 0)
        .agg(min(col("tsSec")).as("mn"), max(col("tsSec")).as("mx"))
      ev.crossJoin(broadcast(rng))
        .withColumn("b",
          when(pmod(col("eid"), lit(10)) === 0, lit(2))
            .otherwise(valueSlice("tsSec", 2)).cast("int"))
        .select(col("event_type"), col("tsSec"), col("v"), col("b"))
        .unionByName(
          rng.select(lit("zz_sentinel").as("event_type"),
              (col("mx") + 7200L).as("tsSec"), lit(0L).as("v"),
              lit(3).cast("int").as("b"))
            .unionByName(rng.select(
              lit("zz_sentinel").as("event_type"),
              (col("mx") + 7800L).as("tsSec"), lit(0L).as("v"),
              lit(4).cast("int").as("b"))))
    }

  def feedQ175(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q175") {
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("uid"),
          tsSec.cast("long").as("tsSec"),
          col("event_id").cast("long").as("eid"))
      val rng = ev.filter(pmod(col("eid"), lit(10)) =!= 0)
        .agg(min(col("tsSec")).as("mn"), max(col("tsSec")).as("mx"))
      ev.crossJoin(broadcast(rng))
        .withColumn("b",
          when(pmod(col("eid"), lit(10)) === 0, lit(4))
            .otherwise(valueSlice("tsSec", 4)).cast("int"))
        .groupBy(col("uid"), col("b"))
        .agg(min(col("tsSec")).as("tsSec"))
        .select(col("uid"), col("tsSec"), col("b"))
    }

  def feedQ182(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q182") {
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("userId"),
          tsSec.cast("long").as("tsSec"))
      val rng = ev.agg(min(col("tsSec")).as("mn"),
        max(col("tsSec")).as("mx"))
      ev.crossJoin(broadcast(rng))
        .withColumn("b", valueSlice("tsSec", 4).cast("int"))
        .select(col("userId"), col("tsSec"), col("b"))
    }

  def feedQ192(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q192") {
      T(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("uid"),
          pmod(col("event_id").cast("long"), lit(3)).cast("int").as("b"))
    }

  def feedQ199(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q199") {
      T(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("uid"),
          pmod(col("event_id").cast("long"), lit(4)).cast("int").as("b"))
    }

  /** q224's day-slice feed — ALSO q264's (identical stager). */
  def feedQ224(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q224") {
      val ev = T(s, dir, "events").select(
        col("event_type").as("group"),
        graft.functions.TimeFns.floorDiv(col("ts"),
          86400L * 1000000000L).as("day"))
      val mm = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val sentinel = ev.select(col("group")).distinct()
        .crossJoin(broadcast(mm))
        .select(col("group"), (col("mx") + 1L).as("day"))
      ev.crossJoin(broadcast(mm))
        .withColumn("b", valueSlice("day", 4).cast("int"))
        .select(col("group"), col("day"), col("b"))
        .unionByName(sentinel.withColumn("b", lit(4).cast("int")))
    }

  def feedQ243(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q243") {
      val ev = T(s, dir, "events").select(
        concat(col("user_id").cast("string"), lit("|"),
          col("event_type")).as("key"),
        col("ts").as("tsNanos"),
        col("event_id").cast("long").as("eventId"))
      val mm = ev.agg(min(col("tsNanos")).as("mn"),
        max(col("tsNanos")).as("mx"))
      ev.crossJoin(broadcast(mm))
        .withColumn("b", valueSlice("tsNanos", 4).cast("int"))
        .select(col("key"), col("tsNanos"), col("eventId"), col("b"))
    }

  def feedQ289(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q289") {
      val ev = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id").cast("string").as("key"),
          col("ts").as("tsNanos"),
          col("event_id").cast("long").as("eventId"),
          col("event_type").as("etype"))
      val mm = ev.agg(min(col("tsNanos")).as("mn"),
        max(col("tsNanos")).as("mx"))
      ev.crossJoin(broadcast(mm))
        .withColumn("b", valueSlice("tsNanos", 4).cast("int"))
        .select(col("key"), col("tsNanos"), col("eventId"),
          col("etype"), col("b"))
    }

  def feedQ302(s: SparkSession, dir: String): String =
    stagedStreamFeed(s, dir, "q302") {
      val ev = T(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("event_type"), tsSec.cast("long").as("tsSec"),
          col("user_id").cast("string").as("uid"))
      val rng = ev.agg(min(col("tsSec")).as("mn"),
        max(col("tsSec")).as("mx"))
      ev.crossJoin(broadcast(rng))
        .withColumn("b", valueSlice("tsSec", 2).cast("int"))
        .select(col("event_type"), col("tsSec"), col("uid"), col("b"))
        .unionByName(rng.select(lit("zz_sentinel").as("event_type"),
          (col("mx") + 172800L).as("tsSec"), lit("u0").as("uid"),
          lit(2).cast("int").as("b")))
    }

  /** The q177/q181/q209 stream-stream join feeds: even event ids left,
    * odd right, three on-time value slices + a late fourth per side. */
  def feedSsj(s: SparkSession, dir: String, side: String): String =
    stagedStreamFeed(s, dir, s"ssj-$side") {
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("uid"),
          tsSec.cast("long").as("tsSec"),
          col("event_id").cast("long").as("eid"))
      val rng = ev.filter(pmod(col("eid"), lit(10)) =!= 0 &&
          pmod(col("eid"), lit(10)) =!= 5)
        .agg(min(col("tsSec")).as("mn"), max(col("tsSec")).as("mx"))
      val (parity, lateMod) = if (side == "l") (0, 0) else (1, 5)
      ev.filter(pmod(col("eid"), lit(2)) === parity)
        .crossJoin(broadcast(rng))
        .withColumn("b",
          when(pmod(col("eid"), lit(10)) === lateMod, lit(3))
            .otherwise(valueSlice("tsSec", 3)).cast("int"))
        .select(col("uid"), col("tsSec"), col("b"))
    }

  /** Fixed staging root shared by the CSV-surface gates (q194-q198)
    * and their DuckDB oracles: the engine stages deterministic CSV
    * files DERIVED FROM THE GATE TABLES here at query time; the
    * oracle `read_csv`s the very same files (the streaming gates'
    * file-harness trick, applied to the §2.1 CSV rows). */
  lazy val csvGateRoot: String =
    s"${sys.props("java.io.tmpdir").stripSuffix("/")}/graft-csv-gate"

  /** Stage `df` as exactly ONE file at csvGateRoot/name, written by
    * `save` from a one-partition overwrite writer (a headered CSV for
    * the q194/q195 gates; line-delimited JSON for q356, whose oracle
    * re-reads the engine-written bytes with DuckDB's read_json, so the
    * JSON WRITE path is gated cross-engine). `mtime` optionally pins
    * the file's modification time — the S2 latest-file gate needs a
    * controlled modification order. */
  def stageFile(s: SparkSession, df: DataFrame, name: String,
      mtime: Long = -1L)
      (save: (DataFrameWriter[Row], String) => Unit)
      : String = {
    val tmp = s"$csvGateRoot/_tmp-${name.replace('/', '_')}"
    save(df.coalesce(1).write.mode("overwrite"), tmp)
    val root = new org.apache.hadoop.fs.Path(csvGateRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    val dest = new org.apache.hadoop.fs.Path(s"$csvGateRoot/$name")
    fs.mkdirs(dest.getParent)
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(part, dest)
    if (mtime >= 0L) fs.setTimes(dest, mtime, -1L)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    dest.toUri.getPath
  }

  /** Every staged store the query surface builds lazily on first use,
    * by name, in build order (r17 verdict #3): Bench drives this list
    * through [[graft.SparkEntry.prebuildStages]] in a labeled UNTIMED
    * phase before the timed repeats and reports it as
    * `stage_build_sec`, so a fresh checkout (the driver's reality)
    * never reads 20–39× first-touch inflation on q23/q73/q278/q344 as
    * a plan regression. Every builder is eager-on-miss (the staged
    * helpers write the store during the call; for queries with inline
    * staged builds, constructing the plan triggers them), so no result
    * materialization is needed. Keep one entry per staged store: a
    * store missing from this list shows up as an inflated first sample
    * in the artifact's query_runs, which is the tripwire for list
    * drift. */
  val prebuild: Seq[(String, (SparkSession, String) => Any)] = {
    def query(name: String): (SparkSession, String) => Any =
      (s, dir) => SparkEntry.queries(name)(s, dir)
    Seq(
      "embkeys_full" -> stagedEmbKeys _,
      "neardup_components" -> stagedNearDupComponents _,
      "bpe_model" -> stagedBpeModel _,
      "purchase_edges" -> stagedPurchaseEdges _,
      "docs_minhash_index" -> stagedDocsIndex _,
      "embkeys_standing_q179" -> query("q179_incremental_embedding_neardup"),
      "orc_store_q336" -> query("q336_orc_roundtrip"),
      "standing_components_q344" -> query("q344_incremental_components"),
      "pr_before_q299" -> query("q299_pagerank_delta"),
      // session-catalog builds, not disk stores, but the same
      // first-touch shape: the bucketed warehouse tables write once
      // per session when the plan is constructed
      "bucketed_tables_q357" -> query("q357_bucketed_join"),
      "partitioned_orders_q358" -> query("q358_partition_pruned"),
      // shares q358's fact store; this builds the tiny status dim
      "status_dim_q359" -> query("q359_dpp_join"),
      // r20: staged stream feeds (one stager each; q229 replays q169's
      // feed, q264 replays q224's, q177/q181/q209 share the ssj pair)
      // and the q360 two-version store — previously re-derived into
      // leaked /tmp dirs on every bench sample (r19 verdict #1)
      "feed_q77" -> feedQ77 _,
      "feed_q78" -> feedQ78 _,
      "feed_q169_q229" -> feedQ169 _,
      "feed_q175" -> feedQ175 _,
      "feed_q182" -> feedQ182 _,
      "feed_q192" -> feedQ192 _,
      "feed_q199" -> feedQ199 _,
      "feed_q224_q264" -> feedQ224 _,
      "feed_q243" -> feedQ243 _,
      "feed_q289" -> feedQ289 _,
      "feed_q302" -> feedQ302 _,
      "feed_ssj_l" -> ((s: SparkSession, dir: String) => feedSsj(s, dir, "l")),
      "feed_ssj_r" -> ((s: SparkSession, dir: String) => feedSsj(s, dir, "r")),
      "version_store_q360" -> stagedVersionStoreQ360 _)
  }
}
