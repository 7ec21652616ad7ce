package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import OracleSql._
import Stages._

/** Structured Streaming gates: each replays a staged file feed as an
  * `AvailableNow` stream (watermarks, sessions, stream-stream joins,
  * state machines) and reads the sink back for the oracle.
  */
private[graft] object StreamingQueries {

  /** A staged feed as a file stream: one `batch-NNNNN.parquet` file per
    * micro-batch, in staged order. */
  private def readFeed(s: SparkSession, feedDir: String,
      schema: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(feedDir)

  /** The q177/q181 stream-stream join harness: even event ids feed
    * the left stream, odd the right; each side ships three on-time
    * value slices plus a late fourth file; the join is same-uid with
    * the right event inside [left, left+1h), watermark 30 min on both
    * sides. Returns (uid, l_ts, r_ts) — r_ts NULL on the left-outer
    * null-extended rows. */
  private def streamIntervalJoinGate(s: SparkSession, dir: String,
      joinType: String): DataFrame = withShufflePartitions(s, 8) {
    import s.implicits._
    val ev = T(s, dir, "events")
      .select(col("user_id").cast("long").as("uid"),
        tsSec.cast("long").as("tsSec"),
        col("event_id").cast("long").as("eid"))
    if (ev.isEmpty) {
      Seq.empty[(Long, Long, Long)].toDF("uid", "l_ts", "r_ts")
    } else {
      // staged once per corpus stamp, shared by q177/q181/q209 (r20)
      val dirL = feedSsj(s, dir, "l")
      val dirR = feedSsj(s, dir, "r")
      def src(d: String, tCol: String) =
        readFeed(s, d, "uid LONG, tsSec LONG")
          .withColumn(tCol, timestamp_seconds(col("tsSec")))
          .withColumnRenamed("tsSec", tCol + "_sec")
      val joined = graft.streaming.Streams.joinWithinGap(
        src(dirL, "l_t"), src(dirR, "r_t"), "uid",
        "l_t", "r_t", gapSeconds = 3600L, watermark = "30 minutes",
        joinType = joinType)
      runStreamGate(s, "ssj", joined)(_.select(col("uid"),
        col("l_t_sec").as("l_ts"), col("r_t_sec").as("r_ts")))
    }
  }

  /** Shared q177/q181 chain: sides, per-batch maxima, the lagged
    * watermark table `w` (W2), candidate matches `m`, and the
    * emitted-match set `mm` (input-admitted at each side's own batch,
    * state-alive at the match batch k*). */
  private lazy val streamJoinCtes: String =
    """ev AS (SELECT user_id AS uid,
      |    epoch_ns(ts) // 1000000000 AS ts, event_id AS eid
      |  FROM events),
      |rng AS (SELECT min(ts) AS mn, max(ts) AS mx FROM ev
      |  WHERE eid % 10 <> 0 AND eid % 10 <> 5),
      |l AS (SELECT uid, ts,
      |    CASE WHEN eid % 10 = 0 THEN 3
      |         ELSE (ts - mn) * 3 // (mx - mn + 1) END AS b
      |  FROM ev, rng WHERE eid % 2 = 0),
      |r AS (SELECT uid, ts,
      |    CASE WHEN eid % 10 = 5 THEN 3
      |         ELSE (ts - mn) * 3 // (mx - mn + 1) END AS b
      |  FROM ev, rng WHERE eid % 2 = 1),
      |pl AS (SELECT b, max(ts) AS pmax FROM l GROUP BY 1),
      |pr AS (SELECT b, max(ts) AS pmax FROM r GROUP BY 1),
      |w AS (SELECT k, CASE WHEN k >= 2 THEN
      |      least((SELECT max(pmax) FROM pl WHERE b <= k - 2),
      |            (SELECT max(pmax) FROM pr WHERE b <= k - 2)) - 1800
      |    END AS wv
      |  FROM (SELECT unnest([0, 1, 2, 3]) AS k)),
      |m AS (SELECT l.uid, l.ts AS l_ts, r.ts AS r_ts,
      |    l.b AS ka, r.b AS kb, greatest(l.b, r.b) AS ks
      |  FROM l JOIN r ON r.uid = l.uid
      |    AND r.ts >= l.ts AND r.ts < l.ts + 3600),
      |mm AS (SELECT m.uid, m.l_ts, m.r_ts FROM m
      |  LEFT JOIN w ws ON ws.k = m.ks
      |  LEFT JOIN w wa ON wa.k = m.ka
      |  LEFT JOIN w wb ON wb.k = m.kb
      |  WHERE (ws.wv IS NULL
      |      OR (m.l_ts >= ws.wv - 3600 AND m.r_ts >= ws.wv))
      |    AND (wa.wv IS NULL OR m.l_ts >= wa.wv)
      |    AND (wb.wv IS NULL OR m.r_ts >= wb.wv))""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- streaming: WATERMARK SEMANTICS under deliberately late data
    // (§2.9 — the one behavior a batch-shaped spec fixture can pass
    // vacuously, now oracle-gated through the q77/q78 file-stream
    // harness). Feed order: on-time first half, on-time second half,
    // then a 10%-of-events LATE file spanning the whole time range,
    // then two far-future watermark-advancer sentinels. The watermark
    // (30 min) is ~mid-hour when the late file arrives, so late rows
    // split three ways: already-emitted window -> dropped, open window
    // -> merged, last-30-min window -> merged; the batch oracle
    // recomputes the per-batch watermark line and the admission rule
    // (window end > watermark at the late batch) from the same
    // deterministic batch assignment. Two sentinels 7200/7800 s past
    // the real max guarantee every REAL window's end sits strictly
    // below the watermark while a data batch is still running — no
    // reliance on a post-final-file flush — and the sentinels' own
    // windows sit strictly above every watermark ever computed, so
    // they never leak into the gate.
    Query("q169_watermark_window", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("event_type"), tsSec.cast("long").as("tsSec"),
          round(col("value") * 100, 0).cast("long").as("v"),
          col("event_id").cast("long").as("eid"))
      if (ev.isEmpty) {
        Seq.empty[(Long, String, Long, Long)]
          .toDF("win_start", "event_type", "n_events", "value_sum")
      } else {
      val src = readFeed(s, feedQ169(s, dir),
          "event_type STRING, tsSec LONG, v LONG")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
      val agg = graft.streaming.Streams.windowedAgg(src, "ts",
        windowLen = "1 hour", watermark = "30 minutes",
        keyCols = Seq("event_type"), valueCol = "v")
      runStreamGate(s, "q169", agg)(
        _.select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n_events"), col("value_sum")))
      }
    },
      // q169: the BATCH recomputation of the watermark run — the same
      // deterministic batch assignment (on-time halves by value slice,
      // late = eid % 10), then the admission rule a late row actually
      // faces in Spark's micro-batch model, pinned empirically against
      // the engine run and encoding BOTH subtleties:
      //  (1) late-input filtering uses the PREVIOUS batch's watermark —
      //      each batch filters input with the watermark computed before
      //      the prior batch ran, and only state eviction/emission uses
      //      the freshly-advanced one — so the late batch (3rd file)
      //      filters against max(batch 0) − 1800, NOT max(batches 0∪1);
      //  (2) the filter tests the row's WINDOW END, not its raw event
      //      time: a row in a still-open window is mergeable even when
      //      the row itself is older than the watermark.
      // Sentinels never appear here (they are harness rows, not
      // events), mirroring the engine gate's guarantee that their
      // windows never emit.
      """WITH ev AS (SELECT event_type,
        |    epoch_ns(ts) // 1000000000 AS tsec,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    event_id AS eid
        |  FROM events),
        |rng AS (SELECT min(tsec) AS mn, max(tsec) AS mx FROM ev
        |  WHERE eid % 10 <> 0),
        |b AS (SELECT event_type, tsec, v,
        |    CASE WHEN eid % 10 = 0 THEN 2
        |         ELSE (tsec - mn) * 2 // (mx - mn + 1) END AS bb
        |  FROM ev, rng),
        |w AS (SELECT max(tsec) - 1800 AS wl FROM b WHERE bb = 0),
        |kept AS (SELECT event_type, tsec, v FROM b, w
        |  WHERE bb IN (0, 1)
        |     OR (tsec // 3600) * 3600 + 3600 > wl)
        |SELECT (tsec // 3600) * 3600 AS win_start, event_type,
        |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS value_sum
        |FROM kept GROUP BY 1, 2""".stripMargin),

    // ---- streaming: the CUSUM state machine fed by a day-ordered
    // file stream (value-slice batches, q78 stager; sentinel day
    // closes the final real day) — must equal the batch prefix form
    // row-for-row, so it shares q219's oracle verbatim
    Query("q224_stream_cusum", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events").select(
        col("event_type").as("group"),
        graft.functions.TimeFns.floorDiv(col("ts"),
          86400L * 1000000000L).as("day"))
      val allowance = ev.groupBy(col("group"), col("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("group"))
        .agg(call_function("div",
          sum(col("n")) + count(lit(1)) - 1L, count(lit(1))).as("k"))
        .as[(String, Long)].collect().toMap
      val src = readFeed(s, feedQ224(s, dir), "group STRING, day LONG")
        .as[graft.streaming.Streams.DayEvent]
      runStreamGate(s, "q224", graft.streaming.Streams
          .streamingCusum(src, allowance, hMult = 5L))(
        _.select(col("group").as("event_type"), col("day"),
          col("n_events"), col("k"), col("cusum"), col("alarm")))
    },
      // q224: the STREAM path must equal the batch prefix form
      // row-for-row — same oracle verbatim (the q192 stream-equals-
      // batch contract, state-machine edition)
      cusumDailyOracleSql),

    // ---- streaming: SLIDING-window agg under the same late-data feed
    // as q169 (1 h window / 30 min slide / 30 min watermark). The
    // Expand generates both windows per event BEFORE the late-row
    // filter, so a late event merges into its still-open window while
    // dropping from the emitted one — the oracle applies the q169
    // admission rule per (event, window) pair. Same sentinel guarantee:
    // every real window end sits below the final watermark while a
    // data batch still runs; sentinel windows never emit.
    Query("q229_sliding_window", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("event_type"), tsSec.cast("long").as("tsSec"),
          round(col("value") * 100, 0).cast("long").as("v"),
          col("event_id").cast("long").as("eid"))
      if (ev.isEmpty) {
        Seq.empty[(Long, String, Long, Long)]
          .toDF("win_start", "event_type", "n_events", "value_sum")
      } else {
      // replays q169's staged feed — identical stager (r20)
      val src = readFeed(s, feedQ169(s, dir),
          "event_type STRING, tsSec LONG, v LONG")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
      val agg = graft.streaming.Streams.slidingWindowedAgg(src, "ts",
        windowLen = "1 hour", slideLen = "30 minutes",
        watermark = "30 minutes",
        keyCols = Seq("event_type"), valueCol = "v")
      // (sliding variant of the q169 harness — same sink and sentinels)
      runStreamGate(s, "q229", agg)(
        _.select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n_events"), col("value_sum")))
      }
    },
      // q229: q169's batch recomputation with the sliding twist — each
      // event unnests into BOTH its candidate windows (starts at
      // (t//1800)·1800 and that minus 1800) before the admission rule,
      // so the window-end-vs-previous-watermark test runs per
      // (event, window) pair exactly as the Expand-then-filter engine
      // order does; late rows can survive in one window and drop from
      // the other. Sentinels are harness rows and never appear.
      """WITH ev AS (SELECT event_type,
        |    epoch_ns(ts) // 1000000000 AS tsec,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    event_id AS eid
        |  FROM events),
        |rng AS (SELECT min(tsec) AS mn, max(tsec) AS mx FROM ev
        |  WHERE eid % 10 <> 0),
        |b AS (SELECT event_type, tsec, v,
        |    CASE WHEN eid % 10 = 0 THEN 2
        |         ELSE (tsec - mn) * 2 // (mx - mn + 1) END AS bb
        |  FROM ev, rng),
        |x AS (SELECT event_type, tsec, v, bb,
        |    unnest([(tsec // 1800) * 1800 - 1800,
        |            (tsec // 1800) * 1800]) AS ws
        |  FROM b),
        |w AS (SELECT max(tsec) - 1800 AS wl FROM b WHERE bb = 0),
        |kept AS (SELECT event_type, ws, v FROM x, w
        |  WHERE bb IN (0, 1) OR ws + 3600 > wl)
        |SELECT ws AS win_start, event_type,
        |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS value_sum
        |FROM kept GROUP BY 1, 2""".stripMargin),

    // ---- streaming: THROTTLE state machine — q150's debounce rule
    // as flatMapGroupsWithState (state = last raw ts per key,
    // advanced by every event); time-sliced feed makes stream output
    // equal the batch operator row-for-row, so the gate SHARES q150's
    // oracle. Gaps straddling micro-batches ride in state.
    Query("q243_stream_throttle", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val src = readFeed(s, feedQ243(s, dir),
          "key STRING, tsNanos LONG, eventId LONG")
        .as[graft.streaming.Streams.SpacedEvent]
      runStreamGate(s, "q243", graft.streaming.Streams
          .streamingThrottle(src, minGapSeconds = 60L))(
        _.select(col("eventId").as("event_id"),
          substring_index(col("key"), "|", 1).cast("long").as("user_id"),
          substring_index(col("key"), "|", -1).as("event_type"),
          col("tsNanos").as("ts")))
    },
      // q243: the streaming state machine reproduces the batch rule
      // row-for-row (time-ordered feed) — SAME oracle as q150
      throttleOracleSql),

    // ---- STREAMING EWMA daily series — the q190 batch operator's
    // stateful twin (flatMapGroupsWithState; state = the trailing
    // ring of observed day-counts within the 30-day horizon). Same
    // day-ordered feed + sentinel-flush harness as q224; shares
    // q190's oracle row-for-row.
    Query("q264_stream_ewma", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      // replays q224's staged day-slice feed — identical stager (r20)
      val src = readFeed(s, feedQ224(s, dir), "group STRING, day LONG")
        .as[graft.streaming.Streams.DayEvent]
      runStreamGate(s, "q264", graft.streaming.Streams
          .streamingEwma(src, EventAnalytics.decayPowersE6(4, 5, 30)))(
        _.select(col("group").as("event_type"), col("day"),
          col("n_events"), col("ewma_e6")))
    },
      // q264: the STREAM path must equal the batch EWMA series
      // row-for-row — same oracle verbatim (the q224 stream-equals-
      // batch contract, trailing-ring edition)
      ewmaSeriesOracleSql),

    // ---- streaming × sketch: per-DAY approximate distinct users per
    // type — HLL registers accumulate in the state store (256 bytes
    // per open window×key, the constant-state reason streaming
    // uniques scale), summarized after the sink; the md5 sketch is
    // deterministic so the batch oracle reproduces it exactly.
    Query("q302_stream_hll_window", (s, dir) => withShufflePartitions(s, 8) {
      val src = readFeed(s, feedQ302(s, dir),
          "event_type STRING, tsSec LONG, uid STRING")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
      val agg = graft.streaming.Streams.windowedHllDistinct(src, "ts",
        windowLen = "1 day", watermark = "1 hour",
        keyCols = Seq("event_type"), idCol = "uid")
      runStreamGate(s, "q302", agg)(
        _.filter(col("event_type") =!= "zz_sentinel")
          .select(col("win_start"), col("event_type"),
            graft.expressions.HllSketch.hll_summary(col("regs")).as("h"))
          .select(col("win_start"), col("event_type"),
            col("h.v_zero").as("v_zero"), col("h.s40").as("s40"),
            col("h.est_hll").as("est_hll")))
    }, {
      // q302: the q109 register ladder with the epoch-aligned day
      // window as an extra group key; every (type, day) emits because
      // the sentinel pushes the watermark past the last real window
      val bucket = s"(${nibSql("h16", 1)} * 16 + ${nibSql("h16", 2)})"
      val whi = (3 to 8)
        .map(i => nibSql("h16", i) + s" * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      val ladder = (1 to 39).map(k =>
        s"WHEN w >= ${BigInt(2).pow(56 - k)} THEN $k").mkString(" ")
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    (epoch_ns(ts) // 86400000000000) * 86400 AS win_start,
         |    substring(md5(CAST(user_id AS VARCHAR)), 1, 16) AS h16
         |  FROM events WHERE user_id IS NOT NULL),
         |hb AS (SELECT event_type, win_start, $bucket AS bucket,
         |    CAST($whi AS HUGEINT) * 4294967296 +
         |      ${hex32Sql("h16", 9)} AS w
         |  FROM h),
         |ranked AS (SELECT event_type, win_start, bucket,
         |    CASE $ladder ELSE 40 END AS rank FROM hb),
         |regs AS (SELECT event_type, win_start, bucket,
         |    max(rank) AS mx FROM ranked GROUP BY 1, 2, 3),
         |grid AS (SELECT g.event_type, g.win_start, b.bucket
         |  FROM (SELECT DISTINCT event_type, win_start FROM h) g,
         |    (SELECT unnest(range(0, 256)) AS bucket) b),
         |m AS (SELECT grid.event_type, grid.win_start, grid.bucket,
         |    coalesce(regs.mx, 0) AS mj
         |  FROM grid LEFT JOIN regs
         |    ON regs.event_type = grid.event_type
         |    AND regs.win_start = grid.win_start
         |    AND regs.bucket = grid.bucket),
         |s AS (SELECT event_type, win_start,
         |    CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_zero,
         |    CAST(sum(CAST(1 AS BIGINT) << (40 - mj)) AS BIGINT)
         |      AS s40
         |  FROM m GROUP BY 1, 2)
         |SELECT win_start, event_type, v_zero, s40,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
         |    CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) *
         |    CAST(65536.0 AS DOUBLE) * CAST(1099511627776.0 AS DOUBLE) /
         |    CAST(s40 AS DOUBLE) AS est_hll
         |FROM s""".stripMargin
    }),

    // ---- streaming: A→B PATTERN DETECTION — every purchase matched
    // live to the latest view strictly before it within 1 h (q273's
    // attribution anchor as an O(1)-state flatMapGroupsWithState);
    // q243's time-quartile file feed, batch-SQL oracle.
    Query("q289_stream_pattern", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val src = readFeed(s, feedQ289(s, dir),
          "key STRING, tsNanos LONG, eventId LONG, etype STRING")
        .as[graft.streaming.Streams.TypedEvent]
      runStreamGate(s, "q289", graft.streaming.Streams
          .streamingPatternDetect(src, aType = "view",
            bType = "purchase", windowNanos = 3600L * 1000000000L))(
        _.select(col("key").cast("long").as("user_id"),
          col("a_event_id"), col("b_event_id"), col("gap_nanos")))
    },
      // q289: per purchase the (a.ts DESC, a.id DESC) row_number()=1
      // view within the hour — "latest A if within window" = "latest A
      // within window" since older As only widen the gap
      """WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS ts,
        |    event_id AS id, event_type AS t FROM events
        |  WHERE user_id IS NOT NULL),
        |bb AS (SELECT u, ts, id FROM e WHERE t = 'purchase'),
        |aa AS (SELECT u, ts, id FROM e WHERE t = 'view'),
        |m AS (SELECT bb.u, aa.id AS a_event_id, bb.id AS b_event_id,
        |    bb.ts - aa.ts AS gap_nanos,
        |    row_number() OVER (PARTITION BY bb.id
        |      ORDER BY aa.ts DESC, aa.id DESC) AS rn
        |  FROM bb JOIN aa ON aa.u = bb.u AND aa.ts < bb.ts
        |    AND bb.ts - aa.ts <= 3600000000000)
        |SELECT u AS user_id, a_event_id, b_event_id, gap_nanos
        |FROM m WHERE rn = 1""".stripMargin),

    // ---- streaming: CRASH-RECOVERY exactly-once (round 13, r12 task
    // #6): the same file-stream query runs TWICE against one
    // checkpoint — first over half the feed, then, after the batch-1
    // COMMIT record is deleted (the torn-batch window: sink files
    // committed, checkpoint never recorded the batch — precisely the
    // failure that makes a plain parquet append at-least-once) and
    // the rest of the feed arrives, a restart. Recovery replays batch
    // 1 through writeBatchIdempotent's dynamic partition overwrite
    // and resumes numbering from the checkpoint; the gate's
    // (batch_id, type) aggregate equals the one-shot batch result
    // ONLY if the replay overwrote instead of appended and the
    // restart did not reprocess already-committed files.
    Query("q199_stream_recovery", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events").select(col("event_type"),
        col("user_id").cast("long").as("uid"),
        col("event_id").cast("long").as("eid"))
      if (ev.isEmpty) {
        Seq.empty[(Long, String, Long, Long)]
          .toDF("graft_batch_id", "event_type", "n_events", "sum_uid")
      } else {
        val stageDir = feedQ199(s, dir)
        withScratchDir(s, "graft-q199") { workDir =>
          val (feedDir, sink, ckpt) =
            (s"$workDir/feed", s"$workDir/rows", s"$workDir/ckpt")
          val conf = s.sparkContext.hadoopConfiguration
          val fs = new org.apache.hadoop.fs.Path(workDir).getFileSystem(conf)
          fs.mkdirs(new org.apache.hadoop.fs.Path(feedDir))
          require(fs.exists(new org.apache.hadoop.fs.Path(
              s"$stageDir/batch-00003.parquet")),
            "q199 expects 4 staged batches")
          val base = System.currentTimeMillis() - 60000L
          def feed(i: Int): Unit = {
            val name = f"batch-$i%05d.parquet"
            val dst = new org.apache.hadoop.fs.Path(s"$feedDir/$name")
            org.apache.hadoop.fs.FileUtil.copy(fs,
              new org.apache.hadoop.fs.Path(s"$stageDir/$name"),
              fs, dst, false, conf)
            fs.setTimes(dst, base + i * 2000L, -1L)
          }
          def runOnce(): Unit = {
            val src = readFeed(s, feedDir, "event_type STRING, uid LONG")
            graft.streaming.Streams.runAvailableNow(
              graft.streaming.Streams.idempotentAppendSink(src, sink), ckpt)
              .awaitTermination()
          }
          feed(0); feed(1)
          runOnce()
          // tear batch 1: its offset entry stays, its commit record goes
          // — the public checkpoint contract (offsets/ and commits/)
          // defines exactly this as "batch ran, completion never
          // recorded", and recovery must re-run it
          val commit = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
          require(fs.exists(commit), "q199: no commit record for batch 1")
          fs.delete(commit, false)
          feed(2); feed(3)
          runOnce()
          s.read.parquet(sink)
            .groupBy(col("graft_batch_id").cast("long").as("graft_batch_id"),
              col("event_type"))
            .agg(count(lit(1)).as("n_events"), sum(col("uid")).as("sum_uid"))
        }
      }
    },
      // q199: recovery must land exactly the one-shot result — file i
      // is batch i (mtime order, one file per trigger, numbering
      // resumed from the checkpoint across the restart), each batch's
      // partition written exactly once despite the batch-1 replay
      """SELECT CAST(event_id % 4 AS BIGINT) AS graft_batch_id,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(user_id AS BIGINT)) AS BIGINT) AS sum_uid
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- streaming: STREAM-STATIC ENRICH — the broadcast dim join
    // per micro-batch (the J1/J2 shape on a stream), gated end to
    // end: file-stream events enriched with a derived event-type dim,
    // summed per type — equal to the batch join by construction (no
    // state, no watermark; the gate closes §2.9's last spec-only row)
    Query("q192_stream_enrich", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("uid"),
          col("event_id").cast("long").as("eid"))
      if (ev.isEmpty) {
        Seq.empty[(String, Long, Long, Long)]
          .toDF("event_type", "type_weight", "n_events", "weighted_sum")
      } else {
      val dim = ev.groupBy(col("event_type"))
        .agg((count(lit(1)) % 7L + 1L).as("type_weight"))
      val src = readFeed(s, feedQ192(s, dir), "event_type STRING, uid LONG")
      val enriched = graft.streaming.Streams.enrich(src, dim,
        "event_type", joinType = "left")
      runStreamGate(s, "q192", enriched)(
        _.groupBy(col("event_type"), col("type_weight"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("uid") * col("type_weight")).as("weighted_sum")))
      }
    },
      // q192: the plain batch join + aggregate (stream-static enrich
      // has no state: the stream path must equal this by construction)
      """WITH dim AS (SELECT event_type,
        |    count(*) % 7 + 1 AS type_weight
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(d.type_weight AS BIGINT) AS type_weight,
        |  count(*) AS n_events,
        |  CAST(sum(e.user_id * d.type_weight) AS BIGINT) AS weighted_sum
        |FROM events e JOIN dim d ON d.event_type = e.event_type
        |GROUP BY 1, 2""".stripMargin),

    // ---- streaming: WATERMARKED STREAM DEDUP under late data (§2.9's
    // dropDuplicatesWithinWatermark, oracle-gated like q169). Feed:
    // four on-time time-slices + a late fifth file (eid % 10),
    // pre-reduced to ONE row per (user, file) — Spark admits the first
    // row per key in PROCESSING order, so the staged feed removes the
    // only nondeterministic choice while keeping every cross-batch
    // state behavior: duplicate-within-watermark dropped, state
    // evicted as the watermark passes its expiry, key re-emitted
    // after eviction, late rows admitted or dropped by the lagged
    // watermark. No sentinels: dedup emits on arrival (not on
    // watermark crossing), so every behavior is visible without a
    // flush.
    Query("q175_watermark_dedup", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("uid"),
          tsSec.cast("long").as("tsSec"),
          col("event_id").cast("long").as("eid"))
      if (ev.isEmpty) {
        Seq.empty[(Long, Long)].toDF("uid", "ts_emitted")
      } else {
      val src = readFeed(s, feedQ175(s, dir), "uid LONG, tsSec LONG")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
      runStreamGate(s, "q175",
          graft.streaming.Streams.dedupByKey(src, "uid", "ts", "30 minutes"))(
        _.select(col("uid"), col("tsSec").as("ts_emitted")))
      }
    }, {
      // q175: the five-batch state machine unrolled — the same
      // deterministic (user, file)-reduced feed, then per batch k:
      // admission and eviction both use the TWO-BATCH-LAGGED watermark
      // (max staged event time through batch k-2, minus 1800 s —
      // pinned empirically, the q169 "previous watermark" rule applied
      // to both sides of this operator; batches 0 and 1 run
      // watermark-free), a row is dropped while its key's LATEST
      // emitted state is alive (expiry = emitted ts + 1800 >= the
      // lagged watermark), dropped duplicates do NOT refresh state
      // expiry, and an evicted key re-emits. Assumes all five staged
      // files are non-empty (true of the gate tables): a missing file
      // would renumber Spark's batches but not the oracle's.
      def wm(k: Int) =
        s"(SELECT max(pmax) - 1800 FROM p WHERE b <= ${k - 2})"
      def round_(k: Int) = {
        val ems = (0 until k)
          .map(j => s"SELECT uid, ts, $j AS j FROM em$j")
          .mkString("\n|    UNION ALL ")
        s"""stb$k AS (SELECT uid, ts FROM (
           |    SELECT uid, ts, row_number() OVER (PARTITION BY uid
           |      ORDER BY j DESC) AS rn
           |    FROM ($ems)) WHERE rn = 1),
           |em$k AS (SELECT a.uid, a.ts FROM base a
           |  LEFT JOIN stb$k s ON s.uid = a.uid
           |    AND s.ts + 1800 >= ${wm(k)}
           |  WHERE a.b = $k AND a.ts >= ${wm(k)}
           |    AND s.uid IS NULL)""".stripMargin
      }
      s"""WITH ev AS (SELECT user_id AS uid,
         |    epoch_ns(ts) // 1000000000 AS ts, event_id AS eid
         |  FROM events),
         |rng AS (SELECT min(ts) AS mn, max(ts) AS mx FROM ev
         |  WHERE eid % 10 <> 0),
         |base AS (SELECT uid,
         |    CASE WHEN eid % 10 = 0 THEN 4
         |         ELSE (ts - mn) * 4 // (mx - mn + 1) END AS b,
         |    min(ts) AS ts
         |  FROM ev, rng GROUP BY 1, 2),
         |p AS (SELECT b, max(ts) AS pmax FROM base GROUP BY 1),
         |em0 AS (SELECT uid, ts FROM base WHERE b = 0),
         |em1 AS (SELECT a.uid, a.ts FROM base a
         |  LEFT JOIN em0 s ON s.uid = a.uid
         |  WHERE a.b = 1 AND s.uid IS NULL),
         |${round_(2)},
         |${round_(3)},
         |${round_(4)}
         |SELECT uid, ts AS ts_emitted FROM (
         |  SELECT * FROM em0 UNION ALL SELECT * FROM em1
         |  UNION ALL SELECT uid, ts FROM em2
         |  UNION ALL SELECT uid, ts FROM em3
         |  UNION ALL SELECT uid, ts FROM em4)""".stripMargin
    }),

    // ---- streaming: STREAM-STREAM interval join under late data
    // (§2.9's last uncovered surface) — even event ids feed the left
    // stream, odd the right; each side ships three on-time time
    // slices plus a late fourth file, and the join emits (user,
    // left ts, right ts) for right events inside [left, left+1h).
    // The batch oracle unrolls the two-store state machine with the
    // same lagged-watermark rules q169/q175 pinned.
    Query("q177_stream_interval_join", (s, dir) =>
      streamIntervalJoinGate(s, dir, "inner"),
      // q177/q181: the full interval join minus what streaming loses to
      // lateness/eviction. Pinned rules (engine-diffed to zero on both
      // the inner and left-outer runs):
      //  - INPUT filtering drops a row below the TWO-batch-lagged
      //    global watermark W2(k) = min(maxL, maxR through k-2) − 1800
      //    on the row's own event time (the q169/q175 "previous
      //    watermark" rule — no gap allowance: the predicate is the
      //    event-time column vs the global watermark);
      //  - STATE eviction uses the freshly-advanced one-batch-lagged
      //    W1(j): a left row dies once l_ts + gap < W1(j) (no
      //    admissible right can match it), a right row once
      //    r_ts < W1(j). Both are monotone, so "alive at the match
      //    batch k*" collapses to l_ts >= W2(k*) − gap / r_ts >= W2(k*)
      //    (W1(k*−1) = W2(k*)), and "ever evicted" collapses to the
      //    final W1(3);
      //  - a LEFT-OUTER null row emits for an admitted left row with NO
      //    emitted match once eviction reaches it (l_ts + gap < W1(3)).
      s"""WITH $streamJoinCtes
         |SELECT uid, l_ts, r_ts FROM mm""".stripMargin),

    // ---- streaming: LEFT-OUTER stream-stream join — q177's harness
    // with the null-extending side: a left event whose state evicts
    // without ever matching emits (uid, l_ts, NULL) — the "click with
    // no purchase in the window" stream, produced incrementally
    Query("q181_stream_left_join", (s, dir) =>
      streamIntervalJoinGate(s, dir, "leftOuter"),
      s"""WITH $streamJoinCtes,
         |wfin AS (SELECT least(
         |      (SELECT max(pmax) FROM pl WHERE b <= 2),
         |      (SELECT max(pmax) FROM pr WHERE b <= 2)) - 1800 AS wv),
         |nulls AS (SELECT l.uid, l.ts AS l_ts FROM l
         |  LEFT JOIN w wa ON wa.k = l.b
         |  WHERE (wa.wv IS NULL OR l.ts >= wa.wv)
         |    AND NOT EXISTS (SELECT 1 FROM mm
         |      WHERE mm.uid = l.uid AND mm.l_ts = l.ts)
         |    AND l.ts + 3600 < (SELECT wv FROM wfin))
         |SELECT uid, l_ts, r_ts FROM mm
         |UNION ALL
         |SELECT uid, l_ts, CAST(NULL AS BIGINT) AS r_ts FROM nulls"""
        .stripMargin),

    // ---- streaming: FULL-OUTER stream-stream interval join — q181's
    // harness with BOTH sides null-extending at state eviction (the
    // last stream-stream join type; left rows null-extend once
    // l_ts + gap falls below the final watermark, right rows once
    // r_ts does)
    Query("q209_stream_full_join", (s, dir) =>
      streamIntervalJoinGate(s, dir, "fullOuter"),
      // q209: q181's rules applied to BOTH sides — a right-null row
      // emits for an admitted left row with no emitted match once
      // l_ts + gap < W1(3); a left-null row for an admitted right row
      // with no emitted match once r_ts < W1(3) (the right-side
      // eviction rule has no gap term)
      s"""WITH $streamJoinCtes,
         |wfin AS (SELECT least(
         |      (SELECT max(pmax) FROM pl WHERE b <= 2),
         |      (SELECT max(pmax) FROM pr WHERE b <= 2)) - 1800 AS wv),
         |lnulls AS (SELECT l.uid, l.ts AS l_ts FROM l
         |  LEFT JOIN w wa ON wa.k = l.b
         |  WHERE (wa.wv IS NULL OR l.ts >= wa.wv)
         |    AND NOT EXISTS (SELECT 1 FROM mm
         |      WHERE mm.uid = l.uid AND mm.l_ts = l.ts)
         |    AND l.ts + 3600 < (SELECT wv FROM wfin)),
         |rnulls AS (SELECT r.uid, r.ts AS r_ts FROM r
         |  LEFT JOIN w wb ON wb.k = r.b
         |  WHERE (wb.wv IS NULL OR r.ts >= wb.wv)
         |    AND NOT EXISTS (SELECT 1 FROM mm
         |      WHERE mm.uid = r.uid AND mm.r_ts = r.ts)
         |    AND r.ts < (SELECT wv FROM wfin))
         |SELECT uid, l_ts, r_ts FROM mm
         |UNION ALL
         |SELECT uid, l_ts, CAST(NULL AS BIGINT) AS r_ts FROM lnulls
         |UNION ALL
         |SELECT uid, CAST(NULL AS BIGINT) AS l_ts, r_ts FROM rnulls"""
        .stripMargin),

    // ---- streaming: WATERMARK-TIMEOUT sessionization — q78's gap
    // sessions closed by GroupStateTimeout.EventTimeTimeout instead
    // of a sentinel flush: each state update arms a timeout at
    // last + gap; when the watermark passes it, the group re-invokes
    // with hasTimedOut and the session emits. Sessions still open at
    // stream end (the tail of event time) stay in state and are NOT
    // emitted — exactly the production contract, and the gated
    // difference vs q78.
    Query("q182_session_timeout", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("userId"),
          tsSec.cast("long").as("tsSec"))
      if (ev.isEmpty) {
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("user_id", "session_start", "session_end", "n_events")
      } else {
      val src = readFeed(s, feedQ182(s, dir), "userId LONG, tsSec LONG")
        .withColumn("ts", timestamp_seconds(col("tsSec")))
        .withWatermark("ts", "30 minutes")
        .withColumn("value", lit(0.0))
        .select(col("userId"), col("tsSec"), col("value"), col("ts"))
        .as[graft.streaming.Streams.TimedSessionEvent]
      runStreamGate(s, "q182", graft.streaming.Streams
          .statefulSessionsTimeout(src, gapSec = 1800L))(
        _.select(col("userId").as("user_id"),
          col("start").as("session_start"), col("end").as("session_end"),
          col("n").as("n_events")))
      }
    },
      // q182: q78's batch sessionization, minus the sessions the
      // timeout never reached — a user's FINAL session emits only if
      // its timeout timestamp (end + gap) fell below the final
      // watermark (global max event time − 1800). Pinned empirically:
      // unlike the join operators, flatMapGroupsWithState timeouts DO
      // get a post-final-file pass under AvailableNow, so the final
      // watermark covers the last batch's data (13 tail sessions stay
      // open at sf0.01 — the gated difference vs q78's sentinel flush).
      // Every non-final session closed in-stream via the gap rule.
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
        |        OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |s2 AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_seq FROM s),
        |sess AS (SELECT user_id, min(ts_s) AS session_start,
        |    max(ts_s) AS session_end, count(*) AS n_events
        |  FROM s2 GROUP BY user_id, session_seq),
        |f AS (SELECT *, max(session_end)
        |    OVER (PARTITION BY user_id) AS umax FROM sess),
        |mx AS (SELECT max(ts_s) AS m FROM e)
        |SELECT user_id, session_start, session_end, n_events
        |FROM f, mx
        |WHERE session_end < umax
        |   OR session_end + 1800 < m - 1800""".stripMargin),

    // ---- streaming: Misra–Gries heavy hitters as mapGroupsWithState
    // stream state, gate-checked like its batch sibling q65. The events
    // table feeds a FILE stream — one parquet file per micro-batch,
    // maxFilesPerTrigger=1 + Trigger.AvailableNow (the reference's
    // file-per-cron-tick news feed shape) — so no row ever moves through
    // the driver; batch membership is the deterministic eid mod 4 (the
    // MG theorems gated below hold for ANY batch split / merge order,
    // so the split needs no global sort). Driver-side state is ONLY the
    // per-group final summary (≤ k counters each); the exact counts it
    // is audited against are computed distributed and joined.
    Query("q77_streaming_heavy_hitters", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val k = 64
      val ev = T(s, dir, "events")
        .select(col("event_type").as("group"),
          col("user_id").cast("string").as("item"),
          col("event_id").cast("long").as("eid"))
      val src = readFeed(s, feedQ77(s, dir), "group STRING, item STRING")
        .as[graft.streaming.Streams.ItemEvent]
      val q = graft.streaming.Streams.streamingHeavyHitters(src, k)
        .writeStream.format("memory").queryName("graft_gate_stream_hh")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // one summary per group, ≤ k counters each — bounded sketch state
      val finals = s.table("graft_gate_stream_hh")
        .as[graft.streaming.Streams.HHSummary].collect()
        .groupBy(_.group).map { case (_, ss) => ss.maxBy(_.n) }.toSeq
      val sumN = finals.map(su => (su.group, su.n)).toDF("group", "summ_n")
      val sumItems = finals
        .flatMap(su => su.items.toSeq.map { case (it, w) => (su.group, it, w) })
        .toDF("group", "item", "w")
      val exact = ev.groupBy(col("group"), col("item"))
        .agg(count(lit(1)).as("tru"))
      // full outer: an exact item missing from the summary feeds the
      // no-missed theorem; a summary item with zero true count (a
      // broken state machine inventing items) fails the bounds check
      exact.join(sumItems, Seq("group", "item"), "full_outer")
        .join(broadcast(sumN), "group")
        .withColumn("tru", coalesce(col("tru"), lit(0L)))
        .withColumn("bound", expr(s"summ_n div ${k + 1}"))
        .groupBy(col("group").as("event_type"))
        .agg(max(col("summ_n")).as("n"),
          bool_and(col("tru") <= col("bound") || col("w").isNotNull)
            .as("no_missed_heavy"),
          bool_and(col("w").isNull ||
              (col("w") <= col("tru") && col("w") >= col("tru") - col("bound")))
            .as("bounds_ok"))
    },
      // q77: the streaming MG summary's running total must equal the
      // exact per-group count, and the two MG theorems (no missed heavy
      // item, weight within [true − N/(k+1), true]) hold for any batch
      // split — the q65/q70 guarantee-is-the-oracle discipline applied
      // to the stateful streaming path.
      """SELECT event_type, count(*) AS n,
        |  true AS no_missed_heavy, true AS bounds_ok
        |FROM events GROUP BY 1""".stripMargin),

    // ---- streaming: stateful gap sessionization (flatMapGroupsWithState,
    // §2.9) gated against the BATCH sessionization oracle — the q15
    // lag/cumsum CTE grouped to sessions. The events table feeds a FILE
    // stream (one parquet file per micro-batch, maxFilesPerTrigger=1 +
    // AvailableNow — the reference's file-per-cron-tick feed shape):
    // batches are TIME-RANGE slices (ntile over the global event-time
    // order — harness determinism; cross-batch order is what the state
    // machine's correctness rides on), the per-user flush sentinel
    // 1801 s after the global max ts ships as the LAST file so Append-
    // mode emission is complete, and the closed sessions land in a
    // parquet SINK read back as the result — no row of input or output
    // moves through the driver. Gated columns are the order-independent
    // session identity (user, start, end, n_events); float sums
    // accumulate in a different order on the stream path and stay out.
    Query("q78_streaming_sessions", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("userId"),
          tsSec.cast("long").as("tsSec"))
      // empty events → empty session table (the oracle's GROUP BY over
      // zero rows), not a zero-file stream
      if (ev.isEmpty) {
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("user_id", "session_start", "session_end", "n_events")
      } else {
      val maxTs = ev.agg(min(col("tsSec")).as("mn"),
        max(col("tsSec")).as("mx"))
      // Batch membership by VALUE slice of the event-time range —
      // floor((ts-mn)·4 / span) ∈ [0,3] from two broadcast scalars
      // (r12: the previous ntile over a global unpartitioned window
      // sorted the whole table in ONE task; slicing by value keeps
      // batches time-ordered — b is monotone in ts, so cross-batch
      // state order is preserved and equal timestamps never split —
      // with no global sort anywhere in the stager); staged once per
      // corpus stamp in feedQ78 (r20)
      val src = readFeed(s, feedQ78(s, dir),
          "userId LONG, tsSec LONG, value DOUBLE")
        .as[graft.streaming.Streams.SessionEvent]
      runStreamGate(s, "q78", graft.streaming.Streams
          .statefulSessions(src, gapSec = 1800L))(
        // defensive: sentinel-only sessions never close (they ride in
        // state when the stream ends) but a start at/after the sentinel
        // must not leak into the gate if that ever changes
        _.crossJoin(broadcast(maxTs))
          .filter(col("start") < col("mx") + 1801L)
          .select(col("userId").as("user_id"),
            col("start").as("session_start"), col("end").as("session_end"),
            col("n").as("n_events")))
      }
    },
      // q78: the stateful streaming sessionizer must reproduce the batch
      // session structure exactly — q15's lag/cumsum CTE grouped to
      // (user, start, end, count). Session identity is integer-only, so
      // the compare is exact.
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
        |        OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |s2 AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s)
        |SELECT user_id, min(ts_s) AS session_start,
        |  max(ts_s) AS session_end, count(*) AS n_events
        |FROM s2 GROUP BY user_id, session_seq""".stripMargin))
}
