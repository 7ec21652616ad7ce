package graft
package catalog

import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators._

/** Record linkage and temporal joins: fuzzy and sorted-neighbourhood
  * blocking, as-of and interval joins, and SCD Type-2 history.
  */
private[graft] object LinkageQueries {

  /** The q123 SCD2 build as a reusable CTE chain ending in `hist`
    * (user_id, version, value, valid_from_ns, valid_to_ns, n_events) —
    * shared by the q123 history gate and the q152 as-of snapshot. */
  private val scd2Ctes: String =
    """e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_type,
      |    event_id FROM events),
      |r AS (SELECT *,
      |    CASE WHEN row_number() OVER w = 1
      |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
      |         THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
      |v AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
      |    ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS version FROM r),
      |g AS (SELECT user_id, version, max(event_type) AS value,
      |    min(ts_ns) AS valid_from_ns, count(*) AS n_events
      |  FROM v GROUP BY 1, 2),
      |hist AS (SELECT user_id, version, value, valid_from_ns,
      |    lead(valid_from_ns) OVER (PARTITION BY user_id
      |      ORDER BY version) AS valid_to_ns, n_events
      |  FROM g)""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- as-of join: each purchase to the user's latest prior click
    Query("q34_asof_join", (s, dir) => {
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"))
      AsOfJoin.leftAsOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("click_event_id", "ts"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("right_click_event_id").as("prior_click_id"),
          // floorDiv (not `div`) for consistency with the floor-division
          // sweep — the ASOF join guarantees ts >= right_ts so the two
          // agree here, but gap arithmetic should not carry a latent
          // truncate-vs-floor divergence waiting for a negative input
          TimeFns.floorDiv(col("ts") - col("right_ts"), 1000000000L)
            .as("gap_s"))
    },
      """SELECT p.event_id, p.user_id, p.value,
        |  c.event_id AS prior_click_id,
        |  (epoch_ns(p.ts) - epoch_ns(c.ts)) // 1000000000 AS gap_s
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),

    // ---- linkage: blocked fuzzy self-join on part names — same first
    // token AND 1 ≤ levenshtein ≤ 3 (exact dups excluded: those are
    // Dedup.exact's job); length prune before the DP kernel
    Query("q96_fuzzy_join", (s, dir) =>
      FuzzyJoin.byEditDistance(T(s, dir, "part"), "p_partkey", "p_name",
        maxDist = 3, minDist = 1),
      // q96: block on the lowercased first token, pair within block,
      // classical Levenshtein in [1, 3] — both engines implement the
      // unweighted character-edit DP, and part names are ASCII, so the
      // distances agree exactly; the Spark-side length prune is a
      // performance bound subsumed by lev <= 3, not a semantic term
      """WITH p AS (SELECT p_partkey AS k, p_name AS nm,
        |    lower(split_part(p_name, ' ', 1)) AS blk FROM part)
        |SELECT a.k AS key_a, b.k AS key_b, a.nm AS name_a, b.nm AS name_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev
        |FROM p a JOIN p b ON a.blk = b.blk AND a.k < b.k
        |WHERE levenshtein(a.nm, b.nm) BETWEEN 1 AND 3""".stripMargin),

    // ---- linkage: sorted-neighborhood blocking — the skew-proof
    // complement to q96's token blocks (candidates = exactly n·w)
    Query("q121_sorted_neighborhood", (s, dir) =>
      FuzzyJoin.sortedNeighborhood(T(s, dir, "customer"),
        "c_custkey", "c_name", windowSize = 5, maxDist = 2, minDist = 1),
      // q121: identical sort order (nm, k), rank-offset candidate join,
      // full levenshtein on the <= maxDist survivors
      """WITH b AS (SELECT c_custkey AS k, lower(c_name) AS nm FROM customer),
        |r AS (SELECT k, nm, row_number() OVER (ORDER BY nm, k) AS rn
        |  FROM b),
        |cand AS (SELECT a.k AS k0, a.nm AS nm0, bb.k AS k1, bb.nm AS nm1
        |  FROM r a JOIN r bb ON bb.rn BETWEEN a.rn + 1 AND a.rn + 5),
        |v AS (SELECT *, levenshtein(nm0, nm1) AS lev FROM cand
        |  WHERE abs(length(nm0) - length(nm1)) <= 2)
        |SELECT DISTINCT least(k0, k1) AS key_a, greatest(k0, k1) AS key_b,
        |  CASE WHEN k0 < k1 THEN nm0 ELSE nm1 END AS name_a,
        |  CASE WHEN k0 < k1 THEN nm1 ELSE nm0 END AS name_b,
        |  CAST(lev AS BIGINT) AS lev
        |FROM v WHERE lev BETWEEN 1 AND 2""".stripMargin),

    // ---- join: FORWARD as-of — each click to the user's NEXT
    // purchase (attribution window / next-event labeling)
    Query("q122_asof_forward", (s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"))
      AsOfJoin.leftAsOfForward(clicks, purchases, Seq("user_id"),
        "ts", "ts", rightPayload = Seq("purchase_event_id", "ts"))
        .select(col("event_id"), col("user_id"),
          col("right_purchase_event_id").as("next_purchase_id"),
          TimeFns.floorDiv(col("right_ts") - col("ts"), 1000000000L)
            .as("gap_s"))
    },
      // q122: DuckDB's native forward ASOF (c.ts <= p.ts picks the least
      // p.ts >= c.ts); gap via floor division
      """SELECT c.event_id, c.user_id, p.event_id AS next_purchase_id,
        |  (epoch_ns(p.ts) - epoch_ns(c.ts)) // 1000000000 AS gap_s
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin),

    // ---- history: SCD Type-2 interval build — each user's event_type
    // timeline collapsed into versioned [valid_from, valid_to) runs
    // (gaps-and-islands); the dimension-history table you keep when
    // the reference's daily overwrite-upsert would have destroyed it
    Query("q123_scd2_history", (s, dir) =>
      SnapshotDiff.scd2History(T(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id"),
      // q123: identical (ts, event_id) total order; run starts =
      // row 1 OR null-safe value change; version = running sum of starts;
      // valid_to = next version's valid_from (half-open intervals)
      s"""WITH $scd2Ctes
         |SELECT user_id, version, value, valid_from_ns, valid_to_ns,
         |  n_events, valid_to_ns IS NULL AS is_current
         |FROM hist""".stripMargin),

    // ---- history: SCD2 as-of snapshot — q123's interval table
    // queried at the corpus midpoint timestamp (the time-travel read
    // the history table exists to serve)
    Query("q152_scd2_asof", (s, dir) => {
      val ev = T(s, dir, "events")
      val hist = SnapshotDiff.scd2History(ev, "user_id", "ts",
        "event_type", "event_id")
      val t = ev.agg(TimeFns.floorDiv(min(col("ts")) + max(col("ts")),
        2L).as("t__"))
      hist.crossJoin(broadcast(t))
        .filter(col("valid_from_ns") <= col("t__") &&
          (col("valid_to_ns").isNull || col("valid_to_ns") > col("t__")))
        .select(col("user_id"), col("version"),
          col("value").as("value_at_t"), col("valid_from_ns"))
    },
      // q152: the shared hist CTE filtered at the corpus midpoint
      // (floor-divided, data-derived)
      s"""WITH $scd2Ctes,
         |b AS (SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2
         |    AS t FROM events)
         |SELECT user_id, version, value AS value_at_t, valid_from_ns
         |FROM hist, b
         |WHERE valid_from_ns <= t
         |  AND (valid_to_ns IS NULL OR valid_to_ns > t)""".stripMargin),

    // ---- history: temporal dimension join — each purchase event
    // joined to the SCD2 state version valid AT its timestamp
    // (backward as-of on valid_from per user: the fact-to-dimension
    // time-travel join the q123 table exists to serve)
    Query("q157_temporal_dim_join", (s, dir) => {
      val ev = T(s, dir, "events")
      val hist = SnapshotDiff.scd2History(ev, "user_id", "ts",
        "event_type", "event_id")
        .select(col("user_id"), col("valid_from_ns"), col("version"),
          col("value"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOfJoin.leftAsOf(facts, hist, Seq("user_id"), "ts",
          "valid_from_ns", rightPayload = Seq("version", "value"))
        .select(col("event_id"), col("user_id"),
          col("right_version").as("state_version"),
          col("right_value").as("state_value"))
    },
      // q157: the shared hist CTE + DuckDB's native backward ASOF
      // (greatest valid_from <= event ts per user)
      s"""WITH $scd2Ctes,
         |f AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn
         |  FROM events WHERE event_type = 'purchase')
         |SELECT f.event_id, f.user_id, h.version AS state_version,
         |  h.value AS state_value
         |FROM f ASOF LEFT JOIN hist h
         |  ON f.user_id = h.user_id AND f.tsn >= h.valid_from_ns"""
        .stripMargin),

    // ---- joins: NEAREST as-of (pandas merge_asof direction=nearest,
    // ties backward) — one union + one window shuffle computes both
    // carries; the projection picks the nearer purchase per click.
    Query("q235_asof_nearest", (s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"))
      AsOfJoin.leftAsOfNearest(clicks, purchases, Seq("user_id"),
        "ts", "ts", rightPayload = Seq("purchase_event_id"))
        .select(col("event_id"), col("user_id"),
          col("right_purchase_event_id").as("nearest_purchase_id"),
          TimeFns.floorDiv(abs(col("right_ts") - col("ts")),
            1000000000L).as("gap_abs_s"),
          col("matched_back"))
    },
      // q235: per click, argmin over purchases of (|Δt|, direction)
      // with backward (dir 0) winning ties and the LOWEST purchase id
      // winning same-(user, ts) duplicates — the engine's distB <= distF
      // projection plus AsOfJoin's min-payload-struct canonicalization;
      // clickless users null-extend
      """WITH c AS (SELECT event_id, user_id, epoch_ns(ts) AS t
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS pid, epoch_ns(ts) AS pt
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.event_id, c.user_id, p.pid, p.pt,
        |    abs(p.pt - c.t) AS d,
        |    CASE WHEN p.pt <= c.t THEN 0 ELSE 1 END AS dir
        |  FROM c JOIN p USING (user_id)),
        |b AS (SELECT event_id, pid, d, dir, row_number() OVER (
        |    PARTITION BY event_id ORDER BY d, dir, pt, pid) AS rn
        |  FROM j)
        |SELECT c.event_id, c.user_id,
        |  b.pid AS nearest_purchase_id,
        |  b.d // 1000000000 AS gap_abs_s,
        |  CASE WHEN b.pid IS NULL THEN NULL
        |       ELSE (b.dir = 0) END AS matched_back
        |FROM c LEFT JOIN (SELECT * FROM b WHERE rn = 1) b
        |  USING (event_id)""".stripMargin),

    // ---- joins: RANGE-OVERLAP self-join per part — each lineitem's
    // [ship, ship + transit] day window against every other line of
    // the SAME part; bucket decomposition turns the theta join into
    // an equi join, the first-common-bucket rule dedupes without a
    // shuffle. Transit days are a deterministic hash of the line id,
    // mirrored in the oracle.
    Query("q236_range_overlap", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        (col("l_orderkey") * 10L + col("l_linenumber")).as("lid__"),
        // NTZ parquet date: micros since epoch (UTC session) → days
        TimeFns.floorDiv(
          unix_micros(col("l_shipdate").cast("timestamp")),
          86400L * 1000000L).as("sd__"))
        .withColumn("ed__", col("sd__") + pmod(col("lid__"), lit(20L)))
      val left = li.select(col("l_partkey"), col("lid__").as("id_a"),
        col("sd__").as("sa__"), col("ed__").as("ea__"))
      val right = li.select(col("l_partkey"), col("lid__").as("id_b"),
        col("sd__").as("sb__"), col("ed__").as("eb__"))
      IntervalJoin.rangeOverlap(left, right, "sa__", "ea__",
          "sb__", "eb__", keys = Seq("l_partkey"), bucketWidth = 16L)
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_overlaps"))
    },
      // q236: the direct theta self-join the bucketed engine plan must
      // equal — same day conversion, same lid-derived transit days,
      // closed-interval overlap, id_a < id_b
      """WITH li AS (SELECT l_partkey,
        |    l_orderkey * 10 + l_linenumber AS lid,
        |    (epoch_ns(l_shipdate) // 1000000000) // 86400 AS sd
        |  FROM lineitem),
        |r AS (SELECT l_partkey, lid, sd, sd + (lid % 20) AS ed FROM li)
        |SELECT a.l_partkey, count(*) AS n_overlaps
        |FROM r a JOIN r b ON a.l_partkey = b.l_partkey
        |  AND a.lid < b.lid AND a.sd <= b.ed AND b.sd <= a.ed
        |GROUP BY 1""".stripMargin),

    // ---- CDC analytics: STATE DWELL TIMES — q123's SCD2 intervals
    // rolled to per-state duration stats (closed versions only;
    // open versions counted, never averaged): how long does a user
    // SIT in each event-type state?
    Query("q325_state_dwell", (s, dir) => {
      val hist = SnapshotDiff.scd2History(T(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id")
      val dwellSec = call_function("div",
        col("valid_to_ns") - col("valid_from_ns"), lit(1000000000L))
      hist.groupBy(col("value"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("valid_to_ns").isNull, 1L).otherwise(0L))
            .as("n_open"),
          sum(when(col("valid_to_ns").isNotNull, 1L).otherwise(0L))
            .as("n_closed"),
          sum(when(col("valid_to_ns").isNotNull, dwellSec)
            .otherwise(0L)).as("total_dwell_sec"))
        .select(col("value"), col("n_versions"), col("n_open"),
          col("n_closed"), col("total_dwell_sec"),
          graft.functions.ExactRound.ratioScaled(
            col("total_dwell_sec"), col("n_closed"), 2)
            .as("avg_dwell_sec_e2"))
    }, {
      // q325: q123's SCD2 CTE rolled to per-state dwell stats; closed
      // durations truncate to whole seconds (integer div, q320)
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH $scd2Ctes,
         |dw AS (SELECT value, count(*) AS n_versions,
         |    CAST(sum(CASE WHEN valid_to_ns IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_open,
         |    CAST(sum(CASE WHEN valid_to_ns IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_closed,
         |    CAST(sum(CASE WHEN valid_to_ns IS NOT NULL THEN
         |      (valid_to_ns - valid_from_ns) // 1000000000 ELSE 0 END)
         |      AS BIGINT) AS total_dwell_sec
         |  FROM hist GROUP BY 1)
         |SELECT value, n_versions, n_open, n_closed, total_dwell_sec,
         |  ${ratioScaledSql("total_dwell_sec", "n_closed", 2)}
         |    AS avg_dwell_sec_e2
         |FROM dw""".stripMargin
    }),

    // ---- interval join: attribute purchase events to the click-session
    // window containing them (same user; day-gap sessions so windows
    // genuinely span time) — the range predicate becomes an equi-join
    // on a day bucket (intervals explode to the buckets they overlap; a
    // point has exactly one bucket, so no dedup), then the exact
    // containment filter runs codegen'd. No nested-loop join, no
    // broadcast requirement.
    Query("q69_interval_join", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), tsSec.as("ts_s"))
      val sessions = Sessionize.sessions(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id"), col("ts_s")),
          "user_id", col("ts_s"), 86400L, col("event_id"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts_s")).as("s_start"), max(col("ts_s")).as("s_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_s"))
      IntervalJoin.pointInInterval(purchases, sessions,
          "ts_s", "s_start", "s_end",
          keys = Seq("user_id"), bucketWidth = 86400L)
        .select(col("event_id"), col("user_id"), col("session_seq"),
          col("ts_s"))
    },
      // q69: the oracle is the plain range join DuckDB can afford at gate
      // scale; sessionization mirrors q15's lag + cumulative-sum CTE
      """WITH c AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events
        |  WHERE event_type = 'click'),
        |s AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
        |        OR ts_s - lag(ts_s) OVER w > 86400 THEN 1 ELSE 0 END AS is_new
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |s2 AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS session_seq FROM s),
        |sess AS (SELECT user_id, session_seq,
        |    min(ts_s) AS s_start, max(ts_s) AS s_end
        |  FROM s2 GROUP BY 1, 2),
        |p AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, sess.session_seq, p.ts_s
        |FROM p JOIN sess ON p.user_id = sess.user_id
        |  AND p.ts_s >= sess.s_start AND p.ts_s <= sess.s_end""".stripMargin))
}
