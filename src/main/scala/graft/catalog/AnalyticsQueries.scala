package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators._
import OracleSql._

/** Event and order analytics: cohorts, funnels, journeys, attribution,
  * segmentation, OLAP roll-ups, baskets and sequence mining, technical
  * indicators and time-series features.
  */
private[graft] object AnalyticsQueries {

  val queries: Seq[Query] = Seq(
    // ---- analytics: retention cohorts — users grouped by first-seen
    // day, activity counted at each day offset: the classic retention
    // matrix. Distinct user-day grid first (map-side combinable), then
    // one broadcast-scale cohort join; all integer day arithmetic.
    Query("q89_retention_cohorts", (s, dir) => {
      val userDay = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), TimeFns.floorDiv(tsSec, 86400L).as("day"))
        .distinct()
      val cohort = userDay.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      userDay.join(cohort, "user_id")
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
      // q89: distinct user-day grid -> per-user min day -> offset counts
      """WITH ud AS (SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 1000000000) // 86400 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
        |SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM ud JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // ---- analytics: ordered conversion funnel — per user the FIRST
    // view, the first click strictly AFTER it, the first purchase
    // strictly after that; per-stage user counts. Three keyed
    // aggregate+join stages (each min() is map-side combinable), no
    // windows, integer epoch seconds end to end.
    Query("q90_funnel_steps", (s, dir) => {
      val e = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), tsSec.as("ts_s"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_s") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_s") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t3"))
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("step"), col("n_users"))
      stage("1_view", v).unionByName(stage("2_click", c))
        .unionByName(stage("3_purchase", p))
    },
      // q90: first view -> first click strictly after -> first purchase
      // strictly after; per-stage distinct-user counts
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s
        |  FROM events WHERE user_id IS NOT NULL),
        |v AS (SELECT user_id, min(ts_s) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ts_s) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts_s > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts_s) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_s > c.t2 GROUP BY 1)
        |SELECT '1_view' AS step, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p""".stripMargin),

    // ---- analytics: burst detection — hours whose event count ≥ 2×
    // the trailing-24-observed-hours average per type, with a
    // 12-hour minimum baseline; all-long surface, division-free
    Query("q98_burst_hours", (s, dir) =>
      EventAnalytics.burstHours(T(s, dir, "events"), "event_type", "ts",
        trailingHours = 24, minTrailing = 12, multNum = 2, multDen = 1),
      // q98: hourly pre-aggregate, trailing-24-observed-rows frame, the
      // division-free spike test; the window sum casts back to BIGINT
      // (DuckDB sums BIGINT into HUGEINT — the r10 hash lesson)
      """WITH h AS (SELECT event_type,
        |    ((epoch_ns(ts) // 1000000000) // 3600) * 3600 AS hour_start,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hour_start, n_events,
        |    count(*) OVER fr AS trail_n,
        |    CAST(coalesce(sum(n_events) OVER fr, 0) AS BIGINT) AS trail_sum
        |  FROM h WINDOW fr AS (PARTITION BY event_type ORDER BY hour_start
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_start, n_events, trail_n, trail_sum
        |FROM w WHERE trail_n >= 12
        |  AND n_events * trail_n >= 2 * trail_sum""".stripMargin),

    // ---- analytics: rolling 7-day distinct active users per observed
    // day — explode-to-contributing-days formulation (three linear
    // shuffles), not a range join
    Query("q99_rolling_active", (s, dir) =>
      EventAnalytics.rollingActiveUsers(T(s, dir, "events"), "user_id",
        "ts", windowDays = 7),
      // q99: the range-join formulation — semantically identical to the
      // engine's explode-to-contributing-days plan (user counted on day
      // t iff active in [t-6, t], days restricted to observed days)
      """WITH ud AS (SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 1000000000) // 86400 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |o AS (SELECT DISTINCT day FROM ud)
        |SELECT o.day, count(DISTINCT ud.user_id) AS n_active
        |FROM o JOIN ud ON ud.day BETWEEN o.day - 6 AND o.day
        |GROUP BY 1""".stripMargin),

    // ---- features: recency-weighted user activity — Σ (4/5)^age_days
    // per user with EXACT e6-scaled integer decay powers (no libm pow);
    // reference day = the table's max event day
    Query("q111_decay_activity", (s, dir) =>
      EventAnalytics.decayActivity(T(s, dir, "events"),
        "user_id", "ts", decayNum = 4, decayDen = 5, maxAgeDays = 30), {
      // q111: the SAME e6 decay-power table (decayPowersE6 — one Scala
      // source for both engines) as a list literal; floor day division
      val arr = graft.operators.EventAnalytics.decayPowersE6(4, 5, 30)
        .mkString("[", ", ", "]")
      s"""WITH d AS (SELECT user_id,
         |    epoch_ns(ts) // 86400000000000 AS d_ FROM events),
         |r AS (SELECT max(d_) AS ref FROM d)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CASE WHEN ref - d_ <= 30
         |    THEN list_extract($arr, CAST(ref - d_ AS INTEGER) + 1)
         |    ELSE 0 END) AS BIGINT) AS activity_e6
         |FROM d, r GROUP BY user_id""".stripMargin
    }),

    // ---- labeling: majority-vote resolution per user over event_type
    // "annotations" — argmax with label-asc tie-break + exact-scaled
    // agreement rate (the multi-annotator merge step)
    Query("q124_majority_label", (s, dir) =>
      GroupStats.majorityLabel(T(s, dir, "events"), "user_id",
        "event_type"),
      // q124: same argmax (votes desc, label asc) row_number pick; the
      // agreement rate through the exact-rounding identity
      s"""WITH c AS (SELECT user_id, event_type AS majority_label,
         |    count(*) AS n_votes FROM events GROUP BY 1, 2),
         |w AS (SELECT *,
         |    CAST(sum(n_votes) OVER (PARTITION BY user_id) AS BIGINT)
         |      AS n_total,
         |    count(*) OVER (PARTITION BY user_id) AS n_labels,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY n_votes DESC, majority_label ASC) AS rn
         |  FROM c)
         |SELECT user_id, majority_label, n_votes, n_total, n_labels,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_votes", "n_total", 4)} AS agreement_e4
         |FROM w WHERE rn = 1""".stripMargin),

    // ---- association: market-basket co-occurrence over lineitem —
    // parts co-ordered in the same order, support >= 3, with exact
    // basket-Jaccard (per-basket-bounded pair expansion)
    Query("q126_cooccurrence", (s, dir) =>
      CoOccurrence.basketPairs(T(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minSupport = 3L, maxBasketSize = 64),
      // q126: same capped-basket universe on both sides of the counts;
      // jaccard through the exact-rounding identity
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |    FROM lineitem),
         |f AS (SELECT b, i FROM (SELECT b, i,
         |      count(*) OVER (PARTITION BY b) AS bs FROM it)
         |  WHERE bs <= 64),
         |p AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_co
         |  FROM f a JOIN f c ON c.b = a.b AND a.i < c.i
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |ic AS (SELECT i, count(*) AS c_i FROM f GROUP BY 1)
         |SELECT item_a, item_b, n_co, ia.c_i AS n_a, ib.c_i AS n_b,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_co", "ia.c_i + ib.c_i - n_co", 6)} AS jaccard_e6
         |FROM p JOIN ic ia ON ia.i = p.item_a
         |  JOIN ic ib ON ib.i = p.item_b""".stripMargin),

    // ---- events: first-order transition matrix — consecutive
    // event-type pairs per user with exact conditional probabilities
    // (funnel diagnosis / sequence-corpus QA)
    Query("q141_transition_matrix", (s, dir) =>
      EventAnalytics.transitionMatrix(T(s, dir, "events"), "user_id",
        "ts", "event_type", "event_id"),
      // q141: same (ts, event_id) order, lead per user, exact
      // conditional probability
      s"""WITH s AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id,
         |    event_type FROM events),
         |pp AS (SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY tsn, event_id) AS to_type FROM s),
         |c AS (SELECT from_type, to_type, count(*) AS n FROM pp
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
         |  FROM c GROUP BY 1)
         |SELECT c.from_type, c.to_type, c.n, t.n_from,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "c.n", "t.n_from", 6)} AS p_e6
         |FROM c JOIN t USING (from_type)""".stripMargin),

    // ---- OLAP: rollup subtotals over (source, lang) with grouping
    // indicators — one Expand, one scan, exact sums
    Query("q143_rollup_stats", (s, dir) =>
      Profile.rollupStats(T(s, dir, "documents"), Seq("source", "lang"),
        col("n_chars")),
      // q143: Spark's rollup mirrored as the explicit grouping-set
      // union (no natural NULLs in source/lang, asserted by the gate
      // data; indicator columns disambiguate regardless)
      """WITH b AS (SELECT source, lang, CAST(n_chars AS BIGINT) AS u
        |  FROM documents)
        |SELECT source, lang, CAST(0 AS BIGINT) AS g_source,
        |  CAST(0 AS BIGINT) AS g_lang, count(*) AS n_rows,
        |  CAST(sum(CAST(u AS HUGEINT)) AS BIGINT) AS sum_units
        |FROM b GROUP BY 1, 2
        |UNION ALL SELECT source, NULL, CAST(0 AS BIGINT),
        |  CAST(1 AS BIGINT), count(*),
        |  CAST(sum(CAST(u AS HUGEINT)) AS BIGINT)
        |FROM b GROUP BY 1
        |UNION ALL SELECT NULL, NULL, CAST(1 AS BIGINT),
        |  CAST(1 AS BIGINT), count(*),
        |  CAST(sum(CAST(u AS HUGEINT)) AS BIGINT)
        |FROM b""".stripMargin),

    // ---- events: top session paths — q15's gap sessions, each
    // session's type sequence as a '>' path, top-20 by frequency
    // (deterministic: collected structs are sorted before joining)
    Query("q145_session_paths", (s, dir) =>
      Sessionize.sessionPaths(T(s, dir, "events"), "user_id", tsSec,
        gapSeconds = 1800L, "event_type", col("event_id"), topN = 20),
      // q145: identical gap rule (prev null OR gap > 1800), running-sum
      // session ids, ORDER BY inside string_agg for the path
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS tss, event_type FROM events),
        |l AS (SELECT *, lag(tss) OVER (PARTITION BY user_id
        |    ORDER BY tss, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tss - prev > 1800
        |    THEN 1 ELSE 0 END AS brk FROM l),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY tss, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |p AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY tss, event_id) AS path
        |  FROM g GROUP BY 1, 2),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1)
        |SELECT path, n_sessions FROM c
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin),

    // ---- labeling: churn labels — last active day vs the corpus
    // horizon, leakage-free cutoff (retention-model training labels)
    Query("q148_churn_labels", (s, dir) =>
      EventAnalytics.churnLabels(T(s, dir, "events"), "user_id", "ts",
        horizonDays = 7),
      // q148: per-user last day vs the corpus max day (data-derived
      // cutoff)
      """WITH u AS (SELECT user_id, count(*) AS n_events,
        |    max(epoch_ns(ts) // 86400000000000) AS last_day
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(last_day) AS max_day FROM u)
        |SELECT user_id, n_events, last_day,
        |  max_day - last_day AS days_inactive,
        |  max_day - last_day >= 7 AS churned
        |FROM u, h""".stripMargin),

    // ---- events: inter-arrival cadence — robust median/MAD of
    // per-(user, type) gaps, summarized per type (bot-detection
    // profile; q76's doubled-units kernel)
    Query("q149_interarrival", (s, dir) =>
      EventAnalytics.interarrivalStats(T(s, dir, "events"), "user_id",
        "event_type", "ts", "event_id"), {
      // q149: per-(user,type) lag gaps in floor-divided seconds, q76's
      // doubled-units median/MAD per type
      def p50(rnc: String, v: String) =
        s"""max(CASE WHEN $rnc = CAST(floor(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN $v END)
           | + max(CASE WHEN $rnc = CAST(ceil(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN $v END)""".stripMargin
      s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn,
         |    event_id FROM events),
         |l AS (SELECT event_type, tsn - lag(tsn) OVER (
         |    PARTITION BY user_id, event_type ORDER BY tsn, event_id)
         |      AS gap_ns FROM e),
         |g AS (SELECT event_type, gap_ns // 1000000000 AS u FROM l
         |  WHERE gap_ns IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |      ORDER BY u) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n FROM g),
         |m AS (SELECT event_type, ${p50("rn", "u")} AS med2
         |  FROM r GROUP BY 1),
         |d AS (SELECT r.event_type, r.u, r.n,
         |    abs(r.u * 2 - m.med2) AS dev2
         |  FROM r JOIN m USING (event_type)),
         |d2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY dev2) AS drn FROM d),
         |md AS (SELECT event_type, ${p50("drn", "dev2")} AS mad4
         |  FROM d2 GROUP BY 1)
         |SELECT g.event_type, count(*) AS n_gaps, m.med2, md.mad4
         |FROM g JOIN m USING (event_type) JOIN md USING (event_type)
         |GROUP BY 1, 3, 4""".stripMargin
    }),

    // ---- OLAP: ABC / Pareto classes — docs classified by cumulative
    // token share within source (A carries the first 80%, B to 95%)
    Query("q158_abc_classes", (s, dir) => {
      val docs = T(s, dir, "documents")
      val toks = TextAnalysis.tokenCounts(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      AbcClasses.abcClasses(
        docs.select(col("doc_id"), col("source")).join(toks, "doc_id"),
        "source", "doc_id", col("n_tokens"))
    },
      // q158: identical (units desc, doc asc) cumulative order; band
      // test on the PREVIOUS cumulative (the row that crosses a
      // boundary belongs to the band it starts in), HUGEINT cross
      // products
      """WITH toks AS (SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS units
        |  FROM documents),
        |c AS (SELECT source, doc_id, units,
        |    CAST(sum(units) OVER (PARTITION BY source
        |      ORDER BY units DESC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_units,
        |    CAST(sum(units) OVER (PARTITION BY source) AS BIGINT)
        |      AS total_units
        |  FROM toks)
        |SELECT source, doc_id, units, cum_units, total_units,
        |  CASE WHEN CAST(cum_units - units AS HUGEINT) * 1000
        |         < CAST(total_units AS HUGEINT) * 800 THEN 'A'
        |       WHEN CAST(cum_units - units AS HUGEINT) * 1000
        |         < CAST(total_units AS HUGEINT) * 950 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c""".stripMargin),

    // ---- events: activity heatmap — day-of-week × hour-of-day
    // profile per event type (epoch day 0 = Thursday, hence the +4),
    // exact e6 within-type shares
    Query("q162_activity_heatmap", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = T(s, dir, "events")
        .select(col("event_type"),
          pmod(TimeFns.floorDiv(col("ts"), 86400L * 1000000000L) + 4L,
            lit(7)).as("dow"),
          pmod(TimeFns.floorDiv(col("ts"), 3600L * 1000000000L),
            lit(24)).as("hour"))
        .groupBy(col("event_type"), col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"))
      // the per-type window runs over <= 168 cells per type — bounded
      counts.withColumn("n_type",
          sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("dow"), col("hour"), col("n"),
          graft.functions.ExactRound.ratioScaled(col("n"),
            col("n_type"), 6).as("share_e6"))
    },
      // q162: same floor-division day/hour bucketing, +4 dow offset,
      // shares through the rounding identity
      s"""WITH c AS (SELECT event_type,
         |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
         |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2, 3),
         |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY event_type)
         |    AS BIGINT) AS n_type FROM c)
         |SELECT event_type, dow, hour, n, ${
           graft.functions.ExactRound.ratioScaledSql("n", "n_type", 6)
         } AS share_e6 FROM t""".stripMargin),

    // ---- reshaping: RelationalGroupedDataset.pivot — the wide
    // source × language count matrix (explicit value list, so the
    // schema is static and the absent cells read 0 on both sides).
    Query("q234_lang_pivot", (s, dir) =>
      T(s, dir, "documents").groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L), {
      // q234: the pivot matrix as explicit conditional counts
      val langs = Seq("de", "en", "es", "fr", "zh")
      val cols = langs.map(l =>
        s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) " +
          s"AS BIGINT) AS $l").mkString(",\n  ")
      s"""SELECT source,
         |  $cols
         |FROM documents GROUP BY 1""".stripMargin
    }),

    // ---- sequence mining: ANY-GAP ordered event-type pair support —
    // users who did A strictly before B (PrefixSpan's length-2
    // pattern, the gap-tolerant complement of q122's adjacent
    // transitions), with lift vs independent marginals. Pair
    // expansion over the per-user TYPE summary, never raw events.
    Query("q255_ordered_pairs", (s, dir) =>
      EventAnalytics.orderedPairSupport(T(s, dir, "events"),
        "user_id", "ts", "event_type"), {
      // q255: the per-user (type, min_ts, max_ts) summary makes "some A
      // strictly before some B" a bounded self-join, never raw events
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH pt AS (SELECT user_id AS u, event_type AS t,
         |    min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
         |  FROM events GROUP BY 1, 2),
         |tot AS (SELECT count(DISTINCT u) AS nu FROM pt),
         |marg AS (SELECT t, count(*) AS n_users FROM pt GROUP BY 1),
         |pp AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_ab
         |  FROM pt a JOIN pt b ON a.u = b.u AND a.t <> b.t
         |    AND a.mn < b.mx
         |  GROUP BY 1, 2)
         |SELECT type_a, type_b, n_ab, ma.n_users AS n_a,
         |  mb.n_users AS n_b,
         |  ${ratioScaledSql("CAST(n_ab AS HUGEINT) * nu",
             "CAST(ma.n_users AS HUGEINT) * mb.n_users", 6)} AS lift_e6
         |FROM pp JOIN marg ma ON ma.t = type_a
         |JOIN marg mb ON mb.t = type_b
         |CROSS JOIN tot""".stripMargin
    }),

    // ---- association rules A → B over user → event-type baskets —
    // support / confidence / lift as exact e6 rationals on the q100
    // capped-basket discipline; both directions per co-pair.
    Query("q256_assoc_rules", (s, dir) =>
      CoOccurrence.associationRules(T(s, dir, "events"), "user_id",
        "event_type", minSupport = 2L, maxBasketSize = 64), {
      // q256: q100's capped-basket discipline, then both rule
      // directions with shared support/lift and per-direction
      // confidence
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH bi AS (SELECT DISTINCT user_id AS bk, event_type AS it
         |  FROM events),
         |sz AS (SELECT bk, count(*) AS bs FROM bi GROUP BY 1),
         |capped AS (SELECT bi.bk, bi.it FROM bi
         |  JOIN sz USING (bk) WHERE bs <= 64),
         |tot AS (SELECT count(DISTINCT bk) AS nb FROM capped),
         |pairs AS (SELECT a.it AS item_a, b.it AS item_b,
         |    count(*) AS n_co
         |  FROM capped a JOIN capped b ON a.bk = b.bk AND a.it < b.it
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |freq AS (SELECT it, count(*) AS c FROM capped GROUP BY 1),
         |und AS (SELECT item_a, item_b, n_co, fa.c AS n_a, fb.c AS n_b
         |  FROM pairs JOIN freq fa ON fa.it = item_a
         |  JOIN freq fb ON fb.it = item_b),
         |dr AS (SELECT item_a AS antecedent, item_b AS consequent,
         |    n_co, n_a AS n_ante, n_b AS n_cons FROM und
         |  UNION ALL SELECT item_b, item_a, n_co, n_b, n_a FROM und)
         |SELECT antecedent, consequent, n_co, n_ante, n_cons,
         |  ${ratioScaledSql("n_co", "nb", 6)} AS support_e6,
         |  ${ratioScaledSql("n_co", "n_ante", 6)} AS confidence_e6,
         |  ${ratioScaledSql("CAST(n_co AS HUGEINT) * nb",
             "CAST(n_ante AS HUGEINT) * n_cons", 6)} AS lift_e6
         |FROM dr CROSS JOIN tot""".stripMargin
    }),

    // ---- funnels: STRICT ORDERED signup→view→purchase funnel within
    // a 7-day horizon from the signup anchor — greedy earliest-event
    // chain (exact for horizon-from-anchor semantics), per-stage
    // conversion vs stage 1.
    Query("q268_funnel_strict", (s, dir) =>
      EventAnalytics.strictFunnel(T(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("signup", "view", "purchase"),
        horizonNanos = 7L * 86400L * 1000000000L), {
      // q268: the greedy earliest chain — per stage, min qualifying ts
      // strictly after the previous stage's pick, within the horizon of
      // the stage-1 anchor
      import graft.functions.ExactRound.ratioScaledSql
      val h = 7L * 86400L * 1000000000L
      s"""WITH e AS (SELECT user_id AS u, event_type AS t,
         |    epoch_ns(ts) AS ts FROM events
         |  WHERE event_type IN ('signup', 'view', 'purchase')),
         |s1 AS (SELECT u, min(ts) AS t1 FROM e WHERE t = 'signup'
         |  GROUP BY 1),
         |s2 AS (SELECT e.u, s1.t1, min(e.ts) AS t2
         |  FROM e JOIN s1 ON s1.u = e.u
         |  WHERE e.t = 'view' AND e.ts > s1.t1 AND e.ts - s1.t1 <= $h
         |  GROUP BY 1, 2),
         |s3 AS (SELECT e.u, s2.t1, min(e.ts) AS t3
         |  FROM e JOIN s2 ON s2.u = e.u
         |  WHERE e.t = 'purchase' AND e.ts > s2.t2
         |    AND e.ts - s2.t1 <= $h
         |  GROUP BY 1, 2),
         |c AS (SELECT 1 AS stage, 'signup' AS step, count(*) AS n
         |    FROM s1
         |  UNION ALL SELECT 2, 'view', count(*) FROM s2
         |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         |SELECT CAST(stage AS BIGINT) AS stage, step,
         |  n AS n_users,
         |  ${ratioScaledSql("n",
             "first_value(n) OVER (ORDER BY stage)", 6)} AS conv_e6
         |FROM c""".stripMargin
    }),

    // ---- segmentation: RFM quintiles per user — recency vs the
    // corpus horizon, frequency, e2 monetary; quintiles over the
    // unique (metric ASC, user ASC) order via three range-partitioned
    // global ranks. Ascending convention: 1 = most recent / lightest.
    Query("q270_rfm_scores", (s, dir) =>
      EventAnalytics.rfmScores(T(s, dir, "events"), "user_id", "ts",
        "value"),
      // q270: the same unique (metric ASC, user ASC) total order;
      // quintile = ((rn−1)·5) // n + 1
      """WITH per AS (SELECT user_id AS u,
        |    max(epoch_ns(ts) // 86400000000000) AS ld,
        |    count(*) AS f,
        |    CAST(coalesce(sum(CAST(round(value * 100, 0) AS BIGINT)),
        |      0) AS BIGINT) AS m
        |  FROM events GROUP BY 1),
        |b AS (SELECT u, (SELECT max(ld) FROM per) - ld AS recency_days,
        |    f, m FROM per),
        |r AS (SELECT u, recency_days, f, m,
        |    ((row_number() OVER (ORDER BY recency_days, u) - 1) * 5)
        |      // (count(*) OVER ()) + 1 AS r_q,
        |    ((row_number() OVER (ORDER BY f, u) - 1) * 5)
        |      // (count(*) OVER ()) + 1 AS f_q,
        |    ((row_number() OVER (ORDER BY m, u) - 1) * 5)
        |      // (count(*) OVER ()) + 1 AS m_q
        |  FROM b)
        |SELECT u AS user_id, recency_days, f AS frequency,
        |  m AS monetary_e2, r_q, f_q, m_q,
        |  r_q * 100 + f_q * 10 + m_q AS rfm_code
        |FROM r""".stripMargin),

    // ---- journeys: top ENTRY PATHS — each user's first 3 event
    // types in (ts, event_id) order as a path string, with user
    // counts (the onboarding-flow card next to q122's transitions).
    Query("q271_entry_paths", (s, dir) =>
      EventAnalytics.topPaths(T(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", depth = 3),
      // q271: per-user first-3 types via row_number, ordered string_agg
      """WITH r AS (SELECT user_id AS u, event_type AS t,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events),
        |p AS (SELECT u, string_agg(t, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1"""
        .stripMargin),

    // ---- attribution: LINEAR multi-touch — q237's last-touch
    // sibling: views within 24 h strictly before each purchase share
    // the credit equally (truncating e6); organic purchases report 0.
    Query("q273_linear_attribution", (s, dir) =>
      EventAnalytics.linearAttribution(T(s, dir, "events"), "user_id",
        "ts", "event_id", "event_type", touchType = "view",
        convType = "purchase", windowNanos = 24L * 3600L * 1000000000L),
      // q273: per-purchase in-window strictly-before view count,
      // truncating equal split; organic restored via left join
      """WITH c AS (SELECT user_id AS u, event_id AS conv_id,
        |    epoch_ns(ts) AS ct FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS u, epoch_ns(ts) AS tt FROM events
        |  WHERE event_type = 'view'),
        |n AS (SELECT c.conv_id, count(*) AS n_touches
        |  FROM c JOIN t ON t.u = c.u
        |  WHERE t.tt < c.ct AND c.ct - t.tt <= 86400000000000
        |  GROUP BY 1)
        |SELECT c.conv_id,
        |  coalesce(n.n_touches, 0) AS n_touches,
        |  CASE WHEN coalesce(n.n_touches, 0) > 0
        |    THEN 1000000 // n.n_touches ELSE 0 END AS credit_e6
        |FROM c LEFT JOIN n ON n.conv_id = c.conv_id"""
        .stripMargin),

    // ---- features: best GINI decision stump of the gopher keep
    // label on document length — CART's inner loop as the "does this
    // feature separate?" audit; q253's two-stage ladder scores the
    // exact variance reduction, smallest-threshold tie-break.
    Query("q275_gini_stump", (s, dir) => {
      val docs = T(s, dir, "documents")
      val label = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      EvalMetrics.giniStump(
        docs.select(col("doc_id"), col("n_chars")).join(label, "doc_id"),
        "keep", col("n_chars"))
    },
      // q275: cumulative tally over distinct lengths, the q253 ladder
      // on the exact variance-reduction numerator, (score DESC, v ASC)
      // argmax
      s"""WITH t AS (SELECT doc_id, n_chars,
         |    $qNWords AS nw,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g'))
         |      AS BIGINT) AS nsp,
         |    CAST(length(text) - length(regexp_replace(text, '#', '', 'g'))
         |      + length(regexp_replace(text, '\\.{3,}|…', '@', 'g'))
         |      - length(regexp_replace(text, '\\.{3,}|…', '', 'g'))
         |      AS BIGINT) AS nsym,
         |    CAST(len(list_filter($wordsSql,
         |      w -> w IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT)
         |      AS nstop
         |  FROM documents),
         |j AS (SELECT n_chars AS v,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS keep
         |  FROM t),
         |g AS (SELECT v, count(*) AS cnt,
         |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS pos
         |  FROM j GROUP BY 1),
         |c AS (SELECT v, sum(cnt) OVER w AS cumn,
         |    sum(pos) OVER w AS cump,
         |    (SELECT sum(cnt) FROM g) AS n,
         |    (SELECT sum(pos) FROM g) AS p
         |  FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         |s AS (SELECT v, cumn, cump, n, p,
         |    abs(CAST(cump AS HUGEINT) * (n - cumn) -
         |      CAST(p - cump AS HUGEINT) * cumn) AS d,
         |    CAST(cumn AS HUGEINT) * (n - cumn) AS den
         |  FROM c WHERE n - cumn > 0),
         |sc AS (SELECT v, cumn, cump, n, p,
         |    ((((d * 1000) // den) * d) * 1000) //
         |      (CAST(n AS HUGEINT) * n) AS score
         |  FROM s),
         |b AS (SELECT * FROM sc ORDER BY score DESC, v ASC LIMIT 1)
         |SELECT CAST(n AS BIGINT) AS n, CAST(p AS BIGINT) AS n_pos,
         |  v AS best_threshold, CAST(score AS BIGINT) AS score_e6,
         |  CAST(cumn AS BIGINT) AS n_left,
         |  CAST(cump AS BIGINT) AS pos_left
         |FROM b""".stripMargin),

    // ---- events: TEMPORAL co-occurrence — unordered type pairs
    // firing within 10 minutes for the same user; event pairs counted
    // once via the unique id order.
    Query("q279_temporal_cooccur", (s, dir) =>
      EventAnalytics.temporalCooccurrence(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        windowNanos = 600L * 1000000000L),
      // q279: unique-id pair order, unordered type emit via
      // least/greatest, distinct-user rollup
      """WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS ts,
        |    event_id AS id, event_type AS t FROM events),
        |p AS (SELECT a.u,
        |    least(a.t, b.t) AS type_x, greatest(a.t, b.t) AS type_y
        |  FROM e a JOIN e b ON a.u = b.u AND a.id < b.id
        |    AND a.t <> b.t AND abs(a.ts - b.ts) <= 600000000000)
        |SELECT type_x, type_y, count(*) AS n_pairs,
        |  count(DISTINCT u) AS n_users
        |FROM p GROUP BY 1, 2""".stripMargin),

    // ---- retention: discrete-time CHURN HAZARD table — at_risk /
    // churned / hazard_e6 per day-offset since first activity,
    // right-censored at the corpus horizon; the per-step-ratio form
    // is the exact (product-free) Kaplan–Meier surface.
    Query("q319_churn_hazard", (s, dir) =>
      EventAnalytics.churnHazard(T(s, dir, "events"), "user_id",
        "ts"), {
      // q319: per-user (first, last) days, 1-row horizon, per-user
      // offset unnest bounded by min(lifetime, observability); ended =
      // last < horizon (corpus-edge users are censored, never churned)
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH e AS (SELECT user_id AS u,
         |    epoch_ns(ts) // 86400000000000 AS day FROM events
         |  WHERE user_id IS NOT NULL),
         |pu AS (SELECT u, min(day) AS f, max(day) AS l FROM e
         |  GROUP BY 1),
         |h AS (SELECT max(l) AS hh FROM pu),
         |sp AS (SELECT l - f AS life, hh - f AS obs, l < hh AS ended
         |  FROM pu CROSS JOIN h),
         |ar AS (SELECT CAST(unnest(range(0, least(life, obs) + 1))
         |    AS BIGINT) AS o FROM sp),
         |arc AS (SELECT o, count(*) AS at_risk FROM ar GROUP BY 1),
         |ch AS (SELECT life AS o, count(*) AS churned FROM sp
         |  WHERE ended GROUP BY 1)
         |SELECT arc.o AS offset, arc.at_risk,
         |  coalesce(ch.churned, 0) AS churned,
         |  ${ratioScaledSql("coalesce(ch.churned, 0)", "arc.at_risk",
             6)} AS hazard_e6
         |FROM arc LEFT JOIN ch ON ch.o = arc.o""".stripMargin
    }),

    // ---- experimentation: DIFF-IN-DIFF card — hash-parity arms,
    // midpoint pre/post split, purchases-per-user cell means (half-up
    // e6) and the DiD estimate on the rounded cells.
    Query("q335_diff_in_diff", (s, dir) =>
      EventAnalytics.diffInDiff(T(s, dir, "events"), "user_id", "ts",
        "event_type", convType = "purchase"),
      // q335: hash-parity arms (sign-safe mod), midpoint split, per-arm
      // user-mean cells via the shared half-up e6 ratio, DiD on the
      // rounded cells
      s"""WITH d AS (SELECT user_id AS u,
         |    epoch_ns(ts) // 86400000000000 AS day, event_type AS t
         |  FROM events),
         |h AS (SELECT (min(day) + max(day) + 1) // 2 AS split FROM d),
         |users AS (SELECT DISTINCT u, ((u % 2) + 2) % 2 AS arm FROM d),
         |conv AS (SELECT d.u,
         |    CASE WHEN d.day >= h.split THEN 1 ELSE 0 END AS post,
         |    count(*) AS n
         |  FROM d CROSS JOIN h WHERE d.t = 'purchase' GROUP BY 1, 2),
         |pu AS (SELECT users.u, users.arm,
         |    coalesce(sum(CASE WHEN conv.post = 0 THEN conv.n END), 0)
         |      AS pre,
         |    coalesce(sum(CASE WHEN conv.post = 1 THEN conv.n END), 0)
         |      AS post
         |  FROM users LEFT JOIN conv ON conv.u = users.u GROUP BY 1, 2),
         |arm AS (SELECT arm, count(*) AS nu, sum(pre) AS spre,
         |    sum(post) AS spost
         |  FROM pu GROUP BY 1),
         |cells AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN arm = 1 THEN nu END), 0)
         |    AS BIGINT) AS n_treat,
         |  CAST(coalesce(sum(CASE WHEN arm = 0 THEN nu END), 0)
         |    AS BIGINT) AS n_ctrl,
         |  CAST(coalesce(sum(CASE WHEN arm = 1 THEN spre END), 0)
         |    AS BIGINT) AS tpre,
         |  CAST(coalesce(sum(CASE WHEN arm = 1 THEN spost END), 0)
         |    AS BIGINT) AS tpost,
         |  CAST(coalesce(sum(CASE WHEN arm = 0 THEN spre END), 0)
         |    AS BIGINT) AS cpre,
         |  CAST(coalesce(sum(CASE WHEN arm = 0 THEN spost END), 0)
         |    AS BIGINT) AS cpost
         |  FROM arm),
         |r AS (SELECT n_treat, n_ctrl,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "tpre", "n_treat", 6)} AS treat_pre_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "tpost", "n_treat", 6)} AS treat_post_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "cpre", "n_ctrl", 6)} AS ctrl_pre_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "cpost", "n_ctrl", 6)} AS ctrl_post_e6
         |  FROM cells)
         |SELECT *, (treat_post_e6 - treat_pre_e6) -
         |  (ctrl_post_e6 - ctrl_pre_e6) AS did_e6 FROM r""".stripMargin),

    // ---- analytics: KENDALL tau-a between event types' daily count
    // series — rank concordance over aligned day pairs, all-integer
    // with the q320 truncating-div convention.
    Query("q347_kendall_daily", (s, dir) =>
      EventAnalytics.kendallDailyPairs(T(s, dir, "events"),
        "event_type", "ts"),
      // q347: aligned daily grid per type pair, day-pair sign census,
      // truncating tau quotient
      """WITH d AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |al AS (SELECT a.t AS type_a, b.t AS type_b, a.day AS day,
        |    a.y AS xa, b.y AS xb
        |  FROM d a JOIN d b ON b.day = a.day AND a.t < b.t),
        |pp AS (SELECT i.type_a, i.type_b,
        |    (j.xa - i.xa) * (j.xb - i.xb) AS prod
        |  FROM al i JOIN al j ON j.type_a = i.type_a
        |    AND j.type_b = i.type_b AND i.day < j.day)
        |SELECT type_a, type_b, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_concordant,
        |  CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_discordant,
        |  CAST(sum(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ties,
        |  CAST((sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END)) * 1000000
        |    // count(*) AS BIGINT) AS tau_a_e6
        |FROM pp GROUP BY 1, 2""".stripMargin),

    // ---- analytics: DAY-OF-WEEK SEASONAL PROFILE — per (type, epoch
    // day mod 7) the lower-median daily count + the worst single-day
    // deviation from it; the seasonal-naive anomaly baseline.
    Query("q348_dow_seasonality", (s, dir) =>
      EventAnalytics.dowSeasonality(T(s, dir, "events"),
        "event_type", "ts"),
      // q348: lower-median pick per (type, dow) via row_number, max
      // absolute residual on the join-back
      """WITH d AS (SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT event_type, day % 7 AS dow, day, y FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, dow
        |      ORDER BY y ASC, day ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type, dow) AS n
        |  FROM dw),
        |m AS (SELECT event_type, dow, n AS n_days, y AS median_y
        |  FROM r WHERE rn = (n + 1) // 2)
        |SELECT dw.event_type, dw.dow, m.n_days, m.median_y,
        |  max(abs(dw.y - m.median_y)) AS max_abs_resid
        |FROM dw JOIN m ON m.event_type = dw.event_type AND m.dow = dw.dow
        |GROUP BY 1, 2, 3, 4""".stripMargin),

    // ---- baskets: FREQUENT TRIPLES — the A-priori level above
    // q126's pairs, same capped-basket contract (structural C(64,3)
    // bound), e6 support share.
    Query("q327_basket_triples", (s, dir) =>
      CoOccurrence.basketTriples(T(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minSupport = 2L, maxBasketSize = 64), {
      // q327: q126's capped-basket surface taken to ordered triples.
      // Triples are expanded from each basket's sorted item list
      // (ordered index x, then y from positions, then the suffix past y)
      // rather than a triple self-join: DuckDB 1.0.0 planned the
      // `a.i < c.i` ON conditions as cross-basket IEJoins (~40 min /
      // ~90 GB at sf0.01 — the r17 gate blocker); the list form runs in
      // under a second and equality never appears in a join at all.
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |    FROM lineitem),
         |f AS (SELECT b, i FROM (SELECT b, i,
         |      count(*) OVER (PARTITION BY b) AS bs FROM it)
         |  WHERE bs <= 64),
         |nb AS (SELECT count(DISTINCT b) AS n FROM f),
         |bl AS (SELECT b, list(i ORDER BY i) AS items FROM f GROUP BY b),
         |p1 AS (SELECT items,
         |    UNNEST(generate_series(1, len(items) - 2)) AS x FROM bl),
         |p2 AS (SELECT items, x,
         |    UNNEST(generate_series(x + 1, len(items) - 1)) AS y FROM p1),
         |p3 AS (SELECT items[x] AS item_a, items[y] AS item_b,
         |    UNNEST(items[y + 1:]) AS item_c FROM p2),
         |tr AS (SELECT item_a, item_b, item_c, count(*) AS n_co
         |  FROM p3 GROUP BY 1, 2, 3 HAVING count(*) >= 2)
         |SELECT item_a, item_b, item_c, n_co,
         |  ${ratioScaledSql("n_co", "(SELECT n FROM nb)", 6)}
         |    AS support_e6
         |FROM tr""".stripMargin
    }),

    // ---- attribution: POSITION-BASED (U-shaped 40/20/40) — q273's
    // equal split replaced by the first/last-heavy convention, one
    // row per touch with its exact truncating e6 credit.
    Query("q290_position_attribution", (s, dir) =>
      EventAnalytics.positionAttribution(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", touchType = "view",
        convType = "purchase",
        windowNanos = 24L * 3600L * 1000000000L),
      // q290: the q273 in-window join kept per-touch, (tt, id)
      // row_number positions, the 40/20/40 CASE ladder with floor
      // middle shares
      """WITH c AS (SELECT user_id AS u, event_id AS conv_id,
        |    epoch_ns(ts) AS ct FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS u, event_id AS tid, epoch_ns(ts) AS tt
        |  FROM events WHERE event_type = 'view'),
        |j AS (SELECT c.conv_id, t.tid, t.tt
        |  FROM c JOIN t ON t.u = c.u
        |  WHERE t.tt < c.ct AND c.ct - t.tt <= 86400000000000),
        |r AS (SELECT conv_id, tid,
        |    CAST(row_number() OVER (PARTITION BY conv_id
        |      ORDER BY tt, tid) AS BIGINT) AS position,
        |    CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT)
        |      AS n_touches
        |  FROM j)
        |SELECT conv_id, tid AS touch_event_id, position, n_touches,
        |  CASE WHEN n_touches = 1 THEN 1000000
        |    WHEN n_touches = 2 THEN 500000
        |    WHEN position = 1 OR position = n_touches THEN 400000
        |    ELSE 200000 // (n_touches - 2) END AS credit_e6
        |FROM r""".stripMargin),

    // ---- attribution: CONVERSION-LAG histogram — per purchase the
    // gap to its latest in-window view (the q289 anchor), bucketed by
    // hour with e6 shares: the "how long does conversion take?" sheet.
    Query("q300_conversion_lag", (s, dir) => {
      val ev = T(s, dir, "events").filter(col("user_id").isNotNull)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u__"), col("event_id").as("cid__"),
          col("ts").as("ct__"))
      val touch = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("u__"), col("ts").as("tt__"))
      val gaps = conv.join(touch, Seq("u__"))
        .filter(col("tt__") < col("ct__") &&
          col("ct__") - col("tt__") <= 24L * 3600L * 1000000000L)
        .groupBy(col("cid__"))
        .agg((max(col("ct__")) - max(col("tt__"))).as("gap__"))
        .groupBy(call_function("div", col("gap__"),
          lit(3600L * 1000000000L)).as("lag_hours"))
        .agg(count(lit(1)).as("n_conversions"))
      val tot = gaps.agg(sum(col("n_conversions")).cast("long")
        .as("nt__"))
      gaps.crossJoin(broadcast(tot))
        .select(col("lag_hours"), col("n_conversions"),
          graft.functions.ExactRound.ratioScaled(col("n_conversions"),
            col("nt__"), 6).as("share_e6"))
    }, {
      // q300: per-conversion latest in-window view gap, hour buckets,
      // e6 share of attributed conversions
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH c AS (SELECT user_id AS u, event_id AS conv_id,
         |    epoch_ns(ts) AS ct FROM events
         |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |t AS (SELECT user_id AS u, epoch_ns(ts) AS tt FROM events
         |  WHERE event_type = 'view' AND user_id IS NOT NULL),
         |m AS (SELECT c.conv_id, max(c.ct) - max(t.tt) AS gap
         |  FROM c JOIN t ON t.u = c.u
         |  WHERE t.tt < c.ct AND c.ct - t.tt <= 86400000000000
         |  GROUP BY 1),
         |h AS (SELECT gap // 3600000000000 AS lag_hours,
         |    count(*) AS n FROM m GROUP BY 1)
         |SELECT lag_hours, n AS n_conversions,
         |  ${ratioScaledSql("n", "(SELECT sum(n) FROM h)", 6)}
         |    AS share_e6
         |FROM h""".stripMargin
    }),

    // ---- journeys: PATH TRIGRAMS — consecutive type triples per
    // user in (ts, id) order, support as occurrences + distinct
    // users, top 20: q141's transition matrix one step deeper, q271's
    // entry paths without the "first 3 only" anchor.
    Query("q301_path_trigrams", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tri = T(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead(col("t1"), 1).over(w))
        .withColumn("t3", lead(col("t1"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("user_id")).as("n_users"))
      RankOps.topKMulti(tri, 20, col("n_occurrences"),
        Seq(col("t1"), col("t2"), col("t3")))
    },
      // q301: two leads per user stream, triple tally, (occurrences
      // DESC, types ASC) top 20
      """WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS ts,
        |    event_id AS id, event_type AS t1 FROM events
        |  WHERE user_id IS NOT NULL),
        |tr AS (SELECT u, t1,
        |    lead(t1, 1) OVER w AS t2, lead(t1, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY u ORDER BY ts, id)),
        |g AS (SELECT t1, t2, t3, count(*) AS n_occurrences,
        |    count(DISTINCT u) AS n_users
        |  FROM tr WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT * FROM g
        |ORDER BY n_occurrences DESC, t1 ASC, t2 ASC, t3 ASC
        |LIMIT 20""".stripMargin),

    // ---- growth: NEW vs RETURNING daily actives — per day, actives
    // split on "first observed day?", e6 returning share: cohort
    // day-0 volume and stickiness in one table.
    Query("q303_new_vs_returning", (s, dir) =>
      EventAnalytics.newVsReturning(T(s, dir, "events"), "user_id",
        "ts"), {
      // q303: distinct (user, day), per-user min day, daily split with
      // the e6 returning share
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH ud AS (SELECT DISTINCT user_id AS u,
         |    epoch_ns(ts) // 86400000000000 AS day FROM events
         |  WHERE user_id IS NOT NULL),
         |f AS (SELECT u, min(day) AS d0 FROM ud GROUP BY 1),
         |a AS (SELECT ud.day, count(*) AS n_active,
         |    CAST(sum(CASE WHEN ud.day = f.d0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM ud JOIN f ON f.u = ud.u GROUP BY 1)
         |SELECT day, n_active, n_new,
         |  n_active - n_new AS n_returning,
         |  ${ratioScaledSql("n_active - n_new", "n_active", 6)}
         |    AS returning_share_e6
         |FROM a""".stripMargin
    }),

    // ---- time series: LEAD-LAG scan, views vs purchases — signed
    // squared Pearson at each lag in [-7, 7] over the zero-filled
    // calendar (two-stage integer ladder, no sqrt): does engagement
    // LEAD conversion, and by how many days?
    Query("q310_lead_lag", (s, dir) =>
      EventAnalytics.leadLagScan(T(s, dir, "events"), "event_type",
        "ts", typeX = "view", typeY = "purchase", maxLag = 7),
      // q310: densified x/y series, 15-row lag frame joined on the
      // shifted day, per-lag moments, the q275 two-stage ladder on
      // sign(num)·num²/(dx·dy)
      """WITH b AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS c
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |h AS (SELECT min(day) AS d0, max(day) AS d1 FROM b),
        |cal AS (SELECT CAST(unnest(range(h.d0, h.d1 + 1)) AS BIGINT)
        |    AS day FROM h),
        |x AS (SELECT cal.day, coalesce(b.c, 0) AS x FROM cal
        |  LEFT JOIN b ON b.t = 'view' AND b.day = cal.day),
        |y AS (SELECT cal.day, coalesce(b.c, 0) AS y FROM cal
        |  LEFT JOIN b ON b.t = 'purchase' AND b.day = cal.day),
        |lg AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
        |j AS (SELECT lg.lag, x.x, y.y
        |  FROM lg CROSS JOIN y JOIN x ON x.day = y.day - lg.lag),
        |ag AS (SELECT lag, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM j GROUP BY 1),
        |r AS (SELECT lag, n_days,
        |    CAST(n_days AS HUGEINT) * sxy
        |      - CAST(sx AS HUGEINT) * sy AS num,
        |    CAST(n_days AS HUGEINT) * sxx
        |      - CAST(sx AS HUGEINT) * sx AS dx,
        |    CAST(n_days AS HUGEINT) * syy
        |      - CAST(sy AS HUGEINT) * sy AS dy
        |  FROM ag)
        |SELECT lag, n_days,
        |  CASE WHEN dx > 0 AND dy > 0 THEN
        |    (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |    CAST((((abs(num) * 1000) // dx) * abs(num) * 1000) // dy
        |      AS BIGINT)
        |  ELSE 0 END AS r2_signed_e6
        |FROM r""".stripMargin),

    // ---- time series: SEASONAL-NAIVE backtest — predict each day
    // with day-7-earlier over the zero-filled horizon; e4 MAE and e6
    // WAPE per type, the baseline every forecast must beat.
    Query("q311_seasonal_naive", (s, dir) =>
      EventAnalytics.seasonalNaiveBacktest(T(s, dir, "events"),
        "event_type", "ts", period = 7), {
      // q311: densified per-type series self-joined at day-7, exact e4
      // MAE + e6 WAPE
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH b AS (SELECT event_type AS t,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |h AS (SELECT min(day) AS d0, max(day) AS d1 FROM b),
         |cal AS (SELECT ty.t,
         |    CAST(unnest(range(h.d0, h.d1 + 1)) AS BIGINT) AS day
         |  FROM (SELECT DISTINCT t FROM b) ty CROSS JOIN h),
         |dn AS (SELECT cal.t, cal.day, coalesce(b.c, 0) AS y
         |  FROM cal LEFT JOIN b ON b.t = cal.t AND b.day = cal.day),
         |e AS (SELECT a.t, abs(a.y - p.y) AS err, a.y
         |  FROM dn a JOIN dn p ON p.t = a.t AND p.day = a.day - 7
         |  WHERE a.day >= (SELECT d0 FROM h) + 7),
         |ag AS (SELECT t, count(*) AS n,
         |    CAST(sum(err) AS BIGINT) AS se,
         |    CAST(sum(y) AS BIGINT) AS sa FROM e GROUP BY 1)
         |SELECT t AS event_type, n AS n_days_eval,
         |  se AS sum_abs_err, sa AS sum_actual,
         |  ${ratioScaledSql("se", "n", 4)} AS mae_e4,
         |  ${ratioScaledSql("se", "sa", 6)} AS wape_e6
         |FROM ag""".stripMargin
    }),

    // ---- indicators: MAX DRAWDOWN of daily order value per priority
    // — running peak, (drawdown DESC, day ASC) argmax, cents units:
    // the F5 MACD's risk-side sibling from the reference domain.
    Query("q306_max_drawdown", (s, dir) =>
      TechnicalIndicators.maxDrawdown(T(s, dir, "orders"),
        Seq("o_orderpriority"),
        TimeFns.floorDiv(unix_micros(col("o_orderdate")
          .cast("timestamp")), 86400L * 1000000L),
        expr("cast(round(o_totalprice * 100, 0) as long)")),
      // q306: daily cents tally, prefix-max peak, (dd DESC, day ASC)
      // argmax per priority
      """WITH d AS (SELECT o_orderpriority AS g,
        |    (epoch_ns(o_orderdate) // 1000000000) // 86400 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT g, day, v, max(v) OVER w AS peak
        |  FROM d WINDOW w AS (PARTITION BY g ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |r AS (SELECT g, day, v, peak, peak - v AS dd,
        |    row_number() OVER (PARTITION BY g
        |      ORDER BY peak - v DESC, day ASC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_days
        |  FROM p)
        |SELECT g AS o_orderpriority, n_days, dd AS max_drawdown,
        |  day AS at_day, peak, v AS trough
        |FROM r WHERE rn = 1""".stripMargin),

    // ---- indicators: simple-average RSI(14) per priority — windowed
    // gains/(gains+losses) as exact e6 over day-over-day deltas.
    Query("q307_rsi", (s, dir) =>
      TechnicalIndicators.rsiSimple(T(s, dir, "orders"),
        Seq("o_orderpriority"),
        TimeFns.floorDiv(unix_micros(col("o_orderdate")
          .cast("timestamp")), 86400L * 1000000L),
        expr("cast(round(o_totalprice * 100, 0) as long)"),
        window = 14), {
      // q307: lagged deltas, 14-row gain/loss window sums, e6 gain
      // share
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH d AS (SELECT o_orderpriority AS g,
         |    (epoch_ns(o_orderdate) // 1000000000) // 86400 AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM orders GROUP BY 1, 2),
         |dl AS (SELECT g, day,
         |    v - lag(v) OVER (PARTITION BY g ORDER BY day) AS delta
         |  FROM d),
         |f AS (SELECT * FROM dl WHERE delta IS NOT NULL),
         |w AS (SELECT g, day, delta,
         |    CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END)
         |      OVER win AS BIGINT) AS gn,
         |    CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
         |      OVER win AS BIGINT) AS ls,
         |    CAST(count(*) OVER win AS BIGINT) AS win_rows
         |  FROM f WINDOW win AS (PARTITION BY g ORDER BY day
         |    ROWS 13 PRECEDING))
         |SELECT g AS o_orderpriority, day, delta, win_rows,
         |  ${ratioScaledSql("gn", "gn + ls", 6)} AS rsi_e6
         |FROM w""".stripMargin
    }),

    // ---- indicators: BOLLINGER ±2σ breakout counts per priority —
    // the band test on squares ((n·x−Σx)² vs 4·(n·Σx²−(Σx)²)), no
    // square root anywhere in the lineage.
    Query("q308_bollinger", (s, dir) =>
      TechnicalIndicators.bollingerBreakouts(T(s, dir, "orders"),
        Seq("o_orderpriority"),
        TimeFns.floorDiv(unix_micros(col("o_orderdate")
          .cast("timestamp")), 86400L * 1000000L),
        expr("cast(round(o_totalprice * 100, 0) as long)"),
        window = 20),
      // q308: 20-row window stats, the squared band test in HUGEINT,
      // per-priority breakout tally
      """WITH d AS (SELECT o_orderpriority AS g,
        |    (epoch_ns(o_orderdate) // 1000000000) // 86400 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT g, v,
        |    CAST(count(*) OVER win AS BIGINT) AS n,
        |    CAST(sum(v) OVER win AS BIGINT) AS sx,
        |    sum(CAST(v AS HUGEINT) * v) OVER win AS sxx
        |  FROM d WINDOW win AS (PARTITION BY g ORDER BY day
        |    ROWS 19 PRECEDING)),
        |b AS (SELECT g, CAST(n AS HUGEINT) * v - sx AS dev,
        |    ((CAST(n AS HUGEINT) * v - sx) *
        |     (CAST(n AS HUGEINT) * v - sx)) >
        |      4 * (CAST(n AS HUGEINT) * sxx -
        |        CAST(sx AS HUGEINT) * sx) AS brk
        |  FROM w)
        |SELECT g AS o_orderpriority, count(*) AS n_days,
        |  CAST(sum(CASE WHEN brk AND dev > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above,
        |  CAST(sum(CASE WHEN brk AND dev < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_below
        |FROM b GROUP BY 1""".stripMargin),

    // ---- indicators: daily VWAP over lineitem — Σ(extended cents) /
    // Σ(qty) per ship day, exact e4.
    Query("q309_vwap", (s, dir) =>
      TechnicalIndicators.vwapDaily(T(s, dir, "lineitem"),
        TimeFns.floorDiv(unix_micros(col("l_shipdate")
          .cast("timestamp")), 86400L * 1000000L),
        expr("cast(round(l_extendedprice * 100, 0) as long)"),
        expr("cast(round(l_quantity, 0) as long)")), {
      // q309: one daily aggregate, e4 extended/qty ratio
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH l AS (SELECT
         |    (epoch_ns(l_shipdate) // 1000000000) // 86400 AS day,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pq,
         |    CAST(round(l_quantity, 0) AS BIGINT) AS q
         |  FROM lineitem),
         |a AS (SELECT day, count(*) AS n_lines,
         |    CAST(sum(pq) AS BIGINT) AS sum_extended,
         |    CAST(sum(q) AS BIGINT) AS sum_qty
         |  FROM l GROUP BY 1)
         |SELECT day, n_lines, sum_extended, sum_qty,
         |  ${ratioScaledSql("sum_extended", "sum_qty", 4)} AS vwap_e4
         |FROM a""".stripMargin
    }),

    // ---- engagement: consecutive-day activity STREAKS per user —
    // gaps-and-islands (day − row_number anchor), per-user distinct-
    // day partitions bounded by the calendar.
    Query("q260_streaks", (s, dir) =>
      EventAnalytics.activityStreaks(T(s, dir, "events"), "user_id",
        "ts"),
      // q260: gaps-and-islands — day − row_number is constant inside a
      // consecutive run
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 86400000000000 AS d FROM events),
        |i AS (SELECT user_id,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS isl
        |  FROM d),
        |r AS (SELECT user_id, isl, count(*) AS run FROM i
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(run) AS BIGINT) AS n_days,
        |  count(*) AS n_streaks, max(run) AS longest_streak
        |FROM r GROUP BY 1""".stripMargin),

    // ---- funnels: signup→purchase conversion-latency quantile grid
    // per signup-day cohort — first purchase strictly after the
    // user's first signup; exact observed-value quantiles (q35's
    // type-preserving convention) at p250/p500/p750/p900.
    Query("q263_convert_cohort", (s, dir) => {
      val ev = T(s, dir, "events")
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0__"))
      val delays = ev.filter(col("event_type") === "purchase")
        .join(signup, "user_id")
        .filter(col("ts") > col("t0__"))
        .groupBy(col("user_id"), col("t0__"))
        .agg(min(col("ts")).as("tc__"))
        .select(graft.functions.TimeFns
            .floorDiv(col("t0__"), 86400L * 1000000000L)
            .as("cohort_day"),
          (col("tc__") - col("t0__")).as("delay_ns"))
      GroupStats.quantileGrid(delays, Seq("cohort_day"),
        col("delay_ns"), permilles = Seq(250, 500, 750, 900))
    },
      // q263: first purchase strictly after first signup; observed-
      // value rank ceil(q·n/1000) per signup-day cohort
      """WITH s AS (SELECT user_id, min(epoch_ns(ts)) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, s.t0, min(epoch_ns(e.ts)) AS tc
        |  FROM events e JOIN s ON s.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s.t0
        |  GROUP BY 1, 2),
        |dl AS (SELECT t0 // 86400000000000 AS cohort_day,
        |    tc - t0 AS delay FROM p),
        |r AS (SELECT cohort_day, delay,
        |    CAST(row_number() OVER (PARTITION BY cohort_day
        |      ORDER BY delay) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY cohort_day) AS n
        |  FROM dl)
        |SELECT cohort_day, count(*) AS n,
        |  max(CASE WHEN rn = (n * 250 + 999) // 1000 THEN delay END)
        |    AS p250_units,
        |  max(CASE WHEN rn = (n * 500 + 999) // 1000 THEN delay END)
        |    AS p500_units,
        |  max(CASE WHEN rn = (n * 750 + 999) // 1000 THEN delay END)
        |    AS p750_units,
        |  max(CASE WHEN rn = (n * 900 + 999) // 1000 THEN delay END)
        |    AS p900_units
        |FROM r GROUP BY 1""".stripMargin),

    // ---- OLAP: CUBE over (source, lang) — rollup's prefix levels
    // PLUS the cross marginals (per-lang-across-sources), one Expand,
    // grouping indicators, exact sums (q143's cube twin).
    Query("q238_cube_stats", (s, dir) =>
      Profile.cubeStats(T(s, dir, "documents"), Seq("source", "lang"),
        col("n_chars")),
      // q238: native CUBE with GROUPING indicators (the q58 rollup
      // oracle's cube twin)
      """SELECT source, lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(n_chars AS HUGEINT)) AS BIGINT) AS sum_units
        |FROM documents
        |GROUP BY CUBE (source, lang)""".stripMargin),

    // ---- analytics: LAST-TOUCH ATTRIBUTION — each purchase credits
    // the most recent click by the same user within a 24 h horizon
    // (backward as-of + window cap); outside-horizon and clickless
    // purchases read organic (null attribution).
    Query("q237_attribution", (s, dir) => {
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100, 0).cast("long").as("value_c"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_event_id"))
      val horizon = 86400L * 1000000000L
      val inWin = col("right_ts").isNotNull &&
        col("ts") - col("right_ts") <= horizon
      AsOfJoin.leftAsOf(purchases, clicks, Seq("user_id"), "ts", "ts",
          rightPayload = Seq("click_event_id", "ts"))
        .select(col("event_id"), col("user_id"), col("value_c"),
          when(inWin, col("right_click_event_id"))
            .as("attributed_click_id"),
          when(inWin, TimeFns.floorDiv(col("ts") - col("right_ts"),
            1000000000L)).as("gap_s"))
    },
      // q237: last click per purchase (ct <= t, max ct), credited only
      // inside the 24 h horizon; organic purchases null-extend
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS t,
        |    CAST(round(value * 100, 0) AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS cid, epoch_ns(ts) AS ct
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.t, c.cid, c.ct
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.ct <= p.t),
        |b AS (SELECT event_id, t, cid, ct, row_number() OVER (
        |    PARTITION BY event_id ORDER BY ct DESC) AS rn FROM j)
        |SELECT p.event_id, p.user_id, p.value_c,
        |  CASE WHEN b.ct IS NOT NULL
        |      AND p.t - b.ct <= 86400000000000
        |    THEN b.cid END AS attributed_click_id,
        |  CASE WHEN b.ct IS NOT NULL
        |      AND p.t - b.ct <= 86400000000000
        |    THEN (p.t - b.ct) // 1000000000 END AS gap_s
        |FROM p LEFT JOIN (SELECT * FROM b WHERE rn = 1) b
        |  USING (event_id)""".stripMargin),

    // ---- ranking: per-group top-k — the 3 priciest orders per
    // order-priority class; the declared rank-filter idiom lets
    // Catalyst plant WindowGroupLimit (map-side size-k heaps before
    // the shuffle — PlanAuditSpec pins it)
    Query("q183_group_topk", (s, dir) =>
      RankOps.groupTopK(
        T(s, dir, "orders").select(col("o_orderpriority"),
          col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("price_c")),
        Seq("o_orderpriority"), k = 3,
        value = col("price_c"), tieBreaks = Seq(col("o_orderkey"))),
      // q183: identical window rank + filter
      """SELECT o_orderpriority, o_orderkey, price_c, rnk FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_c,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |          AS BIGINT) DESC,
        |        o_orderkey ASC) AS BIGINT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin))
}
