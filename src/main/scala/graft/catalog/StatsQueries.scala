package graft
package catalog

import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators._
import OracleSql._

/** Statistics, profiling and sketches: robust and exact group
  * statistics, drift and monitoring cards, table profiles, KMV, HLL,
  * Count-Min and quantile sketches, spectral summaries, corpus
  * concentration audits and join-size estimates.
  */
private[graft] object StatsQueries {

  /** The q249/q250 power-iteration CTE chain: e6 units, signed-exact
    * mean centering, all-ones e6 start, and `iterations` unrolled
    * v ← Xᵀ(Xv) steps with max-|w| e6 renormalization — HUGEINT end
    * to end, finished by the caller's SELECT over x / v{iterations}. */
  private def topPcSql(iterations: Int, select: String): String = {
    import graft.functions.ExactRound.ratioScaledSignedSql
    def iter(t: Int) =
      s"""d$t AS (SELECT x.vec_id,
         |    sum(CAST(x.x AS HUGEINT) * v.v) AS dot
         |  FROM x JOIN v${t - 1} v USING (dim) GROUP BY 1),
         |w$t AS (SELECT x.dim,
         |    sum(CAST(x.x AS HUGEINT) * d.dot) AS w
         |  FROM x JOIN d$t d USING (vec_id) GROUP BY 1),
         |n$t AS (SELECT max(abs(w)) AS nrm FROM w$t),
         |v$t AS (SELECT dim,
         |    ${ratioScaledSignedSql("w", "nrm", 6)} AS v
         |  FROM w$t, n$t)""".stripMargin
    s"""WITH u AS (SELECT vec_id,
       |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
       |      AS BIGINT) AS u
       |  FROM embeddings),
       |m AS (SELECT dim,
       |    ${ratioScaledSignedSql("sum(CAST(u AS HUGEINT))",
            "count(*)", 0)} AS m
       |  FROM u GROUP BY 1),
       |x AS (SELECT u.vec_id, u.dim, u.u - m.m AS x
       |  FROM u JOIN m USING (dim)),
       |v0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS v FROM m),
       |${(1 to iterations).map(iter).mkString(",\n")}
       |$select""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    // ---- profiling: per-column table stats — the "describe" surface;
    // integer/string columns only, every value integer- or
    // string-rendered (float columns go through the histogram's
    // scaled-integer path instead)
    Query("q91_profile_columns", (s, dir) =>
      Profile.columns(T(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")), {
      // q91: one stat row per column, UNION ALL; min/max as strings
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
    }),

    // ---- profiling: exact equi-width histogram over integer cents —
    // data-dependent integer bounds, broadcast back; one row per
    // non-empty bucket
    Query("q92_histogram", (s, dir) =>
      Profile.histogram(
        T(s, dir, "orders").select(
          expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents")),
        "cents", nBuckets = 10),
      // q92: integer-cents histogram — the q35 cents derivation, then
      // width/bucket arithmetic entirely in integer division
      """WITH v AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |b AS (SELECT min(v) AS mn, max(v) AS mx FROM v),
        |w AS (SELECT mn, ((mx - mn) // 10) + 1 AS w FROM b)
        |SELECT (v.v - w.mn) // w.w AS bucket,
        |  w.mn + ((v.v - w.mn) // w.w) * w.w AS lo,
        |  w.mn + (((v.v - w.mn) // w.w) + 1) * w.w - 1 AS hi,
        |  count(*) AS n_rows
        |FROM v, w GROUP BY 1, 2, 3""".stripMargin),

    // ---- stats: robust (median/MAD) z-score per group — the
    // outlier-resistant twin of q07's mean/std scoring; every
    // intermediate stays integral via the doubled-units trick, one
    // double formula at the end
    Query("q76_robust_zscore", (s, dir) =>
      RobustScore.madZScore(
          T(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_returnflag"), col("l_extendedprice")),
          groupCols = Seq("l_returnflag"),
          valueUnits = expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("med2"), col("mad4"), col("robust_z")), {
      // q76: doubled-units medians keep every intermediate integral
      def p50(rnc: String, v: String) =
        s"""max(CASE WHEN $rnc = CAST(floor(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN $v END)
           | + max(CASE WHEN $rnc = CAST(ceil(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN $v END)""".stripMargin
      s"""WITH c AS (SELECT l_orderkey, l_linenumber, l_returnflag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS u
         |  FROM lineitem),
         |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY u) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM c),
         |m AS (SELECT l_returnflag, ${p50("rn", "u")} AS med2
         |  FROM r GROUP BY 1),
         |d AS (SELECT r.l_returnflag, r.u, r.n, abs(r.u * 2 - m.med2) AS dev2
         |  FROM r JOIN m USING (l_returnflag)),
         |d2 AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY dev2) AS drn
         |  FROM d),
         |md AS (SELECT l_returnflag, ${p50("drn", "dev2")} AS mad4
         |  FROM d2 GROUP BY 1)
         |SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag,
         |  m.med2, md.mad4,
         |  CASE WHEN md.mad4 > 0 THEN
         |    round(CAST(c.u * 2 - m.med2 AS DOUBLE) * 2.0
         |      / (1.4826 * CAST(md.mad4 AS DOUBLE)), 4) + 0.0
         |  END AS robust_z
         |FROM c JOIN m USING (l_returnflag) JOIN md USING (l_returnflag)""".stripMargin
    }),

    // ---- stats: per-group Pearson correlation from exact integer-unit
    // accumulators (builtin corr is a partial-order-dependent co-moment
    // recursion — it can flap the hash gate); one double formula at the
    // end, mirrored in the oracle with VARCHAR-route decimal casts
    Query("q75_group_correlation", (s, dir) =>
      GroupStats.pearson(T(s, dir, "lineitem"),
        groupCols = Seq("l_returnflag"),
        xUnits = expr("round(l_extendedprice * 100, 0)"),
        yUnits = expr("round(l_quantity, 0)")),
      // q75: exact HUGEINT sums; decimal→double via VARCHAR (2⁵³ lesson)
      """WITH c AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        |  FROM c GROUP BY 1),
        |v AS (SELECT l_returnflag, n,
        |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS vy
        |  FROM s)
        |SELECT l_returnflag, n,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) AS cov_num,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    round(CAST(CAST(num AS VARCHAR) AS DOUBLE) /
        |      (sqrt(CAST(CAST(vx AS VARCHAR) AS DOUBLE)) *
        |       sqrt(CAST(CAST(vy AS VARCHAR) AS DOUBLE))), 6)
        |  END AS r
        |FROM v""".stripMargin),

    // ---- feature scaling: per-group winsorization — clip prices to the
    // group's exact [p05, p95] type-7 band (q35's integer-cents lerp
    // discipline), bounds broadcast back, codegen'd clip
    Query("q74_winsorize", (s, dir) =>
      Winsorize.clipToQuantiles(
          T(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_returnflag"), col("l_extendedprice")),
          groupCols = Seq("l_returnflag"),
          valueUnits = expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
          scale = 100L, pLow = 0.05, pHigh = 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("wins_lo"), col("wins_hi"), col("wins_value")), {
      // q74: q35's integer-cents lerp at p05/p95 + broadcast-back clip
      def pick(nm: String, q: String) =
        s"""max(CASE WHEN rn = CAST(floor($q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN cents END) AS ${nm}_a,
           |  max(CASE WHEN rn = CAST(ceil($q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN cents END) AS ${nm}_b,
           |  max($q * CAST(n - 1 AS DOUBLE) - floor($q * CAST(n - 1 AS DOUBLE))) AS ${nm}_f""".stripMargin
      s"""WITH c AS (SELECT l_orderkey, l_linenumber, l_returnflag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
         |  FROM lineitem),
         |r AS (SELECT l_returnflag, cents,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM c),
         |p AS (SELECT l_returnflag,
         |  ${pick("lo", "0.05")},
         |  ${pick("hi", "0.95")}
         |  FROM r GROUP BY 1),
         |b AS (SELECT l_returnflag,
         |    (CAST(lo_a AS DOUBLE) + CAST(lo_b - lo_a AS DOUBLE) * lo_f) / 100.0 AS wins_lo,
         |    (CAST(hi_a AS DOUBLE) + CAST(hi_b - hi_a AS DOUBLE) * hi_f) / 100.0 AS wins_hi
         |  FROM p)
         |SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag,
         |  b.wins_lo, b.wins_hi,
         |  least(greatest(CAST(c.cents AS DOUBLE) / 100.0, b.wins_lo), b.wins_hi) AS wins_value
         |FROM c JOIN b USING (l_returnflag)""".stripMargin
    }),

    // ---- KMV sketch distinct estimate (custom TypedImperativeAggregate).
    // HASH-GATED since round 9 (the q24 SimHash precedent): string keys
    // hash through md5-prefix64 and the estimator is pure 128-bit
    // integer arithmetic, so a DuckDB oracle recomputes the identical
    // k minima and the identical estimate — the sketch VALUE is exact
    // deterministic SQL, not just a bounded approximation.
    Query("q37_approx_distinct_kmv", (s, dir) => {
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.expressions.KMVSketch
          .approx_distinct_kmv(col("user_id").cast("string"), k = 256)
          .as("approx_users"))
    }, {
      // q37: the KMV sketch is deterministic SQL once string keys hash
      // through md5-prefix64 — the oracle recomputes the per-group k-th
      // smallest distinct hash (hex sort order == unsigned numeric
      // order) and the same 128-bit integer Beyer estimator
      // floor((k−1)·2^64/(u+1)); groups with < k distinct hashes emit
      // the exact distinct-hash count, as the sketch does.
      val hi = hex32Sql("h16", 1)
      val lo = hex32Sql("h16", 9)
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    substring(md5(CAST(user_id AS VARCHAR)), 1, 16) AS h16
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT event_type, h16,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h16 ASC) AS rk
         |  FROM h),
         |u AS (SELECT event_type,
         |    CAST($hi AS HUGEINT) * 4294967296 + CAST($lo AS HUGEINT) AS uh
         |  FROM r WHERE rk = 256),
         |est AS (SELECT event_type,
         |    CAST(least((CAST(255 AS HUGEINT) *
         |      (CAST(4294967296 AS HUGEINT) * 4294967296)) // (uh + 1),
         |      CAST(9223372036854775807 AS HUGEINT))
         |      AS BIGINT) AS approx
         |  FROM u),
         |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
         |  FROM h GROUP BY 1),
         |g AS (SELECT DISTINCT event_type FROM events)
         |SELECT g.event_type,
         |  coalesce(e.approx, c.nd, CAST(0 AS BIGINT)) AS approx_users
         |FROM g LEFT JOIN cnt c USING (event_type)
         |  LEFT JOIN est e USING (event_type)""".stripMargin
    }),

    // ---- sketch: HyperLogLog distinct users per event type — the
    // industry-standard mergeable counter next to q37's KMV. Gate
    // surface = exact integer register summary (v_zero, s40) + the
    // raw-formula estimate (one literal IEEE chain; the ln-based
    // linear-counting correction is production-only — libm isn't
    // bit-portable, see HllSketch scaladoc)
    Query("q109_hll_distinct", (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.expressions.HllSketch
          .hll_sketch(col("user_id").cast("string")).as("h"))
        .select(col("event_type"), col("h.v_zero").as("v_zero"),
          col("h.s40").as("s40"), col("h.est_hll").as("est_hll")), {
      // q109: HLL registers rebuilt nibble-wise from the md5 prefix —
      // bucket = hex chars 1-2, rank = leading-zero ladder over the
      // 56-bit remainder (pure integer comparisons, capped at 40), the
      // harmonic sum as BIGINT, and the raw estimate as the IDENTICAL
      // literal double chain HllSketch.rawEstimate evaluates
      val bucket = s"(${nibSql("h16", 1)} * 16 + ${nibSql("h16", 2)})"
      val whi = (3 to 8)
        .map(i => nibSql("h16", i) + s" * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      val ladder = (1 to 39).map(k =>
        s"WHEN w >= ${BigInt(2).pow(56 - k)} THEN $k").mkString(" ")
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    substring(md5(CAST(user_id AS VARCHAR)), 1, 16) AS h16
         |  FROM events WHERE user_id IS NOT NULL),
         |hb AS (SELECT event_type, $bucket AS bucket,
         |    CAST($whi AS HUGEINT) * 4294967296 +
         |      ${hex32Sql("h16", 9)} AS w
         |  FROM h),
         |ranked AS (SELECT event_type, bucket,
         |    CASE $ladder ELSE 40 END AS rank FROM hb),
         |regs AS (SELECT event_type, bucket, max(rank) AS mx
         |  FROM ranked GROUP BY 1, 2),
         |grid AS (SELECT g.event_type, b.bucket
         |  FROM (SELECT DISTINCT event_type FROM events) g,
         |    (SELECT unnest(range(0, 256)) AS bucket) b),
         |m AS (SELECT grid.event_type, grid.bucket,
         |    coalesce(regs.mx, 0) AS mj
         |  FROM grid LEFT JOIN regs
         |    ON regs.event_type = grid.event_type
         |    AND regs.bucket = grid.bucket),
         |s AS (SELECT event_type,
         |    CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_zero,
         |    CAST(sum(CAST(1 AS BIGINT) << (40 - mj)) AS BIGINT) AS s40
         |  FROM m GROUP BY 1)
         |SELECT event_type, v_zero, s40,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
         |    CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) *
         |    CAST(65536.0 AS DOUBLE) * CAST(1099511627776.0 AS DOUBLE) /
         |    CAST(s40 AS DOUBLE) AS est_hll
         |FROM s""".stripMargin
    }),

    // ---- sketch ROLL-UP: per-type HLL register partials merged into
    // the global sketch (hll_registers → hll_merge → hll_summary) —
    // the shard-wise pre-aggregation pattern. The oracle computes the
    // GLOBAL sketch directly from rows, so a hash match PROVES the
    // merge is lossless (merged-partials ≡ one-shot, bit for bit)
    Query("q114_hll_rollup", (s, dir) => {
      val ev = T(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(graft.expressions.HllSketch
          .hll_registers(col("user_id").cast("string")).as("regs"))
        .agg(graft.expressions.HllSketch.hll_merge(col("regs")).as("m"))
        .select(graft.expressions.HllSketch.hll_summary(col("m")).as("h"))
        .select(col("h.v_zero").as("v_zero"), col("h.s40").as("s40"),
          col("h.est_hll").as("est_hll"))
    }, {
      // q114: the GLOBAL HLL computed directly from rows — equality with
      // the engine's merged per-type partials proves lossless merge
      val bucket = s"(${nibSql("h16", 1)} * 16 + ${nibSql("h16", 2)})"
      val whi = (3 to 8)
        .map(i => nibSql("h16", i) + s" * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      val ladder = (1 to 39).map(k =>
        s"WHEN w >= ${BigInt(2).pow(56 - k)} THEN $k").mkString(" ")
      s"""WITH h AS (SELECT DISTINCT
         |    substring(md5(CAST(user_id AS VARCHAR)), 1, 16) AS h16
         |  FROM events WHERE user_id IS NOT NULL),
         |hb AS (SELECT $bucket AS bucket,
         |    CAST($whi AS HUGEINT) * 4294967296 +
         |      ${hex32Sql("h16", 9)} AS w
         |  FROM h),
         |ranked AS (SELECT bucket, CASE $ladder ELSE 40 END AS rank
         |  FROM hb),
         |regs AS (SELECT bucket, max(rank) AS mx FROM ranked GROUP BY 1),
         |m AS (SELECT b.bucket, coalesce(regs.mx, 0) AS mj
         |  FROM (SELECT unnest(range(0, 256)) AS bucket) b
         |  LEFT JOIN regs ON regs.bucket = b.bucket),
         |s AS (SELECT
         |    CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_zero,
         |    CAST(sum(CAST(1 AS BIGINT) << (40 - mj)) AS BIGINT) AS s40
         |  FROM m)
         |SELECT v_zero, s40,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
         |    CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) *
         |    CAST(65536.0 AS DOUBLE) * CAST(1099511627776.0 AS DOUBLE) /
         |    CAST(s40 AS DOUBLE) AS est_hll
         |FROM s""".stripMargin
    }),

    // ---- profiling: shuffle-key skew report — the hottest l_partkey
    // values with exact shares: the pre-join sizing query that decides
    // "salt or not" (FuzzyJoin's salt derivation automates the same)
    Query("q115_skew_report", (s, dir) =>
      Profile.keySkew(T(s, dir, "lineitem"), "l_partkey", topK = 10),
      // q115: identical top-k tie order (count desc, key asc); shares
      // through the shared exact-rounding identity
      s"""WITH c AS (SELECT l_partkey, count(*) AS n_rows_key
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(sum(n_rows_key) AS BIGINT) AS n_total,
         |    count(*) AS n_keys FROM c),
         |top AS (SELECT * FROM c
         |  ORDER BY n_rows_key DESC, l_partkey ASC LIMIT 10)
         |SELECT top.l_partkey, top.n_rows_key, t.n_keys, t.n_total,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "top.n_rows_key", "t.n_total", 4)} AS share_e4
         |FROM top, t""".stripMargin),

    // ---- stats: per-group OLS trend (drift detection) — slope and
    // intercept of value~day as exact e6 rationals, signed half-away
    // rounding mirrored in the oracle; no float in the lineage
    Query("q116_group_trend", (s, dir) =>
      GroupStats.olsTrend(T(s, dir, "events"),
        groupCols = Seq("event_type"),
        xUnits = TimeFns.floorDiv(col("ts"), 86400L * 1000000000L),
        yUnits = expr("round(value * 100, 0)")), {
      // q116: the q75 exact-sum discipline with SIGNED half-away e6
      // rounding — sign·((|a|·2e6+|b|) // (2|b|)), HUGEINT end to end
      def sgn(a: String, b: String) = s"CAST(sign($a) * sign($b) AS BIGINT)"
      s"""WITH c AS (SELECT event_type,
         |    epoch_ns(ts) // 86400000000000 AS x,
         |    CAST(round(value * 100, 0) AS BIGINT) AS y
         |  FROM events),
         |s AS (SELECT event_type, count(*) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM c GROUP BY 1),
         |v AS (SELECT event_type, n, sx, sy,
         |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
         |    CAST(n AS HUGEINT) * sxx - sx * sx AS vx
         |  FROM s),
         |w AS (SELECT event_type, n, num, vx,
         |    sy * vx - num * sx AS inum,
         |    CAST(n AS HUGEINT) * vx AS iden
         |  FROM v)
         |SELECT event_type, n,
         |  CASE WHEN vx > 0 THEN ${sgn("num", "vx")} *
         |    CAST((abs(num) * 2000000 + abs(vx)) // (abs(vx) * 2)
         |      AS BIGINT) END AS slope_e6,
         |  CASE WHEN vx > 0 THEN ${sgn("inum", "iden")} *
         |    CAST((abs(inum) * 2000000 + abs(iden)) // (abs(iden) * 2)
         |      AS BIGINT) END AS intercept_e6
         |FROM w""".stripMargin
    }),

    // ---- monitoring: per-type daily counts + trailing-7-observed-day
    // moving average (exact scaled integer) — the pipeline health
    // series a scrape operator watches
    Query("q120_rolling_metrics", (s, dir) =>
      EventAnalytics.rollingDailyMetrics(T(s, dir, "events"),
        "event_type", "ts", windowRows = 7),
      // q120: identical rows-frame window (6 preceding observed days);
      // trailing average through the exact-rounding identity
      s"""WITH d AS (SELECT event_type,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT event_type, day, n_events,
         |    CAST(sum(n_events) OVER win AS BIGINT) AS trail_sum,
         |    count(*) OVER win AS trail_rows
         |  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT event_type, day, n_events, trail_sum,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "trail_sum", "trail_rows", 4)} AS trail_avg_e4
         |FROM w""".stripMargin),

    // ---- monitoring: decile-bin distribution drift (exact TVD) —
    // even-key orders are the reference snapshot, odd-key the current
    // one; boundaries from reference ranks, assignment by value
    Query("q127_bin_drift", (s, dir) => {
      val priceE2 = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val o = T(s, dir, "orders")
      Drift.binDrift(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0).select(priceE2.as("v")),
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1).select(priceE2.as("v")),
        col("v"), nBins = 10)
    },
      // q127: boundaries from reference rank-bins (row_number formula —
      // the value at rank r is deterministic under ties), value-based
      // assignment via the boundary list, TVD through the rounding
      // identity over HUGEINT cross products
      s"""WITH refv AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |      * 100 AS BIGINT) AS v
         |    FROM orders WHERE o_orderkey % 2 = 0),
         |curv AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |      * 100 AS BIGINT) AS v
         |    FROM orders WHERE o_orderkey % 2 = 1),
         |nr AS (SELECT count(*) AS n FROM refv),
         |rb AS (SELECT v, ((row_number() OVER (ORDER BY v) - 1) * 10)
         |      // (SELECT n FROM nr) AS bin FROM refv),
         |bd AS (SELECT bin, max(v) AS b FROM rb WHERE bin < 9
         |  GROUP BY bin),
         |bl AS (SELECT list(b ORDER BY b) AS bs FROM bd),
         |ra AS (SELECT CAST(len(list_filter((SELECT bs FROM bl),
         |      x -> v > x)) AS BIGINT) AS bin, count(*) AS n_ref
         |  FROM refv GROUP BY 1),
         |ca AS (SELECT CAST(len(list_filter((SELECT bs FROM bl),
         |      x -> v > x)) AS BIGINT) AS bin, count(*) AS n_cur
         |  FROM curv GROUP BY 1),
         |j AS (SELECT coalesce(ra.bin, ca.bin) AS bin,
         |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
         |  FROM ra FULL JOIN ca ON ra.bin = ca.bin),
         |t0 AS (SELECT j.*, bd.b AS hi_units,
         |    CAST((SELECT n FROM nr) AS HUGEINT) AS nrt,
         |    CAST(sum(n_cur) OVER () AS HUGEINT) AS nct
         |  FROM j LEFT JOIN bd ON bd.bin = j.bin),
         |t AS (SELECT *, sum(abs(CAST(n_ref AS HUGEINT) * nct -
         |      CAST(n_cur AS HUGEINT) * nrt)) OVER () AS tvd_num
         |  FROM t0)
         |SELECT bin, hi_units, n_ref, n_cur,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_ref", "nrt", 6)} AS share_ref_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_cur", "nct", 6)} AS share_cur_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "tvd_num", "2 * nrt * nct", 6)} AS tvd_e6
         |FROM t""".stripMargin),

    // ---- monitoring: pipeline-health anomalies — robust (median/MAD)
    // z over each event type's daily count series, |z| >= 3 flags
    // (q76's kernel composed over q120's daily grid: the "today's
    // scrape is off" alarm)
    Query("q129_metric_anomalies", (s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"),
          TimeFns.floorDiv(col("ts"), 86400L * 1000000000L).as("day"))
        .agg(count(lit(1)).as("n_events"))
      RobustScore.madZScore(daily, Seq("event_type"), col("n_events"))
        .select(col("event_type"), col("day"), col("n_events"),
          col("med2"), col("mad4"), col("robust_z"),
          when(col("robust_z").isNotNull && abs(col("robust_z")) >= 3.0,
            true).otherwise(false).as("is_anomaly"))
    }, {
      // q129: q76's doubled-units median/MAD kernel over q120's daily
      // grid; the anomaly flag compares the ROUNDED z (identical in
      // both engines) against 3.0
      def p50(rnc: String, v: String) =
        s"""max(CASE WHEN $rnc = CAST(floor(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN $v END)
           | + max(CASE WHEN $rnc = CAST(ceil(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN $v END)""".stripMargin
      s"""WITH dly AS (SELECT event_type,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |      ORDER BY n_events) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n FROM dly),
         |m AS (SELECT event_type, ${p50("rn", "n_events")} AS med2
         |  FROM r GROUP BY 1),
         |d AS (SELECT r.event_type, r.n_events, r.n,
         |    abs(r.n_events * 2 - m.med2) AS dev2
         |  FROM r JOIN m USING (event_type)),
         |d2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY dev2) AS drn FROM d),
         |md AS (SELECT event_type, ${p50("drn", "dev2")} AS mad4
         |  FROM d2 GROUP BY 1),
         |z AS (SELECT dly.event_type, dly.day, dly.n_events, m.med2,
         |    md.mad4,
         |    CASE WHEN md.mad4 > 0 THEN
         |      round(CAST(dly.n_events * 2 - m.med2 AS DOUBLE) * 2.0
         |        / (1.4826 * CAST(md.mad4 AS DOUBLE)), 4) + 0.0
         |    END AS robust_z
         |  FROM dly JOIN m USING (event_type) JOIN md USING (event_type))
         |SELECT *, CASE WHEN robust_z IS NOT NULL
         |    AND abs(robust_z) >= 3.0 THEN true ELSE false END
         |  AS is_anomaly FROM z""".stripMargin
    }),

    // ---- monitoring: categorical drift — event-type mix of even- vs
    // odd-user events, exact e6 shares + exact TVD; totals broadcast
    // back (category space unbounded, so no window over categories)
    Query("q137_category_drift", (s, dir) => {
      val ev = T(s, dir, "events")
      Drift.categoryDrift(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        "event_type")
    },
      // q137: q127's TVD math over the category grid (windows are fine
      // oracle-side; the Spark plan broadcasts 1-row totals instead)
      s"""WITH rc AS (SELECT event_type AS category, count(*) AS n_ref
         |  FROM events WHERE user_id % 2 = 0 GROUP BY 1),
         |cc AS (SELECT event_type AS category, count(*) AS n_cur
         |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT coalesce(rc.category, cc.category) AS category,
         |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
         |  FROM rc FULL JOIN cc ON rc.category = cc.category),
         |t0 AS (SELECT *, CAST(sum(n_ref) OVER () AS HUGEINT) AS nr,
         |    CAST(sum(n_cur) OVER () AS HUGEINT) AS nc FROM j),
         |t AS (SELECT *, sum(abs(CAST(n_ref AS HUGEINT) * nc -
         |    CAST(n_cur AS HUGEINT) * nr)) OVER () AS tvd_num FROM t0)
         |SELECT category, n_ref, n_cur,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_ref", "nr", 6)} AS share_ref_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_cur", "nc", 6)} AS share_cur_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "tvd_num", "2 * nr * nc", 6)} AS tvd_e6
         |FROM t""".stripMargin),

    // ---- profiling: functional-dependency check over orders —
    // o_orderkey→o_custkey holds (key), the reverse-direction
    // candidates fail; one Expand aggregate, one scan
    Query("q139_functional_deps", (s, dir) =>
      Profile.functionalDeps(T(s, dir, "orders"), Seq(
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderstatus"),
        ("o_orderstatus", "o_orderpriority"))), {
      // q139: NULL-excluded distinct tuple counts, one pass, unpivoted
      def pair(i: Int, a: String, b: String) =
        s"""count(DISTINCT CASE WHEN $a IS NOT NULL AND $b IS NOT NULL
           |      THEN $a END) AS nd$i,
           |    count(DISTINCT CASE WHEN $a IS NOT NULL AND $b IS NOT NULL
           |      THEN ($a, $b) END) AS np$i""".stripMargin
      def row(i: Int, a: String, b: String) =
        s"""SELECT '$a' AS determinant, '$b' AS dependent, nd$i AS n_det,
           |  np$i AS n_pairs, np$i - nd$i AS n_violations,
           |  np$i = nd$i AS fd_holds FROM a""".stripMargin
      s"""WITH a AS (SELECT
         |    ${pair(0, "o_orderkey", "o_custkey")},
         |    ${pair(1, "o_custkey", "o_orderstatus")},
         |    ${pair(2, "o_orderstatus", "o_orderpriority")}
         |  FROM orders)
         |${row(0, "o_orderkey", "o_custkey")}
         |UNION ALL ${row(1, "o_custkey", "o_orderstatus")}
         |UNION ALL ${row(2, "o_orderstatus", "o_orderpriority")}"""
        .stripMargin
    }),

    // ---- stats: quantile normalization — each return flag's price
    // distribution mapped onto the pooled one (batch-effect
    // correction); exact integer rank mapping, value-at-rank lookup
    Query("q140_quantile_normalize", (s, dir) =>
      QuantileNormalize.quantileNormalize(T(s, dir, "lineitem"),
        "l_returnflag",
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        Seq("l_orderkey", "l_linenumber")),
      // q140: identical per-group/pooled ranks (value + id total order),
      // the same round((r-1)(N-1)/(n-1)) mapping in HUGEINT, value
      // picked AT the mapped rank (multiset property — tie-order free)
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS units
        |  FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY units, l_orderkey, l_linenumber) AS r,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM b),
        |p AS (SELECT units AS pv, row_number() OVER (ORDER BY units)
        |    AS pr FROM b),
        |nt AS (SELECT CAST(count(*) AS HUGEINT) AS N FROM b),
        |m AS (SELECT r.*, CASE WHEN n > 1 THEN
        |      1 + (2 * CAST(r - 1 AS HUGEINT)
        |        * ((SELECT N FROM nt) - 1) + (n - 1)) // (2 * (n - 1))
        |    ELSE 1 + (2 * ((SELECT N FROM nt) - 1) + 2) // 4 END AS mm
        |  FROM r)
        |SELECT m.l_orderkey, m.l_linenumber, m.l_returnflag, m.units,
        |  p.pv AS norm_units
        |FROM m JOIN p ON p.pr = m.mm""".stripMargin),

    // ---- stats: per-group lower weighted median — price weighted by
    // quantity per return flag; exact, always an observed value
    Query("q142_weighted_median", (s, dir) =>
      GroupStats.weightedMedian(T(s, dir, "lineitem"),
        Seq("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        expr("cast(round(l_quantity, 0) as bigint)")),
      // q142: per-group cumulative weight, lower-median predicate
      // 2·cum >= total, min(v) over crossing rows (tie-order free)
      """WITH b AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS w FROM lineitem
        |  WHERE CAST(round(l_quantity, 0) AS BIGINT) > 0),
        |c AS (SELECT *, CAST(sum(w) OVER (PARTITION BY l_returnflag
        |      ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |      AS tw FROM b)
        |SELECT l_returnflag, min(v) AS wmedian_units,
        |  max(tw) AS w_total
        |FROM c WHERE cum * 2 >= tw GROUP BY 1""".stripMargin),

    // ---- stats: exact quantile grid — p25/p50/p75/p95 price cents
    // per return flag, every value an OBSERVED one (no lerp)
    Query("q164_quantile_grid", (s, dir) =>
      GroupStats.quantileGrid(T(s, dir, "lineitem"),
        Seq("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")), {
      // q164: value at rank ceil(q·n/1000) — identical rank pick per
      // permille, conditional max
      def pick(q: Int) =
        s"""max(CASE WHEN rn = (n * $q + 999) // 1000 THEN u END)
           |    AS p${q}_units""".stripMargin
      s"""WITH c AS (SELECT l_returnflag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS u
         |  FROM lineitem),
         |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
         |      ORDER BY u) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM c)
         |SELECT l_returnflag, count(*) AS n,
         |  ${pick(250)},
         |  ${pick(500)},
         |  ${pick(750)},
         |  ${pick(950)}
         |FROM r GROUP BY 1""".stripMargin
    }),

    // ---- planning: exact join-fanout estimate — lineitem self-join
    // on part key (the classic explosion case), top contributing keys
    // + corpus totals
    Query("q168_join_fanout", (s, dir) => {
      val li = T(s, dir, "lineitem")
      Profile.joinFanout(li, "l_partkey", li, "l_partkey", topK = 10)
    },
      // q168: count-table equi-join, HUGEINT products, totals appended
      """WITH lc AS (SELECT l_partkey AS key, count(*) AS n_left
        |  FROM lineitem GROUP BY 1),
        |rc AS (SELECT l_partkey AS key, count(*) AS n_right
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT lc.key, n_left, n_right,
        |    CAST(n_left AS HUGEINT) * n_right AS raw_out
        |  FROM lc JOIN rc USING (key)),
        |t AS (SELECT CAST(least(coalesce(sum(raw_out), 0),
        |      9223372036854775807) AS BIGINT) AS est_total_rows,
        |    count(*) AS n_matched_keys FROM j)
        |SELECT j.key, j.n_left, j.n_right,
        |  CAST(least(raw_out, 9223372036854775807) AS BIGINT) AS n_out,
        |  t.est_total_rows, t.n_matched_keys
        |FROM j, t ORDER BY raw_out DESC, key ASC LIMIT 10""".stripMargin),

    // ---- monitoring: one-sided CUSUM change-point detection over
    // each event type's daily count series — the max(0, S+x−k)
    // recursion in its exact prefix form (cum − running min), windows
    // over the bounded daily frame only
    Query("q219_cusum_drift", (s, dir) =>
      EventAnalytics.cusumDaily(T(s, dir, "events"), "event_type",
        "ts", hMult = 5L),
      // q219: same daily aggregate as q190, ceil-mean allowance, then
      // the two cumulative windows of the prefix-form CUSUM
      cusumDailyOracleSql),

    // ---- stats: CHI-SQUARED independence of (source, lang) plus
    // Cramér's V² — "is the language mix independent of the source?"
    // Full r×c grid including empty cells; the two-stage truncating
    // ladder keeps every intermediate 128-bit-safe (GroupStats doc).
    Query("q253_chi_square", (s, dir) =>
      GroupStats.chiSquare(T(s, dir, "documents"), "source", "lang"),
      // q253: full r×c grid (empty cells carry expected mass too); the
      // engine's two-stage truncating ladder mirrored verbatim —
      // ((|diff|·1e3) // (Ra·Cb) · |diff| · 1e3) // N
      """WITH cells AS (SELECT source AS a, lang AS b, count(*) AS o
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS rr FROM cells GROUP BY 1),
        |cb AS (SELECT b, sum(o) AS cc FROM cells GROUP BY 1),
        |tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS r,
        |    count(DISTINCT b) AS c FROM cells),
        |g AS (SELECT ra.rr, cb.cc, coalesce(cells.o, 0) AS o,
        |    t.n, t.r, t.c
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
        |  CROSS JOIN tot t),
        |t2 AS (SELECT n, r, c,
        |    abs(CAST(o AS HUGEINT) * n - CAST(rr AS HUGEINT) * cc)
        |      AS diff,
        |    CAST(rr AS HUGEINT) * cc AS ec FROM g),
        |t3 AS (SELECT n, r, c,
        |    (((diff * 1000) // ec) * diff * 1000) // n AS term
        |  FROM t2),
        |agg AS (SELECT n, r, c, sum(term) AS chi FROM t3
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(n AS BIGINT) AS n, r AS r_levels, c AS c_levels,
        |  (r - 1) * (c - 1) AS dof,
        |  CAST(chi AS BIGINT) AS chi2_e6,
        |  CASE WHEN least(r - 1, c - 1) > 0 THEN
        |    CAST(chi // (CAST(n AS HUGEINT) * least(r - 1, c - 1))
        |      AS BIGINT) ELSE CAST(0 AS BIGINT) END AS v2_e6
        |FROM agg""".stripMargin),

    // ---- drift: two-sample KOLMOGOROV-SMIRNOV per source vs the
    // rest of the corpus on document length — binning-free max-ECDF-
    // gap via cross-multiplied integers over the distinct-value
    // tally; at_units = smallest value attaining the max.
    Query("q257_ks_stat", (s, dir) =>
      Drift.ksGroupVsRest(T(s, dir, "documents"), "source",
        col("n_chars")), {
      // q257: cross-multiplied integer ECDF gaps over the
      // distinct-value tally; max per group, smallest value attaining
      // it as the tie-break
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH gv AS (SELECT source AS g, n_chars AS v, count(*) AS c
         |  FROM documents
         |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
         |  GROUP BY 1, 2),
         |pv AS (SELECT v, sum(c) AS cv FROM gv GROUP BY 1),
         |pg AS (SELECT g, sum(c) AS na FROM gv GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM gv),
         |grid AS (SELECT pg.g, pv.v, pg.na, t.n - pg.na AS nb, pv.cv,
         |    coalesce(gv.c, 0) AS cgv
         |  FROM pg CROSS JOIN pv
         |  LEFT JOIN gv ON gv.g = pg.g AND gv.v = pv.v
         |  CROSS JOIN tot t),
         |cum AS (SELECT g, v, na, nb,
         |    sum(cgv) OVER w AS cuma, sum(cv) OVER w AS cumall
         |  FROM grid WINDOW w AS (PARTITION BY g ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |gaps AS (SELECT g, v, na, nb,
         |    abs(CAST(cuma AS HUGEINT) * nb -
         |      CAST(cumall - cuma AS HUGEINT) * na) AS gap
         |  FROM cum),
         |mx AS (SELECT g, na, nb, max(gap) AS mg FROM gaps
         |  GROUP BY 1, 2, 3),
         |att AS (SELECT gaps.g, min(v) AS at_units FROM gaps
         |  JOIN mx ON mx.g = gaps.g AND gaps.gap = mx.mg GROUP BY 1)
         |SELECT mx.g AS source, CAST(na AS BIGINT) AS n_group,
         |  CAST(nb AS BIGINT) AS n_rest,
         |  ${ratioScaledSql("mg", "CAST(na AS HUGEINT) * nb", 6)}
         |    AS d_e6,
         |  at_units
         |FROM mx JOIN att ON att.g = mx.g""".stripMargin
    }),

    // ---- monitoring: WEEK-OVER-WEEK trend per event type — last 7
    // observed days vs the prior 7 against the corpus horizon, exact
    // e6 ratio.
    Query("q276_week_over_week", (s, dir) =>
      EventAnalytics.weekOverWeek(T(s, dir, "events"), "event_type",
        "ts"), {
      // q276: 1-row horizon + conditional window-bucket counts, exact
      // e6 ratio (absent-last-week types read 0 by the zero-den rule)
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH d AS (SELECT event_type AS t,
         |    epoch_ns(ts) // 86400000000000 AS d FROM events),
         |h AS (SELECT max(d) AS h FROM d),
         |a AS (SELECT t,
         |    CAST(sum(CASE WHEN d.d > h.h - 7 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_recent,
         |    CAST(sum(CASE WHEN d.d <= h.h - 7 AND d.d > h.h - 14
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_prior
         |  FROM d CROSS JOIN h GROUP BY 1)
         |SELECT t AS event_type, n_recent, n_prior,
         |  ${ratioScaledSql("n_recent", "n_prior", 6)} AS wow_e6
         |FROM a""".stripMargin
    }),

    // ---- stats: THEIL–SEN robust trend per event type — the median
    // pairwise day-slope of the daily count series (floored e6 keys,
    // lower-median row_number pick), q285's outlier-proof sibling.
    Query("q320_theilsen", (s, dir) =>
      EventAnalytics.theilSen(T(s, dir, "events"), "event_type",
        "ts"),
      // q320: per-type daily tally, day-pair self-join (calendar², not
      // events²), e6 slope keys truncated toward zero (integer div and
      // integer // share that convention on negatives — measured),
      // lower-median row_number pick over the total (s, dy, dx) order
      """WITH d AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.t, b.y - a.y AS dy, b.day - a.day AS dx,
        |    (b.y - a.y) * 1000000 // (b.day - a.day) AS s
        |  FROM d a JOIN d b ON b.t = a.t AND a.day < b.day),
        |r AS (SELECT t, s, row_number() OVER (PARTITION BY t
        |      ORDER BY s, dy, dx) AS rn,
        |    count(*) OVER (PARTITION BY t) AS np FROM p)
        |SELECT t AS event_type, CAST(np AS BIGINT) AS n_pairs,
        |  CAST(s AS BIGINT) AS slope_e6
        |FROM r WHERE rn = (np + 1) // 2""".stripMargin),

    // ---- stats: WALD–WOLFOWITZ RUNS TEST per event type — runs of
    // above/below-median days vs the exact expected run count
    // 1 + 2·n₁·n₂/(n₁+n₂) at e6; fewer runs = trending, more =
    // oscillating (the sqrt-free z surface).
    Query("q321_runs_test", (s, dir) =>
      EventAnalytics.runsTest(T(s, dir, "events"), "event_type",
        "ts"), {
      // q321: per-type lower-median of daily counts, median-tie days
      // discarded, IS DISTINCT FROM breaks count the runs; expected
      // runs as the exact 1 + 2ab/(a+b) rational at e6
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH d AS (SELECT event_type AS t,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT t, y AS med FROM (SELECT t, y,
         |    row_number() OVER (PARTITION BY t ORDER BY y, day) AS rn,
         |    count(*) OVER (PARTITION BY t) AS n FROM d)
         |  WHERE rn = (n + 1) // 2),
         |s AS (SELECT d.t, d.day,
         |    CASE WHEN d.y > m.med THEN 1 ELSE -1 END AS sg
         |  FROM d JOIN m ON m.t = d.t WHERE d.y <> m.med),
         |b AS (SELECT t, sg, CASE WHEN lag(sg) OVER (PARTITION BY t
         |      ORDER BY day) IS DISTINCT FROM sg THEN 1 ELSE 0 END
         |    AS brk FROM s),
         |g AS (SELECT t,
         |    CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_above,
         |    CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_below,
         |    CAST(sum(brk) AS BIGINT) AS runs FROM b GROUP BY 1)
         |SELECT t AS event_type, n_above, n_below, runs,
         |  1000000 + ${ratioScaledSql("2 * n_above * n_below",
             "n_above + n_below", 6)} AS expected_runs_e6
         |FROM g""".stripMargin
    }),

    // ---- corpus audit: CONCENTRATION card per source — Gini + HHI
    // of token mass across documents ("half the tokens sit in 2% of
    // docs"), exact e6 rationals on range-partitioned ranks and
    // DECIMAL(38,0) sums.
    Query("q322_concentration", (s, dir) =>
      GroupStats.concentration(T(s, dir, "documents"), "source",
        "doc_id",
        size(graft.functions.TextFns.words(col("text"))).cast("long")), {
      // q322: per-source (x, doc_id) ranks, HUGEINT sums, the sorted
      // Lorenz identity for Gini and share-squares for HHI
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT source, doc_id, len($wordsSql) AS x
         |  FROM documents),
         |r AS (SELECT source, x,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY x, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n FROM t),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(x) AS HUGEINT) AS tot,
         |    CAST(sum((2 * rn - n - 1) * x) AS HUGEINT) AS gnum,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sq
         |  FROM r GROUP BY 1)
         |SELECT source, n_members, CAST(tot AS BIGINT) AS total,
         |  ${ratioScaledSql("gnum", "n_members * tot", 6)} AS gini_e6,
         |  ${ratioScaledSql("sq", "tot * tot", 6)} AS hhi_e6
         |FROM g""".stripMargin
    }),

    // ---- stats: ONE-SPLIT CHANGEPOINT per event type — the binary-
    // segmentation first step over the daily-count series, argmax of
    // the exact between-segment sum-of-squares gain.
    Query("q337_changepoint", (s, dir) =>
      EventAnalytics.changepointDaily(T(s, dir, "events"),
        "event_type", "ts"),
      // q337: cumulative/total window sums per type, the three-term
      // truncating SS ladder, row_number argmax (gain desc, day asc)
      """WITH d AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |sc AS (SELECT t, day,
        |    sum(x) OVER (PARTITION BY t ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |    row_number() OVER (PARTITION BY t ORDER BY day) AS rn,
        |    sum(x) OVER (PARTITION BY t) AS s,
        |    count(*) OVER (PARTITION BY t) AS n
        |  FROM d),
        |g AS (SELECT t, day, rn AS n_left, n - rn AS n_right,
        |    CAST((CAST(cs AS HUGEINT) * cs * 1000000) // rn AS BIGINT)
        |    + CAST((CAST(s - cs AS HUGEINT) * (s - cs) * 1000000) //
        |      (n - rn) AS BIGINT)
        |    - CAST((CAST(s AS HUGEINT) * s * 1000000) // n AS BIGINT)
        |      AS gain_e6
        |  FROM sc WHERE rn < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY t
        |    ORDER BY gain_e6 DESC, day ASC) AS rr FROM g)
        |SELECT t AS event_type, day AS split_day, n_left, n_right,
        |  gain_e6 FROM r WHERE rr = 1""".stripMargin),

    // ---- drift: WASSERSTEIN-1 per source vs rest on doc length —
    // q257's KS integrated over the whole value axis: cross-
    // multiplied ECDF gaps × interval widths, exact e2 units.
    Query("q329_wasserstein", (s, dir) =>
      Drift.wasserstein1GroupVsRest(T(s, dir, "documents"), "source",
        col("n_chars")), {
      // q329: q257's grid/window CTEs with the gap integrated — each
      // gap × its interval to the next distinct value, e2 units ratio
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH gv AS (SELECT source AS g, n_chars AS v, count(*) AS c
         |  FROM documents
         |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
         |  GROUP BY 1, 2),
         |pv AS (SELECT v, sum(c) AS cv FROM gv GROUP BY 1),
         |pg AS (SELECT g, sum(c) AS na FROM gv GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM gv),
         |grid AS (SELECT pg.g, pv.v, pg.na, t.n - pg.na AS nb, pv.cv,
         |    coalesce(gv.c, 0) AS cgv
         |  FROM pg CROSS JOIN pv
         |  LEFT JOIN gv ON gv.g = pg.g AND gv.v = pv.v
         |  CROSS JOIN tot t),
         |cum AS (SELECT g, v, na, nb,
         |    sum(cgv) OVER w AS cuma, sum(cv) OVER w AS cumall,
         |    coalesce(lead(v) OVER (PARTITION BY g ORDER BY v) - v, 0)
         |      AS dv
         |  FROM grid WINDOW w AS (PARTITION BY g ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tm AS (SELECT g, na, nb,
         |    abs(CAST(cuma AS HUGEINT) * nb -
         |      CAST(cumall - cuma AS HUGEINT) * na) * dv AS t
         |  FROM cum),
         |sm AS (SELECT g, na, nb, sum(t) AS s FROM tm
         |  GROUP BY 1, 2, 3)
         |SELECT g AS source, CAST(na AS BIGINT) AS n_group,
         |  CAST(nb AS BIGINT) AS n_rest,
         |  ${ratioScaledSql("s", "CAST(na AS HUGEINT) * nb", 2)}
         |    AS w1_units_e2
         |FROM sm""".stripMargin
    }),

    // ---- stats: daily AUTOCORRELATION per type at lags 1..7 —
    // q310's signed-squared-Pearson ladder on the series against
    // itself; lag-7 structure = weekly seasonality, lag-1 = momentum.
    Query("q326_acf", (s, dir) =>
      EventAnalytics.acfDaily(T(s, dir, "events"), "event_type",
        "ts", maxLag = 7),
      // q326: zero-filled per-type daily series self-joined at lags
      // 1..7; q310's two-stage |num|·1000 ladder for sign(r)·r² e6
      """WITH d AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT ty.t, CAST(unnest(range(h.d0, h.d1 + 1))
        |    AS BIGINT) AS day
        |  FROM (SELECT DISTINCT t FROM d) ty CROSS JOIN h),
        |dn AS (SELECT cal.t, cal.day, coalesce(d.c, 0) AS x
        |  FROM cal LEFT JOIN d ON d.t = cal.t AND d.day = cal.day),
        |lg AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |j AS (SELECT a.t, lg.lag, a.x AS x, b.x AS y
        |  FROM dn a CROSS JOIN lg
        |  JOIN dn b ON b.t = a.t AND b.day = a.day + lg.lag),
        |ag AS (SELECT t, lag, count(*) AS n_days,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT)
        |      AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM j GROUP BY 1, 2),
        |f AS (SELECT t, lag, n_days,
        |    n_days * sxy - sx * sy AS num,
        |    n_days * sxx - sx * sx AS dx,
        |    n_days * syy - sy * sy AS dy FROM ag)
        |SELECT t AS event_type, lag, n_days,
        |  CASE WHEN dx > 0 AND dy > 0 THEN
        |    CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |      ((abs(num) * 1000 // dx) * abs(num) * 1000 // dy)
        |      AS BIGINT)
        |  ELSE 0 END AS r2_signed_e6
        |FROM f""".stripMargin),

    // ---- monitoring: ROLLING 7-day OLS slope per event type —
    // q120's moving average says where the level is; this says how
    // fast it's moving (events/day of drift, signed e6 via Cramer on
    // integer window sums), the decay detector a whole-series fit
    // (q116) smears out.
    Query("q285_rolling_slope", (s, dir) =>
      EventAnalytics.rollingSlope(T(s, dir, "events"), "event_type",
        "ts", windowRows = 7), {
      // q285: daily tally, 7-row window sums, signed Cramer ladder in
      // HUGEINT (den >= 0 by Cauchy-Schwarz; 1-row windows read 0)
      import graft.functions.ExactRound.ratioScaledSignedSql
      s"""WITH d AS (SELECT event_type AS t,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT t, day, y,
         |    count(*) OVER w AS n, sum(day) OVER w AS sx,
         |    sum(y) OVER w AS sy, sum(day * y) OVER w AS sxy,
         |    sum(day * day) OVER w AS sxx
         |  FROM d WINDOW w AS (PARTITION BY t ORDER BY day
         |    ROWS 6 PRECEDING))
         |SELECT t AS event_type, day, y AS n_events,
         |  CAST(n AS BIGINT) AS win_rows,
         |  ${ratioScaledSignedSql(
             "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy",
             "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx", 6)}
         |    AS slope_e6
         |FROM w""".stripMargin
    }),

    // ---- monitoring: MANN-KENDALL trend per event type — the
    // non-parametric S statistic + exact e6 tau-a over the daily
    // series (pairs bounded by the calendar), the spike-robust
    // monotone-drift alarm next to q285's local slope.
    Query("q292_mann_kendall", (s, dir) =>
      EventAnalytics.mannKendall(T(s, dir, "events"), "event_type",
        "ts"), {
      // q292: daily tally, calendar-bounded i<j pair join, signed pair
      // sum, tau-a through the signed e6 ladder
      import graft.functions.ExactRound.ratioScaledSignedSql
      s"""WITH d AS (SELECT event_type AS t,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT a.t,
         |    CASE WHEN b.y > a.y THEN 1
         |      WHEN b.y < a.y THEN -1 ELSE 0 END AS sg
         |  FROM d a JOIN d b ON b.t = a.t AND a.day < b.day),
         |ag AS (SELECT t, count(*) AS n_pairs,
         |    CAST(sum(sg) AS BIGINT) AS s_stat FROM p GROUP BY 1)
         |SELECT t AS event_type, n_pairs, s_stat,
         |  ${ratioScaledSignedSql("s_stat", "n_pairs", 6)} AS tau_a_e6
         |FROM ag""".stripMargin
    }),

    // ---- drift: TOP TOKEN MOVERS, en vs non-en — add-1 smoothed
    // relative-rate ratio per token (the log-odds keyword shape
    // without the log), top 20 each direction: the drill-down behind
    // q208's scalar TV distances.
    Query("q297_token_movers", (s, dir) => {
      val docs = T(s, dir, "documents")
      Drift.tokenMovers(docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text", k = 20)
    }, {
      // q297: two token tallies, full outer join with zero-fill, the
      // smoothed cross-rate in HUGEINT, two (score, token) top-20s
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH ta AS (SELECT unnest($wordsSql) AS token
         |  FROM documents WHERE lang = 'en'),
         |tb AS (SELECT unnest($wordsSql) AS token
         |  FROM documents WHERE lang <> 'en'),
         |ca AS (SELECT token, count(*) AS c_a FROM ta GROUP BY 1),
         |cb AS (SELECT token, count(*) AS c_b FROM tb GROUP BY 1),
         |j AS (SELECT coalesce(ca.token, cb.token) AS token,
         |    coalesce(ca.c_a, 0) AS c_a, coalesce(cb.c_b, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb ON cb.token = ca.token),
         |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS na,
         |    CAST(sum(c_b) AS BIGINT) AS nb,
         |    CAST(count(*) AS BIGINT) AS v FROM j),
         |sc AS (SELECT token, c_a, c_b,
         |    ${ratioScaledSql(
             "CAST(c_a + 1 AS HUGEINT) * (tot.nb + tot.v)",
             "CAST(c_b + 1 AS HUGEINT) * (tot.na + tot.v)", 6)}
         |      AS score_e6
         |  FROM j CROSS JOIN tot),
         |up AS (SELECT 'a_heavy' AS direction, token, c_a, c_b,
         |    score_e6
         |  FROM sc ORDER BY score_e6 DESC, token ASC LIMIT 20),
         |dn AS (SELECT 'b_heavy' AS direction, token, c_a, c_b,
         |    score_e6
         |  FROM sc ORDER BY score_e6 ASC, token ASC LIMIT 20)
         |SELECT * FROM up UNION ALL SELECT * FROM dn""".stripMargin
    }),

    // ---- monitoring: FANO FACTOR per event type — variance-to-mean
    // of daily counts as one exact e6 rational: the burstiness scalar
    // next to q98's hourly drill-down (1e6 ~ Poisson).
    Query("q298_fano_factor", (s, dir) =>
      EventAnalytics.fanoFactor(T(s, dir, "events"), "event_type",
        "ts"), {
      // q298: daily tally, per-type (n, Σy, Σy²) with HUGEINT squares,
      // one e6 division
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH d AS (SELECT event_type AS t,
         |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |a AS (SELECT t, count(*) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(y AS HUGEINT) * y) AS syy FROM d GROUP BY 1)
         |SELECT t AS event_type, n AS n_days, sy AS n_events,
         |  ${ratioScaledSql(
             "CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy",
             "CAST(n AS HUGEINT) * sy", 6)} AS fano_e6
         |FROM a""".stripMargin
    }),

    // ---- planner QA: JOIN-CARDINALITY estimator audit — the
    // textbook |L|x|R| / max(ndv) estimate vs the actual
    // lineitem x part fanout, error as exact e6: the "can I trust
    // the stats?" card before a 100 TB join reorders on them.
    Query("q313_join_estimate", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"))
      val pt = T(s, dir, "part").select(col("p_partkey"))
      val stats = li
        .agg(count(lit(1)).as("n_left"),
          count_distinct(col("l_partkey")).as("ndv_left"))
        .crossJoin(pt.agg(count(lit(1)).as("n_right"),
          count_distinct(col("p_partkey")).as("ndv_right")))
      val actual = li.join(pt, col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_actual"))
      stats.crossJoin(actual)
        .withColumn("n_estimate", call_function("div",
          col("n_left").cast("decimal(38,0)") * col("n_right"),
          greatest(col("ndv_left"), col("ndv_right"))
            .cast("decimal(38,0)")).cast("long"))
        .select(col("n_left"), col("ndv_left"), col("n_right"),
          col("ndv_right"), col("n_actual"), col("n_estimate"),
          graft.functions.ExactRound.ratioScaled(col("n_estimate"),
            col("n_actual"), 6).as("est_over_actual_e6"))
    }, {
      // q313: exact counts/ndv both sides, the |L|*|R|/max(ndv)
      // estimate via HUGEINT floor division, e6 est/actual ratio
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH l AS (SELECT count(*) AS n_left,
         |    count(DISTINCT l_partkey) AS ndv_left FROM lineitem),
         |r AS (SELECT count(*) AS n_right,
         |    count(DISTINCT p_partkey) AS ndv_right FROM part),
         |a AS (SELECT count(*) AS n_actual
         |  FROM lineitem JOIN part ON p_partkey = l_partkey),
         |e AS (SELECT l.n_left, l.ndv_left, r.n_right, r.ndv_right,
         |    a.n_actual,
         |    CAST((CAST(l.n_left AS HUGEINT) * r.n_right) //
         |      greatest(l.ndv_left, r.ndv_right) AS BIGINT)
         |      AS n_estimate
         |  FROM l, r, a)
         |SELECT n_left, ndv_left, n_right, ndv_right, n_actual,
         |  n_estimate,
         |  ${ratioScaledSql("n_estimate", "n_actual", 6)}
         |    AS est_over_actual_e6
         |FROM e""".stripMargin
    }),

    // ---- stats: ETA SQUARED of event value across types — the
    // variance-explained effect size (exact floored-e6 integer form,
    // numerator clamped against flooring dust): chi-square's numeric
    // sibling.
    Query("q314_eta_squared", (s, dir) =>
      GroupStats.etaSquared(T(s, dir, "events"), "event_type",
        expr("cast(round(value * 100, 0) as long)")),
      // q314: per-group (n, Σ, Σ²) with HUGEINT squares, per-term
      // floored e6 sums of squares, clamped numerator, one division
      """WITH v AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |pg AS (SELECT g, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
        |    sum(CAST(v AS HUGEINT) * v) AS q FROM v GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(s) AS BIGINT) AS st, sum(q) AS qt,
        |    sum((CAST(s AS HUGEINT) * s * 1000000) // n) AS b6
        |  FROM pg),
        |e AS (SELECT n_rows, n_groups, b6, qt,
        |    (CAST(st AS HUGEINT) * st * 1000000) // n_rows AS gm
        |  FROM t)
        |SELECT n_rows, n_groups,
        |  CASE WHEN CAST(qt AS HUGEINT) * 1000000 - gm > 0 THEN
        |    CAST((greatest(b6 - gm, 0) * 1000000) //
        |      (CAST(qt AS HUGEINT) * 1000000 - gm) AS BIGINT)
        |  ELSE 0 END AS eta2_e6
        |FROM e""".stripMargin),

    // ---- monitoring: WEEKLY exact quantile bands per type — q164's
    // quantile grid over (type, week) buckets: p50/p90 of e2 event
    // value per week, the drift-aware percentile trend.
    Query("q315_weekly_quantiles", (s, dir) =>
      GroupStats.quantileGrid(
        T(s, dir, "events").select(col("event_type"),
          TimeFns.floorDiv(col("ts"), 7L * 86400L * 1000000000L)
            .as("week"),
          expr("cast(round(value * 100, 0) as long)").as("vu__")),
        Seq("event_type", "week"), col("vu__"),
        permilles = Seq(500, 900)), {
      // q315: the q164 pick convention over (type, week) buckets
      def pick(q: Int) =
        s"""max(CASE WHEN rn = (n * $q + 999) // 1000 THEN u END)
           |    AS p${q}_units""".stripMargin
      s"""WITH c AS (SELECT event_type,
         |    epoch_ns(ts) // 604800000000000 AS week,
         |    CAST(round(value * 100, 0) AS BIGINT) AS u
         |  FROM events),
         |r AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY event_type, week
         |      ORDER BY u) AS rn,
         |    count(*) OVER (PARTITION BY event_type, week) AS n
         |  FROM c WHERE u IS NOT NULL))
         |SELECT event_type, week, count(*) AS n,
         |  ${pick(500)},
         |  ${pick(900)}
         |FROM r GROUP BY 1, 2""".stripMargin
    }),

    // ---- stats: per-group TWO-REGRESSOR OLS (price ~ quantity +
    // discount) — Cramer's rule on exact integer sums, signed e6 βs;
    // y in whole dollars to respect the quartic headroom contract.
    Query("q261_ols2", (s, dir) =>
      GroupStats.ols2(T(s, dir, "lineitem"), Seq("l_returnflag"),
        x1Units = expr("cast(round(l_quantity, 0) as long)"),
        x2Units = expr("cast(round(l_discount * 100, 0) as long)"),
        yUnits = expr("cast(round(l_extendedprice, 0) as long)")), {
      // q261: the centered normal equations via Cramer's rule, HUGEINT
      // end to end, q116's signed half-away e6 rounding on each β
      def sgn(a: String, b: String) =
        s"CAST(sign($a) * sign($b) AS BIGINT)"
      def e6(a: String, b: String) =
        s"CASE WHEN det > 0 THEN ${sgn(a, b)} * " +
          s"CAST((abs($a) * 2000000 + abs($b)) // (abs($b) * 2) " +
          "AS BIGINT) END"
      s"""WITH c AS (SELECT l_returnflag,
         |    CAST(round(l_quantity, 0) AS BIGINT) AS x1,
         |    CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
         |    CAST(round(l_extendedprice, 0) AS BIGINT) AS y
         |  FROM lineitem),
         |s AS (SELECT l_returnflag, count(*) AS n,
         |    sum(CAST(x1 AS HUGEINT)) AS s1,
         |    sum(CAST(x2 AS HUGEINT)) AS s2,
         |    sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
         |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
         |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
         |    sum(CAST(x1 AS HUGEINT) * y) AS s1y,
         |    sum(CAST(x2 AS HUGEINT) * y) AS s2y
         |  FROM c GROUP BY 1),
         |a AS (SELECT l_returnflag, n, s1, s2, sy,
         |    CAST(n AS HUGEINT) * s11 - s1 * s1 AS a11,
         |    CAST(n AS HUGEINT) * s12 - s1 * s2 AS a12,
         |    CAST(n AS HUGEINT) * s22 - s2 * s2 AS a22,
         |    CAST(n AS HUGEINT) * s1y - s1 * sy AS b1,
         |    CAST(n AS HUGEINT) * s2y - s2 * sy AS b2
         |  FROM s),
         |d AS (SELECT l_returnflag, n, s1, s2, sy,
         |    a11 * a22 - a12 * a12 AS det,
         |    b1 * a22 - b2 * a12 AS n1,
         |    b2 * a11 - b1 * a12 AS n2
         |  FROM a),
         |bb AS (SELECT l_returnflag, n, s1, s2, sy, det,
         |    ${e6("n1", "det")} AS beta1_e6,
         |    ${e6("n2", "det")} AS beta2_e6
         |  FROM d)
         |SELECT l_returnflag, n, beta1_e6, beta2_e6,
         |  CASE WHEN det > 0 THEN
         |    ${graft.functions.ExactRound.ratioScaledSignedSql(
               "sy * 1000000 - CAST(beta1_e6 AS HUGEINT) * s1 " +
                 "- CAST(beta2_e6 AS HUGEINT) * s2", "n", 0)}
         |  END AS beta0_e6
         |FROM bb""".stripMargin
    }),

    // ---- corpus audit: CROSS-SOURCE CONTAINMENT matrix — for every
    // ordered source pair, shared distinct 3-grams and C(A→B) =
    // |A∩B|/|A| e4-scaled: the "source B mirrors source A" card.
    // Inverted-index self-join over the per-source TYPE table.
    Query("q251_source_containment", (s, dir) =>
      Dedup.sourceContainment(T(s, dir, "documents"), "text",
        "source", n = 3),
      // q251: the jaccardSql shingle split per SOURCE, cross-source
      // distinct, inverted-index self-join, exact e4 containment
      s"""WITH t AS (SELECT source, $wordsSql AS ws FROM documents),
         |g AS (SELECT DISTINCT source, unnest(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |     for i in range(1, len(ws)-1)]) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |sz AS (SELECT source, count(*) AS n_grams_a FROM g GROUP BY 1),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS n_shared
         |  FROM g a JOIN g b ON a.shingle = b.shingle
         |    AND a.source <> b.source
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_shared,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "p.n_shared", "sz.n_grams_a", 4)} AS containment_e4
         |FROM p JOIN sz ON sz.source = p.src_a""".stripMargin),

    // ---- spectral: TOP PRINCIPAL COMPONENT of the embedding corpus
    // by power iteration (Mu & Viswanath's ABTT common direction) —
    // e6 mean-centering, 3 exact integer v ← Xᵀ(Xv) steps with
    // max-|·| renormalization; one row per dimension.
    Query("q249_top_pc", (s, dir) =>
      Spectral.topPcPower(T(s, dir, "embeddings"), "vec_id",
        "embedding", iterations = 3),
      // q249/q250: the power steps unrolled — per step a per-vector
      // HUGEINT dot, a per-dim accumulate, and the signed half-away
      // e6 renormalization by max |w|; q250 adds one more dot ladder
      topPcSql(3,
      "SELECT dim, CAST(v AS BIGINT) AS pc_e6 FROM v3")),

    // ---- spectral: per-vector PROJECTION onto the q249 direction —
    // the common-component magnitude ABTT removal would subtract and
    // the "dominated by the common direction" outlier score.
    Query("q250_pc_projection", (s, dir) =>
      Spectral.pcProjection(T(s, dir, "embeddings"), "vec_id",
        "embedding", iterations = 3),
      topPcSql(3,
      s"""SELECT x.vec_id,
         |  ${graft.functions.ExactRound.ratioScaledSignedSql(
              "sum(CAST(x.x AS HUGEINT) * v.v)", "1000000", 0)}
         |    AS proj_e6
         |FROM x JOIN v3 v USING (dim) GROUP BY 1""".stripMargin)),

    // ---- corpus audit: OCTAVE-BINNED ZIPF FIT per source — the
    // rank-frequency health card (template/spam sources bend the
    // log-log line away from slope ≈ −1). Types ranked by the
    // range-partitioned group row-number (no per-source vocabulary
    // window), each contributing the exact integer point
    // (⌊log2 rank⌋, ⌊log2 freq⌋) to the q116 e6 OLS ladder.
    Query("q248_zipf_slope", (s, dir) =>
      TextAnalysis.zipfSlope(T(s, dir, "documents"), "text", "source"), {
      // q248: type frequencies off the shared word split, rank by
      // (freq desc, word asc), exact ⌊log2⌋ via binary-digit length
      // (no libm), then the q116 signed half-away OLS ladder
      def sgn(a: String, b: String) = s"CAST(sign($a) * sign($b) AS BIGINT)"
      s"""WITH t AS (SELECT source, unnest($wordsSql) AS w
         |  FROM documents),
         |f AS (SELECT source, w, count(*) AS f
         |  FROM t WHERE w <> '' GROUP BY 1, 2),
         |r AS (SELECT source, f, row_number() OVER (
         |    PARTITION BY source ORDER BY f DESC, w ASC) AS r
         |  FROM f),
         |p AS (SELECT source,
         |    CAST(length(bin(r)) - 1 AS BIGINT) AS x,
         |    CAST(length(bin(f)) - 1 AS BIGINT) AS y
         |  FROM r),
         |s AS (SELECT source, count(*) AS n_types,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM p GROUP BY 1),
         |v AS (SELECT source, n_types, sx, sy,
         |    CAST(n_types AS HUGEINT) * sxy - sx * sy AS num,
         |    CAST(n_types AS HUGEINT) * sxx - sx * sx AS vx
         |  FROM s),
         |w AS (SELECT source, n_types, num, vx,
         |    sy * vx - num * sx AS inum,
         |    CAST(n_types AS HUGEINT) * vx AS iden
         |  FROM v)
         |SELECT source, n_types,
         |  CASE WHEN vx > 0 THEN ${sgn("num", "vx")} *
         |    CAST((abs(num) * 2000000 + abs(vx)) // (abs(vx) * 2)
         |      AS BIGINT) END AS slope_e6,
         |  CASE WHEN vx > 0 THEN ${sgn("inum", "iden")} *
         |    CAST((abs(inum) * 2000000 + abs(iden)) // (abs(iden) * 2)
         |      AS BIGINT) END AS intercept_e6
         |FROM w""".stripMargin
    }),

    // ---- profile: pairwise LEXICAL DIVERGENCE matrix — exact TV
    // distance between every source pair's unigram distributions via
    // the inner-join + totals identity (unique words never shuffle
    // twice); the mixture-design "which slices are redundant?" input
    Query("q208_lexical_tv_matrix", (s, dir) =>
      Drift.lexicalTvMatrix(T(s, dir, "documents"), "text", "source"),
      // q208: shared mirror — same inner-join + totals identity
      Drift.lexicalTvMatrixSql("documents", "source", wordsSql)),

    // ---- profile: per-source LEXICAL DIVERSITY card — Gini–Simpson
    // (the rational stand-in for entropy), type–token ratio, hapax
    // share, top-10 token mass; one token shuffle, map-side top-k
    Query("q206_lexical_diversity", (s, dir) =>
      LexicalDiversity.perSource(T(s, dir, "documents"), "doc_id",
        "text", "source", topK = 10),
      // q206: shared mirror — same split, HUGEINT Σc²/C², same
      // (count desc, word asc) top-k order
      LexicalDiversity.perSourceSql("documents", "source", wordsSql,
        topK = 10)),

    // ---- monitoring: EWMA daily series — per event type and
    // observed day, the decayed trailing count over the shared exact
    // e6 (4/5)^age table (q111's decay powers as a SERIES, the
    // smoothed line a regression detector thresholds against)
    Query("q190_ewma_series", (s, dir) =>
      EventAnalytics.ewmaDailySeries(T(s, dir, "events"),
        "event_type", "ts", decayNum = 4, decayDen = 5,
        maxAgeDays = 30),
      // q190: the same e6 decay table as a list literal (q111 pattern),
      // bounded offset fan-out over the DAILY aggregate, semi-join to
      // observed days
      ewmaSeriesOracleSql),

    // ---- stats: exact trimmed mean — price cents per return flag
    // with the top/bottom 10% dropped by rank (the robust location
    // between mean and median); scalable-rank path, e4-exact
    Query("q173_trimmed_mean", (s, dir) =>
      GroupStats.trimmedMean(T(s, dir, "lineitem"),
        Seq("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        trimNum = 1, trimDen = 10),
      // q173: identical rank/trim arithmetic ((n·1)//10 floor cut on
      // both engines — positives, so div == //), identical rounding
      // identity for the mean
      s"""WITH v AS (SELECT l_returnflag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS u
         |  FROM lineitem),
         |r AS (SELECT l_returnflag, u,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY u)
         |      AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM v),
         |k AS (SELECT * FROM r
         |  WHERE rn > (n * 1) // 10 AND rn <= n - (n * 1) // 10)
         |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_total,
         |  count(*) AS n_kept,
         |  CAST(sum(u) AS BIGINT) AS sum_kept_units,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "sum(u)", "count(*)", 4)} AS trimmed_mean_e4
         |FROM k GROUP BY 1""".stripMargin),

    // ---- monitoring: data-card DIFF — q83's per-source card on the
    // even-doc half vs the odd-doc half, keyed diff with per-column
    // attribution (the corpus-version regression detector)
    Query("q156_datacard_diff", (s, dir) => {
      val docs = T(s, dir, "documents")
      def card(parity: Int) = DataCard.perSource(
        docs.filter(pmod(col("doc_id"), lit(2)) === parity),
        "doc_id", "text", "source", "lang")
      SnapshotDiff.diff(card(0), card(1), "source",
        Seq("n_docs", "n_tokens", "n_chars", "n_langs", "n_dup_docs"))
    }, {
      // q156: q83's card per parity half, q119's diff shape keyed on
      // source (flags in the sorted compare-column order)
      def card(tag: String, parity: Int) =
        s"""base$tag AS (SELECT doc_id, source, lang,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nt,
           |    CAST(length(text) AS BIGINT) AS nc,
           |    md5($wsNorm) AS fp
           |  FROM documents WHERE doc_id % 2 = $parity),
           |dup$tag AS (SELECT fp FROM base$tag GROUP BY fp
           |  HAVING count(*) >= 2),
           |card$tag AS (SELECT source, count(*) AS n_docs,
           |  CAST(sum(nt) AS BIGINT) AS n_tokens,
           |  CAST(sum(nc) AS BIGINT) AS n_chars,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dup_docs
           |FROM base$tag LEFT JOIN dup$tag d ON base$tag.fp = d.fp
           |GROUP BY 1)""".stripMargin
      s"""WITH ${card("A", 0)},
         |${card("B", 1)},
         |j AS (SELECT coalesce(a.source, b.source) AS source,
         |    a.source IS NOT NULL AS in_old,
         |    b.source IS NOT NULL AS in_new,
         |    CASE WHEN a.n_chars IS DISTINCT FROM b.n_chars
         |      THEN 1 ELSE 0 END AS f_chars,
         |    CASE WHEN a.n_docs IS DISTINCT FROM b.n_docs
         |      THEN 1 ELSE 0 END AS f_docs,
         |    CASE WHEN a.n_dup_docs IS DISTINCT FROM b.n_dup_docs
         |      THEN 1 ELSE 0 END AS f_dup,
         |    CASE WHEN a.n_langs IS DISTINCT FROM b.n_langs
         |      THEN 1 ELSE 0 END AS f_langs,
         |    CASE WHEN a.n_tokens IS DISTINCT FROM b.n_tokens
         |      THEN 1 ELSE 0 END AS f_tokens
         |  FROM cardA a FULL JOIN cardB b ON a.source = b.source)
         |SELECT source,
         |  CASE WHEN in_old AND NOT in_new THEN 'removed'
         |       WHEN in_new AND NOT in_old THEN 'added'
         |       WHEN f_chars + f_docs + f_dup + f_langs + f_tokens > 0
         |         THEN 'changed'
         |       ELSE 'unchanged' END AS change,
         |  CASE WHEN in_old AND in_new THEN
         |    CAST(f_chars + f_docs + f_dup + f_langs + f_tokens
         |      AS BIGINT) ELSE 0 END AS n_cols_changed,
         |  CASE WHEN in_old AND in_new THEN concat_ws(',',
         |      CASE WHEN f_chars = 1 THEN 'n_chars' END,
         |      CASE WHEN f_docs = 1 THEN 'n_docs' END,
         |      CASE WHEN f_dup = 1 THEN 'n_dup_docs' END,
         |      CASE WHEN f_langs = 1 THEN 'n_langs' END,
         |      CASE WHEN f_tokens = 1 THEN 'n_tokens' END)
         |    ELSE '' END AS changed_cols
         |FROM j""".stripMargin
    }),

    // ---- sketch: per-group approx quantiles with the GK rank
    // guarantee verified in-query — sketch VALUES are not oracle-able
    // (in-tolerance wiggle), the guarantee is; same constant-true
    // discipline as q40
    Query("q64_approx_quantiles", (s, dir) =>
      ApproxQuantiles.rankErrorAudit(T(s, dir, "lineitem"),
        "l_returnflag",
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        qs = Seq(0.25, 0.5, 0.75), accuracy = 10000, maxRankErr = 0.02),
      // q64: the oracle is the guarantee, not the sketch values (see
      // ApproxQuantiles scaladoc) — constant-true per (group, q)
      """SELECT l_returnflag, CAST(q AS DOUBLE) AS q, true AS pass
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem),
        |     (SELECT unnest([0.25, 0.5, 0.75]) AS q)""".stripMargin),

    // ---- sketch: count–min point-frequency estimates — per event_type,
    // one depth×width counter row over user ids; every per-user estimate
    // is re-checked in-query against the exact count (CMS never
    // undercounts; overcount bounded by 3·e·N/width — the q64/q40
    // verified-guarantee discipline, the sketch VALUES are the
    // approximation, the guarantee is the oracle)
    Query("q70_cms_frequency", (s, dir) => {
      import graft.expressions.CountMinSketchAgg.{cms_sketch, cms_estimate}
      val ev = T(s, dir, "events").select(col("event_type"),
        col("user_id").cast("string").as("uid"))
      val sk = ev.groupBy(col("event_type"))
        .agg(cms_sketch(col("uid"), depth = 4, width = 2048).as("sk"),
          count(lit(1)).as("n"))
      val exact = ev.groupBy(col("event_type"), col("uid"))
        .agg(count(lit(1)).as("tru"))
      exact.join(broadcast(sk), "event_type")
        .withColumn("est", cms_estimate(col("sk"), col("uid"), 4, 2048))
        .groupBy(col("event_type"))
        .agg(
          // deterministic: CMS can NEVER undercount, any false here is
          // a broken hash or indexing
          bool_and(col("est") >= col("tru")).as("no_underestimate"),
          // per-item bounds are only probabilistic (P[excess > 3eN/w]
          // ≈ (1/3e)^depth per item — expected violators are
          // non-negligible at 1e4+ distinct items, so a bool_and over
          // items can fail on a fully correct sketch). The MEAN excess
          // concentrates instead: E[excess] ≤ N/width per item, so
          // mean ≤ 3e·N/width fails with probability vanishing in the
          // item count — a false still means the sketch is broken.
          (avg((col("est") - col("tru")).cast("double")) <=
            max(col("n")).cast("double") * lit(3.0 * math.E / 2048.0))
            .as("avg_excess_bounded"))
    },
      // q70: the guarantee is the oracle (q64 discipline) — a broken hash
      // or indexing flips a boolean and fails the hash compare. The
      // no-undercount check is deterministic; the excess check gates the
      // MEAN against 3e·N/width (per-item bool_and would be a
      // probabilistic gate that a correct sketch can fail at scale).
      """SELECT DISTINCT event_type,
        |  true AS no_underestimate, true AS avg_excess_bounded
        |FROM events""".stripMargin))
}
