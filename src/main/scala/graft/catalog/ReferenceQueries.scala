package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{Cleanse, TimeFns}
import graft.operators._

/** The reference pipeline's own steps (SURVEY.md §2): S scans and
  * sources, P parsing and cleansing, J joins, W windows (rank bands,
  * hierarchical z-scores, peer percentiles), A aggregates, T top-k and
  * F feature math, plus the set, pivot and skew operators around them.
  */
private[graft] object ReferenceQueries {

  val queries: Seq[Query] = Seq(
    // ---- S1-S4 scans, A1/A2 aggregation (ref calfundamentalscore.py:437-444)
    Query("q01_pricing_summary", (s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          (sum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_quantity) / count(l_quantity) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // ---- P1-P3/F1/F2/F7 cleansing + parsing (ref uploadtodb.py:126-151,
    // sectorscore.py:64-70, sectormerged_improved.py:115-148)
    Query("q02_cleanse_parse", (s, dir) => {
      val p = T(s, dir, "part").filter(Cleanse.validKey(col("p_name")))
      p.select(
        col("p_partkey"),
        Cleanse.nullifEmpty(col("p_brand")).as("brand_clean"),
        Cleanse.cleanDouble(col("p_retailprice")).as("retail_2dp"),
        Cleanse.cleanNumber(
          concat(lit("−"), col("p_size").cast("string"), lit(".5%"))).as("neg_pct"),
        Cleanse.cleanNumber(
          concat(col("p_size").cast("string"), lit("T INR"))).as("unit_stripped"),
        Cleanse.cleanNumber(
          concat(col("p_size").cast("string"), lit(",250.75"))).as("comma_parsed"),
        Cleanse.cleanText(
          concat(lit("â€™"), col("p_brand"), lit("  –  x"))).as("moji_fixed"))
    },
      """SELECT p_partkey,
        |  CASE WHEN len(trim(p_brand)) = 0 THEN NULL ELSE trim(p_brand) END AS brand_clean,
        |  round(p_retailprice, 2) AS retail_2dp,
        |  -(CAST(p_size AS DOUBLE) + 0.5) AS neg_pct,
        |  CAST(p_size AS DOUBLE) AS unit_stripped,
        |  CAST(p_size AS DOUBLE) * 1000 + 250.75 AS comma_parsed,
        |  '''' || p_brand || ' - x' AS moji_fixed
        |FROM part
        |WHERE p_name IS NOT NULL AND len(trim(p_name)) > 0""".stripMargin),

    // ---- J1/J2 broadcast-join chain + grouped revenue (TPC-H Q5 shape;
    // ref calcompositescore.py:362-368)
    Query("q03_regional_revenue", (s, dir) => {
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
    },
      """SELECT r_name, n_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin),

    // ---- J3 full-outer + coalesce union-by-key (ref sectormerged_improved
    // .py:449-465,547-556)
    Query("q04_open_done_fullouter", (s, dir) => {
      val o = T(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_open"), decSum(col("o_totalprice")).as("open_total"))
      val b = o.filter(col("o_orderstatus") === "F").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_done"), decSum(col("o_totalprice")).as("done_total"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_open"), lit(0L)).as("n_open"),
          coalesce(col("open_total"), lit(0.0)).as("open_total"),
          coalesce(col("n_done"), lit(0L)).as("n_done"),
          coalesce(col("done_total"), lit(0.0)).as("done_total"))
    },
      """SELECT o_custkey,
        |  coalesce(n_open, 0) AS n_open, coalesce(open_total, 0.0) AS open_total,
        |  coalesce(n_done, 0) AS n_done, coalesce(done_total, 0.0) AS done_total
        |FROM (SELECT o_custkey, count(*) AS n_open,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS open_total
        |      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) a
        |FULL JOIN (SELECT o_custkey, count(*) AS n_done,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS done_total
        |      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) b
        |USING (o_custkey)""".stripMargin),

    // ---- J6 left-anti (ref newsflow_scraper.py:281-311)
    Query("q05_customers_no_orders", (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      Dedup.antiJoinAppend(
        c.select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        o.select(col("o_custkey").as("c_custkey")), "c_custkey")
    },
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // ---- W1 global rank banding (ref calcompositescore.py:207-218).
    // Declared via the scalable path: range-partitioned global sort +
    // per-partition offsets — identical output to the single-partition
    // window form, which survives only in the oracle SQL.
    Query("q06_band_by_balance", (s, dir) => {
      RankOps.bandByRankScalable(
        T(s, dir, "customer"), "c_acctbal", "c_custkey",
        Seq(100L -> "Large", 250L -> "Mid", 500L -> "Small"), "Micro")
        .select(col("c_custkey"), col("c_acctbal"), col("band"))
    },
      """SELECT c_custkey, c_acctbal,
        |  CASE WHEN c_acctbal IS NULL THEN NULL
        |       WHEN rn <= 100 THEN 'Large' WHEN rn <= 250 THEN 'Mid'
        |       WHEN rn <= 500 THEN 'Small' ELSE 'Micro' END AS band
        |FROM (SELECT c_custkey, c_acctbal,
        |        row_number() OVER (ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS rn
        |      FROM customer)""".stripMargin),

    // ---- W2 hierarchical z-score composite (ref calcompositescore.py:202-302)
    Query("q07_composite_zscore", (s, dir) => {
      val c = T(s, dir, "customer")
      val ostats = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("double").as("n_orders"),
          decSum(col("o_totalprice")).as("order_total"))
      val base = c.join(ostats, c("c_custkey") === ostats("o_custkey"), "left")
        .drop("o_custkey")
      HierarchicalZScore(base,
        metrics = Seq("c_acctbal" -> 0.5, "order_total" -> 0.3, "n_orders" -> 0.2),
        inner = Seq("c_mktsegment", "c_nationkey"),
        outer = Seq("c_mktsegment"))
        .select(col("c_custkey"), col("composite_score"))
    }, {
      // Mirrors HierarchicalZScore exactly: Σx / Σx² as exact decimals
      // (order-independent), varnum = n·Σx² − (Σx)² exact (0 iff the
      // group is constant), then ONE double formula for mu/sd shared
      // verbatim with the Spark side so both engines emit identical bits.
      // Widths sized so every DuckDB product stays ≤ 38 digits AND every
      // operand is ≥ DECIMAL(19) where squared (DuckDB multiplies int64
      // decimals in int64 physical storage and overflows otherwise):
      // (9,0)·(29,4) → (38,4); (19,2)² → (38,4); difference → (38,4).
      // All exact, matching the Spark side's natural-width decimals.
      // Scale ceiling of these widths: <1e9 rows per (outer) window
      // partition and Σx² < 1e25 — far beyond any per-segment cardinality
      // in this schema; re-derive if a partition could exceed either.
      // The final decimal→double conversions go via VARCHAR: DuckDB's
      // direct CAST(DECIMAL AS DOUBLE) is double-rounded above 2^53
      // (int128→double then ÷10^scale), while Spark's Decimal.toDouble is
      // correctly rounded; varnum reaches ~1e16 at sf0.1 and the 1-ulp
      // drift flips round(score, 2) on .005-boundary rows.
      // The final `+ 0.0` normalizes signed zero: DuckDB's round() keeps
      // the sign of a tiny negative sum (round(-0.001, 2) = -0.0) while
      // Spark's round() goes through BigDecimal, which has no signed zero
      // and always yields +0.0. The two compare equal as floats but hash
      // differently in the gate; `x + 0.0` is the IEEE identity except
      // -0.0 + 0.0 = +0.0, so it canonicalizes without changing values.
      def d(expr: String) = s"CAST(CAST($expr AS VARCHAR) AS DOUBLE)"
      def vn(m: String, lvl: String) =
        s"(CAST(cnt_${m}_$lvl AS DECIMAL(9,0)) * sxx_${m}_$lvl" +
          s" - sx_${m}_$lvl * sx_${m}_$lvl)"
      def zc(m: String, lvl: String) = {
        val cd = s"CAST(cnt_${m}_$lvl AS DOUBLE)"
        s"""CASE WHEN $m IS NOT NULL AND cnt_${m}_$lvl >= 3
           | AND ${vn(m, lvl)} > 0
           | THEN ($m - ${d(s"sx_${m}_$lvl")} / $cd)
           |  / sqrt(${d(vn(m, lvl))} / ($cd * ($cd - 1.0)))
           | ELSE 0.0 END""".stripMargin.replace("\n", "")
      }
      def contrib(m: String, w: Double) =
        s"CASE WHEN size_i >= 2 THEN ${zc(m, "i")} * $w ELSE ${zc(m, "o")} * $w * 0.8 END"
      val stats = Seq("c_acctbal", "order_total", "n_orders").flatMap(m =>
        Seq("i", "o").map(l =>
          s"""count($m) OVER w$l AS cnt_${m}_$l,
             | CAST(sum(CAST($m AS DECIMAL(18,2))) OVER w$l AS DECIMAL(19,2)) AS sx_${m}_$l,
             | CAST(sum(CAST($m AS DECIMAL(19,2)) * CAST($m AS DECIMAL(19,2))) OVER w$l AS DECIMAL(29,4)) AS sxx_${m}_$l""".stripMargin
            .replace("\n", ""))).mkString(",\n  ")
      s"""WITH os AS (SELECT o_custkey, CAST(count(*) AS DOUBLE) AS n_orders,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_total
         |  FROM orders GROUP BY 1),
         |base AS (SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal,
         |    os.n_orders, os.order_total
         |  FROM customer LEFT JOIN os ON c_custkey = o_custkey),
         |w AS (SELECT c_custkey, c_acctbal, order_total, n_orders,
         |  count(*) OVER wi AS size_i,
         |  $stats
         |  FROM base
         |  WINDOW wi AS (PARTITION BY c_mktsegment, c_nationkey),
         |         wo AS (PARTITION BY c_mktsegment))
         |SELECT c_custkey,
         |  round(${contrib("c_acctbal", 0.5)} + ${contrib("order_total", 0.3)}
         |    + ${contrib("n_orders", 0.2)}, 2) + 0.0 AS composite_score
         |FROM w""".stripMargin
    }),

    // ---- W3 peer percentile with fallback (ref calfundamentalscore.py:137-296)
    Query("q08_peer_percentile", (s, dir) => {
      val inner = Seq(col("c_mktsegment"), col("c_nationkey"))
      val outer = Seq(col("c_mktsegment"))
      val c = T(s, dir, "customer")
      // adaptive: drop the single-partition global window when no row
      // can reach the 'all' fallback (identical results)
      val g = PeerPercentile.needsGlobalLevel(c, outer)
      c.select(
        col("c_custkey"),
        PeerPercentile.peerLevel(inner, outer).as("peer_level"),
        PeerPercentile.percentile(col("c_acctbal"), inner, outer,
          includeGlobal = g).as("pct_bal"),
        PeerPercentile.percentile(col("c_acctbal"), inner, outer,
          valuation = true, includeGlobal = g).as("pct_val"))
    }, {
      def pctSql(v: String, rk: String, size: String, nn: String) =
        s"""CASE WHEN $v IS NULL THEN NULL
           | WHEN $nn < 2 THEN 50.0
           | ELSE 100.0 * ($rk - 1 - ($size - $nn)) / $nn END""".stripMargin
          .replace("\n", "")
      def pick(v: String, p: String) =
        s"""CASE WHEN size_i >= 5 THEN ${pctSql(v, s"rk_${p}_i", "size_i", s"nn_${p}_i")}
           | WHEN size_o >= 5 THEN ${pctSql(v, s"rk_${p}_o", "size_o", s"nn_${p}_o")}
           | ELSE ${pctSql(v, s"rk_${p}_g", "size_g", s"nn_${p}_g")} END""".stripMargin
          .replace("\n", "")
      s"""WITH c AS (SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat,
         |    c_acctbal AS v, CASE WHEN c_acctbal > 0 THEN c_acctbal END AS vp
         |  FROM customer),
         |w AS (SELECT c_custkey, v, vp,
         |    count(*) OVER wi AS size_i, count(*) OVER wo AS size_o,
         |    count(*) OVER wg AS size_g,
         |    count(v) OVER wi AS nn_b_i, count(v) OVER wo AS nn_b_o,
         |    count(v) OVER wg AS nn_b_g,
         |    count(vp) OVER wi AS nn_v_i, count(vp) OVER wo AS nn_v_o,
         |    count(vp) OVER wg AS nn_v_g,
         |    rank() OVER (PARTITION BY seg, nat ORDER BY v ASC NULLS FIRST) AS rk_b_i,
         |    rank() OVER (PARTITION BY seg ORDER BY v ASC NULLS FIRST) AS rk_b_o,
         |    rank() OVER (ORDER BY v ASC NULLS FIRST) AS rk_b_g,
         |    rank() OVER (PARTITION BY seg, nat ORDER BY vp DESC NULLS FIRST) AS rk_v_i,
         |    rank() OVER (PARTITION BY seg ORDER BY vp DESC NULLS FIRST) AS rk_v_o,
         |    rank() OVER (ORDER BY vp DESC NULLS FIRST) AS rk_v_g
         |  FROM c
         |  WINDOW wi AS (PARTITION BY seg, nat), wo AS (PARTITION BY seg), wg AS ())
         |SELECT c_custkey,
         |  CASE WHEN size_i >= 5 THEN 'inner' WHEN size_o >= 5 THEN 'outer'
         |       ELSE 'all' END AS peer_level,
         |  ${pick("v", "b")} AS pct_bal,
         |  CASE WHEN v IS NULL THEN NULL WHEN v <= 0 THEN 0.0
         |       ELSE ${pick("vp", "v")} END AS pct_val
         |FROM w""".stripMargin
    }),

    // ---- W4 rank within group (ref calfundamentalscore.py:339-346)
    Query("q09_rank_in_segment", (s, dir) => {
      T(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        RankOps.rankInGroup(col("c_acctbal"), col("c_custkey"),
          col("c_mktsegment")).cast("long").as("seg_rank"))
    },
      """SELECT c_custkey, c_mktsegment,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS seg_rank
        |FROM customer""".stripMargin),

    // ---- W5 min-max normalize per group (ref sectorscore.py:72-78)
    Query("q10_minmax_brand", (s, dir) => {
      T(s, dir, "part").select(
        col("p_partkey"), col("p_brand"), col("p_retailprice"),
        RankOps.minMaxNorm(col("p_retailprice"), col("p_brand")).as("norm_price"))
    },
      """SELECT p_partkey, p_brand, p_retailprice,
        |  CASE WHEN p_retailprice IS NULL THEN NULL
        |       WHEN mx = mn THEN 1.0
        |       ELSE (p_retailprice - mn) / (mx - mn) END AS norm_price
        |FROM (SELECT p_partkey, p_brand, p_retailprice,
        |        min(p_retailprice) OVER w AS mn, max(p_retailprice) OVER w AS mx
        |      FROM part WINDOW w AS (PARTITION BY p_brand))""".stripMargin),

    // ---- A6/A7 weighted sum + renormalized weighted average
    // (ref calcompositescore.py:161-198, calfundamentalscore.py:206-228)
    Query("q11_weighted_blend", (s, dir) => {
      val c = T(s, dir, "customer")
      val ostats = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("double").as("n_orders"),
          decSum(col("o_totalprice")).as("order_total"))
      c.join(ostats, c("c_custkey") === ostats("o_custkey"), "left")
        .select(col("c_custkey"),
          WeightedScore.weightedSum(Seq(
            col("c_acctbal") -> 0.4, col("order_total") -> 0.35,
            col("n_orders") -> 0.25)).as("wsum"),
          WeightedScore.renormalizedWeightedAvg(Seq(
            col("c_acctbal") -> 0.4, col("order_total") -> 0.35,
            col("n_orders") -> 0.25)).as("wavg"))
    },
      """WITH os AS (SELECT o_custkey, CAST(count(*) AS DOUBLE) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_total
        |  FROM orders GROUP BY 1)
        |SELECT c_custkey,
        |  coalesce(c_acctbal, 0.0) * 0.4 + coalesce(order_total, 0.0) * 0.35
        |    + coalesce(n_orders, 0.0) * 0.25 AS wsum,
        |  CASE WHEN (CASE WHEN c_acctbal IS NOT NULL THEN 0.4 ELSE 0.0 END
        |      + CASE WHEN order_total IS NOT NULL THEN 0.35 ELSE 0.0 END
        |      + CASE WHEN n_orders IS NOT NULL THEN 0.25 ELSE 0.0 END) = 0.0 THEN NULL
        |    ELSE (CASE WHEN c_acctbal IS NOT NULL THEN c_acctbal * 0.4 ELSE 0.0 END
        |      + CASE WHEN order_total IS NOT NULL THEN order_total * 0.35 ELSE 0.0 END
        |      + CASE WHEN n_orders IS NOT NULL THEN n_orders * 0.25 ELSE 0.0 END)
        |      / (CASE WHEN c_acctbal IS NOT NULL THEN 0.4 ELSE 0.0 END
        |      + CASE WHEN order_total IS NOT NULL THEN 0.35 ELSE 0.0 END
        |      + CASE WHEN n_orders IS NOT NULL THEN 0.25 ELSE 0.0 END) END AS wavg
        |FROM customer LEFT JOIN os ON c_custkey = o_custkey""".stripMargin),

    // ---- T2/T3 deterministic top-k (ref calcompositescore.py:397)
    Query("q12_top_orders", (s, dir) => {
      RankOps.topK(T(s, dir, "orders"), 10, col("o_totalprice"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    },
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 10""".stripMargin),

    // ---- F3 ordinal rating map + grouped stats (ref calcompositescore
    // .py:100-109); priorities play the role of analyst ratings
    Query("q13_priority_ordinal", (s, dir) => {
      val ord = Map("1-URGENT" -> 5, "2-HIGH" -> 4, "3-MEDIUM" -> 3,
        "4-NOT SPECIFIED" -> 2, "5-LOW" -> 1)
      val mapped = ord.toSeq.sortBy(_._1).foldRight(lit(3): Column) {
        case ((k, v), acc) => when(col("o_orderpriority") === k, lit(v)).otherwise(acc)
      }
      T(s, dir, "orders").select(col("o_orderstatus"), mapped.as("prio_ord"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("prio_ord")).cast("long").as("sum_ord"),
          (sum(col("prio_ord")) / count(lit(1))).as("avg_ord"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(prio_ord) AS BIGINT) AS sum_ord,
        |  CAST(sum(prio_ord) AS DOUBLE) / count(*) AS avg_ord
        |FROM (SELECT o_orderstatus,
        |        CASE o_orderpriority WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
        |          WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 2
        |          WHEN '5-LOW' THEN 1 ELSE 3 END AS prio_ord
        |      FROM orders)
        |GROUP BY 1""".stripMargin),

    // ---- F1-ish JSON-ish numeric extraction + event aggregation
    Query("q14_props_parse", (s, dir) => {
      T(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).try_cast("long").as("k"),
          col("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          (sum(col("k")) / count(col("k"))).as("avg_k"),
          decSum(col("value")).as("value_sum"))
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(k) AS DOUBLE) / count(k) AS avg_k,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k, value
        |      FROM events)
        |GROUP BY 1""".stripMargin),

    // ---- gap sessionization (streaming-shaped batch; §2.9)
    Query("q15_sessionize", (s, dir) => {
      Sessionize.sessions(
        T(s, dir, "events").select(col("user_id"), col("event_id"),
          col("value"), tsSec.as("ts_s")),
        "user_id", col("ts_s"), 1800L, col("event_id"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts_s")) - min(col("ts_s"))).as("span"),
          decSum(col("value")).as("value_sum"))
    },
      """WITH e AS (SELECT user_id, event_id, value,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
        |        OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |s2 AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  max(ts_s) - min(ts_s) AS span,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s2 GROUP BY 1, 2""".stripMargin),

    // ---- tumbling-window aggregation (batch twin of streaming agg; §2.9)
    Query("q16_hourly_events", (s, dir) => {
      T(s, dir, "events")
        .groupBy((TimeFns.floorDiv(tsSec, 3600L) * 3600L).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("value_sum"))
    },
      """SELECT (epoch_ns(ts) // 1000000000) // 3600 * 3600 AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- built-in session windows (the native Spark sessionization
    // operator; q15 is the lag/cumsum formulation of the same thing)
    Query("q32_session_window", (s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("ts_t", timestamp_micros(TimeFns.floorDiv(col("ts"), 1000L)))
      ev.groupBy(session_window(col("ts_t"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("value_sum"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"), col("value_sum"))
    },
      """WITH e AS (SELECT user_id, event_id, value,
        |    epoch_ns(ts) // 1000 AS ts_us FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |        OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, min(ts_us) AS start_us,
        |  max(ts_us) + 1800000000 AS end_us, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s2 GROUP BY user_id, sid""".stripMargin),

    // ---- exact quantiles per group (sort-based percentile aggregate).
    // Computed over integer cents: midpoint interpolation of 2dp doubles
    // lands exactly on round-half boundaries where engines disagree;
    // integer inputs make the lerp exact in binary, so no rounding at
    // all is needed.
    Query("q35_quantiles", (s, dir) => {
      // window-rank exact quantiles: one in-group sort + boundary-row
      // pick + type-7 lerp (lo + (hi-lo)*frac — the formula both Spark's
      // percentile() and DuckDB's quantile_cont use), over integer cents
      // so the lerp is engine-exact. Beats the builtin percentile()
      // aggregate, which serializes every group value through its
      // partial buffers. (Exact per-group quantiles inherently
      // concentrate each group; approx_percentile is the at-scale path.)
      import org.apache.spark.sql.expressions.Window
      val cents = expr("cast(round(l_extendedprice * 100, 0) as bigint)")
      val wSort = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      val wAll = Window.partitionBy(col("l_returnflag"))
      val ranked = T(s, dir, "lineitem")
        .select(col("l_returnflag"), cents.as("cents"))
        .withColumn("rn", row_number().over(wSort).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
      val qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95)
      val aggs = qs.flatMap { case (nm, q) =>
        val pos = lit(q) * (col("n") - 1).cast("double") // 0-based position
        Seq(
          max(when(col("rn") === (floor(pos) + 1), col("cents"))).as(s"${nm}_lo"),
          max(when(col("rn") === (ceil(pos) + 1), col("cents"))).as(s"${nm}_hi"),
          max(pos - floor(pos)).as(s"${nm}_f"))
      }
      val picked = ranked.groupBy(col("l_returnflag")).agg(aggs.head, aggs.tail: _*)
      val outs = qs.map { case (nm, _) =>
        ((col(s"${nm}_lo") +
          (col(s"${nm}_hi") - col(s"${nm}_lo")).cast("double") * col(s"${nm}_f"))
          / 100.0).as(nm)
      }
      picked.select(col("l_returnflag") +: outs: _*)
    }, {
      // Explicit type-7 lerp rather than DuckDB's quantile_cont builtin:
      // the builtin's internal interpolation differs from lo + (hi-lo)*f
      // in float op ORDER at some group sizes (observed 1.46e-11 on p95
      // at sf0.1 — same class as the q07 signed-zero/cast flaps). The
      // formula below mirrors the Spark side token-for-token.
      val qs = Seq("p25" -> "0.25", "p50" -> "0.5", "p75" -> "0.75",
        "p95" -> "0.95")
      def pos(q: String) = s"$q * CAST(n - 1 AS DOUBLE)"
      val picks = qs.map { case (nm, q) =>
        s"""max(CASE WHEN rn = CAST(floor(${pos(q)}) AS BIGINT) + 1 THEN cents END) AS ${nm}_lo,
           |  max(CASE WHEN rn = CAST(ceil(${pos(q)}) AS BIGINT) + 1 THEN cents END) AS ${nm}_hi,
           |  max(${pos(q)} - floor(${pos(q)})) AS ${nm}_f""".stripMargin
      }.mkString(",\n  ")
      val outs = qs.map { case (nm, _) =>
        s"(CAST(${nm}_lo AS DOUBLE) + CAST(${nm}_hi - ${nm}_lo AS DOUBLE) * ${nm}_f) / 100.0 AS $nm"
      }.mkString(",\n  ")
      s"""WITH c AS (SELECT l_returnflag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
         |  FROM lineitem),
         |r AS (SELECT l_returnflag, cents,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM c),
         |p AS (SELECT l_returnflag,
         |  $picks
         |  FROM r GROUP BY 1)
         |SELECT l_returnflag,
         |  $outs
         |FROM p""".stripMargin
    }),

    // ---- set operations: INTERSECT / EXCEPT (§2.7 — the reference only
    // has the anti-join form; these are the explicit relational twins)
    Query("q38_set_ops", (s, dir) => {
      val rich = T(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val buyers = T(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      val both = rich.intersect(buyers).withColumn("set_op", lit("rich_buyer"))
      val idle = rich.except(buyers).withColumn("set_op", lit("rich_idle"))
      both.unionByName(idle)
    },
      """SELECT c_custkey, 'rich_buyer' AS set_op
        |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |      INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'rich_idle' AS set_op
        |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |      EXCEPT SELECT o_custkey FROM orders)""".stripMargin),

    // ---- pivot: event counts by type across hour-of-day buckets
    Query("q39_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      T(s, dir, "events")
        .withColumn("hod", TimeFns.floorDiv(tsSec, 3600L) % 24)
        .groupBy(col("hod"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
    },
      """SELECT (epoch_ns(ts) // 1000000000) // 3600 % 24 AS hod,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin),

    // ---- F6 metric cap + F11 truncation as column functions
    Query("q43_caps_truncate", (s, dir) =>
      T(s, dir, "part").select(col("p_partkey"),
        Cleanse.capAt(col("p_retailprice"), 1500.0).as("capped_price"),
        Cleanse.truncateTo(col("p_name"), 12).as("short_name")),
      """SELECT p_partkey,
        |  least(p_retailprice, 1500.0) AS capped_price,
        |  substr(p_name, 1, 12) AS short_name
        |FROM part""".stripMargin),

    // ---- P4 scrape-noise predicate over a name column (p_name lengths
    // span 7-12 on this corpus, so maxLen = 9 makes the length clause
    // actually drop rows instead of vacuously passing everything)
    Query("q44_scrape_filter", (s, dir) =>
      T(s, dir, "part")
        .filter(graft.sources.CsvIngest.scrapeNoiseFilter(
          col("p_name"), maxLen = 9))
        .select(col("p_partkey"), col("p_name")),
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name IS NOT NULL AND length(p_name) <= 9
        |  AND NOT contains(p_name, 'Sector')
        |  AND NOT contains(p_name, '0001-01-01')
        |  AND NOT contains(p_name, 'Strengths:')
        |  AND NOT contains(p_name, 'Neutral')
        |  AND length(trim(p_name)) > 0
        |  AND NOT regexp_matches(p_name, '^\d{4}-\d{2}-\d{2}')""".stripMargin),

    // ---- skew tooling: two-phase salted aggregate must equal the plain
    // groupBy (l_quantity is integral, so double sums are exact and
    // order-independent — the oracle can be the unsalted SQL aggregate)
    Query("q45_skew_two_phase", (s, dir) =>
      SkewJoin.twoPhaseAgg(T(s, dir, "lineitem"),
        "l_returnflag", salts = 8, valueCol = "l_quantity")
        .withColumnRenamed("n", "n_rows")
        .withColumnRenamed("sum", "sum_qty"),
      """SELECT l_returnflag, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ---- skew tooling: salted replicate-join must equal the plain join
    Query("q46_salted_join", (s, dir) => {
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      val c = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      SkewJoin.saltedJoin(o, c, "c_custkey", salts = 8,
        bigUnique = col("o_orderkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
    },
      """SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // ---- distinct aggregation (expand-based multi-distinct)
    Query("q36_distinct_users", (s, dir) => {
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(TimeFns.floorDiv(tsSec, 86400L)).as("n_days"),
          count(lit(1)).as("n_events"))
    },
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT (epoch_ns(ts) // 1000000000) // 86400) AS n_days,
        |  count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),

    // ---- §2.4 extension: ROLLUP subtotals — per (flag, status), per
    // flag, and grand total in one pass; grouping_id disambiguates
    // subtotal NULLs from data NULLs
    Query("q58_rollup", (s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("n_rows"), col("sum_qty")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // ---- F4/F5/F10 feature math + scaled-integer codec
    Query("q28_features_codec", (s, dir) => {
      val li = T(s, dir, "lineitem")
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        Cleanse.volEncode(col("l_discount")).as("disc_enc"),
        Cleanse.volDecode(Cleanse.volEncode(col("l_discount"))).as("disc_dec"),
        Cleanse.relDiff(col("l_extendedprice") * (lit(1.0) + col("l_tax")),
          col("l_extendedprice")).as("rel_tax"),
        Cleanse.macdHistogram(col("l_discount"), col("l_tax")).as("macd_h"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_discount * 1000, 0) AS BIGINT) AS disc_enc,
        |  CAST(CAST(round(l_discount * 1000, 0) AS BIGINT) AS DOUBLE) / 1000.0 AS disc_dec,
        |  CASE WHEN l_extendedprice <> 0 AND l_extendedprice IS NOT NULL
        |    THEN (l_extendedprice * (1.0 + l_tax) - l_extendedprice) / l_extendedprice
        |    ELSE 0.0 END AS rel_tax,
        |  coalesce(l_discount, 0.0) - coalesce(l_tax, 0.0) AS macd_h
        |FROM lineitem""".stripMargin))
}
