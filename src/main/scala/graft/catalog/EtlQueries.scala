package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators._
import OracleSql._
import Stages._

/** ETL and sinks: versioned upserts and their CDC reads, truncate-and-
  * load, incremental maintenance, file formats (CSV, JSON, ORC),
  * physical layouts (bucketing, partition pruning, Z-order, Hilbert),
  * sharded export and the serving surfaces.
  */
private[graft] object EtlQueries {

  val queries: Seq[Query] = Seq(
    // ---- S7/S9 upsert merge as a query: per-customer order aggregates
    // merged onto customer rows by key — incoming wins per column where
    // non-null, existing-only columns survive, incoming-only columns
    // append (MergeByKey.merge, the sink's transform core; the
    // staging-swap write path around it is spec-covered)
    Query("q41_merge_upsert", (s, dir) => {
      val existing = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = T(s, dir, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(decSum(col("o_totalprice")).as("c_acctbal"),
          count(lit(1)).as("n_orders"))
      graft.sinks.MergeByKey.merge(existing, incoming, "c_custkey")
    },
      // Mirrors MergeByKey.merge: full-outer on the key, incoming wins per
      // column where non-null, existing-only columns survive, incoming-only
      // columns append. Per-customer sums stay < 1e8 ≪ 2^53, so the direct
      // decimal→double cast is exact (see README: above 2^53 go via VARCHAR).
      """WITH inc AS (SELECT o_custkey AS c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS i_acctbal,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(i.c_custkey, e.c_custkey) AS c_custkey,
        |  e.c_name AS c_name,
        |  coalesce(i.i_acctbal, e.c_acctbal) AS c_acctbal,
        |  i.n_orders AS n_orders
        |FROM customer e FULL JOIN inc i ON e.c_custkey = i.c_custkey""".stripMargin),

    // ---- A8 merge accounting: count reconciliation over the same merge.
    // upserted = rows an incoming key landed on (updated OR appended —
    // this schema's FK makes them all updates, but the metric must not
    // claim to distinguish); untouched = existing-only rows.
    Query("q42_merge_stats", (s, dir) => {
      val merged = SparkEntry.queries("q41_merge_upsert")(s, dir)
      merged.agg(
        count(lit(1)).as("merged_rows"),
        count(col("n_orders")).as("upserted_rows"),
        (count(lit(1)) - count(col("n_orders"))).as("untouched_rows"))
    },
      """WITH inc AS (SELECT o_custkey AS c_custkey FROM orders GROUP BY 1),
        |m AS (SELECT e.c_custkey, i.c_custkey AS ic
        |  FROM customer e FULL JOIN inc i ON e.c_custkey = i.c_custkey)
        |SELECT count(*) AS merged_rows,
        |  count(ic) AS upserted_rows,
        |  count(*) - count(ic) AS untouched_rows
        |FROM m""".stripMargin),

    // ---- ETL audit: snapshot DIFF — what did the day's upsert DO?
    // old = customers sans %7 keys; new = the q41-style merged state
    // sans %5 keys: exercises added/removed/changed/unchanged plus
    // per-column change attribution
    Query("q119_snapshot_diff", (s, dir) => {
      val cust = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val inc = T(s, dir, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(decSum(col("o_totalprice")).as("i_acctbal"))
      val old = cust.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
      val neu = cust.join(inc, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("i_acctbal"), col("c_acctbal")).as("c_acctbal"))
        .filter(pmod(col("c_custkey"), lit(5)) =!= 0)
      SnapshotDiff.diff(old, neu, "c_custkey",
        Seq("c_name", "c_acctbal"))
    },
      // q119: full-outer diff with null-safe per-column flags
      // (IS DISTINCT FROM = Spark's <=> negated); changed_cols via
      // concat_ws skipping nulls, names in sorted order on both engines
      """WITH inc AS (SELECT o_custkey AS c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS i_acctbal
        |  FROM orders GROUP BY 1),
        |old AS (SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 7 <> 0),
        |neu AS (SELECT c.c_custkey, c.c_name,
        |    coalesce(i.i_acctbal, c.c_acctbal) AS c_acctbal
        |  FROM customer c LEFT JOIN inc i ON i.c_custkey = c.c_custkey
        |  WHERE c.c_custkey % 5 <> 0),
        |j AS (SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
        |    o.c_custkey IS NOT NULL AS in_old,
        |    n.c_custkey IS NOT NULL AS in_new,
        |    CASE WHEN o.c_name IS DISTINCT FROM n.c_name
        |      THEN 1 ELSE 0 END AS f_name,
        |    CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |      THEN 1 ELSE 0 END AS f_bal
        |  FROM old o FULL JOIN neu n ON o.c_custkey = n.c_custkey)
        |SELECT c_custkey,
        |  CASE WHEN in_old AND NOT in_new THEN 'removed'
        |       WHEN in_new AND NOT in_old THEN 'added'
        |       WHEN f_name + f_bal > 0 THEN 'changed'
        |       ELSE 'unchanged' END AS change,
        |  CASE WHEN in_old AND in_new THEN CAST(f_name + f_bal AS BIGINT)
        |       ELSE 0 END AS n_cols_changed,
        |  CASE WHEN in_old AND in_new THEN concat_ws(',',
        |      CASE WHEN f_bal = 1 THEN 'c_acctbal' END,
        |      CASE WHEN f_name = 1 THEN 'c_name' END)
        |    ELSE '' END AS changed_cols
        |FROM j""".stripMargin),

    // ---- maintenance: incremental aggregate merge — 4/5 of orders as
    // the standing state, 1/5 as the delta batch; the merged state
    // must equal the oracle's FULL recompute (the materialized-view
    // refresh identity)
    Query("q132_incremental_agg", (s, dir) => {
      val priceE2 = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val o = T(s, dir, "orders")
      val base = AggMaintenance.aggState(
        o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0),
        Seq("o_custkey"), priceE2)
      val delta = AggMaintenance.aggState(
        o.filter(pmod(col("o_orderkey"), lit(5)) === 0),
        Seq("o_custkey"), priceE2)
      AggMaintenance.mergeStates(base, delta, Seq("o_custkey"))
    },
      // q132: the oracle is the FULL recompute — merging the 4/5 + 1/5
      // partial states must reproduce it exactly (mergeable-state
      // identity)
      s"""WITH u AS (SELECT o_custkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS u FROM orders),
         |s AS (SELECT o_custkey, count(*) AS n,
         |    sum(CAST(u AS HUGEINT)) AS s, min(u) AS mn, max(u) AS mx
         |  FROM u GROUP BY 1)
         |SELECT o_custkey, n, CAST(s AS BIGINT) AS sum_units,
         |  mn AS min_units, mx AS max_units,
         |  ${graft.functions.ExactRound.ratioScaledSignedSql(
              "s", "n", 0)} AS mean_units
         |FROM s""".stripMargin),

    // ---- maintenance: CDC apply — an upsert/delete log (derived from
    // orders: latest order per customer updates, every 13th customer
    // key deletes) applied onto the customer base in one full-outer
    // join; latest-wins by sequence
    Query("q146_cdc_apply", (s, dir) => {
      val base = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val log = T(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_orderkey").as("seq"),
        when(pmod(col("o_custkey"), lit(13)) === 0, "D").otherwise("U")
          .as("op"),
        concat(lit("cust_upd_"), col("o_custkey").cast("string"))
          .as("c_name"),
        col("o_totalprice").as("c_acctbal"))
      CdcApply.applyLog(base, log, "c_custkey", "seq", "op",
        Seq("c_name", "c_acctbal"))
    },
      // q146: latest-wins log pick (seq desc, op asc), full-outer apply,
      // D filtered, U payload coalesced over base
      """WITH lg AS (SELECT o_custkey AS c_custkey, o_orderkey AS seq,
        |    CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
        |    'cust_upd_' || CAST(o_custkey AS VARCHAR) AS l_name,
        |    o_totalprice AS l_bal
        |  FROM orders),
        |lt AS (SELECT * FROM (SELECT *, row_number() OVER
        |      (PARTITION BY c_custkey ORDER BY seq DESC, op ASC) AS rn
        |    FROM lg) WHERE rn = 1)
        |SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
        |  CASE WHEN l.op = 'U' THEN l.l_name ELSE b.c_name END AS c_name,
        |  CASE WHEN l.op = 'U' THEN l.l_bal ELSE b.c_acctbal END
        |    AS c_acctbal
        |FROM customer b FULL JOIN lt l ON l.c_custkey = b.c_custkey
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin),

    // ---- ingest: throttle / minimum-spacing filter — drop events
    // within 60 s of the key's previous raw event (double-fire dedup)
    Query("q150_throttle", (s, dir) =>
      EventAnalytics.throttle(T(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "event_id",
        minGapSeconds = 60L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts")),
      // q150: same lag rule; kept rows pass through raw
      throttleOracleSql),

    // ---- data-eng: LINEAR INTERPOLATION over calendar gaps —
    // q286's densify with the numeric blend: gaps get the exact
    // truncated-e6 linear value between anchors, edges stay NULL.
    // Days ≡1 (mod 3) are held out of the tally BY CONSTRUCTION so
    // the interpolation arm provably fires (the q193 discipline).
    Query("q332_interpolate", (s, dir) => {
      val day = TimeFns.floorDiv(col("ts"), 86400L * 1000000000L)
      EventAnalytics.interpolateDaily(
        T(s, dir, "events").filter(pmod(day, lit(3)) =!= 1),
        "event_type", "ts")
    },
      // q332: q286's calendar + IGNORE-NULLS anchors both directions;
      // the blend numerator may be negative → // truncation (q320);
      // the mod-3 holdout mirrors the engine's constructed gaps
      """WITH d AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
        |  FROM events
        |  WHERE (epoch_ns(ts) // 86400000000000) % 3 <> 1
        |  GROUP BY 1, 2),
        |h AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT ty.t, CAST(unnest(range(h.d0, h.d1 + 1))
        |    AS BIGINT) AS day
        |  FROM (SELECT DISTINCT t FROM d) ty CROSS JOIN h),
        |j AS (SELECT cal.t, cal.day, d.n FROM cal
        |  LEFT JOIN d ON d.t = cal.t AND d.day = cal.day),
        |a AS (SELECT t, day, n,
        |    last_value(CASE WHEN n IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wb AS pd,
        |    last_value(n IGNORE NULLS) OVER wb AS pv,
        |    first_value(CASE WHEN n IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wf AS nd,
        |    first_value(n IGNORE NULLS) OVER wf AS nv
        |  FROM j WINDOW wb AS (PARTITION BY t ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY t ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT t AS event_type, day, n IS NOT NULL AS observed,
        |  CASE WHEN n IS NOT NULL THEN n * 1000000
        |       WHEN pd IS NOT NULL AND nd IS NOT NULL THEN
        |         pv * 1000000 +
        |         ((nv - pv) * 1000000 * (day - pd)) // (nd - pd)
        |       ELSE NULL END AS value_e6
        |FROM a""".stripMargin),

    // ---- source format: ORC ROUNDTRIP — orders normalized to exact
    // columns (e2 cents, epoch-day), staged to an ORC store (real
    // write), read back through the ORC scan, and checksummed per
    // status against the parquet-side oracle: a wrong type mapping,
    // dropped row, or column swap breaks the hash.
    Query("q336_orc_roundtrip", (s, dir) => {
      val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet")
      val back = Tables.stagedOrc(s, s"$stageRoot/orc-orders-$stamp") {
        T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(round(o_totalprice * 100, 0) as long)")
            .as("price_e2"),
          TimeFns.floorDiv(unix_micros(col("o_orderdate")
            .cast("timestamp")), 86400L * 1000000L).as("order_day"))
      }
      back.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_e2")).as("sum_price_e2"),
          sum(col("o_custkey") * lit(1000003L) + col("order_day"))
            .as("xsum"),
          min(col("o_orderkey")).as("min_key"),
          max(col("order_day")).as("max_day"))
    },
      // q336: the parquet-side mirror of the ORC roundtrip checksums —
      // any ORC type/row/column infidelity breaks the hash
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS sum_price_e2,
        |  CAST(sum(o_custkey * 1000003 + (epoch_ns(o_orderdate)
        |    // 1000000000) // 86400) AS BIGINT) AS xsum,
        |  min(o_orderkey) AS min_key,
        |  max((epoch_ns(o_orderdate) // 1000000000) // 86400)
        |    AS max_day
        |FROM orders GROUP BY 1""".stripMargin),

    // ---- source format: JSONL ROUNDTRIP — q336's sibling for the
    // third lakehouse interchange format: orders normalized to exact
    // columns, WRITTEN as line-delimited JSON (real Spark json write),
    // read back through the schema-ful JSON scan, checksummed per
    // status. The oracle re-reads the engine-written FILE with
    // DuckDB's read_json — the bytes themselves are gated
    // cross-engine, the q194 CSV-surface discipline.
    Query("q356_jsonl_roundtrip", (s, dir) => {
      val out = T(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100, 0) as long)")
          .as("price_e2"),
        TimeFns.floorDiv(unix_micros(col("o_orderdate")
          .cast("timestamp")), 86400L * 1000000L).as("order_day"))
      val path = stageFile(s, out, "q356/orders.jsonl")(_.json(_))
      val schema = "o_orderkey long, o_custkey long, " +
        "o_orderstatus string, price_e2 long, order_day long"
      s.read.schema(schema).json(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_e2")).as("sum_price_e2"),
          sum(col("o_custkey") * lit(1000003L) + col("order_day"))
            .as("xsum"),
          min(col("o_orderkey")).as("min_key"),
          max(col("order_day")).as("max_day"))
    },
      // q356: the oracle reads the ENGINE-WRITTEN jsonl file — gating
      // the write path's bytes, not just a same-engine roundtrip
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(price_e2) AS BIGINT) AS sum_price_e2,
         |  CAST(sum(o_custkey * 1000003 + order_day) AS BIGINT)
         |    AS xsum,
         |  min(o_orderkey) AS min_key,
         |  max(order_day) AS max_day
         |FROM read_json('$csvGateRoot/q356/orders.jsonl',
         |  format = 'newline_delimited',
         |  columns = {o_orderkey: 'BIGINT', o_custkey: 'BIGINT',
         |    o_orderstatus: 'VARCHAR', price_e2: 'BIGINT',
         |    order_day: 'BIGINT'})
         |GROUP BY 1""".stripMargin),

    // ---- layout: BUCKETED CO-LOCATED JOIN — orders and lineitem
    // written bucketBy(16, orderkey) into the session warehouse, then
    // joined WITHOUT a shuffle on either side (each bucketed scan
    // already reports the hash partitioning; PlanAuditSpec pins the
    // no-Exchange property). The VALUES are gated here: bucketing
    // must change the plan, never the result.
    Query("q357_bucketed_join", (s, dir) => {
      val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet") + "_" +
        Dedup.sourceStamp(s, s"$dir/lineitem.parquet")
      val o = Tables.bucketedTable(s, s"graft_bkt_orders_$stamp",
        T(s, dir, "orders").select(col("o_orderkey").cast("long")
          .as("o_orderkey"), col("o_orderpriority")),
        "o_orderkey", buckets = 16)
      val li = Tables.bucketedTable(s, s"graft_bkt_lineitem_$stamp",
        T(s, dir, "lineitem").select(col("l_orderkey").cast("long")
          .as("l_orderkey"),
          expr("cast(round(l_extendedprice * 100, 0) as long)")
            .as("price_e2")),
        "l_orderkey", buckets = 16)
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("price_e2")).as("sum_price_e2"),
          min(col("o_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
    },
      // q357: the join itself, over the source parquet — bucketing is a
      // layout property; values must be invariant to it
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS sum_price_e2,
        |  min(o_orderkey) AS min_key,
        |  max(l_orderkey) AS max_key
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),

    // ---- layout: PARTITION-PRUNED SCAN — orders staged once in a
    // hive-partitioned layout (o_orderstatus=X/ directories); the
    // status filter reaches the scan as a PartitionFilter, so only the
    // matching directory is read (PlanAuditSpec pins the pruning).
    // Values gated against the unpartitioned source: layout must
    // change the I/O, never the result.
    Query("q358_partition_pruned", (s, dir) => {
      val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet")
      val store = Tables.stagedPartitionedParquet(s,
          s"$stageRoot/orders-by-status-$stamp", "o_orderstatus") {
        T(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"),
          expr("cast(round(o_totalprice * 100, 0) as long)")
            .as("price_e2"),
          col("o_orderstatus"))
      }
      store.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_e2")).as("sum_price_e2"),
          min(col("o_orderkey")).as("min_key"))
    },
      // q358: the filtered aggregate over the source parquet —
      // partitioning is a layout property; values must be invariant
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS sum_price_e2,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin),

    // ---- layout: DYNAMIC PARTITION PRUNING — q358's 100 TB sibling:
    // the status predicate lives on a tiny DIM table, not on the fact
    // scan, and must reach the hive-partitioned fact store THROUGH the
    // join — Spark reuses the dim's broadcast as a dynamicpruning
    // subquery in the fact scan's PartitionFilters, so only the
    // matching status directories are read (the J1/J2 broadcast-dim
    // pattern at fact scale; PlanAuditSpec pins the dynamicpruning
    // expression). Values gated against the unpartitioned source:
    // pruning must change the I/O, never the result.
    Query("q359_dpp_join", (s, dir) => {
      val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet")
      // same staged store as q358 — built once, shared
      val fact = Tables.stagedPartitionedParquet(s,
          s"$stageRoot/orders-by-status-$stamp", "o_orderstatus") {
        T(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"),
          expr("cast(round(o_totalprice * 100, 0) as long)")
            .as("price_e2"),
          col("o_orderstatus"))
      }
      // the dim must be a FILE-backed table: a LocalRelation dim gets
      // its filter constant-folded away and DPP never sees a selective
      // predicate to prune with
      val dim = Tables.stagedParquet(s, s"$stageRoot/status-dim-$stamp") {
        T(s, dir, "orders").select(col("o_orderstatus").as("status"))
          .distinct()
          .withColumn("category",
            when(col("status") === "F", lit("done"))
              .when(col("status") === "O", lit("open"))
              .otherwise(lit("pending")))
      }
      fact.join(dim.filter(col("category") === "done"),
          col("o_orderstatus") === col("status"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_e2")).as("sum_price_e2"),
          min(col("o_orderkey")).as("min_key"))
    },
      // q359: the dim-filtered join over the source parquet — dynamic
      // pruning is a plan property; values must be invariant to it
      """WITH dim AS (
        |  SELECT DISTINCT o_orderstatus AS status,
        |    CASE o_orderstatus WHEN 'F' THEN 'done'
        |      WHEN 'O' THEN 'open' ELSE 'pending' END AS category
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS sum_price_e2,
        |  min(o_orderkey) AS min_key
        |FROM orders JOIN dim ON o_orderstatus = dim.status
        |WHERE dim.category = 'done'
        |GROUP BY 1""".stripMargin),

    // ---- S7 versioned-sink CDC as a query: snapshot A (per-customer
    // F-order totals) committed as v=0 through the REAL staged-claim-
    // flip write path, snapshot B (O-order totals) upserted as v=1,
    // then diffVersions time-travels both and labels every key
    // added / changed / unchanged ("what did last night's merge
    // change?" — upsert never removes). The store is a throwaway per
    // invocation (each run pays the honest write+diff cost); the
    // final 3-4 label rows are collected — bounded by the 4 possible
    // labels — so the tmp store can be deleted before returning. The
    // oracle re-derives the merge and the diff relationally.
    Query("q360_version_diff", (s, dir) => {
      import s.implicits._
      // store staged once per corpus stamp (r19 verdict #4) — the
      // timed path is the CDC diff itself, not the store build
      val base = stagedVersionStoreQ360(s, dir)
      val diff = graft.sinks.MergeByKey.diffVersions(s, base, "k", 0L, 1L)
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n_keys"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      val rows = diff.as[(String, Long, Long, Long)].collect().toSeq
      require(rows.length <= 4, "diff labels are a closed 4-value set")
      rows.toDF("change", "n_keys", "min_key", "max_key")
    },
      // q360: the two snapshots, the merge (incoming wins where
      // non-null), and the keyed diff, all re-derived relationally —
      // any divergence in the sink's write path, time travel, or the
      // null-safe change labeling breaks a label count
      """WITH a AS (SELECT o_custkey AS k,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS val_e2
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |b AS (SELECT o_custkey AS k,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS val_e2
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |m AS (SELECT coalesce(b.k, a.k) AS k,
        |    coalesce(b.val_e2, a.val_e2) AS val_e2
        |  FROM a FULL OUTER JOIN b ON a.k = b.k),
        |d AS (SELECT coalesce(m.k, a.k) AS k,
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN m.k IS NULL THEN 'removed'
        |         WHEN m.val_e2 IS DISTINCT FROM a.val_e2 THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM a FULL OUTER JOIN m ON a.k = m.k)
        |SELECT change, count(*) AS n_keys,
        |  CAST(min(k) AS BIGINT) AS min_key,
        |  CAST(max(k) AS BIGINT) AS max_key
        |FROM d GROUP BY 1""".stripMargin),

    // ---- maintenance: INCREMENTAL JOIN-AGGREGATE — q132's merge
    // with the join folded in (the IVM delta rule: the delta batch
    // joins the STATIC broadcast dim before its partial state is
    // merged); the merged state must equal the full recompute.
    Query("q343_ivm_join_agg", (s, dir) => {
      val priceE2 = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      def joined(f: DataFrame) = f.join(broadcast(c),
        col("o_custkey") === col("c_custkey"))
      val base = AggMaintenance.aggState(
        joined(o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)),
        Seq("c_nationkey"), priceE2)
      val delta = AggMaintenance.aggState(
        joined(o.filter(pmod(col("o_orderkey"), lit(5)) === 0)),
        Seq("c_nationkey"), priceE2)
      AggMaintenance.mergeStates(base, delta, Seq("c_nationkey"))
    },
      // q343: the merged base+delta state must equal this full
      // recompute through the join (q132's oracle with the dim folded)
      s"""WITH u AS (SELECT c_nationkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS u
         |  FROM orders JOIN customer ON c_custkey = o_custkey),
         |s AS (SELECT c_nationkey, count(*) AS n,
         |    sum(CAST(u AS HUGEINT)) AS s, min(u) AS mn, max(u) AS mx
         |  FROM u GROUP BY 1)
         |SELECT c_nationkey, n, CAST(s AS BIGINT) AS sum_units,
         |  mn AS min_units, mx AS max_units,
         |  ${graft.functions.ExactRound.ratioScaledSignedSql(
              "s", "n", 0)} AS mean_units
         |FROM s""".stripMargin),

    // ---- maintenance: INCREMENTAL COMPONENT MAP — q343's IVM
    // discipline on the near-dup graph (r16 verdict #2): the staged
    // (node, component) map of the STANDING pairs (both endpoints
    // ≢ 0 mod 7 — yesterday's corpus) merged with the DELTA batch
    // (pairs touching a "new" doc) must equal the full recompute
    // over every pair; the oracle is exactly q47's recursive-CTE
    // closure, so merge == rebuild is hash-gated cross-engine.
    Query("q344_incremental_components", (s, dir) => {
      val pairs = lshNearDupPairs(s, dir, threshold = 0.45)
        .select(col("id_a"), col("id_b"))
      val standingEnds =
        pmod(col("id_a"), lit(7)) =!= 0 && pmod(col("id_b"), lit(7)) =!= 0
      // the standing map is itself a staged artifact (production reads
      // yesterday's labels, never rebuilds them) — per-query work is
      // the MERGE alone
      val stamp = Dedup.sourceStamp(s, s"$dir/embeddings.parquet")
      val staged = Tables.stagedParquet(s,
          s"$stageRoot/standing-comps-$stamp" +
            s"-b$lshBaseBits-n$lshBands-r$lshBitsPerBand-t045-m7") {
        Dedup.connectedComponents(pairs.filter(standingEnds),
          "id_a", "id_b")
      }
      Dedup.mergeComponentMap(staged, pairs.filter(!standingEnds),
        "id_a", "id_b")
    },
      // q344: the incremental merge must equal the full transitive
      // closure over ALL pairs — identical to q47's oracle (the
      // standing/delta split exists only on the engine side; IVM's
      // contract is that the oracle cannot tell).
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a)
         |SELECT node, least(node, min(r)) AS component
         |FROM cl GROUP BY node""".stripMargin),

    // ---- ETL: ROLLUP grouping sets — the hierarchy-subtotal operator
    // (Expand under the hood: detail, per-flag, grand total in ONE
    // scan, no self-union), grouping_id disambiguates real nulls from
    // subtotal nulls.
    Query("q352_rollup", (s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum((col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("qty_e2"),
          grouping_id().as("gid")),
      // q352/q353: native GROUP BY ROLLUP/CUBE; GROUPING bitmask uses
      // the same first-arg-most-significant convention as Spark's
      // grouping_id
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS qty_e2,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // ---- ETL: CUBE grouping sets — all 2² aggregation lattices of
    // (returnflag, linestatus) in one Expand scan.
    Query("q353_cube", (s, dir) =>
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum((col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("qty_e2"),
          grouping_id().as("gid")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS qty_e2,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // ---- ETL: UNPIVOT (wide → long melt) — lineitem's numeric
    // metrics to (key, metric, value_e2) rows via the native unpivot
    // operator (Expand, one scan, no join).
    Query("q331_unpivot", (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("long").as("quantity_e2"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("extendedprice_e2"),
          (col("l_discount").cast("decimal(18,2)") * 100)
            .cast("long").as("discount_e2"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity_e2"), col("extendedprice_e2"),
            col("discount_e2")),
          "metric", "value_e2"),
      // q331: UNION ALL mirror of the Expand — metric names are the
      // engine's value column names
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS ep,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS dc FROM lineitem)
        |SELECT l_orderkey, l_linenumber, 'quantity_e2' AS metric,
        |  q AS value_e2 FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice_e2',
        |  ep FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'discount_e2',
        |  dc FROM b""".stripMargin),

    // ---- data-eng: calendar DENSIFY + forward fill — every type ×
    // every horizon day, zero-filled counts, days-since-observed, and
    // the carried last observed daily max(value): the gap-filling
    // pass that makes "7 rows = 7 days" true for q120/q264/q276.
    Query("q286_densify_ffill", (s, dir) =>
      EventAnalytics.densifyDaily(T(s, dir, "events"), "event_type",
        "ts", "value"),
      // q286: type x generate_series calendar off the 1-row horizon,
      // zero-fill, IGNORE NULLS carries for the anchor day and the
      // observed daily max (a selection - bit-exact across engines)
      """WITH d AS (SELECT event_type AS t,
        |    epoch_ns(ts) // 86400000000000 AS day,
        |    count(*) AS n, max(value) AS vmax
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT ty.t, CAST(unnest(range(h.d0, h.d1 + 1))
        |    AS BIGINT) AS day
        |  FROM (SELECT DISTINCT t FROM d) ty CROSS JOIN h),
        |j AS (SELECT cal.t, cal.day, d.n, d.vmax FROM cal
        |  LEFT JOIN d ON d.t = cal.t AND d.day = cal.day),
        |f AS (SELECT t, day, CAST(coalesce(n, 0) AS BIGINT)
        |      AS n_events,
        |    n IS NOT NULL AS observed,
        |    last_value(CASE WHEN n IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER w AS anchor,
        |    last_value(vmax IGNORE NULLS) OVER w AS carry_max
        |  FROM j WINDOW w AS (PARTITION BY t ORDER BY day
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT t AS event_type, day, n_events, observed,
        |  coalesce(day - anchor, -1) AS days_since_obs, carry_max
        |FROM f""".stripMargin),

    // ---- sharding: RENDEZVOUS (HRW) re-shard movement matrix — doc
    // assignments at k=4 vs k=5 cross-tabbed; HRW's minimal-movement
    // property makes every off-diagonal cell land in the shard_after=4
    // column (keys move ONLY to the new shard), visible in the gate.
    Query("q293_rendezvous_shards", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"))
      val a = ShardExport.rendezvousAssign(d, "doc_id", 4,
        "shard_before")
      ShardExport.rendezvousAssign(a, "doc_id", 5, "shard_after")
        .groupBy(col("shard_before"), col("shard_after"))
        .agg(count(lit(1)).as("n_docs"))
    },
      // q293: per-(doc, shard) digest rows, (h DESC, shard ASC) argmax
      // at k=4 and k=5, cross-tab
      """WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ks
        |  FROM documents),
        |h4 AS (SELECT doc_id, i AS shard,
        |    md5(ks || ':' || i) AS h
        |  FROM s, (SELECT unnest(range(0, 4)) AS i) g),
        |a4 AS (SELECT doc_id, shard FROM (SELECT doc_id, shard,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY h DESC, shard ASC) AS rn FROM h4)
        |  WHERE rn = 1),
        |h5 AS (SELECT doc_id, i AS shard,
        |    md5(ks || ':' || i) AS h
        |  FROM s, (SELECT unnest(range(0, 5)) AS i) g),
        |a5 AS (SELECT doc_id, shard FROM (SELECT doc_id, shard,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY h DESC, shard ASC) AS rn FROM h5)
        |  WHERE rn = 1)
        |SELECT a4.shard AS shard_before, a5.shard AS shard_after,
        |  count(*) AS n_docs
        |FROM a4 JOIN a5 USING (doc_id) GROUP BY 1, 2""".stripMargin),

    // ---- layout: HILBERT-curve pruning stats on q176's exact box —
    // the locality experiment: same table, same 64 files, same
    // predicate, Morton vs Hilbert file-skipping read side by side.
    Query("q305_hilbert_pruning", (s, dir) =>
      HilbertLayout.pruningStats(T(s, dir, "orders"),
        "o_totalprice", "o_custkey", bits = 8, nFiles = 64,
        aLo = 50000.0, aHi = 100000.0, bLo = 100.0, bHi = 500.0), {
      // q305: the q176 quantize CTE feeding 8 unrolled xy2d stages
      // (quadrant digit + reflect-and-swap, each SELECT reading the
      // previous stage's hx/hy — the engine's chained projections term
      // for term), then the same 64-slice pruning report
      val bits = 8
      val n = 1L << bits
      def iter(idx: Int, k: Int): String = {
        val s = 1L << k
        s"""h$idx AS (SELECT o_totalprice, o_custkey,
           |    CASE WHEN ((hy >> $k) & 1) = 0 THEN
           |        CASE WHEN ((hx >> $k) & 1) = 1
           |          THEN ${n - 1} - hy ELSE hy END
           |      ELSE hx END AS hx,
           |    CASE WHEN ((hy >> $k) & 1) = 0 THEN
           |        CASE WHEN ((hx >> $k) & 1) = 1
           |          THEN ${n - 1} - hx ELSE hx END
           |      ELSE hy END AS hy,
           |    hd + ${s * s} * (CASE
           |      WHEN ((hx >> $k) & 1) = 0 AND ((hy >> $k) & 1) = 0
           |        THEN 0
           |      WHEN ((hx >> $k) & 1) = 0 THEN 1
           |      WHEN ((hy >> $k) & 1) = 1 THEN 2 ELSE 3 END) AS hd
           |  FROM h${idx - 1})""".stripMargin
      }
      val stages = (1 to bits)
        .map(i => iter(i, bits - i)).mkString(",\n")
      s"""WITH b AS (SELECT
         |    min(CAST(o_totalprice AS DOUBLE)) AS amn,
         |    max(CAST(o_totalprice AS DOUBLE)) AS amx,
         |    min(CAST(o_custkey AS DOUBLE)) AS bmn,
         |    max(CAST(o_custkey AS DOUBLE)) AS bmx
         |  FROM orders),
         |q AS (SELECT o_totalprice, o_custkey,
         |    least(CAST(floor((CAST(o_totalprice AS DOUBLE) - amn)
         |      * 256.0 / (amx - amn)) AS BIGINT), 255) AS qa,
         |    least(CAST(floor((CAST(o_custkey AS DOUBLE) - bmn)
         |      * 256.0 / (bmx - bmn)) AS BIGINT), 255) AS qb
         |  FROM orders, b
         |  WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL),
         |h0 AS (SELECT o_totalprice, o_custkey, qa AS hx, qb AS hy,
         |    CAST(0 AS BIGINT) AS hd FROM q),
         |$stages,
         |f AS (SELECT (hd * 64) // 65536 AS file_id,
         |    count(*) AS n_rows,
         |    min(CAST(o_totalprice AS DOUBLE)) AS min_a,
         |    max(CAST(o_totalprice AS DOUBLE)) AS max_a,
         |    min(CAST(o_custkey AS DOUBLE)) AS min_b,
         |    max(CAST(o_custkey AS DOUBLE)) AS max_b
         |  FROM h$bits GROUP BY 1)
         |SELECT file_id, n_rows, min_a, max_a, min_b, max_b,
         |  (min_a <= 100000.0 AND max_a >= 50000.0 AND
         |   min_b <= 500.0 AND max_b >= 100.0) AS scanned
         |FROM f""".stripMargin
    }),

    // ---- compliance: FORGET-CASCADE plan — for an md5-sampled
    // tombstone set of customers (rate 16/256), the rows a
    // right-to-be-forgotten delete would cascade to per table
    // (customer → orders → lineitem), with e6 shares: the blast-
    // radius estimate a deletion job prints before running.
    Query("q316_forget_cascade", (s, dir) => {
      val doomed = Sampling.hashSample(
        T(s, dir, "customer").select(col("c_custkey")), "c_custkey",
        rate256 = 16)
      val ord = T(s, dir, "orders")
        .join(doomed, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      val li = T(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
      def card(name: String, del: DataFrame, total: DataFrame) =
        del.agg(count(lit(1)).as("n_delete"))
          .crossJoin(total.agg(count(lit(1)).as("n_total")))
          .select(lit(name).as("table_name"), col("n_delete"),
            col("n_total"),
            graft.functions.ExactRound.ratioScaled(col("n_delete"),
              col("n_total"), 6).as("share_e6"))
      card("customer", doomed, T(s, dir, "customer"))
        .unionByName(card("orders", ord, T(s, dir, "orders")))
        .unionByName(card("lineitem", li, T(s, dir, "lineitem")))
    }, {
      // q316: the md5-band tombstone set cascaded through the key
      // chain, per-table counts + e6 shares
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH doomed AS (SELECT c_custkey FROM customer
         |  WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 2)
         |    < '10'),
         |o AS (SELECT o_orderkey FROM orders
         |  JOIN doomed ON o_custkey = c_custkey),
         |l AS (SELECT l_orderkey FROM lineitem
         |  JOIN o ON l_orderkey = o_orderkey),
         |c AS (
         |  SELECT 'customer' AS table_name,
         |    (SELECT count(*) FROM doomed) AS n_delete,
         |    (SELECT count(*) FROM customer) AS n_total
         |  UNION ALL SELECT 'orders', (SELECT count(*) FROM o),
         |    (SELECT count(*) FROM orders)
         |  UNION ALL SELECT 'lineitem', (SELECT count(*) FROM l),
         |    (SELECT count(*) FROM lineitem))
         |SELECT table_name, n_delete, n_total,
         |  ${ratioScaledSql("n_delete", "n_total", 6)} AS share_e6
         |FROM c""".stripMargin
    }),

    // ---- S8 truncate-and-load through the REAL write path (the last
    // spec-only §2 row): load a full snapshot into a store, then
    // overwrite it with the current (filtered) snapshot and read the
    // store back. An "overwrite" that appended instead of truncating
    // would leak first-load rows into the read-back and fail the
    // row-count + hash gate — exactly the failure S8 guards against.
    Query("q244_truncate_load", (s, dir) =>
      // the gate's subject IS the overwrite write path, so the store
      // builds per invocation — but leak-proof and eagerly read (r20)
      withScratchDir(s, "graft-q244") { work =>
        val store = s"$work/store"
        val snapshot = T(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        graft.sinks.MergeByKey.overwrite(snapshot, store)
        graft.sinks.MergeByKey.overwrite(
          snapshot.filter(col("s_acctbal") > 0), store)
        graft.sinks.MergeByKey.readCommitted(s, store)
      },
      // q244: the store's final content IS the second (filtered) load —
      // any surviving first-load row breaks rows + hash
      """SELECT s_suppkey, s_nationkey, s_acctbal
        |FROM supplier WHERE s_acctbal > 0""".stripMargin),

    // ---- sources: header-CSV ingest (S1/P1/P2/P3/F9 — the §2.1
    // spec-only rows graduate, round 13): a screener-shaped CSV is
    // staged from `part` (blank keys for P3, empty numerics,
    // comma-grouped prices and %-suffixed values for P2, an unmapped
    // column for P1's intersection rule), re-ingested via readCsv +
    // canonicalize under a FIXED stamp clock (F9), and the oracle
    // re-reads the SAME staged file with read_csv + the mirrored
    // cleanse chain.
    Query("q194_csv_ingest", (s, dir) => withShufflePartitions(s, 8) {
      val src = T(s, dir, "part").select(
        when(pmod(col("p_partkey"), lit(13)) === 0, lit(""))
          .otherwise(concat(lit("SYM"), col("p_partkey"))).as("Symbol"),
        col("p_name").as("Description"),
        when(pmod(col("p_partkey"), lit(7)) === 0, lit(""))
          .otherwise(format_number(col("p_retailprice"), 2)).as("Price"),
        concat(col("p_size").cast("string"), lit("%"))
          .as("Performance % Year to date"),
        col("p_brand").as("Analyst Rating"),
        col("p_type").as("Unmapped Extra"))
      stageFile(s, src, "q194/screener.csv")(
        _.option("header", "true").csv(_))
      graft.sources.CsvIngest.canonicalize(
          graft.sources.CsvIngest.readCsv(s,
            s"$csvGateRoot/q194/screener.csv"),
          graft.sources.CsvIngest.technicalMap,
          stampTime = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
        .select(col("symbol"), col("description"), col("analyst_rating"),
          col("performance_ytd"), col("price"),
          unix_timestamp(col("last_modified_date")).as("stamp_epoch"))
    }, {
      // q194-q198 (round 13): the CSV/serving/news surfaces gate through
      // the staged-file trick — the engine stages deterministic CSVs
      // derived from the gate tables under csvGateRoot; the oracle
      // read_csv's the same files and mirrors every cleanse arm. The
      // fixed stamp clock (2026-01-01 UTC = epoch 1767225600) replaces
      // the wall clock on both sides.
      // clean_value mirror: unicode minus -> '-', strip %/,/+ and a
      // trailing K/M/B/T INR unit, trim, TRY_CAST (coercion -> NULL),
      // then the 2dp display round — Cleanse.cleanNumber/cleanDouble
      def num(c: String) =
        s"""round(try_cast(trim(regexp_replace(regexp_replace($c,
           |    '−', '-', 'g'),
           |    '[%,+]|\\s*[KMBT]?\\s*INR\\s*$$', '', 'g')) AS DOUBLE), 2)"""
          .stripMargin
      s"""WITH raw AS (SELECT * FROM read_csv(
         |    '$csvGateRoot/q194/screener.csv',
         |    header=true, all_varchar=true)),
         |c AS (SELECT
         |    nullif(trim("Symbol"), '') AS symbol,
         |    nullif(trim("Description"), '') AS description,
         |    nullif(trim("Analyst Rating"), '') AS analyst_rating,
         |    ${num("\"Performance % Year to date\"")} AS performance_ytd,
         |    ${num("\"Price\"")} AS price
         |  FROM raw)
         |SELECT *, CAST(1767225600 AS BIGINT) AS stamp_epoch FROM c
         |WHERE symbol IS NOT NULL AND len(trim(symbol)) > 0""".stripMargin
    }),

    // ---- sources: LATEST-file-by-mtime (S2/T4): three nation slices
    // staged with strictly increasing mtimes; the engine must resolve
    // the newest by mtime and ingest THAT file — the oracle reads
    // slice 2 by name, so resolving any other file hash-fails.
    Query("q195_latest_file", (s, dir) => withShufflePartitions(s, 8) {
      val n = T(s, dir, "nation")
      val base = System.currentTimeMillis() - 60000L
      (0 to 2).foreach { i =>
        stageFile(s, n.filter(pmod(col("n_nationkey"), lit(3)) === i)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
          s"q195/nation-$i.csv", base + i * 2000L)(
          _.option("header", "true").csv(_))
      }
      val latest = Tables.latestByMtime(s, s"$csvGateRoot/q195/nation-*.csv")
        .getOrElse(sys.error("no staged q195 files"))
      graft.sources.CsvIngest.readCsv(s, latest)
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
    },
      // q195: the oracle names slice 2 (the newest mtime) explicitly —
      // the engine resolving any other file by mtime hash-fails
      s"""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
         |  CAST(n_regionkey AS BIGINT) AS n_regionkey
         |FROM read_csv('$csvGateRoot/q195/nation-2.csv',
         |  header=true, all_varchar=true)""".stripMargin),

    // ---- filters: scrape-noise predicate (P4) over real part names
    // plus injected header echoes / dates / analysis rows / blanks /
    // over-length rows — the oracle mirrors every arm of the predicate
    Query("q196_scrape_noise", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val noise = Seq("Sector: Financials", "2024-01-01 report",
        "filed 0001-01-01", "Strengths: momentum", "Neutral outlook",
        "   ", "x" * 60, "Acme Industrial Holdings").toDF("name")
      T(s, dir, "part").select(col("p_name").as("name"))
        .unionAll(noise)
        .filter(graft.sources.CsvIngest.scrapeNoiseFilter(col("name")))
        .groupBy(col("name")).agg(count(lit(1)).as("n"))
    },
      // q196: every arm of the scrape-noise predicate mirrored
      """WITH names AS (SELECT p_name AS name FROM part
        |  UNION ALL SELECT unnest(['Sector: Financials',
        |    '2024-01-01 report', 'filed 0001-01-01',
        |    'Strengths: momentum', 'Neutral outlook', '   ',
        |    repeat('x', 60), 'Acme Industrial Holdings']))
        |SELECT name, count(*) AS n FROM names
        |WHERE name IS NOT NULL AND len(name) <= 50
        |  AND NOT contains(name, 'Sector')
        |  AND NOT contains(name, '0001-01-01')
        |  AND NOT contains(name, 'Strengths:')
        |  AND NOT contains(name, 'Neutral')
        |  AND len(trim(name)) > 0
        |  AND NOT regexp_matches(name, '^\d{4}-\d{2}-\d{2}')
        |GROUP BY 1""".stripMargin),

    // ---- serving: screener registry + CSV→JSON emit (S11/§2.11):
    // the btst screener (top-20 by composite, symbol tie-break) over
    // a part-derived scored frame, emitted through toJsonRecords —
    // the oracle rebuilds the identical JSON strings (long score, so
    // no float formatting divergence)
    Query("q197_screener_serve", (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val scored = T(s, dir, "part").select(
        concat(lit("SYM"), col("p_partkey")).as("symbol"),
        (col("p_retailprice").cast("decimal(18,2)") * 100)
          .cast("long").as("composite_score"))
      graft.serve.Screeners
        .toJsonRecords(graft.serve.Screeners.run("btst", scored))
        .toDF("json")
    },
      // q197: the btst screener is top-20 by (composite desc, symbol
      // asc); the JSON string rebuilds exactly (integer score — no
      // float formatting divergence; toJSON emits fields in schema
      // order and the symbols are quote-free ASCII)
      """WITH sc AS (SELECT 'SYM' || CAST(p_partkey AS VARCHAR) AS symbol,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS composite_score
        |  FROM part),
        |t AS (SELECT * FROM sc
        |  ORDER BY composite_score DESC, symbol ASC LIMIT 20)
        |SELECT '{"symbol":"' || symbol || '","composite_score":'
        |  || CAST(composite_score AS VARCHAR) || '}' AS json
        |FROM t""".stripMargin),

    // ---- pipeline: news-prep (P6 premium filter + F8 surrogate key
    // + F11 truncation + P3 key validity) under a fixed clock — the
    // news-shaped frame derives from `documents` (premium flags, null
    // flags, blank URLs all planted by doc_id residue)
    Query("q198_news_prepare", (s, dir) => withShufflePartitions(s, 8) {
      val raw = T(s, dir, "documents").select(
        col("text").as("headline"),
        when(pmod(col("doc_id"), lit(11)) === 0, lit(""))
          .otherwise(concat(lit("https://news.example/a/"), col("doc_id")))
          .as("article_url"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(null).cast("boolean"))
          .otherwise(pmod(col("doc_id"), lit(5)) === 0).as("is_premium"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(null).cast("boolean"))
          .otherwise(lit(true)).as("is_critical"))
      graft.pipeline.NewsIngestPipeline.prepare(raw,
          postedAt = to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("article_url"), col("headline"), col("tweet_id"),
          col("is_critical"),
          unix_timestamp(col("posted_at")).as("posted_epoch"))
    },
      // q198: premium filter (NULL -> keep), key validity, 500-char
      // truncation, md5 surrogate key, fixed posted-at clock
      """SELECT 'https://news.example/a/' || CAST(doc_id AS VARCHAR)
        |    AS article_url,
        |  substring(text, 1, 500) AS headline,
        |  'tv_' || substring(md5('https://news.example/a/'
        |    || CAST(doc_id AS VARCHAR)), 1, 20) AS tweet_id,
        |  CASE WHEN doc_id % 3 = 0 THEN false ELSE true END AS is_critical,
        |  CAST(1767225600 AS BIGINT) AS posted_epoch
        |FROM documents
        |WHERE doc_id % 11 <> 0
        |  AND NOT coalesce(CASE WHEN doc_id % 7 = 0 THEN NULL
        |    ELSE doc_id % 5 = 0 END, false)""".stripMargin),

    // ---- source: JSON-lines ingest with corrupt-record handling —
    // records are constructed by IDENTICAL string concatenation in
    // both engines (so no to_json formatting divergence), every 50th
    // record truncated to a malformed line; from_json PERMISSIVE
    // yields NULL fields + the is_corrupt flag instead of failing
    Query("q184_json_ingest", (s, dir) => {
      val cust = T(s, dir, "customer")
      val js = concat(lit("{\"k\":"), col("c_custkey").cast("string"),
        lit(",\"n\":\""), col("c_name"),
        lit("\",\"seg\":\""), col("c_mktsegment"), lit("\"}"))
      val raw = when(pmod(col("c_custkey"), lit(50)) === 0,
        expr("substring(js__, 1, length(js__) - 1)")).otherwise(col("js__"))
      graft.sources.JsonIngest.parseRecords(
        cust.select(col("c_custkey"), js.as("js__"))
          .select(col("c_custkey"), raw.as("raw__")),
        col("raw__"), "k LONG, n STRING, seg STRING",
        requiredField = "k")
        .drop("raw__")
    },
      // q184: identical string construction and truncation. PINNED
      // PERMISSIVE reality: Spark returns a NON-null struct with
      // all-null fields for a malformed record, so the flag keys on the
      // required field k; DuckDB mirrors with json_valid (the truncated
      // record is invalid JSON, all extractions null, flag true)
      """WITH j AS (SELECT c_custkey,
        |    '{"k":' || CAST(c_custkey AS VARCHAR) || ',"n":"' ||
        |      c_name || '","seg":"' || c_mktsegment || '"}' AS js
        |  FROM customer),
        |r AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 50 = 0
        |         THEN substring(js, 1, length(js) - 1) ELSE js END AS raw
        |  FROM j)
        |SELECT c_custkey,
        |  CASE WHEN json_valid(raw)
        |       THEN CAST(raw ->> 'k' AS BIGINT) END AS k,
        |  CASE WHEN json_valid(raw) THEN raw ->> 'n' END AS n,
        |  CASE WHEN json_valid(raw) THEN raw ->> 'seg' END AS seg,
        |  NOT json_valid(raw) AS is_corrupt
        |FROM r""".stripMargin),

    // ---- layout: z-order (Morton) clustering key over
    // (o_totalprice, o_custkey) — 8-bit quantize per dim against exact
    // bounds, bit-interleave in codegen; repartitionByRange(z) at write
    // time gives files tight in BOTH dimensions (layout() is the write
    // path; the gate checks the z arithmetic itself)
    Query("q68_zorder", (s, dir) =>
      ZOrderLayout.assign(T(s, dir, "orders"), "o_totalprice", "o_custkey",
          bits = 8)
        .select(col("o_orderkey"), col("z")), {
      // q68: identical quantize+interleave arithmetic, bounds from a CTE
      // (same IEEE doubles, same op order ⇒ same buckets)
      val terms = (0 until 8).map(i =>
        s"((qa >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((qb >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
      s"""WITH b AS (SELECT
         |    min(CAST(o_totalprice AS DOUBLE)) AS amn,
         |    max(CAST(o_totalprice AS DOUBLE)) AS amx,
         |    min(CAST(o_custkey AS DOUBLE)) AS bmn,
         |    max(CAST(o_custkey AS DOUBLE)) AS bmx
         |  FROM orders),
         |q AS (SELECT o_orderkey,
         |    least(CAST(floor((CAST(o_totalprice AS DOUBLE) - amn) * 256.0
         |      / (amx - amn)) AS BIGINT), 255) AS qa,
         |    least(CAST(floor((CAST(o_custkey AS DOUBLE) - bmn) * 256.0
         |      / (bmx - bmn)) AS BIGINT), 255) AS qb
         |  FROM orders, b)
         |SELECT o_orderkey, $terms AS z FROM q""".stripMargin
    }),

    // ---- layout: FILE-SKIPPING effectiveness of the q68 z-order —
    // per equal-width z-slice "file", the footer surrogate (count +
    // min/max of both dims) and whether the query box
    // price ∈ [50k, 100k] × custkey ∈ [100, 500] would scan it: the
    // planner evidence that the layout prunes on BOTH dimensions
    Query("q176_zorder_pruning", (s, dir) =>
      ZOrderLayout.pruningStats(T(s, dir, "orders"),
        "o_totalprice", "o_custkey", bits = 8, nFiles = 64,
        aLo = 50000.0, aHi = 100000.0, bLo = 100.0, bHi = 500.0), {
      // q176: q68's mirrored quantize/interleave arithmetic, the same
      // equal-width z-slice file id, per-file min/max, and the same
      // box-overlap test
      val terms = (0 until 8).map(i =>
        s"((qa >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((qb >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
      s"""WITH b AS (SELECT
         |    min(CAST(o_totalprice AS DOUBLE)) AS amn,
         |    max(CAST(o_totalprice AS DOUBLE)) AS amx,
         |    min(CAST(o_custkey AS DOUBLE)) AS bmn,
         |    max(CAST(o_custkey AS DOUBLE)) AS bmx
         |  FROM orders),
         |q AS (SELECT o_totalprice, o_custkey,
         |    least(CAST(floor((CAST(o_totalprice AS DOUBLE) - amn) * 256.0
         |      / (amx - amn)) AS BIGINT), 255) AS qa,
         |    least(CAST(floor((CAST(o_custkey AS DOUBLE) - bmn) * 256.0
         |      / (bmx - bmn)) AS BIGINT), 255) AS qb
         |  FROM orders, b
         |  WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL),
         |z AS (SELECT o_totalprice, o_custkey, $terms AS z FROM q),
         |f AS (SELECT (z * 64) // 65536 AS file_id,
         |    count(*) AS n_rows,
         |    min(CAST(o_totalprice AS DOUBLE)) AS min_a,
         |    max(CAST(o_totalprice AS DOUBLE)) AS max_a,
         |    min(CAST(o_custkey AS DOUBLE)) AS min_b,
         |    max(CAST(o_custkey AS DOUBLE)) AS max_b
         |  FROM z GROUP BY 1)
         |SELECT file_id, n_rows, min_a, max_a, min_b, max_b,
         |  (min_a <= 100000.0 AND max_a >= 50000.0 AND
         |   min_b <= 500.0 AND max_b >= 100.0) AS scanned
         |FROM f""".stripMargin
    }),

    // ---- export: deterministic global shuffle into 8 balanced shards —
    // round-robin over the (md5, key) permutation via the skew-proof
    // range-sort global position; shard sizes differ by at most 1
    Query("q66_shard_export", (s, dir) =>
      ShardExport.assign(T(s, dir, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("position")),
      // q66: the permutation is the (md5, key) sort order in both engines
      """SELECT doc_id, (rn - 1) % 8 AS shard, (rn - 1) // 8 AS position
        |FROM (SELECT doc_id, row_number() OVER
        |        (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)""".stripMargin))
}
