package graft
package catalog

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators._
import OracleSql._
import Stages._

/** Training-set QA and evaluation: splits and leakage, sampling and
  * mixing plans, label noise, calibration and ranking metrics,
  * privacy audits, data-quality checks and the sketch accuracy audit.
  */
private[graft] object QaQueries {

  val queries: Seq[Query] = Seq(
    // ---- training-set QA: hard-negative mining — per anchor, top-10
    // highest-cosine vectors of a DIFFERENT label (one corpus scan,
    // broadcast anchors, two-phase top-k; q82's plan + label pushdown)
    Query("q100_hard_negatives", (s, dir) =>
      SimilaritySearch.hardNegativesBatch(T(s, dir, "embeddings"),
        "vec_id", "embedding", "label",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10),
      // q100: the q82 retrieval oracle with the label disqualifier — the
      // rank runs over the different-label corpus only, same pinned
      // (round 6dp desc, id asc) tie-break on both engines
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
        |qx AS (SELECT query_id, generate_subscripts(qv, 1) AS i,
        |    CAST(unnest(qv) AS DOUBLE) AS y FROM q),
        |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |cand AS (SELECT q.query_id, e.vec_id,
        |    CAST(e.label AS BIGINT) AS neg_label
        |  FROM embeddings e CROSS JOIN q WHERE e.label <> q.ql),
        |dots AS (SELECT c.query_id, c.vec_id, c.neg_label,
        |    sum(ex.x * qx.y) AS dot, sum(ex.x * ex.x) AS na
        |  FROM cand c JOIN ex ON ex.vec_id = c.vec_id
        |  JOIN qx ON qx.query_id = c.query_id AND qx.i = ex.i
        |  GROUP BY 1, 2, 3),
        |nq AS (SELECT query_id, sum(y * y) AS nb FROM qx GROUP BY 1),
        |r AS (SELECT d.query_id, d.vec_id, d.neg_label,
        |    round(dot / (sqrt(na) * sqrt(nb)), 4) AS cosine,
        |    row_number() OVER (PARTITION BY d.query_id
        |      ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
        |        d.vec_id ASC) AS rk
        |  FROM dots d JOIN nq USING (query_id))
        |SELECT query_id, vec_id, cosine, neg_label FROM r
        |WHERE rk <= 10""".stripMargin),

    // ---- training-set QA: label-noise candidates — near-dup pairs
    // (cosine ≥ 0.45, the q29 kernel) whose labels DISAGREE; labels
    // join the surviving pairs, never the quadratic stream
    Query("q101_label_noise_pairs", (s, dir) =>
      SimilaritySearch.crossLabelNearDup(T(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.45),
      // q101: the q29 pair oracle with labels attached to the surviving
      // pairs and the disagreement filter — same unrounded threshold,
      // 4dp output rounding
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |n AS (SELECT vec_id, sum(x * x) AS nn FROM ex GROUP BY 1),
        |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b,
        |    round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 4) AS cosine
        |  FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        |  WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.45)
        |SELECT id_a, id_b, cosine,
        |  CAST(la.label AS BIGINT) AS label_a,
        |  CAST(lb.label AS BIGINT) AS label_b
        |FROM p JOIN embeddings la ON la.vec_id = id_a
        |JOIN embeddings lb ON lb.vec_id = id_b
        |WHERE la.label <> lb.label""".stripMargin),

    // ---- eval hygiene: cross-split near-dup LEAKAGE — pairs of
    // near-copies whose endpoints landed in different q50 splits:
    // the train→eval contamination a per-doc hash split cannot see
    Query("q110_split_leakage", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val pairs = lshNearDupPairs(s, dir, threshold = 0.45)
      val splits = Sampling.splitByHash(emb.select(col("vec_id")),
        "vec_id", weights = Seq(200, 32, 24),
        labels = Seq("train", "val", "test"))
      Decontaminate.splitLeakage(pairs, "id_a", "id_b",
        splits, "vec_id")
    }, {
      // q110: the MIRRORED-LSH pair surface (r12; formerly q29's exact
      // SQL) joined to the q50 split CASE on both endpoints,
      // cross-split rows only
      val splitCase =
        """CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < 'c8'
          |       THEN 'train'
          |     WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < 'e8'
          |       THEN 'val'
          |     ELSE 'test' END""".stripMargin
      s"""WITH ${lshPairCtes("0.45")},
         |s AS (SELECT vec_id, $splitCase AS split FROM embeddings)
         |SELECT p.id_a, p.id_b, p.cosine,
         |  sa.split AS split_a, sb.split AS split_b
         |FROM p JOIN s sa ON sa.vec_id = p.id_a
         |JOIN s sb ON sb.vec_id = p.id_b
         |WHERE sa.split <> sb.split""".stripMargin
    }),

    // ---- eval hygiene: LEAKAGE-FREE cluster-aware split — the fix
    // for what q110 detects: splits assigned on the near-dup
    // component representative, so a whole cluster lands on one side
    Query("q118_cluster_split", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Sampling.clusterAwareSplitFromComponents(
        emb.select(col("vec_id")), "vec_id",
        stagedNearDupComponents(s, dir), weights = Seq(200, 32, 24),
        labels = Seq("train", "val", "test"))
    },
      // q118: q47's recursive components; rep = coalesce(component,
      // self); the q50 split CASE keyed on the representative
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node),
         |rep AS (SELECT emb.vec_id,
         |    coalesce(cc.component, emb.vec_id) AS rep_id
         |  FROM embeddings emb LEFT JOIN cc ON cc.node = emb.vec_id)
         |SELECT vec_id, rep_id,
         |  CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'c8'
         |         THEN 'train'
         |       WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'e8'
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM rep""".stripMargin),

    // ---- sampling: systematic weight-proportional draw — exactly 200
    // picks over documents in proportion to n_chars, zero RNG (hash
    // order + cumulative-weight stride crossings)
    Query("q128_weighted_sample", (s, dir) =>
      Sampling.systematicWeighted(T(s, dir, "documents"), "doc_id",
        "n_chars", n = 200),
      // q128: same md5-hash cumulative-weight line; picks at stride
      // crossings via HUGEINT floor division
      """WITH b AS (SELECT doc_id,
        |    greatest(coalesce(n_chars, 0), 0) AS weight,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
        |  WHERE doc_id IS NOT NULL),
        |c AS (SELECT doc_id, weight,
        |    CAST(sum(weight) OVER (ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum,
        |    CAST(sum(weight) OVER () AS HUGEINT) AS tot FROM b)
        |SELECT doc_id, weight, CAST(cum AS BIGINT) AS cum_w,
        |  CAST((cum * 200) // tot
        |    - ((cum - weight) * 200) // tot AS BIGINT) AS n_picks
        |FROM c
        |WHERE (cum * 200) // tot > ((cum - weight) * 200) // tot"""
        .stripMargin),

    // ---- privacy: k-anonymity / l-diversity audit over customer
    // quasi-identifiers (nation, market segment), account balance as
    // the sensitive attribute
    Query("q131_k_anonymity", (s, dir) =>
      PrivacyAudit.kAnonymity(T(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 5L, l = 3L),
      // q131: one grouped pass; flags inline
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |  count(DISTINCT c_acctbal) AS n_sensitive,
        |  count(*) >= 5 AS k_anonymous,
        |  count(DISTINCT c_acctbal) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2""".stripMargin),

    // ---- QA: language-ID agreement — q19's heuristic prediction vs
    // the declared lang column, per source (metadata-trust audit)
    Query("q144_langid_agreement", (s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"), col("source"), col("lang"))
        .join(TextAnalysis.languageId(docs, "doc_id", "text"), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
            .as("n_match"))
        .select(col("source"), col("n_docs"), col("n_match"),
          graft.functions.ExactRound.ratioScaled(col("n_match"),
            col("n_docs"), 4).as("agreement_e4"))
    }, {
      // q144: q19's marker-argmax prediction joined to the declared
      // lang, per-source agreement through the rounding identity
      def cnt(ms: Seq[String]) =
        s"len(list_filter($wordsSql, w -> ${ms.map(m => s"w = '$m'").mkString(" OR ")}))"
      val langs = TextAnalysis.langMarkers
      val cols = langs.map { case (l, ms) => s"${cnt(ms)} AS cnt_$l" }
        .mkString(",\n  ")
      val mx = s"greatest(${langs.map(l => s"cnt_${l._1}").mkString(", ")})"
      val cases = langs.map { case (l, _) =>
        s"WHEN $mx > 0 AND cnt_$l = $mx THEN '$l'"
      }.mkString(" ")
      s"""WITH pred AS (SELECT doc_id, source, lang,
         |    CASE $cases ELSE 'und' END AS pred_lang
         |  FROM (SELECT doc_id, source, lang,
         |    $cols
         |  FROM documents))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_match,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)",
              "count(*)", 4)} AS agreement_e4
         |FROM pred GROUP BY 1""".stripMargin
    }),

    // ---- QA: referential-integrity audit across the star schema —
    // orphan counts + exact shares for three declared relations
    Query("q155_ref_integrity", (s, dir) =>
      Profile.refIntegrity(T(s, dir, "orders"), "o_custkey",
          T(s, dir, "customer"), "c_custkey", "orders->customer")
        .union(Profile.refIntegrity(T(s, dir, "lineitem"), "l_orderkey",
          T(s, dir, "orders"), "o_orderkey", "lineitem->orders"))
        .union(Profile.refIntegrity(T(s, dir, "lineitem"), "l_partkey",
          T(s, dir, "part"), "p_partkey", "lineitem->part")), {
      // q155: per-relation orphan accounting via NOT EXISTS; NULL child
      // keys counted separately (unlinked, not dangling)
      def rel(name: String, child: String, ck: String, parent: String,
          pk: String) =
        s"""SELECT '$name' AS relation,
           |  (SELECT count(*) FROM $child) AS n_child_rows,
           |  (SELECT count(*) FROM $child WHERE $ck IS NULL)
           |    AS n_null_keys,
           |  (SELECT count(*) FROM $child c WHERE c.$ck IS NOT NULL
           |    AND NOT EXISTS (SELECT 1 FROM $parent p
           |      WHERE p.$pk = c.$ck)) AS n_orphans""".stripMargin
      def row(name: String, child: String, ck: String, parent: String,
          pk: String) =
        s"""SELECT relation, n_child_rows, n_null_keys, n_orphans,
           |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_orphans", "n_child_rows", 6)} AS orphan_share_e6
           |FROM (${rel(name, child, ck, parent, pk)})""".stripMargin
      s"""${row("orders->customer", "orders", "o_custkey",
          "customer", "c_custkey")}
         |UNION ALL ${row("lineitem->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey")}
         |UNION ALL ${row("lineitem->part", "lineitem", "l_partkey",
          "part", "p_partkey")}""".stripMargin
    }),

    // ---- QA: order-independent column checksums over customer — the
    // cross-engine "same data?" handshake (set-shaped digest)
    Query("q159_column_checksums", (s, dir) =>
      Profile.columnChecksums(T(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_mktsegment")), {
      // q159: md5-prefix64 reconstructed per value by hex-nibble
      // arithmetic (hi/lo 32-bit lanes), HUGEINT sums mod 2^62
      val mod = 1L << 62
      def one(c: String) = {
        val md5c = s"md5(CAST($c AS VARCHAR))"
        def lane(from: Int) =
          s"""CAST(coalesce(sum(CASE WHEN $c IS NOT NULL THEN
             |    CAST(${hex32Sql(md5c, from)} AS HUGEINT) END), 0)
             |  % $mod AS BIGINT)""".stripMargin
        s"""SELECT '$c' AS col_name,
           |  CAST(count($c) AS BIGINT) AS n_values,
           |  ${lane(1)} AS checksum_hi,
           |  ${lane(9)} AS checksum_lo
           |FROM customer""".stripMargin
      }
      s"""${one("c_custkey")}
         |UNION ALL ${one("c_name")}
         |UNION ALL ${one("c_mktsegment")}""".stripMargin
    }),

    // ---- sampling: dedup-aware representative sampling — cluster
    // representatives drawn in proportion to the mass (cluster size)
    // they stand for: q47's components feeding q128's deterministic
    // weighted draw
    // Candidate pairs from the banded-LSH path with the mirrored
    // oracle (r12) — see q117; the exact kernel stays in its q29/q40
    // audit role only.
    Query("q161_cluster_weighted_sample", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cc = stagedNearDupComponents(s, dir)
      val sizes = emb.select(col("vec_id"))
        .join(cc, col("vec_id") === col("node"), "left")
        .select(coalesce(col("component"), col("vec_id")).as("rep"))
        .groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
      Sampling.systematicWeighted(sizes, "rep", "cluster_size", n = 100)
    },
      // q161: recursive components over the MIRRORED-LSH edge set (r12;
      // formerly the exact-pair CTE) -> cluster sizes -> q128's
      // cumulative-weight stride draw over representatives
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node),
         |sz AS (SELECT coalesce(cc.component, emb.vec_id) AS rep,
         |    count(*) AS cluster_size
         |  FROM embeddings emb LEFT JOIN cc ON cc.node = emb.vec_id
         |  GROUP BY 1),
         |b AS (SELECT rep, cluster_size,
         |    md5(CAST(rep AS VARCHAR)) AS h FROM sz),
         |c AS (SELECT rep, cluster_size,
         |    CAST(sum(cluster_size) OVER (ORDER BY h, rep
         |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum,
         |    CAST(sum(cluster_size) OVER () AS HUGEINT) AS tot FROM b)
         |SELECT rep, cluster_size AS weight,
         |  CAST(cum AS BIGINT) AS cum_w,
         |  CAST((cum * 100) // tot
         |    - ((cum - cluster_size) * 100) // tot AS BIGINT) AS n_picks
         |FROM c
         |WHERE (cum * 100) // tot > ((cum - cluster_size) * 100) // tot"""
        .stripMargin),

    // ---- QA: first-digit (Benford) profile of order totals — the
    // synthetic-data screen, exact shares
    Query("q165_first_digit", (s, dir) =>
      Profile.firstDigitProfile(T(s, dir, "orders"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
      // q165: same BIGINT string rendering for the leading digit
      s"""WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |      * 100 AS BIGINT) AS v FROM orders),
         |d AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1)
         |    AS BIGINT) AS digit, count(*) AS n
         |  FROM v WHERE v > 0 GROUP BY 1),
         |t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS n_total
         |  FROM d)
         |SELECT digit, n, n_total, ${
           graft.functions.ExactRound.ratioScaledSql("n", "n_total", 6)
         } AS share_e6 FROM t""".stripMargin),

    // ---- splits: purged/embargoed temporal split over events (last
    // 7 days test, 3-day embargo, rest train) with the train-entity
    // leakage audit; edges relative to the observed max day
    Query("q223_embargo_split", (s, dir) =>
      Sampling.embargoSplit(T(s, dir, "events"), "ts", "user_id",
        testDays = 7L, embargoDays = 3L),
      // q223: same relative day edges, same distinct-entity overlap
      """WITH b AS (SELECT user_id AS ent,
        |    epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |t AS (SELECT ent, day, CASE
        |    WHEN day > (SELECT max(day) FROM b) - 7 THEN 'test'
        |    WHEN day > (SELECT max(day) FROM b) - 10 THEN 'embargo'
        |    ELSE 'train' END AS split
        |  FROM b),
        |per AS (SELECT split, count(*) AS n_events,
        |    min(day) AS first_day, max(day) AS last_day
        |  FROM t GROUP BY 1),
        |ents AS (SELECT DISTINCT split, ent FROM t),
        |us AS (SELECT split, count(*) AS n_entities
        |  FROM ents GROUP BY 1),
        |ov AS (SELECT e.split, count(*) AS n_train_overlap
        |  FROM ents e JOIN ents tr
        |    ON tr.split = 'train' AND tr.ent = e.ent
        |  GROUP BY 1)
        |SELECT per.split, per.n_events,
        |  coalesce(us.n_entities, 0) AS n_entities,
        |  coalesce(ov.n_train_overlap, 0) AS n_train_overlap,
        |  per.first_day, per.last_day
        |FROM per
        |LEFT JOIN us ON us.split = per.split
        |LEFT JOIN ov ON ov.split = per.split""".stripMargin),

    // ---- mixing: loss-weight REWEIGHTING to the water-fill
    // allocation — the sampling-free twin of q204: per source, the
    // e6 weight alloc/n plus natural vs target shares (budget 3/4 of
    // the corpus, epoch cap 3: small sources up-weight toward 3e6,
    // big ones down-weight below 1e6)
    Query("q220_mix_reweight", (s, dir) =>
      Apportion.reweightToAllocation(T(s, dir, "documents"), "source",
        budgetNum = 3L, budgetDen = 4L, maxEpochs = 3L),
      // q220: the q204 mirror with weight 1 per doc, wrapped in the
      // same share/weight rationals
      Apportion.reweightToAllocationSql("documents", "source",
        3L, 4L, 3L)),

    // ---- eval: decile LIFT / cumulative-GAIN table of the quality
    // score against the Gopher keep label (the q215 score/label pair
    // as a selection-policy sheet: per decile the positive rate, the
    // lift over base rate, the gain curve). Range-partitioned rank,
    // unique (score desc, doc_id asc) tie-break mirrored in the oracle.
    Query("q228_lift_table", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = TextAnalysis.qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 4)
            .as("q_e4"))
      val label = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      EvalMetrics.liftTable(scored.join(label, "doc_id"), "doc_id",
        "q_e4", "keep", buckets = 10)
    }, {
      // q228: q215's t/j score+label derivation; row_number with the
      // identical (s DESC, doc_id ASC) unique tie-break, integer decile
      // cut ((rn-1)*10 // n), bounded cumulative window over 10 rows
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id,
         |    ${ratioScaledSql(qScoreNum, qScoreDen, 4)} AS q_e4,
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
         |j AS (SELECT doc_id, q_e4 AS s,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS y
         |  FROM t),
         |r AS (SELECT doc_id, s, y,
         |    row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rn
         |  FROM j),
         |a AS (SELECT count(*) AS n_total,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |      AS pos_total
         |  FROM j),
         |b AS (SELECT ((rn - 1) * 10) // a.n_total AS bucket,
         |    count(*) AS n_rows,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM r, a GROUP BY 1),
         |c AS (SELECT bucket, n_rows, n_pos,
         |    sum(n_pos) OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_pos
         |  FROM b)
         |SELECT c.bucket, CAST(c.n_rows AS BIGINT) AS n_rows, c.n_pos,
         |  ${ratioScaledSql("c.n_pos", "c.n_rows", 6)} AS rate_e6,
         |  ${ratioScaledSql("CAST(c.n_pos AS HUGEINT) * a.n_total",
             "CAST(c.n_rows AS HUGEINT) * a.pos_total", 6)} AS lift_e6,
         |  ${ratioScaledSql("c.cum_pos", "a.pos_total", 6)}
         |    AS cum_gain_e6
         |FROM c, a""".stripMargin
    }),

    // ---- QA: Benford first-digit card over order totals (cents) —
    // the fabricated-data / broken-ingest tripwire. Expected shares
    // are the pinned e6 log10(1+1/d) constants (the q170 weight-table
    // discipline); first digit via a 19-arm integer-division ladder,
    // no float formatting in either engine.
    Query("q231_benford_card", (s, dir) =>
      Profile.benfordCard(T(s, dir, "orders"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")), {
      // q231: identical cents scaling, the same 19-arm // ladder, the
      // same pinned e6 expectation VALUES table, exact share + gap
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |      * 100 AS BIGINT) AS v
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL
         |    AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT) > 0),
         |d AS (SELECT ${graft.operators.Profile
                 .firstDigitLadderSql("v")} AS digit,
         |    count(*) AS n
         |  FROM v GROUP BY 1),
         |t AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total
         |  FROM d),
         |e(digit, benford_e6) AS ${graft.operators.Profile
                .benfordTableSql},
         |s AS (SELECT CAST(e.digit AS BIGINT) AS digit,
         |    CAST(coalesce(d.n, 0) AS BIGINT) AS n,
         |    ${ratioScaledSql("coalesce(d.n, 0)", "t.total", 6)}
         |      AS share_e6,
         |    CAST(e.benford_e6 AS BIGINT) AS benford_e6
         |  FROM e LEFT JOIN d ON d.digit = e.digit, t)
         |SELECT digit, n, share_e6, benford_e6,
         |  abs(share_e6 - benford_e6) AS gap_e6
         |FROM s""".stripMargin
    }),

    // ---- calibration: ISOTONIC regression over the q203 bins — PAV
    // via its minimax characterization (max_{j≤i} min_{k≥i} pooled
    // rate), exact e6; the monotone-repair step after q203's ECE
    // diagnosis, on the very same quality-score/gopher-label pair.
    Query("q258_isotonic_fit", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = TextAnalysis.qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 4)
            .as("q_e4"))
      val label = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      EvalMetrics.isotonicCalibration(scored.join(label, "doc_id"),
        "q_e4", "keep", bins = 10)
    }, {
      // q258: q203's bin aggregate, then PAV by its minimax form —
      // fitted(i) = max_{j≤i} min_{k≥i} pooled-rate(j..k) over the
      // bounded bin table
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id,
         |    ${ratioScaledSql(qScoreNum, qScoreDen, 4)} AS q_e4,
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
         |j AS (SELECT q_e4,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS keep
         |  FROM t),
         |b AS (SELECT least(q_e4 // 1000, 9) AS bin,
         |    count(*) AS n_rows,
         |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_pos
         |  FROM j GROUP BY 1),
         |pref AS (SELECT bin, n_rows, n_pos,
         |    sum(n_rows) OVER o AS pc, sum(n_pos) OVER o AS pp
         |  FROM b WINDOW o AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
         |lo AS (SELECT bin AS jb, pc - n_rows AS pcj, pp - n_pos AS ppj
         |  FROM pref),
         |hi AS (SELECT bin AS kb, pc AS pck, pp AS ppk FROM pref),
         |iv AS (SELECT jb, kb,
         |    ${ratioScaledSql("ppk - ppj", "pck - pcj", 6)} AS rate
         |  FROM lo JOIN hi ON jb <= kb),
         |mm AS (SELECT b.bin, b.n_rows, b.n_pos, iv.jb,
         |    min(iv.rate) AS m
         |  FROM b JOIN iv ON iv.jb <= b.bin AND iv.kb >= b.bin
         |  GROUP BY 1, 2, 3, 4),
         |f AS (SELECT bin, n_rows, n_pos, max(m) AS fitted_e6 FROM mm
         |  GROUP BY 1, 2, 3)
         |SELECT CAST(bin AS BIGINT) AS bin, n_rows,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  ${ratioScaledSql("n_pos", "n_rows", 6)} AS rate_e6,
         |  fitted_e6
         |FROM f""".stripMargin
    }),

    // ---- privacy: t-CLOSENESS EMD per (nation, segment) class —
    // q131's k/l flags don't see a class whose acctbal DISTRIBUTION
    // skews; ordered-distance EMD vs the global distribution over
    // 1000-dollar buckets (shifted positive so both engines' integer
    // division agrees), exact e6 through one decimal accumulator.
    Query("q283_tcloseness", (s, dir) =>
      PrivacyAudit.tCloseness(T(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        expr("(cast(round(c_acctbal * 100, 0) as long) + 100000)" +
          " div 100000")), {
      // q283: class×value grid with zero-fill, per-class cumulative vs
      // global cumulative, HUGEINT |cumC·N − cumG·n_c| sum, one e6
      // division by n_c·N·(m−1)
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH b AS (SELECT c_nationkey AS qn, c_mktsegment AS qs,
         |    (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
         |      // 100000 AS v
         |  FROM customer),
         |cv AS (SELECT qn, qs, v, count(*) AS c FROM b GROUP BY 1, 2, 3),
         |cls AS (SELECT qn, qs, CAST(sum(c) AS BIGINT) AS cs
         |  FROM cv GROUP BY 1, 2),
         |gv AS (SELECT v, CAST(sum(c) AS BIGINT) AS g FROM cv
         |  GROUP BY 1),
         |gc AS (SELECT v, CAST(sum(g) OVER (ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumg FROM gv),
         |tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS m FROM gv),
         |grid AS (SELECT cls.qn, cls.qs, cls.cs, gc.v, gc.cumg,
         |    coalesce(cv.c, 0) AS c
         |  FROM cls CROSS JOIN gc
         |  LEFT JOIN cv ON cv.qn = cls.qn AND cv.qs = cls.qs
         |    AND cv.v = gc.v),
         |cum AS (SELECT qn, qs, cs, cumg,
         |    sum(c) OVER (PARTITION BY qn, qs ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) AS cumc FROM grid),
         |d AS (SELECT qn, qs, cs,
         |    sum(abs(CAST(cumc AS HUGEINT) * tot.nn
         |      - CAST(cumg AS HUGEINT) * cs)) AS dev,
         |    max(tot.nn) AS nn, max(tot.m) AS m
         |  FROM cum CROSS JOIN tot GROUP BY 1, 2, 3)
         |SELECT qn AS c_nationkey, qs AS c_mktsegment,
         |  cs AS class_size,
         |  ${ratioScaledSql("dev",
             "CAST(cs AS HUGEINT) * nn * (m - 1)", 6)} AS emd_e6
         |FROM d""".stripMargin
    }),

    // ---- model-eval: MARKOV NEXT-EVENT BACKTEST — q122's transition
    // matrix actually scored: train on the first half of the horizon
    // (by target-event day), argmax successor per from_type (ties to
    // smallest to_type), top-1 accuracy on the second half; unseen
    // from_types predict NULL and score 0 — the cold-start rate is
    // part of the card.
    Query("q318_markov_backtest", (s, dir) =>
      EventAnalytics.markovBacktest(
        T(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", "event_type"), {
      // q318: per-user lead pairs tagged train/test at the horizon
      // midpoint by TARGET-event day; train argmax (n DESC, to ASC);
      // NULL-predicted (cold-start) groups kept
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS ts,
         |    event_id AS eid, event_type AS ft,
         |    epoch_ns(ts) // 86400000000000 AS day FROM events
         |  WHERE user_id IS NOT NULL),
         |tr AS (SELECT ft AS from_type, lead(ft) OVER w AS to_type,
         |    lead(day) OVER w AS to_day
         |  FROM e WINDOW w AS (PARTITION BY u ORDER BY ts, eid)),
         |t2 AS (SELECT * FROM tr WHERE to_type IS NOT NULL),
         |h AS (SELECT min(to_day) AS d0, max(to_day) AS d1 FROM t2),
         |tag AS (SELECT from_type, to_type,
         |    to_day >= ((d0 + d1) // 2) + 1 AS is_test
         |  FROM t2 CROSS JOIN h),
         |tc AS (SELECT from_type, to_type, count(*) AS n FROM tag
         |  WHERE NOT is_test GROUP BY 1, 2),
         |pred AS (SELECT from_type, to_type AS predicted FROM (
         |    SELECT from_type, to_type, row_number() OVER (
         |      PARTITION BY from_type ORDER BY n DESC, to_type ASC)
         |      AS rn FROM tc) WHERE rn = 1),
         |sc AS (SELECT tag.from_type, pred.predicted,
         |    count(*) AS n_test,
         |    CAST(sum(CASE WHEN tag.to_type = pred.predicted THEN 1
         |      ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM tag LEFT JOIN pred ON pred.from_type = tag.from_type
         |  WHERE tag.is_test GROUP BY 1, 2)
         |SELECT from_type, predicted, n_test, n_correct,
         |  ${ratioScaledSql("n_correct", "n_test", 6)} AS acc_e6
         |FROM sc""".stripMargin
    }),

    // ---- eval: BRIER DECOMPOSITION — the q215/q203 score+label
    // surface (quality rational e6 vs gopher keep) summarized as
    // reliability / resolution / uncertainty over 10 equal-width bins.
    Query("q339_brier", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = TextAnalysis.qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 6)
            .as("p_e6"))
      val label = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      EvalMetrics.brierDecomposition(scored.join(label, "doc_id"),
        "p_e6", "keep")
    }, {
      // q339: q215's t/j score+label chain at e6, equal-width bins with
      // the top fold, truncated bin means, DECIMAL-safe squared sums,
      // one truncating e6 quotient per component
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id,
         |    ${ratioScaledSql(qScoreNum, qScoreDen, 6)} AS p,
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
         |j AS (SELECT p, CASE WHEN ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2))
         |    THEN 1 ELSE 0 END AS yi
         |  FROM t),
         |b AS (SELECT least(p // 100000, 9) AS bin, p, yi FROM j),
         |g AS (SELECT bin, count(*) AS n, sum(p) AS sp, sum(yi) AS sy,
         |    sum(CAST(p - 1000000 * yi AS HUGEINT) *
         |      (p - 1000000 * yi)) AS sq
         |  FROM b GROUP BY 1),
         |s AS (SELECT n, sy, sq,
         |    CAST(sp AS HUGEINT) // n AS pbar,
         |    (CAST(sy AS HUGEINT) * 1000000) // n AS ybar FROM g),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(sy) AS BIGINT) AS gsy, sum(sq) AS gsq FROM g),
         |tot2 AS (SELECT *, (CAST(gsy AS HUGEINT) * 1000000) // nn
         |    AS gybar FROM tot),
         |agg AS (SELECT max(nn) AS n_rows, max(gsy) AS gsy,
         |    max(gsq) AS gsq,
         |    sum((pbar - ybar) * (pbar - ybar) * n) AS rel,
         |    sum((ybar - gybar) * (ybar - gybar) * n) AS res
         |  FROM s CROSS JOIN tot2)
         |SELECT n_rows,
         |  CAST(gsq // (CAST(n_rows AS HUGEINT) * 1000000) AS BIGINT)
         |    AS brier_e6,
         |  CAST(rel // (CAST(n_rows AS HUGEINT) * 1000000) AS BIGINT)
         |    AS reliability_e6,
         |  CAST(res // (CAST(n_rows AS HUGEINT) * 1000000) AS BIGINT)
         |    AS resolution_e6,
         |  CAST((CAST(gsy AS HUGEINT) * (n_rows - gsy) * 1000000) //
         |    (CAST(n_rows AS HUGEINT) * n_rows) AS BIGINT)
         |    AS uncertainty_e6
         |FROM agg""".stripMargin
    }),

    // ---- sampling: CLASS-BALANCED OVERSAMPLING, materialized — the
    // gate aggregates the actual per-copy row stream and must match
    // the oracle's closed form exactly (rep + deterministic remainder
    // on the smallest ids).
    Query("q341_class_balance", (s, dir) => {
      val m = Sampling.oversampleBalanced(T(s, dir, "embeddings"),
        "vec_id", "label")
      m.groupBy(col("label"))
        .agg(sum(when(col("copy_idx") === 1L, 1L).otherwise(0L))
            .cast("long").as("n_source"),
          count(lit(1)).as("n_materialized"),
          max(col("copy_idx")).as("max_copies"))
    },
      // q341: the closed form the materialized stream must reproduce —
      // target = majority count, rep = target // n, remainder bumps
      // max_copies when it is nonzero
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
        |    count(*) AS n FROM embeddings GROUP BY 1),
        |t AS (SELECT max(n) AS target FROM c)
        |SELECT label, n AS n_source,
        |  CAST(t.target AS BIGINT) AS n_materialized,
        |  (t.target // n) + CASE WHEN t.target % n > 0 THEN 1 ELSE 0
        |    END AS max_copies
        |FROM c CROSS JOIN t""".stripMargin),

    // ---- privacy: GENERALIZATION LADDER — k-anonymity coarsening
    // sweep over acctbal bucket widths (true floor on the signed
    // balances), per-width class stats and the k-ok verdict.
    Query("q342_generalization_ladder", (s, dir) =>
      PrivacyAudit.generalizationLadder(T(s, dir, "customer"),
        "c_mktsegment",
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"),
        widths = Seq(1000L, 10000L, 100000L, 1000000L), k = 10L),
      // q342: widths via unnest, TRUE floor bucketing spelled as the
      // pmod-subtract form (balances are signed), two tallies
      """WITH w AS (SELECT CAST(unnest([1000, 10000, 100000, 1000000])
        |    AS BIGINT) AS width_e2),
        |r AS (SELECT c_mktsegment AS cat,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v FROM customer),
        |cl AS (SELECT w.width_e2, r.cat,
        |    (r.v - (((r.v % w.width_e2) + w.width_e2) % w.width_e2))
        |      // w.width_e2 AS bucket,
        |    count(*) AS sz
        |  FROM r CROSS JOIN w GROUP BY 1, 2, 3)
        |SELECT width_e2, count(*) AS n_classes,
        |  min(sz) AS min_class_size,
        |  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
        |    AS n_violating_rows,
        |  min(sz) >= 10 AS k_ok
        |FROM cl GROUP BY 1""".stripMargin),

    // ---- privacy: RECURSIVE (c,l)-DIVERSITY — the dominance test
    // k/l flags miss (q66's class can hold l values yet be 99% one
    // value): r1 < c·Σ_{i≥l} r_i per class, exact integer cross-
    // multiplication with c = 1/1, l = 3.
    Query("q345_recursive_ldiversity", (s, dir) =>
      PrivacyAudit.recursiveLDiversity(T(s, dir, "customer"),
        Seq("c_mktsegment"), "c_nationkey", l = 3, cNum = 1L, cDen = 1L),
      // q345: frequency rank per class (count desc, value asc), exact
      // cross-multiplied dominance verdict
      """WITH cnt AS (SELECT c_mktsegment, c_nationkey AS sv,
        |    count(*) AS c FROM customer GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c DESC, sv ASC) AS rk FROM cnt)
        |SELECT c_mktsegment,
        |  CAST(sum(c) AS BIGINT) AS class_size,
        |  count(*) AS n_sensitive,
        |  max(CASE WHEN rk = 1 THEN c END) AS r1,
        |  CAST(sum(CASE WHEN rk >= 3 THEN c ELSE 0 END) AS BIGINT)
        |    AS tail_from_l,
        |  count(*) >= 3 AND max(CASE WHEN rk = 1 THEN c END) * 1 <
        |    sum(CASE WHEN rk >= 3 THEN c ELSE 0 END) * 1 AS recursive_ok
        |FROM r GROUP BY 1""".stripMargin),

    // ---- eval: RANK-BIASED OVERLAP per source — do the by-chars and
    // by-words top-10 doc rankings agree where it matters? RBO_min at
    // p=0.9 as exact floored-e6 rational terms (Webber et al. 2010),
    // the top-weighted cousin of q240's Spearman.
    Query("q287_rbo", (s, dir) =>
      EvalMetrics.rankBiasedOverlap(
        T(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars"),
          size(TextFns.words(col("text"))).cast("long").as("nw__")),
        "source", "doc_id", col("n_chars"), col("nw__"),
        depth = 10, pNum = 9L, pDen = 10L), {
      // q287: (score DESC, doc_id ASC) top-10 prefixes per source,
      // overlap-at-depth via the max-rank trick, per-depth floored e6
      // terms (9^(d-1)/10^d exact rationals), zero-overlap sources
      // restored by the left join
      def powL(b: Long, e: Int): Long =
        (1 to e).foldLeft(1L)((a, _) => a * b)
      val ovs = (1 to 10).map(d =>
        s"CAST(sum(CASE WHEN md <= $d THEN 1 ELSE 0 END) AS BIGINT)" +
          s" AS ov$d").mkString(",\n    ")
      val terms = (1 to 10).map(d =>
        s"(${1000000L * powL(9L, d - 1)} * coalesce(ov$d, 0)) " +
          s"// ${powL(10L, d) * d}").mkString("\n    + ")
      s"""WITH b AS (SELECT source, doc_id, n_chars,
         |    $qNWords AS nw FROM documents),
         |ra AS (SELECT source, doc_id, row_number() OVER
         |    (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC)
         |    AS r FROM b QUALIFY r <= 10),
         |rb AS (SELECT source, doc_id, row_number() OVER
         |    (PARTITION BY source ORDER BY nw DESC, doc_id ASC)
         |    AS r FROM b QUALIFY r <= 10),
         |j AS (SELECT ra.source, greatest(ra.r, rb.r) AS md
         |  FROM ra JOIN rb ON rb.source = ra.source
         |    AND rb.doc_id = ra.doc_id),
         |ag AS (SELECT source,
         |    $ovs
         |  FROM j GROUP BY 1)
         |SELECT g.source, coalesce(ag.ov10, 0) AS overlap_at_depth,
         |  ($terms) AS rbo_min_e6
         |FROM (SELECT DISTINCT source FROM b) g
         |LEFT JOIN ag ON ag.source = g.source""".stripMargin
    }),

    // ---- splits: EXACT-COUNT stratified 8/1/1 by language — q50's
    // hash bands give expected shares; this ranks each stratum by
    // (md5, id) and cuts at exact floor quotas. Per-doc membership
    // gated (not just counts).
    Query("q294_exact_split", (s, dir) =>
      Sampling.exactSplit(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", weights = Seq(8, 1, 1),
        labels = Seq("train", "val", "test")),
      // q294: (md5, id) rank per stratum, exact floor-quota cuts; the
      // engine's range-partitioned rank and this window agree because
      // the sort key is unique
      """WITH b AS (SELECT doc_id, lang,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY h, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS m FROM b)
        |SELECT doc_id, lang,
        |  CASE WHEN rn <= (m * 8) // 10 THEN 'train'
        |    WHEN rn <= (m * 9) // 10 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM r""".stripMargin),

    // ---- eval: SPEARMAN rank correlation per return flag — q75's
    // monotonic twin: Pearson over DOUBLED tie-averaged ranks
    // (2·below + ties + 1, always integer), tie correction for free,
    // same exact-sum discipline.
    Query("q240_spearman", (s, dir) =>
      GroupStats.spearman(T(s, dir, "lineitem"), Seq("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        expr("cast(round(l_quantity, 0) as bigint)")),
      // q240: q75's five-sum mirror fed by doubled tie-averaged ranks
      // from per-group distinct tallies + below-count windows
      """WITH c AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |tx AS (SELECT l_returnflag, x, count(*) AS cnt,
        |    coalesce(sum(count(*)) OVER (PARTITION BY l_returnflag
        |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS below
        |  FROM c GROUP BY 1, 2),
        |ty AS (SELECT l_returnflag, y, count(*) AS cnt,
        |    coalesce(sum(count(*)) OVER (PARTITION BY l_returnflag
        |      ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS below
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT c.l_returnflag,
        |    2 * tx.below + tx.cnt + 1 AS rx,
        |    2 * ty.below + ty.cnt + 1 AS ry
        |  FROM c JOIN tx ON tx.l_returnflag = c.l_returnflag
        |    AND tx.x = c.x
        |  JOIN ty ON ty.l_returnflag = c.l_returnflag AND ty.y = c.y),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(rx AS HUGEINT)) AS sx,
        |    sum(CAST(ry AS HUGEINT)) AS sy,
        |    sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
        |    sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy,
        |    sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy
        |  FROM r GROUP BY 1),
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
        |  END AS rho
        |FROM v""".stripMargin),

    // ---- selection: k-CENTER GREEDY coreset (Gonzalez) — 5 diverse
    // exemplars of the embedding corpus, each step adding the point
    // farthest (exact integer L2) from the selected set; the emitted
    // min_d2 curve is the coverage radius² per size. Unrolled-CTE
    // oracle like q230.
    Query("q239_kcenter_coreset", (s, dir) =>
      Prototypes.kCenterGreedy(T(s, dir, "embeddings"), "vec_id",
        "embedding", k = 5), {
      // q239: the greedy loop unrolled — per step, distances of every
      // unselected candidate to each selected point (u self-join
      // restricted to the selected ids), min per candidate, 1-row
      // argmax by (d2 DESC, id ASC), selection grows by UNION ALL
      def iter(t: Int) =
        s"""d$t AS (SELECT a.vec_id, s.vec_id AS sv,
           |    sum(CAST(a.u - b.u AS HUGEINT) * (a.u - b.u)) AS d2
           |  FROM u a, sel${t - 1} s
           |  JOIN u b ON b.vec_id = s.vec_id
           |  WHERE b.dim = a.dim
           |    AND a.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
           |  GROUP BY 1, 2),
           |m$t AS (SELECT vec_id, min(d2) AS md FROM d$t GROUP BY 1),
           |n$t AS (SELECT vec_id, md FROM m$t
           |  ORDER BY md DESC, vec_id ASC LIMIT 1),
           |sel$t AS (SELECT * FROM sel${t - 1}
           |  UNION ALL SELECT $t AS step, vec_id,
           |    CAST(md AS HUGEINT) AS md FROM n$t)""".stripMargin
      s"""WITH u AS (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
         |      AS BIGINT) AS u
         |  FROM embeddings),
         |sel0 AS (SELECT 0 AS step, vec_id, CAST(0 AS HUGEINT) AS md
         |  FROM (SELECT vec_id FROM embeddings
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT CAST(step AS BIGINT) AS step, vec_id,
         |  CAST(md AS BIGINT) AS min_d2_e12
         |FROM sel4""".stripMargin
    }),

    // ---- eval: exact ROC-AUC of the quality score against the
    // Gopher keep label — tie-corrected Mann–Whitney over the q203
    // score/label surface; per-distinct-score tally + range-
    // partitioned below-count, never pairwise
    Query("q215_roc_auc", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = TextAnalysis.qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 4)
            .as("q_e4"))
      val label = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      EvalMetrics.rocAuc(scored.join(label, "doc_id"), "q_e4", "keep")
    }, {
      // q215: q203's t/j score/label derivation; per-distinct-score
      // tally, exclusive below-window, one HUGEINT pair aggregate
      import graft.functions.ExactRound.{ratioScaledSql,
        ratioScaledSignedSql}
      s"""WITH t AS (SELECT doc_id,
         |    ${ratioScaledSql(qScoreNum, qScoreDen, 4)} AS q_e4,
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
         |j AS (SELECT q_e4 AS s,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS y
         |  FROM t),
         |g AS (SELECT s,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         |    sum(CASE WHEN y THEN 0 ELSE 1 END) AS neg
         |  FROM j GROUP BY 1),
         |c AS (SELECT pos, neg,
         |    coalesce(sum(neg) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS below
         |  FROM g),
         |a AS (SELECT sum(pos) AS n_pos, sum(neg) AS n_neg,
         |    count(*) AS n_scores,
         |    sum(CAST(pos AS HUGEINT) * below) AS wins,
         |    sum(CAST(pos AS HUGEINT) * neg) AS ties
         |  FROM c)
         |SELECT CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(n_neg AS BIGINT) AS n_neg, n_scores,
         |  ${ratioScaledSql("2 * wins + ties",
             "2 * CAST(n_pos AS HUGEINT) * n_neg", 6)} AS auc_e6,
         |  ${ratioScaledSignedSql(
             "2 * wins + ties - CAST(n_pos AS HUGEINT) * n_neg",
             "CAST(n_pos AS HUGEINT) * n_neg", 6)} AS gini_e6
         |FROM a""".stripMargin
    }),

    // ---- mixing: EPOCH SCHEDULE of the q204 water-fill — per-source
    // repeat factors (full passes + exact e6 partial fraction), the
    // q88 decomposition applied to the capped allocator; saturated
    // sources read exactly maxEpochs full passes
    Query("q213_waterfill_epochs", (s, dir) =>
      Apportion.waterFillEpochPlan(
        T(s, dir, "documents").select(col("source"),
          length(col("text")).as("n_chars")),
        "source", "n_chars", budgetNum = 17L, budgetDen = 10L,
        maxEpochs = 2L),
      // q213: the q204 mirror wrapped in the same epoch decomposition
      Apportion.waterFillEpochPlanSql(
        "(SELECT source, length(text) AS n_chars FROM documents) d__",
        "source", "n_chars", 17L, 10L, 2L)),

    // ---- mixing: SHARD-MIX audit of the q211 schedule — per
    // contiguous position slice, each source's share vs the global
    // mix with the exact e6 deviation (the interleave property AS A
    // GATE, not a claim)
    Query("q212_shard_mix", (s, dir) =>
      Apportion.interleaveShardMix(T(s, dir, "documents"), "doc_id",
        "source", shards = 10),
      // q212: same position math, slice + share mirror
      Apportion.interleaveShardMixSql("documents", "doc_id", "source",
        shards = 10)),

    // ---- eval: deterministic BOOTSTRAP error bars — 32 key-hash
    // half-rate replicates of mean document length, each an exact e6
    // mean; the replicate spread is the corpus metric's sampling
    // uncertainty, reproducible bit for bit (no RNG)
    Query("q202_bootstrap_ci", (s, dir) =>
      Sampling.bootstrapMeans(
        T(s, dir, "documents").select(col("doc_id"),
          length(col("text")).as("n_chars")),
        "doc_id", "n_chars", reps = 32), {
      // q202: the same md5("key:rep") membership rule and exact e6
      // replicate means (char length: both engines count CHARACTERS)
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH b AS (SELECT r.rep, length(d.text) AS v
         |  FROM documents d,
         |    (SELECT unnest(range(0, 32)) AS rep) r
         |  WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || ':'
         |    || CAST(r.rep AS VARCHAR)), 1, 1) < '8')
         |SELECT CAST(rep AS INTEGER) AS rep, count(*) AS n_rows,
         |  ${ratioScaledSql("sum(v)", "count(*)", 6)} AS mean_e6
         |FROM b GROUP BY 1""".stripMargin
    }),

    // ---- eval: CALIBRATION of the scored quality filter against the
    // Gopher rule outcome — reliability-diagram bins + ECE (Guo et
    // al. 2017): "when the score says 0.7, do the rules keep 70%?";
    // the q201 agreement pair read as (confidence, outcome)
    Query("q203_calibration", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = TextAnalysis.qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 4)
            .as("q_e4"))
      val label = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      EvalMetrics.calibrationBins(scored.join(label, "doc_id"),
        "q_e4", "keep", bins = 10)
    }, {
      // q203: q201's t/j derivation with the score kept as its e4
      // integer; equal-width bins (top edge clamped), exact e6 per-bin
      // rationals, ECE re-aggregating the SAME rounded gaps
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id,
         |    ${ratioScaledSql(qScoreNum, qScoreDen, 4)} AS q_e4,
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
         |j AS (SELECT q_e4,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS keep
         |  FROM t),
         |b AS (SELECT least(q_e4 // 1000, 9) AS bin,
         |    count(*) AS n_rows, sum(q_e4) AS sum_q,
         |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_pos
         |  FROM j GROUP BY 1),
         |c AS (SELECT bin, n_rows, n_pos,
         |    ${ratioScaledSql("sum_q", "n_rows", 2)} AS conf_e6,
         |    ${ratioScaledSql("n_pos", "n_rows", 6)} AS acc_e6
         |  FROM b),
         |g AS (SELECT *, abs(conf_e6 - acc_e6) AS gap_e6 FROM c)
         |SELECT CAST(bin AS BIGINT) AS bin, n_rows,
         |  CAST(n_pos AS BIGINT) AS n_pos, conf_e6, acc_e6, gap_e6,
         |  ${ratioScaledSql(
             "sum(CAST(n_rows AS HUGEINT) * gap_e6) OVER ()",
             "sum(n_rows) OVER ()", 0)} AS ece_e6
         |FROM g""".stripMargin
    }),

    // ---- selection: DSIR-flavored importance score — per-doc mean
    // smoothed unigram likelihood ratio of the lang='en' target slice
    // vs the whole corpus, exact e6 rationals (the "does this doc
    // look like the target distribution?" selector signal)
    Query("q205_importance_score", (s, dir) =>
      ImportanceScore.targetLikeness(T(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en"), {
      // q205: one token scan builds both count tables (target count as
      // a conditional sum), scalar totals cross-join back, identical
      // cross-multiplied HUGEINT rounding — the q85 shape
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id, (lang = 'en') AS tgt,
         |    unnest($wordsSql) AS w
         |  FROM documents),
         |c AS (SELECT w, count(*) AS cc,
         |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
         |  FROM t GROUP BY 1),
         |g AS (SELECT CAST(sum(cc) AS HUGEINT) AS allc,
         |    CAST(sum(ct) AS HUGEINT) AS allt,
         |    CAST(count(*) AS HUGEINT) AS vocab
         |  FROM c),
         |s AS (SELECT doc_id, ${ratioScaledSql(
              "(ct + 1) * (allc + vocab)",
              "(allt + vocab) * (cc + 1)", 6)} AS r6
         |  FROM t JOIN c USING (w) CROSS JOIN g),
         |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(r6) AS BIGINT) AS sum_r
         |  FROM s GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
         |  coalesce(sum_r, 0) AS sum_ratio_e6,
         |  ${ratioScaledSql("sum_r", "n_words", 0)} AS mean_ratio_e6
         |FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin
    }),

    // ---- mixing: UniMax EPOCH-CAPPED water-filling — equal budget
    // split across sources, no source repeated past 2 epochs, freed
    // budget re-split (closed-form prefix saturation; budget = 17/10
    // of corpus chars so small sources genuinely saturate at the gate
    // SF while the rest share the water line)
    Query("q204_unimax_waterfill", (s, dir) =>
      Apportion.epochCappedWaterFill(
        T(s, dir, "documents").select(col("source"),
          length(col("text")).as("n_chars")),
        "source", "n_chars", budgetNum = 17L, budgetDen = 10L,
        maxEpochs = 2L),
      // q204: the shared mirror emits the same prefix-saturation
      // predicate, residual hand-out and HUGEINT lineage
      s"""${Apportion.epochCappedWaterFillSql(
            "(SELECT source, length(text) AS n_chars FROM documents) d__",
            "source", "n_chars", 17L, 10L, 2L)}""".stripMargin),

    // ---- eval: filter AGREEMENT (Cohen's kappa) — the q18 scored
    // quality filter (rounded composite >= 0.5) against the q81
    // Gopher rule gate, chance-corrected: the "can filter B replace
    // filter A" number a curation pipeline reads before swapping
    // filters; exact e6 rationals end to end
    Query("q201_filter_agreement", (s, dir) => {
      val docs = T(s, dir, "documents")
      val a = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), (col("quality") >= 0.5).as("a_keep"))
      val b = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep").as("b_keep"))
      EvalMetrics.cohenKappa(a.join(b, "doc_id"), "a_keep", "b_keep")
    }, {
      // q201: both filters re-derived from their existing mirrors (q18
      // quality rational, q81 Gopher rules), then the 2×2 table and
      // κ = (n·agree − E)/(n² − E) in HUGEINT — the exact twin of the
      // engine's DECIMAL(38,0) path
      import graft.functions.ExactRound.{ratioSql, ratioScaledSql,
        ratioScaledSignedSql}
      val eTerm = "(CAST(na AS HUGEINT) * nb + " +
        "CAST(n - na AS HUGEINT) * (n - nb))"
      s"""WITH t AS (SELECT doc_id,
         |    ${ratioSql(qScoreNum, qScoreDen, 4)} AS q,
         |    CAST(len($wordsSql) AS BIGINT) AS nw,
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
         |j AS (SELECT (q >= 0.5) AS a_keep,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS b_keep
         |  FROM t),
         |g AS (SELECT count(*) AS n,
         |    sum(CASE WHEN a_keep THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN b_keep THEN 1 ELSE 0 END) AS nb,
         |    sum(CASE WHEN a_keep AND b_keep THEN 1 ELSE 0 END) AS nab
         |  FROM j)
         |SELECT CAST(n AS BIGINT) AS n_docs, CAST(na AS BIGINT)
         |    AS n_a_keep,
         |  CAST(nb AS BIGINT) AS n_b_keep, CAST(nab AS BIGINT)
         |    AS n_both_keep,
         |  CAST(2 * nab + n - na - nb AS BIGINT) AS n_agree,
         |  ${ratioScaledSql("2 * nab + n - na - nb", "n", 6)} AS po_e6,
         |  ${ratioScaledSql(eTerm, "CAST(n AS HUGEINT) * n", 6)} AS pe_e6,
         |  ${ratioScaledSignedSql(
            s"CAST(n AS HUGEINT) * (2 * nab + n - na - nb) - $eTerm",
            s"CAST(n AS HUGEINT) * n - $eTerm", 6)} AS kappa_e6
         |FROM g""".stripMargin
    }),

    // ---- eval: stratified 5-fold assignment — per language stratum,
    // folds taken round-robin along the (md5, key) permutation:
    // balanced to within one row per stratum, reproducible everywhere
    Query("q187_stratified_kfold", (s, dir) =>
      Sampling.stratifiedKFold(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", k = 5),
      // q187: identical permutation and round-robin arithmetic
      """SELECT doc_id, lang, (rn - 1) % 5 AS fold
        |FROM (SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)""".stripMargin),

    // ---- eval: per-class precision/recall/F1 — q133's NCM confusion
    // tallied into the classifier eval sheet, every metric an exact
    // e6 rational (F1 as the single rational 2tp/(n_true+n_pred))
    Query("q186_class_metrics", (s, dir) =>
      EvalMetrics.classMetrics(
        Prototypes.prototypeConfusion(T(s, dir, "embeddings"),
          "vec_id", "embedding", "label"),
        "true_label", "assigned_label", "n_vecs"),
      // q186: per-class tallies off the shared confusion CTE; F1 as the
      // single rational 2tp/(n_true + n_pred)
      s"""WITH $protoConfusionCtes,
         |cls AS (SELECT true_label AS label FROM conf
         |  UNION SELECT assigned_label FROM conf),
         |tp AS (SELECT true_label AS label,
         |    CAST(sum(n_vecs) AS BIGINT) AS tp FROM conf
         |  WHERE true_label = assigned_label GROUP BY 1),
         |tc AS (SELECT true_label AS label,
         |    CAST(sum(n_vecs) AS BIGINT) AS n_true FROM conf GROUP BY 1),
         |pc AS (SELECT assigned_label AS label,
         |    CAST(sum(n_vecs) AS BIGINT) AS n_pred FROM conf GROUP BY 1)
         |SELECT cls.label, coalesce(tp, 0) AS tp,
         |  coalesce(n_pred, 0) - coalesce(tp, 0) AS fp,
         |  coalesce(n_true, 0) - coalesce(tp, 0) AS fn,
         |  coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "coalesce(tp, 0)", "coalesce(n_pred, 0)", 6)}
         |    AS precision_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "coalesce(tp, 0)", "coalesce(n_true, 0)", 6)}
         |    AS recall_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "2 * coalesce(tp, 0)",
              "coalesce(n_true, 0) + coalesce(n_pred, 0)", 6)} AS f1_e6
         |FROM cls LEFT JOIN tp USING (label)
         |  LEFT JOIN tc USING (label) LEFT JOIN pc USING (label)"""
        .stripMargin),

    // ---- QA: Merkle-style bucketed column checksums — q159's
    // order-independent lanes per key-hash bucket (16 buckets): the
    // "WHERE do two table versions differ?" localizer
    Query("q185_bucket_checksums", (s, dir) =>
      Profile.bucketChecksums(T(s, dir, "customer"), "c_custkey",
        Seq("c_custkey", "c_name", "c_mktsegment"), nBuckets = 16), {
      // q185: q159's hex-lane mirrors grouped by the low-32-bit bucket
      val mod = 1L << 62
      val bucket =
        s"(${hex32Sql("md5(CAST(c_custkey AS VARCHAR))", 9)}) % 16"
      def one(c: String) = {
        val md5c = s"md5(CAST($c AS VARCHAR))"
        def lane(from: Int) =
          s"""CAST(coalesce(sum(CASE WHEN $c IS NOT NULL THEN
             |    CAST(${hex32Sql(md5c, from)} AS HUGEINT) END), 0)
             |  % $mod AS BIGINT)""".stripMargin
        s"""SELECT $bucket AS bucket, '$c' AS col_name,
           |  CAST(count($c) AS BIGINT) AS n_values,
           |  ${lane(1)} AS checksum_hi,
           |  ${lane(9)} AS checksum_lo
           |FROM customer GROUP BY 1""".stripMargin
      }
      s"""${one("c_custkey")}
         |UNION ALL ${one("c_name")}
         |UNION ALL ${one("c_mktsegment")}""".stripMargin
    }),

    // ---- mixture QA: source concentration — HHI + CR1/CR4 of char
    // mass across sources, all exact scaled integers: the "is the
    // corpus dominated by a few sources?" one-row diagnostic
    Query("q178_source_concentration", (s, dir) =>
      Profile.concentration(T(s, dir, "documents"), "source",
        col("n_chars")), {
      // q178: same positive-weight group table, HUGEINT Σw²/total²
      // rational for HHI, top-4 by (weight desc, group asc)
      val rs = graft.functions.ExactRound
      s"""WITH c AS (SELECT source AS g,
         |    CAST(sum(n_chars) AS BIGINT) AS w
         |  FROM documents GROUP BY 1 HAVING sum(n_chars) > 0),
         |t AS (SELECT count(*) AS n_groups,
         |    CAST(sum(w) AS BIGINT) AS total_units,
         |    sum(CAST(w AS HUGEINT) * w) AS sumsq FROM c),
         |tp AS (SELECT coalesce(max(w), 0) AS top1,
         |    CAST(coalesce(sum(w), 0) AS BIGINT) AS top4
         |  FROM (SELECT w FROM c ORDER BY w DESC, g ASC LIMIT 4))
         |SELECT n_groups, total_units,
         |  ${rs.ratioScaledSql("sumsq",
              "CAST(total_units AS HUGEINT) * total_units", 6)} AS hhi_e6,
         |  ${rs.ratioScaledSql("top1", "total_units", 6)} AS cr1_e6,
         |  ${rs.ratioScaledSql("top4", "total_units", 6)} AS cr4_e6
         |FROM t, tp""".stripMargin
    }),

    // ---- eval hygiene: SEMANTIC decontamination — per corpus vector,
    // max cosine against the (q51-rule md5-prefix) benchmark vector
    // set + hit count + flag: the paraphrased-leak check n-gram
    // containment (q51/q61) cannot see; bench side broadcasts, one
    // corpus scan
    Query("q171_semantic_decontam", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val isBench =
        substring(md5(col("vec_id").cast("string")), 1, 2) < "1a"
      Decontaminate.semanticReport(emb.filter(!isBench),
        emb.filter(isBench), "vec_id", "embedding", threshold = 0.3)
    },
      // q171: same md5-prefix bench split, exact cosine of every
      // (corpus, bench) pair, max/count/flag with the threshold on the
      // e6-ROUNDED cosine (r13: Spark and DuckDB sum the dot product in
      // different orders — a pair exactly at the threshold must not
      // flip the hit count between engines)
      """WITH bench AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a'),
        |corp AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE NOT substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a'),
        |cx AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM corp),
        |bx AS (SELECT vec_id AS b_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS y FROM bench),
        |cn AS (SELECT vec_id, sum(x * x) AS nn FROM cx GROUP BY 1),
        |bn AS (SELECT b_id, sum(y * y) AS nn FROM bx GROUP BY 1),
        |d AS (SELECT cx.vec_id, bx.b_id, sum(x * y) AS dot
        |  FROM cx JOIN bx USING (i) GROUP BY 1, 2),
        |c AS (SELECT d.vec_id,
        |    dot / (sqrt(cn.nn) * sqrt(bn.nn)) AS cos
        |  FROM d JOIN cn USING (vec_id) JOIN bn USING (b_id))
        |SELECT vec_id, max(round(cos, 4)) AS max_cosine,
        |  CAST(sum(CASE WHEN round(cos, 6) >= 0.3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bench_hits,
        |  sum(CASE WHEN round(cos, 6) >= 0.3 THEN 1 ELSE 0 END) > 0
        |    AS contaminated
        |FROM c GROUP BY 1""".stripMargin),

    // ---- eval: retrieval metrics — hits@10 / first-relevant rank /
    // MRR / recall@10 / nDCG@10 per query over the embedding corpus,
    // relevance = label agreement; DCG weights ship as a shared
    // e9-scaled table so the whole metric surface is integer-exact
    Query("q170_retrieval_metrics", (s, dir) =>
      RetrievalEval.relevanceMetrics(T(s, dir, "embeddings"),
        "vec_id", "embedding", "label",
        queryIds = (0L until 8L).toSeq, k = 10), {
      // q170: q82's exact ranked run (round(cos,6) desc, id tie-break)
      // + the SAME e9 DCG weight / ideal-prefix tables as VALUES
      // literals (RetrievalEval.dcgWeightsE9 — one Scala derivation for
      // both engines) + the identical rounding identity for MRR /
      // recall / nDCG
      val wt = graft.operators.RetrievalEval.dcgWeightsE9(10)
        .zipWithIndex.map { case (w, i) => s"(${i + 1},$w)" }.mkString(",")
      val ic = graft.operators.RetrievalEval.idcgPrefixE9(10)
        .zipWithIndex.map { case (s0, i) => s"(${i + 1},$s0)" }.mkString(",")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    CAST(label AS BIGINT) AS q_lab
         |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)),
         |qx AS (SELECT query_id, generate_subscripts(qv, 1) AS i,
         |    CAST(unnest(qv) AS DOUBLE) AS y FROM q),
         |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |dots AS (SELECT query_id, vec_id,
         |    sum(x * y) AS dot, sum(x * x) AS na
         |  FROM ex JOIN qx USING (i)
         |  WHERE vec_id <> query_id GROUP BY 1, 2),
         |nq AS (SELECT query_id, sum(y * y) AS nb FROM qx GROUP BY 1),
         |r AS (SELECT d.query_id, d.vec_id,
         |    row_number() OVER (PARTITION BY d.query_id
         |      ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
         |        d.vec_id ASC) AS rk
         |  FROM dots d JOIN nq USING (query_id)),
         |run AS (SELECT query_id, vec_id, rk FROM r WHERE rk <= 10),
         |wt AS (SELECT i, w FROM (VALUES $wt) t(i, w)),
         |icg AS (SELECT n, s FROM (VALUES $ic) t(n, s)),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS c_lab
         |  FROM embeddings),
         |labc AS (SELECT CAST(label AS BIGINT) AS q_lab,
         |    count(*) AS n_lab FROM embeddings GROUP BY 1),
         |per AS (SELECT run.query_id, q.q_lab,
         |    CAST(sum(CASE WHEN l.c_lab = q.q_lab THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_rel_at_k,
         |    CAST(min(CASE WHEN l.c_lab = q.q_lab THEN rk END)
         |      AS BIGINT) AS first_rel_rank,
         |    CAST(sum(CASE WHEN l.c_lab = q.q_lab THEN wt.w ELSE 0 END)
         |      AS BIGINT) AS dcg_e9
         |  FROM run JOIN q USING (query_id)
         |    JOIN lab l ON l.vec_id = run.vec_id
         |    JOIN wt ON wt.i = run.rk
         |  GROUP BY 1, 2),
         |fin AS (SELECT per.*,
         |    greatest(coalesce(n_lab, 1) - 1, 0) AS n_rel_total
         |  FROM per LEFT JOIN labc USING (q_lab))
         |SELECT query_id, n_rel_at_k, first_rel_rank,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "1", "first_rel_rank", 6)} AS rr_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "n_rel_at_k", "n_rel_total", 6)} AS recall_e6,
         |  dcg_e9,
         |  CASE WHEN n_rel_total > 0 THEN
         |    ${graft.functions.ExactRound.ratioScaledSql(
               "dcg_e9", "icg.s", 6)}
         |  ELSE CAST(0 AS BIGINT) END AS ndcg_e6
         |FROM fin LEFT JOIN icg ON icg.n = least(n_rel_total, 10)""".stripMargin
    }),

    // ---- accuracy audit: every approximate operator (q24/q26/q30/q31/
    // q37/q61/q62 + the MG sketch's bound pair) re-checked against its
    // exact twin; the oracle is the constant all-true table, so a recall
    // collapse fails the gate as a hash mismatch instead of hiding
    // behind a row count
    // audit-only: exact quadratic twins re-verify every sketch. The
    // 1000-row bound keeps the audit's cost constant as SF grows (a
    // no-op at the sf0.01 gate corpora, which are 500 rows) — the gate
    // should measure operators, not the twins' O(n²) growth. Each check
    // compares exact vs approximate over the SAME slice, so recall
    // stays a paired comparison and the guarantee assertions hold on
    // any slice size.
    Query("q40_accuracy_audit", (s, dir) =>
      AccuracyAudit(s, dir, maxAuditRows = 1000),
      """SELECT 'simhash_pigeonhole_exact' AS check, true AS pass
        |UNION ALL SELECT 'ann_lsh_top10_overlap', true
        |UNION ALL SELECT 'ann_ivf_top10_overlap', true
        |UNION ALL SELECT 'embedding_lsh_recall', true
        |UNION ALL SELECT 'semantic_dedup_recall', true
        |UNION ALL SELECT 'bloom_decontaminate_superset', true
        |UNION ALL SELECT 'kmv_rel_err_bound', true
        |UNION ALL SELECT 'mg_tracked_bounds', true
        |UNION ALL SELECT 'mg_no_missed_heavy', true
        |UNION ALL SELECT 'hyperball_register_exact', true""".stripMargin))
}
