package graft
package catalog

import org.apache.spark.sql.functions._
import graft.operators._
import OracleSql._
import Stages._

/** Graphs: PageRank variants, HITS, Katz, BFS and reach, k-core and
  * k-truss, triangles and clustering, link prediction and label
  * propagation over the purchase and near-dup graphs.
  */
private[graft] object GraphQueries {

  /** Unrolled k-truss peel CTEs over the `p(id_a, id_b)` pair list a
    * preceding CTE chain provides: te0 = canonical edges, then per
    * round the directed double cover, wedge closure (support =
    * common-neighbor count — each triangle closes exactly one wedge
    * per edge), and the ≥ k−2 filter. Ends at `te<rounds>`(u, v,
    * support). Peeling is monotone, so rounds past the peel depth are
    * no-ops — mirroring GraphRank.kTruss's fixed-rounds contract.
    *
    * Wedges are enumerated by sorting each node's neighbor list and
    * expanding ordered index pairs (x from positions, y from the list
    * suffix) — NOT via a `b.u = a.u AND a.v < b.v` self-join: DuckDB
    * 1.0.0 plans that mixed equality+inequality ON clause as a
    * cross-graph IEJoin (the r17 gate blocker — 367 s for this query,
    * ~40 min for q327's triple form) instead of
    * hash-join-on-u-then-filter. The list expansion keeps equality as
    * the only join predicate anywhere in the chain.
    *
    * Every per-round CTE is `AS MATERIALIZED`: DuckDB 1.0.0 inlines a
    * CTE at each reference, and te<r> is referenced three times per
    * round (both UNION ALL branches of the double cover + the closure
    * join) — un-materialized, the chain re-evaluates upstream rounds
    * exponentially (a 5-round unroll ran >10 min; materialized it runs
    * ~2 s). */
  /** Rewrite every CTE definition in `sql` to `AS MATERIALIZED` —
    * DuckDB 1.0.0 inlines a CTE body at each reference, so the
    * unrolled fixed-point ladders (HITS, k-core, BFS, link
    * prediction, two-hop) re-evaluate all upstream rounds once per
    * reference and the gate cost grows exponentially with ladder
    * depth: q242's oracle measured 23 s un-materialized vs 0.1 s
    * materialized at sf0.01 (r18; the same inlining made a 5-round
    * k-truss unroll run >10 min). Only safe for oracles with no
    * RECURSIVE CTEs and no WINDOW clauses — neither form accepts
    * MATERIALIZED. Outside string literals, `name AS (` is unambiguous
    * in SQL: column aliases are `expr AS name`, derived tables are
    * `(...) AS name(cols)`, so the pattern only ever hits CTE
    * definitions — but a string LITERAL containing the pattern would
    * be silently corrupted by a blind replaceAll (r18 ADVICE), so the
    * rewrite is applied per quote-delimited segment and literals pass
    * through untouched ('' escaping splits into empty inside-segments,
    * which the alternation handles). */
  private def materializedCtes(sql: String): String = {
    require(!sql.contains("RECURSIVE") && !sql.contains("WINDOW "),
      "materializedCtes cannot wrap RECURSIVE CTEs or WINDOW clauses")
    // split on ': even-index segments are outside string literals
    sql.split("'", -1).zipWithIndex.map { case (seg, i) =>
      if (i % 2 == 0)
        seg.replaceAll("""([A-Za-z_][A-Za-z0-9_]*) AS \(""",
          "$1 AS MATERIALIZED (")
      else seg
    }.mkString("'")
  }

  private def kTrussCtes(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      "te0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p GROUP BY 1, 2)")
    for (r <- 0 until rounds) {
      sb.append(s""",
         |tund$r AS MATERIALIZED (SELECT u, v FROM te$r
         |  UNION ALL SELECT v, u FROM te$r),
         |adj$r AS MATERIALIZED (SELECT u, list(v ORDER BY v) AS vs
         |  FROM tund$r GROUP BY u),
         |wp$r AS MATERIALIZED (SELECT vs,
         |    UNNEST(generate_series(1, len(vs) - 1)) AS x FROM adj$r),
         |w$r AS MATERIALIZED (SELECT vs[x] AS x, UNNEST(vs[x + 1:]) AS y
         |  FROM wp$r),
         |te${r + 1} AS MATERIALIZED (
         |  SELECT w.x AS u, w.y AS v, count(*) AS support
         |  FROM w$r w
         |  JOIN te$r t ON t.u = w.x AND t.v = w.y
         |  GROUP BY 1, 2
         |  HAVING count(*) >= ${k - 2})""".stripMargin)
    }
    sb.toString
  }

  val queries: Seq[Query] = Seq(
    // ---- graph: deterministic integer-scaled PageRank (the link-graph
    // source-quality signal crawl curation ranks domains by) over the
    // customer→supplier purchase graph — every rank is an exact long
    // lineage (e6 mass, IntegralDivide contributions), so 5 unrolled
    // iterations hash-match the DuckDB CTE chain bit for bit.
    // Edges come from the STAGED purchase-graph store (r14) — built
    // once per corpus, shared with q242.
    Query("q108_pagerank", (s, dir) =>
      GraphRank.pageRank(stagedPurchaseEdges(s, dir), "src", "dst",
        iterations = 5), {
      // q108: the 5 PageRank iterations unrolled as a CTE chain — pure
      // BIGINT arithmetic (e6 mass, // floor division) mirrors
      // GraphRank.pageRank's IntegralDivide lineage exactly
      def iter(k: Int) =
        s"""r$k AS (SELECT n.node,
           |    (15000000 + 85 * coalesce(s.c, 0)) // 100 AS rank_e6
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(p.rank_e6 // d.deg) AS BIGINT) AS c
           |    FROM edges e JOIN r${k - 1} p ON p.node = e.src
           |    JOIN deg d ON d.node = e.src GROUP BY 1) s
           |    ON s.node = n.node)""".stripMargin
      s"""WITH edges AS (SELECT DISTINCT o_custkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM edges
         |  UNION SELECT dst FROM edges),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_e6 FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank_e6 FROM r5""".stripMargin
    }),

    // ---- graph: deterministic negative-edge sampling — hash-ring
    // successors anti-joined against the exact near-dup graph, 2 kept
    // per node (the negative half of link-prediction training data)
    Query("q138_negative_edges", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val edges = lshNearDupPairs(s, dir, threshold = 0.45)
        .select(col("id_a"), col("id_b"))
      NegativeSampling.negativeEdges(emb.select(col("vec_id")),
        "vec_id", edges, "id_a", "id_b", ringWidth = 3, perNode = 2)
    },
      // q138: the shared exact-pair CTE as the edge set; identical hash
      // ring (md5 order), WRAPPED rank-offset candidates (r11 advice:
      // successor rank modulo n, so tail nodes probe the ring head and
      // every node emits exactly ringWidth candidates), anti-join, keep-2
      s"""WITH ${lshPairCtes("0.45")},
         |ring AS (SELECT vec_id AS id,
         |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |      vec_id) AS rn
         |  FROM embeddings),
         |cand AS (SELECT least(a.id, b.id) AS id_a,
         |    greatest(a.id, b.id) AS id_b, a.id AS src,
         |    o.off AS ring_dist
         |  FROM ring a
         |  CROSS JOIN (SELECT count(*) AS n FROM ring) c
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS off) o
         |  JOIN ring b ON b.rn = ((a.rn + o.off - 1) % c.n) + 1
         |    AND b.id <> a.id),
         |surv AS (SELECT c.* FROM cand c
         |  LEFT JOIN p ON p.id_a = c.id_a AND p.id_b = c.id_b
         |  WHERE p.id_a IS NULL),
         |dd AS (SELECT *, row_number() OVER (PARTITION BY src, id_a,
         |    id_b ORDER BY ring_dist) AS dn FROM surv),
         |k AS (SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY ring_dist) AS rk FROM dd WHERE dn = 1)
         |SELECT id_a, id_b, CAST(ring_dist AS BIGINT) AS ring_dist
         |FROM k WHERE rk <= 2""".stripMargin),

    // ---- dedup graph: per-node triangles / degree / clustering
    // coefficient over the LSH near-dup edges — clique-y components
    // (one doc radiating variants) vs chained borderline pairs.
    // Degree-ordered compact-forward orientation: wedges only between
    // out-neighbors, so hub nodes never square
    Query("q222_dedup_graph_triangles", (s, dir) =>
      GraphRank.triangleStats(
        lshNearDupPairs(s, dir, threshold = 0.45)
          .select(col("id_a"), col("id_b")), "id_a", "id_b"), {
      // q222: the mirrored-LSH pair surface (p = verified a<b pairs),
      // then the naive x<y<z triangle join — sound for the oracle's
      // bounded pair volume; the engine's orientation counts the same
      // triangles exactly once each
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH ${lshPairCtes("0.45")},
         |ed AS (SELECT id_a AS u, id_b AS v FROM p),
         |deg AS (SELECT node, count(*) AS degree
         |  FROM (SELECT u AS node FROM ed
         |    UNION ALL SELECT v AS node FROM ed) GROUP BY 1),
         |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
         |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
         |pt AS (SELECT node, count(*) AS triangles
         |  FROM (SELECT x AS node FROM tri
         |    UNION ALL SELECT y AS node FROM tri
         |    UNION ALL SELECT z AS node FROM tri) GROUP BY 1)
         |SELECT d.node, d.degree,
         |  coalesce(pt.triangles, 0) AS triangles,
         |  ${ratioScaledSql("2 * coalesce(pt.triangles, 0)",
             "d.degree * (d.degree - 1)", 6)} AS clustering_e6
         |FROM deg d LEFT JOIN pt ON pt.node = d.node""".stripMargin
    }),

    // ---- graph: HITS hubs & authorities over the q108 purchase
    // graph — e6 sum-normalized integer half-steps, 3 iterations,
    // unrolled-CTE oracle (PageRank's bipartite twin). Edges from the
    // q108-shared staged purchase-graph store (r14).
    Query("q242_hits", (s, dir) =>
      GraphRank.hits(stagedPurchaseEdges(s, dir), "src", "dst",
        iterations = 3), {
      // q242: the HITS half-steps unrolled — per iteration, an
      // authority aggregate + e6 sum-normalization, then the hub
      // mirror; truncating // equals the engine's IntegralDivide
      def iter(t: Int) =
        s"""ar$t AS (SELECT e.dst AS node, sum(h.s) AS raw
           |  FROM edges e JOIN h${t - 1} h ON h.node = e.src
           |  GROUP BY 1),
           |a$t AS (SELECT d.node,
           |    (coalesce(r.raw, 0) * 1000000) //
           |      (SELECT sum(raw) FROM ar$t) AS s
           |  FROM dsts d LEFT JOIN ar$t r USING (node)),
           |hr$t AS (SELECT e.src AS node, sum(a.s) AS raw
           |  FROM edges e JOIN a$t a ON a.node = e.dst
           |  GROUP BY 1),
           |h$t AS (SELECT sr.node,
           |    (coalesce(r.raw, 0) * 1000000) //
           |      (SELECT sum(raw) FROM hr$t) AS s
           |  FROM srcs sr LEFT JOIN hr$t r USING (node))""".stripMargin
      materializedCtes(
        s"""WITH edges AS (SELECT DISTINCT o_custkey * 2 AS src,
           |    l_suppkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |srcs AS (SELECT DISTINCT src AS node FROM edges),
           |dsts AS (SELECT DISTINCT dst AS node FROM edges),
           |h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS s FROM srcs),
           |${(1 to 3).map(iter).mkString(",\n")}
           |SELECT node, 'hub' AS kind, CAST(s AS BIGINT) AS score_e6
           |FROM h3
           |UNION ALL
           |SELECT node, 'auth', CAST(s AS BIGINT) FROM a3""".stripMargin)
    }),

    // ---- graph: multi-source BFS hop distance over the UNDIRECTED
    // q108 purchase graph — seeds are customers with c_custkey % 100
    // = 0 (order-less seeds stay isolated at hops 0), 3 rounds of
    // Bellman-Ford relaxation; reached ball only, unrolled-CTE oracle.
    Query("q254_bfs_hops", (s, dir) =>
      GraphRank.bfsHops(stagedPurchaseEdges(s, dir), "src", "dst",
        T(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") * 2L).as("node")),
        "node", maxHops = 3), {
      // q254: the engine's Bellman-Ford rounds unrolled — per round,
      // min(carry, neighbor + 1) over the symmetrized edge set
      def iter(t: Int) =
        s"""d$t AS (SELECT node, min(hops) AS hops FROM (
           |  SELECT node, hops FROM d${t - 1}
           |  UNION ALL
           |  SELECT e.v AS node, d.hops + 1 AS hops
           |  FROM e JOIN d${t - 1} d ON e.u = d.node) GROUP BY 1)"""
          .stripMargin
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS u,
         |    l_suppkey * 2 + 1 AS v
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
         |d0 AS (SELECT DISTINCT c_custkey * 2 AS node, 0 AS hops
         |  FROM customer WHERE c_custkey % 100 = 0),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT node, CAST(hops AS BIGINT) AS hops FROM d3"""
        .stripMargin
    }),

    // ---- graph: PERSONALIZED PageRank from the q254 seed customers
    // — teleport mass restricted to seeds (Haveliwala), the "similar
    // to these" recommender over the purchase graph; q108's exact
    // integer ladder with a seed-indicator base term.
    Query("q278_personalized_pagerank", (s, dir) =>
      GraphRank.personalizedPageRank(stagedPurchaseEdges(s, dir),
        "src", "dst",
        T(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") * 2L).as("node")),
        "node", iterations = 5), {
      // q278: q108's unrolled ladder with the teleport base gated on
      // seed membership; unreached nodes stay 0 and still emit
      def iter(k: Int) =
        s"""r$k AS (SELECT n.node,
           |    (n.is_seed * 15000000 + 85 * coalesce(s.c, 0)) // 100
           |      AS rank_e6
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(p.rank_e6 // d.deg) AS BIGINT) AS c
           |    FROM edges e JOIN r${k - 1} p ON p.node = e.src
           |    JOIN deg d ON d.node = e.src GROUP BY 1) s
           |    ON s.node = n.node)""".stripMargin
      s"""WITH edges AS (SELECT DISTINCT o_custkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |sd AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
         |  WHERE c_custkey % 100 = 0),
         |nodes AS (SELECT a.node,
         |    CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS is_seed
         |  FROM (SELECT src AS node FROM edges
         |    UNION SELECT dst FROM edges) a
         |  LEFT JOIN sd ON sd.node = a.node),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges
         |  GROUP BY 1),
         |r0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT)
         |    AS rank_e6 FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank_e6 FROM r5""".stripMargin
    }),

    // ---- graph: common-neighbor LINK PREDICTION over the 1-NN
    // best-neighbor graph of the 0.3 near-dup surface (q282's argmax
    // edges — the thresholded graph itself is a union of cliques on
    // generated near-dups, with zero open wedges at every threshold,
    // so the sparser 1-NN stars are the real candidate surface):
    // non-adjacent sibling pairs with the neighborhood-Jaccard e6
    // score, the "which pairs did the 1-NN edge set miss?" queue.
    Query("q284_link_prediction", (s, dir) =>
      GraphRank.linkPrediction(
        GraphRank.bestNeighborEdges(
          lshNearDupPairs(s, dir, threshold = 0.3), "id_a", "id_b",
          round(col("cosine") * 10000)),
        "u", "v"), {
      // q284: q282's (c DESC, nbr ASC) argmax as canonical 1-NN edges,
      // wedges over the symmetric edge set, NOT EXISTS against the
      // canonical pairs, neighborhood Jaccard e6
      import graft.functions.ExactRound.ratioScaledSql
      materializedCtes(s"""WITH ${lshPairCtes("0.3")},
         |dr AS (SELECT id_a AS id, id_b AS nbr,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) AS c FROM p
         |  UNION ALL SELECT id_b, id_a,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) FROM p),
         |best AS (SELECT id, nbr FROM (SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, nbr ASC) AS rn FROM dr)
         |  WHERE rn = 1),
         |cp AS (SELECT DISTINCT least(id, nbr) AS a,
         |    greatest(id, nbr) AS b FROM best),
         |es AS (SELECT a, b FROM cp UNION SELECT b, a FROM cp),
         |deg AS (SELECT a AS node, count(*) AS d FROM es GROUP BY 1),
         |cand AS (SELECT w1.b AS u, w2.b AS v, count(*) AS cn
         |  FROM es w1 JOIN es w2 ON w2.a = w1.a AND w1.b < w2.b
         |  GROUP BY 1, 2),
         |ne AS (SELECT cand.u, cand.v, cand.cn FROM cand
         |  WHERE NOT EXISTS (SELECT 1 FROM cp
         |    WHERE cp.a = cand.u AND cp.b = cand.v))
         |SELECT ne.u AS id_a, ne.v AS id_b,
         |  ne.cn AS common_neighbors, du.d AS deg_a, dv.d AS deg_b,
         |  ${ratioScaledSql("ne.cn", "du.d + dv.d - ne.cn", 6)}
         |    AS jaccard_e6
         |FROM ne JOIN deg du ON du.node = ne.u
         |JOIN deg dv ON dv.node = ne.v""".stripMargin)
    }),

    // ---- graph: HUB-CAPPED link prediction (r15 verdict #2) — q284
    // with wedge centers above degree 2 excluded before the self-join
    // (the q225 bucket-cap recall trade): a viral hub of degree d no
    // longer yields d²/2 wedge pairs. deg_a/deg_b stay true degrees,
    // so jaccard_e6 is a lower bound of q284's.
    Query("q317_link_prediction_capped", (s, dir) =>
      GraphRank.linkPrediction(
        GraphRank.bestNeighborEdges(
          lshNearDupPairs(s, dir, threshold = 0.3), "id_a", "id_b",
          round(col("cosine") * 10000)),
        "u", "v", maxCenterDegree = 2), {
      // q317: q284 with the wedge join restricted to centers of degree
      // <= 2 (the engine's LeftSemi cap, mirrored as a join against the
      // degree table); reported degrees stay uncapped
      import graft.functions.ExactRound.ratioScaledSql
      materializedCtes(s"""WITH ${lshPairCtes("0.3")},
         |dr AS (SELECT id_a AS id, id_b AS nbr,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) AS c FROM p
         |  UNION ALL SELECT id_b, id_a,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) FROM p),
         |best AS (SELECT id, nbr FROM (SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, nbr ASC) AS rn FROM dr)
         |  WHERE rn = 1),
         |cp AS (SELECT DISTINCT least(id, nbr) AS a,
         |    greatest(id, nbr) AS b FROM best),
         |es AS (SELECT a, b FROM cp UNION SELECT b, a FROM cp),
         |deg AS (SELECT a AS node, count(*) AS d FROM es GROUP BY 1),
         |cand AS (SELECT w1.b AS u, w2.b AS v, count(*) AS cn
         |  FROM es w1 JOIN es w2 ON w2.a = w1.a AND w1.b < w2.b
         |  JOIN deg dc ON dc.node = w1.a AND dc.d <= 2
         |  GROUP BY 1, 2),
         |ne AS (SELECT cand.u, cand.v, cand.cn FROM cand
         |  WHERE NOT EXISTS (SELECT 1 FROM cp
         |    WHERE cp.a = cand.u AND cp.b = cand.v))
         |SELECT ne.u AS id_a, ne.v AS id_b,
         |  ne.cn AS common_neighbors, du.d AS deg_a, dv.d AS deg_b,
         |  ${ratioScaledSql("ne.cn", "du.d + dv.d - ne.cn", 6)}
         |    AS jaccard_e6
         |FROM ne JOIN deg du ON du.node = ne.u
         |JOIN deg dv ON dv.node = ne.v""".stripMargin)
    }),

    // ---- graph: truncated KATZ CENTRALITY over the staged purchase
    // graph — Σ αᵗ·(walks of length t), α=1/2, 3 rounds of the exact
    // integer ladder (q108's discipline with attenuation instead of
    // stochastic normalization).
    Query("q333_katz", (s, dir) =>
      GraphRank.katzCentrality(stagedPurchaseEdges(s, dir), "src",
        "dst", iterations = 3, attNum = 1L, attDen = 2L), {
      // q333: q108's edge/node CTEs, 3 unrolled attenuation rounds,
      // one truncating div per node-round
      def iter(k: Int) =
        s"""x$k AS (SELECT n.node,
           |    (1 * coalesce(s.c, 0)) // 2 AS x
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum(p.x) AS BIGINT) AS c
           |    FROM edges e JOIN x${k - 1} p ON p.node = e.src
           |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
      s"""WITH edges AS (SELECT DISTINCT o_custkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM edges
         |  UNION SELECT dst FROM edges),
         |x0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM nodes),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT n.node, x1.x + x2.x + x3.x AS katz_e6
         |FROM nodes n JOIN x1 ON x1.node = n.node
         |JOIN x2 ON x2.node = n.node
         |JOIN x3 ON x3.node = n.node""".stripMargin
    }),

    // ---- graph×dedup: PARTITION MODULARITY of the embedding LABEL
    // partition over the staged near-dup graph — "do the labels and
    // the similarity clusters agree?" as Newman's Q, per-label e12
    // contributions from exact integer tallies.
    Query("q334_label_modularity", (s, dir) =>
      GraphRank.partitionModularity(
        lshNearDupPairs(s, dir, threshold = 0.45)
          .select(col("id_a"), col("id_b")), "id_a", "id_b",
        T(s, dir, "embeddings"), "vec_id", "label"),
      // q334: the LSH pair CTEs (p = unique verified pairs), per-label
      // internal-edge and endpoint tallies, the two-term HUGEINT ladder
      s"""WITH ${lshPairCtes("0.45")},
         |lab AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS label
         |  FROM embeddings),
         |m AS (SELECT count(*) AS m FROM p),
         |wl AS (SELECT la.label AS la, lb.label AS lb
         |  FROM p JOIN lab la ON la.node = p.id_a
         |  JOIN lab lb ON lb.node = p.id_b),
         |ein AS (SELECT la AS label, count(*) AS ein FROM wl
         |  WHERE la = lb GROUP BY 1),
         |deg AS (SELECT label, count(*) AS d FROM (
         |  SELECT la AS label FROM wl
         |  UNION ALL SELECT lb FROM wl) u GROUP BY 1),
         |mem AS (SELECT CAST(label AS BIGINT) AS label,
         |    count(*) AS n_members FROM embeddings GROUP BY 1)
         |SELECT mem.label, mem.n_members,
         |  coalesce(ein.ein, 0) AS n_in_edges,
         |  coalesce(deg.d, 0) AS degree_sum,
         |  CASE WHEN m.m > 0 THEN
         |    CAST((CAST(coalesce(ein.ein, 0) AS HUGEINT) *
         |      1000000000000) // m.m AS BIGINT) -
         |    CAST((CAST(coalesce(deg.d, 0) AS HUGEINT) *
         |      coalesce(deg.d, 0) * 1000000000000) //
         |      (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT)
         |  ELSE 0 END AS q_e12
         |FROM mem LEFT JOIN ein USING (label)
         |LEFT JOIN deg USING (label) CROSS JOIN m""".stripMargin),

    // ---- graph: LOCAL CLUSTERING COEFFICIENT over the co-purchase
    // item graph (q126's capped-basket pairs at support >= 2 — the
    // q193 discipline: support 3 closes zero wedges at gate scale) —
    // wedge self-join closed by a left-semi probe against the edges.
    Query("q340_local_clustering", (s, dir) =>
      GraphRank.localClustering(
        CoOccurrence.basketPairs(T(s, dir, "lineitem"), "l_orderkey",
          "l_partkey", minSupport = 2L, maxBasketSize = 64)
          .select(col("item_a"), col("item_b")),
        "item_a", "item_b"),
      // q340: q126's capped-basket pair CTEs (support 2 — support 3
      // leaves zero closed wedges at gate scale, a dead arm) as the
      // edge set, wedge
      // self-join closed against the canonical pairs, half-up e6 ratio
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |    FROM lineitem),
         |f AS (SELECT b, i FROM (SELECT b, i,
         |      count(*) OVER (PARTITION BY b) AS bs FROM it)
         |  WHERE bs <= 64),
         |e AS (SELECT a.i AS u, c.i AS v
         |  FROM f a JOIN f c ON c.b = a.b AND a.i < c.i
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |es AS (SELECT u AS c, v AS n FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT c AS node, count(*) AS degree FROM es
         |  GROUP BY 1),
         |tri AS (SELECT w1.c AS node, count(*) AS t
         |  FROM es w1 JOIN es w2 ON w2.c = w1.c AND w1.n < w2.n
         |  JOIN e ON e.u = w1.n AND e.v = w2.n
         |  GROUP BY 1)
         |SELECT deg.node, deg.degree,
         |  coalesce(tri.t, 0) AS triangles,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "2 * coalesce(tri.t, 0)",
              "deg.degree * (deg.degree - 1)", 6)} AS lcc_e6
         |FROM deg LEFT JOIN tri ON tri.node = deg.node""".stripMargin),

    // ---- graph: k-TRUSS decomposition of the near-dup graph — edges
    // supported by ≥ k−2 triangles in the surviving subgraph, peeled
    // to the detected fixpoint (r18: self-enforcing convergence); the
    // edge-level sharpening of q163's k-core. The oracle unrolls 5
    // peels — rounds past the fixpoint are no-ops, so any unroll ≥ the
    // data's peel depth matches, and the gate fails loudly if the
    // depth ever exceeds the unroll.
    Query("q351_ktruss", (s, dir) =>
      GraphRank.kTruss(lshNearDupPairs(s, dir, threshold = 0.3)
        .select(col("id_a"), col("id_b")), "id_a", "id_b", k = 3),
      // q351: three unrolled wedge-closure peels over the mirrored-LSH
      // 0.3 graph; each triangle closes exactly one wedge per edge
      s"""WITH ${lshPairCtes("0.3")},
         |${kTrussCtes(k = 3, rounds = 5)}
         |SELECT u, v, support FROM te5""".stripMargin),

    // ---- graph: LANDMARK HARMONIC CENTRALITY within 3 hops on the
    // staged purchase graph (q254's seed sample) — Σ 1e6 div dist
    // over reached nodes, the disconnected-safe closeness.
    Query("q346_harmonic_centrality", (s, dir) =>
      GraphRank.harmonicCentrality(stagedPurchaseEdges(s, dir),
        "src", "dst",
        T(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") * 2L).as("node")),
        "node", maxHops = 3),
      // q346: the purchase double cover, three dedup'd hop expansions
      // from the seed sample, min-hop per (seed, node), truncated
      // reciprocal sum
      """WITH e0 AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src AS u, dst AS v FROM e0
        |  UNION SELECT dst, src FROM e0),
        |s AS (SELECT c_custkey * 2 AS seed FROM customer
        |  WHERE c_custkey % 100 = 0),
        |d1 AS (SELECT s.seed, e.v AS node FROM s JOIN e ON e.u = s.seed
        |  GROUP BY 1, 2),
        |d2 AS (SELECT d1.seed, e.v AS node FROM d1 JOIN e ON e.u = d1.node
        |  GROUP BY 1, 2),
        |d3 AS (SELECT d2.seed, e.v AS node FROM d2 JOIN e ON e.u = d2.node
        |  GROUP BY 1, 2),
        |dd AS (SELECT seed, node, min(hops) AS hops FROM (
        |    SELECT seed, node, 1 AS hops FROM d1
        |    UNION ALL SELECT seed, node, 2 FROM d2
        |    UNION ALL SELECT seed, node, 3 FROM d3)
        |  WHERE node <> seed GROUP BY 1, 2)
        |SELECT seed AS node, count(*) AS n_reached,
        |  CAST(sum(1000000 // hops) AS BIGINT) AS harmonic_e6
        |FROM dd GROUP BY 1""".stripMargin),

    // ---- graph: HYPERBALL neighborhood-function sketch — q346's
    // all-nodes companion (r17 verdict #7): every node carries a
    // 16-register md5-derived HLL of its ≤3-hop ball, merged
    // register-wise per round; the gate hashes the deterministic
    // register content (n_set, sum_rho) and the raw integer HLL
    // estimate. Rides the shared staged purchase-edge store.
    Query("q354_hyperball", (s, dir) =>
      GraphRank.hyperBall(stagedPurchaseEdges(s, dir), "src", "dst",
        rounds = 3),
      // q354: exact ≤3-hop balls for every node (materialized hop
      // expansions), then the md5-register mirror — bucket = hex digit
      // 1, rho = leading zero bits of hex digits 2..16 + 1 (all-zero ⇒
      // 61) — register-wise max per (node, bucket), and the same
      // integer raw-HLL quotient in HUGEINT
      materializedCtes(
      """WITH e0 AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src AS u, dst AS v FROM e0
        |  UNION SELECT dst, src FROM e0),
        |n0 AS (SELECT DISTINCT u AS node FROM e),
        |d1 AS (SELECT u AS node, v AS r FROM e),
        |d2 AS (SELECT d1.node, e.v AS r FROM d1 JOIN e ON e.u = d1.r
        |  GROUP BY 1, 2),
        |d3 AS (SELECT d2.node, e.v AS r FROM d2 JOIN e ON e.u = d2.r
        |  GROUP BY 1, 2),
        |ball AS (SELECT node, r FROM (
        |    SELECT node, node AS r FROM n0
        |    UNION SELECT node, r FROM d1
        |    UNION SELECT node, r FROM d2
        |    UNION SELECT node, r FROM d3)),
        |hh AS (SELECT node, md5(CAST(r AS VARCHAR)) AS h FROM ball),
        |rr AS (SELECT node,
        |    strpos('0123456789abcdef', substring(h, 1, 1)) - 1
        |      AS bucket,
        |    CASE WHEN ltrim(substring(h, 2, 15), '0') = '' THEN 61
        |      ELSE (len(substring(h, 2, 15)) -
        |          len(ltrim(substring(h, 2, 15), '0'))) * 4 +
        |        CASE WHEN strpos('0123456789abcdef',
        |            substring(ltrim(substring(h, 2, 15), '0'), 1, 1))
        |            - 1 >= 8 THEN 0
        |          WHEN strpos('0123456789abcdef',
        |            substring(ltrim(substring(h, 2, 15), '0'), 1, 1))
        |            - 1 >= 4 THEN 1
        |          WHEN strpos('0123456789abcdef',
        |            substring(ltrim(substring(h, 2, 15), '0'), 1, 1))
        |            - 1 >= 2 THEN 2
        |          ELSE 3 END + 1 END AS rho
        |  FROM hh),
        |regs AS (SELECT node, bucket, max(rho) AS rho FROM rr
        |  GROUP BY 1, 2),
        |agg AS (SELECT node, count(*) AS n_set,
        |    CAST(sum(rho) AS BIGINT) AS sum_rho,
        |    sum(CAST(CAST(1 AS BIGINT) << (61 - rho) AS HUGEINT))
        |      AS sum_set
        |  FROM regs GROUP BY 1)
        |SELECT node, n_set, sum_rho,
        |  CAST((CAST(673000 AS HUGEINT) * 256 *
        |      CAST(2305843009213693952 AS HUGEINT)) //
        |    (sum_set + (16 - n_set) *
        |      CAST(2305843009213693952 AS HUGEINT)) AS BIGINT)
        |    AS nf_raw_e6
        |FROM agg""".stripMargin)),

    // ---- graph: NEIGHBORHOOD-FUNCTION CURVE — HyperBall's
    // effective-diameter statistic: per radius t, the graph-level sum
    // of every node's raw sketch estimate (≈ pairs within distance
    // t); one register ladder serves every radius.
    Query("q355_neighborhood_curve", (s, dir) =>
      GraphRank.hyperBallCurve(stagedPurchaseEdges(s, dir), "src",
        "dst", rounds = 2),
      // q355: one (node, r, min-radius) membership table, register
      // values computed ONCE per distinct reached id, then per-radius
      // register-max + the q354 raw-HLL quotient, summed graph-wide
      materializedCtes(
      """WITH e0 AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src AS u, dst AS v FROM e0
        |  UNION SELECT dst, src FROM e0),
        |n0 AS (SELECT DISTINCT u AS node FROM e),
        |d1 AS (SELECT u AS node, v AS r FROM e),
        |d2 AS (SELECT d1.node, e.v AS r FROM d1 JOIN e ON e.u = d1.r
        |  GROUP BY 1, 2),
        |mem AS (SELECT node, r, min(t) AS tmin FROM (
        |    SELECT node, node AS r, 0 AS t FROM n0
        |    UNION ALL SELECT node, r, 1 FROM d1
        |    UNION ALL SELECT node, r, 2 FROM d2) GROUP BY 1, 2),
        |rh AS (SELECT r, md5(CAST(r AS VARCHAR)) AS h FROM
        |  (SELECT DISTINCT r FROM mem)),
        |rv AS (SELECT r,
        |    strpos('0123456789abcdef', substring(h, 1, 1)) - 1
        |      AS bucket,
        |    CASE WHEN ltrim(substring(h, 2, 15), '0') = '' THEN 61
        |      ELSE (len(substring(h, 2, 15)) -
        |          len(ltrim(substring(h, 2, 15), '0'))) * 4 +
        |        CASE WHEN strpos('0123456789abcdef',
        |            substring(ltrim(substring(h, 2, 15), '0'), 1, 1))
        |            - 1 >= 8 THEN 0
        |          WHEN strpos('0123456789abcdef',
        |            substring(ltrim(substring(h, 2, 15), '0'), 1, 1))
        |            - 1 >= 4 THEN 1
        |          WHEN strpos('0123456789abcdef',
        |            substring(ltrim(substring(h, 2, 15), '0'), 1, 1))
        |            - 1 >= 2 THEN 2
        |          ELSE 3 END + 1 END AS rho
        |  FROM rh),
        |r0 AS (SELECT m.node, rv.bucket, max(rv.rho) AS rho FROM mem m
        |  JOIN rv ON rv.r = m.r WHERE m.tmin <= 0 GROUP BY 1, 2),
        |r1 AS (SELECT m.node, rv.bucket, max(rv.rho) AS rho FROM mem m
        |  JOIN rv ON rv.r = m.r WHERE m.tmin <= 1 GROUP BY 1, 2),
        |r2 AS (SELECT m.node, rv.bucket, max(rv.rho) AS rho FROM mem m
        |  JOIN rv ON rv.r = m.r WHERE m.tmin <= 2 GROUP BY 1, 2),
        |a0 AS (SELECT node, count(*) AS n_set,
        |    sum(CAST(CAST(1 AS BIGINT) << (61 - rho) AS HUGEINT))
        |      AS sum_set FROM r0 GROUP BY 1),
        |a1 AS (SELECT node, count(*) AS n_set,
        |    sum(CAST(CAST(1 AS BIGINT) << (61 - rho) AS HUGEINT))
        |      AS sum_set FROM r1 GROUP BY 1),
        |a2 AS (SELECT node, count(*) AS n_set,
        |    sum(CAST(CAST(1 AS BIGINT) << (61 - rho) AS HUGEINT))
        |      AS sum_set FROM r2 GROUP BY 1),
        |c0 AS (SELECT 0 AS t, count(*) AS n_nodes,
        |    CAST(sum(CAST((CAST(673000 AS HUGEINT) * 256 *
        |        CAST(2305843009213693952 AS HUGEINT)) //
        |      (sum_set + (16 - n_set) *
        |        CAST(2305843009213693952 AS HUGEINT)) AS BIGINT))
        |      AS BIGINT) AS sum_nf_raw_e6 FROM a0),
        |c1 AS (SELECT 1 AS t, count(*) AS n_nodes,
        |    CAST(sum(CAST((CAST(673000 AS HUGEINT) * 256 *
        |        CAST(2305843009213693952 AS HUGEINT)) //
        |      (sum_set + (16 - n_set) *
        |        CAST(2305843009213693952 AS HUGEINT)) AS BIGINT))
        |      AS BIGINT) AS sum_nf_raw_e6 FROM a1),
        |c2 AS (SELECT 2 AS t, count(*) AS n_nodes,
        |    CAST(sum(CAST((CAST(673000 AS HUGEINT) * 256 *
        |        CAST(2305843009213693952 AS HUGEINT)) //
        |      (sum_set + (16 - n_set) *
        |        CAST(2305843009213693952 AS HUGEINT)) AS BIGINT))
        |      AS BIGINT) AS sum_nf_raw_e6 FROM a2)
        |SELECT * FROM c0 UNION ALL SELECT * FROM c1
        |UNION ALL SELECT * FROM c2""".stripMargin)),

    // ---- graph: 2-HOP REACH over the 1-NN best-neighbor graph —
    // degree + two-step coverage per node, hub middles capped at
    // degree 8 (the q317 semi-join discipline; true degrees
    // reported).
    Query("q330_two_hop_reach", (s, dir) =>
      GraphRank.twoHopReach(
        GraphRank.bestNeighborEdges(
          lshNearDupPairs(s, dir, threshold = 0.3), "id_a", "id_b",
          round(col("cosine") * 10000)),
        "u", "v", maxCenterDegree = 8),
      // q330: q284's 1-NN edge CTEs; middles filtered by deg <= 8, the
      // direct ∪ two-step target set counted distinct per node
      materializedCtes(s"""WITH ${lshPairCtes("0.3")},
         |dr AS (SELECT id_a AS id, id_b AS nbr,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) AS c FROM p
         |  UNION ALL SELECT id_b, id_a,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) FROM p),
         |best AS (SELECT id, nbr FROM (SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, nbr ASC) AS rn FROM dr)
         |  WHERE rn = 1),
         |cp AS (SELECT DISTINCT least(id, nbr) AS a,
         |    greatest(id, nbr) AS b FROM best),
         |es AS (SELECT a, b FROM cp UNION SELECT b, a FROM cp),
         |deg AS (SELECT a AS node, count(*) AS d FROM es GROUP BY 1),
         |two AS (SELECT w1.b AS s, w2.b AS t
         |  FROM es w1 JOIN es w2 ON w2.a = w1.a AND w1.b <> w2.b
         |  JOIN deg dc ON dc.node = w1.a AND dc.d <= 8),
         |rch AS (SELECT s, count(DISTINCT t) AS reach_2hop FROM (
         |    SELECT a AS s, b AS t FROM es
         |    UNION ALL SELECT s, t FROM two) GROUP BY 1)
         |SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
         |  rch.reach_2hop
         |FROM deg JOIN rch ON rch.s = deg.node""".stripMargin)),

    // ---- graph: WEIGHTED PageRank over the purchase multigraph —
    // rank mass splits by lineitem-count edge weight instead of
    // out-degree (q108's ladder with floor(rank·w/outw) per edge):
    // heavy trade lanes pull more centrality.
    Query("q291_weighted_pagerank", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"))
      val li = T(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"))
      val we = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy((col("o_custkey") * 2L).as("src"),
          (col("l_suppkey") * 2L + 1L).as("dst"))
        .agg(count(lit(1)).as("w"))
      GraphRank.weightedPageRank(we, "src", "dst", "w",
        iterations = 5)
    }, {
      // q291: weighted edge tally, q278's unrolled ladder with the
      // per-edge (rank*w) // outw contribution
      def iter(k: Int) =
        s"""r$k AS (SELECT n.node,
           |    (15000000 + 85 * coalesce(s.c, 0)) // 100 AS rank_e6
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((CAST(p.rank_e6 AS HUGEINT) * e.w)
           |        // o.outw) AS BIGINT) AS c
           |    FROM edges e JOIN r${k - 1} p ON p.node = e.src
           |    JOIN ow o ON o.node = e.src GROUP BY 1) s
           |    ON s.node = n.node)""".stripMargin
      s"""WITH edges AS (SELECT o_custkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst, count(*) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |nodes AS (SELECT src AS node FROM edges
         |  UNION SELECT dst FROM edges),
         |ow AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS outw
         |  FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_e6
         |  FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank_e6 FROM r5""".stripMargin
    }),

    // ---- graph: INCREMENTAL PageRank delta — ranks before vs after
    // landing the held-out order batch (o_orderkey % 5 = 0), top 50
    // movers by |Δ|: the "what did this ingest do to centrality?"
    // maintenance card (3-round ladders on both sides; nodes born in
    // the batch read rank_before 0).
    Query("q299_pagerank_delta", (s, dir) => {
      // r17 (r16 verdict perf note): the "before" ladder is the
      // STANDING corpus's ranks — an incremental pipeline never
      // recomputes yesterday's PageRank, it stages it once per corpus
      // stamp (deterministic exact-integer ladder, so the staged rows
      // are bit-identical to an inline build); the "after" ladder
      // rides the staged purchase-edge store every graph gate shares.
      // Per-query work drops from two full ladders to one.
      val stamp = Dedup.sourceStamp(s, s"$dir/orders.parquet") + "-" +
        Dedup.sourceStamp(s, s"$dir/lineitem.parquet")
      val before = Tables.stagedParquet(s,
          s"$stageRoot/pr-before-$stamp-i3") {
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"))
        val li = T(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_suppkey"))
        val oo = o.filter(col("o_orderkey") % 5 =!= 0)
        val baseEdges = li.join(oo, li("l_orderkey") === oo("o_orderkey"))
          .select((col("o_custkey") * 2L).as("src"),
            (col("l_suppkey") * 2L + 1L).as("dst"))
          .distinct()
        GraphRank.pageRank(baseEdges, "src", "dst", iterations = 3)
          .select(col("node"), col("rank_e6").as("rank_before"))
      }
      val after = GraphRank.pageRank(stagedPurchaseEdges(s, dir),
          "src", "dst", iterations = 3)
        .select(col("node"), col("rank_e6").as("rank_after"))
      val j = after.join(before, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank_before"), lit(0L)).as("rank_before"),
          col("rank_after"),
          (col("rank_after") - coalesce(col("rank_before"), lit(0L)))
            .as("delta_e6"))
      RankOps.topKMulti(j, 50, abs(col("delta_e6")), Seq(col("node")))
    }, {
      // q299: the q108 ladder twice (3 rounds) over base vs full edge
      // sets, left-joined deltas, (|Δ| DESC, node) top 50
      def ladder(tag: String, where: String) = {
        def iter(k: Int) =
          s"""r$tag$k AS (SELECT n.node,
             |    (15000000 + 85 * coalesce(s.c, 0)) // 100 AS rank_e6
             |  FROM nodes$tag n LEFT JOIN (
             |    SELECT e.dst AS node,
             |      CAST(sum(p.rank_e6 // d.deg) AS BIGINT) AS c
             |    FROM edges$tag e JOIN r$tag${k - 1} p ON p.node = e.src
             |    JOIN deg$tag d ON d.node = e.src GROUP BY 1) s
             |    ON s.node = n.node)""".stripMargin
        s"""edges$tag AS (SELECT DISTINCT o_custkey * 2 AS src,
           |    l_suppkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  $where),
           |nodes$tag AS (SELECT src AS node FROM edges$tag
           |  UNION SELECT dst FROM edges$tag),
           |deg$tag AS (SELECT src AS node, count(*) AS deg
           |  FROM edges$tag GROUP BY 1),
           |r${tag}0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_e6
           |  FROM nodes$tag),
           |${(1 to 3).map(iter).mkString(",\n")}""".stripMargin
      }
      s"""WITH ${ladder("b", "WHERE o_orderkey % 5 <> 0")},
         |${ladder("f", "")}
         |SELECT f.node, coalesce(b.rank_e6, 0) AS rank_before,
         |  f.rank_e6 AS rank_after,
         |  f.rank_e6 - coalesce(b.rank_e6, 0) AS delta_e6
         |FROM rf3 f LEFT JOIN rb3 b ON b.node = f.node
         |ORDER BY abs(f.rank_e6 - coalesce(b.rank_e6, 0)) DESC,
         |  f.node ASC LIMIT 50""".stripMargin
    }),

    // ---- graph: k-CORE of the purchase graph (k = 8, 4 peels) —
    // customers with < 8 distinct suppliers fall away, supplier
    // degrees recompute, repeat; the dense trading heart survives.
    Query("q262_kcore", (s, dir) =>
      GraphRank.kCore(stagedPurchaseEdges(s, dir), "src", "dst",
        k = 8, rounds = 4), {
      // q262: the fixed peels unrolled — per round, degrees of the
      // edge set induced by the previous alive set, keep >= k
      def peel(t: Int) =
        s"""e$t AS (SELECT e.u, e.v FROM e
           |  JOIN a${t - 1} x ON x.node = e.u
           |  JOIN a${t - 1} y ON y.node = e.v),
           |d$t AS (SELECT node, count(*) AS degree FROM (
           |    SELECT u AS node FROM e$t
           |    UNION ALL SELECT v AS node FROM e$t) GROUP BY 1),
           |a$t AS (SELECT node FROM d$t WHERE degree >= 8)"""
          .stripMargin
      materializedCtes(
        s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS u,
           |    l_suppkey * 2 + 1 AS v
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |a0 AS (SELECT u AS node FROM e
           |  UNION SELECT v AS node FROM e),
           |${(1 to 4).map(peel).mkString(",\n")}
           |SELECT node, degree FROM d4 WHERE degree >= 8"""
          .stripMargin)
    }),

    // ---- graph: degree ASSORTATIVITY of the LSH near-dup graph —
    // Newman's r over the directed double cover of (deg_u, deg_v),
    // through the q75 exact five-sum Pearson discipline. Positive:
    // mirrored corpora; negative: templates radiating variants.
    Query("q259_assortativity", (s, dir) =>
      GraphRank.degreeAssortativity(
        lshNearDupPairs(s, dir, threshold = 0.45)
          .select(col("id_a"), col("id_b")), "id_a", "id_b"),
      // q259: q222's pair surface → degree table → the directed double
      // cover fed through q75's exact five-sum Pearson mirror
      s"""WITH ${lshPairCtes("0.45")},
         |ed AS (SELECT id_a AS u, id_b AS v FROM p),
         |deg AS (SELECT node, count(*) AS degree
         |  FROM (SELECT u AS node FROM ed
         |    UNION ALL SELECT v AS node FROM ed) GROUP BY 1),
         |bo AS (SELECT du.degree AS dx, dv.degree AS dy
         |  FROM ed JOIN deg du ON du.node = ed.u
         |  JOIN deg dv ON dv.node = ed.v),
         |cov AS (SELECT dx AS x, dy AS y FROM bo
         |  UNION ALL SELECT dy, dx FROM bo),
         |s AS (SELECT count(*) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM cov),
         |v AS (SELECT n,
         |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
         |    CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
         |    CAST(n AS HUGEINT) * syy - sy * sy AS vy
         |  FROM s)
         |SELECT n,
         |  CAST(CAST(num AS VARCHAR) AS DOUBLE) AS cov_num,
         |  CASE WHEN vx > 0 AND vy > 0 THEN
         |    round(CAST(CAST(num AS VARCHAR) AS DOUBLE) /
         |      (sqrt(CAST(CAST(vx AS VARCHAR) AS DOUBLE)) *
         |       sqrt(CAST(CAST(vy AS VARCHAR) AS DOUBLE))), 6)
         |  END AS r
         |FROM v""".stripMargin),

    // ---- semi-supervised: clamped-seed label propagation over the
    // embedding near-dup graph — every 4th vector keeps its label as
    // the seed; two deterministic argmax rounds (votes desc, label
    // asc) spread labels across near-copy neighborhoods. Candidate
    // edges come from the banded-LSH path (r12: the exact O(n²)
    // kernel leaves the declared surface; it remains only in the
    // q29/q40 audit role) — the oracle MIRRORS the LSH buckets via
    // the inlined plane masks, so the graph is hash-gated end to end
    // with no quadratic lineage on either engine.
    Query("q117_label_propagation", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val pairs = lshNearDupPairs(s, dir, threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      val nodes = emb.select(col("vec_id"),
        when(pmod(col("vec_id"), lit(4)) === 0,
          col("label").cast("long")).as("label"))
      LabelProp.propagate(nodes, "vec_id", "label",
        pairs, "id_a", "id_b", iterations = 2)
    }, {
      // q117: the MIRRORED-LSH pair chain at threshold 0.3 (r12 — the
      // exact all-pairs CTE is gone from this oracle, matching the
      // engine's move off the O(n²) kernel) + two unrolled LPA rounds
      // with the engine's exact argmax tie order (votes desc, label
      // asc); seeds clamped via coalesce
      def round_(k: Int) =
        s"""v$k AS (SELECT eb.src, l.label AS nl, count(*) AS v
           |  FROM eb JOIN l${k - 1} l ON l.node = eb.dst
           |  WHERE l.label IS NOT NULL GROUP BY 1, 2),
           |b$k AS (SELECT src AS node, nl AS best FROM (
           |    SELECT src, nl, row_number() OVER (PARTITION BY src
           |      ORDER BY v DESC, nl ASC) AS rn FROM v$k) WHERE rn = 1),
           |l$k AS (SELECT s.node, coalesce(s.seed, b$k.best) AS label
           |  FROM seeds s LEFT JOIN b$k USING (node))""".stripMargin
      s"""WITH ${lshPairCtes("0.3")},
         |eb AS (SELECT a AS src, b AS dst FROM e),
         |seeds AS (SELECT vec_id AS node,
         |    CASE WHEN vec_id % 4 = 0 THEN CAST(label AS BIGINT) END AS seed
         |  FROM embeddings),
         |l0 AS (SELECT node, seed AS label FROM seeds),
         |${round_(1)},
         |${round_(2)}
         |SELECT node AS vec_id, label FROM l2""".stripMargin
    }))
}
