package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic integer-scaled PageRank over an edge list — the
  * link-graph quality signal large-scale curation uses (CommonCrawl
  * pipelines rank domains by centrality to prioritize/filter crawl
  * content; "harmonic centrality / PageRank over the web graph" is the
  * CCNet/RefinedWeb-family source-quality feature).
  *
  * Every quantity is a LONG: ranks carry e6-scaled mass (init 10⁶ per
  * node), per-edge contributions are `rank div out_degree`
  * (IntegralDivide — order-independent long sums, no float anywhere),
  * and the damping update is the exact rational
  * `r' = ((den−num)·10⁶ + num·Σcontrib) div den`. Two engines given
  * the same edges compute bit-identical ranks — the property the gate
  * hashes. Total mass drifts by the integer-division remainders and
  * dangling-node loss (documented; rank ORDER, the consumed signal, is
  * unaffected).
  *
  * Scale shape (the [[Dedup.connectedComponents]] discipline): the edge
  * list is hash-partitioned by src and persisted ONCE — each of the
  * fixed `iterations` rounds shuffles only the (node, rank) table into
  * the join and one groupBy(dst) aggregate; rank state is two longs per
  * node. Fixed iteration count (PageRank converges geometrically at
  * rate d; 5–10 rounds order the head of any real graph). Every loop
  * here runs its rounds through [[Iterate]].
  */
object GraphRank {

  /** Per-node triangle counts, degree, and local clustering
    * coefficient over an undirected edge list — the density
    * diagnostic of a near-dup graph (a clique-y component is one
    * duplicated document radiating variants; a sparse path is chained
    * borderline pairs — the two need different dedup treatment).
    *
    * Counting is the degree-ordered orientation ("compact-forward",
    * Latapy 2008; the MapReduce standard from Suri & Vassilvitskii
    * 2011): orient every edge from its lower-(degree, id) endpoint to
    * the higher, enumerate wedges only between OUT-neighbors, and
    * close them against the oriented edge set — each triangle counted
    * exactly once at its minimum-rank vertex, and out-degrees are
    * O(√m), so wedge volume is bounded even when a hub node has
    * corpus-scale degree (the naive all-wedges join squares the hub).
    * Clustering coefficient = 2T/(d·(d−1)) as an exact e6 rational
    * (0 for degree-1 nodes on the zero-denominator convention).
    *
    * Shape at scale: three shuffle joins on node keys plus one
    * explode-3 per triangle; no window, no driver state. */
  def triangleStats(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    import graft.functions.ExactRound
    val e = graft.Caches.register(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist())
    val deg = graft.Caches.register(e
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .persist())
    val ranked = e
      .join(deg.select(col("node").as("u"), col("degree").as("du__")),
        "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv__")),
        "v")
    val oriented = graft.Caches.register(ranked.select(
        when(col("du__") < col("dv__") ||
            (col("du__") === col("dv__") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d")))
          .as("o__"))
      .select(col("o__.s").as("s"), col("o__.d").as("d"))
      .persist())
    val w1 = oriented.select(col("s"), col("d").as("d1__"))
    val w2 = oriented.select(col("s"), col("d").as("d2__"))
    val wedges = w1.join(w2, Seq("s"))
      .filter(col("d1__") < col("d2__"))
      .select(col("s"),
        least(col("d1__"), col("d2__")).as("u"),
        greatest(col("d1__"), col("d2__")).as("v"))
    val tris = wedges.join(e, Seq("u", "v"))
      .select(col("s").as("x"), col("u").as("y"), col("v").as("z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .select(col("node"), col("degree"), col("triangles"),
        ExactRound.ratioScaled(col("triangles") * 2,
          col("degree") * (col("degree") - 1L), 6).as("clustering_e6"))
  }

  /** Common-neighbor LINK PREDICTION over an undirected graph — for
    * every NON-adjacent node pair sharing at least one neighbor: the
    * common-neighbor count and the exact e6 Jaccard of the two
    * neighborhoods (Liben-Nowell & Kleinberg 2003's two classical
    * unsupervised scores) — the "which near-dup pairs did the
    * threshold miss?" / "who should be linked next?" card over a
    * dedup or interaction graph.
    *
    * Shape at scale: candidates come only from wedge enumeration
    * (adjacency self-joined on the shared center), never from an
    * all-pairs product; wedge volume is Σ_c d_c·(d_c−1)/2, bounded for
    * banded near-dup graphs where per-node degree is capped by the
    * candidate generator. For hub-heavy graphs, cap the center degree
    * upstream (the q225 bucket-cap pattern) before calling. One
    * shuffle for the wedge join, one for the pair count, a left-anti
    * against the (cached) edge set, and two broadcast-able degree
    * joins. */
  /** The 1-NN BEST-NEIGHBOR edge set of a scored pair surface — per
    * node (pairs doubled to both directions), the single neighbor with
    * the highest score, ties to the smallest neighbor id (the
    * [[graft.operators.EvalMetrics.neighborLabelPurity]] argmax,
    * exposed as a graph constructor): each node's outgoing 1-NN choice
    * as a canonical undirected edge. Thresholded similarity graphs
    * over generated near-dup corpora are unions of cliques —
    * transitively closed, no open wedges — so graph analytics that
    * need non-adjacent candidate pairs ([[linkPrediction]]) run on
    * THIS sparser surface, where popular neighbors form stars.
    * One struct-max argmax per node, map-side combinable. */
  def bestNeighborEdges(pairs: DataFrame, aCol: String, bCol: String,
      scoreE4: Column): DataFrame = {
    val dir = pairs
      .select(col(aCol).as("id__"), col(bCol).as("nbr__"),
        scoreE4.cast("long").as("s__"))
      .union(pairs.select(col(bCol).as("id__"), col(aCol).as("nbr__"),
        scoreE4.cast("long").as("s__")))
    dir.groupBy(col("id__"))
      .agg(max(struct(col("s__"), (-col("nbr__")).as("nn__"))).as("b__"))
      .select(least(col("id__"), -col("b__.nn__")).as("u"),
        greatest(col("id__"), -col("b__.nn__")).as("v"))
      .distinct()
  }

  /** `maxCenterDegree` > 0 caps the WEDGE CENTER degree (r15 verdict
    * #2, the q225 bucket-cap pattern): a viral hub of degree d
    * otherwise yields d·(d−1)/2 wedge pairs — quadratic in a
    * data-dependent quantity. Centers above the cap are excluded
    * from wedge enumeration BEFORE the self-join (their wedges are
    * dropped wholesale, a documented recall trade: common_neighbors
    * becomes a lower bound counting low-degree shared neighbors
    * only, and candidate pairs whose every common neighbor is a hub
    * disappear — for near-dup curation those pairs are exactly the
    * "everything resembles the template" noise). Reported deg_a /
    * deg_b stay TRUE degrees from the uncapped graph, so jaccard_e6
    * under a cap is a lower bound of the uncapped score. 0 = exact
    * (no cap). */
  def linkPrediction(pairs: DataFrame, aCol: String,
      bCol: String, maxCenterDegree: Int = 0): DataFrame = {
    import graft.functions.ExactRound
    val e = graft.Caches.register(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist())
    val adj = e.select(col("u").as("c__"), col("v").as("n__"))
      .union(e.select(col("v").as("c__"), col("u").as("n__")))
    val deg = graft.Caches.register(adj
      .groupBy(col("c__").as("node")).agg(count(lit(1)).as("degree"))
      .persist())
    val centers =
      if (maxCenterDegree <= 0) adj
      else adj.join(
        deg.filter(col("degree") <= maxCenterDegree)
          .select(col("node").as("c__")), Seq("c__"), "left_semi")
    centers.select(col("c__"), col("n__").as("u"))
      .join(centers.select(col("c__"), col("n__").as("v")), Seq("c__"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"))
      .join(e, Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("degree").as("deg_a")),
        "u")
      .join(deg.select(col("node").as("v"), col("degree").as("deg_b")),
        "v")
      .select(col("u").as("id_a"), col("v").as("id_b"),
        col("common_neighbors"), col("deg_a"), col("deg_b"),
        ExactRound.ratioScaled(col("common_neighbors"),
          col("deg_a") + col("deg_b") - col("common_neighbors"), 6)
          .as("jaccard_e6"))
  }

  /** 2-HOP REACH per node — |N(v)| and |N(N(v)) ∪ N(v) \ {v}|: how
    * much of the graph a node can see in two steps (the local
    * influence/coverage card next to [[linkPrediction]]'s pairwise
    * scores). Middles expand through the same degree-cap semi-join as
    * [[linkPrediction]]'s wedge centers (`maxCenterDegree` — a hub
    * middle of degree d contributes d² (v, w) rows; the cap drops
    * hub-mediated reach wholesale, the documented recall trade), while
    * `degree` always reports the TRUE uncapped degree. */
  def twoHopReach(pairs: DataFrame, aCol: String, bCol: String,
      maxCenterDegree: Int = 0): DataFrame = {
    val e = graft.Caches.register(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist())
    val adj = e.select(col("u").as("c__"), col("v").as("n__"))
      .union(e.select(col("v").as("c__"), col("u").as("n__")))
    val deg = graft.Caches.register(adj
      .groupBy(col("c__").as("node")).agg(count(lit(1)).as("degree"))
      .persist())
    val mids =
      if (maxCenterDegree <= 0) adj
      else adj.join(
        deg.filter(col("degree") <= maxCenterDegree)
          .select(col("node").as("c__")), Seq("c__"), "left_semi")
    val two = mids.select(col("c__"), col("n__").as("s__"))
      .join(mids.select(col("c__"), col("n__").as("t__")), Seq("c__"))
      .filter(col("s__") =!= col("t__"))
      .select(col("s__"), col("t__"))
    val reach = adj.select(col("c__").as("s__"), col("n__").as("t__"))
      .union(two)
      .distinct()
      .groupBy(col("s__").as("node"))
      .agg(count(lit(1)).as("reach_2hop"))
    deg.join(reach, Seq("node"))
      .select(col("node"), col("degree"), col("reach_2hop"))
  }

  /** KATZ CENTRALITY (truncated) — `Σ_{t=1..T} αᵗ·(Aᵗ·1)ᵢ`, the
    * walk-counting cousin of [[pageRank]]: every incoming walk of
    * length t contributes αᵗ, so hubs fed by hubs outrank hubs fed
    * by leaves even without the stochastic normalization. Exact
    * integer ladder: x₀ = 1e6 per node; per round
    * `x_t(i) = (attNum·Σ_{j→i} x_{t−1}(j)) div attDen` (one
    * truncating div per node-round, mirrored by the oracle's `//`);
    * katz_e6 = Σ_{t≥1} x_t. T fixed and small — the standard
    * truncated-Katz deployment; α must be < 1/λ_max for the infinite
    * series, which truncation sidesteps.
    *
    * Shape at scale: the [[pageRank]] discipline — edges distinct +
    * repartitioned once, per-round one equi-join + one aggregate. */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, attNum: Long = 1L, attDen: Long = 2L)
      : DataFrame = {
    require(iterations >= 1 && attNum >= 1 && attDen > attNum,
      "need iterations >= 1 and 0 < attNum/attDen < 1")
    import org.apache.spark.storage.StorageLevel
    val e = graft.Caches.register(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = graft.Caches.register(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val x0 = nodes.select(col("node"), lit(1000000L).as("x__"))
    val xs = Iterate.rounds(x0, iterations) { (x, _) =>
      val inSum = e.join(x.select(col("node").as("src"), col("x__")),
          "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("x__")).cast("long").as("s__"))
      nodes.join(inSum, Seq("node"), "left")
        .select(col("node"), call_function("div",
          lit(attNum) * coalesce(col("s__"), lit(0L)), lit(attDen))
          .as("x__"))
    }
    xs.tail.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("x__")).cast("long").as("katz_e6"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — `2·T_i / (d_i·(d_i−1))`
    * with T_i = triangles through i, the classic "are my neighbors
    * each other's neighbors" density (Watts–Strogatz). Wedges
    * enumerate through each node as center ([[linkPrediction]]'s
    * self-join) and CLOSE against the canonical edge set via one
    * left-semi probe; the ratio ships half-up e6
    * ([[graft.functions.ExactRound.ratioScaled]] — degree < 2 reads
    * 0, the den-0 convention). `maxCenterDegree` > 0 applies the
    * q225/q317 hub-cap trade: wedge centers above the cap are
    * excluded before the self-join AND dropped from the output (an
    * over-cap node's triangle count would be a silent lower bound —
    * omitting the row is the honest contract). */
  def localClustering(pairs: DataFrame, aCol: String, bCol: String,
      maxCenterDegree: Int = 0): DataFrame = {
    import graft.functions.ExactRound
    val e = graft.Caches.register(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist())
    val adj = e.select(col("u").as("c__"), col("v").as("n__"))
      .union(e.select(col("v").as("c__"), col("u").as("n__")))
    val deg = graft.Caches.register(adj
      .groupBy(col("c__").as("node")).agg(count(lit(1)).as("degree"))
      .persist())
    // Degree-ORDERED triangle enumeration (Chiba–Nishizeki / Latapy's
    // compact-forward, r21): direct every edge from its lower-
    // (degree, id) endpoint to the higher, enumerate wedges only at a
    // triangle's MINIMUM vertex (out-neighbors ordered the same way),
    // close with one LeftSemi equi-probe against the canonical edge
    // set, then credit all three corners. Each triangle is found
    // exactly ONCE and the wedge volume is Σ out-deg² with
    // out-degree ≤ O(√m) — the previous per-center enumeration paid
    // Σ deg² (hub-quadratic) and then found every triangle three
    // times. Per-node counts are identical: a triangle through c is
    // counted at its min corner and credited to c either way.
    val dir = graft.Caches.register(e
      .join(deg.select(col("node").as("u"), col("degree").as("du__")),
        "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv__")),
        "v")
      .select(
        when(col("du__") < col("dv__") ||
            (col("du__") === col("dv__") && col("u") < col("v")),
          struct(col("u").as("lo"), col("v").as("hi"),
            col("dv__").as("dh")))
          .otherwise(struct(col("v").as("lo"), col("u").as("hi"),
            col("du__").as("dh")))
          .as("d__"))
      .select(col("d__.lo").as("lo"), col("d__.hi").as("hi"),
        col("d__.dh").as("dh"))
      .persist())
    val tri = dir.as("x").join(dir.as("y"),
        col("x.lo") === col("y.lo") &&
          (col("x.dh") < col("y.dh") ||
            (col("x.dh") === col("y.dh") && col("x.hi") < col("y.hi"))))
      .select(col("x.lo").as("w0__"),
        least(col("x.hi"), col("y.hi")).as("u"),
        greatest(col("x.hi"), col("y.hi")).as("v"))
      .join(e, Seq("u", "v"), "left_semi")
      .select(explode(array(col("w0__"), col("u"), col("v"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
    val out =
      if (maxCenterDegree <= 0) deg
      else deg.filter(col("degree") <= maxCenterDegree)
    out.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        ExactRound.ratioScaled(
          lit(2L) * coalesce(col("triangles"), lit(0L)),
          col("degree") * (col("degree") - 1L), 6).as("lcc_e6"))
  }

  /** PARTITION MODULARITY (Newman–Girvan) — per-label contribution
    * `Q_l = e_l/m − (d_l/2m)²` over an undirected unique-pair edge
    * list: `e_l` = edges with both endpoints labeled l, `d_l` = edge
    * endpoints labeled l, m = total edges. Σ_l Q_l is the classic
    * cluster-vs-partition agreement score; per-label rows localize
    * WHICH label's members clump in the graph. Exact integer surface:
    * `q_e12 = (e_l·10¹²) div m − (d_l²·10¹²) div (4m²)`, one
    * truncating div per term (both non-negative → truncation = floor
    * = the oracle's `//`), DECIMAL(38,0) intermediates (d_l²·10¹²
    * stays inside 38 digits up to m ≈ 10¹² edges).
    *
    * Shape at scale: two hash joins edge→label (the label table is
    * the small side — broadcast when dims allow), two per-label
    * tallies, a 1-row total broadcast. Never materializes anything
    * per-pair beyond the input edges. */
  def partitionModularity(pairs: DataFrame, aCol: String, bCol: String,
      members: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val lab = members.select(col(nodeCol).cast("long").as("node__"),
      col(labelCol).cast("long").as("label"))
    // enforce the unique-pair contract (the [[localClustering]] /
    // [[katzCentrality]] discipline): a caller handing duplicate
    // edges must not silently get duplicate-weighted tallies
    val p = pairs.select(col(aCol).cast("long").as("a__"),
      col(bCol).cast("long").as("b__")).distinct()
    val m1 = p.agg(count(lit(1)).as("m__"))
    val wl = p
      .join(lab.select(col("node__").as("a__"), col("label").as("la__")),
        "a__")
      .join(lab.select(col("node__").as("b__"), col("label").as("lb__")),
        "b__")
    val ein = wl.filter(col("la__") === col("lb__"))
      .groupBy(col("la__").as("label"))
      .agg(count(lit(1)).as("in__"))
    val deg = wl.select(col("la__").as("label"))
      .unionByName(wl.select(col("lb__").as("label")))
      .groupBy(col("label")).agg(count(lit(1)).as("d__"))
    val e12 = lit(1000000000000L)
    lab.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .join(ein, Seq("label"), "left")
      .join(deg, Seq("label"), "left")
      .crossJoin(broadcast(m1))
      .select(col("label"), col("n_members"),
        coalesce(col("in__"), lit(0L)).as("n_in_edges"),
        coalesce(col("d__"), lit(0L)).as("degree_sum"),
        when(col("m__") > 0,
          call_function("div",
            coalesce(col("in__"), lit(0L)).cast("decimal(38,0)") * e12,
            col("m__").cast("decimal(38,0)")).cast("long") -
          call_function("div",
            coalesce(col("d__"), lit(0L)).cast("decimal(38,0)") *
              coalesce(col("d__"), lit(0L)) * e12,
            col("m__").cast("decimal(38,0)") * col("m__") * lit(4L))
            .cast("long"))
          .otherwise(lit(0L)).as("q_e12"))
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampNum: Long = 85L, dampDen: Long = 100L)
      : DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "need iterations >= 1 and 0 <= dampNum <= dampDen")
    import org.apache.spark.storage.StorageLevel
    val dedup = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
    // out-degree attached to the cached edge list ONCE (r20): the
    // per-iteration `join(deg, "src")` repeated an identical join
    // `iterations` times for a value that never changes between
    // rounds — same results, one fewer join per round.
    val e = graft.Caches.register(dedup
      .join(dedup.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = graft.Caches.register(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val base = (dampDen - dampNum) * 1000000L
    rankRounds(e, nodes, lit(1000000L), iterations,
      expr("rank_e6 div deg"),
      expr(s"($base + $dampNum * coalesce(in_mass, 0)) div $dampDen"))
  }

  /** The integer ladder [[pageRank]] and its variants share: `init`
    * over `nodes`, then per round each edge of `e` (src, dst, ...)
    * carries `contrib` (over `rank_e6` of its src) into `in_mass` of its
    * dst, and every node takes `update` (over `nodes`' columns and
    * `in_mass`) as its next `rank_e6`. Returns (node, rank_e6). */
  private def rankRounds(e: DataFrame, nodes: DataFrame, init: Column,
      iterations: Int, contrib: Column, update: Column): DataFrame =
    Iterate.rounds(nodes.select(col("node"), init.as("rank_e6")),
        iterations) { (ranks, _) =>
      val mass = e
        .join(ranks.select(col("node").as("src"), col("rank_e6")), "src")
        .select(col("dst"), contrib.as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      nodes
        .join(mass.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), update.as("rank_e6"))
    }.last

  /** WEIGHTED PageRank — [[pageRank]] with per-edge weights: each
    * node's rank mass splits across out-edges proportionally to
    * weight (contribution = floor(rank·w / out_weight) per edge — the
    * exact truncating form both engines compute identically), the
    * CommonCrawl-style "domains linked MORE count more" ranking over
    * a multigraph collapsed to weighted edges. Parallel edges are
    * combined (sum of weights) up front, so callers may pass raw
    * multi-edge tallies.
    *
    * Shape at scale: identical to [[pageRank]] — cached weighted edge
    * list repartitioned by src, one join + map-side-combinable
    * aggregate per round; the per-edge product runs in DECIMAL(38,0)
    * (rank·weight can exceed long at web scale). */
  def weightedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, iterations: Int = 5,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "need iterations >= 1 and 0 <= dampNum <= dampDen")
    import org.apache.spark.storage.StorageLevel
    val collapsed = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("wgt__"))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("wgt__")).cast("long").as("wgt__"))
    // per-src out-weight attached to the cached edge list ONCE (r20,
    // the pageRank deg change): it never changes between rounds
    val e = graft.Caches.register(collapsed
      .join(collapsed.groupBy(col("src"))
        .agg(sum(col("wgt__")).cast("long").as("outw__")), "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = graft.Caches.register(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val base = (dampDen - dampNum) * 1000000L
    rankRounds(e, nodes, lit(1000000L), iterations,
      expr("(cast(rank_e6 as decimal(38,0)) * wgt__) div outw__")
        .cast("long"),
      expr(s"($base + $dampNum * coalesce(in_mass, 0)) div $dampDen"))
  }

  /** PERSONALIZED PageRank — [[pageRank]] with the teleport mass
    * restricted to a SEED set (Haveliwala 2002): the "similar to
    * these" recommender over the purchase graph, and the seeded
    * variant of the near-dup cluster-radiation score. Identical
    * integer ladder to [[pageRank]] — init 10⁶ on seeds and 0
    * elsewhere, per-edge contribution `rank div out_degree`, update
    * r' = [seed]·(den−num)·10⁶/den + num·Σcontrib/den as one exact
    * truncating division — so two engines agree bit for bit; ranks
    * are the UNNORMALIZED restart form (comparable within a run, the
    * consumed signal is order). Nodes never reached stay at rank 0
    * and are still emitted (the full-node surface [[pageRank]] emits).
    *
    * Shape at scale: identical to [[pageRank]] (cached edge list, one
    * join + one map-side-combinable aggregate per round) plus one
    * broadcast seed membership
    * join at init and in the update's seed indicator. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int = 5, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "need iterations >= 1 and 0 <= dampNum <= dampDen")
    import org.apache.spark.storage.StorageLevel
    val dedup = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
    // out-degree attached to the cached edge list ONCE (r20, the
    // pageRank deg change): it never changes between rounds
    val e = graft.Caches.register(dedup
      .join(dedup.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val sd = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().select(col("node"), lit(1L).as("is_seed__"))
    val nodes = graft.Caches.register(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(broadcast(sd), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("is_seed__"), lit(0L)).as("is_seed__"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val base = (dampDen - dampNum) * 1000000L
    rankRounds(e, nodes, col("is_seed__") * 1000000L, iterations,
      expr("rank_e6 div deg"),
      expr(s"(is_seed__ * $base + $dampNum * coalesce(in_mass, 0))" +
        s" div $dampDen"))
  }

  /** HITS hubs & authorities (Kleinberg) — [[pageRank]]'s bipartite
    * twin for "good pointers vs good targets" source ranking:
    * authority(j) = Σ hub over in-edges, hub(i) = Σ authority over
    * out-edges, SUM-normalized to e6 mass each half-step so every
    * score is an exact long (raw·1e6 div Σraw — truncating integer
    * division, oracle-identical; float L2 normalization would
    * reassociate). Emits (node, kind ∈ hub|auth, score_e6) after
    * `iterations` rounds.
    *
    * Shape at scale: identical to [[pageRank]] — cached distinct edge
    * list, per-iteration one join + map-side-combinable aggregate per
    * side, a 1-row broadcast for each normalizer. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "need iterations >= 1")
    import org.apache.spark.storage.StorageLevel
    val e = graft.Caches.register(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val srcs = graft.Caches.register(
      e.select(col("src").as("node")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val dsts = graft.Caches.register(
      e.select(col("dst").as("node")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    def normalize(raw: DataFrame, all: DataFrame): DataFrame = {
      val total = raw.agg(sum(col("raw__")).as("t__"))
      // raw__ · 1e6 can exceed Long.MaxValue in the un-normalized first
      // half-step (raw__ = in_degree·1e6, wraps past 2⁶³ at in-degree
      // ~9.2M under non-ANSI long arithmetic); the oracle runs this in
      // HUGEINT, so widen to decimal(38,0) before the scale-up — the
      // ExactRound discipline — and the div lands back in long range
      // (result ≤ 1e6 by sum-normalization).
      all.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(total))
        .select(col("node"),
          expr("(cast(coalesce(raw__, 0) as decimal(38,0)) * 1000000)" +
            " div t__").as("s_e6"))
    }
    // 2·iterations half-step rounds: odd rounds turn hubs into
    // authorities, even rounds authorities into hubs
    val ladder = Iterate.rounds(
        srcs.select(col("node"), lit(1000000L).as("s_e6")),
        2 * iterations) { (s, round) =>
      val (from, to, all) =
        if (round % 2 == 1) ("src", "dst", dsts) else ("dst", "src", srcs)
      // the raw in-mass is a round-scoped persist: normalize reads it
      // twice (the 1-row total broadcast AND the zero-fill probe join),
      // so without the cache the edge join + aggregate ran twice per
      // half-step (measured r21: 5.9 s -> ~4.4 s with the persist)
      val raw = graft.Caches.register(e
        .join(s.select(col("node").as(from), col("s_e6")), from)
        .groupBy(col(to)).agg(sum(col("s_e6")).as("raw__"))
        .withColumnRenamed(to, "node")
        .persist(StorageLevel.MEMORY_AND_DISK))
      normalize(raw, all)
    }
    val (auths, hubs) = (ladder(ladder.size - 2), ladder.last)
    hubs.select(col("node"), lit("hub").as("kind"),
        col("s_e6").as("score_e6"))
      .unionByName(auths.select(col("node"), lit("auth").as("kind"),
        col("s_e6").as("score_e6")))
  }

  /** Multi-source BFS hop distance over an UNDIRECTED reading of the
    * edge list: (node, hops) for every node within `maxHops` of any
    * seed — the "blast radius" primitive (which documents sit ≤ k
    * near-dup hops from a known-bad cluster; which suppliers are ≤ k
    * purchase hops from a flagged customer). Unreached nodes are
    * absent, seeds report 0.
    *
    * Bellman-Ford-by-rounds, not frontier-queue BFS (no driver
    * state): each of the `maxHops` rounds relaxes
    * dist' = min(dist, neighbor dist + 1) via one join of the
    * current distance table against the cached symmetrized adjacency
    * and one map-side-combinable min — after round t every node at
    * true distance ≤ t is final (monotone convergence; extra rounds
    * are no-ops), so the fixed unrolling is exact, mirrored by the
    * oracle's unrolled CTE. The distance table
    * only ever holds REACHED nodes — on a corpus-scale graph with a
    * small seed set, state is the k-hop ball, not the node set. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, "need maxHops >= 1")
    import org.apache.spark.storage.StorageLevel
    val fwd = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val adj = graft.Caches.register(fwd
      .union(fwd.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val dist0 = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0L).as("hops"))
    // FRONTIER relaxation (r20, guide §1.2): with unit edge weights a
    // node's shortest path enters through a node discovered exactly
    // one round earlier, so only the rows whose FINAL hops equal the
    // previous round number need to expand — re-joining the whole
    // distance table re-expanded every settled node's neighborhood
    // once per remaining round (the round-h expansion was |ball(h)|·deg
    // instead of |sphere(h)|·deg) for identical min-agg output.
    Iterate.rounds(dist0, maxHops) { (dist, h) =>
      val relaxed = adj
        .join(dist.filter(col("hops") === (h - 1).toLong)
          .select(col("node").as("u")), "u")
        .select(col("v").as("node"), lit(h.toLong).as("hops"))
      dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
    }.last
  }

  /** HARMONIC CENTRALITY within a hop horizon, per LANDMARK — for each
    * seed node, Σ over nodes reachable in ≤ `maxHops` of 1/dist, the
    * standard disconnected-graph-safe closeness (Boldi & Vigna 2014;
    * unreachable nodes contribute 0 instead of breaking the mean).
    * Reciprocals ship as the truncated e6 integers `1000000 div d`
    * (d=1 → 1000000, d=2 → 500000, d=3 → 333333), so the statistic is
    * DEFINED on integer units and mirrors exactly cross-engine.
    *
    * Landmark form is the scale discipline: exact all-pairs harmonic
    * is O(n·m); production ranks a seed SAMPLE (or the HyperBall
    * sketch, out of scope) — here the frontier table is keyed
    * (seed, node) and each round is one adjacency join + a min-dist
    * re-aggregate, [[bfsHops]]' loop with the seed dimension riding
    * along. Seeds with no edges vanish from the output (no reachable
    * peers — their harmonic sum is an empty sum).
    *
    * Output: (node = the seed, n_reached, harmonic_e6). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1, "need maxHops >= 1")
    import org.apache.spark.storage.StorageLevel
    val fwd = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val adj = graft.Caches.register(fwd
      .union(fwd.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val dist0 = seeds.select(col(seedCol).cast("long").as("seed"))
      .distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("hops"))
    // frontier relaxation with the seed dimension riding along — see
    // [[bfsHops]] (r20): only (seed, node) rows first discovered in
    // the previous round expand; settled rows re-expanding changed
    // nothing through the min-agg but paid |ball|·deg per round.
    val dist = Iterate.rounds(dist0, maxHops) { (dist, h) =>
      val relaxed = adj
        .join(dist.filter(col("hops") === (h - 1).toLong)
          .select(col("seed"), col("node").as("u")), "u")
        .select(col("seed"), col("v").as("node"),
          lit(h.toLong).as("hops"))
      dist.union(relaxed)
        .groupBy(col("seed"), col("node")).agg(min(col("hops")).as("hops"))
    }.last
    dist.filter(col("node") =!= col("seed"))
      .groupBy(col("seed").as("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(call_function("div", lit(1000000L), col("hops")))
          .cast("long").as("harmonic_e6"))
  }

  /** k-CORE decomposition by iterative peeling — the maximal subgraph
    * where every node keeps degree ≥ k (the "dense heart" of a
    * near-dup graph: a k-core that survives aggressive peeling is a
    * template cluster, not chained borderline pairs; pendant chains
    * and isolated pairs peel away). Runs `rounds` fixed peels of
    * "drop nodes whose CURRENT degree < k, recompute degrees"; peeling
    * is monotone (alive sets only shrink), so once a round is a no-op
    * every later round is too — `rounds` at the graph's peel depth is
    * exact, and ANY fixed `rounds` is still oracle-identical because
    * the unrolled CTE runs the same count. Output: surviving (node,
    * degree within the surviving subgraph), empty when the graph has
    * no k-core within the horizon.
    *
    * Shape at scale: the cached undirected edge list re-joins the
    * shrinking alive set each round (two hash joins + one
    * map-side-combinable degree count per round); no windows, no
    * driver state. */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    import org.apache.spark.storage.StorageLevel
    val e = graft.Caches.register(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    val alive0 = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    // the state is the alive set; after round 1 it carries the
    // surviving degrees too, which the last round returns
    Iterate.rounds(alive0, rounds) { (alive, _) =>
      val ea = e
        .join(alive.select(col("node").as("u")), "u")
        .join(alive.select(col("node").as("v")), "v")
      ea.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k.toLong)
    }.last
  }

  /** k-TRUSS decomposition by iterative edge peeling — the EDGE-level
    * sharpening of [[kCore]]: keep only edges supported by ≥ k−2
    * triangles within the surviving subgraph (Cohen 2008). A k-core
    * can be a sparse hub star; a k-truss is held together by actual
    * triangle mass, which on a near-dup graph separates template
    * clusters (clique-like, high truss) from chained borderline pairs
    * (trees, zero support). Peels to the FIXPOINT: because peeling is
    * monotone (edge sets only shrink), a round that leaves the edge
    * count unchanged left the edge SET unchanged, and every later
    * round is a no-op — so the first stable round IS convergence,
    * detected from the edge count observed in the round's own
    * checkpoint ([[Iterate.untilStable]]; r17 verdict #4: a fixed
    * `rounds` contract relied on
    * rounds ≥ peel depth being asserted but never detected; peel
    * cascades — e.g. a triangle strip under k=4 unravels one edge pair
    * per round — make any fixed horizon a silent wrong answer).
    * `maxRounds` is a safety cap only: exceeding it throws rather than
    * returning an unconverged edge set. Termination is guaranteed —
    * each round's edges are an inner join against the previous
    * round's, so every non-final round removes at least one edge and
    * initial edge count + 1 rounds always suffice — so the DEFAULT
    * (`maxRounds = 0` = auto) sets no cap: a legitimate long-diameter
    * peel cascade (the k=4 triangle strip unravels one edge pair per
    * round) can never trip it (r18 ADVICE: a fixed 64-round default
    * threw on large legitimate inputs whose cascade depth scales with
    * graph diameter). Pass an explicit positive `maxRounds` to bound
    * wall time instead; it counts the confirming round.
    *
    * Support counting: each wedge (c; x<y) over the directed double
    * cover closes against the canonical edge list exactly when (x,y)
    * is an edge, and each triangle {p,q,r} contributes EXACTLY one
    * closure per edge (the wedge centered at the opposite vertex), so
    * support(x,y) = common-neighbor count with no multi-counting and
    * no explode — the [[localClustering]] wedge-closure kernel with an
    * inner join in place of the LeftSemi. Output: surviving (u, v,
    * support) with support measured in the surviving subgraph; empty
    * when no edge reaches the truss within the horizon.
    *
    * Shape at scale: per round one self-join on the wedge center (the
    * degree² expansion every triangle algorithm pays — cap hub degrees
    * upstream the q317/q330 way when the graph has them), one
    * canonical-edge equi-join, one count. */
  def kTruss(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 0): DataFrame = {
    require(k >= 3 && maxRounds >= 0, "need k >= 3 and maxRounds >= 0")
    val e0 = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .select(col("u"), col("v"), lit(0L).as("support"))
    // the edge count witnesses the fixpoint: every round's edges are an
    // inner join against the previous round's, so the set only shrinks
    // and an unchanged count is an unchanged set; the confirming round
    // also computes the final supports. Shrinking by >= 1 edge per
    // non-final round also bounds the rounds by |edges| + 1, so the auto
    // cap (maxRounds = 0) never trips.
    Iterate.untilStable(e0,
        if (maxRounds > 0) maxRounds else Int.MaxValue, "kTruss") { (s, _) =>
      val e = s.select(col("u"), col("v"))
      val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val wedges = und.as("a").join(und.as("b"),
          col("a.u") === col("b.u") && col("a.v") < col("b.v"))
        .select(col("a.v").as("x"), col("b.v").as("y"))
      wedges
        .join(e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
        .groupBy(col("x").as("u"), col("y").as("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= (k - 2).toLong)
    }(count(lit(1)))._1
  }

  /** Degree ASSORTATIVITY of an undirected edge list — Pearson r
    * between endpoint degrees over the directed double cover (each
    * edge contributes both (deg_u, deg_v) and (deg_v, deg_u), the
    * standard Newman 2002 estimator) — plus the same exact integer
    * sum discipline as [[GroupStats.pearson]], which it delegates to.
    * Positive r: hubs link to hubs (a mirrored-corpus near-dup graph);
    * negative: hubs link to leaves (one template radiating variants).
    * Output: one row (n, cov_num, r) where n = 2·|edges|.
    *
    * Shape at scale: degree aggregate + two joins of the edge list
    * against the (node, degree) table, then a 5-sum reduce; no
    * windows. */
  def degreeAssortativity(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = graft.Caches.register(pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist())
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val both = e
      .join(deg.select(col("node").as("u"), col("degree").as("du__")),
        "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv__")),
        "v")
    val cover = both.select(col("du__").as("x__"), col("dv__").as("y__"))
      .union(both.select(col("dv__").as("x__"), col("du__").as("y__")))
    GroupStats.pearson(cover, Seq.empty, col("x__"), col("y__"))
  }

  /** HyperBall-style NEIGHBORHOOD-FUNCTION sketch (Boldi & Vigna
    * 2013; Palmer et al. 2002 ANF) — the all-nodes companion of
    * [[harmonicCentrality]]'s landmark form: every node carries a
    * 16-register HLL counter of the nodes within `rounds` hops, and
    * each round merges every node's counter with its neighbors'
    * (register-wise max). State is O(m) per node regardless of how
    * many nodes are reachable — THE scale trade vs the exact
    * (seed, node) frontier, which is Θ(reachable pairs).
    *
    * Determinism contract (the q36/q37 sketch-gating discipline): the
    * element hash is the md5 HEX of the node id rendered as a string —
    * register index = first hex digit (m = 16, p = 4), rho = leading
    * zero BITS of the next 15 hex digits + 1 (all-zero ⇒ 61) — so two
    * engines compute bit-identical registers and the raw estimate is
    * exact integer SQL: est_e6 = floor(α₁₆·m²·2⁶¹·10⁶ / Σⱼ 2^(61−Mⱼ))
    * with unset registers contributing 2⁶¹ (Mⱼ = 0) and α₁₆ = 0.673
    * (Flajolet et al. 2007). The RAW estimator only — no small-range
    * linear-counting branch — because the gated value is the
    * deterministic sketch content, not a production cardinality
    * claim; consumers wanting corrected counts read n_set/sum_rho and
    * apply their own correction.
    *
    * Shape at scale: registers live as (node, bucket, rho) rows —
    * ≤ 16 per node; each round is one adjacency equi-join + one
    * map-side-combinable max aggregate on (node, bucket). No windows,
    * no per-node arrays to skew a partition. */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame =
    hyperBallRegisterLadder(edges, srcCol, dstCol, rounds).last._2

  /** Per-round register states behind [[hyperBall]]: (t, per-node
    * summary frame) for t = 0..rounds. Exposed so [[hyperBallCurve]]
    * can read every radius without re-running the merge ladder. */
  private def hyperBallRegisterLadder(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int): Seq[(Int, DataFrame)] =
    hyperBallLadderWithRounds(edges, srcCol, dstCol, rounds)._1

  /** [[hyperBallRegisterLadder]] plus the number of merge rounds
    * actually COMPUTED — the register merge is monotone (rows are
    * never removed, each (node, bucket) rho only grows), so a round
    * that leaves (row count, Σrho) — observed in the round's own
    * checkpoint ([[Iterate.rounds]]) — unchanged left the register SET
    * unchanged and every later round is a no-op: the ladder stops
    * joining at that fixed point and reuses the stable state for the
    * remaining radii (the kTruss r18 self-detection discipline — a
    * `rounds` horizon past the graph's diameter must cost diameter
    * joins, not `rounds` joins). The OUTPUT contract is unchanged:
    * still one summary per t = 0..rounds (the tail radii are the
    * fixed-point state), so q354/q355 gate values are identical.
    * Package-private so the early-stop is spec-observable. */
  private[graft] def hyperBallLadderWithRounds(edges: DataFrame,
      srcCol: String, dstCol: String,
      rounds: Int): (Seq[(Int, DataFrame)], Int) = {
    require(rounds >= 1, "need rounds >= 1")
    import org.apache.spark.storage.StorageLevel
    val fwd = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val adj = graft.Caches.register(fwd
      .union(fwd.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = adj.select(col("u").as("node")).distinct()
    // md5-hex register derivation, shared bit-for-bit with the oracle:
    // bucket = hex digit 1; rho from hex digits 2..16 (60 bits)
    val h = md5(col("node").cast("string"))
    val tail15 = substring(h, 2, 15)
    val trimmed = ltrim(tail15, "0")
    val zlen = length(tail15) - length(trimmed)
    val d1 = conv(substring(trimmed, 1, 1), 16, 10).cast("long")
    val rho = when(length(trimmed) === 0, lit(61L))
      .otherwise(zlen.cast("long") * 4L +
        when(d1 >= 8L, 0L).when(d1 >= 4L, 1L)
          .when(d1 >= 2L, 2L).otherwise(3L) + 1L)
    val regs0 = nodes
      .select(col("node"),
        conv(substring(h, 1, 1), 16, 10).cast("long").as("bucket"),
        rho.as("rho"))
    // (row count, Σrho) is a sound fixed-point witness under the
    // monotone merge: count unchanged ⇒ no new (node, bucket) row
    // (rows never vanish), Σrho unchanged on the same rows ⇒ no rho
    // grew.
    val ladder = Iterate.rounds(regs0, rounds,
        Seq(count(lit(1)), coalesce(sum(col("rho")), lit(0L)))) {
      (regs, _) =>
        val prop = adj
          .join(regs.select(col("node").as("u"), col("bucket"),
            col("rho")), "u")
          .select(col("v").as("node"), col("bucket"), col("rho"))
        regs.union(prop)
          .groupBy(col("node"), col("bucket"))
          .agg(max(col("rho")).as("rho"))
    }
    val computed = ladder.size - 1
    ((0 to rounds).map(t =>
      t -> summarizeRegisters(ladder(math.min(t, computed)))), computed)
  }

  /** (node, n_set, sum_rho, nf_raw_e6) from (node, bucket, rho) rows —
    * raw HLL estimate in exact integers: Σⱼ 2^(61−Mⱼ) over all 16
    * registers (unset ⇒ 2⁶¹), numerator α₁₆·m²·2⁶¹·10⁶ =
    * 673000·256·2⁶¹ < 10³⁸ (DECIMAL(38,0) / HUGEINT end to end). */
  private def summarizeRegisters(regs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val two61 = lit(2305843009213693952L) // 2^61
    regs
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_set"),
        sum(col("rho")).cast("long").as("sum_rho"),
        sum(call_function("shiftleft", lit(1L),
          (lit(61) - col("rho")).cast("int")).cast(dec))
          .as("sum_set__"))
      .select(col("node"), col("n_set"), col("sum_rho"),
        call_function("div",
          lit(673000L).cast(dec) * lit(256L) * two61.cast(dec),
          col("sum_set__") +
            (lit(16L).cast(dec) - col("n_set").cast(dec)) *
              two61.cast(dec))
          .cast("long").as("nf_raw_e6"))
  }

  /** NEIGHBORHOOD-FUNCTION CURVE — HyperBall's headline statistic
    * (Palmer et al. 2002; Boldi & Vigna 2013 run it for effective-
    * diameter estimation): for each radius t = 0..rounds, the
    * graph-level sum of every node's raw sketch estimate, i.e. the
    * (approximate) number of (u, v) pairs within distance t. The
    * curve's knee is the graph's effective diameter; consumers read
    * d_eff(q) = min t with curve(t) ≥ q·curve(rounds). One ladder run
    * serves every radius — the per-round summaries come from the same
    * register states the final ball uses. Output: (t, n_nodes,
    * sum_nf_raw_e6), one row per radius. */
  def hyperBallCurve(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = {
    val ladder = hyperBallRegisterLadder(edges, srcCol, dstCol, rounds)
    ladder.map { case (t, summary) =>
      summary.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("nf_raw_e6")).cast("long").as("sum_nf_raw_e6"))
        .select(lit(t).as("t"), col("n_nodes"), col("sum_nf_raw_e6"))
    }.reduce(_.unionByName(_))
  }
}
