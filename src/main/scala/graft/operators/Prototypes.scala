package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactRound

/** Per-label embedding prototypes — the class centroid + spread table
  * behind nearest-class-mean classification, dataset cartography, and
  * "is this labeled cluster coherent?" QA on an embedding-labeled
  * corpus. Components are quantized to e6 integer units FIRST
  * (one IEEE multiply + round per element, bit-identical across
  * engines), so the per-(label, dim) sums are exact integers and the
  * whole surface is rational: mean in e6 units (signed exact round),
  * spread as the exact population-variance numerator over n² (e12
  * units) — no float accumulation anywhere.
  *
  * Shape at scale: posexplode to (label, dim, unit) — rows × dims,
  * the unavoidable cost of exact per-dimension statistics — then ONE
  * map-side-combinable groupBy carrying (n, Σu, Σu²) mergeable state;
  * the variance numerator n·Σu²−(Σu)² needs no second pass (the q75
  * Pearson discipline). Output is |labels|·dims rows — broadcastable
  * downstream for nearest-prototype assignment. */
object Prototypes {

  def labelPrototypes(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val units = emb
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("pos__", "x__")))
      .select(col("label"), (col("pos__") + 1).cast("long").as("dim"),
        round(col("x__").cast("double") * 1e6).cast("long").as("u__"))
    val sums = units.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("u__").cast(dec)).as("s__"),
        sum((col("u__").cast(dec) * col("u__")).cast(dec)).as("ss__"))
    sums.select(col("label"), col("dim"), col("n"),
      ExactRound.ratioScaledSigned(col("s__"), col("n"), 0)
        .as("mean_e6"),
      ExactRound.ratioScaledBig(
        col("n").cast(dec) * col("ss__") - col("s__") * col("s__"),
        col("n").cast(dec) * col("n"), 0).as("var_e12"))
  }

  /** Nearest-prototype confusion matrix — every vector assigned to its
    * closest class centroid by EXACT integer squared-L2 over the e6
    * units (ties broken by candidate label ascending), tallied against
    * its true label: the nearest-class-mean evaluation that tells you
    * whether a labeled embedding corpus is even linearly separable
    * before any model training. Diagonal rows = per-class purity.
    *
    * Shape at scale: the prototype table (|labels|·dims rows) comes
    * from [[labelPrototypes]] and BROADCASTS to the exploded unit
    * stream (join on dim only — each unit row meets |labels|
    * candidates, the unavoidable k-factor of NCM scoring); distances
    * reduce by (vec, candidate) in one map-side-combinable groupBy;
    * the argmin window partitions by vec (|labels| rows per
    * partition). */
  def prototypeConfusion(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val protos = labelPrototypes(emb, vecCol, labelCol)
      .select(col("label").as("cand_label"), col("dim"), col("mean_e6"))
    val units = emb
      .select(col(idCol).as("vec__"),
        col(labelCol).cast("long").as("true_label"),
        posexplode(col(vecCol)).as(Seq("pos__", "x__")))
      .select(col("vec__"), col("true_label"),
        (col("pos__") + 1).cast("long").as("dim"),
        round(col("x__").cast("double") * 1e6).cast("long").as("u__"))
    val dists = units.join(broadcast(protos), "dim")
      .groupBy(col("vec__"), col("true_label"), col("cand_label"))
      .agg(sum(((col("u__") - col("mean_e6")).cast(dec) *
        (col("u__") - col("mean_e6"))).cast(dec)).as("dist2__"))
    val pick = Window.partitionBy(col("vec__"))
      .orderBy(col("dist2__").asc, col("cand_label").asc)
    dists
      .withColumn("rn__", row_number().over(pick))
      .filter(col("rn__") === 1)
      .groupBy(col("true_label"),
        col("cand_label").as("assigned_label"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Embedding-corpus QA — the sanity pass BEFORE any ANN index
    * build: per vector, its dimensionality, exact e12-unit squared
    * norm (sum of squared e6-quantized components — integer, so the
    * zero test is exact, not an epsilon), and the degenerate-vector
    * flags an index would choke on: `is_zero` (unnormalizable —
    * cosine undefined) and `is_empty` (no components at all). A
    * mixed-dimensionality corpus shows up as multiple n_dims values
    * downstream.
    *
    * Shape at scale: one explode + map-side-combinable groupBy(vec),
    * one left join back to keep empty vectors. */
  /** Pairwise CENTROID similarity matrix — the semantic twin of the
    * lexical TV matrix: for every label pair, how aligned are their
    * class centroids? Redundant classes (near-parallel centroids)
    * and contrastive ones (anti-parallel) fall straight out. Cosine
    * itself needs square roots, so the emitted number is the exact
    * rational that carries the same information:
    *
    *   cos2_signed_e6 = sign(a·b) · round(1e6 · (a·b)² / (|a|²|b|²))
    *
    * over the e6-quantized integer centroids of [[labelPrototypes]]
    * (cos = sign·sqrt(|cos2|)/1e3 for display; orderings by |cos|
    * and by |cos2| agree). All products run in DECIMAL(38,0): with
    * d dims and e6 means, dot ≤ d·1e12 and dot² ≤ d²·1e24 — inside
    * 128-bit headroom for any real embedding width. Zero centroids
    * emit 0 (the den-0 convention).
    *
    * Shape at scale: the |labels|·dims prototype table self-joins on
    * dim (|labels|² rows per dim — classes are bounded, never
    * corpus-sized), one map-side-combinable pair aggregate; norms
    * and counts broadcast back onto the |labels|² pair frame. */
  def centroidSimilarity(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def d(c: org.apache.spark.sql.Column) = c.cast(dec)
    val protos = labelPrototypes(emb, vecCol, labelCol)
      .select(col("label"), col("dim"), col("mean_e6"), col("n"))
    val per = protos.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(d(col("mean_e6")) * d(col("mean_e6"))).as("nsq__"))
    val a = protos.select(col("label").as("label_a"), col("dim"),
      col("mean_e6").as("ma__"))
    val b = protos.select(col("label").as("label_b"), col("dim"),
      col("mean_e6").as("mb__"))
    val dots = a.join(b, Seq("dim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(d(col("ma__")) * d(col("mb__"))).as("dot__"))
    dots
      .join(broadcast(per.select(col("label").as("label_a"),
        col("n_vecs").as("n_a"), col("nsq__").as("nsqa__"))), "label_a")
      .join(broadcast(per.select(col("label").as("label_b"),
        col("n_vecs").as("n_b"), col("nsq__").as("nsqb__"))), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        ExactRound.ratioScaledSigned(
          col("dot__") * abs(col("dot__")),
          col("nsqa__") * col("nsqb__"), 6).as("cos2_signed_e6"))
  }

  /** The DuckDB mirror of [[centroidSimilarity]] (the q130 prototype
    * CTE + the same pair algebra). */
  def centroidSimilaritySql(table: String, vecCol: String,
      labelCol: String): String = {
    val rs = ExactRound
    s"""WITH u AS (SELECT CAST($labelCol AS BIGINT) AS label,
       |    CAST(generate_subscripts($vecCol, 1) AS BIGINT) AS dim,
       |    CAST(round(CAST(unnest($vecCol) AS DOUBLE) * 1000000, 0)
       |      AS BIGINT) AS u
       |  FROM $table),
       |s AS (SELECT label, dim, count(*) AS n,
       |    sum(CAST(u AS HUGEINT)) AS s
       |  FROM u GROUP BY 1, 2),
       |c AS (SELECT label, dim, n,
       |    ${rs.ratioScaledSignedSql("s", "n", 0)} AS m
       |  FROM s),
       |per AS (SELECT label, max(n) AS n_vecs,
       |    sum(CAST(m AS HUGEINT) * m) AS nsq
       |  FROM c GROUP BY 1),
       |dots AS (SELECT a.label AS label_a, b.label AS label_b,
       |    sum(CAST(a.m AS HUGEINT) * b.m) AS dot
       |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2)
       |SELECT label_a, label_b,
       |  pa.n_vecs AS n_a, pb.n_vecs AS n_b,
       |  ${rs.ratioScaledSignedSql("CAST(dot AS HUGEINT) * abs(dot)",
            "pa.nsq * pb.nsq", 6)} AS cos2_signed_e6
       |FROM dots
       |JOIN per pa ON pa.label = dots.label_a
       |JOIN per pb ON pb.label = dots.label_b""".stripMargin
  }

  def embeddingQa(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val per = emb
      .select(col(idCol), explode(col(vecCol)).as("x__"))
      .select(col(idCol),
        round(col("x__").cast("double") * 1e6).cast("long").as("u__"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dims"),
        sum((col("u__").cast(dec) * col("u__")).cast(dec)).cast("long")
          .as("norm2_e12"))
    emb.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_dims"), lit(0L)).as("n_dims"),
        coalesce(col("norm2_e12"), lit(0L)).as("norm2_e12"))
      .withColumn("is_zero", col("norm2_e12") === 0L)
      .withColumn("is_empty", col("n_dims") === 0L)
  }

  /** UNSUPERVISED k-means (Lloyd's algorithm, fixed iteration count) —
    * the clustering primitive behind topic bucketing, IVF coarse
    * quantizers, and SemDeDup-style cluster-then-dedup, here with a
    * fully deterministic, engine-exact lineage so every iteration
    * hash-matches an unrolled SQL oracle:
    *   - init: the k seed vectors with the smallest (md5(id), id) — a
    *     deterministic pseudo-random draw, cluster index = seed rank;
    *   - assign: exact integer squared-L2 over e6-quantized components
    *     (the [[prototypeConfusion]] arithmetic), argmin with ties
    *     broken by cluster index ascending;
    *   - update: per-(cluster, dim) integer mean with the signed exact
    *     round ([[labelPrototypes]]' mean_e6); an emptied cluster
    *     keeps its previous centroid (no respawn heuristic — the rule
    *     an oracle can mirror).
    * Output: one row per (cluster, dim) with the final centroid
    * component, the cluster's member count under the FINAL centroids,
    * and its inertia (Σ d², e12 units floor-scaled to e6 so the total
    * stays in BIGINT range at corpus scale).
    *
    * Shape at scale: centroids are k·dims rows — always broadcast; the
    * per-iteration cost is one broadcast join + two map-side-
    * combinable aggregates over the exploded unit stream; the argmin
    * window partitions by vector (k rows each). Rounds run through
    * [[Iterate]]. */
  /** The shared e6 quantization of an embedding column to exact
    * integer (id, dim, unit) rows — ONE IEEE multiply + round per
    * element, bit-identical across engines; every exact-lineage
    * consumer (Lloyd, k-center, silhouette) reads the same units. */
  private[operators] def unitsE6(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = emb
    .select(col(idCol).cast("long").as("id__"),
      posexplode(col(vecCol)).as(Seq("pos__", "x__")))
    .select(col("id__"), (col("pos__") + 1).cast("long").as("dim"),
      round(col("x__").cast("double") * 1e6).cast("long").as("u__"))

  def kmeansLloyd(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iterations: Int = 3): DataFrame = {
    require(k >= 1 && iterations >= 1,
      "need k >= 1 and iterations >= 1")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val dec = "decimal(38,0)"
    val units = graft.Caches.register(
      unitsE6(emb, idCol, vecCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val wSeed = Window.orderBy(md5(col("id__").cast("string")).asc,
      col("id__").asc)
    // the k-row sort is bounded by construction: limit(k) runs as a
    // distributed TakeOrdered before the k-row row_number window
    val seeds = emb.select(col(idCol).cast("long").as("id__"))
      .orderBy(md5(col("id__").cast("string")).asc, col("id__").asc)
      .limit(k)
      .select(col("id__"), (row_number().over(wSeed) - 1).cast("long")
        .as("c"))
    val centroids0 = units
      .join(seeds, "id__")
      .select(col("c"), col("dim"), col("u__").as("ce6"))
    def assignTo(cents: DataFrame): DataFrame = {
      val dists = units.join(broadcast(cents), "dim")
        .groupBy(col("id__"), col("c"))
        .agg(sum(((col("u__") - col("ce6")).cast(dec) *
          (col("u__") - col("ce6"))).cast(dec)).as("d2__"))
      val pick = Window.partitionBy(col("id__"))
        .orderBy(col("d2__").asc, col("c").asc)
      dists.withColumn("rn__", row_number().over(pick))
        .filter(col("rn__") === 1)
        .select(col("id__"), col("c"), col("d2__"))
    }
    val centroids = Iterate.rounds(centroids0, iterations) { (cur, _) =>
      val assign = assignTo(cur)
      val upd = units.join(assign.select(col("id__"), col("c")), "id__")
        .groupBy(col("c"), col("dim"))
        .agg(count(lit(1)).as("n__"),
          sum(col("u__").cast(dec)).as("s__"))
        .select(col("c"), col("dim"),
          ExactRound.ratioScaledSigned(col("s__"), col("n__"), 0)
            .as("new__"))
      cur
        .join(upd, Seq("c", "dim"), "left")
        .select(col("c"), col("dim"),
          coalesce(col("new__"), col("ce6")).as("ce6"))
    }.last
    val finalAssign = assignTo(centroids)
    val sizes = finalAssign.groupBy(col("c"))
      .agg(count(lit(1)).as("n_members"),
        call_function("div", sum(col("d2__")), lit(1000000L))
          .cast("long").as("inertia_e6"))
    centroids.join(sizes, Seq("c"), "left")
      .select(col("c"), col("dim"), col("ce6"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_e6"), lit(0L)).as("inertia_e6"))
  }

  /** Per-cluster SIMPLIFIED SILHOUETTE over the [[kmeansLloyd]]
    * clustering — the linear-time cluster-quality card (Hruschka et
    * al.'s centroid variant of Rousseeuw's silhouette: distances to
    * centroids, not all pairs, so it scales where the classic O(n²)
    * silhouette cannot). Per point: a = d²(x, own centroid), b = d²(x,
    * nearest OTHER centroid), s = (b − a) / max(a, b) — here on exact
    * integer SQUARED distances (no libm sqrt; monotone in the same
    * separation signal), e6-scaled via the house exact-ratio rounding.
    * Under nearest-centroid assignment b ≥ a always, so s ∈ [0, 1e6]:
    * ~0 = boundary point, ~1e6 = deep inside its cluster. Output one
    * row per cluster: n_members + mean s (e6).
    *
    * Shape at scale: Lloyd's passes plus ONE more broadcast-join
    * distance pass (k·dims rows broadcast), a width-2 min extraction
    * per point, and a k-row aggregate — linear in rows × dims × k,
    * no pairwise anything. */
  def simplifiedSilhouette(emb: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, iterations: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val cents = kmeansLloyd(emb, idCol, vecCol, k, iterations)
      .select(col("c"), col("dim"), col("ce6"))
    val units = unitsE6(emb, idCol, vecCol)
    val dists = units.join(broadcast(cents), "dim")
      .groupBy(col("id__"), col("c"))
      .agg(sum(((col("u__") - col("ce6")).cast(dec) *
        (col("u__") - col("ce6"))).cast(dec)).as("d2__"))
    // own centroid = the assignment's (d2 asc, c asc) pick; b = the
    // second-nearest, i.e. the best of the OTHER clusters
    val pick = Window.partitionBy(col("id__"))
      .orderBy(col("d2__").asc, col("c").asc)
    val ab = dists.withColumn("rn__", row_number().over(pick))
      .filter(col("rn__") <= 2)
      .groupBy(col("id__"))
      .agg(max(when(col("rn__") === 1, col("c"))).as("c"),
        max(when(col("rn__") === 1, col("d2__"))).as("a2__"),
        max(when(col("rn__") === 2, col("d2__"))).as("b2__"))
    val s = ab.select(col("c"),
      ExactRound.ratioScaledBig(col("b2__") - col("a2__"), col("b2__"),
        6).as("s_e6"))
    s.groupBy(col("c"))
      .agg(count(lit(1)).as("n_members"),
        ExactRound.ratioScaledSigned(sum(col("s_e6")), count(lit(1)), 0)
          .as("mean_sil_e6"))
  }

  /** k-CENTER GREEDY coreset selection (Gonzalez' 2-approximation —
    * the diverse-subset picker behind active-learning coresets and
    * "cover the embedding space with k exemplars" data pruning): start
    * from a deterministic seed (smallest (md5(id), id)), then k−1
    * times add the point FARTHEST from the already-selected set
    * (max over candidates of min over selected of exact integer
    * squared-L2; ties by id ascending). Each step's `min_d2_e12` is
    * the coverage radius² the selection guarantees at that size — the
    * curve a "how many exemplars do I need?" decision reads.
    *
    * Shape at scale: the selected set is ≤ k ids — its unit rows
    * BROADCAST to the corpus unit stream each step; per step one
    * map-side-combinable (candidate, selected) distance aggregate, a
    * min per candidate, and a 1-row TakeOrdered argmax. k steps of
    * linear passes, the steps run through [[Iterate]]. */
  def kCenterGreedy(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, "need k >= 1")
    import org.apache.spark.storage.StorageLevel
    val dec = "decimal(38,0)"
    val units = graft.Caches.register(
      unitsE6(emb, idCol, vecCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val first = emb.select(col(idCol).cast("long").as("id__"))
      .orderBy(md5(col("id__").cast("string")).asc, col("id__").asc)
      .limit(1)
      .select(lit(0L).as("step"), col("id__"),
        lit(0L).as("min_d2_e12"))
    val selected = Iterate.rounds(first, k - 1) { (selected, t) =>
      val next = kcMinDist(units, selected)
        .orderBy(col("md__").desc, col("id__").asc).limit(1)
        .select(lit(t.toLong).as("step"), col("id__"),
          col("md__").cast("long").as("min_d2_e12"))
      selected.unionByName(next)
    }.last
    selected.select(col("step"), col("id__").as(idCol),
      col("min_d2_e12"))
  }

  /** The k-center distance stage, factored for plan audits (the loop
    * checkpoints eagerly, so the returned frame's plan is a scan):
    * min over the selected set of exact squared-L2 per unselected
    * candidate, the selected units broadcast. `units` = (id__, dim,
    * u__); `selected` carries id__. */
  private[graft] def kcMinDist(units: DataFrame,
      selected: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val selUnits = units.join(
      selected.select(col("id__").as("sid__")),
      col("id__") === col("sid__"))
      .select(col("sid__"), col("dim"), col("u__").as("su__"))
    units
      .join(selected.select(col("id__")), Seq("id__"), "left_anti")
      .join(broadcast(selUnits), "dim")
      .groupBy(col("id__"), col("sid__"))
      .agg(sum(((col("u__") - col("su__")).cast(dec) *
        (col("u__") - col("su__"))).cast(dec)).as("d2__"))
      .groupBy(col("id__"))
      .agg(min(col("d2__")).as("md__"))
  }

  /** CENTROID SHIFT between two halves of a labeled embedding corpus —
    * "did this class's representation move?": per label, the squared
    * L2 distance between the two halves' per-dimension mean vectors,
    * EXACTLY. Means never materialize as rounded values: per dim the
    * difference is the rational (sA·nB − sB·nA)/(nA·nB), so the
    * squared distance is Σ_dim (sA·nB − sB·nA)² over (nA·nB)² — one
    * exact e12-unit ratio per label (units are e6, so the distance
    * lands in e12 — the [[simplifiedSilhouette]] convention). A label
    * missing from either half reports NULL distance (no centroid to
    * compare), kept via the left join — the honest
    * appeared/disappeared signal.
    *
    * Shape at scale: unitsE6's posexplode, ONE map-side-combinable
    * (label, half, dim) aggregate, a labels×dims self-join, a
    * per-label rollup. */
  def centroidShift(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, halfB: org.apache.spark.sql.Column): DataFrame = {
    val dec = "decimal(38,0)"
    val tagged = emb.select(col(idCol).cast("long").as("id__"),
      col(labelCol).as("label"), halfB.as("hb__"))
    val units = unitsE6(emb, idCol, vecCol)
      .join(tagged, "id__")
    val sums = units.groupBy(col("label"), col("hb__"), col("dim"))
      .agg(count(lit(1)).as("n__"), sum(col("u__")).as("s__"))
    val a = sums.filter(!col("hb__"))
      .select(col("label"), col("dim"), col("n__").as("na__"),
        col("s__").as("sa__"))
    val b = sums.filter(col("hb__"))
      .select(col("label"), col("dim"), col("n__").as("nb__"),
        col("s__").as("sb__"))
    val diff = (col("sa__").cast(dec) * col("nb__") -
      col("sb__").cast(dec) * col("na__"))
    val per = a.join(b, Seq("label", "dim"))
      .groupBy(col("label"))
      // n is constant across dims within (label, half); max() is the
      // deterministic pick
      .agg(max(col("na__")).as("n_a"), max(col("nb__")).as("n_b"),
        sum((diff * diff).cast(dec)).as("num__"))
    tagged.select(col("label")).distinct()
      .join(per, Seq("label"), "left")
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("num__").isNotNull,
          ExactRound.ratioScaledBig(col("num__"),
            (col("n_a").cast(dec) * col("n_b")) *
              (col("n_a").cast(dec) * col("n_b")), 0))
          .as("shift_sq_e12"))
  }
}
