package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactRound

/** Spectral diagnostics over an embedding corpus — the top principal
  * component by POWER ITERATION and the per-vector projections onto
  * it. Embedding spaces produced by neural encoders carry a large
  * "common component" (Mu & Viswanath 2018, "All-but-the-Top"):
  * subtracting the mean and the projection onto the first principal
  * component(s) measurably sharpens cosine similarity, so a curation
  * pipeline computes the top PC both as a QA card (how anisotropic is
  * this embedding table?) and as the input to common-component
  * removal. Power iteration needs only matrix-vector products —
  * v ← Xᵀ(Xv) — so it distributes as two linear passes per step and
  * never materializes the dims×dims covariance.
  *
  * Exact integer lineage end to end (the house discipline): e6 unit
  * quantization ([[Prototypes.unitsE6]]), e6 signed-exact mean
  * centering, DECIMAL(38,0) dot/accumulate, and per-step max-|·|
  * normalization back to e6 via the shared signed half-away ratio —
  * a fixed iteration count therefore hash-matches the mirrored
  * unrolled HUGEINT CTE chain bit for bit. Xᵀ X is PSD, so the
  * iterate's sign pattern is stable (no eigenvalue sign flips); the
  * all-ones e6 start vector is deterministic and, on mean-centered
  * data, never exactly orthogonal to the top PC in practice (if it
  * were, the iterate collapses to zeros — observable, not wrong).
  *
  * Shape at scale: the centered units persist once; each step is a
  * dims-row broadcast join + per-id aggregate (the dot), then a
  * per-dim aggregate (the update) — map-side combinable both ways, no
  * window, no pairwise anything. Headroom: |w| ≤ rows·dims·(4e6)²·1e6
  * stays inside DECIMAL(38,0)/HUGEINT up to ~5·10¹⁰ rows (the final
  * ·2e6 rounding term is the binding constraint).
  */
object Spectral {

  private val dec = "decimal(38,0)"

  /** Mean-centered e6 units (id, dim, x) — shared by both ops. */
  private def centered(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val units = Prototypes.unitsE6(emb, idCol, vecCol)
    val means = units.groupBy(col("dim"))
      .agg(ExactRound.ratioScaledSigned(sum(col("u__").cast(dec)),
        count(lit(1)), 0).as("m__"))
    units.join(broadcast(means), "dim")
      .select(col("id__"), col("dim"), (col("u__") - col("m__")).as("x__"))
  }

  private def iterate(x: DataFrame, v0: DataFrame,
      iterations: Int): DataFrame =
    Iterate.rounds(v0, iterations) { (v, _) =>
      val dots = x.join(broadcast(v), "dim")
        .groupBy(col("id__"))
        .agg(sum((col("x__").cast(dec) * col("v_e6")).cast(dec))
          .as("dot__"))
      val w = x.join(dots, "id__")
        .groupBy(col("dim"))
        .agg(sum((col("x__").cast(dec) * col("dot__")).cast(dec))
          .as("w__"))
      val nrm = w.agg(max(abs(col("w__"))).as("nrm__"))
      w.crossJoin(broadcast(nrm))
        .select(col("dim"),
          ExactRound.ratioScaledSigned(col("w__"), col("nrm__"), 6)
            .as("v_e6"))
    }.last

  /** The top principal direction after `iterations` power steps, one
    * row per dimension, e6-scaled with max-component magnitude 1e6. */
  def topPcPower(emb: DataFrame, idCol: String, vecCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    import org.apache.spark.storage.StorageLevel
    val x = graft.Caches.register(centered(emb, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val v0 = x.select(col("dim")).distinct()
      .select(col("dim"), lit(1000000L).as("v_e6"))
    iterate(x, v0, iterations)
      .select(col("dim"), col("v_e6").as("pc_e6"))
  }

  /** Per-vector projection coefficient onto the [[topPcPower]]
    * direction (e6 units — ⟨x, v⟩/1e6 with signed half-away
    * rounding): the magnitude each vector would lose to ABTT
    * common-component removal, and the outlier score a "dominated by
    * the common direction" QA filter thresholds. One extra broadcast
    * join + per-id aggregate past [[topPcPower]]. */
  def pcProjection(emb: DataFrame, idCol: String, vecCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    import org.apache.spark.storage.StorageLevel
    val x = graft.Caches.register(centered(emb, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val v0 = x.select(col("dim")).distinct()
      .select(col("dim"), lit(1000000L).as("v_e6"))
    val v = iterate(x, v0, iterations)
    x.join(broadcast(v), "dim")
      .groupBy(col("id__"))
      .agg(ExactRound.ratioScaledSigned(
        sum((col("x__").cast(dec) * col("v_e6")).cast(dec)),
        lit(1000000L), 0).as("proj_e6"))
      .select(col("id__").as(idCol), col("proj_e6"))
  }

  /** Per-dimension INT8 QUANTIZATION card — the vector-store
    * compression audit: each dimension affine-quantized to its own
    * [lo, hi] range on a 256-level grid (q = round((u−lo)·255/span),
    * the standard per-channel scheme), and the reconstruction error
    * reported WITHOUT leaving integers: err255 = |255·(u−lo) − q·span|
    * is the absolute reconstruction error scaled by 255·span/span —
    * i.e. err255/255 e6-units — so max and total error per dimension
    * are exact longs and the gate surface carries no division at all.
    * A dimension with span 0 quantizes to level 0 with zero error.
    * Input floats enter through the shared e6 unit quantization
    * ([[Prototypes.unitsE6]], the q230/q239 discipline).
    *
    * Shape at scale: two map-side-combinable per-dim aggregates with
    * a BROADCAST (dims-row) bounds join between them; no windows, no
    * pairwise anything. */
  def quantizeInt8Card(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val units = Prototypes.unitsE6(emb, idCol, vecCol)
    val bounds = units.groupBy(col("dim"))
      .agg(min(col("u__")).as("lo"), max(col("u__")).as("hi"))
    val e = units.join(broadcast(bounds), "dim")
      .withColumn("span__", col("hi") - col("lo"))
      .withColumn("q__",
        when(col("span__") > 0, call_function("div",
          (col("u__") - col("lo")) * 510L + col("span__"),
          col("span__") * 2L)).otherwise(lit(0L)))
      .withColumn("err__",
        abs((col("u__") - col("lo")) * 255L - col("q__") * col("span__")))
    e.groupBy(col("dim"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        max(col("err__")).as("max_err255"),
        sum(col("err__")).cast("long").as("sum_err255"))
      .select(col("dim"), col("n"), col("lo"), col("hi"),
        col("max_err255"), col("sum_err255"))
  }

  /** Embedding-table QA card — the pre-flight every ANN/clustering
    * consumer should run before trusting a vector column: one row with
    * vector count, dimension consistency (min/max element count —
    * ragged tables break every dot-product operator downstream), NULL
    * pollution (vectors containing null elements), zero vectors
    * (cosine-undefined), and the e12 squared-norm range (norm
    * collapse/explosion without a sqrt on the gate surface — q214's
    * squared discipline). Sums run in DECIMAL(38,0).
    *
    * Shape at scale: one explode + per-vector aggregate (map-side
    * combinable), one corpus reduce; no windows, no driver state. */
  def vectorQa(emb: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val perVec = emb
      .select(col(idCol).as("id__"),
        explode(col(vecCol)).as("x__"))
      .withColumn("u__", round(col("x__").cast("double") * 1e6)
        .cast("long"))
      .groupBy(col("id__"))
      .agg(count(lit(1)).as("dims__"),
        sum(when(col("x__").isNull, 1L).otherwise(0L)).as("nulls__"),
        sum((col("u__") * col("u__")).cast(dec)).as("sq__"))
    perVec.agg(
      count(lit(1)).as("n_vecs"),
      min(col("dims__")).as("min_dims"),
      max(col("dims__")).as("max_dims"),
      sum(when(col("nulls__") > 0, 1L).otherwise(0L)).cast("long")
        .as("n_with_null"),
      sum(when(col("nulls__") === 0 && col("sq__") === 0, 1L)
        .otherwise(0L)).cast("long").as("n_zero"),
      min(col("sq__")).cast("long").as("min_sqnorm_e12"),
      max(col("sq__")).cast("long").as("max_sqnorm_e12"),
      sum(col("sq__")).cast(dec).cast("long").as("sum_sqnorm_e12"))
  }
}
