package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (single) query
  * vector, compute cosine per row, TakeOrderedAndProject for top-k — one
  * pass over the data, no shuffle beyond the final k-row merge, scales to
  * any corpus size that can be scanned.
  *
  * `lshTopK` is the scale path: random-hyperplane LSH buckets both sides;
  * only rows sharing a bucket with the query are scored. With b-bit
  * signatures split into `bands` sub-keys, recall degrades gracefully and
  * the scan reduces to the bucketed fraction. An IVF analog falls out of
  * the same shape with k-means centroid ids as the bucket key.
  */
object SimilaritySearch {

  /** Smallest band count whose LSH recall at per-bit collision
    * probability p = 1 − arccos(threshold)/π (Goemans–Williamson) meets
    * `targetRecall` for a pair sitting EXACTLY at the threshold — pairs
    * above it collide more often, so this is the worst case. From
    * recall = 1 − (1 − p^r)^b:  b = ln(1−R) / ln(1−p^r). The cost of the
    * whole operator is linear in b (b exploded keys per vector), so
    * paying the cos-0.45 worst case (~3k bands) at a routine 0.8
    * threshold (~120 bands) would be ~25× wasted shuffle.
    *
    * The result is clamped to [16, 8192]. The ceiling matters: below
    * cosine ≈ 0.42 the demanded band count exceeds 8192 and the
    * DELIVERED recall at exactly-threshold pairs falls under the target
    * (e.g. threshold 0.3 wants ~11.5k bands; at 8192 expected recall ≈
    * 0.88 for a 0.95 ask). LSH amplification is simply the wrong tool
    * that deep into the random-similarity regime — callers needing
    * guaranteed recall there should use the exact kernel or raise the
    * threshold; the clamp keeps the explode from silently exploding
    * cost instead. */
  def adaptiveBands(threshold: Double, bitsPerBand: Int = 16,
      targetRecall: Double = 0.95): Int = {
    val t = math.max(-1.0, math.min(1.0, threshold))
    val p = 1.0 - math.acos(t) / math.Pi
    val pr = math.pow(p, bitsPerBand)
    require(pr > 0 && pr < 1 && targetRecall > 0 && targetRecall < 1,
      s"degenerate LSH regime: p^r = $pr, targetRecall = $targetRecall")
    val b = math.ceil(math.log1p(-targetRecall) / math.log1p(-pr)).toInt
    math.max(16, math.min(8192, b))
  }

  /** Exact top-k by cosine against the embedding of `queryId`.
    * Ordering is pinned on (round(cos,6) desc, id asc) so results are
    * deterministic under floating-point reassociation. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    val scored = df.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
    scored
      .orderBy(round(col("cosine"), 6).desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cosine"), 4).as("cosine"))
  }

  /** Exact top-k by cosine for a BATCH of query ids — the realistic
    * retrieval shape (a query SET amortizes one corpus scan; per-query
    * scans pay it |Q| times). Each corpus vector is scored against all
    * broadcast queries at once, then top-k per query runs in TWO
    * phases: a partition-local top-k (window over (query,
    * spark_partition_id) — bounded memory, no corpus-wide sort) and a
    * global top-k over the surviving |Q|·k·P candidates. Both phases
    * use the same pinned ordering (round(cos,6) desc, id asc), so the
    * result equals the single-pass top-k regardless of partitioning.
    * At 100 TB the second phase sorts |Q|·k·P rows, not the corpus. */
  def bruteForceTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "need at least one query id")
    val q = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = df.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
      .withColumn("ord__", round(col("cosine"), 6))
    topKPerQuery(scored, idCol, k)
  }

  /** [[bruteForceTopKBatch]] with the per-query RANK exposed (same
    * two-phase kernel, same pinned (round(cos,6) desc, id asc)
    * ordering; rank = 1-based position in that order) — the ranked
    * RUN a retrieval evaluator ([[RetrievalEval]]) consumes. */
  def bruteForceTopKBatchRanked(df: DataFrame, idCol: String,
      vecCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "need at least one query id")
    val q = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = df.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
      .withColumn("ord__", round(col("cosine"), 6))
    topKPerQuery(scored, idCol, k,
      extraCols = Seq(col("gr__").cast("long").as("rank")))
  }

  /** The ONE two-phase per-query top-k kernel behind both batched
    * retrieval (q82) and hard-negative mining (q100): partition-local
    * top-k (window over (query, spark_partition_id) — bounded memory,
    * no corpus-wide sort), then global top-k over the surviving
    * |Q|·k·P candidates, both phases on the SAME pinned ordering
    * (round(cos,6) desc, id asc). The gates of every caller depend on
    * that ordering being bit-identical — which is exactly why the
    * kernel must not be duplicated per caller. Expects `query_id`,
    * `cosine` and `ord__` columns on `scored`. */
  private def topKPerQuery(scored: DataFrame, idCol: String, k: Int,
      extraCols: Seq[Column] = Nil): DataFrame = {
    val local = Window.partitionBy(col("query_id"), spark_partition_id())
      .orderBy(col("ord__").desc, col(idCol).asc)
    val global = Window.partitionBy(col("query_id"))
      .orderBy(col("ord__").desc, col(idCol).asc)
    scored
      .withColumn("lr__", row_number().over(local))
      .filter(col("lr__") <= k)
      .withColumn("gr__", row_number().over(global))
      .filter(col("gr__") <= k)
      .select(Seq(col("query_id"), col(idCol),
        round(col("cosine"), 4).as("cosine")) ++ extraCols: _*)
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k highest-cosine corpus vectors whose LABEL differs from the
    * anchor's — the "looks similar, is not the same class" examples a
    * retrieval/embedding trainer wants in its batch. Identical plan
    * shape to [[bruteForceTopKBatch]] (one corpus scan against a
    * broadcast anchor set, partition-local then global top-k on the
    * pinned (round(cos,6) desc, id asc) ordering); the label
    * disqualifier is pushed below the scoring so excluded rows never
    * pay the cosine kernel. */
  def hardNegativesBatch(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "need at least one anchor id")
    val q = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).as("q_lab"))
    val scored = df.crossJoin(broadcast(q))
      .filter(col(labelCol) =!= col("q_lab"))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
      .withColumn("ord__", round(col("cosine"), 6))
    topKPerQuery(scored, idCol, k,
      extraCols = Seq(col(labelCol).cast("long").as("neg_label")))
  }

  /** Cross-label near-duplicate pairs — the label-noise detector: two
    * vectors this similar with DIFFERENT labels are either a labeling
    * error or a class-boundary ambiguity, and both deserve review
    * before training. Labels attach to the (small) surviving pair
    * list by two equi-joins, never to the all-pairs stream. The pair
    * kernel is pluggable: [[embeddingNearDupExact]]'s blocked triangle
    * (default — exhaustive, the gate shape) or, with `lsh = true`, the
    * banded-hyperplane [[embeddingNearDup]] — the corpus-scale path
    * where the quadratic twin is unpayable (same emitted schema; every
    * LSH pair is cosine-verified, so only recall is approximate). */
  def crossLabelNearDup(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, threshold: Double,
      lsh: Boolean = false): DataFrame = {
    val pairs =
      if (lsh) embeddingNearDup(df, idCol, vecCol, threshold)
      else embeddingNearDupExact(df, idCol, vecCol, threshold)
    crossLabelNearDupFromPairs(pairs, df, idCol, labelCol)
  }

  /** The label-attach half of [[crossLabelNearDup]] over an ALREADY-
    * BUILT (id_a, id_b, cosine) pair surface — the consumer shape for
    * a STAGED pair store (r16 verdict #3): a production pipeline
    * verifies the near-dup pairs once per corpus stamp (from the
    * staged band-key index) and every downstream audit — label noise
    * here, label propagation, component maintenance — reads that one
    * table instead of re-running candidate generation + cosine verify
    * per consumer. Pure equi-joins on the (small) surviving pair list;
    * never touches vectors. */
  def crossLabelNearDupFromPairs(pairs: DataFrame, df: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val labels = df.select(col(idCol).cast("long").as("id__"),
      col(labelCol).cast("long").as("lab__"))
    pairs
      .join(labels.select(col("id__").as("id_a"), col("lab__").as("label_a")),
        "id_a")
      .join(labels.select(col("id__").as("id_b"), col("lab__").as("label_b")),
        "id_b")
      .filter(col("label_a") =!= col("label_b"))
      .select(col("id_a"), col("id_b"), col("cosine"),
        col("label_a"), col("label_b"))
  }

  /** Build the LSH key table for `lshProbe`: (idCol, pkey) rows, one
    * per (vector, band). This is the expensive side — bands exploded
    * keys per corpus vector — and it depends only on the corpus, so
    * build it ONCE, persist or write it out (it buckets/partitions
    * cleanly by pkey), and amortize across every probe; re-keying the
    * whole corpus per query would pay the full map+explode each call. */
  def lshIndex(df: DataFrame, idCol: String, vecCol: String,
      baseBits: Int = 512, bands: Int = 4096,
      bitsPerBand: Int = 16): DataFrame = {
    val dim = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    // same single-split guard as embeddingNearDup
    val spread =
      if (df.rdd.getNumPartitions >=
          df.sparkSession.sessionState.conf.numShufflePartitions) df
      else df.repartition(col(idCol))
    spread.select(col(idCol), explode(
      graft.expressions.HyperplaneBandKeys(
        col(vecCol), dim, baseBits, bands, bitsPerBand)).as("pkey"))
  }

  /** Probe a prebuilt [[lshIndex]] table: score only rows whose banded
    * hyperplane keys intersect the query's (16-bit band keys ⇒ each band
    * prunes to ~n/65,536 of the corpus, so the scored fraction is
    * ~bands·n/2¹⁶ plus the true neighbors). The query's key set
    * broadcasts (bands longs); candidates shuffle ids only, vectors join
    * back for exact cosine scoring. Per-probe cost is one broadcast
    * semi-join over the index plus a k-row merge — the index build never
    * re-runs. */
  def lshProbe(index: DataFrame, df: DataFrame, idCol: String,
      vecCol: String, queryId: Long, k: Int): DataFrame = {
    val q = index.filter(col(idCol) === queryId).select(col("pkey"))
    val candidates = index.filter(col(idCol) =!= queryId)
      .join(broadcast(q), Seq("pkey"))
      .select(col(idCol)).dropDuplicates(idCol)
    val qVec = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    candidates
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .crossJoin(broadcast(qVec))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
      .orderBy(round(col("cosine"), 6).desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cosine"), 4).as("cosine"))
  }

  /** One-shot convenience over [[lshIndex]] + [[lshProbe]] — builds the
    * key table for a SINGLE query, so the build cost is not amortized.
    * Fine for tests and ad-hoc lookups; a serving path should hold the
    * index from `lshIndex` and call `lshProbe` per query. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, baseBits: Int = 512, bands: Int = 4096,
      bitsPerBand: Int = 16): DataFrame =
    lshProbe(lshIndex(df, idCol, vecCol, baseBits, bands, bitsPerBand),
      df, idCol, vecCol, queryId, k)

  /** EXACT embedding-cosine near-dup pairs (id_a < id_b, cosine >=
    * threshold) — the correctness baseline. Relational formulation:
    * posexplode dimensions, self-join on the dimension index, one
    * codegen'd sum-of-products hash-aggregate per pair. Inherently
    * O(n²·d) work — at corpus scale use `embeddingNearDup` (LSH) and
    * keep this for verification samples. */
  def embeddingNearDupExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Blocked triangle join: vectors hash into `blocks` blocks by id;
    // every unordered block pair (i <= j) becomes one task holding two
    // blocks, and a tight double loop scores its cross product. Nothing
    // is ever collected to the driver and no single task sees more than
    // 2·n/blocks vectors — `blocks` is the memory/parallelism knob
    // (square-root scaling: task count grows as blocks², matching the
    // inherently quadratic work). The inner loop stays a raw array
    // kernel: Catalyst expression forms evaluate the 64-term cosine
    // interpreted per candidate pair once the threshold filter is pushed
    // into the join condition (measured 5× slower).
    val bN = blocks
    val norm = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .rdd.map { r =>
        val v = r.getSeq[Double](1).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), if (nrm == 0) v else v.map(_ / nrm))
      }
    val keyed = norm.flatMap { case (id, v) =>
      val b = (((id % bN) + bN) % bN).toInt
      (0 until bN).map { o =>
        ((math.min(b, o), math.max(b, o)), (b == math.min(b, o), (id, v)))
      }
    }
    def score(ida: Long, va: Array[Double], idb: Long, vb: Array[Double]) = {
      var s = 0.0
      var k = 0
      while (k < va.length) { s += va(k) * vb(k); k += 1 }
      if (s >= threshold) {
        val (lo, hi) = if (ida < idb) (ida, idb) else (idb, ida)
        Iterator((lo, hi, math.rint(s * 10000) / 10000))
      } else Iterator.empty
    }
    val pairs = keyed
      .groupByKey(numPartitions = bN * (bN + 1) / 2)
      .flatMap { case ((i, j), rows) =>
        if (i == j) {
          val arr = rows.map(_._2).toArray
          arr.indices.iterator.flatMap { a =>
            (a + 1 until arr.length).iterator.flatMap { c =>
              score(arr(a)._1, arr(a)._2, arr(c)._1, arr(c)._2)
            }
          }
        } else {
          val left = rows.iterator.filter(_._1).map(_._2).toArray
          val right = rows.iterator.filterNot(_._1).map(_._2).toArray
          left.iterator.flatMap { case (ida, va) =>
            right.iterator.flatMap { case (idb, vb) => score(ida, va, idb, vb) }
          }
        }
      }
    pairs.toDF("id_a", "id_b", "cosine")
  }

  /** A built IVF coarse quantizer: the k×d centroid table (driver
    * state, tiny by definition) plus the cell-assigned corpus. Build
    * once with [[ivfIndex]], persist or write `assigned` out
    * (partitioning by `c` colocates each posting list), probe many
    * times with [[ivfProbe]] — same amortization contract as
    * [[lshIndex]]/[[lshProbe]]. */
  case class IvfQuantizer(centroids: Array[Array[Double]], assigned: DataFrame)

  /** IVF (inverted-file) ANN: k-means coarse quantizer built with a few
    * Lloyd iterations (deterministic init: lowest ids), then the query
    * probes only the `nProbe` nearest centroids' posting lists. The
    * assignment/aggregation steps are plain explode+groupBy — linear,
    * shuffle-parallel; centroids (k×d doubles) are the only driver-side
    * state, exactly what a coarse quantizer is supposed to be.
    * One-shot convenience over [[ivfIndex]] + [[ivfProbe]]; a serving
    * path builds the index once and probes per query. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nCentroids: Int = 8, nProbe: Int = 2,
      iterations: Int = 2): DataFrame =
    ivfProbe(ivfIndex(df, idCol, vecCol, nCentroids, iterations),
      idCol, queryId, k, nProbe)

  /** Build the IVF coarse quantizer (the expensive, corpus-only side). */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 8, iterations: Int = 2): IvfQuantizer = {
    val vecs = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    def centroidLit(c: Array[Double]) = array(c.map(lit): _*)
    def dist2(v: Column, c: Array[Double]): Column =
      graft.expressions.SquaredDistance(v, centroidLit(c))
    // Deterministic farthest-point init on a bounded id-ordered sample
    // (init needs spread, not the full corpus): ONE collect of the
    // sample, then farthest-point runs locally — k sequential Spark jobs
    // for a k-centroid seed would pay k scheduling round-trips for
    // driver-side state that is tiny by definition.
    val sample: Array[Array[Double]] = vecs.orderBy(col("id").asc)
      .limit(4096).select(col("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    var centroids: Array[Array[Double]] = Array(sample(0))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    while (centroids.length < nCentroids) {
      // strict > keeps the earliest (lowest-id) point on ties, matching
      // the previous (minDist desc, id asc) ordering
      var bestIdx = 0
      var bestD = -1.0
      for (idx <- sample.indices) {
        val d = centroids.map(c => d2(sample(idx), c)).min
        if (d > bestD) { bestD = d; bestIdx = idx }
      }
      centroids :+= sample(bestIdx)
    }
    def assignExpr: Column = {
      // argmin over centroids as a when-chain on the running minimum
      val ds = centroids.zipWithIndex.map { case (c, ci) => (ci, dist2(col("v"), c)) }
      val minD = least(ds.map(_._2): _*)
      ds.foldRight(lit(0)) { case ((ci, d), acc) =>
        when(d === minD, lit(ci)).otherwise(acc)
      }
    }
    for (_ <- 1 to iterations) {
      val means = vecs.withColumn("c", assignExpr)
        .select(col("c"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("c"), col("i")).agg(avg(col("x")).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byC = means.groupBy(_._1)
      centroids = centroids.zipWithIndex.map { case (old, ci) =>
        byC.get(ci) match {
          case Some(ms) => ms.sortBy(_._2).map(_._3).toArray
          case None => old // empty cluster keeps its centroid
        }
      }
    }
    IvfQuantizer(centroids, vecs.withColumn("c", assignExpr))
  }

  /** Probe a prebuilt [[IvfQuantizer]]: rank the query's distance to
    * each centroid driver-side (k×d floats — trivial), then scan ONLY
    * the `nProbe` nearest cells' posting lists. Per-probe cost is one
    * filtered scan of the assigned table plus a k-row merge; the
    * quantizer build (sampling + Lloyd) never re-runs. */
  def ivfProbe(index: IvfQuantizer, idCol: String, queryId: Long,
      k: Int, nProbe: Int = 2): DataFrame = {
    val assigned = index.assigned
    val q = assigned.filter(col("id") === queryId).collect()(0)
    val qv = q.getSeq[Double](1).toArray
    val probes = index.centroids.zipWithIndex
      .map { case (c, ci) =>
        ci -> c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      .sortBy(_._2).take(nProbe).map(_._1).toSet
    val qLit = array(qv.map(lit): _*)
    assigned
      .filter(col("c").isInCollection(probes) && col("id") =!= queryId)
      .withColumn("cosine", VectorFns.cosineNative(col("v"), qLit))
      .orderBy(round(col("cosine"), 6).desc, col("id").asc)
      .limit(k)
      .select(col("id").as(idCol), round(col("cosine"), 4).as("cosine"))
  }

  /** Embedding-cosine near-dup pairs among ALL rows (id_a < id_b,
    * cosine >= threshold) — LSH-bucketed so no full cross product.
    *
    * Shape, sized for a corpus that does NOT fit anywhere:
    *   1. one pass emits `bands` packed 16-bit band keys per vector
    *      ([[graft.expressions.HyperplaneBandKeys]]) — explode to
    *      (id, pkey) rows carrying NO payload;
    *   2. ids-only self-join on pkey → candidate (id_a, id_b), dedup —
    *      the shuffle moves two longs per candidate, never vectors;
    *   3. vectors join back by id (two shuffled equi-joins) and the
    *      codegen'd cosine verifies exactly.
    *
    * Tuning (see HyperplaneBandKeys scaladoc for the math): 16-bit band
    * keys give 65,536 buckets/band, so false candidates sit at the
    * birthday floor ~bands·n²/2¹⁷ while recall at per-bit collision
    * probability p is 1−(1−p¹⁶)^bands. The band count is derived from
    * the threshold by default ([[adaptiveBands]], target recall 0.95 at
    * exactly-threshold similarity): cosine 0.45 — the hardest useful
    * regime, p ≈ 0.65 — needs ~3,100 bands, while a routine near-dup
    * threshold of 0.8 (p ≈ 0.8) needs ~120, a ~25× cost difference the
    * operator should not hard-code away. Pass `bands` explicitly to pin
    * a configuration. Base signature is 512 bits throughout — its cost
    * (512·dim multiply-adds per vector, computed once) is negligible
    * next to the per-band explode. Realized recall runs slightly below
    * the formula when bands·bitsPerBand ≫ baseBits (bands reuse base
    * bits, so their collisions are positively correlated): measured vs
    * the exact kernel at threshold 0.45 with derived bands = 3,055 —
    * recall 1.0 at sf0.01, 0.91 at sf0.1 (131/144 pairs, 0 false
    * positives; was 0.958 at the old fixed 4,096 bands). The q40 audit
    * re-measures recall against the exact kernel every gate run. */
  /** SemDeDup-style semantic near-dup pairs (Abbas et al. '23): cluster
    * the embedding space with the SAME k-means coarse quantizer IVF uses
    * ([[ivfIndex]]), then verify cosine only WITHIN each cluster —
    * near-duplicates are near in embedding space, so they land in the
    * same cell, and the cross-cluster comparisons (the bulk of the n²)
    * are never scored. Approximate by construction: a pair straddling a
    * cluster boundary is missed (the q40 audit measures realized recall
    * against the exact kernel every gate run); every emitted pair is
    * cosine-verified, so precision is exact.
    *
    * Scale shape: the within-cluster candidate join moves (cluster, id)
    * pairs only — two longs — and vectors join back by id for the
    * codegen'd cosine verify, the same ids-first discipline as
    * [[embeddingNearDup]]. Per-cluster work is quadratic in the cell
    * size n/k, which is the SemDeDup contract: k grows with the corpus
    * (FAISS-style √n cells) so cells stay bounded; `nClusters` is that
    * knob. Choose LSH ([[embeddingNearDup]]) when recall near a sharp
    * threshold matters; choose this when the corpus clusters naturally
    * and the cheaper single-assignment pass wins. */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int = 8, iterations: Int = 2,
      nAssign: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val index = ivfIndex(df, idCol, vecCol, nClusters, iterations)
    // Multi-assignment: each vector lands in its `nAssign` nearest
    // cells, not just the argmin — a pair sitting ON a cell boundary
    // (the only pairs single-assignment misses) then shares at least
    // one cell whenever both sides rank it among their nearest.
    // Measured at threshold 0.45 (the random-noise regime, where true
    // pairs hug boundaries): recall 0.43 with nAssign=1, 0.79 with
    // nAssign=2, 1.0 with nAssign=3 at sf0.01 (14/14); 0.965 at sf0.1
    // (139/144), 0 invented pairs at either.
    // Candidate volume scales with nAssign²·n/k
    // per cell pair — the recall/cost knob. The per-id top-nAssign is a
    // row_number filter directly over the window, so Spark's
    // WindowGroupLimit plants the partial top-k map-side (the
    // stratified-sample lesson); ties broken by cell index.
    val dists = array(index.centroids.map(c =>
      graft.expressions.SquaredDistance(col("v"),
        array(c.map(lit): _*)): Column): _*)
    val w = Window.partitionBy(col("id")).orderBy(col("d").asc, col("ci").asc)
    val ids = index.assigned
      .select(col("id"), posexplode(dists).as(Seq("ci", "d")))
      .withColumn("rn__", row_number().over(w))
      .filter(col("rn__") <= nAssign)
      .select(col("ci").as("c"), col("id"))
    val pairs = ids.as("a").join(ids.as("b"),
        col("a.c") === col("b.c") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", VectorFns.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, baseBits: Int = 512, bands: Int = 0,
      bitsPerBand: Int = 16, targetRecall: Double = 0.95): DataFrame = {
    val nBands =
      if (bands > 0) bands else adaptiveBands(threshold, bitsPerBand, targetRecall)
    val dim = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    // The signature+explode map stage parallelizes per input split; a
    // small/single-file corpus would otherwise run it in one task, so
    // spread it first (at real scale the source already has splits and
    // this branch never fires).
    val spread =
      if (df.rdd.getNumPartitions >=
          df.sparkSession.sessionState.conf.numShufflePartitions) df
      else df.repartition(col(idCol))
    val keyed = spread.select(col(idCol).as("id"),
      explode(graft.expressions.HyperplaneBandKeys(
        col(vecCol), dim, baseBits, nBands, bitsPerBand)).as("pkey"))
    // Bucket by key with ONE shuffle and expand pairs locally (a self-join
    // would shuffle the exploded key table twice and recompute its
    // lineage). Buckets are near-singleton by construction (birthday
    // floor), so the local s² expansion is bounded; a genuinely hot
    // bucket means near-identical vectors — real duplicates you must
    // emit anyway.
    val pairs = keyed.groupBy(col("pkey"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", VectorFns.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Staged banded-hyperplane key table: the (id, pkey) rows of
    * [[embeddingNearDup]]'s bucket stage, persisted to `storeDir` on
    * first touch and read back as parquet ever after — the embedding
    * twin of [[Dedup.stagedMinHashIndex]]: an append-only corpus
    * never re-signs its standing vectors; only each new batch pays
    * the signature cost. Plane/band derivations are deterministic
    * (HyperplaneBandKeys), so a staged store is exactly what a fresh
    * build would produce. Built once through [[graft.Tables.buildOnce]]. */
  def stagedBandKeys(df: DataFrame, idCol: String, vecCol: String,
      storeDir: String, baseBits: Int, bands: Int,
      bitsPerBand: Int): DataFrame = {
    val spark = df.sparkSession
    graft.Tables.buildOnce(spark, storeDir) {
      bandKeyRows(df, idCol, vecCol, baseBits, bands, bitsPerBand)
        .write.mode("overwrite").parquet(s"$storeDir/keys")
    }
    spark.read.parquet(s"$storeDir/keys")
  }

  /** (id, pkey) exploded band-key rows — the build kernel behind both
    * [[embeddingNearDup]]'s inline bucket stage and [[stagedBandKeys]]. */
  def bandKeyRows(df: DataFrame, idCol: String, vecCol: String,
      baseBits: Int, bands: Int, bitsPerBand: Int): DataFrame = {
    // dim probe must survive an EMPTY frame (a nightly refresh whose
    // delta batch has no rows): any dim yields the same empty result
    // with the correct schema, so the fallback never reaches data
    val dim = df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(1)
    df.select(col(idCol).as("id"),
      explode(graft.expressions.HyperplaneBandKeys(
        col(vecCol), dim, baseBits, bands, bitsPerBand)).as("pkey"))
  }

  /** [[embeddingNearDup]]'s bucket-expand + cosine-verify stages over
    * an ALREADY-KEYED (id, pkey) table — the consumer half of
    * [[stagedBandKeys]]: every query that feeds from the near-dup
    * graph reads the one staged key store instead of re-signing the
    * corpus per query (r12 verdict: the 8 graph consumers paid the
    * same band join 8x; a production pipeline signs once and shares
    * the index). Key derivations are deterministic, so
    * `fromKeys(stagedKeys(df)) == embeddingNearDup(df)` exactly —
    * the mirrored [[graft.catalog.OracleSql]] lshPairCtes oracle is unchanged. */
  def embeddingNearDupFromKeys(keys: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val pairs = keys.groupBy(col("pkey"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", VectorFns.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** RANGE SEARCH over the staged band-key index — per anchor, HOW
    * MANY corpus vectors sit within the cosine radius, plus the
    * closest one's similarity (e4 integer units): the "how crowded is
    * this embedding's neighborhood" statistic behind dedup-pressure
    * dashboards and radius-based blocklists, where top-k is the wrong
    * shape because the answer IS the count. Candidates come from
    * band-key co-membership (anchor keys semi-join the standing key
    * table — the [[lshProbe]] pruning, batched); the exact cosine
    * verify touches candidates only, and anchors whose neighborhood is
    * empty vanish (an empty count is an empty group, not a zero row).
    *
    * Shape at scale: anchors are a bounded batch, so their key rows
    * broadcast; one pkey-equi-join against the staged index, one
    * candidate-pair verify, one per-anchor aggregate. */
  def rangeCountFromKeys(keys: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String, anchors: DataFrame,
      anchorCol: String, threshold: Double): DataFrame = {
    val aKeys = keys.join(
      broadcast(anchors.select(col(anchorCol).as("id")).distinct()), "id")
    val cand = aKeys.select(col("id").as("anchor_id"), col("pkey"))
      .join(keys.select(col("id").as("other_id"), col("pkey")), "pkey")
      .filter(col("anchor_id") =!= col("other_id"))
      .select(col("anchor_id"), col("other_id"))
      .dropDuplicates("anchor_id", "other_id")
    val vecs = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.select(col("id").as("anchor_id"), col("vec").as("va")),
        "anchor_id")
      .join(vecs.select(col("id").as("other_id"), col("vec").as("vb")),
        "other_id")
      .withColumn("cosine", VectorFns.cosineNative(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("anchor_id"))
      .agg(count(lit(1)).as("n_in_range"),
        max(round(col("cosine") * 10000, 0).cast("long"))
          .as("max_cosine_e4"))
  }

  /** Incremental embedding near-dup — pairs with at least one endpoint
    * in the NEW batch, against a standing key store plus the batch
    * itself, WITHOUT re-signing the standing corpus: the batch's keys
    * broadcast against the (billions-of-rows at scale) standing key
    * table, candidates expand only where buckets collide, and the
    * exact cosine verify touches candidate pairs only. `vectors` must
    * hold every id that can appear (standing ∪ batch) — the cold
    * store the verify fetches from. */
  def incrementalEmbeddingNearDup(standingKeys: DataFrame,
      vectors: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, threshold: Double, baseBits: Int, bands: Int,
      bitsPerBand: Int): DataFrame = {
    val batchKeys = bandKeyRows(batch, idCol, vecCol,
      baseBits, bands, bitsPerBand)
    val allKeys = standingKeys.unionByName(batchKeys)
    val pairs = broadcast(batchKeys).as("a")
      .join(allKeys.as("b"),
        col("a.pkey") === col("b.pkey") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", VectorFns.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  // ==== int8 scalar quantization ANN ======================================

  /** Quantized corpus index: (id, codes array<tinyint>) — build once,
    * store (the byte table is 4× smaller than float32, 8× than
    * float64; at 100 TB the quantized index is what fits in cluster
    * memory/SSD while the float vectors stay in cold storage). One
    * fused codegen pass per vector ([[graft.expressions.QuantizeInt8]]:
    * max-abs scan + round(127·x/s) codes). */
  def quantizedIndex(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.expressions.QuantizeInt8(col(vecCol)).as("codes"))

  /** Top-k by QUANTIZED cosine against `queryId`, over a prebuilt
    * [[quantizedIndex]] table. Per-vector scales cancel in the cosine,
    * so the byte arrays feed the same fused cosine kernel directly —
    * no dequantization, no float vectors touched at probe time. Same
    * pinned ordering as [[bruteForceTopK]] (round 6 desc, id asc).
    * Approximate: round-off on the codes can swap neighbors whose true
    * cosines differ by ≲1e-2 — the q105 gate measures realized recall
    * against the exact kernel every run. */
  def quantizedProbe(index: DataFrame, idCol: String, queryId: Long,
      k: Int): DataFrame = {
    val q = index.filter(col("id") === queryId)
      .select(col("codes").as("q_codes"))
    index.filter(col("id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("qcos", VectorFns.cosineNative(col("codes"), col("q_codes")))
      .orderBy(round(col("qcos"), 6).desc, col("id").asc)
      .limit(k)
      .select(col("id").as(idCol), round(col("qcos"), 4).as("qcosine"))
  }

  /** One-shot convenience over [[quantizedIndex]] + [[quantizedProbe]]. */
  def quantizedTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame =
    quantizedProbe(quantizedIndex(df, idCol, vecCol), idCol, queryId, k)

  // ==== product quantization (PQ) ANN =====================================

  /** A trained product quantizer: per-subspace codebooks (m × nCodes ×
    * subDim doubles — driver state, tiny by definition, the same
    * contract as [[IvfQuantizer]] centroids) plus the encoded corpus
    * (id, codes: array<tinyint> of length m — for the default
    * m=16/nCodes=16, SIXTEEN BYTES per vector vs 256 for float32×64).
    * Build once with [[pqIndex]], store `encoded`, probe many times. */
  case class PqQuantizer(codebooks: Array[Array[Array[Double]]],
      subDim: Int, encoded: DataFrame)

  /** Deterministic local k-means (farthest-point init from the first
    * point, Lloyd with lowest-index tie-breaks, empty cells keep their
    * centroid) — PQ codebooks train on a bounded id-ordered sample
    * driver-side, the standard practice (codebook state is m×k×subDim
    * doubles; the corpus-side work is the ENCODING, which is
    * distributed). */
  private def kmeansLocal(points: Array[Array[Double]], k: Int,
      iterations: Int): Array[Array[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var cents: Array[Array[Double]] = Array(points(0))
    while (cents.length < math.min(k, points.length)) {
      var bestIdx = 0; var bestD = -1.0
      for (idx <- points.indices) {
        val d = cents.map(c => d2(points(idx), c)).min
        if (d > bestD) { bestD = d; bestIdx = idx }
      }
      cents :+= points(bestIdx)
    }
    for (_ <- 1 to iterations) {
      val sums = Array.fill(cents.length)(new Array[Double](points(0).length))
      val counts = new Array[Long](cents.length)
      for (p <- points) {
        var best = 0; var bestD = Double.MaxValue
        for (ci <- cents.indices) {
          val d = d2(p, cents(ci))
          if (d < bestD) { bestD = d; best = ci } // strict < : lowest index wins ties
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0) old
        else sums(ci).map(_ / counts(ci))
      }
    }
    cents
  }

  /** Train a product quantizer and encode the corpus: split each vector
    * into `m` contiguous subspaces, k-means each subspace's sample to
    * `nCodes` centroids, then assign every corpus subvector its nearest
    * centroid id — one distributed pass through the fused
    * [[graft.expressions.PqEncode]] kernel emitting m tinyint codes per
    * vector (the compositional when-chain formulation exceeds Janino's
    * limits at realistic m·nCodes and falls back interpreted ~100×
    * slower — see PqEncode's scaladoc). */
  def pqIndex(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, nCodes: Int = 16, iterations: Int = 4): PqQuantizer = {
    val vecs = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val dim = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val sample: Array[Array[Double]] = vecs.orderBy(col("id").asc)
      .limit(4096).select(col("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      kmeansLocal(sample.map(_.slice(j * subDim, (j + 1) * subDim)),
        nCodes, iterations)
    }
    PqQuantizer(codebooks, subDim,
      vecs.select(col("id"),
        graft.expressions.PqEncode(col("v"), codebooks, subDim).as("codes")))
  }

  /** ADC (asymmetric distance computation) probe of a [[PqQuantizer]]:
    * the query stays EXACT; per corpus vector the approximate dot is a
    * sum of m lookup-table entries (query-subvector · centroid, baked
    * into the plan as literal arrays — m×nCodes doubles of driver
    * state) and the approximate norm comes from the centroids' norms
    * the same way. approx cos = Σ lut[code] / (|q|·√Σ cnorm²[code]) —
    * per-row cost is m array-literal lookups, NOT a d-length loop, and
    * the scan reads 16-byte code rows, not vectors: the 100 TB probe
    * path. Same pinned ordering as [[bruteForceTopK]]; the q106 gate
    * measures realized recall against the exact kernel every run. */
  def pqProbe(index: PqQuantizer, df: DataFrame, idCol: String,
      vecCol: String, queryId: Long, k: Int): DataFrame = {
    val qv: Array[Double] = df.filter(col(idCol) === queryId)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .head().getSeq[Double](0).toArray
    val m = index.codebooks.length
    val subDim = index.subDim
    val qnorm = math.sqrt(qv.map(x => x * x).sum)
    def dotLocal(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val lut: Array[Array[Double]] = Array.tabulate(m) { j =>
      val qSub = qv.slice(j * subDim, (j + 1) * subDim)
      index.codebooks(j).map(c => dotLocal(qSub, c))
    }
    val cnorm: Array[Array[Double]] = Array.tabulate(m) { j =>
      index.codebooks(j).map(c => dotLocal(c, c))
    }
    index.encoded.filter(col("id") =!= queryId)
      .withColumn("qcos",
        graft.expressions.PqAdcScore(col("codes"), lut, cnorm, qnorm))
      .orderBy(round(col("qcos"), 6).desc, col("id").asc)
      .limit(k)
      .select(col("id").as(idCol), round(col("qcos"), 4).as("qcosine"))
  }

  /** PQ retrieval as deployed in practice (FAISS's IndexRefine shape):
    * the ADC scan produces a SHORTLIST of `shortlist` candidates from
    * the m-byte codes alone, then ONLY those ids fetch their float
    * vectors for an exact cosine re-rank, emitting the top `k` with
    * [[bruteForceTopK]]'s pinned ordering and schema. The corpus scan
    * reads 16-byte rows; the refine join touches `shortlist` vectors —
    * at 100 TB that is the difference between scanning the code table
    * (fits in cluster memory) and scanning the raw embeddings (does
    * not). Raw ADC ranking is NOT a substitute: on an i.i.d.-noise
    * corpus (this testdata — the hardest PQ regime, nothing for
    * codebooks to exploit) code distortion reorders the cosine 0.3-0.4
    * band freely, while the shortlist only has to CONTAIN the true
    * top-k, a far weaker ask the q106 gate measures every run. */
  /** Matryoshka (MRL-style) prefix-dimension ANN with shortlist +
    * exact full-dim re-rank: score the corpus on only the FIRST
    * `prefixDim` vector components (embeddings trained with
    * matryoshka losses concentrate signal in the prefix; even
    * without, the prefix cosine is a cheap correlated proxy),
    * shortlist the top `shortlist` ids, then re-rank just those with
    * the full-dimension cosine — the PQ/IndexRefine funnel
    * ([[pqTopKRefined]]) with dimension truncation as the coarse
    * stage. At 100 TB the prefix scan reads d/prefixDim times fewer
    * vector bytes (a 64→16 truncation is a 4× scan-cost cut with no
    * trained codebook at all), and only `shortlist` full vectors are
    * ever fetched per query. Same pinned ordering as every ANN
    * operator (round(cos,6) desc, id asc). */
  def matryoshkaTopKRefined(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, prefixDim: Int = 16,
      shortlist: Int = 100): DataFrame = {
    require(prefixDim >= 1 && shortlist >= k, "need prefixDim>=1, shortlist>=k")
    val trunc = df.select(col(idCol),
      slice(col(vecCol), 1, prefixDim).as(vecCol))
    val cand = bruteForceTopK(trunc, idCol, vecCol, queryId, k = shortlist)
      .select(col(idCol))
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    df.join(cand, Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
      .orderBy(round(col("cosine"), 6).desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cosine"), 4).as("cosine"))
  }

  def pqTopKRefined(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, m: Int = 16, nCodes: Int = 16,
      shortlist: Int = 100): DataFrame = {
    val index = pqIndex(df, idCol, vecCol, m, nCodes)
    val cand = pqProbe(index, df, idCol, vecCol, queryId, k = shortlist)
      .select(col(idCol))
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    df.join(cand, Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .withColumn("cosine", VectorFns.cosineNative(col(vecCol), col("q_vec")))
      .orderBy(round(col("cosine"), 6).desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cosine"), 4).as("cosine"))
  }
}
