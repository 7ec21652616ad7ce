package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Deduplication suite for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. Everything is expressed as
  * explode→shuffle-on-key→aggregate, the shape that scales linearly with
  * cluster size — no pairwise O(n²) stage ever materializes more than the
  * candidate pairs that share a bucket.
  */
object Dedup {

  /** Exact dedup by content hash: one representative (min id) per
    * distinct normalized text, with the duplicate count. Hash-groupBy with
    * map-side partial aggregation; dedup key is the md5 fingerprint so the
    * shuffle carries 16 bytes, not the document. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFns.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Distinct n-gram shingles per doc, exploded: (doc, shingle).
    *
    * Zero shuffles: the native [[graft.expressions.WordNGrams]] codegen
    * expression builds the de-duplicated gram set per row, so consumers
    * reach their first shuffle at the posting-list aggregate. The
    * earlier posexplode → doc-window → `lead` formulation paid a token
    * shuffle (partitionBy doc) plus a per-doc sort plus a second
    * `.distinct()` shuffle before any consumer did real work; the
    * array-lambda alternative (`transform` + `element_at`) is
    * interpreted (HOFs have no codegen) and re-evaluates the tokenizer
    * per element — measured ~10× slower still. Gram text is identical
    * across all three forms (same tokens, same single-space join), so
    * oracle SQL is unaffected. */
  private[operators] def explodedShingles(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(graft.expressions.WordNGrams.distinctGrams(
        TextFns.words(col(textCol)), n)).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs (similarity >= `threshold`,
    * doc_a < doc_b). Inverted-index self-join on shingle: intersection
    * sizes come from one groupBy over co-occurring pairs; set sizes join
    * back. At scale the shingle join is the standard posting-list
    * pattern; hot shingles (stopword runs) can be frequency-capped —
    * `maxDocFreq` drops shingles occurring in more than that many docs
    * (0 disables; a shingle that common carries no dedup signal). */
  def jaccardNearDup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDocFreq: Long = 0L): DataFrame = {
    // persisted (r20): the explode feeds both self-join sides and the
    // sizes aggregate (guide §5: reused + expensive ⇒ cache)
    val sh = graft.Caches.register(
      explodedShingles(df, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val filtered =
      if (maxDocFreq <= 0) sh
      else {
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= maxDocFreq).drop("df_")
        sh.join(freq, "shingle")
      }
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val a = filtered.as("a")
    val b = filtered.as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      // int/int ratio → exact integer rounding (tie-proof; see ExactRound)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ExactRound.ratio(col("inter"),
          col("n_a") + col("n_b") - col("inter"), 4).as("jaccard"))
  }

  /** IDF-WEIGHTED Jaccard near-dup pairs — the rare-shingle-aware
    * refinement of [[jaccardNearDup]]: two docs sharing a distinctive
    * phrase matter more than two docs sharing boilerplate, so each
    * shingle carries the integer weight `N div df` (N = docs holding
    * any shingle, df = the shingle's document frequency — a truncated
    * IDF that stays in exact integer arithmetic; hot boilerplate
    * shingles weigh ~1, near-unique shingles weigh ~N) and
    *
    *   wJaccard(A,B) = Σ_{s∈A∩B} w_s / (Σ_A w + Σ_B w − Σ_∩ w).
    *
    * The threshold ships as the rational thrNum/thrDen and is tested
    * by cross-multiplication; the reported score is the exact-rounded
    * e6 scaled int. Weighting reorders borderline pairs both ways:
    * boilerplate-only overlaps fall below the cut, rare-phrase
    * overlaps rise above it — the effect RefinedWeb-class pipelines
    * get from stopword-stripped shingling without losing the text.
    *
    * Shape at scale: IDENTICAL shuffles to [[jaccardNearDup]] (one
    * shingle-df aggregate, the posting self-join with sum(w) instead
    * of count, per-doc weight sums joined back) plus a 1-row broadcast
    * of N — the same `sub_quadratic` candidate bound applies, and
    * `maxDocFreq`-style capping composes upstream if needed. */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrNum: Long = 1L, thrDen: Long = 2L): DataFrame = {
    require(thrNum > 0 && thrDen > 0, "threshold must be positive")
    // ws persisted (r20): it feeds the doc sums AND both self-join
    // sides. sh itself is NOT persisted — measured A/B at sf0.1: its
    // two consumers (idf table, weighted rows) cost less to recompute
    // than the cache write+reads of the full exploded frame.
    val sh = explodedShingles(df, idCol, textCol, n)
    val nDocs = sh.agg(count_distinct(col("doc")).as("n_docs__"))
    val w = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df__"))
      .crossJoin(broadcast(nDocs))
      .select(col("shingle"),
        call_function("div", col("n_docs__"), col("df__")).as("w__"))
    val ws = graft.Caches.register(sh.join(w, "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sums = ws.groupBy(col("doc")).agg(sum(col("w__")).cast("long").as("sw__"))
    val inter = ws.as("a").join(ws.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(sum(col("a.w__")).cast("long").as("inter_w"))
    inter
      .join(sums.select(col("doc").as("doc_a"), col("sw__").as("sa__")), "doc_a")
      .join(sums.select(col("doc").as("doc_b"), col("sw__").as("sb__")), "doc_b")
      .withColumn("union_w", col("sa__") + col("sb__") - col("inter_w"))
      .filter(col("inter_w") * thrDen >= col("union_w") * thrNum)
      .select(col("doc_a"), col("doc_b"), col("inter_w"), col("union_w"),
        graft.functions.ExactRound.ratioScaled(col("inter_w"),
          col("union_w"), 6).as("wjaccard_e6"))
  }

  /** Posting-list sizing report for the pairwise dedup family: distinct
    * shingle count, the hottest shingle's document frequency, and the
    * total candidate-pair volume a posting self-join would generate
    * (Σ df·(df−1)/2 over shingles). This is the knob-sizing query run
    * BEFORE a corpus-scale [[jaccardNearDup]]/[[containmentPairs]]:
    * candidate volume ≫ n·k means hot boilerplate shingles need a
    * `maxDocFreq` cap (or the prefix filter). One aggregate over the
    * exploded shingles; three longs out. */
  def shingleStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    explodedShingles(df, idCol, textCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df_"))
      .agg(count(lit(1)).as("n_shingles"),
        max(col("df_")).as("max_df"),
        sum(expr("df_ * (df_ - 1) div 2")).cast("long")
          .as("candidate_pairs"))

  /** Prefix-filtered EXACT Jaccard join — the AllPairs/PPJoin family
    * (Bayardo et al. WWW'07; Xiao et al. WWW'08): the deterministic
    * alternative to MinHash LSH with ZERO false negatives. Order every
    * doc's shingles by a global total order (document frequency asc,
    * shingle asc — rarest first), and join only the PREFIXES: for
    * Jaccard ≥ t = thrNum/thrDen a matching pair must share an element
    * within each side's first |s| − ⌈t·|s|⌉ + 1 shingles (if the
    * smallest-ordered common shingle w sat beyond a prefix, fewer than
    * ⌈t·|s|⌉ elements of that side could be ≥ w, contradicting
    * |a∩b| ≥ t·|a∪b| ≥ t·|s|). At t = 0.5 the join touches half of
    * each posting list, and because the order puts RAREST shingles in
    * prefixes, the prefix postings are the short tail of the frequency
    * distribution — the hot boilerplate shingles that explode a naive
    * posting join sit in suffixes and never generate candidates.
    *
    * Exactly [[jaccardNearDup]]'s output (same verify kernel): use this
    * when a guarantee matters (eval-set contamination, benchmark
    * leakage); use MinHash ([[minhashLSH]]) when its signature reuse /
    * incremental index amortization wins. Shape: one per-doc
    * rank window, prefix self-join moving (doc, shingle) pairs, then
    * the candidate-restricted exact verify. */
  def prefixFilteredJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrNum: Long = 1L, thrDen: Long = 2L): DataFrame = {
    val (cand, sh, sizes) =
      prefixJaccardInternal(df, idCol, textCol, n, thrNum, thrDen)
    verifyPairs(cand, sh, sizes, thrNum.toDouble / thrDen)
  }

  /** The candidate (doc_a, doc_b) surface [[prefixFilteredJaccard]]
    * hands to its exact verify — exposed so scale probes can measure
    * the filters' pruning power (candidate volume vs all-pairs)
    * without paying the verify. */
  def prefixJaccardCandidates(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, thrNum: Long = 1L,
      thrDen: Long = 2L): DataFrame =
    prefixJaccardInternal(df, idCol, textCol, n, thrNum, thrDen)._1

  private def prefixJaccardInternal(df: DataFrame, idCol: String,
      textCol: String, n: Int, thrNum: Long,
      thrDen: Long): (DataFrame, DataFrame, DataFrame) = {
    val sh = graft.Caches.register(
      explodedShingles(df, idCol, textCol, n).persist())
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df_"))
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("p", row_number().over(
        Window.partitionBy(col("doc"))
          .orderBy(col("df_").asc, col("shingle").asc)))
      .join(sizes, "doc")
    // prefix length |s| - ceil(t·|s|) + 1, ceil via integer arithmetic.
    // Persisted (r20): the prefix frame is BOTH sides of the candidate
    // self-join below — without the persist the dfreq aggregate, the
    // per-doc rarity window and the sizes join recomputed once per
    // side (guide §5: reused + expensive ⇒ cache).
    val prefix = graft.Caches.register(ranked.filter(col("p") <=
      col("n_sh") - expr(s"(n_sh * $thrNum + ${thrDen - 1}) div $thrDen")
        + lit(1L))
      .select(col("doc"), col("shingle"), col("p").cast("long").as("p"),
        col("n_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // The AllPairs/PPJoin refinements (Xiao et al., r11 advice) ride
    // the join condition, so pruned candidates never materialize:
    //  - LENGTH filter: J(a,b) >= t forces t·|a| <= |b| and t·|b| <= |a|
    //    (integer cross-multiplication — sizes travel with the prefix
    //    rows, no extra join);
    //  - POSITIONAL filter: a shared prefix token at ranks (p_a, p_b)
    //    caps the total overlap at 1 + min(|a|-p_a, |b|-p_b), and
    //    J >= t needs overlap >= t/(1+t)·(|a|+|b|) — cross-multiplied
    //    by (thrNum+thrDen). A pair sharing several prefix tokens
    //    survives if ANY of them passes (a superset of PPJoin's
    //    first-token rule — the exact verify below settles membership,
    //    these filters only shrink what it touches).
    val tn = lit(thrNum)
    val td = lit(thrDen)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
          col("b.n_sh") * td >= tn * col("a.n_sh") &&
          col("a.n_sh") * td >= tn * col("b.n_sh") &&
          (lit(1L) + least(col("a.n_sh") - col("a.p"),
            col("b.n_sh") - col("b.p"))) * (tn + td) >=
            tn * (col("a.n_sh") + col("b.n_sh")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    (cand, sh, sizes)
  }

  /** Pair EXPLANATIONS — for every verified near-dup pair, the `k`
    * rarest shared shingles with their document frequencies: the
    * evidence a human reviewer (or a downstream allow-list rule)
    * reads next to the score. Rarest-first because hot shingles
    * (boilerplate) explain nothing; a df-2 shared trigram is the
    * smoking gun.
    *
    * Shape at scale: the shared-shingle fetch is the verify kernel's
    * pair-restricted join shape; the per-pair window runs over that
    * pair's intersection only (bounded by doc size). */
  def explainPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrNum: Long = 1L, thrDen: Long = 2L,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // reuse the internal's PERSISTED shingle frame (r21): the
    // previous form re-derived explodedShingles from scratch and
    // consumed the fresh lineage 3x (both pair-side joins + dfreq)
    // while the identical persisted frame already existed inside
    // prefixFilteredJaccard — q189 paid the explode four times
    val (cand, sh, sizes) =
      prefixJaccardInternal(df, idCol, textCol, n, thrNum, thrDen)
    val pairs = verifyPairs(cand, sh, sizes, thrNum.toDouble / thrDen)
    val dfreq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("gram_df"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("gram_df").asc, col("shingle").asc)
    pairs
      .join(sh.withColumnRenamed("doc", "doc_a"), "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .join(dfreq, "shingle")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("rnk"), col("shingle"), col("gram_df"))
  }

  /** CORPUS-level n-gram overlap — one row comparing two corpora's
    * DISTINCT n-gram sets: Jaccard plus both directed containments,
    * all exact e6 rationals. The dataset-granularity twin of the
    * per-doc pair operators: "how much of corpus B is already in A?"
    * is the question an aggregation / licensing / contamination
    * decision asks before any doc-level work.
    *
    * Shape at scale: each side's distinct grams (map-side-combinable),
    * ONE union tagged with side flags, one groupBy(shingle) collapsing
    * to membership bits, one 1-row aggregate — a single shuffle on
    * the gram key, no pairwise anything. */
  def corpusGramOverlap(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    def side(df: DataFrame, flag: String) =
      explodedShingles(df, idCol, textCol, n)
        .select(col("shingle")).distinct()
        .select(col("shingle"), lit(flag).as("side__"))
    val tagged = side(a, "a").unionByName(side(b, "b"))
    val bits = tagged.groupBy(col("shingle"))
      .agg(max(when(col("side__") === "a", 1L).otherwise(0L)).as("ia__"),
        max(when(col("side__") === "b", 1L).otherwise(0L)).as("ib__"))
    bits.agg(
        sum(col("ia__")).as("n_a"),
        sum(col("ib__")).as("n_b"),
        sum(col("ia__") * col("ib__")).as("n_inter"),
        count(lit(1)).as("n_union"))
      .select(col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
        graft.functions.ExactRound.ratioScaled(col("n_inter"),
          col("n_union"), 6).as("jaccard_e6"),
        graft.functions.ExactRound.ratioScaled(col("n_inter"),
          col("n_a"), 6).as("cont_a_e6"),
        graft.functions.ExactRound.ratioScaled(col("n_inter"),
          col("n_b"), 6).as("cont_b_e6"))
  }

  /** Cross-SOURCE containment matrix — [[corpusGramOverlap]]'s
    * per-group generalization and the "is source B a scrape/mirror of
    * source A?" curation card: for every ordered source pair with any
    * overlap, the count of shared distinct n-grams and the containment
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| (e4-scaled exact). A
    * row near 1e4 means source A's shingle set lives almost entirely
    * inside B — dedup/downweight A before it double-counts in a
    * training mix.
    *
    * Shape at scale: distinct (source, gram) — the TYPE table, ≪
    * corpus — then one inverted-index self-join on gram whose fan-out
    * per gram is bounded by the SOURCE count (not doc count: grams
    * are already distinct per source), and a sources² aggregate. */
  def sourceContainment(df: DataFrame, textCol: String,
      groupCol: String, n: Int = 3): DataFrame = {
    // persisted (r20): the distinct TYPE table feeds the sizes
    // aggregate and both sides of the inverted-index self-join
    val grams = graft.Caches.register(explodedShingles(
        df.select(col(groupCol), col(textCol)), groupCol, textCol, n)
      .select(col("doc").as("src_a"), col("shingle"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = grams.groupBy(col("src_a"))
      .agg(count(lit(1)).as("n_grams_a"))
    grams
      .join(grams.select(col("src_a").as("src_b"), col("shingle")),
        "shingle")
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes, "src_a")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        graft.functions.ExactRound.ratioScaled(col("n_shared"),
          col("n_grams_a"), 4).as("containment_e4"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: how much of the SMALLER
    * document's shingle set lives inside the other. Jaccard punishes a
    * short doc fully embedded in a long one (|A∩B|/|A∪B| stays small
    * when |B| ≫ |A|), so subset-style duplication — a paragraph
    * re-published inside a larger page, a doc plus boilerplate — needs
    * the containment score C(A→B) = |A∩B|/|A|. Same inverted-index
    * shuffle shape as [[jaccardNearDup]] (posting-list self-join, one
    * pair aggregate, sizes joined back); the threshold is applied by
    * integer cross-multiplication (`inter·thrDen ≥ thrNum·min(n_a,n_b)`)
    * and both directed containments ship as e4-scaled integers, so the
    * whole gate surface is longs.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrNum: Int = 6, thrDen: Int = 10,
      maxDocFreq: Long = 0L): DataFrame = {
    // persisted (r20): the shingle explode feeds both self-join sides
    // AND the sizes aggregate — 3-4 consumers of the same text pass
    val sh = graft.Caches.register(
      explodedShingles(df, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val filtered =
      if (maxDocFreq <= 0) sh
      else {
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= maxDocFreq).drop("df_")
        sh.join(freq, "shingle")
      }
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val a = filtered.as("a")
    val b = filtered.as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .filter(col("inter") * lit(thrDen.toLong) >=
        lit(thrNum.toLong) * least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a"), col("n_b"),
        graft.functions.ExactRound.ratioScaled(col("inter"), col("n_a"), 4)
          .as("cont_a_e4"),
        graft.functions.ExactRound.ratioScaled(col("inter"), col("n_b"), 4)
          .as("cont_b_e4"))
  }

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard.
    *
    * Fully relational formulation — shingles stay EXPLODED as rows all the
    * way through (never doc-level arrays), so every stage is a linear
    * shuffle-parallel aggregate:
    *   1. (doc, shingle) rows — one explode;
    *   2. per row, ONE array of `numHashes` lane hashes, exploded →
    *      (doc, lane, h). Computing lane hashes as a single posexploded
    *      array matters: a doc-level signature array that downstream band
    *      expressions reference k times gets duplicated k× by Catalyst's
    *      projection collapse (measured 100× slowdown);
    *   3. groupBy(doc, lane).min(h) — map-side partial agg;
    *   4. band key = hash of the band's ordered lane minima
    *      (groupBy(doc, band));
    *   5. self-join on (band, bkey) → candidate pairs → exact-Jaccard
    *      verify via the same inverted-index count used by
    *      `jaccardNearDup`, restricted to candidates.
    *
    * r rows/band × b bands gives P(candidate) = 1-(1-s^r)^b; the default
    * r=2/b=32 keeps recall ≈ 0.9999 at s = 0.5. */
  /** Reusable MinHash index over a corpus slice: the persisted shingle
    * posting rows, per-doc signatures (lane minima + shingle count), and
    * exploded band keys. Build it ONCE over the standing corpus (in
    * production: store `bandKeys`/`shingles`/`signatures` as tables) and
    * probe increments against it — the append-only crawl shape where
    * re-shingling yesterday's billions per new batch is the cost that
    * kills naive dedup. */
  case class MinHashIndex(shingles: DataFrame, signatures: DataFrame,
      bandKeys: DataFrame, n: Int, numHashes: Int, bands: Int)

  def buildMinHashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 32): MinHashIndex = {
    val rowsPerBand = numHashes / bands
    // The exploded (doc, shingle) rows are the shared kernel of both the
    // signature pass and the candidate verification, so they persist
    // once; per-doc state is NEVER collected into an array — the widest
    // row anywhere is 64 lane minima + a count, bounded regardless of
    // document length (a collect_set(shingle) payload would grow with
    // the document and OOM executors on long docs at corpus scale).
    val sh = graft.Caches.register(
      explodedShingles(df, idCol, textCol, n).persist())
    // Signature = ONE hash-aggregate with `numHashes` codegen'd min()
    // columns (no 64x row blowup, no interpreted lambdas): each lane j is
    // min(xxhash64(j, shingle)) over the doc's shingles.
    val laneAggs = (0 until numHashes).map(j =>
      min(xxhash64(lit(j), col("shingle"))).as(s"mh$j")) :+
      count(lit(1)).as("n_sh")
    val sig = graft.Caches.register(
      sh.groupBy(col("doc")).agg(laneAggs.head, laneAggs.tail: _*)
        .persist())
    val bandExprs = (0 until bands).map { b =>
      val lanes = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j"))
      xxhash64(lit(b) +: lanes: _*)
    }
    val bkeys = sig.select(col("doc"),
      posexplode(array(bandExprs: _*)).as(Seq("band", "bkey")))
    MinHashIndex(sh, sig, bkeys, n, numHashes, bands)
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs,
    * restricted to the candidate PAIRS themselves: each pair pulls
    * doc_a's postings (one equi-join), then keeps exactly the rows
    * doc_b also holds (one (doc, shingle) equi-join) — work is
    * Σ|pair| · |doc_a| rows, proportional to what the candidate
    * filters admitted. (The previous form semi-joined postings to
    * candidate DOCS and re-ran the posting self-join — when
    * candidates touch most docs, as q104's 6%-of-all-pairs surface
    * does, that "verify" silently re-did the full quadratic
    * co-occurrence expansion the prefix filter exists to avoid —
    * r12.) A candidate pair sharing no shingle simply drops out
    * (jaccard 0 < threshold). */
  private def verifyPairs(pairs: DataFrame, sh: DataFrame,
      sizes: DataFrame, threshold: Double): DataFrame = {
    val inter = pairs
      .join(sh.withColumnRenamed("doc", "doc_a"), "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      // int/int ratio → exact integer rounding (tie-proof; see ExactRound)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ExactRound.ratio(col("inter"),
          col("n_a") + col("n_b") - col("inter"), 4).as("jaccard"))
  }

  def minhashLSH(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.5): DataFrame =
    minhashLSHFromIndex(
      buildMinHashIndex(df, idCol, textCol, n, numHashes, bands), threshold)

  /** The band self-join + exact-Jaccard verify stage of [[minhashLSH]],
    * over an ALREADY-BUILT index (fresh or loaded from a store): callers
    * that stage the index once (see [[stagedMinHashIndex]]) pay only
    * this probe per run. */
  def minhashLSHFromIndex(idx: MinHashIndex,
      threshold: Double = 0.5): DataFrame = {
    val a = idx.bandKeys.as("a")
    val b = idx.bandKeys.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyPairs(pairs, idx.shingles,
      idx.signatures.select(col("doc"), col("n_sh")), threshold)
  }

  /** Dedup THRESHOLD-SENSITIVITY curve — how many verified near-dup
    * pairs (and how many distinct documents) survive each candidate
    * threshold: the sheet read before committing to a dedup cutoff
    * (Lee et al. pick 0.8 Jaccard for C4-style dedup, SlimPajama 0.8
    * on different shingles — the right value is corpus-dependent and
    * this is the curve that shows the knee). Input is any verified
    * pair frame with an e4 integer score (the [[prefixFilteredJaccard]]
    * output at the LOWEST threshold of interest — exact by
    * construction, so the curve inherits exactness); each requested
    * threshold reports pairs with score ≥ t and the distinct docs
    * those pairs touch, zero-filled so every threshold emits a row.
    *
    * Shape at scale: the pair frame is near-dup-sized (not corpus-
    * sized); one |thresholds|-way tagged expansion over it, one count
    * and one distinct-doc count per threshold, a broadcast zero-fill
    * join. */
  def thresholdCurve(pairs: DataFrame, aCol: String, bCol: String,
      scoreE4: Column, thresholdsE4: Seq[Long]): DataFrame = {
    require(thresholdsE4.nonEmpty &&
      thresholdsE4 == thresholdsE4.sorted &&
      thresholdsE4.distinct.size == thresholdsE4.size,
      "thresholds sorted distinct")
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = graft.Caches.register(pairs
      .select(col(aCol).as("a__"), col(bCol).as("b__"),
        scoreE4.cast("long").as("s__"))
      .persist())
    val tagged = p
      .select(explode(array(thresholdsE4.map(lit): _*)).as("t__"),
        col("a__"), col("b__"), col("s__"))
      .filter(col("s__") >= col("t__"))
    val np = tagged.groupBy(col("t__"))
      .agg(count(lit(1)).as("n_pairs"))
    val nd = tagged
      .select(col("t__"), explode(array(col("a__"), col("b__"))).as("d__"))
      .distinct()
      .groupBy(col("t__")).agg(count(lit(1)).as("n_docs"))
    thresholdsE4.toDF("threshold_e4")
      .join(broadcast(np.withColumnRenamed("t__", "threshold_e4")),
        Seq("threshold_e4"), "left")
      .join(broadcast(nd.withColumnRenamed("t__", "threshold_e4")),
        Seq("threshold_e4"), "left")
      .select(col("threshold_e4"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Restrict an index to the docs NOT in `ids` (first column = doc id).
    * Every index component is per-doc rows with no cross-doc state, so an
    * anti-joined full-corpus index is EXACTLY the index built over the
    * remaining docs — this is how a stored corpus-wide index serves the
    * "standing side" of [[incrementalNearDup]] without a rebuild when a
    * slice of the corpus is re-designated as the probe batch. `ids` is
    * broadcast: the removal set is small by construction (a batch). */
  def excludeFromIndex(idx: MinHashIndex, ids: DataFrame): MinHashIndex = {
    val ex = broadcast(
      ids.select(col(ids.columns.head).as("doc")).distinct())
    MinHashIndex(
      idx.shingles.join(ex, Seq("doc"), "left_anti"),
      idx.signatures.join(ex, Seq("doc"), "left_anti"),
      idx.bandKeys.join(ex, Seq("doc"), "left_anti"),
      idx.n, idx.numHashes, idx.bands)
  }

  /** Fingerprint of a source file/directory for store-staleness keys:
    * name+length+mtime of every entry. The testdata parquet is
    * regenerated between driver rounds with fresh draws, so a staged
    * index keyed by PATH alone would silently serve stale postings —
    * mtime+size in the key forces a rebuild whenever the source file
    * changes. */
  def sourceStamp(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val entries =
      if (st.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
      else Seq(st)
    val sig = entries
      .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
      .mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff}%08x"
  }

  /** Load the MinHash index from `storeDir`, building and writing it
    * first if absent — the production shape the scaladoc above
    * prescribes: the standing corpus' postings/signatures/band keys live
    * as stored tables and each session/probe READS them instead of
    * re-shingling the corpus (the append-only crawl never re-reads its
    * archive). First call per store pays build+write; every later call —
    * including bench repeats and other queries sharing the corpus —
    * pays three parquet scans. Built once through
    * [[graft.Tables.buildOnce]], whose marker commits after all three
    * tables. */
  def stagedMinHashIndex(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 32): MinHashIndex = {
    val spark = df.sparkSession
    graft.Tables.buildOnce(spark, storeDir) {
      val scope = graft.Caches.mark()
      val idx = buildMinHashIndex(df, idCol, textCol, n, numHashes, bands)
      idx.shingles.write.mode("overwrite").parquet(s"$storeDir/shingles")
      idx.signatures.write.mode("overwrite").parquet(s"$storeDir/signatures")
      idx.bandKeys.write.mode("overwrite").parquet(s"$storeDir/bandkeys")
      // the build's internal persists served their purpose (shared
      // subtree across the three writes); release them now
      graft.Caches.releaseSince(scope)
    }
    MinHashIndex(
      spark.read.parquet(s"$storeDir/shingles"),
      spark.read.parquet(s"$storeDir/signatures"),
      spark.read.parquet(s"$storeDir/bandkeys"),
      n, numHashes, bands)
  }

  /** Incremental near-dup: pairs between a NEW batch and the standing
    * corpus (plus new×new), without re-shingling the standing corpus —
    * only the batch is exploded; the stored index supplies the old
    * side's band keys, shingle postings, and sizes. Probe shape:
    *   1. band keys of the batch (one scan of the batch);
    *   2. join batch keys against batch ∪ standing keys — every
    *      candidate pair has ≥ 1 new endpoint by construction;
    *   3. exact-Jaccard verify against the COMBINED posting rows
    *      restricted to candidate docs (the semi-join means the
    *      standing corpus contributes only the few docs that bucket
    *      with the batch).
    * Emits (doc_a, doc_b, jaccard) with doc_a < doc_b, ≥ 1 endpoint in
    * the batch — exactly the batch-relevant slice of what a full
    * rebuild would find. Ids must be disjoint from the index's. */
  def incrementalNearDup(index: MinHashIndex, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val newIdx = buildMinHashIndex(newDocs, idCol, textCol,
      index.n, index.numHashes, index.bands)
    val allKeys = index.bandKeys.unionByName(newIdx.bandKeys)
    // The batch side is broadcast EXPLICITLY: in the append-only crawl
    // shape the standing index is billions of stored band-key rows and
    // the probe batch is small — a shuffle join would repartition the
    // whole standing index per increment, which is the cost this
    // operator exists to avoid. (For batch sizes past the broadcast
    // threshold Spark falls back to shuffle on its own.)
    val a = broadcast(newIdx.bandKeys).as("a")
    val b = allKeys.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") =!= col("b.doc"))
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sh = index.shingles.unionByName(newIdx.shingles)
    val sizes = index.signatures.select(col("doc"), col("n_sh"))
      .unionByName(newIdx.signatures.select(col("doc"), col("n_sh")))
    verifyPairs(pairs, sh, sizes, threshold)
  }

  /** SimHash near-dup pairs: 64-bit fingerprint over word tokens, banded
    * into `bands` exact-match chunks (pigeonhole guarantees recall for
    * hamming < bands), verified by exact hamming distance <= maxHamming.
    *
    * Everything lives in scalar long arithmetic: the fingerprint is ONE
    * LongType column assembled from 64 codegen'd conditional-sum bit
    * votes (term frequency weights votes, per Charikar'02/Manku'07);
    * band keys are shift+mask chunks; hamming = bit_count(a XOR b). No
    * arrays, no interpreted lambdas anywhere in the hot path. */
  /** 64-bit SimHash fingerprint per doc as (doc, fp) — the shared kernel
    * of `simhash` and of exact hamming-distance audits.
    *
    * The token hash is the first 16 hex chars of md5 (the library's
    * engine-agnostic 64-bit identity, same as CharGramHashes /
    * winnowing) rather than xxhash64: banding over these fingerprints
    * is pigeonhole-EXACT, so with a reproducible token hash the whole
    * operator output is deterministic SQL any engine can mirror — q24
    * is hash-gated against a DuckDB oracle, not rows-only. The md5 is
    * computed ONCE per token ([[graft.expressions.Md5Prefix64]], one
    * long); all 64 vote aggregates are codegen'd shifts over it. */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
      explode(TextFns.words(col(textCol))).as("t"))
    // Md5Prefix64 = the 16-hex md5 prefix as ONE long (codegen'd,
    // thread-local digest, no hex string / conv round-trip); all 64
    // bit tests are shifts over it. The oracle derives the same bits
    // nibble-wise from substring(md5(w), 1, 16); integer bit
    // extraction is derivation-independent, so the values match.
    val staged = tok
      .withColumn("h64__", graft.expressions.Md5Prefix64(col("t")))
    val voteAggs = (0 until 64).map { b =>
      val bit = shiftright(col("h64__"), b).bitwiseAND(1)
      sum(when(bit === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val votes = staged.groupBy(col("doc")).agg(voteAggs.head, voteAggs.tail: _*)
    val fpExpr = (0 until 64).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    votes.select(col("doc"), fpExpr.as("fp"))
  }

  def simhash(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    // one row + one long per doc: cheap to cache, expensive to recompute
    simhashFromFingerprints(graft.Caches.register(
      simhashFingerprints(df, idCol, textCol).persist()), bands, maxHamming)
  }

  /** Banding + verify over PRECOMPUTED (doc, fp) fingerprints — lets a
    * caller that already has the fingerprint pass (the q40 audit runs
    * the exact all-pairs check on the same fps) reuse it instead of
    * re-tokenizing the corpus. */
  def simhashFromFingerprints(withFp: DataFrame,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val chunk = 64 / bands
    val mask = (1L << chunk) - 1
    val buckets = withFp.select(col("doc"), col("fp"),
      posexplode(array((0 until bands).map(c =>
        shiftright(col("fp"), c * chunk).bitwiseAND(mask)): _*))
        .as(Seq("band", "bkey")))
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** [[simhashFromFingerprints]] with a BUCKET-SIZE guard: band
    * buckets holding more than `maxBucket` fingerprints are dropped
    * from candidate generation before the self-join. A multi-index
    * hamming join is only sub-quadratic while band keys spread; on
    * adversarially low-entropy fingerprints (the r13 probe lesson:
    * tiny synthetic images collapse dHash to a few informative bits)
    * a single dense bucket re-creates the all-pairs blowup as one
    * straggler task. The cap bounds per-bucket work at C(maxBucket,2)
    * — the same guard the LSH/fuzzy-join paths already carry
    * (max-bucket asserts, blocked expansion). RECALL CONTRACT: the
    * hamming ≤ 3 pigeonhole guarantee then holds only for pairs
    * sharing at least one SURVIVING band; a pair all of whose shared
    * bands are over-dense is sacrificed — the documented trade, with
    * the dropped-bucket count emittable from the sizes frame by
    * callers that audit it. */
  def simhashFromFingerprintsCapped(withFp: DataFrame, bands: Int,
      maxHamming: Int, maxBucket: Long): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxBucket >= 2, "maxBucket >= 2 or no pair can surface")
    val chunk = 64 / bands
    val mask = (1L << chunk) - 1
    val buckets = withFp.select(col("doc"), col("fp"),
      posexplode(array((0 until bands).map(c =>
        shiftright(col("fp"), c * chunk).bitwiseAND(mask)): _*))
        .as(Seq("band", "bkey")))
    val sizes = buckets.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsz__"))
      .filter(col("bsz__") <= maxBucket)
    val kept = buckets.join(sizes.select(col("band"), col("bkey")),
      Seq("band", "bkey"))
    val a = kept.as("a")
    val b = kept.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** S10 append-with-dedup (ref newsflow_scraper.py:243-327, batch form):
    * keep incoming rows whose key is absent from `existing` — a left-anti
    * join, the shuffle-parallel version of the reference's driver-side
    * seen-set. */
  def antiJoinAppend(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key).distinct(), Seq(key), "left_anti")

  /** Connected components over an undirected candidate-pair edge list:
    * (node, component) for every node that appears in a pair, where
    * component = the minimum node id reachable — the cluster key a
    * training-data dedup needs (pair lists say who matches whom; dropping
    * duplicates needs the transitive grouping).
    *
    * Min-label propagation with path halving: each round every node
    * adopts min(own label, neighbors' labels), then labels jump to their
    * label's label (pointer doubling), so convergence is O(log diameter)
    * rounds rather than O(diameter) — near-dup clusters are shallow, but
    * a chain of borderline pairs must not serialize the job. The edge
    * list (both directions plus one self-edge per node) is persisted
    * once; the state rolls over round to round through
    * [[Iterate.untilFixpoint]] (the halving self-join embeds the
    * previous round's plan twice, so the per-round checkpoint is what
    * keeps the plan from growing 2^rounds). Deterministic: min is
    * order-free.
    *
    * The state is (node, comp, nmin): nmin is the minimum label over
    * the node and its neighbours, one edge join + aggregate over the
    * halved labels (the self-edge brings in the node's own label).
    * The next round propagates by taking nmin — no join — then halves.
    * The state is at the fixpoint exactly when no node has a smaller
    * neighbour label (nmin = comp everywhere): labels are then constant
    * on each component, and a component's minimum id keeps its own
    * label, so every label is that minimum. The check is observed in
    * the state's own checkpoint, so there is no confirming round.
    * Round 0's nmin is a plain groupBy(src).min(dst) over the edges.
    * `maxIter` bounds the label-changing rounds (a 2^maxIter-diameter
    * chain). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Persisted hash-partitioned by dst: the per-round neighbor join
    // reuses the cached partitioning (InMemoryRelation preserves it), so
    // each iteration shuffles only the labels side — the edge list, the
    // big side at corpus scale, moves once.
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    def edge(s: Column, d: Column) = struct(s.as("src"), d.as("dst"))
    val edges = pairs
      .select(explode(array(edge(a, b), edge(b, a), edge(a, a), edge(b, b))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val state0 = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("node"), col("node").as("comp"), col("nmin"))
    // A silent non-converged return would hand back labels where one
    // component carries several ids — keepRepresentatives would then
    // under-dedup with no signal. Fail loudly instead; the default
    // maxIter=20 covers any diameter up to ~2^20.
    val (state, _) = try Iterate.untilFixpoint(state0, maxIter,
        s"connectedComponents (maxIter = $maxIter)") { (state, _) =>
      val propagated = state.select(col("node"), col("nmin").as("comp"))
      // path halving: comp := comp's comp (labels always point at nodes)
      val halved = propagated
        .join(propagated.select(col("node").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("node"), coalesce(col("comp2"), col("comp")).as("comp"))
      edges
        .join(halved.select(col("node").as("dst"), col("comp").as("ncomp")), "dst")
        .groupBy(col("src").as("node"))
        .agg(max(when(col("src") === col("dst"), col("ncomp"))).as("comp"),
          min(col("ncomp")).as("nmin"))
    }(count_if(col("nmin") < col("comp")) === 0)
    finally edges.unpersist(blocking = false)
    state.select(col("node"), col("comp").as("component"))
  }

  /** Incremental maintenance of a STAGED (node, component) map — the
    * IVM discipline (q343's merge-equals-recompute contract) applied to
    * the near-dup graph: given the staged label map of the standing
    * corpus and a DELTA batch of candidate pairs (a daily crawl's new
    * near-dup edges, from the same staged band-key index via
    * incremental probing), produce the label map of the UNION graph
    * without touching the standing pair surface.
    *
    * Correctness: each staged row (node → component) is an edge to the
    * component's minimum id, which is itself a member node — so the
    * staged map is a star contraction that preserves BOTH the standing
    * graph's connectivity and its minimum ids exactly. Running the same
    * min-label propagation over (star edges ∪ delta pairs) therefore
    * yields, node for node, what [[connectedComponents]] over
    * (standing pairs ∪ delta pairs) yields: merge == full recompute,
    * hash-exact (gated by q344 against the full recursive-CTE oracle).
    *
    * Scale: the input is |staged map| + |delta| edges — NOT the
    * standing pair surface, which at near-dup densities is the larger
    * object and at 100 TB lives only in cold storage. Stars have
    * diameter 2, so unless the delta chains many components together
    * the propagation converges in 2-3 rounds; a full rebuild pays
    * corpus-wide candidate generation plus propagation over every
    * standing pair (the `staged_components_build` probe) every batch.
    * This is the difference between a 10-minute and a 10-hour nightly
    * dedup refresh. */
  def mergeComponentMap(staged: DataFrame, deltaPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    // self-edges (rep → rep) ride along harmlessly and guarantee every
    // staged node survives into the merged map even if the delta is
    // disjoint from it
    val starEdges = staged
      .select(col("node").as(aCol), col("component").as(bCol))
    connectedComponents(
      starEdges.unionByName(deltaPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter)
  }

  /** Keep ONE representative (the minimum id) per near-dup cluster: rows
    * of `df` minus every pair-list node that is not its component's
    * minimum. Nodes not in any pair are singletons and always kept. The
    * drop set is a left-anti join — `df` itself streams through
    * untouched, so this composes with any pair producer (exact kernel,
    * MinHash, SimHash, embedding LSH) at full corpus scale. */
  def keepRepresentatives(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame =
    keepRepresentativesFromComponents(df, idCol,
      connectedComponents(pairs, aCol, bCol, maxIter))

  /** [[keepRepresentatives]] over an ALREADY-LABELED (node, component)
    * map — the consumer half of a STAGED component store (r15 verdict:
    * every component consumer re-ran the propagation from the pair
    * surface; at 100 TB the label map is computed once per corpus
    * stamp, exactly like the staged band-key store, and every
    * consumer reads it). Labels are deterministic (min reachable id),
    * so `fromComponents(staged) == keepRepresentatives(pairs)`
    * exactly. */
  def keepRepresentativesFromComponents(df: DataFrame, idCol: String,
      components: DataFrame): DataFrame = {
    val nonReps = components
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(nonReps, Seq(idCol), "left_anti")
  }

  /** Quality-aware representative selection: per near-dup cluster keep
    * the doc that MAXIMIZES `scoreCol` (ties by id ascending) instead
    * of the arbitrary min-id member — what a curation pipeline
    * actually wants from dedup ("drop the copies, keep the best
    * copy"). Singletons (no pair membership) always survive.
    *
    * Shape: components from the same path-halving propagation, a
    * component←id join (pair-membership cardinality), and ONE
    * per-component window row_number — the window partitions by
    * component, whose size is the near-dup cluster size (2-4 docs in
    * real corpora), never the corpus. An integer score keeps the
    * lineage float-free (pass quality_e4, not quality). */
  def keepBestRepresentatives(df: DataFrame, idCol: String,
      scoreCol: String, pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame =
    keepBestRepresentativesFromComponents(df, idCol, scoreCol,
      connectedComponents(pairs, aCol, bCol, maxIter))

  /** [[keepBestRepresentatives]] over a staged (node, component) map —
    * see [[keepRepresentativesFromComponents]] for the staging
    * contract. */
  def keepBestRepresentativesFromComponents(df: DataFrame,
      idCol: String, scoreCol: String,
      components: DataFrame): DataFrame = {
    // internal names carry the __ suffix so a caller's own
    // "component" column (e.g. connectedComponents output fed back
    // in) cannot collide
    val comp = components
      .select(col("node").as(idCol), col("component").as("comp__"))
    val member = df.join(comp, Seq(idCol))
    val w = Window.partitionBy(col("comp__"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val best = member.withColumn("rk__", row_number().over(w))
      .filter(col("rk__") === 1)
      .drop("rk__", "comp__")
    val singletons = df.join(
      comp.select(col(idCol)), Seq(idCol), "left_anti")
    best.unionByName(singletons)
  }

  /** SUBSTRING-level duplication coverage — the exact-span dedup
    * statistic of Lee et al.'s "Deduplicating Training Data Makes
    * Language Models Better": for each document, the fraction of its
    * tokens covered by some k-token span that occurs MORE THAN ONCE in
    * the corpus (any second occurrence — another document or a repeat
    * inside the same one). Doc-level MinHash (q23) misses partial
    * copies — a paragraph pasted into an otherwise-novel page; this is
    * the operator that sees them, and its coverage column is the
    * standard cut for span-level dedup ("drop docs >X% duplicated
    * text", RefinedWeb §3.2-style).
    *
    * Exactness: duplicated token positions form overlapping intervals
    * [pos, pos+k); the per-doc covered count is the measure of their
    * UNION, computed with the classic running-max sweep — sort spans by
    * start, each contributes `max(0, end − max(prev_max_end, start))`
    * where `prev_max_end` is a window max over preceding rows. All
    * integer; the coverage ratio is an exact-rounded e4 scaled int.
    *
    * Shape at scale: posexplode to a positional token stream, k−1
    * per-doc `lead`s to form positional k-grams (per-doc windows,
    * never global), ONE gram-key shuffle for occurrence counts (the
    * posting-list pattern — at 100 TB swap the raw gram string for its
    * [[graft.expressions.Md5Prefix64]] so the shuffle carries 8 bytes),
    * a join back on gram, and a per-doc window sweep. No pairwise
    * stage ever materializes — cost is linear in corpus token count. */
  /** Positional token stream for the span-dedup family: one row per
    * (doc, pos, token). */
  private def positionalTokens(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc__"),
      posexplode(TextFns.words(col(textCol))).as(Seq("pos__", "w__")))

  /** Positional k-grams via k−1 per-doc `lead`s over the token
    * stream: (doc, start pos, gram). */
  private def positionalGrams(toks: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc__")).orderBy(col("pos__"))
    val withLeads = (1 until k).foldLeft(toks)((d, j) =>
      d.withColumn(s"w${j}__", lead(col("w__"), j).over(byDoc)))
    withLeads.filter(col(s"w${k - 1}__").isNotNull)
      .select(col("doc__"), col("pos__"),
        concat_ws(" ",
          col("w__") +: (1 until k).map(j => col(s"w${j}__")): _*)
          .as("gram__"))
  }

  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, "span length k must be >= 2")
    val grams = positionalGrams(
      positionalTokens(df, idCol, textCol), k)
    val counts = grams.groupBy(col("gram__"))
      .agg(count(lit(1)).as("n_occ__"))
    val dupStarts = grams.join(counts, "gram__")
      .filter(col("n_occ__") >= 2L)
      .select(col("doc__"), col("pos__"))
    // union-of-intervals sweep: contribution of each span clipped to
    // what the running max end has not already covered
    val before = Window.partitionBy(col("doc__")).orderBy(col("pos__"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val per = dupStarts
      .withColumn("prev_end__", max(col("pos__") + k).over(before))
      .groupBy(col("doc__"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(greatest(lit(0L),
          col("pos__") + lit(k.toLong) -
            greatest(coalesce(col("prev_end__"), col("pos__")),
              col("pos__")))).as("covered_tokens"))
    df.select(col(idCol).as("doc__"),
        size(TextFns.words(col(textCol))).cast("long").as("n_tokens"))
      .join(per, Seq("doc__"), "left")
      .select(col("doc__").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        graft.functions.ExactRound.ratioScaled(
          coalesce(col("covered_tokens"), lit(0L)), col("n_tokens"), 4)
          .as("dup_cov_e4"))
  }

  /** SPAN REMOVAL — the transform [[dupSpanCoverage]] only measures:
    * delete every duplicated k-token span EXCEPT its first occurrence
    * (first = lexicographic-min (doc, pos) per gram — the
    * deterministic rule Lee et al.'s span dedup applies corpus-wide),
    * keeping one copy of each duplicated passage. Emits per doc the
    * token counts and the md5 fingerprint of the RECONSTRUCTED kept
    * text, so the gate pins the transform's output bytes, not just
    * its accounting. A fully-duplicated doc keeps nothing
    * (fingerprint of the empty string); short docs (< k tokens) pass
    * through untouched.
    *
    * Shape at scale: the same gram-key shuffle as the coverage pass
    * plus one min(struct(doc, pos)) keeper aggregate (map-side
    * combinable — never a per-gram window), then ONE per-doc sweep
    * over tokens ∪ removal-starts (running max of span ends) and one
    * per-doc reconstruction aggregate. The collect_list is bounded by
    * document length — the row a text column already carries. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, "span length k must be >= 2")
    val toks = positionalTokens(df, idCol, textCol)
    val grams = positionalGrams(toks, k)
    val counts = grams.groupBy(col("gram__"))
      .agg(count(lit(1)).as("n_occ__"))
    val dup = grams.join(counts, "gram__")
      .filter(col("n_occ__") >= 2L)
      .select(col("gram__"), col("doc__"), col("pos__"))
    val keeper = dup.groupBy(col("gram__"))
      .agg(min(struct(col("doc__"), col("pos__"))).as("kp__"))
    val removals = dup.join(keeper, "gram__")
      .filter(!(col("doc__") === col("kp__.doc__") &&
        col("pos__") === col("kp__.pos__")))
      .select(col("doc__"), col("pos__"),
        (col("pos__") + k).cast("long").as("end__"))
    sweepAndRebuild(toks, removals, idCol)
  }

  /** Shared tail of the span-scrub family: mark every token covered
    * by a removal interval [pos, pos+k) (running-max sweep — removal
    * rows sort before the token at the same pos, so a span covers its
    * own start token), then rebuild the kept text per doc and
    * fingerprint it. `removals` must carry (doc__, pos__, end__). */
  private def sweepAndRebuild(toks: DataFrame, removals: DataFrame,
      idCol: String): DataFrame = {
    val comb = toks.select(col("doc__"), col("pos__"), col("w__"),
        lit(1).as("isTok__"), lit(null).cast("long").as("end__"))
      .unionByName(removals.select(col("doc__"), col("pos__"),
        lit(null).cast("string").as("w__"), lit(0).as("isTok__"),
        col("end__")))
    val sweep = Window.partitionBy(col("doc__"))
      .orderBy(col("pos__"), col("isTok__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    comb.withColumn("me__", max(col("end__")).over(sweep))
      .filter(col("isTok__") === 1)
      .withColumn("cov__",
        col("me__").isNotNull && col("me__") > col("pos__"))
      .groupBy(col("doc__"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov__"), 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(transform(
          array_sort(collect_list(when(!col("cov__"),
            struct(col("pos__"), col("w__"))))),
          x => x.getField("w__")), " ")).as("kept_fp"))
      .select(col("doc__").as(idCol), col("n_tokens"),
        col("n_removed"), col("kept_fp"))
  }

  /** SPAN-level DECONTAMINATION — the surgical form of q51's
    * doc-level report: delete from every corpus document each k-token
    * span that appears ANYWHERE in the benchmark corpus (all
    * occurrences — unlike [[removeDupSpans]] there is no keeper: a
    * benchmark passage must not survive in training data at all),
    * keeping the rest of the document instead of dropping it whole.
    * Same output contract: token accounting + md5 of the rebuilt
    * text.
    *
    * Shape at scale: the bench gram set is distinct-deduped before
    * the LEFT SEMI join against corpus gram occurrences (posting-list
    * shape on the gram key — benchmarks are tiny next to the corpus,
    * so the join's build side stays small), then the shared
    * sweep/rebuild tail. */
  def scrubBenchSpans(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 5): DataFrame = {
    require(k >= 2, "span length k must be >= 2")
    val toks = positionalTokens(corpus, idCol, textCol)
    val benchGrams = positionalGrams(
      positionalTokens(bench, idCol, textCol), k)
      .select(col("gram__")).distinct()
    val removals = positionalGrams(toks, k)
      .join(benchGrams, Seq("gram__"), "left_semi")
      .select(col("doc__"), col("pos__"),
        (col("pos__") + k).cast("long").as("end__"))
    sweepAndRebuild(toks, removals, idCol)
  }

  /** SYMMETRIC-DELETE fuzzy vocabulary pairs (SymSpell / FastSS) —
    * every pair of corpus words at Levenshtein distance 1, found
    * WITHOUT an all-pairs product: each word expands to itself plus
    * its |w| single-deletion variants, candidates are words sharing a
    * variant (distance-1 pairs always do: a substitution deletes the
    * differing position on both sides, an insertion/deletion makes
    * one word a variant of the other), and an exact `levenshtein`
    * check kills the distance-2 survivors (e.g. transposed "ab"/"ba"
    * share variants). The typo/variant-spelling candidate family the
    * n-gram Jaccard and edit-blocked fuzzy joins (q22/q96) miss at
    * short lengths.
    *
    * Only ASCII-pure words of >= minLen chars enter (multi-byte
    * lengths and the two engines' levenshtein agree trivially there;
    * short words drown in collisions). Shape at scale: the expansion
    * is (|w|+1)× the VOCABULARY (not the corpus), the variant join is
    * an equi-join whose bucket sizes are bounded by alphabet-adjacent
    * words, and the verify runs only on candidates. */
  def symmetricDeletePairs(df: DataFrame, textCol: String,
      minLen: Int = 4): DataFrame = {
    val vocab = graft.Caches.register(df
      .select(explode(graft.functions.TextFns.words(col(textCol)))
        .as("w"))
      .filter(length(col("w")) >= minLen &&
        octet_length(col("w")) === length(col("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist())
    val variants = vocab.select(col("w"),
      explode(concat(array(col("w")),
        expr("transform(sequence(1, length(w)), i -> " +
          "concat(substring(w, 1, i - 1), " +
          "substring(w, i + 1, length(w))))"))).as("v"))
    variants.select(col("v"), col("w").as("w1"))
      .join(variants.select(col("v"), col("w").as("w2")), Seq("v"))
      .filter(col("w1") < col("w2"))
      .select(col("w1"), col("w2")).distinct()
      // thresholded Myers kernel (r21): lev <= 1 iff the k=1 form
      // returns a non-sentinel — same survivors as the unbounded
      // builtin, without its full-matrix DP on the distance-2 kills
      .filter(graft.expressions.GraftExpressions.levenshtein_within(
        col("w1"), col("w2"), 1) >= 0)
      .join(vocab.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(vocab.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .select(col("w1"), col("w2"), col("c1"), col("c2"))
  }
}
