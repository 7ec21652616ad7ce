package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language-ID, fingerprinting. Pure expression
  * pipelines — narrow, no shuffle, codegen'd end to end.
  */
object TextAnalysis {

  /** Token counts: whitespace words + BPE-ish regex tokens. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(TextFns.words(col(textCol))).cast("long").as("n_words"),
      size(TextFns.regexTokens(col(textCol))).cast("long").as("n_tokens"),
      length(col(textCol)).cast("long").as("n_chars_obs"))

  /** Stopword markers per language for the n-gram-free heuristic
    * language-ID below. Tiny inline profiles; at scale these would be the
    * top-k character n-grams per language, but the operator shape —
    * argmax over per-language marker hit counts — is identical. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("de", "le", "shi"))

  private def markerHits(wordsArr: Column, markers: Seq[String]): Column =
    size(filter(wordsArr, w => markers.map(m => w === m).reduce(_ || _)))

  /** Language-ID: argmax of marker hit-rate, alphabetical-first tie-break,
    * 'und' (undetermined) when no marker hits at all.
    *
    * Marker counts and the max are STAGED as columns: interpreted
    * list-filter lambdas referenced repeatedly inside one projection
    * would otherwise be re-evaluated per reference (Catalyst only keeps
    * multi-referenced projections un-collapsed across Project nodes). */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = langMarkers.foldLeft(
      df.select(col(idCol), TextFns.words(col(textCol)).as("w__"))) {
      case (d, (lang, ms)) => d.withColumn(s"cnt_$lang", markerHits(col("w__"), ms))
    }.withColumn("mx__", greatest(langMarkers.map(l => col(s"cnt_${l._1}")): _*))
    // argmax with alphabetical-first tie-break: langMarkers is sorted, and
    // a when-chain takes the FIRST branch that matches the max.
    val pred = langMarkers.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col("mx__") > 0 && col(s"cnt_$lang") === col("mx__"), lit(lang))
        .otherwise(acc)
    }
    staged.select(col(idCol), pred.as("pred_lang"))
  }

  /** The stopword marker list shared by [[qualitySignals]]/
    * [[qualityScore]] and [[gopherRules]] — the q18/q81/q84 oracles
    * hardcode the same five words; change all of them together. */
  val StopWords: Seq[String] = Seq("the", "a", "of", "to", "and")

  /** The quality rational's integer pieces — staged once, shared by
    * [[qualityScore]] and the mixture selector's `quality_e4` ordering
    * key: (id, nw__, stop__, nsp__, len__, punct__). */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stop = StopWords
    df.select(col(idCol), col(textCol).as("t__"))
      .withColumn("w__", TextFns.words(col("t__")))
      .withColumn("nw__", size(col("w__")).cast("long"))
      .withColumn("stop__", markerHits(col("w__"), stop).cast("long"))
      .withColumn("nsp__",
        length(regexp_replace(col("t__"), "\\s+", "")).cast("long"))
      .withColumn("len__", length(col("t__")).cast("long"))
      .withColumn("punct__", (col("len__") -
        length(regexp_replace(col("t__"), "[^a-z0-9\\s]", ""))).cast("long"))
      .drop("w__")
  }

  /** The quality score's exact rational as (num, den) column pair over
    * a [[qualitySignals]] frame:
    *   min(nw,100)·(len−punct)·(nw + min(5·stop,nw)) / (200·len·nw) */
  def qualityRational(): (Column, Column) = {
    val num = least(col("nw__"), lit(100L)) *
      (col("len__") - col("punct__")) *
      (col("nw__") + least(col("stop__") * 5L, col("nw__")))
    val den = lit(200L) * col("len__") * col("nw__")
    (num, den)
  }

  /** Quality scoring (length / punctuation / stopword signals), one
    * deterministic 0-1 score per doc. Tokenizer/regex signals are staged
    * as columns so each is evaluated once per row (see languageId note).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.ExactRound
    val staged = qualitySignals(df, idCol, textCol)
    // Every emitted ratio is an int/int rational rounded exactly in
    // integer arithmetic (tie-proof; see ExactRound). The composite
    // score is itself a rational once the caps move inside:
    //   min(nw/100,1) · (len−punct)/len · (0.5 + 0.5·min(5·stop/nw,1))
    //   = min(nw,100)·(len−punct)·(nw + min(5·stop,nw)) / (200·len·nw)
    // — the three-factor product can exceed a long on multi-megabyte
    // documents, which is why ExactRound scales the dividend in
    // DECIMAL(38,0)/HUGEINT (128-bit headroom).
    val (scoreNum, scoreDen) = qualityRational()
    staged.select(col(idCol),
      col("nw__").as("n_words"),
      ExactRound.ratio(col("nsp__"), col("nw__"), 4).as("avg_word_len"),
      ExactRound.ratio(col("stop__"), col("nw__"), 4).as("stop_ratio"),
      ExactRound.ratio(col("punct__"), col("len__"), 4).as("punct_ratio"),
      ExactRound.ratio(scoreNum, scoreDen, 4).as("quality"))
  }

  /** Gopher-style document quality RULES (Rae et al. 2021, §A1.1) —
    * the hard keep/drop gates that run before any scored ranking:
    * word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, and a minimum stopword requirement. Every ratio bound is
    * evaluated by integer CROSS-MULTIPLICATION (`3·nw ≤ nsp ≤ 10·nw`
    * instead of `3 ≤ nsp/nw ≤ 10`), so the operator emits only longs
    * and booleans — nothing an engine can round differently (the
    * q71 gate discipline, applied at design time rather than
    * retrofitted).
    *
    * Thresholds are the published ones where they transfer to this
    * corpus shape: 50 ≤ words ≤ 100000, 3 ≤ mean word chars ≤ 10,
    * symbols('#', '…', '...') < 1/10 of words, ≥ 2 stopword hits. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val stop = StopWords
    val staged = df
      .select(col(idCol), col(textCol).as("t__"))
      .withColumn("w__", TextFns.words(col("t__")))
      .withColumn("nw__", size(col("w__")).cast("long"))
      .withColumn("nsp__",
        length(regexp_replace(col("t__"), "\\s+", "")).cast("long"))
      // '#' plus true-ellipsis plus three-dot runs ('...' counted once
      // per run: collapse runs before counting)
      .withColumn("nsym__",
        (length(col("t__")) - length(regexp_replace(col("t__"), "#", ""))
          + length(regexp_replace(col("t__"), "\\.{3,}|…", "@"))
          - length(regexp_replace(col("t__"), "\\.{3,}|…", ""))).cast("long"))
      .withColumn("nstop__", markerHits(col("w__"), stop).cast("long"))
    staged.select(col(idCol),
      col("nw__").as("n_words"),
      col("nsp__").as("n_nonspace"),
      col("nsym__").as("n_symbols"),
      col("nstop__").as("n_stopword_hits"),
      (col("nw__") >= minWords && col("nw__") <= maxWords)
        .as("ok_word_count"),
      // 3 <= nsp/nw <= 10 without division
      (col("nsp__") >= lit(3L) * col("nw__") &&
        col("nsp__") <= lit(10L) * col("nw__")).as("ok_word_len"),
      // nsym/nw < 0.1 without division
      (lit(10L) * col("nsym__") < col("nw__")).as("ok_symbol_ratio"),
      (col("nstop__") >= 2L).as("ok_stopwords"))
      .withColumn("keep",
        col("ok_word_count") && col("ok_word_len") &&
          col("ok_symbol_ratio") && col("ok_stopwords"))
  }

  /** Repetition signals per document — the Gopher/C4 family of
    * repetitiveness filters (count-based analogs): duplicate 2-gram and
    * 3-gram fractions and top-word dominance, plus a combined flag.
    *
    * One explode pass feeds EVERY statistic: the lead-window frame
    * emits (n, gram) rows for n ∈ {1,2,3} stacked via one array
    * explode — n=1 rows are the words themselves, so word totals and
    * the top-word count come from the SAME two-level aggregate as the
    * gram stats. A separate word-stats branch off the token explode
    * would make Spark recompute the exploded subtree per branch (the
    * Decontaminate lesson); here the whole operator is one linear
    * pipeline. Aggregation is two-level: groupBy(doc, n, gram) counts
    * occurrences, then groupBy(doc, n) derives totals/distincts/max
    * map-side-combinably — `countDistinct` in one level would carry
    * every gram into one hash set per group.
    *
    * dup ratio = (total − distinct)/total over gram OCCURRENCES;
    * top-word = max word count / word count. Docs too short for a gram
    * size (or with NULL text) report 0.0, and the combined flag only
    * fires at `minWords` or more — a three-word document has top-word
    * dominance 1/3 by pigeonhole, not by repetition; shortness is
    * `qualityScore`'s job. Flags compare the UNROUNDED ratios. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      dup2Threshold: Double = 0.2, dup3Threshold: Double = 0.18,
      topWordThreshold: Double = 0.2, minWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc"),
      posexplode(TextFns.words(col(textCol))).as(Seq("pos", "w0")))
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val withLeads = toks.select(col("doc"), col("w0"),
      lead(col("w0"), 1).over(w).as("w1"),
      lead(col("w0"), 2).over(w).as("w2"))
    val stacked = withLeads.select(col("doc"),
      explode(array(
        struct(lit(1).as("n"), col("w0").as("g")),
        when(col("w1").isNotNull,
          struct(lit(2).as("n"), concat_ws(" ", col("w0"), col("w1")).as("g"))),
        when(col("w2").isNotNull,
          struct(lit(3).as("n"),
            concat_ws(" ", col("w0"), col("w1"), col("w2")).as("g")))))
        .as("ng"))
      .filter(col("ng").isNotNull)
      .select(col("doc"), col("ng.n").as("n"), col("ng.g").as("g"))
    val gramStats = stacked.groupBy(col("doc"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc"), col("n"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("nd"),
        max(col("c")).as("mxc"))
    def pick(n: Int, c: String) = max(when(col("n") === n, col(c)))
    val stats = gramStats.groupBy(col("doc")).agg(
      pick(1, "total").as("nw"), pick(1, "mxc").as("mxw"),
      pick(2, "total").as("t2"), pick(2, "nd").as("d2"),
      pick(3, "total").as("t3"), pick(3, "nd").as("d3"))
    val joined = df.select(col(idCol))
      .join(stats.withColumnRenamed("doc", idCol), Seq(idCol), "left")
    def ratio(t: String, d: String) = coalesce(
      (col(t) - col(d)).cast("double") / col(t).cast("double"), lit(0.0))
    val d2 = ratio("t2", "d2")
    val d3 = ratio("t3", "d3")
    val tw = coalesce(
      col("mxw").cast("double") / col("nw").cast("double"), lit(0.0))
    import graft.functions.ExactRound
    joined.select(col(idCol),
      coalesce(col("nw"), lit(0L)).as("n_words"),
      // emitted ratios round exactly in integer arithmetic (tie-proof;
      // see ExactRound); the flags below keep the raw double ratios
      ExactRound.ratio(col("t2") - col("d2"), col("t2"), 4).as("dup_2gram"),
      ExactRound.ratio(col("t3") - col("d3"), col("t3"), 4).as("dup_3gram"),
      ExactRound.ratio(col("mxw"), col("nw"), 4).as("top_word"),
      (coalesce(col("nw"), lit(0L)) >= minWords &&
        (d2 > dup2Threshold || d3 > dup3Threshold || tw > topWordThreshold))
        .as("repetitive"))
  }

  /** Whole-document fingerprint + surrogate key. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      TextFns.fingerprint(col(textCol)).as("fp"),
      graft.functions.Cleanse.surrogateKey(col(textCol)).as("skey"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken '03, the MOSS
    * scheme): hash every character k-gram (the rolling-hash step), then
    * keep the minimum hash of each sliding window of `w` consecutive
    * k-grams — guaranteeing any match of length >= w+k-1 shares a
    * fingerprint. Relational all the way: posexplode positions, one
    * doc-partitioned window min, distinct. The hash is an md5 prefix so
    * "minimum" is engine-agnostic lexicographic order. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    // One codegen pass per row via the native WinnowFingerprints
    // expression (md5 k-gram hashes + monotonic-deque sliding min +
    // dedup): zero shuffles before a consumer's own aggregate. The
    // relational form exploded one row per corpus CHARACTER into a
    // per-doc window sort and then a distinct shuffle — identical
    // fingerprint bytes (md5-prefix, lexicographic min, clipped trailing
    // windows), so the oracle SQL mirroring that form is unchanged.
    df.select(col(idCol),
      explode(graft.expressions.WinnowFingerprints(norm, k, w))
        .as("fingerprint"))
  }

  /** Document-overlap pairs by shared winnowing fingerprints — the MOSS
    * aggregation step over [[winnowingFingerprints]]: two documents
    * sharing `minShared`+ fingerprints share (with the winnowing
    * guarantee) that many independent character runs of length >=
    * k+w-1, the substring-level containment signal that n-gram Jaccard
    * (whole-doc similarity) and exact dedup (whole-doc equality) both
    * miss — a doc quoting 30% of another scores low Jaccard but lights
    * up here.
    *
    * `maxDocFreq` drops fingerprints present in more than that many
    * documents BEFORE pairing — boilerplate runs (headers, license
    * text, templated phrasing) occur corpus-wide and carry no
    * containment signal, and capping them bounds the posting-list
    * self-join at C(maxDocFreq, 2) pairs per fingerprint, which is what
    * keeps the operator linear at corpus scale (the same cap
    * [[Dedup.jaccardNearDup]] exposes for hot shingles). The join
    * shuffles (fingerprint, id) rows only. */
  def fingerprintOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDocFreq: Long = 5L,
      minShared: Long = 2L): DataFrame = {
    // referenced three times (df-cap + both self-join sides) — persist
    // or Spark recomputes the explode→window→distinct subtree per
    // reference (measured 2× on q63). Registered with [[graft.Caches]]
    // so callers release it via Caches.unpersistAll() post-action.
    val fps = graft.Caches.register(
      winnowingFingerprints(df, idCol, textCol, k, w)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rare = fps.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("df__"))
      .filter(col("df__") <= maxDocFreq)
      .select(col("fingerprint"))
    val fr = fps.join(rare, Seq("fingerprint"))
    fr.as("a").join(fr.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** N-gram novelty per document: the fraction of a doc's distinct
    * n-grams that appear FIRST in that doc (first = the minimum doc id
    * carrying the gram — an ingestion-order proxy). The per-corpus
    * novelty curve is the standard diversity-decay diagnostic for
    * ordered ingestion (late crawl snapshots that re-crawl the same
    * pages score near zero and can be cut before tokenization); it is
    * also the marginal-contribution score greedy data selection uses.
    *
    * Scale shape: one explode (shared [[Dedup.explodedShingles]]
    * kernel), one groupBy(gram).min(doc) — map-side combinable — and
    * one join back on gram; per-doc state is two counters. The gram
    * join carries (gram, min_doc) — at 100 TB the gram key would be an
    * 8-byte digest; text grams keep the oracle exact here and the
    * digest swap is local to the join key. Docs with no grams (< n
    * words) emit zeros with a NULL ratio. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = graft.Caches.register(
      Dedup.explodedShingles(df, idCol, textCol, n).persist())
    val first = sh.groupBy(col("shingle")).agg(min(col("doc")).as("first_doc"))
    val perDoc = sh.join(first, "shingle")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        graft.functions.ExactRound.ratioScaled(col("n_novel"),
          col("n_grams"), 4).as("novelty_e4"))
  }

  /** Bigram collocation mining — corpus-wide PMI-family association
    * scoring of adjacent word pairs (the phrase-detection pass of a
    * tokenizer/vocab pipeline, cf. word2vec's phrase pass). The score
    * is the PMI *lift* `P(xy)/(P(x)·P(y)) = c_xy·N/(c_x·c_y)` as an
    * exact-rounded e6-scaled integer — the log in textbook PMI is
    * monotone, so ranking by lift ranks by PMI while keeping the gate
    * surface rational (the q85 discipline: libm stays out of gates).
    *
    * Shape at scale: posexplode to a positional token stream, bigrams
    * via `lead` over (doc | pos) — per-doc windows, never global —
    * then two map-side-combinable counts, two shuffle joins of the
    * minCount-filtered pair table against the unigram table, and a
    * TakeOrdered top-k (no single-partition window). The corpus total
    * is a 1-row broadcast. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, topK: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val toks = df.select(col(idCol).as("doc__"),
      posexplode(TextFns.words(col(textCol))).as(Seq("pos__", "w__")))
    val uni = graft.Caches.register(
      toks.groupBy(col("w__")).agg(count(lit(1)).as("c_w")).persist())
    val totals = uni.agg(sum(col("c_w")).cast("long").as("n_total"))
    val byDoc = Window.partitionBy(col("doc__")).orderBy(col("pos__"))
    val pairs = toks
      .withColumn("w2__", lead(col("w__"), 1).over(byDoc))
      .filter(col("w2__").isNotNull)
      .groupBy(col("w__").as("w1"), col("w2__").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    // the rounding identity inlined: the denominator (a product of two
    // unigram counts) is always >= 1, so ExactRound.ratioScaled's
    // den>0 guard — which long-casts the decimal product and could
    // overflow at extreme corpus sizes — is not needed here
    val num = col("n_pair").cast(dec) * col("n_total")
    val den = col("c_w1").cast(dec) * col("c_w2")
    val lift = call_function("div",
      num * lit(2000000L) + den, den * lit(2L)).cast("long")
    val scored = pairs
      .join(uni.select(col("w__").as("w1"), col("c_w").as("c_w1")), "w1")
      .join(uni.select(col("w__").as("w2"), col("c_w").as("c_w2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"), col("c_w1"),
        col("c_w2"), lift.as("lift_e6"))
    // tie-break on the STRUCTURAL (w1, w2) tuple — the q125 oracle
    // orders by (w1, w2), and a concatenated key diverges from tuple
    // order when tokens carry sub-space control characters (r11
    // advice), so both engines break the k boundary identically
    RankOps.topKMulti(scored, topK, col("lift_e6"),
      Seq(col("w1"), col("w2")))
  }

  /** Vocabulary coverage curve — what fraction of corpus tokens the
    * top-k vocabulary types cover, at each requested k (the
    * tokenizer-budget question: "is a 10k vocab enough for this
    * corpus?", cf. the coverage tables in the BPE/SentencePiece
    * papers). One row per k: (k, n_types_used, covered_tokens,
    * total_tokens, coverage_e6).
    *
    * Shape at scale: token counts are one map-side-combinable
    * groupBy; the frequency rank comes from
    * [[BudgetSelect.runningTotal]]'s range-partitioned prefix count
    * (no single-task window over the vocabulary); all checkpoints
    * then reduce in ONE conditional aggregate over the ranked vocab —
    * adding a k adds a sum column, never a pass. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    require(ks.nonEmpty, "need at least one coverage checkpoint")
    val counts = df
      .select(explode(TextFns.words(col(textCol))).as("w__"))
      .groupBy(col("w__")).agg(count(lit(1)).as("c__"))
    val (ranked, nTypes) = BudgetSelect.runningTotal(counts, lit(1L),
      Seq(col("c__").desc, col("w__").asc), "rn__")
    val aggs = sum(col("c__")).cast("long").as("total__") +:
      ks.map(k => sum(when(col("rn__") <= k.toLong, col("c__"))
        .otherwise(0L)).cast("long").as(s"cov_$k"))
    val wide = ranked.agg(aggs.head, aggs.tail: _*)
    val rows = ks.map { k => struct(
      lit(k.toLong).as("k"),
      lit(math.min(k.toLong, nTypes)).as("n_types_used"),
      col(s"cov_$k").as("covered_tokens"),
      col("total__").as("total_tokens"),
      graft.functions.ExactRound.ratioScaled(col(s"cov_$k"),
        col("total__"), 6).as("coverage_e6"))
    }
    wide.select(explode(array(rows: _*)).as("r__")).select(col("r__.*"))
  }

  /** Run-length compressibility signal — per doc, the run-length-
    * encoded character count (1 + number of adjacent-character
    * transitions) and its exact e4 ratio to the raw length: a cheap,
    * tokenizer-free junk detector ("aaaaaaa…" and zalgo spam compress
    * to nothing; prose doesn't) complementing the word-level
    * repetition signals (q55). Characters come from positional
    * substring — the same per-position semantics the oracle computes,
    * no split-semantics dependence.
    *
    * Shape at scale: explode to len(doc) positions (the unavoidable
    * cost of an exact character statistic — the q130 note), one
    * per-doc codegen'd transition compare, one map-side-combinable
    * groupBy, one join-back for empty docs. */
  def compressibility(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // ONE codegen'd pass (r11 advice): the RLE length is
    // length(regexp_replace(text, '(?s)(.)\1+', '$1')) — each run of
    // equal code points collapses to its first character, so the
    // remaining length is exactly 1 + (number of adjacent-unequal
    // transitions), the same value the previous per-character
    // explode→shuffle→aggregate computed by moving one row PER
    // CHARACTER through an aggregation (~1000x the corpus row count
    // at 100 TB, for a per-doc scalar). (?s) makes '.' cross
    // newlines; Java regex matches by code point, so surrogate pairs
    // collapse like any other character — matching substr semantics.
    // The DuckDB oracle keeps its per-position compare: RE2 has no
    // backreferences, and oracle cost at gate scale is irrelevant.
    df.select(col(idCol),
        coalesce(length(col(textCol)).cast("long"), lit(0L))
          .as("n_chars_obs"),
        coalesce(
          when(length(col(textCol)) > 0,
            length(regexp_replace(col(textCol), "(?s)(.)\\1+", "$1"))
              .cast("long")),
          lit(0L)).as("rle_len"))
      .withColumn("rle_ratio_e4",
        graft.functions.ExactRound.ratioScaled(col("rle_len"),
          col("n_chars_obs"), 4))
  }

  /** Corpus duplicate-gram mass — what fraction of all distinct-per-
    * doc n-gram INSTANCES carry a gram that appears in more than one
    * document: the corpus-level "how much would near-dedup touch?"
    * pressure gauge (q21/q23 find the pairs; this prices the
    * phenomenon in one number). One explode, one document-frequency
    * count, one 1-row conditional sum. */
  def dupGramShare(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val freq = Dedup.explodedShingles(df, idCol, textCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df__"))
    freq.agg(
      count(lit(1)).as("n_grams_distinct"),
      sum(col("df__")).cast("long").as("n_instances"),
      sum(when(col("df__") >= 2, col("df__")).otherwise(0L))
        .cast("long").as("n_dup_instances"))
      .withColumn("dup_share_e6",
        graft.functions.ExactRound.ratioScaled(col("n_dup_instances"),
          col("n_instances"), 6))
  }

  /** Frequency-of-frequencies (the Good-Turing N_c table): for each
    * token count c, how many vocabulary types occur exactly c times —
    * the table smoothing estimators start from, and the corpus
    * long-tail profile at a glance (N_1/V is the hapax rate). Two
    * stacked map-side-combinable groupBys; no windows. */
  def freqOfFreqs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(explode(TextFns.words(col(textCol))).as("w__"))
      .groupBy(col("w__")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n_types"))

  /** Per-document keyword extraction — each doc's top-k terms by
    * TF-IDF *lift* (tf·N/df as an exact e6 integer; the same
    * monotone-log-free move as [[collocations]]): the auto-tagging
    * pass behind faceted corpus browsing and weak topic labels.
    * Ties break (lift desc, term asc) — deterministic.
    *
    * Shape at scale: one explode + (doc, term) count, one term
    * document-frequency count, one shuffle join on the term, a 1-row
    * broadcast corpus size, and a per-doc window over that doc's
    * distinct terms. */
  def docKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minDf: Long = 1L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val toks = df.select(col(idCol).as("doc__"),
      explode(TextFns.words(col(textCol))).as("w__"))
    val tf = toks.groupBy(col("doc__"), col("w__"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w__"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nDocs = df.agg(count(lit(1)).cast("long").as("n_docs__"))
    val lift = call_function("div",
      col("tf").cast(dec) * col("n_docs__") * lit(2000000L) + col("df"),
      col("df").cast(dec) * lit(2L)).cast("long")
    val pick = Window.partitionBy(col("doc__"))
      .orderBy(col("lift_e6").desc, col("w__").asc)
    tf.join(dfreq, "w__")
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_e6", lift)
      .withColumn("rk", row_number().over(pick).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc__").as(idCol), col("w__").as("term"), col("tf"),
        col("df"), col("lift_e6"), col("rk"))
  }

  /** Concordance (keyword-in-context) — every occurrence of `term`
    * with its ±`context` surrounding words as one snippet line: the
    * corpus-inspection primitive behind "show me how this token is
    * actually used" QA (and the span-extraction shape behind cloze /
    * fill-in-the-middle example mining). Snippets at document edges
    * shorten naturally (concat_ws drops the missing positions).
    *
    * Shape at scale: hits × (2·context+1) wanted positions via a
    * bounded explode, then ONE equi-join on (doc, position) against
    * the token stream — never a range join — and a
    * map-side-combinable pivot groupBy per hit. */
  /** Flesch–Kincaid grade-level card per source — the classic
    * readability signal a curation pipeline bands corpora by (Kincaid
    * et al. 1975: grade = 0.39·words/sentences + 11.8·syllables/words
    * − 15.59). Exact: clearing denominators gives the single signed
    * rational (39·w² + 1180·y·s − 1559·s·w) / (100·s·w), emitted e6
    * through the DECIMAL(38,0) path. Counts are deterministic text
    * surrogates both engines mirror glyph-for-glyph:
    *   - w = whitespace words ([[graft.functions.TextFns.words]]),
    *   - s = runs of sentence terminators `[.!?]+` (floored at 1 so
    *     terminator-free fragments read as one sentence),
    *   - y = vowel-letter runs `[aeiouy]+` (either case) — the
    *     standard syllable approximation.
    * Run counting collapses each run to `@` and length-diffs, with
    * the text's own literal `@`s subtracted back out (the q203 marker
    * discipline). Per-doc fk_e6 rounds once; the per-source mean
    * re-aggregates those rounded values, so both engines compose the
    * identical sequence.
    *
    * Shape at scale: per-doc arithmetic is one codegen'd projection
    * (regexp lengths — no explode, no array materialization beyond
    * the shared word split); then a single map-side-combinable
    * groupBy(source). */
  def readabilityBySource(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    import graft.functions.ExactRound
    def runs(c: Column, re: String): Column = {
      val coll = regexp_replace(c, re, "@")
      val at = length(c) - length(regexp_replace(c, "@", ""))
      (length(coll) - length(regexp_replace(coll, "@", "")) - at)
        .cast("long")
    }
    def d(c: Column) = c.cast("decimal(38,0)")
    val w = size(TextFns.words(col(textCol))).cast("long")
    val s = greatest(runs(col(textCol), "[.!?]+"), lit(1L))
    val y = runs(col(textCol), "[aeiouyAEIOUY]+")
    val num = d(lit(39L)) * d(w) * d(w) + d(lit(1180L)) * d(y) * d(s) -
      d(lit(1559L)) * d(s) * d(w)
    val fk = ExactRound.ratioScaledSigned(num,
      d(lit(100L)) * d(s) * d(w), 6)
    df.select(col(sourceCol).as("source"), fk.as("fk_e6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fk_e6")).as("sum_fk__"),
        min(col("fk_e6")).as("fk_min_e6"),
        max(col("fk_e6")).as("fk_max_e6"))
      .select(col("source"), col("n_docs"),
        ExactRound.ratioScaledSigned(col("sum_fk__"), col("n_docs"), 0)
          .as("fk_avg_e6"),
        col("fk_min_e6"), col("fk_max_e6"))
  }

  def concordance(df: DataFrame, idCol: String, textCol: String,
      term: String, context: Int = 2): DataFrame = {
    require(context >= 1, "context must be >= 1")
    val toks = graft.Caches.register(df
      .select(col(idCol).as("doc__"),
        posexplode(TextFns.words(col(textCol))).as(Seq("pos__", "w__")))
      .persist())
    val deltas = (-context to context).map(d => lit(d.toLong))
    val wanted = toks.filter(col("w__") === term)
      .select(col("doc__"), col("pos__").cast("long").as("hit__"))
      .withColumn("delta__", explode(array(deltas: _*)))
      .select(col("doc__"), col("hit__"),
        col("delta__"), (col("hit__") + col("delta__")).as("p__"))
    val joined = wanted.join(toks
        .select(col("doc__"), col("pos__").cast("long").as("p__"),
          col("w__")),
      Seq("doc__", "p__"), "left")
    val cols = (-context to context).map(d =>
      max(when(col("delta__") === d.toLong, col("w__"))).as(s"m_$d"))
    joined.groupBy(col("doc__"), col("hit__"))
      .agg(cols.head, cols.tail: _*)
      .select(col("doc__").as(idCol), col("hit__").as("hit_pos"),
        concat_ws(" ",
          (-context to context).map(d => col(s"m_$d")): _*).as("snippet"))
  }

  /** OCTAVE-BINNED ZIPF FIT per group — the token-distribution-health
    * card of a corpus audit: a natural-language source's
    * rank-frequency curve is near-linear in log-log with slope ≈ −1
    * (Zipf's law); template/boilerplate-heavy or spam sources bend it
    * (flat head = few templates dominate; steep tail = vocabulary
    * collapse). Fully exact lineage: per-group type frequencies, a
    * skew-proof range-partitioned rank ([[ScalableRank.groupRowNumber]]
    * — no per-group single-partition window over the vocabulary), then
    * each type contributes the integer point (⌊log2 rank⌋, ⌊log2
    * freq⌋) — computed via binary-digit length, no libm — to the
    * group's exact e6 OLS ([[GroupStats.olsTrend]]). `slope_e6` is the
    * Zipf exponent in octaves (base-2 log-log slope equals the
    * natural-log-log slope). Output: group, n_types, slope_e6,
    * intercept_e6.
    *
    * Shape at scale: one token shuffle to type counts (map-side
    * combined), the range-partitioned rank's two passes over the TYPE
    * table (≪ corpus), and a k-group OLS aggregate. */
  def zipfSlope(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val freq = df
      .select(col(groupCol), explode(TextFns.words(col(textCol))).as("w__"))
      .filter(col("w__") =!= "")
      .groupBy(col(groupCol), col("w__"))
      .agg(count(lit(1)).as("f__"))
    val ranked = ScalableRank.groupRowNumber(freq, Seq(groupCol),
      Seq(col("f__").desc, col("w__").asc), rnCol = "r__", nCol = "nt__")
    def log2i(c: Column) = (length(conv(c, 10, 2)) - 1).cast("long")
    GroupStats.olsTrend(
      ranked.select(col(groupCol), log2i(col("r__")).as("x__"),
        log2i(col("f__")).as("y__")),
      Seq(groupCol), col("x__"), col("y__"))
      .withColumnRenamed("n", "n_types")
  }

  /** COLEMAN–LIAU READABILITY per document — the grade-level formula
    * built from letters/words/sentences ONLY (no syllable counting,
    * so it is exactly computable from counts — the reason it beats
    * Flesch for a cross-engine gate):
    * `CLI = 5.88·L/W − 29.6·S/W − 15.8`, shipped as the e2 integer
    * `(588·L − 2960·S) div W − 1580` (both engines truncate integer
    * division toward zero — the q320 convention; the numerator may go
    * negative on choppy text). Letters = [A-Za-z] codepoints,
    * sentences = terminator count [.!?] floored at 1 (headline-style
    * docs have none), words = the corpus whitespace convention.
    *
    * One scan, all counts via regexp_replace-length — no explode, no
    * shuffle; the quality-filter companion to [[qualitySignals]]
    * ("too hard/too easy for the target mix" as a grade number). */
  def readability(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val letters = length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
      .cast("long")
    val sentences = greatest(
      length(regexp_replace(col(textCol), "[^.!?]", "")).cast("long"),
      lit(1L))
    val nWords = size(TextFns.words(col(textCol))).cast("long")
    df.select(col(idCol), letters.as("n_letters"),
        nWords.as("n_words"), sentences.as("n_sentences"))
      .filter(col("n_words") > 0L)
      .withColumn("cli_e2",
        call_function("div",
          col("n_letters") * 588L - col("n_sentences") * 2960L,
          col("n_words")) - 1580L)
  }

  /** TEXTRANK keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    * PageRank over the word co-occurrence graph: adjacent-token
    * bigrams ([[collocations]]' tokenization and `lead` windows)
    * become undirected unweighted edges, ranks run the exact
    * [[GraphRank.pageRank]] integer ladder (e6 mass, d = 85/100,
    * fixed rounds) DIRECTLY ON STRING NODES — no vocabulary-id
    * detour, no global window — and the top-k words ship through a
    * TakeOrdered (rank desc, word asc; words are unique so the order
    * is total).
    *
    * Shape at scale: the bigram scan is per-doc windows; the edge
    * list is vocabulary²-bounded (far smaller than the corpus),
    * distinct-ed, hash-partitioned by src and persisted once; each
    * round is one join + one aggregate over vocabulary-sized state,
    * the rounds run through [[Iterate]]. */
  def textRank(df: DataFrame, idCol: String, textCol: String,
      iterations: Int = 5, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    require(iterations >= 1 && topK >= 1, "need iterations/topK >= 1")
    val toks = df.select(col(idCol).as("doc__"),
      posexplode(TextFns.words(col(textCol))).as(Seq("pos__", "w__")))
    val byDoc = Window.partitionBy(col("doc__")).orderBy(col("pos__"))
    val bi = toks.withColumn("w2__", lead(col("w__"), 1).over(byDoc))
      .filter(col("w2__").isNotNull && col("w__") =!= col("w2__"))
      .select(col("w__").as("a__"), col("w2__").as("b__"))
    val edges = graft.Caches.register(
      bi.select(col("a__").as("src"), col("b__").as("dst"))
        .unionByName(bi.select(col("b__").as("src"),
          col("a__").as("dst")))
        .distinct()
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = graft.Caches.register(
      edges.select(col("src").as("node")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val deg = graft.Caches.register(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg__"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val ranks = Iterate.rounds(
        nodes.select(col("node"), lit(1000000L).as("rank_e6")),
        iterations) { (ranks, _) =>
      val contrib = edges
        .join(ranks.select(col("node").as("src"), col("rank_e6")),
          "src")
        .join(deg, "src")
        .select(col("dst"), expr("rank_e6 div deg__").as("c__"))
        .groupBy(col("dst")).agg(sum(col("c__")).as("in__"))
      nodes
        .join(contrib.withColumnRenamed("dst", "node"),
          Seq("node"), "left")
        .select(col("node"),
          expr("(15000000 + 85 * coalesce(in__, 0)) div 100")
            .as("rank_e6"))
    }.last
    ranks.select(col("node").as("word"), col("rank_e6"))
      .orderBy(col("rank_e6").desc, col("word").asc)
      .limit(topK)
  }
}
