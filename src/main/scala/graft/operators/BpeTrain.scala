package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE merge-rule training — the first `rounds` byte-pair-encoding
  * merges learned from the corpus (Sennrich et al. '16): per round,
  * count adjacent symbol pairs weighted by word frequency, adopt the
  * most frequent pair (ties: lexicographic (left, right) — a pinned
  * total order both engines share) as a merge rule, and apply it
  * left-to-right non-overlapping everywhere. The merge table IS a
  * tokenizer artifact: the thing an LLM-data pipeline trains once per
  * corpus and ships next to the vocab.
  *
  * Shape at scale: BPE statistics live on the WORD-FREQUENCY table —
  * the corpus collapses to its vocabulary (one groupBy) before any
  * pair work, so each round is a vocabulary-sized pass, not a corpus
  * pass; the per-round argmax is a bounded-rows collect (the
  * P-offsets discipline), and the merge application is a codegen'd
  * string `replace` on the space-joined symbol form. `replace` scans
  * left-to-right non-overlapping in both engines (Java String.replace
  * / DuckDB replace), which is exactly BPE's greedy application rule.
  *
  * Two trainers:
  *  - [[topMerges]]/[[encodeTokenCounts]]: the textbook SEQUENTIAL
  *    trainer — one merge per vocabulary pass, capped at 16 rounds
  *    (each round is a full pass; honest demonstration scale).
  *  - [[topMergesBatched]] (round 13): the TOKENIZER-SCALE trainer —
  *    per vocabulary pass, rank all pairs by (count desc, pair asc)
  *    and adopt up to `batchCap` pairs whose symbol triples
  *    {l, r, l||r} are disjoint from EVERY higher-ranked candidate's
  *    triple (checked against all candidates, kept or not — a
  *    non-recursive rule both engines express identically). Disjoint
  *    pairs neither create nor destroy each other's occurrences, so
  *    applying the batch in rank order equals any order, and passes
  *    ≪ merges: 8 passes train up to 128 merges.
  */
object BpeTrain {

  /** "abc" -> "a b c" (per code point; the initial symbol state). */
  private def charSyms(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** Boundary-ANCHORED merge application (round-13 fix): plain
    * substring replace of "l r" matches across symbol boundaries when
    * l is a suffix of another symbol (word 'cab' segmented "ca b" must
    * NOT match merge (a,b) — "ca b" contains the substring "a b").
    * DuckDB's regex engine (RE2) has no lookarounds, so both engines
    * anchor with pure string ops instead: double every inter-symbol
    * space, pad the ends, replace " l  r " (the doubled gap can only
    * be a full symbol boundary), collapse the doubles back, trim.
    * Left-to-right non-overlapping `replace` on the doubled form is
    * still exactly BPE's greedy rule ("a a a" merges positions 1-2,
    * not 2-3). On an already-applied (trimmed, single-spaced) input
    * with no match the wrap is the identity. Mirrored verbatim in the
    * oracle ([[graft.catalog.TextQueries]] bpeTrainCtes / bpeBatchedCtes). */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column =
    trim(call_function("replace", call_function("replace",
      concat(lit(" "),
        call_function("replace", syms, lit(" "), lit("  ")), lit(" ")),
      lit(s" $l  $r "), lit(s" $l$r ")), lit("  "), lit(" ")))

  /** Train `rounds` merges; returns (merge table rows, the word table
    * (w, freq, syms) with every adopted merge applied). The word table
    * carries the trained segmentation — [[encodeTokenCounts]] reads
    * tokens-per-word straight off it. */
  private def trainRounds(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): (Seq[(Long, String, String, String, Long)], DataFrame) = {
    require(rounds >= 1 && rounds <= 16,
      "each round is a full vocabulary pass; rounds in [1, 16] — " +
        "use topMergesBatched for tokenizer-scale merge counts")
    var cur = wordFreq(df, textCol)
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var exhausted = false
    for (round <- 1 to rounds if !exhausted) {
      val top = cur
        .filter(size(split(col("syms"), " ")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(split(syms, ' ')) - 1), " +
            "i -> struct(element_at(split(syms, ' '), i) AS l, " +
            "element_at(split(syms, ' '), i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round.toLong, l, r, l + r, c))
        // literal args via lit(), never SQL interpolation — corpus
        // symbols may contain quotes
        cur = cur.withColumn("syms", applyMerge(col("syms"), l, r))
      }
    }
    (merges.result(), cur)
  }

  /** The shared word-frequency table (one corpus pass). */
  private def wordFreq(df: DataFrame, textCol: String): DataFrame =
    graft.Caches.register(df
      .select(explode(graft.functions.TextFns.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", charSyms(col("w")))
      .persist())

  /** BATCHED trainer — tokenizer scale: up to `passes * batchCap`
    * merges in `passes` vocabulary passes. Per pass: pair counts, the
    * top `candN` candidates collected in (count desc, l, r) order
    * (bounded driver state: candN rows), and the greedy disjointness
    * scan described in the object doc; adopted pairs apply as a chain
    * of boundary-anchored replaces, and the word table persists per
    * pass so pass k+1 reads materialized symbols, not a k-pass-deep
    * expression. Returns ((merge_rank, pass, l, r, merged, count)*,
    * final word table). */
  private def trainBatchedRounds(df: DataFrame, textCol: String,
      passes: Int, batchCap: Int, candN: Int)
      : (Seq[(Long, Int, String, String, String, Long)], DataFrame) = {
    require(passes >= 1 && passes <= 32, "passes in [1, 32]")
    require(batchCap >= 1 && batchCap <= 64, "batchCap in [1, 64]")
    require(candN >= batchCap && candN <= 4096, "candN in [batchCap, 4096]")
    var cur = wordFreq(df, textCol)
    val merges = Seq.newBuilder[(Long, Int, String, String, String, Long)]
    var rank = 0L
    var exhausted = false
    for (pass <- 1 to passes if !exhausted) {
      // adjacent pairs via a zip of the symbol array with its own
      // tail — codegen'd native functions end to end (slice /
      // arrays_zip / explode). The earlier transform(sequence(...))
      // lambda formulation was interpreted AND duplicated the split
      // per element_at reference (the documented HOF pitfall); at 16
      // passes that dominated the trainer's runtime (~2 s/pass).
      val cands = cur
        .select(col("freq"), split(col("syms"), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(expr(
          "arrays_zip(slice(a, 1, size(a) - 1), " +
            "slice(a, 2, size(a) - 1))")).as("p"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(candN)
        .collect()
      if (cands.isEmpty) exhausted = true
      else {
        // keep a candidate iff its {l, r, lr} triple is disjoint from
        // every HIGHER-RANKED candidate's triple (kept or not) — the
        // order-free formulation the oracle states as a NOT EXISTS
        var seen = Set.empty[String]
        val kept = Seq.newBuilder[(String, String, Long)]
        var nKept = 0
        cands.foreach { row =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          val trio = Set(l, r, l + r)
          if (trio.forall(s => !seen.contains(s))) {
            kept += ((l, r, c)); nKept += 1
          }
          seen ++= trio
        }
        val adopt = kept.result().take(batchCap)
        adopt.foreach { case (l, r, c) =>
          rank += 1; merges += ((rank, pass, l, r, l + r, c))
        }
        val applied = adopt.foldLeft(col("syms")) {
          case (acc, (l, r, _)) => applyMerge(acc, l, r)
        }
        // localCheckpoint per pass, the [[Iterate]] discipline (why
        // checkpoint, not persist, is stated there); the pass loop
        // checkpoints itself because its stop rule is a driver-side
        // collect, not a state-to-state round
        cur = cur.withColumn("syms", applied).localCheckpoint(true)
      }
    }
    (merges.result(), cur)
  }

  /** Merge table from the batched trainer: (merge_rank, pass,
    * left_sym, right_sym, merged, pair_count). */
  def topMergesBatched(df: DataFrame, idCol: String, textCol: String,
      passes: Int, batchCap: Int, candN: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainBatchedRounds(df, textCol, passes, batchCap, candN)._1
      .toDF("merge_rank", "pass", "left_sym", "right_sym", "merged",
        "pair_count")
  }

  /** The first `rounds` merges: (merge_rank, left_sym, right_sym,
    * merged, pair_count). Stops early (fewer rows) if the vocabulary
    * runs out of adjacent pairs. */
  def topMerges(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainRounds(df, idCol, textCol, rounds)._1
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** APPLY the trained merges: per document, the whitespace word count
    * and the BPE token count under the `rounds`-merge model — the
    * train-then-encode round trip a tokenizer pipeline runs, and the
    * corpus statistic (tokens before/after merging) that prices a
    * vocabulary. Encoding cost is per DISTINCT WORD (the merge chain
    * runs on the vocabulary table once); documents join their words
    * against the encoded vocabulary — at 100 TB the corpus pass is
    * one explode + one hash join on word, never a per-doc merge
    * scan. */
  def encodeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    encodeFromWordTable(df, idCol, textCol,
      trainRounds(df, idCol, textCol, rounds)._2)

  /** Encode under the BATCHED model (q174's trainer): the
    * train-then-apply round trip at tokenizer scale — same
    * tokens-per-distinct-word join as [[encodeTokenCounts]], keyed by
    * the multi-pass word table. */
  def encodeTokenCountsBatched(df: DataFrame, idCol: String,
      textCol: String, passes: Int, batchCap: Int,
      candN: Int): DataFrame =
    encodeFromWordTable(df, idCol, textCol,
      trainBatchedRounds(df, textCol, passes, batchCap, candN)._2)

  /** Train-once ARTIFACT store for the batched model: the merge table
    * and the final word segmentation persist to `storeDir` on first
    * touch and read back as parquet ever after — the shipping shape
    * of a tokenizer artifact (a corpus trains once; every consumer —
    * the encode pass, vocabulary stats, the next session — reads the
    * shipped tables). Deterministic trainer ⇒ the staged store equals
    * a fresh train. Built once through [[graft.Tables.buildOnce]].
    * Returns (merge table, word table). */
  def stagedBatchedModel(df: DataFrame, textCol: String,
      storeDir: String, passes: Int, batchCap: Int,
      candN: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    graft.Tables.buildOnce(spark, storeDir) {
      val (merges, words) =
        trainBatchedRounds(df, textCol, passes, batchCap, candN)
      import spark.implicits._
      merges.toDF("merge_rank", "pass", "left_sym", "right_sym",
          "merged", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/merges")
      words.write.mode("overwrite").parquet(s"$storeDir/words")
    }
    (spark.read.parquet(s"$storeDir/merges"),
      spark.read.parquet(s"$storeDir/words"))
  }

  /** Tokenizer FERTILITY report — tokens-per-word and
    * chars-per-token for each group (language, source): the standard
    * "how well does the trained vocabulary fit each slice?" audit
    * (high fertility = the slice fragments into many subwords — its
    * scripts/vocabulary are under-represented in training). Reads the
    * trained word table (fresh or [[stagedBatchedModel]]'s artifact),
    * so the corpus pass is the same explode + word-table hash join as
    * [[encodeFromWordTable]] plus one group aggregate; n_docs counts
    * every document (blank ones too) via a separate group count.
    * All ratios exact e6 rationals (ExactRound). */
  def fertilityByGroup(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, encoded: DataFrame): DataFrame = {
    import graft.functions.ExactRound
    val wordTokens = encoded.select(col("w"),
      size(split(col("syms"), " ")).cast("long").as("n_toks__"),
      length(col("w")).cast("long").as("n_chars__"))
    val per = df
      .select(col(groupCol),
        explode(graft.functions.TextFns.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(wordTokens, "w")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks__")).as("n_bpe_tokens"),
        sum(col("n_chars__")).as("n_word_chars"))
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .join(per, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("n_word_chars"), lit(0L)).as("n_word_chars"),
        ExactRound.ratioScaled(col("n_bpe_tokens"), col("n_words"), 6)
          .as("fertility_e6"),
        ExactRound.ratioScaled(col("n_word_chars"),
          col("n_bpe_tokens"), 6).as("chars_per_token_e6"))
  }

  /** The encode join shared by both trainers: tokens per DISTINCT
    * word off the trained word table, documents joining their word
    * stream against it — at 100 TB the corpus pass is one explode +
    * one hash join on word, never a per-doc merge scan. */
  def encodeFromWordTable(df: DataFrame, idCol: String,
      textCol: String, encoded: DataFrame): DataFrame = {
    val wordTokens = encoded.select(col("w"),
      size(split(col("syms"), " ")).cast("long").as("n_toks__"))
    val docWords = df
      .select(col(idCol),
        explode(graft.functions.TextFns.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val per = docWords.join(wordTokens, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks__")).as("n_bpe_tokens"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }
}
