package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import OracleSql._
import Stages._

/** Text and curation: token and quality statistics, language ID,
  * tokenizers (vocabulary, BPE), curation filters, budgets, mixtures
  * and data cards, PII scrubbing, sequence packing, decontamination
  * and n-gram LM scoring.
  */
private[graft] object TextQueries {

  /** Per-doc token counts joined to source — the shared input of the
    * q80/q88 allocation queries (ONE definition; a tokenizer tweak
    * must not diverge the two). */
  private def sourceTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(T(s, dir, "documents"), "doc_id", "text")
      .join(T(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id")

  /** The oracle-side mirror of [[sourceTokens]] as a parenthesized
    * subquery fragment. */
  private val sourceTokensSql: String =
    "(SELECT source, CAST(len(regexp_extract_all(lower(text), " +
      "'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens " +
      "FROM documents) src__"

  /** Exact decontamination report oracle (q51's query), parameterized
    * like [[annTop10Sql]] for the graduated q61 gate. */
  private def decontamReportSql(extra: String = ""): String = {
    // ratio shared by `overlap` (rounded) and `contaminated`
    // (unrounded threshold) — small-int division, bit-identical
    // across engines
    val ratio = """CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
                  | ELSE CAST(coalesce(n_hit, 0) AS DOUBLE) / coalesce(n_grams, 0) END"""
      .stripMargin.replace("\n", "")
    s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |bench AS (SELECT doc_id FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'),
       |bg AS (SELECT DISTINCT unnest($gram5Sql) AS shingle
       |  FROM t JOIN bench USING (doc_id) WHERE len(ws) >= 5),
       |cg AS (SELECT doc_id, unnest($gram5Sql) AS shingle
       |  FROM t ANTI JOIN bench USING (doc_id) WHERE len(ws) >= 5),
       |sz AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
       |hit AS (SELECT cg.doc_id, count(*) AS n_hit
       |  FROM cg JOIN bg USING (shingle) GROUP BY 1),
       |corpus AS (SELECT doc_id FROM documents ANTI JOIN bench USING (doc_id))
       |SELECT corpus.doc_id,
       |  coalesce(n_grams, 0) AS n_grams,
       |  coalesce(n_hit, 0) AS n_hit,
       |  ${graft.functions.ExactRound.ratioSql("coalesce(n_hit, 0)", "coalesce(n_grams, 0)")} AS overlap,
       |  ($ratio) >= 0.3 AS contaminated$extra
       |FROM corpus LEFT JOIN sz USING (doc_id) LEFT JOIN hit USING (doc_id)""".stripMargin
  }

  /** Boundary-ANCHORED merge application (round-13; mirrors
    * BpeTrain.applyMerge verbatim): plain `replace(syms, 'l r', lr)`
    * matches across symbol boundaries when l is a suffix of another
    * symbol ("ca b" contains the substring "a b"). RE2 (DuckDB's
    * regex engine) has no lookarounds, so both engines anchor with
    * string ops: double the inter-symbol spaces, pad, replace the
    * doubled-gap form, collapse, trim. `e` is the syms expression,
    * `pat`/`rep` SQL expressions for " l  r " / " lr ". */
  private def bpeApplySql(e: String, pat: String, rep: String): String =
    s"trim(replace(replace(' ' || replace($e, ' ', '  ') || ' ', " +
      s"$pat, $rep), '  ', ' '))"

  /** The q180 BPE training chain: word-frequency table, three
    * unrolled SEQUENTIAL merge rounds (1-based-subscript
    * adjacent-pair counts, (count desc, pair asc) argmax,
    * left-to-right anchored-`replace` application), ending in
    * per-round picks m1..m3 and the fully merged word table s4. */
  private lazy val bpeTrainCtes: String = {
    def round_(k: Int) =
      s"""t$k AS (SELECT w, freq, string_split(s$k.syms, ' ') AS a
         |  FROM s$k),
         |u$k AS (SELECT w, freq, generate_subscripts(a, 1) AS i,
         |    unnest(a) AS s FROM t$k),
         |p$k AS (SELECT x.s AS l, y.s AS r,
         |    CAST(sum(x.freq) AS BIGINT) AS cnt
         |  FROM u$k x JOIN u$k y ON y.w = x.w AND y.i = x.i + 1
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, cnt FROM p$k
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |s${k + 1} AS (SELECT s$k.w, s$k.freq,
         |    ${bpeApplySql(s"s$k.syms",
              s"' ' || m$k.l || '  ' || m$k.r || ' '",
              s"' ' || m$k.l || m$k.r || ' '")} AS syms
         |  FROM s$k, m$k)""".stripMargin
    s"""wf AS (SELECT w, count(*) AS freq
       |  FROM (SELECT unnest($wordsSql) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |s1 AS (SELECT w, freq,
       |    trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms
       |  FROM wf),
       |${round_(1)},
       |${round_(2)},
       |${round_(3)}""".stripMargin
  }

  /** The q174 BATCHED BPE chain (mirrors BpeTrain.topMergesBatched):
    * per pass — pair counts, top-256 candidates ranked (cnt desc, l,
    * r), keep candidates whose {l, r, l||r} triple shares no symbol
    * with ANY higher-ranked candidate (NOT EXISTS over the exploded
    * triples — the order-free statement of the engine's scan), adopt
    * the first 16 kept, and apply them in kr order as a list_reduce
    * fold of the anchored replace (pat/rep packed tab-separated; tab
    * cannot occur inside symbols — words are split on whitespace). */
  private def bpeBatchedCtes(passes: Int): String = {
    // MATERIALIZED on every multiply-referenced CTE: DuckDB inlines
    // CTEs by default, and an 8-pass chain where each pass references
    // its word table ~3x would otherwise expand the base scan
    // exponentially (observed as fd exhaustion at pass 8)
    def pass_(k: Int) =
      s"""bu$k AS MATERIALIZED (SELECT w, freq,
         |    generate_subscripts(a, 1) AS i, unnest(a) AS s
         |  FROM (SELECT w, freq, string_split(bs$k.syms, ' ') AS a
         |    FROM bs$k)),
         |bp$k AS (SELECT x.s AS l, y.s AS r,
         |    CAST(sum(x.freq) AS BIGINT) AS cnt
         |  FROM bu$k x JOIN bu$k y ON y.w = x.w AND y.i = x.i + 1
         |  GROUP BY 1, 2),
         |br$k AS MATERIALIZED (SELECT * FROM (SELECT l, r, cnt,
         |    row_number()
         |    OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk FROM bp$k)
         |  WHERE rk <= 256),
         |by$k AS MATERIALIZED (SELECT rk, unnest([l, r, l || r]) AS sym
         |  FROM br$k),
         |bk$k AS (SELECT l, r, cnt, row_number() OVER (ORDER BY rk) AS kr
         |  FROM br$k t WHERE NOT EXISTS (SELECT 1 FROM by$k a
         |    JOIN by$k b ON a.sym = b.sym AND a.rk < b.rk
         |    WHERE b.rk = t.rk)),
         |ba$k AS MATERIALIZED (SELECT l, r, cnt, kr FROM bk$k
         |  WHERE kr <= 16),
         |bs${k + 1} AS MATERIALIZED (SELECT bs$k.w, bs$k.freq,
         |    list_reduce(list_prepend(bs$k.syms, m.mp), (acc, x) ->
         |      ${bpeApplySql("acc", "split_part(x, chr(9), 1)",
                "split_part(x, chr(9), 2)")}) AS syms
         |  FROM bs$k CROSS JOIN (SELECT coalesce(list(
         |      ' ' || l || '  ' || r || ' ' || chr(9) ||
         |      ' ' || l || r || ' ' ORDER BY kr), []) AS mp
         |    FROM ba$k) m)""".stripMargin
    s"""bwf AS (SELECT w, count(*) AS freq
       |  FROM (SELECT unnest($wordsSql) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |bs1 AS MATERIALIZED (SELECT w, freq,
       |    trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms
       |  FROM bwf),
       |${(1 to passes).map(pass_).mkString(",\n")}""".stripMargin
  }

  /** Distinct 5-gram list comprehension over a words array `ws` —
    * mirrors Dedup.explodedShingles(n = 5) for the q51 oracle. */
  /** The q19 marker-count language-ID mirror over any (doc_id, text)
    * table/CTE — generated from `TextAnalysis.langMarkers` (one
    * source of truth); shared by the q19 gate and the q210 funnel. */
  private def langIdSql(table: String): String = {
    def cnt(ms: Seq[String]) =
      s"len(list_filter($wordsSql, w -> ${ms.map(m => s"w = '$m'").mkString(" OR ")}))"
    val langs = TextAnalysis.langMarkers
    val cols = langs.map { case (l, ms) => s"${cnt(ms)} AS cnt_$l" }.mkString(",\n  ")
    val mx = s"greatest(${langs.map(l => s"cnt_${l._1}").mkString(", ")})"
    val cases = langs.map { case (l, _) =>
      s"WHEN $mx > 0 AND cnt_$l = $mx THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id,
       |  $cols
       |FROM $table)""".stripMargin
  }

  private val gram5Sql: String =
    "list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || " +
      "ws[i+3] || ' ' || ws[i+4] for i in range(1, len(ws)-3)])"

  val queries: Seq[Query] = Seq(
    // ---- text analysis: token counting
    Query("q17_token_counts", (s, dir) =>
      TextAnalysis.tokenCounts(T(s, dir, "documents"), "doc_id", "text"),
      s"""SELECT doc_id, len($wordsSql) AS n_words,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens,
         |  length(text) AS n_chars_obs
         |FROM documents""".stripMargin),

    // ---- text analysis: quality scoring
    Query("q18_quality_score", (s, dir) =>
      TextAnalysis.qualityScore(T(s, dir, "documents"), "doc_id", "text"), {
      // q18: every ratio (and the composite score, rewritten as one
      // rational with the caps moved inside) rounds via ExactRound
      // integer arithmetic — int/int fractions are tie-prone under
      // round(DOUBLE) (the r7 q71 lesson, applied fleet-wide)
      import graft.functions.ExactRound.ratioSql
      val (nWords, stopHits, punct, len) = (qNWords, qStopHits, qPunct, qLen)
      val (scoreNum, scoreDen) = (qScoreNum, qScoreDen)
      s"""SELECT doc_id, len($wordsSql) AS n_words,
         |  ${ratioSql(s"length(regexp_replace(text, '\\s+', '', 'g'))", nWords)} AS avg_word_len,
         |  ${ratioSql(stopHits, nWords)} AS stop_ratio,
         |  ${ratioSql(punct, len)} AS punct_ratio,
         |  ${ratioSql(scoreNum, scoreDen)} AS quality
         |FROM documents""".stripMargin
    }),

    // ---- text analysis: language-ID (marker heuristic)
    Query("q19_langid", (s, dir) =>
      TextAnalysis.languageId(T(s, dir, "documents"), "doc_id", "text"),
      langIdSql("documents")),

    // ---- text analysis: fingerprint + surrogate key (F8)
    Query("q20_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(T(s, dir, "documents"), "doc_id", "text"),
      s"""SELECT doc_id, md5($wsNorm) AS fp,
         |  'tv_' || substring(md5(text), 1, 20) AS skey
         |FROM documents""".stripMargin),

    // ---- cleanse: Unicode NFC normalization — the canonicalization
    // stage multilingual dedup/tokenization needs ("é" composed vs
    // decomposed is one text, two byte forms). Gated against DuckDB's
    // own nfc_normalize: Java Normalizer and utf8proc implement the
    // same Unicode standard, and the already_nfc flag pins that BOTH
    // agree on normalized-ness per row. The gate surface is pinned to
    // Unicode-VERSION-stable rows BY CONSTRUCTION: normalized text is
    // emitted only for pure-ASCII rows (octet_length == char_length —
    // a dialect-stable test, no regex), where NFC is the identity
    // under every Unicode version. Today's corpora are all-ASCII so
    // every row is exercised; if testdata ever gains non-ASCII text,
    // those rows gate NULL instead of JDK-vs-utf8proc version skew
    // (the r8 advisor's q71-class flap concern). The richer NFKC +
    // control/zero-width cleaning path (TextFns.canonicalizeText) is
    // spec-tested on real multilingual fixtures.
    Query("q79_unicode_normalize", (s, dir) => {
      val asciiOnly = octet_length(col("text")) === length(col("text"))
      T(s, dir, "documents").select(col("doc_id"),
        asciiOnly.as("ascii_only"),
        when(asciiOnly,
          graft.expressions.UnicodeNormalize(col("text"), "NFC"))
          .as("text_nfc"),
        when(asciiOnly,
          graft.expressions.UnicodeNormalize(col("text"), "NFC") ===
            col("text")).as("already_nfc"))
    },
      // q79: DuckDB's nfc_normalize (utf8proc) vs the engine's
      // java.text.Normalizer — both implement Unicode NFC, so outputs
      // and the per-row already-normalized flag must agree exactly.
      // The gate pins itself to version-stable rows: normalized columns
      // are emitted only where strlen(text) = length(text) (pure ASCII,
      // where NFC is the identity under every Unicode version), so a
      // JDK-vs-utf8proc Unicode-version skew can never flip the hash —
      // non-ASCII rows (none in today's corpora) would gate NULL.
      """SELECT doc_id,
        |  strlen(text) = length(text) AS ascii_only,
        |  CASE WHEN strlen(text) = length(text)
        |    THEN nfc_normalize(text) END AS text_nfc,
        |  CASE WHEN strlen(text) = length(text)
        |    THEN nfc_normalize(text) = text END AS already_nfc
        |FROM documents""".stripMargin),

    // ---- curation: exact token-budget apportionment across sources —
    // largest-remainder (Hamilton) allocation of a 100k-token budget
    // proportional to per-source token volume, entirely in integer
    // arithmetic (gate-safe by construction; the q71 discipline at
    // design time). The windows run on the GROUPED frame (20 sources),
    // not the corpus.
    Query("q80_budget_apportion", (s, dir) => {
      val toks = sourceTokens(s, dir)
      Apportion.largestRemainder(toks, "source", "n_tokens",
        budget = 100000L)
    },
      // q80: same Hamilton apportionment in HUGEINT arithmetic, same
      // (rem desc, source asc) tie-break — integer-exact on both engines
      Apportion.largestRemainderSql(
        sourceTokensSql,
        "source", "n_tokens", budget = 100000L)),

    // ---- curation: epoch plan for UPSAMPLING mixtures — when a
    // source's allocation exceeds its volume it repeats: whole passes
    // + a fractional pass, all integer division over q80's allocation
    Query("q88_epoch_plan", (s, dir) => {
      val toks = sourceTokens(s, dir)
      Apportion.epochPlan(toks, "source", "n_tokens", budget = 100000L)
    },
      // q88: q80's apportionment wrapped in integer epoch accounting
      Apportion.epochPlanSql(
        sourceTokensSql,
        "source", "n_tokens", budget = 100000L)),

    // ---- curation: Gopher rule gates (Rae et al. §A1.1) — hard
    // keep/drop quality rules; every ratio bound evaluated by integer
    // cross-multiplication, so the output is longs + booleans only
    Query("q81_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(T(s, dir, "documents"), "doc_id", "text",
        minWords = 50L, maxWords = 100000L),
      // q81: every ratio bound as integer cross-multiplication; the
      // symbol count collapses '...'-runs to one hit via the same
      // regexp both engines share (RE2 semantics)
      s"""WITH t AS (SELECT doc_id, text,
         |    CAST(len($wordsSql) AS BIGINT) AS nw,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS nsp,
         |    CAST(length(text) - length(regexp_replace(text, '#', '', 'g'))
         |      + length(regexp_replace(text, '\\.{3,}|…', '@', 'g'))
         |      - length(regexp_replace(text, '\\.{3,}|…', '', 'g')) AS BIGINT) AS nsym,
         |    CAST(len(list_filter($wordsSql,
         |      w -> w IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS nstop
         |  FROM documents)
         |SELECT doc_id, nw AS n_words, nsp AS n_nonspace,
         |  nsym AS n_symbols, nstop AS n_stopword_hits,
         |  (nw >= 50 AND nw <= 100000) AS ok_word_count,
         |  (nsp >= 3 * nw AND nsp <= 10 * nw) AS ok_word_len,
         |  (10 * nsym < nw) AS ok_symbol_ratio,
         |  (nstop >= 2) AS ok_stopwords,
         |  ((nw >= 50 AND nw <= 100000) AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |    AND (10 * nsym < nw) AND (nstop >= 2)) AS keep
         |FROM t""".stripMargin),

    // ---- curation: per-source data card — docs, token/char volume,
    // language spread, corpus-wide exact-duplicate exposure; the
    // summary table a curation run publishes with the dataset
    Query("q83_data_card", (s, dir) =>
      DataCard.perSource(T(s, dir, "documents"), "doc_id", "text",
        "source", "lang"),
      // q83: md5-fingerprint duplicate exposure counted corpus-wide,
      // attributed per source; all longs
      s"""WITH base AS (SELECT doc_id, source, lang,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nt,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    md5($wsNorm) AS fp
         |  FROM documents),
         |dup AS (SELECT fp FROM base GROUP BY fp HAVING count(*) >= 2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
         |FROM base LEFT JOIN dup ON base.fp = dup.fp
         |GROUP BY 1""".stripMargin),

    // ---- curation: cross-source duplication matrix — which source
    // duplicates which: per unordered source pair, shared fingerprint
    // count, set sizes, and the exact Jaccard of the fingerprint sets
    // (e4-scaled integer). The governance view q83's corpus-wide
    // n_dup_docs cannot answer.
    Query("q93_source_overlap", (s, dir) =>
      DataCard.sourceOverlap(T(s, dir, "documents"), "doc_id", "text",
        "source"),
      // q93: the same distinct (source, fingerprint) reduction, pairwise
      // on the md5 over the complete source-pair grid; Jaccard in the
      // e4-scaled integer form (HUGEINT-exact)
      s"""WITH f AS (SELECT DISTINCT source AS src, md5($wsNorm) AS fp
         |  FROM documents),
         |s AS (SELECT src, count(*) AS n FROM f GROUP BY 1),
         |p AS (SELECT a.src AS src_a, b.src AS src_b,
         |    count(*) AS n_shared
         |  FROM f a JOIN f b ON a.fp = b.fp AND a.src < b.src
         |  GROUP BY 1, 2),
         |g AS (SELECT sa.src AS src_a, sb.src AS src_b,
         |    sa.n AS n_a, sb.n AS n_b
         |  FROM s sa, s sb WHERE sa.src < sb.src)
         |SELECT g.src_a, g.src_b,
         |  coalesce(p.n_shared, 0) AS n_shared, g.n_a, g.n_b,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "coalesce(p.n_shared, 0)",
              "g.n_a + g.n_b - coalesce(p.n_shared, 0)", 4)} AS jaccard_e4
         |FROM g LEFT JOIN p ON p.src_a = g.src_a AND p.src_b = g.src_b""".stripMargin),

    // ---- curation: exact-dedup impact report — what a keep-first
    // dedup pass would remove, per source (docs and token volume); the
    // "how much does dedup cost each source" planning number
    Query("q94_dedup_impact", (s, dir) =>
      DataCard.dedupImpact(T(s, dir, "documents"), "doc_id", "text",
        "source"),
      // q94: keep-first survivor per fingerprint via min(doc_id), impact
      // attributed per source; integer sums cast to BIGINT (the r10
      // HUGEINT lesson)
      s"""WITH base AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nt,
         |    md5($wsNorm) AS fp
         |  FROM documents),
         |m AS (SELECT fp, min(doc_id) AS keep_id FROM base GROUP BY 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN doc_id <> keep_id THEN nt ELSE 0 END) AS BIGINT) AS tokens_removed
         |FROM base JOIN m USING (fp) GROUP BY 1""".stripMargin),

    // ---- curation: per-source percentile-band trim — keep docs whose
    // n_chars sits in the (p10, p90] band of their source; exact
    // row_number semantics, integer cross-multiplied cut
    Query("q97_percentile_band", (s, dir) =>
      Sampling.percentileBand(T(s, dir, "documents"), "source",
        "n_chars", "doc_id", loPct = 10, hiPct = 90),
      // q97: exact row_number band per source, integer cross-multiplied
      // cut — bit-identical rank semantics on both engines
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM r
        |WHERE rn * 100 > 10 * n AND rn * 100 <= 90 * n""".stripMargin),

    // ---- curation: per-domain cap — keep the 15 longest docs per
    // source (C4/RefinedWeb-style domain cap, best-first survivors)
    Query("q102_source_cap", (s, dir) =>
      Sampling.capPerGroup(T(s, dir, "documents"), "source", "n_chars",
        "doc_id", cap = 15),
      // q102: identical row_number semantics (order by n_chars desc,
      // doc_id asc) on both engines — integer ranks, nothing to round
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 15""".stripMargin),

    // ---- curation: n-gram NOVELTY per doc — the fraction of a doc's
    // grams first seen in that doc (ingestion-order diversity decay;
    // the marginal-contribution score greedy data selection uses)
    Query("q107_ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(T(s, dir, "documents"), "doc_id",
        "text", n = 3),
      // q107: first-carrier per gram via min(doc_id); novelty as the
      // exact-rounded scaled integer ratio (no floats in the lineage)
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         |per AS (SELECT s.doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM sh s JOIN f USING (shingle) GROUP BY 1)
         |SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
         |  coalesce(per.n_novel, 0) AS n_novel,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "coalesce(per.n_novel, 0)", "coalesce(per.n_grams, 0)", 4)} AS novelty_e4
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin),

    // ---- curation: per-doc OOV rate against the q67 vocabulary —
    // the tokenizer-coverage metric a vocab choice is judged by
    Query("q113_oov_rate", (s, dir) => {
      val docs = T(s, dir, "documents")
      VocabBuild.oovReport(docs, "doc_id", "text",
        VocabBuild.topTokens(docs, "doc_id", "text",
          topK = 20, minDocFreq = 2L))
    },
      // q113: the q67 vocabulary (same tie order) as the in-vocab set;
      // OOV ratio through the shared exact-rounding identity
      s"""WITH toks AS (SELECT doc_id, unnest($wordsSql) AS token
         |  FROM documents),
         |v AS (SELECT token FROM (
         |  SELECT token, count(*) AS cf
         |  FROM toks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         |  ORDER BY cf DESC, token ASC LIMIT 20)),
         |per AS (SELECT t.doc_id, count(*) AS n_tokens,
         |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov
         |  FROM toks t LEFT JOIN v ON v.token = t.token GROUP BY 1)
         |SELECT d.doc_id, coalesce(per.n_tokens, 0) AS n_tokens,
         |  coalesce(per.n_oov, 0) AS n_oov,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "coalesce(per.n_oov, 0)", "coalesce(per.n_tokens, 0)", 4)}
         |    AS oov_e4
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin),

    // ---- text: bigram collocations — top-200 adjacent word pairs by
    // exact e6-scaled PMI lift (the phrase-detection pass of a vocab
    // pipeline; log-free so the gate stays rational)
    Query("q125_collocations", (s, dir) =>
      TextAnalysis.collocations(T(s, dir, "documents"), "doc_id",
        "text", minCount = 5L, topK = 200),
      // q125: identical positional token stream (generate_subscripts =
      // posexplode), adjacency via i+1 self-join, lift through the
      // exact-rounding identity over HUGEINT products; the LIMIT order
      // is total (w1/w2 contain no spaces)
      s"""WITH d AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS i,
         |    unnest(ws) AS w FROM d),
         |uni AS (SELECT w, count(*) AS c_w FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM uni),
         |bi AS (SELECT a.w AS w1, b.w AS w2, count(*) AS n_pair
         |  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT w1, w2, n_pair, u1.c_w AS c_w1, u2.c_w AS c_w2,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "CAST(n_pair AS HUGEINT) * n_total",
              "CAST(u1.c_w AS HUGEINT) * u2.c_w", 6)} AS lift_e6
         |FROM bi JOIN uni u1 ON u1.w = bi.w1
         |  JOIN uni u2 ON u2.w = bi.w2, tot
         |ORDER BY lift_e6 DESC, w1 ASC, w2 ASC LIMIT 200""".stripMargin),

    // ---- text: vocabulary coverage curve — corpus token share of the
    // top-{100,1k,10k} frequency-ranked types (the tokenizer-budget
    // question); rank via the distributed prefix count
    Query("q135_vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(T(s, dir, "documents"), "doc_id",
        "text"),
      // q135: identical frequency rank (count desc, type asc), all
      // checkpoints as conditional sums over one ranked pass
      s"""WITH t AS (SELECT unnest($wordsSql) AS w FROM documents),
         |c AS (SELECT w, count(*) AS cnt FROM t GROUP BY 1),
         |r AS (SELECT cnt, row_number() OVER
         |    (ORDER BY cnt DESC, w ASC) AS rn FROM c),
         |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
         |    count(*) AS n_types,
         |    CAST(sum(CASE WHEN rn <= 100 THEN cnt ELSE 0 END)
         |      AS BIGINT) AS cov100,
         |    CAST(sum(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END)
         |      AS BIGINT) AS cov1000,
         |    CAST(sum(CASE WHEN rn <= 10000 THEN cnt ELSE 0 END)
         |      AS BIGINT) AS cov10000
         |  FROM r)
         |SELECT CAST(100 AS BIGINT) AS k,
         |  least(100, n_types) AS n_types_used,
         |  cov100 AS covered_tokens, total AS total_tokens,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "cov100", "total", 6)} AS coverage_e6 FROM a
         |UNION ALL SELECT CAST(1000 AS BIGINT),
         |  least(1000, n_types), cov1000, total,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "cov1000", "total", 6)} FROM a
         |UNION ALL SELECT CAST(10000 AS BIGINT),
         |  least(10000, n_types), cov10000, total,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "cov10000", "total", 6)} FROM a""".stripMargin),

    // ---- text: concordance (keyword-in-context) — every 'scan' hit
    // with ±2 surrounding words; bounded explode + equi-join on
    // (doc, position), never a range join
    Query("q136_concordance", (s, dir) =>
      TextAnalysis.concordance(T(s, dir, "documents"), "doc_id",
        "text", term = "scan", context = 2),
      // q136: positional stream, hits expand to a ±2 window per hit
      // (range join is fine oracle-side), pivot + concat_ws (both
      // engines drop the NULL edge positions)
      s"""WITH d AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS i,
         |    unnest(ws) AS w FROM d),
         |h AS (SELECT doc_id, i AS hit FROM t WHERE w = 'scan'),
         |x AS (SELECT h.doc_id, h.hit, t.i - h.hit AS delta, t.w
         |  FROM h JOIN t ON t.doc_id = h.doc_id
         |    AND t.i BETWEEN h.hit - 2 AND h.hit + 2),
         |p AS (SELECT doc_id, hit,
         |    max(CASE WHEN delta = -2 THEN w END) AS m_n2,
         |    max(CASE WHEN delta = -1 THEN w END) AS m_n1,
         |    max(CASE WHEN delta = 0 THEN w END) AS m_0,
         |    max(CASE WHEN delta = 1 THEN w END) AS m_p1,
         |    max(CASE WHEN delta = 2 THEN w END) AS m_p2
         |  FROM x GROUP BY 1, 2)
         |SELECT doc_id, CAST(hit - 1 AS BIGINT) AS hit_pos,
         |  concat_ws(' ', m_n2, m_n1, m_0, m_p1, m_p2) AS snippet
         |FROM p""".stripMargin),

    // ---- composition: per-source Gini language diversity — the
    // log-free diversity score of a training mix
    Query("q147_gini_diversity", (s, dir) =>
      GroupStats.giniDiversity(T(s, dir, "documents"), "source", "lang"),
      // q147: (N² − Σn²)/N² through the wide rounding identity
      s"""WITH c AS (SELECT source, lang, count(*) AS n FROM documents
         |  GROUP BY 1, 2),
         |g AS (SELECT source, CAST(sum(n) AS HUGEINT) AS N,
         |    sum(CAST(n AS HUGEINT) * n) AS ss, count(*) AS n_cats
         |  FROM c GROUP BY 1)
         |SELECT source, CAST(N AS BIGINT) AS n_rows, n_cats,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "N * N - ss", "N * N", 6)} AS gini_e6
         |FROM g""".stripMargin),

    // ---- curation: 2-D Pareto front — documents on the
    // quality-vs-length frontier (skyline via the distributed
    // sort-scan, never the quadratic dominance join)
    Query("q153_pareto_front", (s, dir) => {
      val docs = T(s, dir, "documents")
      val sig = TextAnalysis.qualitySignals(docs, "doc_id", "text")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = sig
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 4)
            .as("quality_e4"))
        .join(TextAnalysis.tokenCounts(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens")), "doc_id")
      Skyline.paretoFront2D(scored, col("quality_e4"), col("n_tokens"),
        Seq("doc_id"))
    },
      // q153: the same sort-scan — per-x max y, exclusive prefix max
      // over x desc, strict survival, join-back keeps (x, y) ties
      s"""WITH scored AS (SELECT doc_id,
         |    ${graft.functions.ExactRound.ratioScaledSql(
              qScoreNum, qScoreDen, 4)} AS x_units,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS y_units
         |  FROM documents),
         |gm AS (SELECT x_units, max(y_units) AS my FROM scored
         |  GROUP BY 1),
         |sw AS (SELECT *, max(my) OVER (ORDER BY x_units DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM gm),
         |sky AS (SELECT x_units, my AS y_units FROM sw
         |  WHERE pm IS NULL OR my > pm)
         |SELECT s.doc_id, s.x_units, s.y_units
         |FROM scored s JOIN sky k
         |  ON k.x_units = s.x_units AND k.y_units = s.y_units"""
        .stripMargin),

    // ---- text: per-doc keyword extraction — top-3 terms by exact
    // e6 TF-IDF lift (tf·N/df), the auto-tagging pass
    Query("q154_doc_keywords", (s, dir) =>
      TextAnalysis.docKeywords(T(s, dir, "documents"), "doc_id",
        "text", k = 3, minDf = 2L),
      // q154: identical lift rational (den = df always >= 1), per-doc
      // row_number pick
      s"""WITH t AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |tfs AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT w, count(*) AS df FROM tfs GROUP BY 1
         |  HAVING count(*) >= 2),
         |nd AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM documents),
         |s AS (SELECT tfs.doc_id, tfs.w AS term, tfs.tf, dfq.df,
         |    CAST((CAST(tfs.tf AS HUGEINT) * (SELECT n FROM nd)
         |        * 2000000 + dfq.df)
         |      // (2 * CAST(dfq.df AS HUGEINT)) AS BIGINT) AS lift_e6
         |  FROM tfs JOIN dfq ON dfq.w = tfs.w),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY lift_e6 DESC, term ASC) AS rk FROM s)
         |SELECT doc_id, term, tf, df, lift_e6, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 3""".stripMargin),

    // ---- text: frequency-of-frequencies (Good-Turing N_c table) —
    // the corpus long-tail profile
    Query("q160_freq_of_freqs", (s, dir) =>
      TextAnalysis.freqOfFreqs(T(s, dir, "documents"), "doc_id",
        "text"),
      // q160: two stacked counts; no tokenization drift possible (the
      // shared words fragment)
      s"""WITH t AS (SELECT unnest($wordsSql) AS w FROM documents),
         |cc AS (SELECT w, count(*) AS cnt FROM t GROUP BY 1)
         |SELECT cnt AS c, count(*) AS n_types FROM cc GROUP BY 1"""
        .stripMargin),

    // ---- text: run-length compressibility — the tokenizer-free junk
    // detector (RLE length / raw length, exact e4)
    Query("q166_compressibility", (s, dir) =>
      TextAnalysis.compressibility(T(s, dir, "documents"), "doc_id",
        "text"),
      // q166: identical per-position character compare (no
      // split-semantics dependence on either side)
      s"""WITH t AS (SELECT doc_id, text, i FROM documents,
         |    unnest(range(1, length(text) + 1)) r(i)
         |  WHERE length(text) > 0),
         |s AS (SELECT doc_id, count(*) AS n,
         |    CAST(sum(CASE WHEN i > 1
         |        AND substring(text, CAST(i AS INTEGER), 1)
         |          <> substring(text, CAST(i - 1 AS INTEGER), 1)
         |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS rle
         |  FROM t GROUP BY 1)
         |SELECT d.doc_id, coalesce(s.n, 0) AS n_chars_obs,
         |  coalesce(s.rle, 0) AS rle_len,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "coalesce(s.rle, 0)", "coalesce(s.n, 0)", 4)}
         |    AS rle_ratio_e4
         |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id"""
        .stripMargin),

    // ---- text: Heaps-law vocabulary growth over nested md5-prefix
    // subcorpora (1/8 ⊂ 1/4 ⊂ 1/2 ⊂ all): one explode, per-word
    // min-level aggregate, 4-row cumulative rollup
    Query("q221_vocab_growth", (s, dir) =>
      VocabBuild.vocabGrowth(T(s, dir, "documents"), "doc_id", "text"),
      // q221: the same md5-prefix nesting rule (q49 thresholds), one
      // unnest, per-word min level, cumulative rollup over 4 rows
      s"""WITH d0 AS (SELECT
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hp,
         |    $wordsSql AS ws
         |  FROM documents),
         |d AS (SELECT CASE WHEN hp < '20' THEN 0
         |    WHEN hp < '40' THEN 1 WHEN hp < '80' THEN 2
         |    ELSE 3 END AS lvl, ws
         |  FROM d0),
         |pd AS (SELECT lvl, count(*) AS nd,
         |    sum(CAST(len(ws) AS BIGINT)) AS nt
         |  FROM d GROUP BY 1),
         |mw AS (SELECT w, min(lvl) AS lvl
         |  FROM (SELECT lvl, unnest(ws) AS w FROM d) GROUP BY 1),
         |mv AS (SELECT lvl, count(*) AS v FROM mw GROUP BY 1),
         |lv AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS level)
         |SELECT level,
         |  CAST(sum(coalesce(pd.nd, 0)) OVER (ORDER BY level
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(pd.nt, 0)) OVER (ORDER BY level
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens,
         |  CAST(sum(coalesce(mv.v, 0)) OVER (ORDER BY level
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
         |FROM lv
         |LEFT JOIN pd ON pd.lvl = lv.level
         |LEFT JOIN mv ON mv.lvl = lv.level""".stripMargin),

    // ---- text: Flesch–Kincaid readability card per source — the
    // grade-level rational cleared to one signed e6 integer per doc
    // (sentence/syllable surrogates via mirrored marker-run counts),
    // then a map-side-combinable per-source rollup
    Query("q218_readability", (s, dir) =>
      TextAnalysis.readabilityBySource(T(s, dir, "documents"),
        "text", "source"), {
      // q218: the same marker-run counts (literal-@ corrected), the
      // same cleared FK rational, the same rounded-value mean
      import graft.functions.ExactRound.ratioScaledSignedSql
      val sRuns = "length(regexp_replace(text, '[.!?]+', '@', 'g')) " +
        "- length(regexp_replace(regexp_replace(text, '[.!?]+', '@', " +
        "'g'), '@', '', 'g'))"
      val yRuns = "length(regexp_replace(text, '[aeiouyAEIOUY]+', " +
        "'@', 'g')) - length(regexp_replace(regexp_replace(text, " +
        "'[aeiouyAEIOUY]+', '@', 'g'), '@', '', 'g'))"
      val at = "(length(text) - length(regexp_replace(text, '@', " +
        "'', 'g')))"
      s"""WITH t AS (SELECT source, $qNWords AS w,
         |    greatest($sRuns - $at, 1) AS s,
         |    ($yRuns - $at) AS y
         |  FROM documents),
         |f AS (SELECT source, ${ratioScaledSignedSql(
             "39 * CAST(w AS HUGEINT) * w + 1180 * CAST(y AS HUGEINT) * s " +
               "- 1559 * CAST(s AS HUGEINT) * w",
             "100 * CAST(s AS HUGEINT) * w", 6)} AS fk_e6
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |  ${ratioScaledSignedSql("sum(fk_e6)", "count(*)", 0)}
         |    AS fk_avg_e6,
         |  min(fk_e6) AS fk_min_e6, max(fk_e6) AS fk_max_e6
         |FROM f GROUP BY 1""".stripMargin
    }),

    // ---- decontamination: SPAN-level scrub — the surgical form of
    // q51's doc-level report: every 5-gram appearing anywhere in the
    // benchmark sample is deleted from the training corpus (ALL
    // occurrences, no keeper), the rest of each doc survives. Gate
    // pins the rebuilt text bytes.
    Query("q233_span_decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      val corpus = docs.join(bench.select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      Dedup.scrubBenchSpans(corpus, bench, "doc_id", "text", k = 5)
    }, {
      // q233: q51's bench split (md5 prefix < '1a'), corpus 5-gram
      // occurrences SEMI-joined against the distinct bench gram set,
      // then the q232 sweep/rebuild tail (no keeper — every hit
      // removes)
      val k = 5
      val gramExpr = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |bench AS (SELECT doc_id FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'),
         |ct AS (SELECT t.doc_id, t.ws FROM t
         |  ANTI JOIN bench USING (doc_id)),
         |tok AS (SELECT doc_id, i AS pos, ws[i] AS w
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |    FROM ct)),
         |bg AS (SELECT DISTINCT $gramExpr AS gram
         |  FROM (SELECT ws, unnest(range(1, len(ws)-${k - 2})) AS i
         |    FROM t JOIN bench USING (doc_id) WHERE len(ws) >= $k)),
         |g AS (SELECT doc_id, i AS pos, $gramExpr AS gram
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws)-${k - 2}))
         |      AS i
         |    FROM ct WHERE len(ws) >= $k)),
         |rem AS (SELECT g.doc_id, g.pos, g.pos + $k AS e
         |  FROM g SEMI JOIN bg USING (gram)),
         |comb AS (SELECT doc_id, pos, w, 1 AS is_tok,
         |    CAST(NULL AS BIGINT) AS e
         |  FROM tok
         |  UNION ALL SELECT doc_id, pos, NULL, 0, e FROM rem),
         |sw AS (SELECT doc_id, pos, w, is_tok,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY pos, is_tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS me
         |  FROM comb),
         |tk AS (SELECT doc_id, pos, w,
         |    (me IS NOT NULL AND me > pos) AS cov
         |  FROM sw WHERE is_tok = 1),
         |per AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_removed
         |  FROM tk GROUP BY 1),
         |kept AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS s
         |  FROM tk WHERE NOT cov GROUP BY 1)
         |SELECT per.doc_id, per.n_tokens, per.n_removed,
         |  md5(coalesce(kept.s, '')) AS kept_fp
         |FROM per LEFT JOIN kept USING (doc_id)""".stripMargin
    }),

    // ---- tokenizer: per-source OOV exposure vs the corpus-global
    // top-1000 vocabulary ((count DESC, word ASC) total order; top-k
    // via TakeOrderedAndProject, broadcast vocab join).
    Query("q266_oov_rate", (s, dir) =>
      VocabBuild.oovRate(T(s, dir, "documents"), "text", "source",
        vocabSize = 1000), {
      // q266: the same (count DESC, word ASC) vocabulary total order;
      // token/type OOV shares per source
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT source, unnest($wordsSql) AS w
         |  FROM documents),
         |bs AS (SELECT source, w, count(*) AS n FROM t GROUP BY 1, 2),
         |g AS (SELECT w, sum(n) AS cnt FROM bs GROUP BY 1),
         |vr AS (SELECT w,
         |    row_number() OVER (ORDER BY cnt DESC, w ASC) AS rn
         |  FROM g),
         |v AS (SELECT w FROM vr WHERE rn <= 1000),
         |j AS (SELECT bs.source, bs.n, (v.w IS NOT NULL) AS inv
         |  FROM bs LEFT JOIN v ON v.w = bs.w),
         |a AS (SELECT source,
         |    CAST(sum(n) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN inv THEN 0 ELSE n END) AS BIGINT)
         |      AS oov_tokens,
         |    count(*) AS n_types,
         |    CAST(sum(CASE WHEN inv THEN 0 ELSE 1 END) AS BIGINT)
         |      AS oov_types
         |  FROM j GROUP BY 1)
         |SELECT source, total_tokens, oov_tokens, n_types, oov_types,
         |  ${ratioScaledSql("oov_tokens", "total_tokens", 6)}
         |    AS oov_token_rate_e6,
         |  ${ratioScaledSql("oov_types", "n_types", 6)}
         |    AS oov_type_rate_e6
         |FROM a""".stripMargin
    }),

    // ---- tokenizer: vocabulary COVERAGE CURVE — share of token
    // occurrences captured by the top-{100, 1000, 10000} types
    // ((count DESC, word ASC) rank via the range-partitioned global
    // position; one conditional aggregate for every cutoff).
    Query("q269_coverage_curve", (s, dir) =>
      VocabBuild.coverageCurve(T(s, dir, "documents"), "text"), {
      // q269: the same (count DESC, word ASC) rank; conditional sums
      // per cutoff over the ranked tally
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT unnest($wordsSql) AS w FROM documents),
         |g AS (SELECT w, count(*) AS cnt FROM t GROUP BY 1),
         |r AS (SELECT cnt,
         |    row_number() OVER (ORDER BY cnt DESC, w ASC) AS rn
         |  FROM g),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM g),
         |c AS (SELECT k,
         |    CAST(sum(CASE WHEN rn <= k THEN cnt ELSE 0 END)
         |      AS BIGINT) AS vt
         |  FROM r CROSS JOIN
         |    (SELECT unnest([100, 1000, 10000]) AS k) GROUP BY 1)
         |SELECT CAST(k AS BIGINT) AS cutoff, vt AS vocab_tokens,
         |  total AS total_tokens,
         |  ${ratioScaledSql("vt", "total", 6)} AS coverage_e6
         |FROM c CROSS JOIN tot""".stripMargin
    }),

    // ---- curation: FILTER IMPACT by source — what the gopher filter
    // does to each source's share of the mix: docs/tokens kept, keep
    // rate, and the source's corpus token share BEFORE vs AFTER
    // filtering (the mix-shift sheet a curation run signs off on).
    Query("q280_filter_impact", (s, dir) => {
      val docs = T(s, dir, "documents")
      val keep = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .select(col("doc_id"), col("keep"))
      val toks = docs.select(col("doc_id"), col("source"),
        size(graft.functions.TextFns.words(col("text")))
          .cast("long").as("nw__"))
      val per = toks.join(keep, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long")
            .as("n_keep"),
          sum(col("nw__")).cast("long").as("tokens_total"),
          sum(when(col("keep"), col("nw__")).otherwise(0L))
            .cast("long").as("tokens_kept"))
      val tot = per.agg(
        sum(col("tokens_total")).cast("long").as("tt__"),
        sum(col("tokens_kept")).cast("long").as("tk__"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_keep"),
          col("tokens_total"), col("tokens_kept"),
          graft.functions.ExactRound.ratioScaled(col("n_keep"),
            col("n_docs"), 6).as("keep_rate_e6"),
          graft.functions.ExactRound.ratioScaled(col("tokens_total"),
            col("tt__"), 6).as("share_before_e6"),
          graft.functions.ExactRound.ratioScaled(col("tokens_kept"),
            col("tk__"), 6).as("share_after_e6"))
    }, {
      // q280: the q203 gopher arms + whitespace token counts; corpus
      // totals as scalar subqueries, e6 shares before/after
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len($wordsSql) AS BIGINT) AS nw0,
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
         |j AS (SELECT source, nw0,
         |    ((nw >= 50 AND nw <= 100000)
         |      AND (nsp >= 3 * nw AND nsp <= 10 * nw)
         |      AND (10 * nsym < nw) AND (nstop >= 2)) AS keep
         |  FROM t),
         |per AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_keep,
         |    CAST(sum(nw0) AS BIGINT) AS tokens_total,
         |    CAST(sum(CASE WHEN keep THEN nw0 ELSE 0 END) AS BIGINT)
         |      AS tokens_kept
         |  FROM j GROUP BY 1)
         |SELECT source, n_docs, n_keep, tokens_total, tokens_kept,
         |  ${ratioScaledSql("n_keep", "n_docs", 6)} AS keep_rate_e6,
         |  ${ratioScaledSql("tokens_total",
             "(SELECT sum(tokens_total) FROM per)", 6)}
         |    AS share_before_e6,
         |  ${ratioScaledSql("tokens_kept",
             "(SELECT sum(tokens_kept) FROM per)", 6)}
         |    AS share_after_e6
         |FROM per""".stripMargin
    }),

    // ---- curation: COLEMAN–LIAU READABILITY per doc — the
    // syllable-free grade-level formula as an exact e2 integer
    // ((588·L − 2960·S) div W − 1580, both engines truncating);
    // letters/words/sentences counted in one scan.
    Query("q323_readability", (s, dir) =>
      TextAnalysis.readability(T(s, dir, "documents"), "doc_id",
        "text"),
      // q323: letters/terminators via global regexp_replace lengths,
      // words via the corpus convention, integer-div truncation (q320)
      s"""WITH c AS (SELECT doc_id,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |      AS BIGINT) AS n_letters,
         |    CAST(len($wordsSql) AS BIGINT) AS n_words,
         |    CAST(greatest(length(
         |      regexp_replace(text, '[^.!?]', '', 'g')), 1) AS BIGINT)
         |      AS n_sentences
         |  FROM documents)
         |SELECT doc_id, n_letters, n_words, n_sentences,
         |  (n_letters * 588 - n_sentences * 2960) // n_words - 1580
         |    AS cli_e2
         |FROM c WHERE n_words > 0""".stripMargin),

    // ---- text: TEXTRANK keywords — PageRank's exact integer ladder
    // run directly on the string word-co-occurrence graph (adjacent
    // tokens, undirected), corpus top-20 by (rank desc, word asc).
    Query("q338_textrank", (s, dir) =>
      TextAnalysis.textRank(T(s, dir, "documents"), "doc_id", "text",
        iterations = 5, topK = 20), {
      // q338: the q125 token stream -> adjacent distinct bigrams ->
      // symmetric string-keyed edges, the q108 rank ladder unrolled 5
      // rounds, top-20 by (rank desc, word asc)
      def iter(k: Int) =
        s"""r$k AS (SELECT n.node,
           |    (15000000 + 85 * coalesce(s.c, 0)) // 100 AS rank_e6
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(p.rank_e6 // d.deg) AS BIGINT) AS c
           |    FROM edges e JOIN r${k - 1} p ON p.node = e.src
           |    JOIN deg d ON d.node = e.src GROUP BY 1) s
           |    ON s.node = n.node)""".stripMargin
      s"""WITH dd AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS i,
         |    unnest(ws) AS w FROM dd),
         |bi AS (SELECT DISTINCT a.w AS w1, b.w AS w2
         |  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  WHERE a.w <> b.w),
         |edges AS (SELECT w1 AS src, w2 AS dst FROM bi
         |  UNION SELECT w2, w1 FROM bi),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges
         |  GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_e6
         |  FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node AS word, rank_e6 FROM r5
         |ORDER BY rank_e6 DESC, word ASC LIMIT 20""".stripMargin
    }),

    // ---- LM scoring: STUPID BACKOFF trigrams (Brants 2007) — the
    // md5-half split makes train/score corpora disjoint so the
    // backoff ladder actually fires; per doc the Σ score and the
    // backoff-depth histogram (trigram/bigram/unigram hits, OOV).
    Query("q295_stupid_backoff", (s, dir) => {
      val docs = T(s, dir, "documents")
      val isRef =
        substring(md5(col("doc_id").cast("string")), 1, 2) < "80"
      NgramLm.stupidBackoff(docs.filter(isRef), docs.filter(!isRef),
        "doc_id", "text")
    }, {
      // q295: md5-half reference counts (c12/c2 derived from the gram
      // tables), scored-half trigram stream through the three-level
      // CASE ladder, per-doc rollup with zero-fill
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws,
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
         |      AS is_ref
         |  FROM documents),
         |tgr AS (SELECT split_part(g, ' ', 1) AS w1,
         |    split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3
         |  FROM (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' ||
         |      ws[i+2] for i in range(1, len(ws)-1)]) AS g
         |    FROM t WHERE is_ref AND len(ws) >= 3)),
         |tri AS (SELECT w1, w2, w3, count(*) AS c123 FROM tgr
         |  GROUP BY 1, 2, 3),
         |pre2 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
         |  FROM tri GROUP BY 1, 2),
         |bgr AS (SELECT split_part(g, ' ', 1) AS w2,
         |    split_part(g, ' ', 2) AS w3
         |  FROM (SELECT unnest([ws[i] || ' ' || ws[i+1]
         |      for i in range(1, len(ws))]) AS g
         |    FROM t WHERE is_ref AND len(ws) >= 2)),
         |bi AS (SELECT w2, w3, count(*) AS c23 FROM bgr GROUP BY 1, 2),
         |pre1 AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS c2 FROM bi
         |  GROUP BY 1),
         |uni AS (SELECT w3, count(*) AS c3 FROM
         |  (SELECT unnest(ws) AS w3 FROM t WHERE is_ref) GROUP BY 1),
         |nt AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS ntok FROM t
         |  WHERE is_ref),
         |sg AS (SELECT doc_id, split_part(g, ' ', 1) AS w1,
         |    split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3
         |  FROM (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] ||
         |      ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS g
         |    FROM t WHERE NOT is_ref AND len(ws) >= 3)),
         |lv AS (SELECT sg.doc_id,
         |    CASE WHEN tri.c123 IS NOT NULL THEN 3
         |      WHEN bi.c23 IS NOT NULL THEN 2
         |      WHEN uni.c3 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         |    CASE WHEN tri.c123 IS NOT NULL THEN
         |        ${ratioScaledSql("tri.c123", "pre2.c12", 6)}
         |      WHEN bi.c23 IS NOT NULL THEN
         |        ${ratioScaledSql("bi.c23 * 4", "pre1.c2 * 10", 6)}
         |      WHEN uni.c3 IS NOT NULL THEN
         |        ${ratioScaledSql("uni.c3 * 16", "nt.ntok * 100", 6)}
         |      ELSE 0 END AS s6
         |  FROM sg
         |  LEFT JOIN tri USING (w1, w2, w3)
         |  LEFT JOIN pre2 USING (w1, w2)
         |  LEFT JOIN bi USING (w2, w3)
         |  LEFT JOIN pre1 USING (w2)
         |  LEFT JOIN uni USING (w3)
         |  CROSS JOIN nt),
         |pd AS (SELECT doc_id, count(*) AS n_trigrams,
         |    CAST(sum(s6) AS BIGINT) AS sum_score_e6,
         |    CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_l3,
         |    CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_l2,
         |    CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_l1,
         |    CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_oov
         |  FROM lv GROUP BY 1)
         |SELECT t.doc_id, coalesce(pd.n_trigrams, 0) AS n_trigrams,
         |  coalesce(pd.sum_score_e6, 0) AS sum_score_e6,
         |  coalesce(pd.n_l3, 0) AS n_l3, coalesce(pd.n_l2, 0) AS n_l2,
         |  coalesce(pd.n_l1, 0) AS n_l1, coalesce(pd.n_oov, 0) AS n_oov
         |FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id
         |WHERE NOT t.is_ref""".stripMargin
    }),

    // ---- pipeline: the CURATION FUNNEL's per-stage survivor counts,
    // oracle-gated end to end — exact dedup → benchmark decontam
    // (q51's bench rule) → quality+repetition gates → (PII scrub →
    // langid) → per-language quota sample. Every stage reuses an
    // already-gated operator; this gate pins the COMPOSITION.
    Query("q210_curation_funnel", (s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      graft.pipeline.CurationPipeline.funnelStats(docs, bench,
        "doc_id", "text",
        graft.pipeline.CurationPipeline.Config(quotaPerLang = 30))
    }, {
      // q210: the funnel's five stage counts from the stages' own
      // mirrors chained on each other — q21 dedup, q51 bench rule +
      // contamination ratio, q18 quality rational, q55 repetition flag,
      // q56 scrub regexes (per-doc functions computed over `documents`
      // and joined: doc-local, so values equal the staged computation),
      // q19 langid over the SCRUBBED text, q52 sampling order
      import graft.functions.ExactRound.ratioSql
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+?[0-9]{2,3}[- ][0-9]{3}[- ][0-9]{4}"
      val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val ratio = "CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0 " +
        "ELSE CAST(coalesce(n_hit, 0) AS DOUBLE) / coalesce(n_grams, 0) END"
      val d2raw = "CAST(t2 - d2 AS DOUBLE) / CAST(t2 AS DOUBLE)"
      val d3raw = "CAST(t3 - d3 AS DOUBLE) / CAST(t3 AS DOUBLE)"
      val twraw = "CAST(mx AS DOUBLE) / CAST(nw AS DOUBLE)"
      s"""WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5($wsNorm)),
         |ddocs AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN dd USING (doc_id)),
         |bench AS (SELECT doc_id FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'),
         |bt AS (SELECT doc_id, $wordsSql AS ws FROM documents
         |  JOIN bench USING (doc_id)),
         |bg AS (SELECT DISTINCT unnest($gram5Sql) AS shingle FROM bt
         |  WHERE len(ws) >= 5),
         |ct AS (SELECT doc_id, $wordsSql AS ws FROM ddocs),
         |cg AS (SELECT doc_id, unnest($gram5Sql) AS shingle FROM ct
         |  WHERE len(ws) >= 5),
         |sz AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
         |hit AS (SELECT cg.doc_id, count(*) AS n_hit
         |  FROM cg JOIN bg USING (shingle) GROUP BY 1),
         |clean AS (SELECT ddocs.doc_id, ddocs.text FROM ddocs
         |  LEFT JOIN sz USING (doc_id) LEFT JOIN hit USING (doc_id)
         |  WHERE NOT (($ratio) >= 0.3)),
         |qual AS (SELECT doc_id FROM documents
         |  WHERE ${ratioSql(qScoreNum, qScoreDen)} >= 0.2),
         |rt AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |rwc AS (SELECT doc_id, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM rt)
         |  GROUP BY doc_id, w),
         |rws AS (SELECT doc_id, sum(c) AS nw, max(c) AS mx
         |  FROM rwc GROUP BY 1),
         |rs2 AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS t2,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS d2
         |  FROM (SELECT doc_id,
         |      [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS l
         |    FROM rt WHERE len(ws) >= 2)),
         |rs3 AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS t3,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS d3
         |  FROM (SELECT doc_id,
         |      [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |        for i in range(1, len(ws)-1)] AS l
         |    FROM rt WHERE len(ws) >= 3)),
         |rep AS (SELECT d.doc_id FROM documents d
         |  LEFT JOIN rws USING (doc_id) LEFT JOIN rs2 USING (doc_id)
         |  LEFT JOIN rs3 USING (doc_id)
         |  WHERE NOT (coalesce(nw, 0) >= 10
         |    AND (coalesce($d2raw, 0.0) > 0.2
         |      OR coalesce($d3raw, 0.0) > 0.18
         |      OR coalesce($twraw, 0.0) > 0.2))),
         |gated AS (SELECT c.doc_id, c.text FROM clean c
         |  JOIN qual USING (doc_id) JOIN rep USING (doc_id)),
         |scr AS (SELECT doc_id, regexp_replace(regexp_replace(
         |    regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |    '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS text
         |  FROM gated),
         |lid AS (${langIdSql("scr")}),
         |samp AS (SELECT doc_id FROM (SELECT l.doc_id,
         |      row_number() OVER (PARTITION BY pred_lang
         |        ORDER BY md5(CAST(l.doc_id AS VARCHAR)), l.doc_id) AS rn
         |    FROM lid l) WHERE rn <= 30)
         |SELECT stage, n_docs FROM (
         |  SELECT '0_input' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT '1_deduped', count(*) FROM ddocs
         |  UNION ALL SELECT '2_decontaminated', count(*) FROM clean
         |  UNION ALL SELECT '3_quality_gated', count(*) FROM gated
         |  UNION ALL SELECT '4_sampled', count(*) FROM samp)""".stripMargin
    }),

    // ---- tokenizer: FERTILITY by language under the q174/q200
    // staged BATCHED model — tokens-per-word / chars-per-token per
    // lang, the "which slice does the trained vocabulary fragment?"
    // audit read straight off the shipped word table
    Query("q207_bpe_fertility", (s, dir) =>
      BpeTrain.fertilityByGroup(T(s, dir, "documents"), "doc_id",
        "text", "lang", stagedBpeModel(s, dir)._2), {
      // q207: the q200 batched-train CTEs re-derive the word table;
      // fertility is the same wtok join grouped by lang, e6-exact
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH ${bpeBatchedCtes(16)},
         |wtok AS (SELECT w,
         |    CAST(len(string_split(syms, ' ')) AS BIGINT) AS ntok,
         |    CAST(length(w) AS BIGINT) AS nch
         |  FROM bs17),
         |t AS (SELECT lang, unnest($wordsSql) AS w FROM documents),
         |tw AS (SELECT lang, count(*) AS n_words,
         |    CAST(sum(ntok) AS BIGINT) AS n_bpe,
         |    CAST(sum(nch) AS BIGINT) AS nchars
         |  FROM t JOIN wtok USING (w) GROUP BY 1),
         |dd AS (SELECT lang, count(*) AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT dd.lang, n_docs, coalesce(n_words, 0) AS n_words,
         |  coalesce(n_bpe, 0) AS n_bpe_tokens,
         |  coalesce(nchars, 0) AS n_word_chars,
         |  ${ratioScaledSql("n_bpe", "n_words", 6)} AS fertility_e6,
         |  ${ratioScaledSql("nchars", "n_bpe", 6)}
         |    AS chars_per_token_e6
         |FROM dd LEFT JOIN tw USING (lang)""".stripMargin
    }),

    // ---- tokenizer: ENCODE under the q174 BATCHED model — the
    // train-then-apply round trip at tokenizer scale (tokens per
    // distinct word off the 16-pass word table, one corpus join),
    // reading the SAME staged artifact q174 ships
    Query("q200_bpe_encode_batched", (s, dir) =>
      BpeTrain.encodeFromWordTable(T(s, dir, "documents"), "doc_id",
        "text", stagedBpeModel(s, dir)._2),
      // q200: q180's encode join keyed by the BATCHED (16-pass) word
      // table bs17 instead of the sequential s4
      s"""WITH ${bpeBatchedCtes(16)},
         |wtok AS (SELECT w,
         |    CAST(len(string_split(syms, ' ')) AS BIGINT) AS ntok
         |  FROM bs17),
         |t AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |tw AS (SELECT doc_id, count(*) AS n_words,
         |    CAST(sum(ntok) AS BIGINT) AS n_bpe
         |  FROM t JOIN wtok USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
         |  coalesce(n_bpe, 0) AS n_bpe_tokens
         |FROM documents d LEFT JOIN tw USING (doc_id)""".stripMargin),

    // ---- tokenizer: BATCHED BPE merge-rule training (round 13 —
    // tokenizer scale): 16 vocabulary passes adopting up to 16
    // symbol-disjoint top pairs each (passes ≪ merges — ~5/pass keep
    // rate on prose yields ~75-80 merges here;
    // (count desc, pair asc) candidate order, boundary-anchored
    // greedy application); the merge table is the tokenizer artifact
    // a data pipeline trains and ships. The sequential per-merge
    // trainer stays gated through q180's 3-round encode.
    Query("q174_bpe_merges", (s, dir) => stagedBpeModel(s, dir)._1, {
      // q174: the 16 batched passes unrolled — per pass the same pair
      // counts, candidate ranking, symbol-disjointness keep rule (NOT
      // EXISTS over exploded {l, r, lr} triples vs every higher-ranked
      // candidate), 16-pair adoption, and a list_reduce fold of the
      // anchored replace applying the batch in kr order before the
      // next pass counts; global merge_rank numbers (pass, kr)
      val union = (1 to 16).map(k =>
        s"SELECT $k AS pass, l, r, cnt, kr FROM ba$k")
        .mkString("\n|  UNION ALL ")
      s"""WITH ${bpeBatchedCtes(16)}
         |SELECT row_number() OVER (ORDER BY pass, kr) AS merge_rank,
         |  pass, l AS left_sym, r AS right_sym, l || r AS merged,
         |  cnt AS pair_count
         |FROM ($union)""".stripMargin
    }),

    // ---- tokenizer: ENCODE under the q174 model — per doc, word
    // count and BPE token count (tokens-per-distinct-word join, no
    // per-doc merge scans): the train-then-apply round trip
    Query("q180_bpe_encode", (s, dir) =>
      BpeTrain.encodeTokenCounts(T(s, dir, "documents"), "doc_id",
        "text", rounds = 3),
      // q180: the s4 word table (every adopted merge applied) keys the
      // encode — tokens per distinct word, summed per document through
      // the same word stream; docs with no words emit zeros
      s"""WITH $bpeTrainCtes,
         |wtok AS (SELECT w,
         |    CAST(len(string_split(syms, ' ')) AS BIGINT) AS ntok
         |  FROM s4),
         |t AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |tw AS (SELECT doc_id, count(*) AS n_words,
         |    CAST(sum(ntok) AS BIGINT) AS n_bpe
         |  FROM t JOIN wtok USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
         |  coalesce(n_bpe, 0) AS n_bpe_tokens
         |FROM documents d LEFT JOIN tw USING (doc_id)""".stripMargin),

    // ---- curation: self-trained bigram-LM likelihood (CCNet-family
    // LM quality filter) — Laplace-smoothed bigram probabilities
    // trained on the corpus itself, per-doc count/sum/min/max of the
    // e6-scaled probabilities: a fully RATIONAL gate surface (logs
    // would be libm-dependent; they stay out of the gate)
    Query("q85_bigram_likelihood", (s, dir) =>
      NgramLm.bigramLikelihood(T(s, dir, "documents"), "doc_id", "text"), {
      // q85: the same corpus-trained Laplace bigram model in SQL — the
      // bigram stream from 1-based list indexing, both count tables, the
      // scalar vocabulary, and the identical integer rounding
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |b AS (SELECT doc_id, ws[CAST(i AS INTEGER)] AS w1,
         |    ws[CAST(i AS INTEGER) + 1] AS w2
         |  FROM t, UNNEST(range(1, len(ws))) AS u(i)
         |  WHERE len(ws) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vocab
         |  FROM (SELECT unnest(ws) AS w FROM t) q),
         |s AS (SELECT b.doc_id,
         |    ${ratioScaledSql("c12.c12 + 1", "c1.c1 + v.vocab", 6)} AS p6
         |  FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(p6) AS BIGINT) AS sum_p_e6,
         |    min(p6) AS min_p_e6, max(p6) AS max_p_e6
         |  FROM s GROUP BY 1)
         |SELECT t.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |  coalesce(sum_p_e6, 0) AS sum_p_e6,
         |  coalesce(min_p_e6, 0) AS min_p_e6,
         |  coalesce(max_p_e6, 0) AS max_p_e6
         |FROM t LEFT JOIN d USING (doc_id)""".stripMargin
    }),

    // ---- curation: mixture MATERIALIZATION — q80's apportionment
    // composed with a per-source quality-ordered budget cut: each
    // source contributes its best docs (quality_e4 desc, doc_id asc —
    // an all-integer ordering key, so the whole lineage is float-free)
    // until its allocated token share is spent. THE mixture query a
    // training run actually executes.
    Query("q84_mixture_select", (s, dir) => {
      val docs = T(s, dir, "documents")
      val toks = TextAnalysis.tokenCounts(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      val sig = TextAnalysis.qualitySignals(docs, "doc_id", "text")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = sig
        .select(col("doc_id"),
          graft.functions.ExactRound.ratioScaled(num, den, 4)
            .as("quality_e4"))
        .join(toks, "doc_id")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      Apportion.selectToAllocation(scored, "source", "n_tokens",
          Seq(col("quality_e4").desc, col("doc_id").asc),
          budget = 10000L, runningOut = "cum_tokens")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("quality_e4"), col("cum_tokens"))
    }, {
      // q84: the q80 apportionment CTE + the q18 quality rational as its
      // scaled-integer form + a per-source cumulative cut — float-free
      // end to end (quality_e4 via ratioScaledSql, integer window sums)
      import graft.functions.ExactRound.ratioScaledSql
      val (nWords, stopHits, punct, len) = (qNWords, qStopHits, qPunct, qLen)
      val (scoreNum, scoreDen) = (qScoreNum, qScoreDen)
      s"""WITH scored AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
         |    ${ratioScaledSql(scoreNum, scoreDen, 4)} AS quality_e4
         |  FROM documents),
         |a AS (${Apportion.largestRemainderSql("scored", "source", "n_tokens", 10000L)}),
         |s AS (SELECT scored.*, a.alloc,
         |    CAST(sum(n_tokens) OVER (PARTITION BY scored.source
         |      ORDER BY quality_e4 DESC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM scored JOIN a ON a.source = scored.source)
         |SELECT doc_id, source, n_tokens, quality_e4, cum_tokens
         |FROM s WHERE cum_tokens <= alloc""".stripMargin
    }),

    // ---- curation: reproducible hash-sample (keyed md5-prefix filter —
    // same rows every rerun/repartition, unlike RNG df.sample)
    Query("q49_hash_sample", (s, dir) =>
      Sampling.hashSample(T(s, dir, "customer"), "c_custkey", rate256 = 64)
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer
        |WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '40'""".stripMargin),

    // ---- curation: deterministic train/val/test split (200/32/24 of
    // 256) — the same doc lands in the same split everywhere, the
    // no-leakage property an RNG split cannot give
    Query("q50_split_by_hash", (s, dir) =>
      Sampling.splitByHash(T(s, dir, "documents").select(col("doc_id")),
        "doc_id", weights = Seq(200, 32, 24),
        labels = Seq("train", "val", "test")),
      """SELECT doc_id,
        |  CASE WHEN doc_id IS NULL THEN NULL
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c8' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e8' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin),

    // ---- curation: stratified sample, exact per-language quotas —
    // min(20, |stratum|) docs per lang, hash-order members (same docs
    // every rerun/repartition/engine), two-phase to avoid the
    // one-reducer-per-stratum window shuffle
    Query("q52_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(T(s, dir, "documents"), "lang", "doc_id",
        k = 20).select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents WHERE doc_id IS NOT NULL)
        |WHERE rn <= 20""".stripMargin),

    // ---- text analysis: Gopher/C4-family repetition signals —
    // duplicate 2/3-gram fractions + top-word dominance, one stacked
    // explode feeding every statistic
    Query("q55_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(T(s, dir, "documents"),
        "doc_id", "text"), {
      // q55: emitted ratios via ExactRound integer rounding (tie-proof);
      // the repetitive flag keeps the raw double ratios, as the engine does
      import graft.functions.ExactRound.ratioSql
      val d2raw = "CAST(t2 - d2 AS DOUBLE) / CAST(t2 AS DOUBLE)"
      val d3raw = "CAST(t3 - d3 AS DOUBLE) / CAST(t3 AS DOUBLE)"
      val twraw = "CAST(mx AS DOUBLE) / CAST(nw AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |wc AS (SELECT doc_id, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY doc_id, w),
         |wstat AS (SELECT doc_id, sum(c) AS nw, max(c) AS mx FROM wc GROUP BY 1),
         |s2 AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS t2,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS d2
         |  FROM (SELECT doc_id, [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS l
         |        FROM t WHERE len(ws) >= 2)),
         |s3 AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS t3,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS d3
         |  FROM (SELECT doc_id, [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)] AS l
         |        FROM t WHERE len(ws) >= 3))
         |SELECT d.doc_id,
         |  CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
         |  ${ratioSql("t2 - d2", "t2")} AS dup_2gram,
         |  ${ratioSql("t3 - d3", "t3")} AS dup_3gram,
         |  ${ratioSql("mx", "nw")} AS top_word,
         |  (coalesce(nw, 0) >= 10 AND (coalesce($d2raw, 0.0) > 0.2
         |    OR coalesce($d3raw, 0.0) > 0.18
         |    OR coalesce($twraw, 0.0) > 0.2)) AS repetitive
         |FROM documents d
         |LEFT JOIN wstat USING (doc_id)
         |LEFT JOIN s2 USING (doc_id)
         |LEFT JOIN s3 USING (doc_id)""".stripMargin
    }),

    // ---- curation: PII scrub — deterministic injection (the synthetic
    // corpus carries no PII) followed by ordered mask + count; the
    // injection is keyed on doc_id and mirrored in the oracle
    Query("q56_pii_scrub", (s, dir) => {
      val injected = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" reach user"), col("doc_id").cast("string"),
              lit("@mail.example.com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" call +91 555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(lit(" from 10.0."),
              pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
              pmod(col("doc_id") * 7, lit(256)).cast("string")))
            .otherwise(lit(""))).as("text"))
      PiiScrub.scrub(injected, "doc_id", "text")
    }, {
      // Rules and injection mirrored from PiiScrub.defaultRules / the
      // q56 query. DuckDB regexp_replace is first-match-only without
      // the 'g' flag; patterns are Java ∩ RE2 common dialect.
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+?[0-9]{2,3}[- ][0-9]{3}[- ][0-9]{4}"
      val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      s"""WITH inj AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 7 = 0
         |    THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 11 = 0
         |    THEN ' call +91 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 13 = 0
         |    THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
         |    ELSE '' END AS t0
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(t0, '$email')) AS BIGINT) AS n_email,
         |    regexp_replace(t0, '$email', '<EMAIL>', 'g') AS t1
         |  FROM inj),
         |s2 AS (SELECT doc_id, n_email,
         |    CAST(len(regexp_extract_all(t1, '$phone')) AS BIGINT) AS n_phone,
         |    regexp_replace(t1, '$phone', '<PHONE>', 'g') AS t2
         |  FROM s1),
         |s3 AS (SELECT doc_id, n_email, n_phone,
         |    CAST(len(regexp_extract_all(t2, '$ip')) AS BIGINT) AS n_ip,
         |    regexp_replace(t2, '$ip', '<IP>', 'g') AS t3
         |  FROM s2)
         |SELECT doc_id, t3 AS text_clean, n_email, n_phone, n_ip FROM s3""".stripMargin
    }),

    // ---- curation: sequence packing — greedy next-fit of token-counted
    // docs into 256-token context windows, 16 hash buckets as the
    // parallelism unit (packing is sequential per bucket by nature)
    Query("q53_sequence_pack", (s, dir) => {
      val toks = TextAnalysis.tokenCounts(T(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      SequencePack.packGreedy(toks, "doc_id", "n_tokens",
        capacity = 256L, nBuckets = 16)
    },
      // Greedy next-fit is a running state with reset — not prefix-sum
      // decomposable, so the oracle is a recursive CTE stepping doc-by-doc
      // within each bucket, the same fits-test the Spark scan applies.
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        |    doc_id % 16 AS bucket
        |  FROM documents WHERE doc_id IS NOT NULL),
        |ordered AS (
        |  SELECT doc_id, n_tokens, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        |  FROM toks),
        |packed AS (
        |  SELECT doc_id, n_tokens, bucket, rn,
        |    CAST(0 AS BIGINT) AS pack_seq,
        |    CAST(0 AS BIGINT) AS pack_offset,
        |    n_tokens AS used
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.n_tokens, o.bucket, o.rn,
        |    CASE WHEN p.used + o.n_tokens <= 256 THEN p.pack_seq ELSE p.pack_seq + 1 END,
        |    CASE WHEN p.used + o.n_tokens <= 256 THEN p.used ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN p.used + o.n_tokens <= 256 THEN p.used + o.n_tokens ELSE o.n_tokens END
        |  FROM packed p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1)
        |SELECT doc_id, n_tokens, bucket, pack_seq, pack_offset FROM packed""".stripMargin),

    // ---- curation: benchmark decontamination — per-doc 5-gram
    // containment against a held-out benchmark slice (the hash-sampled
    // ~26/256 of docs), flagged at 0.3. The benchmark gram set is
    // broadcast: benchmark suites are small by construction.
    Query("q51_decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      val corpus = docs.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
      Decontaminate.overlapReport(corpus, bench, "doc_id", "text",
        n = 5, threshold = 0.3)
    }, decontamReportSql()),

    // ---- curation: token-budget selection — keep the highest-quality
    // docs (q18's score, already gate-proven bit-exact) until a 10k
    // running token budget is spent; two-phase range-partitioned prefix
    // sum, no single-partition window
    Query("q59_token_budget", (s, dir) => {
      val docs = T(s, dir, "documents")
      val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      val costed = docs
        .select(col("doc_id"),
          size(graft.functions.TextFns.words(col("text"))).cast("long")
            .as("n_tokens"))
        .join(quality, "doc_id")
      BudgetSelect.selectUnderBudget(costed, col("n_tokens"),
          Seq(col("quality").desc, col("doc_id").asc), budget = 10000L,
          runningOut = "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
    }, {
      // q59: quality formula mirrored from q18 (ExactRound integer
      // rational — see q18), integer token cumsum — DuckDB sum(BIGINT)
      // widens to HUGEINT, so the window sum casts back
      import graft.functions.ExactRound.ratioSql
      val (nWords, stopHits, punct, len) = (qNWords, qStopHits, qPunct, qLen)
      val (scoreNum, scoreDen) = (qScoreNum, qScoreDen)
      s"""WITH q AS (SELECT doc_id,
         |    CAST(len($wordsSql) AS BIGINT) AS n_tokens,
         |    ${ratioSql(scoreNum, scoreDen)} AS quality
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
         |      AS cum_tokens
         |  FROM q)
         |SELECT doc_id, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 10000""".stripMargin
    }),

    // ---- curation: source-mix resampling — per-source keep rates in
    // 256ths (a target domain mixture), every decision keyed on
    // md5(doc_id) so the kept set is reproducible and monotonic in the
    // rate; pure filter, no shuffle
    Query("q60_source_mix", (s, dir) =>
      Sampling.mixBySource(T(s, dir, "documents"),
          "source", "doc_id",
          rates = Map("src0" -> 256, "src1" -> 256, "src2" -> 192,
            "src3" -> 128, "src4" -> 128),
          defaultRate256 = 64)
        .select(col("doc_id"), col("source")),
      """SELECT doc_id, source FROM documents
        |WHERE doc_id IS NOT NULL AND (
        |  CASE WHEN source = 'src0' THEN true
        |       WHEN source = 'src1' THEN true
        |       WHEN source = 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
        |       WHEN source = 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |       WHEN source = 'src4' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |       ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40' END)""".stripMargin),

    // ---- curation: Bloom-filter decontamination — the memory-constant
    // scale twin of q51. Graduated to hash-gated: rows are the exact
    // overlap report (q51's SQL-reproducible surface); per-row
    // no_false_negative gates the HARD one-sided Bloom guarantee
    // (exact-contaminated ⇒ bloom-contaminated — Bloom hits can only
    // be added, never lost), and excess_ok bounds the false-positive
    // side at the q40 threshold (≤ max(2, 2% of corpus)).
    Query("q61_bloom_decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      val corpus = docs.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val exact = Decontaminate.overlapReport(corpus, bench, "doc_id", "text",
        n = 5, threshold = 0.3)
      val bloom = Decontaminate.bloomOverlapReport(corpus, bench, "doc_id", "text",
          n = 5, threshold = 0.3, fpp = 0.01)
        .select(col("doc_id"), col("contaminated").as("bloom_contaminated"))
      // persisted: the excess aggregate AND the final projection both
      // read it — uncached, the exact and Bloom gram joins run twice
      val joined = graft.Caches.register(exact.join(bloom, "doc_id").persist())
      val excess = joined.agg(
        sum(when(col("bloom_contaminated") && !col("contaminated"), 1L)
          .otherwise(0L)).as("n_excess"),
        count(lit(1)).as("n_corpus"))
      joined.crossJoin(broadcast(excess)).select(
        col("doc_id"), col("n_grams"), col("n_hit"), col("overlap"),
        col("contaminated"),
        (!col("contaminated") || col("bloom_contaminated"))
          .as("no_false_negative"),
        (col("n_excess") <= greatest(lit(2L), col("n_corpus") / 50L))
          .as("excess_ok"))
    },
      decontamReportSql(",\n  true AS no_false_negative, true AS excess_ok")),

    // ---- text analysis: winnowing fingerprint-overlap pairs — docs
    // sharing >= 2 rare fingerprints (substring-level containment, the
    // MOSS aggregation over q33); boilerplate fingerprints capped at
    // doc-frequency 5 so the posting-list join stays linear
    Query("q63_fingerprint_overlap", (s, dir) =>
      TextAnalysis.fingerprintOverlapPairs(T(s, dir, "documents"),
        "doc_id", "text", k = 8, w = 4, maxDocFreq = 5L, minShared = 2L),
      // q63: the q33 winnowing CTE + doc-frequency cap + posting-list
      // pair count — same fingerprints, same cap, same threshold
      s"""WITH t AS (SELECT doc_id, $wsNorm AS tn FROM documents
         |    WHERE length($wsNorm) >= 8),
         |g AS (SELECT doc_id, i,
         |    substr(md5(substr(tn, CAST(i AS INTEGER), 8)), 1, 16) AS h
         |  FROM t, unnest(range(1, length(tn) - 6)) AS r(i)),
         |f AS (SELECT DISTINCT doc_id,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
         |  FROM g),
         |rare AS (SELECT fingerprint FROM f GROUP BY 1 HAVING count(*) <= 5),
         |fr AS (SELECT f.doc_id, f.fingerprint FROM f JOIN rare USING (fingerprint))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM fr a JOIN fr b
         |  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // ---- corpus stats: exact φ-heavy-hitter tokens (φ = 1/65) — an
    // MG-sketch candidate pass (one bounded row out of the full scan)
    // plus an exact count restricted to the ≤ k candidates; the full
    // token domain is never shuffled. Result = exactly the tokens with
    // frequency > N/65, with exact counts (MG can only over-generate
    // candidates; the exact filter kills them)
    Query("q65_frequent_tokens", (s, dir) =>
      FrequentItems.frequentTokens(T(s, dir, "documents"), "text", k = 64),
      // q65: the heavy-hitter set is EXACT (φ = 1/65 support with exact
      // counts), so the oracle is the plain full-groupBy answer the
      // sketch-then-verify plan avoids computing at scale
      s"""WITH toks AS (SELECT unnest($wordsSql) AS token FROM documents),
         |tot AS (SELECT count(*) AS n FROM toks)
         |SELECT token, count(*) AS n_occurrences
         |FROM toks, tot
         |GROUP BY token, tot.n
         |HAVING count(*) * 65 > tot.n""".stripMargin),

    // ---- corpus stats: ranked vocabulary (top-20 tokens by collection
    // frequency with doc frequency) — two-level map-side-combinable
    // aggregate, TakeOrdered selection, rank window over ≤ k rows only
    Query("q67_vocab_top", (s, dir) =>
      VocabBuild.topTokens(T(s, dir, "documents"), "doc_id", "text",
        topK = 20, minDocFreq = 2L),
      s"""WITH toks AS (SELECT doc_id, unnest($wordsSql) AS token FROM documents),
         |v AS (SELECT token, count(*) AS coll_freq,
         |        count(DISTINCT doc_id) AS doc_freq
         |      FROM toks GROUP BY token HAVING count(DISTINCT doc_id) >= 2)
         |SELECT token, coll_freq, doc_freq,
         |  row_number() OVER (ORDER BY coll_freq DESC, token ASC) AS rank
         |FROM v
         |ORDER BY coll_freq DESC, token ASC LIMIT 20""".stripMargin),

    // ---- curation: pack materialization — q53's assignments joined
    // back to text: the actual training-example rows a dataloader
    // consumes (SequencePack.materialize builds the offset-ordered
    // pack_text; its exact bytes are spec-asserted). The GATE compares
    // SequencePack.packDigests: an order-independent XOR of per-member
    // 64-bit md5 digests in two 32-bit halves — r7 hashed the raw
    // concatenation and r8 hashed md5(concatenation), and BOTH flapped
    // on the driver while q53 (same packing) and q20 (same md5) stayed
    // green, so the ordered multi-KB aggregation itself leaves the
    // gate; membership + offsets + text pin identical content.
    Query("q72_pack_materialize", (s, dir) => {
      val toks = TextAnalysis.tokenCounts(T(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      val packed = SequencePack.packGreedy(toks, "doc_id", "n_tokens",
        capacity = 256L, nBuckets = 16)
      SequencePack.packDigests(packed, T(s, dir, "documents"),
        "doc_id", "text")
    }, {
      // q72: q53's recursive-CTE packing joined back to text; the gate
      // compares ORDER-INDEPENDENT pack digests — bit_xor over each
      // member's 64-bit md5 prefix (reconstructed from hex nibbles by
      // pure arithmetic, q24-style) in two 32-bit halves. The r7/r8
      // ordered string_agg + md5-of-concat both flapped on the driver;
      // an unordered XOR of per-member digests pins the same membership,
      // offsets, and text with no ordered aggregation at all.
      val hi = hex32Sql("h16", 1)
      val lo = hex32Sql("h16", 9)
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        |    doc_id % 16 AS bucket
        |  FROM documents WHERE doc_id IS NOT NULL),
        |ordered AS (
        |  SELECT doc_id, n_tokens, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        |  FROM toks),
        |packed AS (
        |  SELECT doc_id, n_tokens, bucket, rn,
        |    CAST(0 AS BIGINT) AS pack_seq,
        |    CAST(0 AS BIGINT) AS pack_offset,
        |    n_tokens AS used
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.n_tokens, o.bucket, o.rn,
        |    CASE WHEN p.used + o.n_tokens <= 256 THEN p.pack_seq ELSE p.pack_seq + 1 END,
        |    CASE WHEN p.used + o.n_tokens <= 256 THEN p.used ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN p.used + o.n_tokens <= 256 THEN p.used + o.n_tokens ELSE o.n_tokens END
        |  FROM packed p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1),
        |m AS (SELECT p.bucket, p.pack_seq, p.n_tokens,
        |    substring(md5(concat(CAST(p.doc_id AS VARCHAR), '@',
        |      CAST(p.pack_offset AS VARCHAR), '@', coalesce(d.text, ''))), 1, 16) AS h16
        |  FROM packed p JOIN documents d ON d.doc_id = p.doc_id),
        |h AS (SELECT bucket, pack_seq, n_tokens,
        |""".stripMargin +
        s"    CAST($hi AS BIGINT) AS hi32,\n" +
        s"    CAST($lo AS BIGINT) AS lo32\n" +
        """|  FROM m)
        |SELECT bucket, pack_seq, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS fill,
        |  bit_xor(hi32) AS digest_hi, bit_xor(lo32) AS digest_lo
        |FROM h GROUP BY 1, 2""".stripMargin
    }))
}
