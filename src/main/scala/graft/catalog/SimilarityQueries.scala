package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import OracleSql._
import Stages._

/** Similarity and vectors: exact and approximate nearest-neighbour
  * retrieval (LSH, IVF, int8, PQ, Matryoshka), embedding QA and
  * prototypes, retrieval ranking, clustering, and the multimodal
  * (audio, image, video) feature cards.
  */
private[graft] object SimilarityQueries {

  /** Exact ANN top-10 oracle (q25's query), parameterized with extra
    * constant columns so the graduated approximate-ANN gates (q26/q31)
    * reuse the same exact surface plus their guarantee booleans. */
  private def annTop10Sql(extra: String = ""): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qx AS (SELECT generate_subscripts(qv, 1) AS i,
       |    CAST(unnest(qv) AS DOUBLE) AS y FROM q),
       |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |dots AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS na
       |  FROM ex JOIN qx USING (i) GROUP BY 1),
       |nq AS (SELECT sum(y * y) AS nb FROM qx)
       |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cosine$extra
       |FROM dots, nq
       |ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC, vec_id
       |LIMIT 10""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- similarity: batched exact retrieval — top-10 per query for
    // a 5-query batch in ONE corpus scan (broadcast query set), with
    // partition-local then global top-k so no corpus-wide sort exists
    // at any scale
    Query("q82_ann_batch", (s, dir) =>
      SimilaritySearch.bruteForceTopKBatch(T(s, dir, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10),
      // q82: q25's per-element dot-product machinery for a 5-query
      // batch; identical (round(cos,6) desc, id asc) ordering pin
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
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
        |    round(dot / (sqrt(na) * sqrt(nb)), 4) AS cosine,
        |    row_number() OVER (PARTITION BY d.query_id
        |      ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
        |        d.vec_id ASC) AS rk
        |  FROM dots d JOIN nq USING (query_id))
        |SELECT query_id, vec_id, cosine FROM r WHERE rk <= 10""".stripMargin),

    // ---- similarity: int8-QUANTIZED ANN — byte codes (4× smaller than
    // float32) feed the same fused cosine kernel, scales cancel, no
    // dequantization. Gate = q26's shape: exact top-10 surface +
    // recall_ok vs the quantized probe (measured 10/10/9 at
    // sf0.001/0.01/0.1; gate >= 8)
    Query("q105_ann_quantized", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val quant = SimilaritySearch.quantizedTopK(emb,
        "vec_id", "embedding", queryId = 0L, k = 10)
      val exact = graft.Caches.register(SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queryId = 0L, k = 10).persist())
      val overlap = exact
        .join(quant.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      exact.crossJoin(broadcast(overlap))
        .select(col("vec_id"), col("cosine"),
          (col("n_overlap") >= 8).as("recall_ok"))
    },
      // q105/q106: graduated recall gates (the q26/q31 shape) — exact
      // top-10 surface, recall_ok measured in-engine
      annTop10Sql(",\n  true AS recall_ok")),

    // ---- similarity: product-quantization ANN with shortlist + exact
    // re-rank (FAISS IndexRefine shape) — 16-byte codes shortlist 100
    // candidates by ADC, only those fetch float vectors. Gate = q26's
    // shape (measured 10/10/9; gate >= 7 — i.i.d.-noise testdata is
    // PQ's hardest regime and data regenerates every round)
    Query("q106_ann_pq", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val pq = SimilaritySearch.pqTopKRefined(emb,
        "vec_id", "embedding", queryId = 0L, k = 10,
        m = 16, nCodes = 64, shortlist = 100)
      val exact = graft.Caches.register(SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queryId = 0L, k = 10).persist())
      val overlap = exact
        .join(pq.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      exact.crossJoin(broadcast(overlap))
        .select(col("vec_id"), col("cosine"),
          (col("n_overlap") >= 7).as("recall_ok"))
    }, annTop10Sql(",\n  true AS recall_ok")),

    // ---- similarity: MATRYOSHKA prefix-dim ANN — shortlist on the
    // first 16 of 64 components (4× cheaper coarse scan, no trained
    // codebook), exact full-dim re-rank of the 100-shortlist; q26's
    // gate shape (shortlist 100 of 500 on i.i.d. noise: prefix cosine
    // is a weak proxy in the hardest regime, so the bar matches
    // q31's >= 4)
    Query("q172_ann_matryoshka", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val mat = SimilaritySearch.matryoshkaTopKRefined(emb,
        "vec_id", "embedding", queryId = 0L, k = 10,
        prefixDim = 16, shortlist = 100)
      val exact = graft.Caches.register(SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queryId = 0L, k = 10).persist())
      val overlap = exact
        .join(mat.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      exact.crossJoin(broadcast(overlap))
        .select(col("vec_id"), col("cosine"),
          (col("n_overlap") >= 4).as("recall_ok"))
    }, annTop10Sql(",\n  true AS recall_ok")),

    // ---- embeddings: per-label prototypes — exact e6-unit class
    // centroids + e12-unit variance per dimension (nearest-class-mean
    // / cluster-coherence QA), zero float accumulation
    Query("q130_label_prototypes", (s, dir) =>
      Prototypes.labelPrototypes(T(s, dir, "embeddings"), "embedding",
        "label"),
      // q130: identical e6 quantization per element (one IEEE multiply +
      // round), exact HUGEINT sums, signed/wide rounding identities
      s"""WITH u AS (SELECT CAST(label AS BIGINT) AS label,
         |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
         |      AS BIGINT) AS u
         |  FROM embeddings),
         |s AS (SELECT label, dim, count(*) AS n,
         |    sum(CAST(u AS HUGEINT)) AS s,
         |    sum(CAST(u AS HUGEINT) * CAST(u AS HUGEINT)) AS ss
         |  FROM u GROUP BY 1, 2)
         |SELECT label, dim, n,
         |  ${graft.functions.ExactRound.ratioScaledSignedSql(
              "s", "n", 0)} AS mean_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "CAST(n AS HUGEINT) * ss - s * s",
              "CAST(n AS HUGEINT) * n", 0)} AS var_e12
         |FROM s""".stripMargin),

    // ---- embeddings: nearest-class-mean confusion matrix — exact
    // integer squared-L2 to the q130 prototypes, argmin per vector,
    // tallied true × assigned (label-separability QA before training)
    Query("q133_prototype_confusion", (s, dir) =>
      Prototypes.prototypeConfusion(T(s, dir, "embeddings"), "vec_id",
        "embedding", "label"),
      // q133: q130's prototype CTE inlined; exact HUGEINT squared-L2,
      // argmin with cand-label tie-break, confusion tally
      s"""WITH $protoConfusionCtes
         |SELECT true_label, assigned_label, n_vecs FROM conf""".stripMargin),

    // ---- retrieval: reciprocal-rank fusion of a quality ranking and
    // a length ranking over documents (the multi-signal curation
    // merge; each 1/(60+r) term exactly rounded at e6)
    Query("q134_rrf_fusion", (s, dir) => {
      val docs = T(s, dir, "documents")
      val sig = TextAnalysis.qualitySignals(docs, "doc_id", "text")
      val (num, den) = TextAnalysis.qualityRational()
      val byQuality = sig.select(col("doc_id"),
        graft.functions.ExactRound.ratioScaled(num, den, 4).as("v"))
      val byLength = TextAnalysis.tokenCounts(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens").as("v"))
      def ranked(df: DataFrame): DataFrame =
        BudgetSelect.runningTotal(df, lit(1L),
          Seq(col("v").desc, col("doc_id").asc), "rank")._1
          .select(col("doc_id"), col("rank"))
      RankFusion.reciprocalRankFusion(
        Seq(ranked(byQuality), ranked(byLength)), "doc_id",
        k = 60, topN = 100)
    },
      // q134: row_number rankings (total order: value desc, doc asc),
      // full join, each RRF term through the rounding identity
      s"""WITH scored AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
         |    ${graft.functions.ExactRound.ratioScaledSql(
              qScoreNum, qScoreDen, 4)} AS quality_e4
         |  FROM documents),
         |ra AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY quality_e4 DESC, doc_id ASC) AS rank_1
         |  FROM scored),
         |rb AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY n_tokens DESC, doc_id ASC) AS rank_2
         |  FROM scored),
         |j AS (SELECT ra.doc_id, rank_1, rank_2
         |  FROM ra JOIN rb ON ra.doc_id = rb.doc_id)
         |SELECT doc_id, rank_1, rank_2,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "1", "rank_1 + 60", 6)} +
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "1", "rank_2 + 60", 6)} AS rrf_e6
         |FROM j ORDER BY rrf_e6 DESC, doc_id ASC LIMIT 100"""
        .stripMargin),

    // ---- embeddings: corpus QA — exact e12 squared norms + the
    // degenerate-vector flags an ANN index build needs checked first
    Query("q151_embedding_qa", (s, dir) =>
      Prototypes.embeddingQa(T(s, dir, "embeddings"), "vec_id",
        "embedding"),
      // q151: identical e6 quantization, exact HUGEINT norms; empty
      // vectors survive via the left join
      """WITH u AS (SELECT vec_id,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
        |      AS BIGINT) AS u
        |  FROM embeddings),
        |s AS (SELECT vec_id, count(*) AS n_dims,
        |    CAST(sum(CAST(u AS HUGEINT) * u) AS BIGINT) AS norm2_e12
        |  FROM u GROUP BY 1)
        |SELECT e.vec_id, coalesce(s.n_dims, 0) AS n_dims,
        |  coalesce(s.norm2_e12, 0) AS norm2_e12,
        |  coalesce(s.norm2_e12, 0) = 0 AS is_zero,
        |  coalesce(s.n_dims, 0) = 0 AS is_empty
        |FROM embeddings e LEFT JOIN s ON s.vec_id = e.vec_id"""
        .stripMargin),

    // ---- multimodal: per-frame PCM16 energy — a synthesized WAV
    // (real header + 64 text bytes as samples) through the REAL
    // chunk-walk + frame decode; exact integer energies (q27's
    // ASCII-pin so the oracle reconstructs samples from char codes)
    Query("q163_audio_frames", (s, dir) => {
      def le32(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte, ((v >> 16) & 255).toByte,
        ((v >> 24) & 255).toByte)
      def le16(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte)
      val hdr = "RIFF".getBytes("UTF-8") ++ le32(100) ++
        "WAVE".getBytes("UTF-8") ++ "fmt ".getBytes("UTF-8") ++
        le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(16) ++ "data".getBytes("UTF-8") ++ le32(64)
      val wavs = T(s, dir, "documents")
        .filter(length(col("text")) >= 64 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit(hdr), substring(col("text"), 1, 64).cast("binary"))
            .as("payload"))
      Multimodal.frameEnergy(wavs, "doc_id", "payload",
        frameSamples = 8)
    },
      // q163: samples reconstructed from ASCII char codes (le16 pairs,
      // high byte <= 0x7f so no sign wrap), 8-sample frames, exact
      // HUGEINT energies
      """WITH d AS (SELECT doc_id, substring(text, 1, 64) AS t
        |  FROM documents
        |  WHERE length(text) >= 64 AND strlen(text) = length(text)),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS sidx,
        |    ascii(substring(t, CAST(2 * i + 1 AS INTEGER), 1))
        |      + 256 * ascii(substring(t, CAST(2 * i + 2 AS INTEGER), 1))
        |      AS v
        |  FROM d, (SELECT unnest(range(0, 32)) AS i) idx),
        |f AS (SELECT doc_id, sidx // 8 AS frame,
        |    count(*) AS n_samples,
        |    CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS energy,
        |    CAST(max(v) AS BIGINT) AS peak
        |  FROM s GROUP BY 1, 2)
        |SELECT doc_id, frame, n_samples, energy, peak FROM f"""
        .stripMargin),

    // ---- clustering: UNSUPERVISED k-means (Lloyd, 3 fixed
    // iterations, k=4) over the embedding corpus — deterministic
    // md5-order seeding, exact integer squared-L2 assignment, signed
    // exact-round centroid means; every iteration mirrored as an
    // unrolled CTE (the q108 PageRank discipline applied to
    // clustering). Gate = final centroids + member counts + inertia.
    Query("q230_kmeans", (s, dir) =>
      Prototypes.kmeansLloyd(T(s, dir, "embeddings"), "vec_id",
        "embedding", k = 4, iterations = 3), {
      // q230: the Lloyd loop unrolled as CTEs (the q108 discipline) —
      // q130's e6 quantization, HUGEINT squared-L2, (d2, c) argmin,
      // signed exact-round means with empty clusters inheriting their
      // previous centroid; one extra assign pass (a4) for the final
      // membership/inertia under the final centroids
      import graft.functions.ExactRound.ratioScaledSignedSql
      def iter(t: Int) =
        s"""d$t AS (SELECT u.vec_id, c.c,
           |    sum(CAST(u.u - c.ce6 AS HUGEINT) * (u.u - c.ce6)) AS d2
           |  FROM u JOIN c${t - 1} c USING (dim) GROUP BY 1, 2),
           |a$t AS (SELECT vec_id, c, d2 FROM (SELECT vec_id, c, d2,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY d2, c) AS rn FROM d$t) WHERE rn = 1),
           |c$t AS (SELECT p.c, p.dim, coalesce(nc.m, p.ce6) AS ce6
           |  FROM c${t - 1} p LEFT JOIN (
           |    SELECT a.c, u.dim,
           |      ${ratioScaledSignedSql("sum(CAST(u.u AS HUGEINT))",
                  "count(*)", 0)} AS m
           |    FROM a$t a JOIN u USING (vec_id) GROUP BY 1, 2) nc
           |    ON nc.c = p.c AND nc.dim = p.dim)""".stripMargin
      s"""WITH u AS (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
         |      AS BIGINT) AS u
         |  FROM embeddings),
         |sd AS (SELECT vec_id, CAST(c AS BIGINT) AS c FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
         |    FROM embeddings) WHERE c < 4),
         |c0 AS (SELECT sd.c, u.dim, u.u AS ce6
         |  FROM sd JOIN u USING (vec_id)),
         |${(1 to 3).map(iter).mkString(",\n")},
         |d4 AS (SELECT u.vec_id, c.c,
         |    sum(CAST(u.u - c.ce6 AS HUGEINT) * (u.u - c.ce6)) AS d2
         |  FROM u JOIN c3 c USING (dim) GROUP BY 1, 2),
         |a4 AS (SELECT vec_id, c, d2 FROM (SELECT vec_id, c, d2,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, c) AS rn FROM d4) WHERE rn = 1),
         |sz AS (SELECT c, count(*) AS n_members,
         |    CAST(sum(d2) // 1000000 AS BIGINT) AS inertia_e6
         |  FROM a4 GROUP BY 1)
         |SELECT ct.c, ct.dim, ct.ce6,
         |  CAST(coalesce(sz.n_members, 0) AS BIGINT) AS n_members,
         |  coalesce(sz.inertia_e6, 0) AS inertia_e6
         |FROM c3 ct LEFT JOIN sz USING (c)""".stripMargin
    }),

    // ---- multimodal: per-frame ZERO-CROSSING RATE of the q163
    // synth WAVs — crossings of the 16384 midline (the ASCII-pinned
    // samples are always positive, so textbook zero is degenerate;
    // the DC-offset crossing is the meaningful discriminator) plus
    // Σ|v − midline|, frame-local in both engines.
    Query("q241_audio_zcr", (s, dir) => {
      def le32(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte, ((v >> 16) & 255).toByte,
        ((v >> 24) & 255).toByte)
      def le16(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte)
      val hdr = "RIFF".getBytes("UTF-8") ++ le32(100) ++
        "WAVE".getBytes("UTF-8") ++ "fmt ".getBytes("UTF-8") ++
        le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(16) ++ "data".getBytes("UTF-8") ++ le32(64)
      val wavs = T(s, dir, "documents")
        .filter(length(col("text")) >= 64 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit(hdr), substring(col("text"), 1, 64).cast("binary"))
            .as("payload"))
      Multimodal.frameZcr(wavs, "doc_id", "payload",
        frameSamples = 8, midline = 16384L)
    },
      // q241: the q163 sample reconstruction + lag over sidx; boundary
      // transitions (sidx % 8 = 0) excluded so frames stay frame-local
      """WITH d AS (SELECT doc_id, substring(text, 1, 64) AS t
        |  FROM documents
        |  WHERE length(text) >= 64 AND strlen(text) = length(text)),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS sidx,
        |    ascii(substring(t, CAST(2 * i + 1 AS INTEGER), 1))
        |      + 256 * ascii(substring(t, CAST(2 * i + 2 AS INTEGER), 1))
        |      AS v
        |  FROM d, (SELECT unnest(range(0, 32)) AS i) idx),
        |p AS (SELECT doc_id, sidx, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY sidx) AS pv
        |  FROM s),
        |f AS (SELECT doc_id, sidx // 8 AS frame, count(*) AS n_samples,
        |    CAST(sum(CASE WHEN sidx % 8 <> 0
        |        AND ((pv >= 16384) <> (v >= 16384))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS zcr,
        |    CAST(sum(abs(v - 16384)) AS BIGINT) AS sum_dev
        |  FROM p GROUP BY 1, 2)
        |SELECT doc_id, frame, n_samples, zcr, sum_dev FROM f"""
        .stripMargin),

    // ---- multimodal: SILENCE-TRIM card over the q241 synth WAVs —
    // VAD-lite: frames whose |v − midline| deviation sum sits below
    // 80000 read as quiet (measured span 69k-105k on this corpus, so
    // both arms fire); per clip the quiet count and the edge-run trim
    // offsets, pure conditional aggregates, no window.
    Query("q252_silence_trim", (s, dir) => {
      def le32(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte, ((v >> 16) & 255).toByte,
        ((v >> 24) & 255).toByte)
      def le16(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte)
      val hdr = "RIFF".getBytes("UTF-8") ++ le32(100) ++
        "WAVE".getBytes("UTF-8") ++ "fmt ".getBytes("UTF-8") ++
        le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(16) ++ "data".getBytes("UTF-8") ++ le32(64)
      val wavs = T(s, dir, "documents")
        .filter(length(col("text")) >= 64 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit(hdr), substring(col("text"), 1, 64).cast("binary"))
            .as("payload"))
      Multimodal.silenceTrim(wavs, "doc_id", "payload",
        frameSamples = 8, midline = 16384L, devThreshold = 80000L)
    },
      // q252: q241's sample/frame chain reduced to sum_dev, then the
      // quiet flag + edge-run extraction as conditional aggregates
      """WITH d AS (SELECT doc_id, substring(text, 1, 64) AS t
        |  FROM documents
        |  WHERE length(text) >= 64 AND strlen(text) = length(text)),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS sidx,
        |    ascii(substring(t, CAST(2 * i + 1 AS INTEGER), 1))
        |      + 256 * ascii(substring(t, CAST(2 * i + 2 AS INTEGER), 1))
        |      AS v
        |  FROM d, (SELECT unnest(range(0, 32)) AS i) idx),
        |f AS (SELECT doc_id, sidx // 8 AS frame,
        |    CAST(sum(abs(v - 16384)) AS BIGINT) AS sum_dev
        |  FROM s GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN sum_dev < 80000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_quiet,
        |  coalesce(min(CASE WHEN sum_dev >= 80000 THEN frame END),
        |    count(*)) AS lead_quiet,
        |  coalesce(count(*) - 1 -
        |      max(CASE WHEN sum_dev >= 80000 THEN frame END),
        |    count(*)) AS trail_quiet
        |FROM f GROUP BY 1""".stripMargin),

    // ---- vectors: per-dimension INT8 quantization card — affine
    // 256-level grid per dim, reconstruction error carried as the
    // division-free exact integer err255 = |255·(u−lo) − q·span|.
    Query("q265_int8_card", (s, dir) =>
      Spectral.quantizeInt8Card(T(s, dir, "embeddings"), "vec_id",
        "embedding"),
      // q265: same e6 unit quantization and half-up grid ladder —
      // q = ((u−lo)·510 + span) // (2·span), err255 = |255·(u−lo) − q·span|
      """WITH u AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
        |      AS BIGINT) AS u
        |  FROM embeddings),
        |b AS (SELECT dim, min(u) AS lo, max(u) AS hi FROM u GROUP BY 1),
        |e AS (SELECT u.dim, u.u, b.lo, b.hi, b.hi - b.lo AS span
        |  FROM u JOIN b USING (dim)),
        |qv AS (SELECT dim, lo, hi, span, u,
        |    CASE WHEN span > 0
        |      THEN ((u - lo) * 510 + span) // (2 * span)
        |      ELSE 0 END AS q
        |  FROM e),
        |er AS (SELECT dim, lo, hi,
        |    abs(255 * (u - lo) - q * span) AS err
        |  FROM qv)
        |SELECT dim, count(*) AS n, lo, hi,
        |  max(err) AS max_err255, CAST(sum(err) AS BIGINT) AS sum_err255
        |FROM er GROUP BY 1, 3, 4""".stripMargin),

    // ---- multimodal: per-image LUMA CONTRAST card over real P6
    // decode (q27's synthesized-PPM pin) — BT.709 e4 integer luma,
    // dynamic range and the exact RMS-contrast variance numerator.
    Query("q267_contrast_card", (s, dir) => {
      val docs = T(s, dir, "documents")
      val ppm = docs.filter(length(col("text")) >= 96 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit("P6\n8 4\n255\n".getBytes("UTF-8")),
            substring(col("text"), 1, 96).cast("binary")).as("payload"))
      val dec = "decimal(38,0)"
      Multimodal.contrastCard(ppm, "doc_id", "payload")
        .select(col("doc_id"), col("n_px"), col("min_l"), col("max_l"),
          (col("max_l") - col("min_l")).as("dyn_range"),
          (col("n_px").cast(dec) * col("sumsq_l") -
            col("sum_l").cast(dec) * col("sum_l")).cast("long")
            .as("var_num"))
    },
      // q267: q27's char-code pixel reconstruction, BT.709 e4 integer
      // luma per pixel, exact variance numerator in HUGEINT
      """WITH pxv AS (SELECT doc_id,
        |    (idx.i - 1) // 3 AS px, (idx.i - 1) % 3 AS ch,
        |    ascii(substring(text, CAST(idx.i AS INTEGER), 1)) AS b
        |  FROM documents, (SELECT unnest(range(1, 97)) AS i) idx
        |  WHERE length(text) >= 96 AND strlen(text) = length(text)),
        |lum AS (SELECT doc_id, px,
        |    CAST(sum(CASE ch WHEN 0 THEN 2126 * b
        |      WHEN 1 THEN 7152 * b ELSE 722 * b END) AS BIGINT) AS l
        |  FROM pxv GROUP BY 1, 2),
        |ag AS (SELECT doc_id, count(*) AS n_px,
        |    CAST(sum(l) AS BIGINT) AS sum_l,
        |    sum(CAST(l AS HUGEINT) * l) AS sumsq,
        |    min(l) AS min_l, max(l) AS max_l
        |  FROM lum GROUP BY 1)
        |SELECT doc_id, n_px, min_l, max_l,
        |  max_l - min_l AS dyn_range,
        |  CAST(CAST(n_px AS HUGEINT) * sumsq -
        |    CAST(sum_l AS HUGEINT) * sum_l AS BIGINT) AS var_num
        |FROM ag""".stripMargin),

    // ---- vectors: embedding-table QA pre-flight — dimension
    // consistency, NULL pollution, zero vectors, e12 squared-norm
    // range (no sqrt on the gate surface).
    Query("q274_vector_qa", (s, dir) =>
      Spectral.vectorQa(T(s, dir, "embeddings"), "vec_id",
        "embedding"),
      // q274: same e6 element quantization; count(*) keeps null
      // elements in dims, squared sums in HUGEINT
      """WITH u AS (SELECT vec_id, unnest(embedding) AS x
        |  FROM embeddings),
        |p AS (SELECT vec_id, count(*) AS dims,
        |    sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS nulls,
        |    sum(CAST(CAST(round(CAST(x AS DOUBLE) * 1000000, 0)
        |        AS BIGINT) AS HUGEINT) *
        |      CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
        |      AS sq
        |  FROM u GROUP BY 1)
        |SELECT count(*) AS n_vecs,
        |  min(dims) AS min_dims, max(dims) AS max_dims,
        |  CAST(sum(CASE WHEN nulls > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_null,
        |  CAST(sum(CASE WHEN nulls = 0 AND sq = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_zero,
        |  CAST(min(sq) AS BIGINT) AS min_sqnorm_e12,
        |  CAST(max(sq) AS BIGINT) AS max_sqnorm_e12,
        |  CAST(sum(sq) AS BIGINT) AS sum_sqnorm_e12
        |FROM p""".stripMargin),

    // ---- multimodal: audio CLIPPING card over the q241 synth WAVs —
    // samples pinned at/above the rail, the longest consecutive
    // clipped run (flat-topped waves, not single peaks), exact e6
    // rate. Rail 30000: the ASCII-synthesized samples span 8k..32.4k,
    // so both arms fire (the true int16 rail is the parameter's
    // default for real audio).
    Query("q281_audio_clipping", (s, dir) => {
      def le32(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte, ((v >> 16) & 255).toByte,
        ((v >> 24) & 255).toByte)
      def le16(v: Int) = Array[Byte]((v & 255).toByte,
        ((v >> 8) & 255).toByte)
      val hdr = "RIFF".getBytes("UTF-8") ++ le32(100) ++
        "WAVE".getBytes("UTF-8") ++ "fmt ".getBytes("UTF-8") ++
        le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(16) ++ "data".getBytes("UTF-8") ++ le32(64)
      val wavs = T(s, dir, "documents")
        .filter(length(col("text")) >= 64 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit(hdr), substring(col("text"), 1, 64).cast("binary"))
            .as("payload"))
      Multimodal.clippingCard(wavs, "doc_id", "payload",
        railAbs = 30000L)
    }, {
      // q281: q241's sample chain; clipped runs via gaps-and-islands
      // over the clipped sample indexes, e6 rate through the shared
      // half-up ladder
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH d AS (SELECT doc_id, substring(text, 1, 64) AS t
         |  FROM documents
         |  WHERE length(text) >= 64 AND strlen(text) = length(text)),
         |s AS (SELECT doc_id, CAST(i AS BIGINT) AS sidx,
         |    ascii(substring(t, CAST(2 * i + 1 AS INTEGER), 1))
         |      + 256 * ascii(substring(t, CAST(2 * i + 2 AS INTEGER), 1))
         |      AS v
         |  FROM d, (SELECT unnest(range(0, 32)) AS i) idx),
         |c AS (SELECT doc_id, sidx FROM s WHERE v >= 30000),
         |isl AS (SELECT doc_id, sidx - row_number()
         |    OVER (PARTITION BY doc_id ORDER BY sidx) AS g
         |  FROM c),
         |r AS (SELECT doc_id, count(*) AS run FROM isl
         |  GROUP BY doc_id, g),
         |m AS (SELECT doc_id, max(run) AS max_run FROM r GROUP BY 1),
         |a AS (SELECT doc_id, count(*) AS n,
         |    CAST(sum(CASE WHEN v >= 30000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS clipped
         |  FROM s GROUP BY 1)
         |SELECT a.doc_id, a.n AS n_samples, a.clipped AS n_clipped,
         |  coalesce(m.max_run, 0) AS max_clip_run,
         |  ${ratioScaledSql("a.clipped", "a.n", 6)} AS clip_rate_e6
         |FROM a LEFT JOIN m ON m.doc_id = a.doc_id"""
        .stripMargin
    }),

    // ---- vectors: 1-NN LABEL PURITY over the cosine near-dup pair
    // surface at 0.3 — each node's best neighbor votes; per label the
    // agreement rate (the "does the metric respect the labels?" eval).
    Query("q282_knn_label_purity", (s, dir) =>
      EvalMetrics.neighborLabelPurity(
        lshNearDupPairs(s, dir, threshold = 0.3),
        "id_a", "id_b", round(col("cosine") * 10000),
        T(s, dir, "embeddings"), "vec_id", "label"), {
      // q282: the mirrored pair surface doubled, (score DESC, nbr ASC)
      // argmax per node, label joins, per-label purity
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH ${lshPairCtes("0.3")},
         |dr AS (SELECT id_a AS id, id_b AS nbr,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) AS c FROM p
         |  UNION ALL SELECT id_b, id_a,
         |    CAST(round(cosine * 10000, 0) AS BIGINT) FROM p),
         |best AS (SELECT id, nbr FROM (SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, nbr ASC) AS rn FROM dr)
         |  WHERE rn = 1),
         |j AS (SELECT CAST(ea.label AS BIGINT) AS l,
         |    CAST(eb.label AS BIGINT) AS nl
         |  FROM best b
         |  JOIN embeddings ea ON ea.vec_id = b.id
         |  JOIN embeddings eb ON eb.vec_id = b.nbr)
         |SELECT l AS label, count(*) AS n_nodes,
         |  CAST(sum(CASE WHEN l = nl THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  ${ratioScaledSql(
             "sum(CASE WHEN l = nl THEN 1 ELSE 0 END)", "count(*)", 6)}
         |    AS purity_e6
         |FROM j GROUP BY 1""".stripMargin
    }),

    // ---- similarity: RANGE COUNT per anchor — neighborhood size +
    // max cosine (e4) within radius 0.3 from the staged band-key
    // index; the radius twin of q82's batched top-k.
    Query("q349_ann_range_count", (s, dir) =>
      SimilaritySearch.rangeCountFromKeys(stagedEmbKeys(s, dir),
        T(s, dir, "embeddings"), "vec_id", "embedding",
        T(s, dir, "embeddings").filter(col("vec_id") % 17 === 0)
          .select(col("vec_id")),
        "vec_id", threshold = 0.3),
      // q349: anchor-filtered band-key join (the q179 bipartite shape,
      // anchor side kept), candidate-only cosine verify, per-anchor
      // count + e4 max
      s"""WITH $lshKeyCtes,
         |cand AS (SELECT a.vec_id AS anchor_id, b.vec_id AS other_id
         |  FROM lsh_keys a JOIN lsh_keys b ON b.band = a.band
         |    AND b.bkey = a.bkey AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 17 = 0 GROUP BY 1, 2),
         |dotp AS (SELECT c.anchor_id, c.other_id, sum(ea.x * eb.x) AS dot
         |  FROM cand c JOIN ex ea ON ea.vec_id = c.anchor_id
         |    JOIN ex eb ON eb.vec_id = c.other_id AND eb.i = ea.i
         |  GROUP BY 1, 2),
         |r AS (SELECT anchor_id,
         |    dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cos
         |  FROM dotp JOIN nm na ON na.vec_id = anchor_id
         |    JOIN nm nb ON nb.vec_id = other_id
         |  WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.3)
         |SELECT anchor_id, count(*) AS n_in_range,
         |  max(CAST(round(cos * 10000, 0) AS BIGINT)) AS max_cosine_e4
         |FROM r GROUP BY 1""".stripMargin),

    // ---- embeddings: CENTROID SHIFT per label between the two
    // vec_id-parity halves — exact squared-L2 of mean vectors via
    // cross-multiplied rationals (e12 units); a label missing from
    // either half reports NULL.
    Query("q328_centroid_shift", (s, dir) =>
      Prototypes.centroidShift(T(s, dir, "embeddings"), "vec_id",
        "embedding", "label", pmod(col("vec_id"), lit(2)) === 1), {
      // q328: e6 units, per-(label, parity-half, dim) integer sums,
      // cross-multiplied mean difference squared in HUGEINT, e12 ratio;
      // single-half labels keep a NULL distance via the left join
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH u AS (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
         |      AS BIGINT) AS u
         |  FROM embeddings),
         |t AS (SELECT vec_id, label, vec_id % 2 = 1 AS hb
         |  FROM embeddings),
         |s AS (SELECT t.label, t.hb, u.dim, count(*) AS n,
         |    CAST(sum(u.u) AS HUGEINT) AS s
         |  FROM u JOIN t ON t.vec_id = u.vec_id GROUP BY 1, 2, 3),
         |a AS (SELECT label, dim, n AS na, s AS sa FROM s
         |  WHERE NOT hb),
         |b AS (SELECT label, dim, n AS nb, s AS sb FROM s WHERE hb),
         |p AS (SELECT a.label, max(a.na) AS n_a, max(b.nb) AS n_b,
         |    sum((a.sa * b.nb - b.sb * a.na) *
         |        (a.sa * b.nb - b.sb * a.na)) AS num
         |  FROM a JOIN b ON b.label = a.label AND b.dim = a.dim
         |  GROUP BY 1)
         |SELECT l.label, p.n_a, p.n_b,
         |  CASE WHEN p.num IS NOT NULL THEN
         |    ${ratioScaledSql("p.num",
             "CAST(p.n_a AS HUGEINT) * p.n_b * p.n_a * p.n_b", 0)}
         |  ELSE NULL END AS shift_sq_e12
         |FROM (SELECT DISTINCT label FROM embeddings) l
         |LEFT JOIN p ON p.label = l.label""".stripMargin
    }),

    // ---- multimodal: OTSU threshold per q267 synth PPM — the luma
    // value maximizing between-class variance on the q275 two-stage
    // integer ladder, (score DESC, value ASC) argmax: the bimodality
    // / binarization card next to the contrast card.
    Query("q288_otsu_card", (s, dir) => {
      val ppm = T(s, dir, "documents")
        .filter(length(col("text")) >= 96 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit("P6\n8 4\n255\n".getBytes("UTF-8")),
            substring(col("text"), 1, 96).cast("binary")).as("payload"))
      Multimodal.otsuCard(
        Multimodal.lumaPixels(ppm, "doc_id", "payload"), "doc_id", "l")
    },
      // q288: the q267 luma chain, per-image (value, count) tally,
      // cumulative vs total window sums, the q275 two-stage HUGEINT
      // ladder, (score DESC, v ASC) argmax
      """WITH pxv AS (SELECT doc_id,
        |    (idx.i - 1) // 3 AS px, (idx.i - 1) % 3 AS ch,
        |    ascii(substring(text, CAST(idx.i AS INTEGER), 1)) AS b
        |  FROM documents, (SELECT unnest(range(1, 97)) AS i) idx
        |  WHERE length(text) >= 96 AND strlen(text) = length(text)),
        |lum AS (SELECT doc_id, px,
        |    CAST(sum(CASE ch WHEN 0 THEN 2126 * b
        |      WHEN 1 THEN 7152 * b ELSE 722 * b END) AS BIGINT) AS l
        |  FROM pxv GROUP BY 1, 2),
        |g AS (SELECT doc_id, l AS v, count(*) AS cnt FROM lum
        |  GROUP BY 1, 2),
        |c AS (SELECT doc_id, v,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS cumn,
        |    CAST(sum(v * cnt) OVER w AS BIGINT) AS cums,
        |    CAST(sum(cnt) OVER p AS BIGINT) AS n,
        |    CAST(sum(v * cnt) OVER p AS BIGINT) AS s
        |  FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY v
        |      ROWS UNBOUNDED PRECEDING),
        |    p AS (PARTITION BY doc_id)),
        |d AS (SELECT doc_id, v, cumn, n,
        |    abs(CAST(cums AS HUGEINT) * (n - cumn)
        |      - CAST(s - cums AS HUGEINT) * cumn) AS dd
        |  FROM c WHERE n - cumn > 0),
        |sc AS (SELECT doc_id, v, cumn, n,
        |    (((dd * 1000000) // (CAST(cumn AS HUGEINT) * (n - cumn)))
        |      * dd) // (CAST(n AS HUGEINT) * n * 1000000) AS score
        |  FROM d),
        |bb AS (SELECT doc_id, v, cumn, n, score, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, v ASC) AS rn
        |  FROM sc)
        |SELECT doc_id, n AS n_px, v AS otsu_l, cumn AS n_below,
        |  CAST(score AS BIGINT) AS score_between
        |FROM bb WHERE rn = 1""".stripMargin),

    // ---- vectors: near-dup PAIR EXPLANATIONS — per 0.3-surface pair
    // the top-3 dimensions by e12 dot-product contribution (q189's
    // "why did these match?" card for embeddings instead of shingles).
    Query("q304_vector_pair_explain", (s, dir) => {
      val pairs = lshNearDupPairs(s, dir, threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      val units = T(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("p__", "x__")))
        .select(col("vec_id"), (col("p__") + 1L).as("dim"),
          round(col("x__") * 1000000).cast("long").as("u__"))
      pairs
        .join(units.select(col("vec_id").as("id_a"), col("dim"),
          col("u__").as("ua_e6")), Seq("id_a"))
        .join(units.select(col("vec_id").as("id_b"), col("dim"),
          col("u__").as("ub_e6")), Seq("id_b", "dim"))
        .withColumn("contrib_e12",
          (col("ua_e6").cast("decimal(38,0)") * col("ub_e6"))
            .cast("long"))
        .transform(df => RankOps.groupTopK(df, Seq("id_a", "id_b"), 3,
          col("contrib_e12"), Seq(col("dim")), rankCol = "rnk"))
        .select(col("id_a"), col("id_b"), col("dim"), col("ua_e6"),
          col("ub_e6"), col("contrib_e12"), col("rnk"))
    },
      // q304: the e6-unit embedding table joined to both pair
      // endpoints, per-pair (contrib DESC, dim ASC) top 3
      s"""WITH ${lshPairCtes("0.3")},
         |pe AS (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000,
         |      0) AS BIGINT) AS u
         |  FROM embeddings),
         |c AS (SELECT p.id_a, p.id_b, a.dim, a.u AS ua_e6,
         |    b.u AS ub_e6, CAST(a.u AS HUGEINT) * b.u AS contrib
         |  FROM p JOIN pe a ON a.vec_id = p.id_a
         |  JOIN pe b ON b.vec_id = p.id_b AND b.dim = a.dim),
         |r AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
         |    ORDER BY contrib DESC, dim ASC) AS rnk FROM c)
         |SELECT id_a, id_b, dim, ua_e6, ub_e6,
         |  CAST(contrib AS BIGINT) AS contrib_e12, rnk
         |FROM r WHERE rnk <= 3""".stripMargin),

    // ---- clustering QA: SIMPLIFIED SILHOUETTE per q230 k-means
    // cluster (Hruschka's centroid variant — linear, not the O(n²)
    // classic) on exact integer squared distances: a = d² to own
    // centroid, b = d² to nearest other, s = (b−a)/b e6-scaled;
    // per-cluster member count + mean s. Same seeds/iterations as
    // q230, so the oracle re-runs the identical unrolled CTE chain.
    Query("q247_silhouette", (s, dir) =>
      Prototypes.simplifiedSilhouette(T(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iterations = 3), {
      // q247: q230's unrolled Lloyd chain (identical seeds/iterations),
      // then the rank-2 extraction and the same exact-ratio ladders
      import graft.functions.ExactRound.{ratioScaledSignedSql,
        ratioScaledSql}
      def iter(t: Int) =
        s"""d$t AS (SELECT u.vec_id, c.c,
           |    sum(CAST(u.u - c.ce6 AS HUGEINT) * (u.u - c.ce6)) AS d2
           |  FROM u JOIN c${t - 1} c USING (dim) GROUP BY 1, 2),
           |a$t AS (SELECT vec_id, c, d2 FROM (SELECT vec_id, c, d2,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY d2, c) AS rn FROM d$t) WHERE rn = 1),
           |c$t AS (SELECT p.c, p.dim, coalesce(nc.m, p.ce6) AS ce6
           |  FROM c${t - 1} p LEFT JOIN (
           |    SELECT a.c, u.dim,
           |      ${ratioScaledSignedSql("sum(CAST(u.u AS HUGEINT))",
                  "count(*)", 0)} AS m
           |    FROM a$t a JOIN u USING (vec_id) GROUP BY 1, 2) nc
           |    ON nc.c = p.c AND nc.dim = p.dim)""".stripMargin
      s"""WITH u AS (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
         |      AS BIGINT) AS u
         |  FROM embeddings),
         |sd AS (SELECT vec_id, CAST(c AS BIGINT) AS c FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
         |    FROM embeddings) WHERE c < 4),
         |c0 AS (SELECT sd.c, u.dim, u.u AS ce6
         |  FROM sd JOIN u USING (vec_id)),
         |${(1 to 3).map(iter).mkString(",\n")},
         |d4 AS (SELECT u.vec_id, c.c,
         |    sum(CAST(u.u - c.ce6 AS HUGEINT) * (u.u - c.ce6)) AS d2
         |  FROM u JOIN c3 c USING (dim) GROUP BY 1, 2),
         |r AS (SELECT vec_id, c, d2, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d4),
         |ab AS (SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN c END) AS c,
         |    max(CASE WHEN rn = 1 THEN d2 END) AS a2,
         |    max(CASE WHEN rn = 2 THEN d2 END) AS b2
         |  FROM r WHERE rn <= 2 GROUP BY 1),
         |s AS (SELECT c,
         |    ${ratioScaledSql("b2 - a2", "b2", 6)} AS s_e6
         |  FROM ab)
         |SELECT c, count(*) AS n_members,
         |  ${ratioScaledSignedSql("sum(s_e6)", "count(*)", 0)}
         |    AS mean_sil_e6
         |FROM s GROUP BY 1""".stripMargin
    }),

    // ---- multimodal: SCENE-CUT detection over 4-frame Y4M videos —
    // q245's curation consumer: per-frame luma deltas, cut when
    // |Δ| ≥ 1/20 of the frame's full-scale luma budget (4·2·255).
    // Lowercase ASCII words sit in a ~26-value byte band, so an
    // 8-byte Y plane's sum moves by ~tens between frames — the 102
    // threshold (measured: |Δ| median 37, p75 77 on this corpus)
    // keeps cuts the minority class while firing ~140 times.
    Query("q246_scene_cuts", (s, dir) => {
      val hdr = "YUV4MPEG2 W4 H2 F25:1 C420\n".getBytes("US-ASCII")
      val fm = "FRAME\n".getBytes("US-ASCII")
      val vids = T(s, dir, "documents")
        .filter(length(col("text")) >= 48 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat((lit(hdr) +: (0 until 4).flatMap(f => Seq(lit(fm),
            substring(col("text"), 1 + 12 * f, 12).cast("binary")))): _*)
            .as("payload"))
      Multimodal.sceneChanges(vids, "doc_id", "payload",
        thrNum = 1L, thrDen = 20L)
    },
      // q246: q245's per-frame Y sums over 4 frames + a lag window;
      // cut = |Δ|·20 ≥ 2040 (1/20 of 4·2·255), frame 0 never a cut
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 48 AND strlen(text) = length(text)),
        |f AS (SELECT doc_id, text, CAST(fi AS INTEGER) AS frame_idx,
        |    CAST(1 + 12 * fi AS INTEGER) AS o
        |  FROM d, (SELECT unnest(range(0, 4)) AS fi) idx),
        |s AS (SELECT doc_id, frame_idx,
        |    CAST((SELECT sum(ascii(substring(text, CAST(o + i AS INTEGER), 1)))
        |      FROM range(0, 8) t(i)) AS BIGINT) AS y_sum
        |  FROM f),
        |l AS (SELECT doc_id, frame_idx, y_sum,
        |    y_sum - lag(y_sum) OVER (PARTITION BY doc_id
        |      ORDER BY frame_idx) AS delta
        |  FROM s)
        |SELECT doc_id, frame_idx, y_sum, delta,
        |  coalesce(abs(delta) * 20 >= 2040, false) AS is_cut
        |FROM l""".stripMargin),

    // ---- multimodal: REAL Y4M video frame demux (q193's video
    // sibling — the container synthesized by construction from ASCII
    // document bytes, the demux + per-frame luma/chroma accounting
    // real). 4x2 C420 → 8 Y bytes + 4 chroma bytes per frame, two
    // frames per doc from text[1..12] and text[13..24].
    Query("q245_video_frames", (s, dir) => {
      val hdr = "YUV4MPEG2 W4 H2 F25:1 C420\n".getBytes("US-ASCII")
      val fm = "FRAME\n".getBytes("US-ASCII")
      val vids = T(s, dir, "documents")
        .filter(length(col("text")) >= 24 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit(hdr), lit(fm),
            substring(col("text"), 1, 12).cast("binary"), lit(fm),
            substring(col("text"), 13, 12).cast("binary")).as("payload"))
      Multimodal.y4mFrameStats(vids, "doc_id", "payload")
    },
      // q245: the Y4M payload is document bytes by construction — frame
      // f's Y plane is text[1+12f .. 8+12f], chroma text[9+12f .. 12+12f]
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 24 AND strlen(text) = length(text)),
        |f AS (SELECT doc_id, text, CAST(fi AS INTEGER) AS frame_idx,
        |    CAST(1 + 12 * fi AS INTEGER) AS o
        |  FROM d, (SELECT unnest(range(0, 2)) AS fi) idx)
        |SELECT doc_id, frame_idx,
        |  CAST(4 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
        |  CAST((SELECT sum(ascii(substring(text, CAST(o + i AS INTEGER), 1)))
        |    FROM range(0, 8) t(i)) AS BIGINT) AS y_sum,
        |  CAST((SELECT sum(ascii(substring(text, CAST(o + 8 + i AS INTEGER), 1)))
        |    FROM range(0, 4) t(i)) AS BIGINT) AS c_sum
        |FROM f""".stripMargin),

    // ---- embeddings: pairwise CENTROID similarity matrix — the
    // semantic twin of q208's lexical TV matrix over the q130
    // prototypes; signed cos² as the exact rational carrying cosine's
    // ordering (sqrt stays out of the gate)
    Query("q214_centroid_similarity", (s, dir) =>
      Prototypes.centroidSimilarity(T(s, dir, "embeddings"),
        "embedding", "label"),
      // q214: the q130 prototype CTE + the same pair algebra
      Prototypes.centroidSimilaritySql("embeddings", "embedding",
        "label")),

    // ---- multimodal: REAL compressed-image decode, gated by
    // construction (round-13) — one deterministic PNG per doc_id
    // (generator formula + dims mirrored in the oracle), encoded AND
    // decoded through the JDK's javax.imageio codec (PNG is lossless →
    // decoded pixels equal the generator exactly), then resampled to
    // 5x3 via the integer nearest-neighbor path and re-decoded from
    // the PPM re-encode. All statistics are integers; the oracle
    // enumerates the same pixels straight from the formula (the q27
    // PPM pattern, now exercising a real compressed codec end to end).
    Query("q193_image_decode", (s, dir) => {
      val png = Multimodal.synthPngPayloads(
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      val dec = Multimodal.pixelFeatures(png, "doc_id", "payload")
      val rs = Multimodal.resize(png, "doc_id", "payload", 5, 3)
      val rsStats = Multimodal.pixelFeatures(rs, "doc_id", "payload")
        .select(col("doc_id"), col("px_sum").as("rs_sum"),
          col("px_min").as("rs_min"), col("px_max").as("rs_max"))
      dec.join(rsStats, Seq("doc_id"))
    },
      // q193: the engine synthesizes + ImageIO-encodes + ImageIO-decodes
      // real PNGs; the oracle never touches bytes — it enumerates the
      // SAME pixels from the shared generator formula (synthChannel /
      // synthDims mirrored verbatim) because lossless PNG makes
      // decode(encode(pixels)) == pixels by construction. Resize mirrors
      // the integer nearest-neighbor source index ((x*w)//5, (y*h)//3).
      """WITH d AS (SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INTEGER) AS w,
        |    CAST(4 + doc_id % 11 AS INTEGER) AS h
        |  FROM documents),
        |px AS (SELECT d.doc_id,
        |    ((d.doc_id % 100003) * 31 + x.i * 7 + y.i * 13 + c.i * 97)
        |      % 256 AS v
        |  FROM d,
        |    (SELECT unnest(range(0, 16)) AS i) x,
        |    (SELECT unnest(range(0, 14)) AS i) y,
        |    (SELECT unnest(range(0, 3)) AS i) c
        |  WHERE x.i < d.w AND y.i < d.h),
        |s AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum,
        |    CAST(min(v) AS INTEGER) AS px_min,
        |    CAST(max(v) AS INTEGER) AS px_max
        |  FROM px GROUP BY 1),
        |rpx AS (SELECT d.doc_id,
        |    ((d.doc_id % 100003) * 31 + ((x.i * d.w) // 5) * 7
        |      + ((y.i * d.h) // 3) * 13 + c.i * 97) % 256 AS v
        |  FROM d,
        |    (SELECT unnest(range(0, 5)) AS i) x,
        |    (SELECT unnest(range(0, 3)) AS i) y,
        |    (SELECT unnest(range(0, 3)) AS i) c),
        |r AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS rs_sum,
        |    CAST(min(v) AS INTEGER) AS rs_min,
        |    CAST(max(v) AS INTEGER) AS rs_max
        |  FROM rpx GROUP BY 1)
        |SELECT d.doc_id, 'png' AS px_format, d.w AS px_w, d.h AS px_h,
        |  s.px_sum, s.px_min, s.px_max, r.rs_sum, r.rs_min, r.rs_max
        |FROM d JOIN s USING (doc_id) JOIN r USING (doc_id)""".stripMargin),

    Query("q191_cluster_size_histogram", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cc = stagedNearDupComponents(s, dir)
      emb.select(col("vec_id"))
        .join(cc, col("vec_id") === col("node"), "left")
        .select(coalesce(col("component"), col("vec_id")).as("rep"))
        .groupBy(col("rep")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    },
      // q191: the recursive component CTE over the mirrored-LSH edges,
      // sizes (singletons via left join), then the size histogram
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node),
         |sz AS (SELECT coalesce(cc.component, emb.vec_id) AS rep,
         |    count(*) AS s
         |  FROM embeddings emb LEFT JOIN cc ON cc.node = emb.vec_id
         |  GROUP BY 1)
         |SELECT s AS cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin),

    // ---- similarity: exact brute-force cosine top-k
    Query("q25_ann_bruteforce", (s, dir) =>
      SimilaritySearch.bruteForceTopK(T(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 10), annTop10Sql()),

    // ---- similarity: LSH-bucketed ANN (approximate: rows-only),
    // declared through the amortized index/probe split: lshIndex keys
    // the corpus ONCE (the expensive side — a serving path persists or
    // writes it), lshProbe answers each query with a broadcast semi-join.
    // bands=8192: the synthetic corpus's true top-10 sit at cos
    // 0.28-0.41 — the random-noise tail, LSH's hardest regime — so band
    // count is sized up to hold per-neighbor recall ~0.9 there.
    // Graduated from rows-only to hash-gated (the q64/q70 discipline):
    // the output is the EXACT top-10 surface (SQL-reproducible) plus a
    // recall_ok boolean measured against the LSH probe's answer — at
    // the pinned hyperplanes both sides are deterministic, so a recall
    // collapse (band-shift bug, broken signature) flips the boolean
    // and fails the hash gate. Threshold mirrors the q40 audit (>= 5
    // of 10; measured 9/10 at both gate SFs).
    Query("q26_ann_lsh", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val index = SimilaritySearch.lshIndex(emb,
        "vec_id", "embedding", bands = 8192)
      val lsh = SimilaritySearch.lshProbe(index, emb,
        "vec_id", "embedding", queryId = 0L, k = 10)
      // persisted: referenced by the overlap agg AND the final select —
      // without the cache the brute-force kernel runs twice
      val exact = graft.Caches.register(SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queryId = 0L, k = 10).persist())
      val overlap = exact
        .join(lsh.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      exact.crossJoin(broadcast(overlap))
        .select(col("vec_id"), col("cosine"),
          (col("n_overlap") >= 5).as("recall_ok"))
    },
      // Graduated approximate gates (q64/q70 discipline): the rows are
      // the exact surfaces above; the guarantee booleans are literal true
      // on the oracle side — a recall collapse or invented pair flips the
      // engine's boolean and fails the hash gate.
      annTop10Sql(",\n  true AS recall_ok")),

    // ---- multimodal: binary payload + per-partition decode. The
    // header-metadata surface is the original gate; the px_* columns
    // exercise the REAL pixel decode end-to-end — the first 96 text
    // bytes wrapped in a valid PPM-P6 container, so decodeImagePixels
    // genuinely parses a header and decodes pixel bytes whose integer
    // statistics the oracle reproduces from the raw characters.
    Query("q27_multimodal_meta", (s, dir) => {
      val docs = T(s, dir, "documents")
      val withPayload = docs
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val meta = Multimodal.extractFeatures(withPayload, "doc_id", "payload")
      // pure-ASCII rows only (octet_length == char_length): the oracle
      // reconstructs the pixel stats from CHARACTER codes, so a
      // non-ASCII doc would diverge bytes-vs-codepoints — the q79
      // by-construction pin applied here too
      val ppm = docs.filter(length(col("text")) >= 96 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          concat(lit("P6\n8 4\n255\n".getBytes("UTF-8")),
            substring(col("text"), 1, 96).cast("binary")).as("payload"))
      val px = Multimodal.pixelFeatures(ppm, "doc_id", "payload")
      meta.join(px, Seq("doc_id"), "left")
    },
      // q27: payloads are ASCII text cast to binary, so of the real
      // header parsers only the GIF branch is reachable (PNG's 0x89 and
      // JPEG's 0xFF lead bytes cannot begin a UTF-8 string) — the oracle
      // mirrors the GIF detection + little-endian dims exactly and emits
      // unknown/NULL otherwise, the same contract parseImageHeader
      // fulfills on arbitrary bytes.
      // q27: header metadata as before, plus the real-pixel-decode px_*
      // columns — the engine wraps the first 96 chars in a PPM container
      // and decodes them; the oracle computes the same channel-byte
      // statistics directly from the characters (ASCII corpora: char
      // code == byte value).
      """WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
        |  ascii(substring(text, 1, 1)) AS first_byte,
        |  ascii(substring(text, length(text), 1)) AS last_byte,
        |  CASE WHEN strlen(text) >= 13
        |    AND substring(text, 1, 6) IN ('GIF87a', 'GIF89a')
        |    THEN 'gif' ELSE 'unknown' END AS format,
        |  CASE WHEN strlen(text) >= 13
        |    AND substring(text, 1, 6) IN ('GIF87a', 'GIF89a')
        |    THEN CAST(ascii(substring(text, 7, 1))
        |      + 256 * ascii(substring(text, 8, 1)) AS INTEGER)
        |    ELSE CAST(NULL AS INTEGER) END AS img_width,
        |  CASE WHEN strlen(text) >= 13
        |    AND substring(text, 1, 6) IN ('GIF87a', 'GIF89a')
        |    THEN CAST(ascii(substring(text, 9, 1))
        |      + 256 * ascii(substring(text, 10, 1)) AS INTEGER)
        |    ELSE CAST(NULL AS INTEGER) END AS img_height
        |FROM documents),
        |pxv AS (SELECT doc_id,
        |    ascii(substring(text, CAST(idx.i AS INTEGER), 1)) AS b
        |  FROM documents, (SELECT unnest(range(1, 97)) AS i) idx
        |  WHERE length(text) >= 96 AND strlen(text) = length(text)),
        |pxs AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS px_sum,
        |    CAST(min(b) AS INTEGER) AS px_min,
        |    CAST(max(b) AS INTEGER) AS px_max
        |  FROM pxv GROUP BY 1)
        |SELECT m.*,
        |  CASE WHEN pxs.doc_id IS NOT NULL THEN 'ppm' END AS px_format,
        |  CASE WHEN pxs.doc_id IS NOT NULL
        |    THEN CAST(8 AS INTEGER) END AS px_w,
        |  CASE WHEN pxs.doc_id IS NOT NULL
        |    THEN CAST(4 AS INTEGER) END AS px_h,
        |  pxs.px_sum, pxs.px_min, pxs.px_max
        |FROM m LEFT JOIN pxs ON m.doc_id = pxs.doc_id""".stripMargin),

    // ---- similarity: IVF coarse-quantizer ANN. Graduated to
    // hash-gated like q26: exact top-10 surface + recall_ok vs the IVF
    // probe (>= 4 of 10, the q40 threshold — 2 of 8 cells probed).
    Query("q31_ann_ivf", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val ivf = SimilaritySearch.ivfTopK(emb,
        "vec_id", "embedding", queryId = 0L, k = 10)
      // persisted for the same two-reference reason as q26
      val exact = graft.Caches.register(SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queryId = 0L, k = 10).persist())
      val overlap = exact
        .join(ivf.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      exact.crossJoin(broadcast(overlap))
        .select(col("vec_id"), col("cosine"),
          (col("n_overlap") >= 4).as("recall_ok"))
    }, annTop10Sql(",\n  true AS recall_ok")),

    // ---- retrieval: sliding-window chunking — 16-token windows,
    // 4-token overlap (stride 12); short tail, whole-doc chunk for
    // short docs, closed-form chunk count (no shuffle anywhere)
    Query("q57_chunking", (s, dir) =>
      Chunking.slidingWindows(T(s, dir, "documents"), "doc_id", "text",
        size = 16, overlap = 4), {
      // stride 12 = size 16 − overlap 4; integer floor-division on a
      // non-negative numerator both sides (// in DuckDB, div in Spark)
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents
         |  WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nt,
         |    greatest((greatest(CAST(len(ws) AS BIGINT) - 4, 0) + 11) // 12, 1) AS k
         |  FROM t WHERE len(ws) > 0),
         |c AS (SELECT doc_id, ws, nt, unnest(range(0, k)) AS chunk_idx FROM s)
         |SELECT doc_id,
         |  CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(chunk_idx * 12 AS BIGINT) AS start_tok,
         |  CAST(least(16, nt - chunk_idx * 12) AS BIGINT) AS n_tok,
         |  array_to_string(ws[chunk_idx * 12 + 1 : chunk_idx * 12 + least(16, nt - chunk_idx * 12)], ' ') AS chunk_text
         |FROM c""".stripMargin
    }),

    // ---- retrieval: BM25-family term relevance (rational idf — the
    // engine-exact variant; see TermRelevance scaladoc)
    Query("q54_term_relevance", (s, dir) =>
      TermRelevance.bm25(T(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "join", "window")), {
      // Formula mirrored verbatim from TermRelevance.bm25 (k1=1.2,
      // b=0.75, rational idf — no transcendentals, so every double op
      // is IEEE-exact in both engines). Constants are interpolated from
      // the SAME Scala doubles the engine uses: "k1 + 1.0" computed in
      // Scala need not be the double the literal "2.2" parses to, but
      // Double.toString round-trips, so the rendered literal is
      // bit-identical. HUGEINT sums (DuckDB) cast exactly to double
      // below 2^53 — doc-length sums are far under that at any SF here.
      val k1 = 1.2; val b = 0.75
      val terms = Seq("spark", "join", "window")
      def tfCol(i: Int) = s"CAST(len(list_filter(ws, w -> w = '${terms(i)}')) AS BIGINT) AS tf$i"
      val norm = s"(${1.0 - b} + (($b * CAST(dl AS DOUBLE)) / " +
        "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
      def contrib(i: Int) =
        s"(((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
          s" * ((CAST(tf$i AS DOUBLE) * ${k1 + 1.0}) / (CAST(tf$i AS DOUBLE) + ($k1 * $norm))))"
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents
         |  WHERE text IS NOT NULL),
         |l AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
         |  ${terms.indices.map(tfCol).mkString(",\n  ")}
         |  FROM t),
         |g AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         |  ${terms.indices.map(i =>
              s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n  ")}
         |  FROM l)
         |SELECT doc_id, dl AS doc_len,
         |  CAST(${terms.indices.map(i =>
              s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_hit_terms,
         |  round(${terms.indices.map(contrib).mkString(" + ")}, 4) AS score
         |FROM l, g
         |WHERE ${terms.indices.map(i => s"tf$i").mkString(" + ")} > 0""".stripMargin
    }))
}
