package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators._
import OracleSql._
import Stages._

/** Deduplication: exact, n-gram, MinHash, SimHash, embedding and
  * perceptual-hash near-duplicates, substring and line dedup, and the
  * incremental (staged-index) forms.
  */
private[graft] object DedupQueries {

  /** Shared q30/q62 gate shape: the exact near-dup pair surface plus
    * in-engine recall/precision guarantee booleans, closed over any
    * approximate pair operator. Recall gates
    * `n_found·recallDen >= n_exact·recallNum` (integer
    * cross-multiplication, i.e. recall >= recallNum/recallDen);
    * precision gates `approx ⊆ exact` exactly. A SENTINEL row
    * (id_a = id_b = −1, null cosine) always carries the booleans, so
    * the precision gate cannot pass vacuously on a corpus whose exact
    * surface is empty — without it, invented approximate pairs over an
    * empty exact set would emit zero rows and hash-match the empty
    * oracle. Both kernels persist: each is referenced by several
    * aggregate branches, and the exact side is the O(n²·d) cost
    * center. */
  private def neardupGuaranteeGate(s: SparkSession, dir: String,
      approx: DataFrame => DataFrame,
      recallNum: Long, recallDen: Long): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val exact = graft.Caches.register(
      SimilaritySearch.embeddingNearDupExact(emb,
        "vec_id", "embedding", threshold = 0.45).persist())
    val ap = graft.Caches.register(
      approx(emb).select(col("id_a"), col("id_b")).persist())
    val stats = exact.join(ap, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(ap.join(exact.select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_invented")))
    val recallOk =
      (col("n_found") * recallDen >= col("n_exact") * recallNum)
        .as("recall_ok")
    val precisionOk = (col("n_invented") === 0L).as("precision_ok")
    exact.crossJoin(broadcast(stats))
      .select(col("id_a"), col("id_b"), col("cosine"), recallOk, precisionOk)
      .unionByName(stats.select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
        lit(null).cast("double").as("cosine"), recallOk, precisionOk))
  }

  /** The q71 repeated-span pipeline's CTEs (normalize → 20-char gram
    * hashes → corpus-duplicated grams → per-doc span merge), shared by
    * the q71 coverage and q87 trim oracles. Exposes `t(doc_id, tn)`
    * and `spans(doc_id, sp, a, b)`. */
  private val repeatedSpanCtes: String =
    """t AS (SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS tn
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    substring(md5(substr(tn, CAST(i AS INTEGER), 20)), 1, 16) AS h
      |  FROM t, UNNEST(range(1, length(tn) - 18)) AS u(i)
      |  WHERE length(tn) >= 20),
      |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
      |f AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
      |s AS (SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER w <= 20 THEN 0 ELSE 1 END AS nw
      |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |s2 AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sp FROM s),
      |spans AS (SELECT doc_id, sp, min(pos) AS a, max(pos) + 19 AS b
      |  FROM s2 GROUP BY 1, 2)""".stripMargin

  /** Exact embedding near-dup pair oracle (q29's query), parameterized
    * like [[annTop10Sql]] for the graduated q30/q62 gates. */
  private def embPairsSql(extra: String = ""): String =
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |n AS (SELECT vec_id, sum(x * x) AS nn FROM ex GROUP BY 1),
       |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
       |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 4) AS cosine$extra
       |FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
       |WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.45""".stripMargin

  /** The q216/q225 shared oracle: variant-PNG dHash near-dup — gray
    * levels from the mirrored generator at the resampled indices, the
    * dHash bit table, band candidates (optionally bucket-capped, the
    * q225 skew guard), exact-hamming verify. */
  private def dhashNearDupOracleSql(bucketCap: Option[Long]): String = {
    val candSrc = bucketCap match {
      case None => "bands"
      case Some(cap) =>
        s"""(SELECT b.* FROM bands b JOIN (SELECT band, bkey
           |    FROM bands GROUP BY band, bkey
           |    HAVING count(*) <= $cap) ok
           |  USING (band, bkey))""".stripMargin
    }
    s"""WITH dim AS (SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v,
       |    4 + (doc_id // 4) % 13 AS w, 4 + (doc_id // 4) % 11 AS h
       |  FROM documents),
       |gray AS (SELECT d.doc_id, x.i AS x, y.i AS y,
       |    sum(CASE WHEN ((x.i * d.w) // 9) = 0
       |        AND ((y.i * d.h) // 8) = 0
       |      THEN (((d.base % 100003) * 31 + c.i * 97) % 256
       |        + d.v * 40) % 256
       |      ELSE ((d.base % 100003) * 31 + ((x.i * d.w) // 9) * 7
       |        + ((y.i * d.h) // 8) * 13 + c.i * 97) % 256 END) AS g
       |  FROM dim d,
       |    (SELECT unnest(range(0, 9)) AS i) x,
       |    (SELECT unnest(range(0, 8)) AS i) y,
       |    (SELECT unnest(range(0, 3)) AS i) c
       |  GROUP BY 1, 2, 3),
       |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS idx,
       |    CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
       |  FROM gray a JOIN gray b ON b.doc_id = a.doc_id AND b.y = a.y
       |    AND b.x = a.x + 1
       |  WHERE a.x < 8),
       |bands AS (SELECT doc_id, idx // 16 AS band,
       |    sum(bit << (idx % 16)) AS bkey
       |  FROM bits GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM $candSrc a JOIN $candSrc b ON a.band = b.band
       |    AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |ham AS (SELECT c.doc_a, c.doc_b,
       |    sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hamming
       |  FROM cand c
       |  JOIN bits ba ON ba.doc_id = c.doc_a
       |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.idx = ba.idx
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM ham WHERE hamming <= 3""".stripMargin
  }

  /** Batch-probe variant: candidate pairs need >= 1 endpoint
    * satisfying `batchPred` (over `a.vec_id`) — mirrors
    * [[graft.operators.SimilaritySearch.incrementalEmbeddingNearDup]]'s
    * batch-keys × all-keys bucket join. */
  private def lshProbeCtes(threshold: String, batchPred: String): String =
    s"""$lshKeyCtes,
       |lsh_cand AS (SELECT least(a.vec_id, b.vec_id) AS id_a,
       |    greatest(a.vec_id, b.vec_id) AS id_b
       |  FROM lsh_keys a JOIN lsh_keys b ON b.band = a.band
       |    AND b.bkey = a.bkey AND b.vec_id <> a.vec_id
       |  WHERE $batchPred
       |  GROUP BY 1, 2),
       |${lshVerifyCtes(threshold)}""".stripMargin

  private val jaccardSql: String =
    s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])) AS shingle
       |  FROM t WHERE len(ws) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ${graft.functions.ExactRound.ratioSql("inter", "sa.n_sh + sb.n_sh - inter", 4)} AS jaccard
       |FROM pairs
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5""".stripMargin

  /** q73: the exact-Jaccard pair set restricted to pairs with at least
    * one endpoint in the hash-sampled batch (md5 prefix < 0x1a =
    * rate256 26, mirroring Sampling.hashSample). */
  private val incrementalJaccardSql: String =
    s"""WITH nw AS (SELECT doc_id FROM documents
       |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'),
       |t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])) AS shingle
       |  FROM t WHERE len(ws) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ${graft.functions.ExactRound.ratioSql("inter", "sa.n_sh + sb.n_sh - inter", 4)} AS jaccard
       |FROM pairs
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
       |  AND (doc_a IN (SELECT doc_id FROM nw)
       |    OR doc_b IN (SELECT doc_id FROM nw))""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- winnowing fingerprints (rolling-hash k-grams, window minima)
    Query("q33_winnowing", (s, dir) =>
      TextAnalysis.winnowingFingerprints(T(s, dir, "documents"),
        "doc_id", "text", k = 8, w = 4),
      s"""WITH t AS (SELECT doc_id, $wsNorm AS tn FROM documents
         |    WHERE length($wsNorm) >= 8),
         |g AS (SELECT doc_id, i,
         |    substr(md5(substr(tn, CAST(i AS INTEGER), 8)), 1, 16) AS h
         |  FROM t, unnest(range(1, length(tn) - 6)) AS r(i))
         |SELECT DISTINCT doc_id,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
         |FROM g""".stripMargin),

    // ---- dedup: exact content hash
    Query("q21_dedup_exact", (s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text"),
      s"""SELECT md5($wsNorm) AS fp, min(doc_id) AS rep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1""".stripMargin),

    // ---- dedup: exact n-gram Jaccard near-dup pairs
    Query("q22_jaccard_pairs", (s, dir) =>
      Dedup.jaccardNearDup(T(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5), jaccardSql),

    // ---- dedup: MinHash+LSH candidates, verified — r=2/b=32 gives
    // recall ≈ 1-(1-s²)³² ≈ 0.99995 at s=0.5, so it must reproduce the
    // exact-Jaccard oracle. Probes the STAGED corpus index (shared with
    // q73): the signature build happens once per corpus, not per run.
    Query("q23_minhash_pairs", (s, dir) =>
      Dedup.minhashLSHFromIndex(stagedDocsIndex(s, dir), threshold = 0.5),
      jaccardSql),

    // ---- dedup: asymmetric containment pairs — |A∩B|/min(|A|,|B|)
    // catches subset-style duplication Jaccard underweights (short doc
    // embedded in a long one); both directed containments ship as
    // e4-scaled longs, threshold by integer cross-multiplication
    Query("q95_containment_pairs", (s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), "doc_id", "text",
        n = 3, thrNum = 6, thrDen = 10), {
      // q95: same inverted-index pair reduction as the Jaccard oracle;
      // the threshold is the integer cross-multiplication and the two
      // directed containments are e4-scaled integers (HUGEINT-exact)
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |  ${ratioScaledSql("inter", "sa.n_sh", 4)} AS cont_a_e4,
         |  ${ratioScaledSql("inter", "sb.n_sh", 4)} AS cont_b_e4
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE inter * 10 >= 6 * least(sa.n_sh, sb.n_sh)""".stripMargin
    }),

    // ---- dedup: line-level CROSS-document dedup (the CCNet/RefinedWeb
    // paragraph stage) — 10-word units appearing in more than one doc
    // are boilerplate and are cut from every carrier; complements q21
    // (whole-doc) and q71/q87 (within-doc spans)
    Query("q103_line_dedup", (s, dir) =>
      LineDedup.trimReport(T(s, dir, "documents"), "doc_id", "text",
        lineWords = 10, maxDocFreq = 1L),
      // q103: 10-word line segmentation, doc-frequency over DISTINCT
      // carrying docs, trim lines seen in more than one doc, stitch
      // survivors in segment order (string_agg ORDER BY mirrors the
      // sort_array reassembly). Spark counts frequencies on the
      // md5-prefix64 line digest (8-byte shuffle keys); the oracle
      // groups by line TEXT — equal absent 64-bit digest collisions.
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |wx AS (SELECT doc_id, generate_subscripts(ws, 1) AS i,
         |    unnest(ws) AS w FROM t),
         |lines AS (SELECT doc_id, (i - 1) // 10 AS seg,
         |    string_agg(w, ' ' ORDER BY i) AS line
         |  FROM wx GROUP BY 1, 2),
         |freq AS (SELECT line, count(DISTINCT doc_id) AS n_docs
         |  FROM lines GROUP BY 1),
         |kept AS (SELECT l.doc_id, count(*) AS n_kept,
         |    string_agg(l.line, ' ' ORDER BY l.seg) AS text_trimmed
         |  FROM lines l JOIN freq f USING (line)
         |  WHERE f.n_docs <= 1 GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
         |SELECT d.doc_id, coalesce(tot.n_lines, 0) AS n_lines,
         |  coalesce(kept.n_kept, 0) AS n_kept,
         |  coalesce(kept.text_trimmed, '') AS text_trimmed
         |FROM documents d
         |LEFT JOIN tot ON tot.doc_id = d.doc_id
         |LEFT JOIN kept ON kept.doc_id = d.doc_id""".stripMargin),

    // ---- dedup: prefix-filtered EXACT Jaccard join (AllPairs/PPJoin
    // family) — the zero-false-negative alternative to q23's MinHash:
    // same output as q22 (same oracle gates both), but candidates come
    // from rarest-first shingle prefixes instead of signatures
    Query("q104_jaccard_prefix_join", (s, dir) =>
      Dedup.prefixFilteredJaccard(T(s, dir, "documents"), "doc_id",
        "text", n = 3, thrNum = 1L, thrDen = 2L),
      // q104: EXACT output contract with q22 — one oracle gates both the
      // posting-join and the prefix-filtered plan (a prefix-filter bug =
      // a missing pair = hash mismatch)
      jaccardSql),

    // ---- dedup: content-defined chunking (rsync/LBFS boundaries on
    // the md5-prefix64 of an 8-char rolling window, expected chunk
    // 32 chars) — the chunker whose chunk identities SURVIVE edits,
    // so chunk-level dedup across near-identical docs fires
    Query("q112_cdc_chunks", (s, dir) =>
      Chunking.contentDefinedChunks(T(s, dir, "documents"),
        "doc_id", "text", k = 8, maskBits = 5), {
      // q112: boundary = low-5-bits-zero of the window md5 prefix (the
      // last two hex nibbles mod 32 — the same bits Md5Prefix64's long
      // carries lowest); spans via lag, tail and whole-doc rows appended
      val bmask = s"(${nibSql("h16", 15)} * 16 + ${nibSql("h16", 16)}) % 32 = 0"
      s"""WITH t AS (SELECT doc_id, $wsNorm AS tn FROM documents),
         |b AS (SELECT doc_id, i
         |  FROM (SELECT doc_id, i,
         |      substr(md5(substr(tn, CAST(i - 7 AS INTEGER), 8)), 1, 16) AS h16
         |    FROM t, unnest(range(8, length(tn) + 1)) AS r(i))
         |  WHERE $bmask),
         |spans AS (SELECT doc_id,
         |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 1, 1)
         |      AS sa,
         |    i AS sb FROM b),
         |lastb AS (SELECT doc_id, max(i) AS e FROM b GROUP BY 1),
         |tails AS (SELECT t.doc_id, l.e + 1 AS sa, length(t.tn) AS sb
         |  FROM t JOIN lastb l USING (doc_id) WHERE length(t.tn) > l.e),
         |wholes AS (SELECT t.doc_id, 1 AS sa, length(t.tn) AS sb
         |  FROM t LEFT JOIN lastb l USING (doc_id)
         |  WHERE l.doc_id IS NULL AND length(t.tn) > 0),
         |alls AS (SELECT * FROM spans UNION ALL SELECT * FROM tails
         |  UNION ALL SELECT * FROM wholes)
         |SELECT a.doc_id, CAST(a.sa AS BIGINT) AS sa,
         |  CAST(a.sb AS BIGINT) AS sb,
         |  substring(t.tn, CAST(a.sa AS INTEGER),
         |    CAST(a.sb - a.sa + 1 AS INTEGER)) AS chunk_text
         |FROM alls a JOIN t USING (doc_id)""".stripMargin
    }),

    // ---- dedup: corpus duplicate-gram mass — the one-number "how
    // much would near-dedup touch?" pressure gauge
    Query("q167_dup_gram_share", (s, dir) =>
      TextAnalysis.dupGramShare(T(s, dir, "documents"), "doc_id",
        "text", n = 3),
      // q167: q107's distinct-per-doc 3-gram stream, document-frequency
      // counts, 1-row conditional sums
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |     for i in range(1, len(ws)-1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |f AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY 1)
         |SELECT count(*) AS n_grams_distinct,
         |  CAST(sum(dfc) AS BIGINT) AS n_instances,
         |  CAST(sum(CASE WHEN dfc >= 2 THEN dfc ELSE 0 END) AS BIGINT)
         |    AS n_dup_instances,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "sum(CASE WHEN dfc >= 2 THEN dfc ELSE 0 END)",
              "sum(dfc)", 6)} AS dup_share_e6
         |FROM f""".stripMargin),

    // ---- dedup: INCREMENTAL embedding near-dup against a STAGED
    // band-key store (q73's append-only shape for the vector path):
    // the standing corpus (vec_id % 17 != 0) signs once into
    // target/graft-stage; each run re-signs only the probe batch,
    // broadcasts its keys against the stored table, and
    // cosine-verifies candidate pairs only. Oracle mirrors the
    // bipartite bucket join via the same inlined plane masks.
    Query("q179_incremental_embedding_neardup", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val standing = emb.filter(pmod(col("vec_id"), lit(17)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(17)) === 0)
      val stamp = Dedup.sourceStamp(s, s"$dir/embeddings.parquet")
      val keys = SimilaritySearch.stagedBandKeys(standing, "vec_id",
        "embedding",
        s"$stageRoot/embkeys-$stamp-b$lshBaseBits-n$lshBands-r$lshBitsPerBand",
        lshBaseBits, lshBands, lshBitsPerBand)
      SimilaritySearch.incrementalEmbeddingNearDup(keys, emb, batch,
        "vec_id", "embedding", threshold = 0.3,
        lshBaseBits, lshBands, lshBitsPerBand)
    },
      // q179: the mirrored bipartite bucket join — candidates need a
      // batch endpoint (a.vec_id % 17 = 0), then the same candidate-
      // restricted cosine verify at 0.3
      s"""WITH ${lshProbeCtes("0.3", "a.vec_id % 17 = 0")}
         |SELECT id_a, id_b, cosine FROM p""".stripMargin),

    // ---- dedup: cluster-SIZE histogram — how big near-dup clusters
    // run (size -> n_clusters, singletons included): the one-glance
    // "is dedup facing pairs or families?" gauge over the mirrored-
    // LSH component structure
    // ---- mixing: proportional INTERLEAVE order — the materialized
    // low-discrepancy training schedule ((2r−1)/2n positions; any
    // prefix holds ≈ the corpus mix); rank via the range-partitioned
    // ScalableRank path, never a per-source window partition
    Query("q211_mixture_order", (s, dir) =>
      Apportion.interleaveOrder(T(s, dir, "documents"), "doc_id",
        "source"),
      // q211: same rank order (md5 then id), same e12 position scaling
      Apportion.interleaveOrderSql("documents", "doc_id", "source")),

    // ---- scrape ingest: URL canonicalization dedup — synthesized
    // feed-link variants (upper-cased www+port / trailing-slash+utm+
    // fragment / ref-tracking) collapse to one canonical article URL;
    // group sizes + representative doc per canonical link. Pure
    // regexp/array built-ins, no UDF; one groupBy shuffle.
    Query("q217_url_canonical_dedup", (s, dir) => {
      val docs = T(s, dir, "documents")
      import graft.functions.UrlCanon
      docs.select(col("doc_id"), UrlCanon.canonicalUrl(
          UrlCanon.synthUrl(col("doc_id"))).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    }, {
      // q217: the mirrored synth-URL variants through the same
      // canonicalization stages (fragment strip, scheme/host lowering,
      // default-port + www strip, trailing-slash strip, tracking-param
      // filter + param sort), then the dedup rollup
      import graft.functions.UrlCanon
      s"""WITH u AS (SELECT doc_id,
         |    ${UrlCanon.synthUrlSql("doc_id")} AS url
         |  FROM documents),
         |f AS (SELECT doc_id,
         |    regexp_replace(url, '#.*', '') AS nf FROM u),
         |p AS (SELECT doc_id,
         |    lower(regexp_extract(nf,
         |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    lower(regexp_extract(nf,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
         |    regexp_replace(regexp_extract(nf,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1),
         |      '/+$$', '') AS path,
         |    list_sort(list_filter(
         |      string_split(regexp_extract(nf, '\\?(.*)$$', 1), '&'),
         |      q -> q <> '' AND NOT regexp_matches(q,
         |        '${UrlCanon.trackParamRe}'))) AS params
         |  FROM f),
         |c AS (SELECT doc_id, scheme || '://' ||
         |    regexp_replace(CASE
         |      WHEN scheme = 'https'
         |        THEN regexp_replace(hostport, ':443$$', '')
         |      WHEN scheme = 'http'
         |        THEN regexp_replace(hostport, ':80$$', '')
         |      ELSE hostport END, '^www\\.', '') || path ||
         |    CASE WHEN len(params) > 0
         |      THEN '?' || array_to_string(params, '&')
         |      ELSE '' END AS canonical_url
         |  FROM p)
         |SELECT canonical_url, count(*) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM c GROUP BY 1""".stripMargin
    }),

    // ---- multimodal × dedup: perceptual-hash near-duplicate images —
    // REAL ImageIO decode of synthesized variant PNGs (groups of 4
    // share a base, one perturbed source pixel), 9×8 dHash, then the
    // q24 multi-index banded-hamming join (4 bands, hamming ≤ 3)
    Query("q216_image_dhash_neardup", (s, dir) => {
      val png = Multimodal.synthVariantPngPayloads(
        T(s, dir, "documents").select(col("doc_id")), "doc_id",
        groupSize = 4)
      Dedup.simhashFromFingerprints(
        Multimodal.dhashFingerprints(png, "doc_id", "payload"),
        bands = 4, maxHamming = 3)
    },
      // q216: the oracle never touches bytes (the q193 contract) — it
      // re-derives gray levels from the mirrored variant generator at
      // the resampled source indices, rebuilds the dHash bit table, and
      // runs the SAME band-candidate + exact-hamming verify in SQL
      dhashNearDupOracleSql(None)),

    // ---- multimodal × dedup: the q216 surface through the BUCKET-
    // CAPPED banded join (the r13 probe's straggler lesson as a
    // first-class skew guard; cap 16 binds on the low-entropy bands)
    Query("q225_dhash_capped_bands", (s, dir) => {
      val png = Multimodal.synthVariantPngPayloads(
        T(s, dir, "documents").select(col("doc_id")), "doc_id",
        groupSize = 4)
      Dedup.simhashFromFingerprintsCapped(
        Multimodal.dhashFingerprints(png, "doc_id", "payload"),
        bands = 4, maxHamming = 3, maxBucket = 16L)
    },
      // q225: the identical dHash mirror with the bucket-size guard in
      // the candidate stage (band buckets > 16 drop before the join)
      dhashNearDupOracleSql(Some(16L))),

    // ---- dedup: cross-source duplication matrix — which sources
    // copy from which: the verified MinHash pair surface (staged
    // index, q23) rolled up to unordered source pairs with the exact
    // pair RATE (pairs / possible pairs; C(n,2) on the diagonal)
    Query("q226_cross_source_dup", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val pairs = Dedup.minhashLSHFromIndex(stagedDocsIndex(s, dir),
        threshold = 0.5).select(col("doc_a"), col("doc_b"))
      val srcMap = T(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val cnt = srcMap.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val m = pairs
        .join(srcMap.select(col("doc_id").as("doc_a"),
          col("source").as("sa__")), "doc_a")
        .join(srcMap.select(col("doc_id").as("doc_b"),
          col("source").as("sb__")), "doc_b")
        .select(least(col("sa__"), col("sb__")).as("source_a"),
          greatest(col("sa__"), col("sb__")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
      m.join(broadcast(cnt.select(col("source").as("source_a"),
          col("n").as("na__"))), "source_a")
        .join(broadcast(cnt.select(col("source").as("source_b"),
          col("n").as("nb__"))), "source_b")
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          graft.functions.ExactRound.ratioScaledBig(col("n_pairs"),
            when(col("source_a") === col("source_b"),
              call_function("div",
                d(col("na__")) * d(col("na__") - 1L), lit(2L))
                .cast("decimal(38,0)"))
              .otherwise(d(col("na__")) * d(col("nb__"))), 6)
            .as("rate_e6"))
    }, {
      // q226: the q23 exact-Jaccard pair mirror wrapped as a CTE, then
      // the source rollup with C(n,2)-diagonal pair-rate denominators
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH p2 AS ($jaccardSql),
         |s AS (SELECT doc_id, source FROM documents),
         |c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |m AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b,
         |    count(*) AS n_pairs
         |  FROM p2 JOIN s sa ON sa.doc_id = p2.doc_a
         |  JOIN s sb ON sb.doc_id = p2.doc_b
         |  GROUP BY 1, 2)
         |SELECT m.source_a, m.source_b, m.n_pairs,
         |  ${ratioScaledSql("m.n_pairs",
             "CASE WHEN m.source_a = m.source_b " +
               "THEN (CAST(ca.n AS HUGEINT) * (ca.n - 1)) // 2 " +
               "ELSE CAST(ca.n AS HUGEINT) * cb.n END", 6)} AS rate_e6
         |FROM m
         |JOIN c ca ON ca.source = m.source_a
         |JOIN c cb ON cb.source = m.source_b""".stripMargin
    }),

    // ---- dedup: SUBSTRING-level duplication coverage — per doc, the
    // exact fraction of tokens lying inside some 8-token span that
    // occurs more than once in the corpus (Lee et al. span dedup; the
    // partial-copy signal doc-level MinHash can't see). Union-of-
    // intervals sweep, all integer, e4 exact ratio.
    Query("q227_dup_span_coverage", (s, dir) =>
      Dedup.dupSpanCoverage(T(s, dir, "documents"), "doc_id", "text",
        k = 8), {
      // q227: positional 8-grams via a range lateral (1-based; the
      // engine's 0-based posexplode cancels — only aggregates export),
      // occurrence counts >= 2, then the identical running-max
      // union-of-intervals sweep
      import graft.functions.ExactRound.ratioScaledSql
      val k = 8
      val gramExpr = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |p AS (SELECT doc_id, ws, unnest(range(1, len(ws)-${k - 2})) AS i
         |  FROM t WHERE len(ws) >= $k),
         |g AS (SELECT doc_id, i AS pos, $gramExpr AS gram FROM p),
         |c AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY 1),
         |d AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)
         |  WHERE c.n_occ >= 2),
         |sw AS (SELECT doc_id, pos,
         |    max(pos + $k) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_end
         |  FROM d),
         |per AS (SELECT doc_id, count(*) AS n_dup_spans,
         |    sum(greatest(pos + $k -
         |      greatest(coalesce(prev_end, pos), pos), 0)) AS covered
         |  FROM sw GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |  CAST(coalesce(per.covered, 0) AS BIGINT) AS covered_tokens,
         |  ${ratioScaledSql("coalesce(per.covered, 0)", "len(t.ws)", 4)}
         |    AS dup_cov_e4
         |FROM t LEFT JOIN per ON per.doc_id = t.doc_id""".stripMargin
    }),

    // ---- dedup: SPAN REMOVAL — the q227 measurement as a transform:
    // every duplicated 8-gram span deleted except its first
    // (min (doc, pos)) occurrence; gate pins the RECONSTRUCTED kept
    // text bytes via md5, not just the accounting.
    Query("q232_span_removal", (s, dir) =>
      Dedup.removeDupSpans(T(s, dir, "documents"), "doc_id", "text",
        k = 8), {
      // q232: q227's positional grams + the keeper rule (row_number per
      // gram by (doc, pos)), then the same running-max sweep over
      // tokens ∪ removal-starts (removals sort first at equal pos) and
      // the per-doc reconstruction; 1-based positions cancel as in q227
      val k = 8
      val gramExpr = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |tok AS (SELECT doc_id, i AS pos, ws[i] AS w
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |    FROM t)),
         |p AS (SELECT doc_id, ws, unnest(range(1, len(ws)-${k - 2})) AS i
         |  FROM t WHERE len(ws) >= $k),
         |g AS (SELECT doc_id, i AS pos, $gramExpr AS gram FROM p),
         |c AS (SELECT gram, count(*) AS n FROM g GROUP BY 1),
         |dup AS (SELECT g.gram, g.doc_id, g.pos FROM g JOIN c
         |  USING (gram) WHERE c.n >= 2),
         |kp AS (SELECT gram, doc_id AS kd, pos AS kpos FROM (
         |    SELECT gram, doc_id, pos, row_number() OVER (
         |      PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM dup)
         |  WHERE rn = 1),
         |rem AS (SELECT d.doc_id, d.pos, d.pos + $k AS e
         |  FROM dup d JOIN kp USING (gram)
         |  WHERE NOT (d.doc_id = kp.kd AND d.pos = kp.kpos)),
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

    // ---- dedup: near-dup component SIZE HISTOGRAM — q47/q161's
    // components rolled to (size, n_components), singletons included
    // via the q161 coalesce convention; the "how clustered is the
    // duplication" card.
    Query("q272_component_sizes", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cc = stagedNearDupComponents(s, dir)
      emb.select(col("vec_id"))
        .join(cc, col("vec_id") === col("node"), "left")
        .select(coalesce(col("component"), col("vec_id")).as("rep"))
        .groupBy(col("rep")).agg(count(lit(1)).as("sz__"))
        .groupBy(col("sz__").as("size"))
        .agg(count(lit(1)).as("n_components"))
    },
      // q272: q161's recursive-CTE components + singleton coalesce,
      // rolled to the size histogram
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node),
         |sz AS (SELECT coalesce(cc.component, emb.vec_id) AS rep,
         |    count(*) AS csize
         |  FROM embeddings emb LEFT JOIN cc ON cc.node = emb.vec_id
         |  GROUP BY 1)
         |SELECT csize AS size, count(*) AS n_components
         |FROM sz GROUP BY 1""".stripMargin),

    // ---- dedup: IDF-WEIGHTED Jaccard pairs — q22's posting join with
    // integer N div df shingle weights (rare phrases outweigh
    // boilerplate), cross-multiplied rational threshold 1/2, exact e6
    // score.
    Query("q350_weighted_jaccard", (s, dir) =>
      Dedup.weightedJaccardPairs(T(s, dir, "documents"), "doc_id",
        "text", n = 3, thrNum = 1L, thrDen = 2L),
      // q350: the q22 shingle/posting chain with N//df weights — one
      // extra df CTE and sum(w) in place of count
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
         |w AS (SELECT shingle, n_docs // count(*) AS w
         |  FROM sh, nd GROUP BY shingle, n_docs),
         |ws2 AS (SELECT doc_id, sh.shingle, w.w
         |  FROM sh JOIN w ON w.shingle = sh.shingle),
         |sw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS sw
         |  FROM ws2 GROUP BY 1),
         |pi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(a.w) AS BIGINT) AS inter_w
         |  FROM ws2 a JOIN ws2 b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter_w,
         |  sa.sw + sb.sw - inter_w AS union_w,
         |  ${graft.functions.ExactRound.ratioScaledSql("inter_w",
              "sa.sw + sb.sw - inter_w", 6)} AS wjaccard_e6
         |FROM pi JOIN sw sa ON sa.doc_id = doc_a
         |JOIN sw sb ON sb.doc_id = doc_b
         |WHERE inter_w * 2 >= (sa.sw + sb.sw - inter_w) * 1""".stripMargin),

    // ---- dedup ROI: SAVINGS BY SOURCE — the staged component map
    // (q47's store) joined to per-doc token counts: docs/tokens that
    // min-id representative dedup would drop, per source, with the
    // e6 savings share — the "is dedup worth it here?" sheet.
    Query("q324_dedup_savings", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"),
        col("source"),
        size(graft.functions.TextFns.words(col("text"))).cast("long")
          .as("toks__"))
      val cc = stagedNearDupComponents(s, dir)
      docs
        .join(cc.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .withColumn("drop__", col("component").isNotNull &&
          col("component") =!= col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("drop__"), 1L).otherwise(0L)).as("n_dropped"),
          sum(col("toks__")).as("tokens_total"),
          sum(when(col("drop__"), col("toks__")).otherwise(0L))
            .as("tokens_dropped"))
        .select(col("source"), col("n_docs"), col("n_dropped"),
          col("tokens_total"), col("tokens_dropped"),
          graft.functions.ExactRound.ratioScaled(col("tokens_dropped"),
            col("tokens_total"), 6).as("savings_e6"))
    }, {
      // q324: q47's recursive component labels joined to per-doc token
      // counts; dropped = labeled member that is not its component rep
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node),
         |d AS (SELECT doc_id, source, len($wordsSql) AS toks
         |  FROM documents),
         |j AS (SELECT d.source, d.toks,
         |    cc.component IS NOT NULL AND cc.component <> d.doc_id
         |      AS dropped
         |  FROM d LEFT JOIN cc ON cc.node = d.doc_id),
         |g AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dropped,
         |    CAST(sum(toks) AS BIGINT) AS tokens_total,
         |    CAST(sum(CASE WHEN dropped THEN toks ELSE 0 END)
         |      AS BIGINT) AS tokens_dropped
         |  FROM j GROUP BY 1)
         |SELECT source, n_docs, n_dropped, tokens_total,
         |  tokens_dropped,
         |  ${ratioScaledSql("tokens_dropped", "tokens_total", 6)}
         |    AS savings_e6
         |FROM g""".stripMargin
    }),

    // ---- curation QA: MULTIMODAL dup-channel agreement — TEXT-
    // derived PNGs (pixels = first 96 chars, real encode→decode) put
    // textual and visual near-dup on the same docs, so the dHash pair
    // surface full-outer-joined with the q23 MinHash pair surface
    // tallies a real (both / image_only / text_only) split: how noisy
    // is the cheap visual channel vs content-verified text dedup? At
    // corpus scale the low-entropy ASCII bands want q225's
    // bucket-capped variant — this gate keeps the exact uncapped join
    // on the bounded doc surface.
    Query("q296_multimodal_dup_agreement", (s, dir) => {
      val src = T(s, dir, "documents")
        .filter(length(col("text")) >= 96 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text"))
      val img = Dedup.simhashFromFingerprints(
          Multimodal.dhashFingerprints(
            Multimodal.textPngPayloads(src, "doc_id", "text"),
            "doc_id", "payload"),
          bands = 4, maxHamming = 3)
        .select(col("doc_a"), col("doc_b"), lit(true).as("img__"))
      val txt = Dedup.minhashLSHFromIndex(stagedDocsIndex(s, dir),
          threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), lit(true).as("txt__"))
      img.join(txt, Seq("doc_a", "doc_b"), "full_outer")
        .select(when(coalesce(col("img__"), lit(false)) &&
            coalesce(col("txt__"), lit(false)), "both")
          .when(coalesce(col("img__"), lit(false)), "image_only")
          .otherwise("text_only").as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      // q296: text-pixel gray levels at the dHash resample indices
      // (w=8, h=4: pixel = (y*4//8)*8 + x*8//9, RGB = chars 3p+1..3p+3),
      // the q216 bits/bands/hamming chain, full outer join against the
      // q23 MinHash-exact chain, channel tally
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |  WHERE length(text) >= 96 AND strlen(text) = length(text)),
         |gray AS (SELECT doc_id, x.i AS x, y.i AS y,
         |    ascii(substring(text, CAST((((y.i * 4) // 8) * 8
         |      + (x.i * 8) // 9) * 3 + 1 AS INTEGER), 1))
         |    + ascii(substring(text, CAST((((y.i * 4) // 8) * 8
         |      + (x.i * 8) // 9) * 3 + 2 AS INTEGER), 1))
         |    + ascii(substring(text, CAST((((y.i * 4) // 8) * 8
         |      + (x.i * 8) // 9) * 3 + 3 AS INTEGER), 1)) AS g
         |  FROM d, (SELECT unnest(range(0, 9)) AS i) x,
         |    (SELECT unnest(range(0, 8)) AS i) y),
         |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS idx,
         |    CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
         |  FROM gray a JOIN gray b ON b.doc_id = a.doc_id
         |    AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 8),
         |bands AS (SELECT doc_id, idx // 16 AS band,
         |    sum(bit << (idx % 16)) AS bkey
         |  FROM bits GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band
         |    AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |img AS (SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN bits ba ON ba.doc_id = c.doc_a
         |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.idx = ba.idx
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
         |    <= 3),
         |txt AS (SELECT doc_a, doc_b FROM (
         |$jaccardSql)),
         |u AS (SELECT
         |    i.doc_a IS NOT NULL AS img_flag,
         |    t2.doc_a IS NOT NULL AS txt_flag
         |  FROM img i FULL OUTER JOIN txt t2
         |    ON t2.doc_a = i.doc_a AND t2.doc_b = i.doc_b)
         |SELECT CASE WHEN img_flag AND txt_flag THEN 'both'
         |    WHEN img_flag THEN 'image_only'
         |    ELSE 'text_only' END AS channel,
         |  count(*) AS n_pairs
         |FROM u GROUP BY 1""".stripMargin),

    // ---- dedup: SYMSPELL distance-1 vocabulary pairs — symmetric-
    // delete candidates + exact levenshtein verify, the typo/variant
    // family n-gram blocking misses at short lengths. The synthetic
    // corpus vocabulary is typo-free (zero distance-1 pairs exist),
    // so the gate INJECTS them by construction: every 10th doc
    // appends its first word with the 2nd char deleted — the
    // q193/q281 synthesized-payload pattern, mirrored in the oracle.
    Query("q312_symspell_pairs", (s, dir) => {
      val fw = element_at(TextFns.words(col("text")), 1)
      val noisy = T(s, dir, "documents").select(
        when(col("doc_id") % 10 === 0 && length(fw) >= 5 &&
            octet_length(fw) === length(fw),
          concat(col("text"), lit(" "), substring(fw, 1, 1),
            fw.substr(lit(3), length(fw))))
          .otherwise(col("text")).as("text"))
      Dedup.symmetricDeletePairs(noisy, "text", minLen = 4)
    },
      // q312: the typo-injection construction (first word, 2nd char
      // deleted, every 10th doc), then the deletion-variant expansion
      // as a list comprehension, shared-variant join, levenshtein
      // verify (both engines' classic unit-cost edit distance on
      // ASCII-pure words)
      s"""WITH d0 AS (SELECT doc_id, text, ($wordsSql)[1] AS fw
         |  FROM documents),
         |documents2 AS (SELECT CASE WHEN doc_id % 10 = 0
         |      AND length(fw) >= 5 AND strlen(fw) = length(fw)
         |    THEN text || ' ' || substring(fw, 1, 1) ||
         |      substring(fw, 3, length(fw))
         |    ELSE text END AS text FROM d0),
         |tok AS (SELECT unnest(${wordsSql}) AS w FROM documents2),
         |v0 AS (SELECT w, count(*) AS c FROM tok
         |  WHERE length(w) >= 4 AND strlen(w) = length(w)
         |  GROUP BY 1),
         |vr AS (SELECT w, unnest(list_append(
         |    [substring(w, 1, i - 1) || substring(w, i + 1, length(w))
         |     for i in range(1, length(w) + 1)], w)) AS v
         |  FROM v0),
         |p AS (SELECT DISTINCT a.w AS w1, b.w AS w2
         |  FROM vr a JOIN vr b ON a.v = b.v AND a.w < b.w),
         |f AS (SELECT w1, w2 FROM p WHERE levenshtein(w1, w2) <= 1)
         |SELECT f.w1, f.w2, a.c AS c1, b.c AS c2
         |FROM f JOIN v0 a ON a.w = f.w1
         |JOIN v0 b ON b.w = f.w2""".stripMargin),

    // ---- dedup: THRESHOLD-SENSITIVITY curve — verified exact-
    // Jaccard pairs from the prefix-filtered join at 0.25, counted at
    // each candidate cutoff (pairs + distinct docs touched): the
    // "where is the knee" sheet before committing to a dedup
    // threshold.
    Query("q277_threshold_curve", (s, dir) => {
      val pairs = Dedup.prefixFilteredJaccard(T(s, dir, "documents"),
        "doc_id", "text", n = 3, thrNum = 1L, thrDen = 4L)
      Dedup.thresholdCurve(pairs, "doc_a", "doc_b",
        round(col("jaccard") * 10000).cast("long"),
        Seq(2500L, 3500L, 4500L, 5500L, 6500L, 7500L))
    }, {
      // q277: q22's exact pair surface at the 0.25 floor (double ratio
      // compare is safe: integer operands, nearest tie exactly
      // representable), e4 scores, tagged per-threshold counts with
      // zero-fill
      import graft.functions.ExactRound.ratioScaledSql
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |     for i in range(1, len(ws)-1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (SELECT doc_a, doc_b,
         |    ${ratioScaledSql("inter", "sa.n_sh + sb.n_sh - inter", 4)}
         |      AS s
         |  FROM pairs
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) /
         |    CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.25),
         |thr AS (SELECT CAST(unnest(
         |    [2500, 3500, 4500, 5500, 6500, 7500]) AS BIGINT) AS t),
         |tagged AS (SELECT thr.t, doc_a, doc_b
         |  FROM scored CROSS JOIN thr WHERE s >= thr.t),
         |np AS (SELECT t, count(*) AS n_pairs FROM tagged GROUP BY 1),
         |nd AS (SELECT t, count(*) AS n_docs FROM (
         |    SELECT DISTINCT t, d FROM (
         |      SELECT t, doc_a AS d FROM tagged
         |      UNION ALL SELECT t, doc_b FROM tagged))
         |  GROUP BY 1)
         |SELECT thr.t AS threshold_e4,
         |  coalesce(np.n_pairs, 0) AS n_pairs,
         |  coalesce(nd.n_docs, 0) AS n_docs
         |FROM thr
         |LEFT JOIN np ON np.t = thr.t
         |LEFT JOIN nd ON nd.t = thr.t""".stripMargin
    }),

    // ---- dedup: pair EXPLANATIONS — per verified near-dup pair, the
    // 3 rarest shared trigrams with their document frequencies (the
    // reviewer evidence next to the score; rarest-first because
    // boilerplate explains nothing)
    Query("q189_pair_explanations", (s, dir) =>
      Dedup.explainPairs(T(s, dir, "documents"), "doc_id", "text",
        n = 3, thrNum = 1L, thrDen = 2L, k = 3),
      // q189: q22's pair surface + shared-shingle fetch, ranked by
      // (gram_df asc, shingle asc) within each pair
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |     for i in range(1, len(ws) - 1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b,
         |    ${graft.functions.ExactRound.ratioSql("inter",
              "sa.n_sh + sb.n_sh - inter", 4)} AS jaccard
         |  FROM pairs
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) /
         |    CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5),
         |dfreq AS (SELECT shingle, count(*) AS gram_df FROM sh
         |  GROUP BY 1),
         |shared AS (SELECT p.doc_a, p.doc_b, p.jaccard,
         |    x.shingle, dfreq.gram_df
         |  FROM p JOIN sh x ON x.doc_id = p.doc_a
         |    JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
         |    JOIN dfreq ON dfreq.shingle = x.shingle),
         |r AS (SELECT *, CAST(row_number() OVER (
         |      PARTITION BY doc_a, doc_b
         |      ORDER BY gram_df ASC, shingle ASC) AS BIGINT) AS rnk
         |  FROM shared)
         |SELECT doc_a, doc_b, jaccard, rnk, shingle, gram_df
         |FROM r WHERE rnk <= 3""".stripMargin),

    // ---- dedup: CORPUS-level gram overlap — even-doc half vs
    // odd-doc half: Jaccard + both containments of the distinct
    // 3-gram sets, the dataset-similarity gauge an aggregation or
    // contamination decision reads before any per-doc work
    Query("q188_corpus_overlap", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.corpusGramOverlap(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", n = 3)
    },
      // q188: per-half distinct 3-gram sets via the shared words/gram
      // fragments, membership bits, one-row rationals
      s"""WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |     for i in range(1, len(ws) - 1)])) AS shingle
         |  FROM t WHERE len(ws) >= 3),
         |sa AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 2 = 0),
         |sb AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 2 = 1),
         |bits AS (SELECT coalesce(sa.shingle, sb.shingle) AS shingle,
         |    CASE WHEN sa.shingle IS NULL THEN 0 ELSE 1 END AS ia,
         |    CASE WHEN sb.shingle IS NULL THEN 0 ELSE 1 END AS ib
         |  FROM sa FULL JOIN sb ON sb.shingle = sa.shingle)
         |SELECT CAST(sum(ia) AS BIGINT) AS n_a,
         |  CAST(sum(ib) AS BIGINT) AS n_b,
         |  CAST(sum(ia * ib) AS BIGINT) AS n_inter,
         |  count(*) AS n_union,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "sum(ia * ib)", "count(*)", 6)} AS jaccard_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "sum(ia * ib)", "sum(ia)", 6)} AS cont_a_e6,
         |  ${graft.functions.ExactRound.ratioScaledSql(
              "sum(ia * ib)", "sum(ib)", 6)} AS cont_b_e6
         |FROM bits""".stripMargin),

    // ---- dedup: SimHash banded near-dup. Banding over 4×16-bit bands
    // is pigeonhole-exact at hamming <= 3, and the token hash is an
    // md5 prefix — so the output is deterministic SQL and the oracle
    // computes the same fingerprints + exact all-pairs hamming filter
    // (hash-gated since round 8; previously rows-only).
    Query("q24_simhash_pairs", (s, dir) =>
      Dedup.simhash(T(s, dir, "documents"), "doc_id", "text",
        bands = 4, maxHamming = 3), {
      // q24: SimHash is fully deterministic SQL — md5-prefix token hash,
      // per-bit majority votes, exact all-pairs hamming filter (banding
      // is pigeonhole-exact at hamming <= 3 over 4 bands, so the banded
      // engine output equals this all-pairs set). Bit b (LSB-first) of
      // the 64-bit value is nibble bit b%4 of hex char 16 - b/4.
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substring(h16, $i, 1)) - 1)"
      val votes = (0 until 64).map { b =>
        s"sum(CASE WHEN ((${nib(16 - b / 4)} >> ${b % 4}) & 1) = 1 " +
          s"THEN 1 ELSE -1 END) AS v$b"
      }.mkString(",\n  ")
      val fp = (0 until 64).map(b =>
        s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS HUGEINT) " +
          "ELSE CAST(0 AS HUGEINT) END)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |h AS (SELECT doc_id, substring(md5(w), 1, 16) AS h16 FROM t),
         |v AS (SELECT doc_id,
         |  $votes
         |  FROM h GROUP BY doc_id),
         |f AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM v)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
    }),

    // ---- dedup: exact embedding-cosine near-dup pairs (O(n²·d)
    // baseline; q30 is the LSH scale path)
    Query("q29_embedding_neardup", (s, dir) =>
      SimilaritySearch.embeddingNearDupExact(T(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45), embPairsSql()),

    // ---- dedup: LSH-bucketed embedding near-dup — 16-bit band keys
    // over a 512-bit base signature, band count derived from the
    // threshold: adaptiveBands(0.45) = 3,055 targeting recall 0.95 at
    // exactly-threshold pairs (measured 0.91 at sf0.1 — bands share
    // base bits, so realized recall sits slightly below the
    // independent-band formula), false candidates at the birthday
    // floor; see SimilaritySearch.adaptiveBands for the r/b math.
    // Graduated to hash-gated: rows are the EXACT pair surface (q29's
    // SQL), recall_ok gates |exact∩lsh| >= 0.8·|exact| by integer
    // cross-multiplication, precision_ok gates lsh ⊆ exact (LSH
    // cosine-verifies candidates, so an invented pair means the
    // verification broke).
    Query("q30_embedding_neardup_lsh", (s, dir) =>
      neardupGuaranteeGate(s, dir,
        approx = emb => SimilaritySearch.embeddingNearDup(emb,
          "vec_id", "embedding", threshold = 0.45),
        recallNum = 4L, recallDen = 5L),
      // the trailing sentinel row mirrors the engine's non-vacuous
      // guarantee carrier (see neardupGuaranteeGate)
      (embPairsSql(",\n  true AS recall_ok, true AS precision_ok") +
        "\nUNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
        "CAST(NULL AS DOUBLE), true, true")),

    // ---- dedup: transitive near-dup clustering — connected components
    // (min-id label) over the LSH near-dup pair list (r12: mirrored
    // oracle, no quadratic kernel); pair lists say who matches whom,
    // dropping duplicates needs the transitive grouping. r16: this IS
    // the staged component store — first touch builds + persists it,
    // and the six sibling consumers read the same map.
    Query("q47_neardup_components", (s, dir) =>
      stagedNearDupComponents(s, dir),
      // Transitive closure by recursive CTE over the MIRRORED-LSH
      // near-dup pair list (r12; formerly the exact-pair CTE), then
      // component = min reachable id — the declarative twin of the
      // engine's path-halving label propagation.
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a)
         |SELECT node, least(node, min(r)) AS component
         |FROM cl GROUP BY node""".stripMargin),

    // ---- dedup: keep ONE representative (min id) per near-dup cluster;
    // singletons pass through untouched via the left-anti join
    Query("q48_dedup_representatives", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Dedup.keepRepresentativesFromComponents(emb.select(col("vec_id")),
        "vec_id", stagedNearDupComponents(s, dir))
    },
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT node FROM cc WHERE node != component)""".stripMargin),

    // ---- dedup: QUALITY-AWARE representative selection — per near-dup
    // cluster keep the argmax-quality member (ties id asc), not the
    // arbitrary min id: "drop the copies, keep the best copy". Score
    // is the q18 rational as a scaled integer, so the whole lineage —
    // clustering, scoring, argmax — is float-free.
    Query("q86_dedup_keep_best", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val sig = TextAnalysis.qualitySignals(T(s, dir, "documents"),
        "doc_id", "text")
      val (num, den) = TextAnalysis.qualityRational()
      val scored = sig.select(col("doc_id").as("vec_id"),
        graft.functions.ExactRound.ratioScaled(num, den, 4)
          .as("quality_e4"))
      Dedup.keepBestRepresentativesFromComponents(
        emb.select(col("vec_id")).join(scored, "vec_id"),
        "vec_id", "quality_e4", stagedNearDupComponents(s, dir))
    },
      // q86: q47's recursive components + the q18 rational as scaled
      // integer + one per-component argmax window (quality desc, id asc)
      s"""WITH RECURSIVE ${lshPairCtes("0.45")},
         |cl(node, r) AS (SELECT a, b FROM e
         |  UNION SELECT cl.node, e2.b FROM cl JOIN e e2 ON cl.r = e2.a),
         |cc AS (SELECT node, least(node, min(r)) AS component
         |  FROM cl GROUP BY node),
         |q AS (SELECT d.doc_id AS vec_id,
         |    ${graft.functions.ExactRound.ratioScaledSql(qScoreNum, qScoreDen, 4)} AS quality_e4
         |  FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id),
         |r AS (SELECT cc.node AS vec_id, q.quality_e4,
         |    row_number() OVER (PARTITION BY cc.component
         |      ORDER BY q.quality_e4 DESC, cc.node ASC) AS rk
         |  FROM cc JOIN q ON q.vec_id = cc.node)
         |SELECT vec_id, quality_e4 FROM r WHERE rk = 1
         |UNION ALL
         |SELECT q.vec_id, q.quality_e4 FROM q
         |WHERE q.vec_id NOT IN (SELECT node FROM cc)""".stripMargin),

    // ---- dedup: SemDeDup-style semantic near-dup — k-means cells from
    // the IVF quantizer, cosine verified within cells only. Graduated
    // to hash-gated like q30: exact pair surface + recall_ok at the
    // q40 threshold (>= 0.6 — a collapsed clustering lands near
    // 1/nClusters) + precision_ok (within-cell pairs are
    // cosine-verified, so sem ⊆ exact must hold exactly).
    Query("q62_semantic_dedup", (s, dir) =>
      neardupGuaranteeGate(s, dir,
        approx = emb => SimilaritySearch.semanticNearDup(emb,
          "vec_id", "embedding", threshold = 0.45),
        recallNum = 3L, recallDen = 5L),
      (embPairsSql(",\n  true AS recall_ok, true AS precision_ok") +
        "\nUNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
        "CAST(NULL AS DOUBLE), true, true")),

    // ---- dedup: incremental near-dup — a hash-sampled "new batch"
    // probed against the MinHash index of the standing corpus: only the
    // batch is re-shingled, the standing side contributes stored band
    // keys/postings/sizes (the append-only crawl shape). Exact-oracle:
    // LSH candidates + exact-Jaccard verify equals the true pair set
    // restricted to pairs touching the batch
    // The standing side comes from the STAGED corpus index (shared with
    // q23) with the batch anti-joined out — per-doc index rows make
    // that exactly the index built over the standing docs, so the gate
    // finally measures what the operator sells: only the batch is
    // re-shingled; the archive is read, never rebuilt.
    Query("q73_incremental_neardup", (s, dir) => {
      val docs = T(s, dir, "documents")
      val batch = Sampling.hashSample(docs, "doc_id", rate256 = 26)
      val standing = Dedup.excludeFromIndex(stagedDocsIndex(s, dir),
        batch.select(col("doc_id")))
      Dedup.incrementalNearDup(standing, batch, "doc_id", "text",
        threshold = 0.5)
    }, incrementalJaccardSql),

    // ---- dedup: exact repeated-substring coverage (Lee et al. ACL'22
    // substring dedup, shuffle-parallel windows instead of the paper's
    // suffix array) — per doc, the fraction of normalized text inside
    // maximal spans whose 20-char windows occur >= 2x in the corpus.
    // The gate carries the coverage fraction as the SCALED INTEGER
    // round(frac·1e4) instead of the double: every other building
    // block of this query is driver-proven by a green sibling (q33 the
    // gram/md5/window machinery, q15 the lag/cumsum merge, q18/q22 the
    // ExactRound rounding), yet the hashed double still flapped on the
    // driver in r7 AND r8 — so the gate now contains no floating point
    // at all (frac = repeated_frac_e4 / 1e4 exactly; coverageReport
    // still exposes the double for API users).
    Query("q71_repeated_substrings", (s, dir) =>
      SubstringDedup.coverageReport(T(s, dir, "documents"),
          "doc_id", "text", minLen = 20)
        .select(col("doc_id"), col("n_chars"), col("n_spans"),
          col("repeated_chars"),
          graft.functions.ExactRound.ratioScaled(col("repeated_chars"),
            col("n_chars"), 4).as("repeated_frac_e4")),
      // q71: same window/merge construction; DuckDB range(a,b) is
      // b-exclusive so the stop is len-18 for positions 1..len-19.
      // The coverage fraction travels as round(frac·1e4) in pure integer
      // arithmetic (ratioScaledSql) — r7's round(DOUBLE) tie flap AND
      // r8's still-flapping ExactRound double both exit the gate; no
      // float appears anywhere in this query's lineage.
      s"""WITH $repeatedSpanCtes,
        |cov AS (SELECT doc_id, CAST(sum(b - a + 1) AS BIGINT) AS rep,
        |  count(*) AS ns
        |  FROM spans GROUP BY 1)
        |SELECT t.doc_id, length(tn) AS n_chars,
        |  coalesce(ns, 0) AS n_spans,
        |  coalesce(rep, 0) AS repeated_chars,
        |  ${graft.functions.ExactRound.ratioScaledSql("coalesce(rep, 0)", "length(tn)", 4)} AS repeated_frac_e4
        |FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id""".stripMargin),

    // ---- dedup: substring-dedup TRIM — the Lee et al. APPLICATION of
    // q71's spans: cut every repeated span out of the normalized text.
    // The gate compares the q72-style order-independent segment digest
    // (trimDigest); the stitched trimmed_text itself is spec-asserted.
    Query("q87_trim_repeated", (s, dir) =>
      SubstringDedup.trimDigest(T(s, dir, "documents"),
        "doc_id", "text", minLen = 20), {
      // q87: the same span CTEs, complemented into KEPT segments (lag
      // over span ends + a tail segment + whole-doc rows for span-free
      // docs), gated by the q72 order-independent digest pattern —
      // per-segment md5-prefix64 XOR in two 32-bit halves + kept_chars
      val hi = hex32Sql("h16", 1)
      val lo = hex32Sql("h16", 9)
      s"""WITH $repeatedSpanCtes,
        |segi AS (SELECT doc_id,
        |    coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY a), 0) + 1 AS sa,
        |    a - 1 AS sb
        |  FROM spans),
        |segt AS (SELECT spans.doc_id, max(spans.b) + 1 AS sa,
        |    length(t.tn) AS sb
        |  FROM spans JOIN t ON t.doc_id = spans.doc_id
        |  GROUP BY spans.doc_id, length(t.tn)),
        |segn AS (SELECT doc_id, 1 AS sa, length(tn) AS sb FROM t
        |  WHERE doc_id NOT IN (SELECT doc_id FROM spans)),
        |segs AS (SELECT * FROM (SELECT * FROM segi UNION ALL
        |    SELECT * FROM segt UNION ALL SELECT * FROM segn) u
        |  WHERE sb >= sa),
        |m AS (SELECT segs.doc_id, sb - sa + 1 AS seg_len,
        |    substring(md5(concat(CAST(segs.doc_id AS VARCHAR), '@',
        |      CAST(sa AS VARCHAR), '@',
        |      substring(tn, CAST(sa AS INTEGER),
        |        CAST(sb - sa + 1 AS INTEGER)))), 1, 16) AS h16
        |  FROM segs JOIN t ON t.doc_id = segs.doc_id),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(sum(seg_len) AS BIGINT) AS kept_chars,
        |    bit_xor(CAST($hi AS BIGINT)) AS digest_hi,
        |    bit_xor(CAST($lo AS BIGINT)) AS digest_lo
        |  FROM m GROUP BY 1)
        |SELECT t.doc_id, length(tn) AS n_chars,
        |  coalesce(n_segments, 0) AS n_segments,
        |  coalesce(kept_chars, 0) AS kept_chars,
        |  coalesce(digest_hi, 0) AS digest_hi,
        |  coalesce(digest_lo, 0) AS digest_lo
        |FROM t LEFT JOIN d ON d.doc_id = t.doc_id""".stripMargin
    }))
}
