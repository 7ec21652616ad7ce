package graft
package catalog

/** SQL fragments shared by the oracles of more than one family (a
  * fragment used by one family lives in that family's object). The
  * oracles are DuckDB SQL over the same parquet tables the builders
  * read.
  */
private[graft] object OracleSql {

  val wsNorm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  val wordsSql = s"string_split($wsNorm, ' ')"

  /** The q150 lag-vs-previous-raw-event throttle rule — shared by the
    * batch gate (q150) and its streaming state-machine twin (q243),
    * whose time-ordered feed reproduces the batch output exactly. */
  val throttleOracleSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) AS tsn FROM events),
      |l AS (SELECT *, lag(tsn) OVER (PARTITION BY user_id, event_type
      |    ORDER BY tsn, event_id) AS prev FROM e)
      |SELECT event_id, user_id, event_type, tsn AS ts FROM l
      |WHERE prev IS NULL
      |   OR tsn - prev > CAST(60 AS BIGINT) * 1000000000""".stripMargin

  /** The q18 quality rational's SQL pieces — ONE copy shared by the
    * q18/q59/q84 oracles (the Scala side shares
    * `TextAnalysis.qualityRational()` the same way; a formula tweak
    * that edits one side but not the other desynchronizes three
    * gates at once). */
  val qNWords = s"CAST(len($wordsSql) AS BIGINT)"

  val qStopHits =
    s"CAST(len(list_filter($wordsSql, w -> w = 'the' OR w = 'a' " +
      "OR w = 'of' OR w = 'to' OR w = 'and')) AS BIGINT)"

  val qPunct =
    "CAST(length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')) AS BIGINT)"

  val qLen = "CAST(length(text) AS BIGINT)"

  val qScoreNum = s"least($qNWords, 100) * ($qLen - $qPunct) " +
    s"* ($qNWords + least($qStopHits * 5, $qNWords))"

  val qScoreDen = s"200 * $qLen * $qNWords"

  /** Oracle-side md5-prefix64 reconstruction by pure hex-nibble
    * arithmetic (version-proof — no hex-cast features): value of the
    * hex digit at 1-based position `i` of `col`, and the 32-bit value
    * of 8 hex digits starting at `from` (fits BIGINT; a full 64-bit
    * sum would overflow, so consumers combine two halves in HUGEINT
    * or XOR the halves separately — q37/q72). */
  def nibSql(col: String, i: Int): String =
    s"(strpos('0123456789abcdef', substring($col, $i, 1)) - 1)"

  def hex32Sql(col: String, from: Int): String =
    (from until from + 8)
      .map(i => nibSql(col, i) + s" * ${1L << (4 * (from + 7 - i))}")
      .mkString(" + ")

  // ==== mirrored banded-hyperplane LSH (the graph-feeding config) ======
  // One fixed (baseBits, bands, bitsPerBand) configuration for every
  // query that CONSUMES a near-dup graph (q117 label propagation, q161
  // cluster-weighted sampling, ...). Unlike q30's guarantee gate —
  // which measures LSH recall AGAINST the exact kernel and so must run
  // the O(n²) kernel as its audit — these gates mirror the LSH
  // candidate generation ITSELF in the oracle: the ±1 plane signs and
  // per-band bit selections are deterministic engine data
  // (HyperplaneBandKeys.planeMasks / bandSelections), inlined below as
  // literals, so DuckDB rebuilds the SAME buckets, the SAME candidate
  // pairs, and the SAME cosine-verified edge set — the LSH path is
  // hash-gated cross-engine with NO quadratic kernel anywhere in the
  // lineage. r = 12 / b = 96 is the dense-graph trade for the
  // testdata's sharp 0.3-0.45 thresholds (2^12 buckets per band keeps
  // random collisions at the birthday floor b/2^(r+1) ≈ 1.2% per
  // pair); at corpus scale r grows with log(n) — the operator's knob,
  // not a code change.
  private val lshDim = 64

  val lshBaseBits = 512

  val lshBands = 96

  val lshBitsPerBand = 12

  private lazy val lshPlaneValues: String =
    graft.expressions.HyperplaneBandKeys.planeMasks(lshBaseBits, lshDim)
      .zipWithIndex.map { case (m, j) => s"($j,$m)" }.mkString(",")

  private lazy val lshSelValues: String =
    graft.expressions.HyperplaneBandKeys
      .bandSelections(lshBands, lshBitsPerBand, lshBaseBits)
      .zipWithIndex.flatMap { case (bits, band) =>
        bits.zipWithIndex.map { case (bitJ, slot) => s"($band,$slot,$bitJ)" }
      }.mkString(",")

  /** The signature/bucket prefix shared by [[lshPairCtes]] (self-join
    * form) and [[lshProbeCtes]] (batch-probe form). */
  def lshKeyCtes: String =
    s"""lsh_planes AS (SELECT j, CAST(mask AS BIGINT) AS mask
       |  FROM (VALUES $lshPlaneValues) t(j, mask)),
       |lsh_sel AS (SELECT band, slot, bitj
       |  FROM (VALUES $lshSelValues) t(band, slot, bitj)),
       |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |nm AS (SELECT vec_id, sum(x * x) AS nn FROM ex GROUP BY 1),
       |lsh_bits AS (SELECT e.vec_id, p.j,
       |    sum(CASE WHEN ((p.mask >> (e.i - 1)) & 1) = 1
       |      THEN e.x ELSE -e.x END) >= 0 AS sbit
       |  FROM ex e JOIN lsh_planes p ON e.i <= $lshDim GROUP BY 1, 2),
       |lsh_keys AS (SELECT b.vec_id, s.band,
       |    sum(CASE WHEN b.sbit THEN CAST(1 AS BIGINT) << s.slot
       |      ELSE 0 END) AS bkey
       |  FROM lsh_bits b JOIN lsh_sel s ON s.bitj = b.j GROUP BY 1, 2)"""
      .stripMargin

  /** Cosine verify of `lsh_cand` -> pairs `p` + undirected edges `e`. */
  def lshVerifyCtes(threshold: String): String =
    s"""lsh_dot AS (SELECT c.id_a, c.id_b, sum(ea.x * eb.x) AS dot
       |  FROM lsh_cand c JOIN ex ea ON ea.vec_id = c.id_a
       |    JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
       |  GROUP BY 1, 2),
       |p AS (SELECT id_a, id_b,
       |    round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 4) AS cosine
       |  FROM lsh_dot
       |  JOIN nm na ON na.vec_id = id_a JOIN nm nb ON nb.vec_id = id_b
       |  WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= $threshold),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p)""".stripMargin

  /** q190's EWMA daily-series oracle — shared verbatim by its
    * streaming twin q264 (the stream-equals-batch contract). */
  val ewmaSeriesOracleSql: String = {
    val arr = graft.operators.EventAnalytics.decayPowersE6(4, 5, 30)
      .mkString("[", ", ", "]")
    s"""WITH d AS (SELECT event_type,
       |    epoch_ns(ts) // 86400000000000 AS day,
       |    count(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |w AS (SELECT generate_subscripts(a, 1) - 1 AS off, unnest(a) AS p
       |  FROM (SELECT $arr AS a)),
       |c AS (SELECT d.event_type, d.day + w.off AS t_day,
       |    CAST(sum(d.n_events * w.p) AS BIGINT) AS ewma_e6
       |  FROM d CROSS JOIN w
       |  GROUP BY 1, 2)
       |SELECT d.event_type, d.day, d.n_events, c.ewma_e6
       |FROM d JOIN c ON c.event_type = d.event_type
       |  AND c.t_day = d.day""".stripMargin
  }

  /** The q219/q224 shared oracle: the prefix-form CUSUM over daily
    * event counts (ceil-mean allowance, hMult = 5) — the batch
    * operator and the streaming state machine must both equal it. */
  val cusumDailyOracleSql: String =
    """WITH daily AS (SELECT event_type,
      |    epoch_ns(ts) // 86400000000000 AS day,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |per AS (SELECT event_type,
      |    (sum(n_events) + count(*) - 1) // count(*) AS k
      |  FROM daily GROUP BY 1),
      |c AS (SELECT d.event_type, d.day, d.n_events, p.k,
      |    sum(d.n_events - p.k) OVER (PARTITION BY d.event_type
      |      ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM daily d JOIN per p USING (event_type)),
      |m AS (SELECT *, min(cum) OVER (PARTITION BY event_type
      |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS mn
      |  FROM c)
      |SELECT event_type, day, n_events, CAST(k AS BIGINT) AS k,
      |  CAST(cum - least(0, mn) AS BIGINT) AS cusum,
      |  (cum - least(0, mn)) > k * 5 AS alarm
      |FROM m""".stripMargin

  /** CTE chain ending in near-dup pairs `p(id_a, id_b)` and the
    * undirected edge list `e(a, b)`: bucket keys from the inlined plane
    * masks + band selections, candidate pairs from bucket
    * co-membership, then the exact cosine verify ON CANDIDATES ONLY
    * (never all pairs). The `(mask >> (i-1)) & 1` unpack reads plane
    * sign j,i exactly as the engine's boolean matrix; `>= 0` on the
    * signed projection matches HyperplaneBandKeys bit for bit. */
  def lshPairCtes(threshold: String): String =
    s"""$lshKeyCtes,
       |lsh_cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM lsh_keys a JOIN lsh_keys b ON b.band = a.band
       |    AND b.bkey = a.bkey AND b.vec_id > a.vec_id
       |  GROUP BY 1, 2),
       |${lshVerifyCtes(threshold)}""".stripMargin

  /** The q133/q186 nearest-class-mean chain: e6 integer units, exact
    * per-label prototypes, squared-L2 argmin (dist asc, label asc),
    * ending in the confusion tally `conf(true_label, assigned_label,
    * n_vecs)`. */
  lazy val protoConfusionCtes: String =
    s"""u AS (SELECT vec_id, CAST(label AS BIGINT) AS true_label,
       |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
       |      AS BIGINT) AS u
       |  FROM embeddings),
       |s AS (SELECT true_label AS label, dim, count(*) AS n,
       |    sum(CAST(u AS HUGEINT)) AS s FROM u GROUP BY 1, 2),
       |pp AS (SELECT label AS cand_label, dim,
       |    ${graft.functions.ExactRound.ratioScaledSignedSql(
            "s", "n", 0)} AS mean_e6 FROM s),
       |d AS (SELECT u.vec_id, u.true_label, pp.cand_label,
       |    sum(CAST(u.u - pp.mean_e6 AS HUGEINT) *
       |        CAST(u.u - pp.mean_e6 AS HUGEINT)) AS dist2
       |  FROM u JOIN pp USING (dim)
       |  GROUP BY 1, 2, 3),
       |a AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dist2 ASC, cand_label ASC) AS rn FROM d),
       |conf AS (SELECT true_label, cand_label AS assigned_label,
       |    count(*) AS n_vecs
       |  FROM a WHERE rn = 1 GROUP BY 1, 2)""".stripMargin
}
