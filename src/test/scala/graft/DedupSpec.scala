package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SimilaritySearch}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "THE  quick   Brown fox jumps over the lazy dog"),   // dup after normalize
    (4L, "the quick brown fox jumps over the sleepy dog"),    // near-dup of 1
    (5L, "completely different text with other words inside here"),
    (6L, "short text")                                        // < 3 words -> no shingles
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates under min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select($"rep_id", $"n_dups").rowsSet
    assert(out.contains(Seq(1L, 3L))) // docs 1,2,3 collapse
    assert(out.contains(Seq(4L, 1L)))
    assert(out.contains(Seq(5L, 1L)))
    assert(out.contains(Seq(6L, 1L)))
  }

  test("jaccard near-dup finds planted pairs, strict threshold") {
    val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").rowsSet
    // 1-2, 1-3, 2-3 identical (jaccard 1.0); 4 vs 1/2/3 share 5 of 9
    // distinct trigrams -> j = 5/9 ≈ 0.56 >= 0.5
    assert(pairs == Set(Seq(1L, 2L), Seq(1L, 3L), Seq(2L, 3L),
      Seq(1L, 4L), Seq(2L, 4L), Seq(3L, 4L)))
  }

  test("jaccard maxDocFreq drops hot shingles from candidate generation") {
    // every doc shares the same leading trigram; only 1-2 share more
    val hot = Seq(
      (1L, "common lead phrase alpha beta gamma"),
      (2L, "common lead phrase alpha beta delta"),
      (3L, "common lead phrase zz yy xx"),
      (4L, "common lead phrase qq rr ss")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.jaccardNearDup(hot, "doc_id", "text",
      n = 3, threshold = 0.1).select($"doc_a", $"doc_b").rowsSet
    assert(uncapped.contains(Seq(1L, 3L))) // via the hot shingle alone
    val capped = Dedup.jaccardNearDup(hot, "doc_id", "text",
      n = 3, threshold = 0.1, maxDocFreq = 3).select($"doc_a", $"doc_b").rowsSet
    // 'common lead phrase' has df=4 > 3 -> dropped; 1-3 share nothing else
    assert(!capped.contains(Seq(1L, 3L)))
    assert(capped.contains(Seq(1L, 2L))) // still linked by their rarer trigrams
  }

  test("minhash LSH reproduces exact-jaccard pairs on well-separated data") {
    val exact = Dedup.jaccardNearDup(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").rowsSet
    val lsh = Dedup.minhashLSH(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"doc_a", $"doc_b").rowsSet
    assert(lsh == exact)
  }

  test("simhash: identical docs collide at hamming 0; distinct text does not match") {
    val out = Dedup.simhash(docs, "doc_id", "text", bands = 4, maxHamming = 3)
      .select($"doc_a", $"doc_b", $"hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val zero = out.filter(_._3 == 0).map(t => (t._1, t._2)).toSet
    assert(zero.contains((1L, 2L)) && zero.contains((1L, 3L)) && zero.contains((2L, 3L)))
    assert(!out.exists(t => t._1 == 5L || t._2 == 5L))
  }

  test("incremental near-dup equals the batch-relevant slice of a full run") {
    val standing = docs.filter($"doc_id" <= 3L)
    val batch = docs.filter($"doc_id" > 3L)
      .union(Seq((7L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val index = Dedup.buildMinHashIndex(standing, "doc_id", "text", n = 3)
    val got = Dedup.incrementalNearDup(index, batch, "doc_id", "text",
        threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val all = docs.union(Seq((7L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val full = Dedup.minhashLSH(all, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val newIds = Set(4L, 5L, 6L, 7L)
    assert(got === full.filter(p => newIds(p._1) || newIds(p._2)))
    assert(got.contains((1L, 7L))) // cross old-new exact dup found
    assert(got.forall(p => newIds(p._1) || newIds(p._2)))
  }

  test("staged index round-trips through its store and excludeFromIndex " +
      "equals a rebuild over the remaining docs") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-stage-spec").toString + "/idx"
    try {
      // first call builds + writes, second call loads — identical pairs
      val staged1 = Dedup.minhashLSHFromIndex(
        Dedup.stagedMinHashIndex(docs, "doc_id", "text", store),
        threshold = 0.5).select($"doc_a", $"doc_b").rowsSet
      val staged2 = Dedup.minhashLSHFromIndex(
        Dedup.stagedMinHashIndex(docs, "doc_id", "text", store),
        threshold = 0.5).select($"doc_a", $"doc_b").rowsSet
      val fresh = Dedup.minhashLSH(docs, "doc_id", "text", threshold = 0.5)
        .select($"doc_a", $"doc_b").rowsSet
      assert(staged1 === fresh)
      assert(staged2 === fresh)
      // anti-joining a batch out of the staged full index == building the
      // index over the standing docs directly (per-doc rows, no
      // cross-doc state): same incremental pair set either way
      val batchIds = Seq(4L, 5L).toDF("doc_id")
      val batch = docs.join(batchIds, Seq("doc_id"), "left_semi")
      val standingDocs = docs.join(batchIds, Seq("doc_id"), "left_anti")
      val viaStore = Dedup.incrementalNearDup(
        Dedup.excludeFromIndex(
          Dedup.stagedMinHashIndex(docs, "doc_id", "text", store), batchIds),
        batch, "doc_id", "text", threshold = 0.5)
        .select($"doc_a", $"doc_b").rowsSet
      val viaRebuild = Dedup.incrementalNearDup(
        Dedup.buildMinHashIndex(standingDocs, "doc_id", "text"),
        batch, "doc_id", "text", threshold = 0.5)
        .select($"doc_a", $"doc_b").rowsSet
      assert(viaStore === viaRebuild)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(store).getParentFile)
    }
  }

  test("antiJoinAppend keeps only unseen keys") {
    val incoming = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val existing = Seq(Tuple1(2L)).toDF("k")
    val out = Dedup.antiJoinAppend(incoming, existing, "k").select($"k").rowsSet
    assert(out == Set(Seq(1L), Seq(3L)))
  }

  test("embedding near-dup (exact verify path) finds planted high-cosine pair") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // cos ~0.995 with 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilaritySearch.embeddingNearDup(vecs, "vec_id", "embedding",
      threshold = 0.9, baseBits = 64, bands = 32)
    val ids = out.select($"id_a", $"id_b").rowsSet
    assert(ids == Set(Seq(1L, 2L)))
  }

  test("connected components resolve transitive chains and disjoint clusters") {
    // chain 1-2-3-4 (no direct 1-4 pair: transitivity required), disjoint
    // pair 10-11, triangle 20-21-22 with redundant edges
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: a chain whose labels settle on round " +
    "maxIter converges (the confirming round maxIter + 1 is allowed); " +
    "one round less throws") {
    // chain 1-2-...-8: min-label propagation with path halving changes
    // labels in exactly 3 rounds (1 reaches 3, then 7, then 8); the 4th
    // round confirms the fixpoint
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 3)
    assert(cc.rowsSet == (1L to 8L).map(n => Seq[Any](n, 1L)).toSet)
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("keepRepresentatives keeps min id per cluster plus singletons") {
    val corpus = (1L to 6L).toDF("id")
    val pairs = Seq((2L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepRepresentatives(corpus, "id", pairs, "id_a", "id_b")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 6L)) // 4,5 collapse into 2; 1,3,6 untouched
  }

  test("connected components of an empty pair list is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs, "id_a", "id_b").isEmpty)
  }

  test("keepBestRepresentatives keeps argmax score per cluster, id tie-break") {
    // cluster {2,4,5}: scores 10, 30, 30 -> id 4 wins (score tie, lower id)
    val corpus = Seq((1L, 7L), (2L, 10L), (3L, 1L), (4L, 30L),
      (5L, 30L), (6L, 2L)).toDF("id", "score")
    val pairs = Seq((2L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestRepresentatives(corpus, "id", "score",
        pairs, "id_a", "id_b")
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 6L))
    // empty pair list: everything is a singleton and survives
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.keepBestRepresentatives(corpus, "id", "score",
      none, "id_a", "id_b").count() == 6L)
  }
}
