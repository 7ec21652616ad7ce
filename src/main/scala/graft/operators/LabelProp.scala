package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Label propagation over a similarity graph — the semi-supervised
  * labeling step a curation pipeline uses to stretch a small labeled
  * seed set across its near-duplicate neighborhoods (a document that is
  * a near-copy of a labeled one inherits the label; Zhu & Ghahramani's
  * classic LPA, clamped-seed variant).
  *
  * Deterministic by construction: each round, every NON-SEED node takes
  * the argmax over its neighbors' current labels with the tie order
  * (votes desc, label asc); seed nodes are CLAMPED (never change); a
  * node with no labeled neighbor stays unlabeled. A fixed iteration
  * count unrolls exactly — two engines given the same graph agree bit
  * for bit (the q108 PageRank discipline; no RNG, no float).
  *
  * Scale shape: the undirected edge list persists hash-partitioned
  * once; each round is one join of the current (node, label) table
  * into the edges, one (node, label) count aggregate — map-side
  * combinable — and one per-node argmax window over the distinct
  * candidate labels (bounded by label cardinality, not corpus size).
  * Rounds run through [[Iterate]].
  */
object LabelProp {

  /** `nodes`: (nodeCol, labelCol) with NULL label = unlabeled (labeled
    * rows are the clamped seeds). `edges`: (aCol, bCol) undirected
    * pairs. Returns (nodeCol, labelCol) after `iterations` rounds. */
  def propagate(nodes: DataFrame, nodeCol: String, labelCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1, "need at least one round")
    import org.apache.spark.storage.StorageLevel
    val und = graft.Caches.register(edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(edges
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val seeds = graft.Caches.register(nodes
      .select(col(nodeCol).cast("long").as("node"),
        col(labelCol).cast("long").as("seed"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val cur = Iterate.rounds(
        seeds.select(col("node"), col("seed").as("label")),
        iterations) { (cur, _) =>
      val votes = und
        .join(cur.filter(col("label").isNotNull)
          .select(col("node").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl"))
        .agg(count(lit(1)).as("v"))
      val best = votes
        .withColumn("rn", row_number().over(Window.partitionBy(col("src"))
          .orderBy(col("v").desc, col("nl").asc)))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("nl").as("best"))
      seeds
        .join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("seed"), col("best")).as("label"))
    }.last
    cur.select(col("node").as(nodeCol), col("label").as(labelCol))
  }
}
