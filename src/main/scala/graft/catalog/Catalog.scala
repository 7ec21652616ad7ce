package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: `build` runs it in Spark over the tables of a
  * scale-factor dir, and `oracle` is the DuckDB SQL over the same
  * parquet tables that its output must match exactly. */
private[graft] final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

/** Every declared query, family by family. [[graft.SparkEntry]]
  * derives its `queries` and `oracleSql` maps from [[all]], so each
  * name is written once, next to both of its halves. */
private[graft] object Catalog {
  val all: Seq[Query] = Seq(
    ReferenceQueries.queries,
    AnalyticsQueries.queries,
    StatsQueries.queries,
    TextQueries.queries,
    DedupQueries.queries,
    SimilarityQueries.queries,
    GraphQueries.queries,
    StreamingQueries.queries,
    EtlQueries.queries,
    LinkageQueries.queries,
    QaQueries.queries).flatten
}
