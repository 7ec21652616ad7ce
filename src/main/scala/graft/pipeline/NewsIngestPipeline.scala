package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cleanse
import graft.operators.Dedup

/** The reference's news ingestion flow (ref newsflow_scraper.py):
  * scraped items → premium filter → headline truncation → md5 surrogate
  * key → URL dedup against everything already stored → append.
  *
  * Batch form: left-anti join (replacing the driver-side seen-URL set,
  * ref :243-327). Streaming form: [[prepare]] followed by
  * `Streams.dedupByKey` on the URL (watermarked dropDuplicates), state
  * bounded by the watermark instead of an ever-growing DB read.
  */
object NewsIngestPipeline {

  /** Cleansing projection shared by batch and streaming paths.
    * `postedAt` overrides the stored-at stamp with a fixed clock for
    * the oracle gate; production callers leave the wall clock. */
  def prepare(raw: DataFrame,
      postedAt: org.apache.spark.sql.Column = current_timestamp()): DataFrame =
    raw
      .filter(!coalesce(col("is_premium"), lit(false))) // ref :184-190
      .filter(Cleanse.validKey(col("article_url")))
      .withColumn("headline", Cleanse.truncateTo(col("headline"), 500)) // ref :303-304
      .withColumn("tweet_id", Cleanse.surrogateKey(col("article_url"))) // ref :297-299
      .withColumn("is_critical", coalesce(col("is_critical"), lit(false)))
      .withColumn("posted_at", postedAt)

  /** Batch: keep only unseen URLs then append (S10). */
  def newItems(scraped: DataFrame, existing: DataFrame): DataFrame =
    Dedup.antiJoinAppend(prepare(scraped), existing, "article_url")
}
