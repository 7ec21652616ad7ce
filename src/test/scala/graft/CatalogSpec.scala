package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Catalog, Stages}

/** The query catalog's contract: one entry per name, the driver's two
  * maps derived from it once, and the staged-store prebuild list. No
  * check here builds a query or a store. */
class CatalogSpec extends AnyFunSuite {

  test("query names are unique across families") {
    val names = Catalog.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"declared twice: $dups")
    assert(names.size == 360)
  }

  test("queries and oracleSql have the same key set, one key per entry") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == Catalog.all.size)
  }

  test("every oracle is non-blank") {
    val blank = Catalog.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  test("the facade maps are built once, not per call") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("prebuild lists the 26 staged stores in build order") {
    assert(Stages.prebuild.map(_._1) == Seq(
      "embkeys_full", "neardup_components", "bpe_model", "purchase_edges",
      "docs_minhash_index", "embkeys_standing_q179", "orc_store_q336",
      "standing_components_q344", "pr_before_q299", "bucketed_tables_q357",
      "partitioned_orders_q358", "status_dim_q359", "feed_q77", "feed_q78",
      "feed_q169_q229", "feed_q175", "feed_q182", "feed_q192", "feed_q199",
      "feed_q224_q264", "feed_q243", "feed_q289", "feed_q302", "feed_ssj_l",
      "feed_ssj_r", "version_store_q360"))
  }
}
