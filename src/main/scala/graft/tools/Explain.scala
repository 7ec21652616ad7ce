package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan auditor: prints the formatted physical plan for selected queries
  * so pushdown / broadcast / codegen spans can be reviewed.
  * Usage: runMain graft.tools.Explain [queryName ...]; reads the tables
  * under `$SPARK_GRAFT_SF_DIR` (default sf0.01).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
