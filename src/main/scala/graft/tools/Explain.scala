package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan auditor: prints the formatted physical plan for selected queries
  * so pushdown / broadcast / codegen spans can be reviewed.
  * Usage: runMain graft.tools.Explain [queryName ...]; reads the tables
  * under `$SPARK_GRAFT_SF_DIR` (default sf0.01). Runs on the
  * [[GraftSession]] Bench and Verify run on, so the printed plans are
  * theirs (4 cores unless `SPARK_GRAFT_CPUS` says otherwise).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(defaultCpus = 4, logLevel = "ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
