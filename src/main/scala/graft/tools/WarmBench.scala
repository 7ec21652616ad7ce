package graft.tools

import graft.{GraftSession, SparkEntry}

/** Steady-state timing probe: runs each named query REPS times inside
  * one session and prints every run's seconds. Run 1 pays codegen /
  * class-loading / plan compilation; later runs measure the plan. The
  * spread between them separates "the plan is slow" (fix the operator)
  * from "the JVM was cold" (fix nothing) — the two look identical in a
  * single-shot bench.
  * Usage: runMain graft.tools.WarmBench [reps] queryName [queryName ...]
  */
object WarmBench {
  def main(args: Array[String]): Unit = {
    val (reps, names) = args.headOption.flatMap(a => a.toIntOption) match {
      case Some(r) => (r, args.drop(1).toSeq)
      case None => (3, args.toSeq)
    }
    require(names.nonEmpty, "usage: WarmBench [reps] queryName ...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(defaultCpus = 32, logLevel = "ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"$name: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
