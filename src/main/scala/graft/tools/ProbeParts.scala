package graft.tools

import org.apache.spark.sql.functions._

/** Component-level decomposition probe (guide §1.1 empirical loop):
  * times named SUBTREES of the expensive declared queries so a change
  * targets the dominant stage instead of the whole query. Bench-
  * identical session config; noop-sink timing; clearCache between
  * parts so each pays its own cost.
  * Usage: runMain graft.tools.ProbeParts [reps] partName [partName ...]
  */
object ProbeParts {
  def main(args: Array[String]): Unit = {
    val (reps, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(r) => (r, args.drop(1).toSeq)
      case None => (2, args.toSeq)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(defaultCpus = 32, logLevel = "ERROR")
    def docs = graft.Tables(spark, sfDir, "documents")
    def events = graft.Tables(spark, sfDir, "events")
    val parts: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      // q277 = prefixFilteredJaccard(0.25) + thresholdCurve
      "q277_candidates" -> (() => graft.operators.Dedup
        .prefixJaccardCandidates(docs, "doc_id", "text", n = 3,
          thrNum = 1L, thrDen = 4L)),
      "q277_pairs" -> (() => graft.operators.Dedup
        .prefixFilteredJaccard(docs, "doc_id", "text", n = 3,
          thrNum = 1L, thrDen = 4L)),
      "q277_stats" -> (() => {
        val cand = graft.operators.Dedup.prefixJaccardCandidates(docs,
          "doc_id", "text", n = 3, thrNum = 1L, thrDen = 4L)
        val t = docs.select(col("doc_id").as("doc"),
          graft.functions.TextFns.words(col("text")).as("ws"))
        val sz = t.filter(size(col("ws")) >= 3)
          .select(col("doc"), size(array_distinct(expr(
            "transform(sequence(0, size(ws)-3), i -> " +
              "concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
            .cast("long").as("n_sh"))
        cand.join(sz.select(col("doc").as("doc_a"),
            col("n_sh").as("na")), "doc_a")
          .join(sz.select(col("doc").as("doc_b"),
            col("n_sh").as("nb")), "doc_b")
          .agg(count(lit(1)).as("n_pairs"), sum(col("na")).as("sum_na"),
            sum(least(col("na"), col("nb"))).as("sum_min"))
      }),
      // q149 = lag window + madZScore(scalable) + final agg
      "q149_gaps" -> (() => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        events.withColumn("prev__", lag(col("ts"), 1).over(w))
          .filter(col("prev__").isNotNull)
      })
    )
    names.foreach { name =>
      val fn = parts(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        if (name.endsWith("_stats"))
          fn().show(20, truncate = false)
        else fn().write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"$name: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
