package graft

import org.apache.spark.sql.SparkSession

/** The one local session config behind Bench, Verify, WarmBench,
  * ProbeParts and Explain, so the correctness dump, the timing probes
  * and the printed plans run the same engine settings.
  * `SPARK_GRAFT_CPUS` (else `defaultCpus`) sets both the local thread
  * count and the shuffle partition count. ScaleProbe keeps its own
  * builder (AQE partition coalescing on): its `SCALE_r*.json` history
  * was measured under that builder, and switching would break the
  * series.
  */
object GraftSession {
  def apply(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Keep AQE's skew handling but not its partition coalescing: the
      // 64 MB advisory target is a cluster-network setting; on a single
      // 32-thread node it collapses ~200 MB reduce stages to 2-3 tasks
      // and serializes them (measured 8x on the LSH bucket aggregation).
      // shuffle.partitions is already sized to the box.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // events.ts physical type has drifted across testdata
      // regenerations (NANOS, later MICROS). Tables.normalizeTs converts
      // either to long nanos; this conf covers the NANOS form (Spark
      // rejects it outright without the legacy flag).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
