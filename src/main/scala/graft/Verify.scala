package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names for local iteration.
    // NOTE: unselected queries' outputs from earlier runs stay in outDir
    // and compare.py will judge them as current — compare only the
    // selected names, or use a fresh outDir.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    only.foreach(o => System.err.println(
      s"[verify] partial run (${o.size} queries) — stale outputs of other " +
        "queries in outDir are NOT refreshed"))
    val spark = GraftSession(defaultCpus = 4, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
          // the class and the top frames name the failing site; a fatal
          // error ends the run instead of leaving later queries to a
          // broken JVM
          System.err.println(s"[verify] $name failed: " +
            s"${e.getClass.getName}: ${e.getMessage}" +
            e.getStackTrace.take(8).map(f => s"\n[verify]     at $f").mkString)
        }
        // Operators that persist() internally (scalable rank, MinHash)
        // would otherwise accumulate MEMORY_AND_DISK caches across the
        // 40-query run in one driver JVM; Bench already does this.
        spark.catalog.clearCache()
      }
    // Full JSON escape (JsonText): a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness.
    import graft.functions.JsonText.quote
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Gate-environment stamp: the r7 q71/q72 reds were DuckDB-version
    // divergence that took a round to diagnose because no artifact
    // recorded which engines compared. The oracle side (DuckDB) is
    // stamped by tools/compare.py; this records the engine side.
    val env = Map(
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"),
      "timezone" -> spark.conf.get("spark.sql.session.timeZone"))
    Files.writeString(Paths.get(s"$outDir/gateenv.json"),
      env.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
