package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Scans are plain parquet reads so Catalyst's column pruning and filter
  * pushdown reach the file scan (SURVEY.md §2.1 S1-S4: the reference's
  * manual pagination / manual column selection collapse into this).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Only the events table carries the epoch-nanos `ts` contract; a
    // future table with its own timestamp column keeps its own type.
    if (name == "events") normalizeTs(df) else df
  }

  /** Normalize an event-time `ts` column to LONG EPOCH NANOS regardless
    * of how the driver generated the parquet: TIMESTAMP(NANOS) arrives
    * as long already (via `spark.sql.legacy.parquet.nanosAsLong`), while
    * TIMESTAMP(MICROS) arrives as timestamp/timestamp_ntz and is
    * converted here (`unix_micros` × 1000). Every session in this repo
    * pins `spark.sql.session.timeZone=UTC`, so the NTZ→TZ cast is
    * value-preserving and matches DuckDB's `epoch_ns` on the same file.
    * The projection sits above the scan, so parquet min/max pruning on
    * raw `ts` no longer applies — event queries filter on keys, not
    * time ranges, and a time-partitioned production layout would carry
    * the partition column separately.
    */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        // The NTZ→TZ cast below is value-preserving ONLY under a UTC
        // session; "every session pins UTC" is convention, so enforce
        // it here — a non-UTC session would silently shift every time
        // bucket in every event query instead of failing loudly.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts normalization requires spark.sql.session.timeZone=UTC " +
            s"(got '$tz'): the TIMESTAMP_NTZ parquet form is reinterpreted " +
            "through the session zone and any other zone shifts event time")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }
  }

  /** Register (once per session) a BUCKETED table: `df` written with
    * `bucketBy(buckets, key)` + `sortBy(key)` into the session
    * warehouse under `name`, then read back through the catalog — the
    * co-located-join primitive: two tables bucketed on their join keys
    * with the same bucket count join WITHOUT a shuffle exchange on
    * either side, because each scan already reports the bucket hash
    * partitioning (at 100 TB this is the difference between moving
    * both fact tables every query and moving neither). Bucket METADATA
    * lives in the session catalog, not the files, so the table is
    * (re)built once per session — a stale same-name directory from an
    * earlier JVM is overwritten, never trusted (re-registering it as an
    * external table would silently lose the bucket spec and the
    * no-shuffle property with it). Callers put a source stamp in
    * `name` so a regenerated corpus forces a rebuild.
    *
    * SINGLE-WRITER ASSUMPTION (r18 ADVICE): "catalog lacks the table ⇒
    * the same-name warehouse dir is stale debris" is only sound when
    * this session has the warehouse directory to itself. Two live
    * sessions sharing one warehouse dir (or a persistent metastore out
    * of sync with it) would let one session delete the other's table
    * data mid-query. Every session in this repo uses its own default
    * `spark-warehouse` under an exclusive working directory; a
    * deployment with a shared warehouse must key `name` per session or
    * point `spark.sql.warehouse.dir` at a session-scoped path. */
  def bucketedTable(spark: SparkSession, name: String, df: => DataFrame,
      key: String, buckets: Int): DataFrame = {
    if (!spark.catalog.tableExists(name)) {
      // a location left by an earlier JVM whose in-memory catalog is
      // gone blocks CREATE with LOCATION_ALREADY_EXISTS — it is
      // untrusted by the contract above, so remove it before the
      // rebuild rather than failing every later session
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val loc = new org.apache.hadoop.fs.Path(wh, name.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      df.write.bucketBy(buckets, key).sortBy(key)
        .format("parquet")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(name)
    }
    spark.table(name)
  }

  /** The build-once protocol behind every staged store: if
    * `$storeDir/_staged` is missing, run `build` (which writes the
    * store's contents under `storeDir`), then create the marker. The
    * marker commits AFTER the build, so a killed writer leaves a
    * partial store without a marker, and the next call rebuilds it;
    * `build` must therefore overwrite whatever a killed run left.
    * Callers key `storeDir` by the source stamp(s) so a regenerated
    * corpus gets a new store. Readers skip `_`-prefixed names, so the
    * marker never enters a scan. Returns whether this call built the
    * store. */
  private[graft] def buildOnce(spark: SparkSession, storeDir: String)
      (build: => Unit): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$storeDir/_staged")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = !fs.exists(marker)
    if (missing) {
      build
      fs.create(marker, true).close()
    }
    missing
  }

  /** Read a parquet dir: with `schema` — the schema of the frame just
    * written there — the relation only lists the files and runs no
    * job; without, Spark infers the schema from a footer, one job.
    * Spark reads every file-source column as nullable either way, so
    * both give the same schema. */
  private[graft] def readParquet(spark: SparkSession, dir: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** [[stagedParquet]] with a HIVE-PARTITIONED layout: the build is
    * written `partitionBy(partitionCol)` so the store's directory tree
    * carries the column (`col=value/…`), and any reader filtering on
    * it scans ONLY the matching directories — partition pruning, the
    * layout lever that turns "read 100 TB, keep 1%" into "read 1%"
    * (`PartitionFilters` in the scan node; PlanAuditSpec pins it).
    * Built once through [[buildOnce]], like the flat form. */
  def stagedPartitionedParquet(spark: SparkSession, storeDir: String,
      partitionCol: String)(build: => DataFrame): DataFrame = {
    buildOnce(spark, storeDir) {
      build.write.partitionBy(partitionCol).mode("overwrite")
        .parquet(s"$storeDir/data")
    }
    spark.read.parquet(s"$storeDir/data")
  }

  /** Stage a deterministic derived table to `storeDir` on first touch
    * and read it back as parquet ever after — the generic form of the
    * staged MinHash / band-key / BPE stores: a production pipeline
    * derives its standing tables (edge lists, indexes, models) ONCE
    * per corpus and every consumer reads the store instead of
    * re-deriving per query. Built once through [[buildOnce]]; the call
    * that builds the store reads it back with the built frame's schema,
    * so no footer job runs. */
  def stagedParquet(spark: SparkSession, storeDir: String)
      (build: => DataFrame): DataFrame = {
    var schema: Option[StructType] = None
    buildOnce(spark, storeDir) {
      val df = build
      df.write.mode("overwrite").parquet(s"$storeDir/data")
      schema = Some(df.schema)
    }
    readParquet(spark, s"$storeDir/data", schema)
  }

  /** [[stagedParquet]]'s ORC sibling — built once through
    * [[buildOnce]], but the store is an ORC dataset (Spark's
    * built-in `orc` source, zstd-compressed columnar like parquet,
    * the other lakehouse interchange format a 100 TB pipeline is
    * routinely handed). Exists so the ORC read AND write paths are
    * first-class gated surfaces, not a doc claim. */
  def stagedOrc(spark: SparkSession, storeDir: String)
      (build: => DataFrame): DataFrame = {
    buildOnce(spark, storeDir) {
      build.write.mode("overwrite").orc(s"$storeDir/data")
    }
    spark.read.orc(s"$storeDir/data")
  }

  /** Latest-file selection (SURVEY §2.1 S2, ref uploadtodb.py:46-57):
    * resolve newest path matching a glob by modification time, driver-side,
    * before handing the single path to a distributed scan.
    */
  def latestByMtime(spark: SparkSession, globPath: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(globPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.globStatus(path)
    if (statuses == null || statuses.isEmpty) None
    else Some(statuses.maxBy(_.getModificationTime).getPath.toString)
  }
}
