package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TimeFns

/** The query catalog: every declared query as one [[catalog.Query]]
  * entry, its Spark builder next to the DuckDB oracle SQL it must
  * match exactly, grouped into one object per family (see
  * [[catalog.Catalog]]). [[catalog.Stages]] holds the staged stores the
  * builders share, [[catalog.OracleSql]] the SQL fragments several
  * families' oracles share; this package object holds the builder
  * helpers every family uses.
  */
package object catalog {

  private[catalog] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact order-independent sum of a 2dp/4dp money column. */
  private[catalog] def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the caller's value after. The STREAMING gates use
    * this with a small n: a stateful micro-batch pays per-partition
    * state-store open/commit/checkpoint overhead on every trigger, so
    * 32 state partitions × 4-5 micro-batches × (1-2 stateful ops) is
    * pure fixed cost at gate volumes — while at cluster scale the
    * state partition count is sized to the cluster, not to this
    * harness. Gated OUTPUTS are partitioning-independent by the
    * repo's determinism discipline, so this is a cost knob only.
    * NOTE the eager `.parquet()` read-back inside each streaming gate
    * materializes before restore; callers returning LAZY frames must
    * not let them escape the block. */
  private[catalog] def withShufflePartitions[T](s: SparkSession, n: Int)
      (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** events.ts is long epoch NANOS by the [[Tables]] loader contract
    * (normalizeTs converts whichever physical parquet type the driver
    * generated — NANOS-as-long or MICROS-as-timestamp); integer
    * epoch-seconds keep the arithmetic engine-agnostic, and
    * [[graft.functions.TimeFns.floorDiv]] keeps the bucketing aligned
    * with the oracle's `//` even for pre-1970 values. */
  private[catalog] val tsSec: Column = TimeFns.floorDiv(col("ts"), 1000000000L)
}
