package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.Streams

/** The cron-cadence streaming shape end-to-end: file source →
  * foreachBatch merge sink → Trigger.AvailableNow catch-up runs with a
  * shared checkpoint (each run processes only files it hasn't seen). */
class FileStreamSpec extends SparkSpec {
  import spark.implicits._

  test("file stream with AvailableNow merges increments into the warehouse") {
    val root = Files.createTempDirectory("graft_fstream")
    val src = s"$root/incoming"
    val target = s"$root/warehouse/items"
    val checkpoint = s"$root/checkpoint"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType)))

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = Streams.runAvailableNow(
        Streams.mergeSink(stream, target, "k"), checkpoint)
      q.awaitTermination()
    }

    Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
      .write.mode("append").parquet(src)
    runOnce()
    assert(graft.sinks.MergeByKey.readCommitted(spark, target).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))

    // second drop: B updated, C new — only the new file is processed
    Seq(("B", 20.0), ("C", 3.0)).toDF("k", "v")
      .write.mode("append").parquet(src)
    runOnce()
    spark.catalog.refreshByPath(target)
    assert(graft.sinks.MergeByKey.readCommitted(spark, target).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 20.0), Seq("C", 3.0)))
  }

  test("kill and resume: a batch merged but not checkpointed replays once") {
    val root = Files.createTempDirectory("graft_resume")
    val src = s"$root/incoming"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType)))
    def runOnce(target: String, checkpoint: String): Unit =
      Streams.runAvailableNow(Streams.mergeSink(
        spark.readStream.schema(schema).parquet(src), target, "k"),
        checkpoint).awaitTermination()
    // three file batches, each updating keys the earlier ones wrote; the
    // killed run and the uninterrupted run see the same batch sequence
    val batches = Seq(
      Seq(("A", 1.0), ("B", 2.0)),
      Seq(("B", 20.0), ("C", 3.0)),
      Seq(("C", 30.0), ("A", 10.0), ("D", 4.0)))
    batches.foreach { rows =>
      rows.toDF("k", "v").write.mode("append").parquet(src)
      runOnce(s"$root/killed", s"$root/killed-ckpt")
      runOnce(s"$root/clean", s"$root/clean-ckpt")
    }
    val killed = s"$root/killed"
    assert(graft.sinks.MergeByKey.committedVersion(spark, killed) === Some(2L))
    // the kill: batch 2's merge landed but its offset commit did not
    val commits = new java.io.File(s"$root/killed-ckpt/commits")
    Seq("2", ".2.crc").foreach(n => new java.io.File(commits, n).delete())
    assert(!new java.io.File(commits, "2").exists())
    runOnce(killed, s"$root/killed-ckpt")
    // batch 2 re-ran (one more commit) and the store matches, row for
    // row, the store of the run that was never interrupted
    assert(graft.sinks.MergeByKey.committedVersion(spark, killed) === Some(3L))
    assert(new java.io.File(commits, "2").exists())
    def rows(path: String) = graft.sinks.MergeByKey.readCommitted(spark, path)
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(rows(killed) == rows(s"$root/clean"))
    assert(rows(killed) == Seq(Seq("A", 10.0), Seq("B", 20.0),
      Seq("C", 30.0), Seq("D", 4.0)))
  }

  test("kill and resume: an idempotent-append batch written but not " +
    "checkpointed overwrites its partition on replay") {
    val root = Files.createTempDirectory("graft_idem_resume")
    val src = s"$root/incoming"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType)))
    def runOnce(target: String, checkpoint: String): Unit =
      Streams.runAvailableNow(Streams.idempotentAppendSink(
        spark.readStream.schema(schema).parquet(src), target),
        checkpoint).awaitTermination()
    // three file batches; the killed run and the uninterrupted run see
    // the same batch sequence
    val batches = Seq(
      Seq(("A", 1.0), ("B", 2.0)),
      Seq(("B", 20.0), ("C", 3.0)),
      Seq(("C", 30.0), ("A", 10.0), ("D", 4.0)))
    batches.foreach { rows =>
      rows.toDF("k", "v").write.mode("append").parquet(src)
      runOnce(s"$root/killed", s"$root/killed-ckpt")
      runOnce(s"$root/clean", s"$root/clean-ckpt")
    }
    val killed = s"$root/killed"
    // the kill: batch 2's files landed but its offset commit did not
    val commits = new java.io.File(s"$root/killed-ckpt/commits")
    Seq("2", ".2.crc").foreach(n => new java.io.File(commits, n).delete())
    assert(!new java.io.File(commits, "2").exists())
    runOnce(killed, s"$root/killed-ckpt")
    assert(new java.io.File(commits, "2").exists())
    // batch 2 re-ran under the same id and overwrote its own partition:
    // the sink matches, row for row and batch id for batch id, the sink
    // of the run that was never interrupted
    def rows(path: String) = {
      spark.catalog.refreshByPath(path)
      spark.read.parquet(path)
        .select(col("graft_batch_id").cast("long"), col("k"), col("v"))
        .orderBy("graft_batch_id", "k").collect().map(_.toSeq).toSeq
    }
    assert(rows(killed) == rows(s"$root/clean"))
    assert(rows(killed) == Seq(
      Seq(0L, "A", 1.0), Seq(0L, "B", 2.0),
      Seq(1L, "B", 20.0), Seq(1L, "C", 3.0),
      Seq(2L, "A", 10.0), Seq(2L, "C", 30.0), Seq(2L, "D", 4.0)))
  }

  test("streaming decontamination drops benchmark-contaminated docs per batch") {
    val root = Files.createTempDirectory("graft_decontam_stream")
    val src = s"$root/incoming"
    val target = s"$root/clean"
    val checkpoint = s"$root/checkpoint"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = Streams.runAvailableNow(
        Streams.decontaminateSink(stream, bench, "doc_id", "text",
          target, n = 3, threshold = 0.5), checkpoint)
      q.awaitTermination()
    }

    // doc 1 is mostly benchmark text (contaminated); doc 2 is clean
    Seq((1L, s"$benchText plus tail"),
        (2L, "totally unrelated words nothing shared here at all okay"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    val kept = spark.read.parquet(target)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L), s"contaminated doc must be dropped: $kept")

    // a later batch with another clean doc appends incrementally
    Seq((3L, "more fresh material entirely distinct from the benchmark"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    spark.catalog.refreshByPath(target)
    assert(spark.read.parquet(target).select($"doc_id")
      .as[Long].collect().toSet == Set(2L, 3L))
  }

  test("idempotent sink: a replayed batch overwrites, never duplicates") {
    val root = Files.createTempDirectory("graft_idem")
    val src = s"$root/incoming"
    val target = s"$root/out"
    val checkpoint = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType)))
    Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
      .write.mode("append").parquet(src)
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = Streams.runAvailableNow(
      Streams.idempotentAppendSink(stream, target), checkpoint)
    q.awaitTermination()
    spark.catalog.refreshByPath(target)
    assert(spark.read.parquet(target).count() == 2)
    // simulate the at-least-once failure window: the batch's files
    // committed but the checkpoint never recorded it -> the batch
    // REPLAYS with the same id. The batchId-keyed dynamic overwrite
    // must leave the sink identical, where a plain append doubles it.
    Streams.writeBatchIdempotent(
      Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v"), 0L, target)
    spark.catalog.refreshByPath(target)
    val rows = spark.read.parquet(target)
    assert(rows.count() == 2, "replay must not duplicate")
    assert(rows.select($"k").as[String].collect().toSet == Set("A", "B"))
    // a DIFFERENT batch id still appends
    Streams.writeBatchIdempotent(
      Seq(("C", 3.0)).toDF("k", "v"), 1L, target)
    spark.catalog.refreshByPath(target)
    assert(spark.read.parquet(target).count() == 3)
  }
}
