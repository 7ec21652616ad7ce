package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {

  test("streaming dedup by key with watermark drops in-stream duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, String)]
    val df = input.toDF().toDF("article_url", "event_ts", "headline")
    val deduped = Streams.dedupByKey(df, "article_url", "event_ts", "10 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("news_dedup").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
      input.addData(("u1", t0, "first"), ("u2", t0, "second"))
      q.processAllAvailable()
      input.addData(("u1", t1, "dup of u1"), ("u3", t1, "third"))
      q.processAllAvailable()
      val urls = spark.table("news_dedup").select($"article_url")
        .collect().map(_.getString(0)).toSeq.sorted
      assert(urls == Seq("u1", "u2", "u3"))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins each micro-batch to the dim table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Double)]
    val dim = Seq(("Energy", 0.9), ("Tech", 0.4)).toDF("sector", "sector_score")
    val enriched = Streams.enrich(
      input.toDF().toDF("sector", "value"), dim, "sector")
    val q = enriched.writeStream.format("memory")
      .queryName("enriched").outputMode("append").start()
    try {
      input.addData(("Energy", 1.0), ("Pharma", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select($"sector", $"sector_score").collect()
        .map(r => r.getString(0) -> Option(r.get(1))).toMap
      assert(rows("Energy") == Some(0.9))
      assert(rows("Pharma") == None) // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streams.SessionEvent]
    val sessions = Streams.statefulSessions(input.toDS(), gapSec = 1800L)
    val q = sessions.writeStream.format("memory")
      .queryName("stateful_sessions").outputMode("append").start()
    try {
      input.addData(
        Streams.SessionEvent(10L, 0L, 1.0),
        Streams.SessionEvent(10L, 100L, 2.0),
        Streams.SessionEvent(20L, 50L, 5.0))
      q.processAllAvailable()
      // nothing closed yet — both sessions still open in state
      assert(spark.table("stateful_sessions").count() == 0)
      // user 10: event 2500s after last -> closes first session
      input.addData(Streams.SessionEvent(10L, 2500L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("stateful_sessions")
        .as[Streams.ClosedSession].collect().toSet
      assert(rows == Set(Streams.ClosedSession(10L, 0L, 100L, 2L, 3.0)))
      // user 10 again far later -> closes the second session
      input.addData(Streams.SessionEvent(10L, 9999L, 4.0))
      q.processAllAvailable()
      assert(spark.table("stateful_sessions").count() == 2)
    } finally q.stop()
  }

  test("streaming windowed aggregation with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("event_ts", "event_type", "value")
    val agg = Streams.windowedAgg(df, "event_ts", "1 hour", "2 hours",
      Seq("event_type"), "value")
    val q = agg.writeStream.format("memory")
      .queryName("win_agg").outputMode("complete").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:50:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 01:10:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select($"event_type", $"n_events", $"value_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("click", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming heavy hitters: bounded per-group state, MG bound holds across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streams.ItemEvent]
    val hh = Streams.streamingHeavyHitters(input.toDS(), k = 2)
    val q = hh.writeStream.format("memory")
      .queryName("stream_hh").outputMode("update").start()
    try {
      input.addData(
        (Seq.fill(5)(Streams.ItemEvent("g", "hot")) ++
          Seq(Streams.ItemEvent("g", "x1"), Streams.ItemEvent("g", "x2"),
            Streams.ItemEvent("g", "x3"))): _*)
      q.processAllAvailable()
      // second batch keeps hammering 'hot' plus fresh noise
      input.addData(
        (Seq.fill(4)(Streams.ItemEvent("g", "hot")) ++
          Seq(Streams.ItemEvent("g", "y1"), Streams.ItemEvent("g", "y2"))): _*)
      q.processAllAvailable()
      val last = spark.table("stream_hh").as[Streams.HHSummary]
        .collect().maxBy(_.n)
      assert(last.n === 14L)
      assert(last.items.size <= 2) // bounded state
      // 'hot' has true count 9 > N/(k+1) = 14/3 -> MUST be tracked,
      // with a lower-bound weight within N/(k+1) of the truth
      assert(last.items.contains("hot"))
      assert(last.items("hot") <= 9L && last.items("hot") >= 9L - 14L / 3)
    } finally q.stop()
  }

  test("streaming heavy hitters: a NULL item is skipped, not counted, and " +
    "the stream lives on") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streams.ItemEvent]
    val hh = Streams.streamingHeavyHitters(input.toDS(), k = 2)
    val q = hh.writeStream.format("memory")
      .queryName("stream_hh_null").outputMode("update").start()
    try {
      input.addData(Streams.ItemEvent("g", "hot"), Streams.ItemEvent("g", null),
        Streams.ItemEvent("g", "hot"))
      q.processAllAvailable()
      input.addData(Streams.ItemEvent("g", null), Streams.ItemEvent("g", "x"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
      val last = spark.table("stream_hh_null").as[Streams.HHSummary]
        .collect().maxBy(_.n)
      assert(last.n === 3L, "n counts the non-NULL items only")
      assert(last.items == Map("hot" -> 2L, "x" -> 1L))
    } finally q.stop()
  }

  test("stageBatchFiles: a NULL batch value fails as a named harness " +
    "error, not a number parse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_null_batch")
    val df = Seq(("a", Some(0)), ("b", None), ("c", Some(1))).toDF("v", "b")
    val e = intercept[IllegalArgumentException] {
      Streams.stageBatchFiles(df, "b", s"$dir/feed")
    }
    assert(!e.isInstanceOf[NumberFormatException])
    assert(e.getMessage.contains("non-NULL") &&
      e.getMessage.contains("b=__HIVE_DEFAULT_PARTITION__"), e.getMessage)
  }
}
