package graft

import graft.serve.Screeners

/** §2.11 serving envelope: the reference's `ScreenerResponse` model has
  * exactly {success, data, count, screener_type, timestamp, error}, in
  * that order, all always present (null serialized). */
class ScreenersSpec extends SparkSpec {
  import spark.implicits._

  private val keys =
    Seq("success", "data", "count", "screener_type", "timestamp", "error")

  private def keyOrder(json: String): Seq[Int] =
    keys.map(k => json.indexOf("\"" + k + "\":"))

  test("screener discovery lists the registry's btst/swing/position set") {
    assert(Screeners.registry.keySet == Set("btst", "position", "swing"))
  }

  test("success envelope carries all six ScreenerResponse keys in model order") {
    val scored = Seq(("AAA", 9.1, 8.0), ("BBB", 7.2, 6.5))
      .toDF("symbol", "composite_score", "fundamental_score")
    val resp = Screeners.respond(spark, "btst", scored)
    val pos = keyOrder(resp)
    assert(pos.forall(_ >= 0), s"missing keys in $resp")
    assert(pos == pos.sorted, s"keys out of model order in $resp")
    assert(resp.contains("\"success\":true"))
    assert(resp.contains("\"count\":2"))
    assert(resp.contains("\"screener_type\":\"btst\""))
    assert(resp.contains("\"error\":null"))
  }

  test("unknown screener answers success=false with the reference error text") {
    val scored = Seq(("AAA", 1.0, 1.0))
      .toDF("symbol", "composite_score", "fundamental_score")
    val resp = Screeners.respond(spark, "nope", scored)
    val pos = keyOrder(resp)
    assert(pos.forall(_ >= 0) && pos == pos.sorted)
    assert(resp.contains("\"success\":false"))
    assert(resp.contains("\"data\":null"))
    assert(resp.contains("\"count\":0"))
    assert(resp.contains("\"error\":\"Failed to fetch data for screener: nope\""))
  }

  test("toJsonRecords equals Dataset.toJSON byte for byte on every value " +
    "kind: nulls, non-finite and extreme numbers, escapes, nested types") {
    import java.math.BigDecimal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("d", DoubleType),
      StructField("f", FloatType),
      StructField("l", LongType),
      StructField("dec", DecimalType(38, 18)),
      StructField("s", StringType),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("b", BooleanType),
      StructField("arr", ArrayType(DoubleType)),
      StructField("st", StructType(Seq(StructField("x", LongType),
        StructField("y", StringType)))),
      StructField("m", MapType(StringType, DoubleType))))
    val doubles = Seq(null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 1e-7, 1e21, 0.1 + 0.2)
    val floats = Seq(null, Float.NaN, Float.PositiveInfinity, -0.0f,
      1.1f, 3.4e38f, 1e-7f, 16777217f)
    val longs = Seq(null, Long.MinValue, Long.MaxValue, 0L, -1L, 1L, 42L, 7L)
    val decimals = Seq(null, new BigDecimal("-12345678901234567890.123456789012345678"),
      new BigDecimal("0.000000000000000001"), BigDecimal.ZERO,
      new BigDecimal("1E+3"), new BigDecimal("-0.5"), new BigDecimal("99"),
      new BigDecimal("3.14"))
    val strings = Seq(null, "say \"hi\"", "back\\slash", "ctl\u0001\u001f\b\f",
      "line\nfeed\r\ttab", "emoji 😀 𝄞", "", " é/</")
    val rows = (0 until 8).map { i =>
      Row(i, doubles(i), floats(i), longs(i), decimals(i), strings(i),
        if (i == 0) null else java.sql.Date.valueOf(f"19${60 + i * 5}-0${i}-1${i}"),
        if (i == 1) null else java.sql.Timestamp.valueOf(
          f"20${10 + i}-12-31 23:59:5${i}.${i * 111111}%06d"),
        if (i == 2) null else i % 2 == 0,
        if (i == 3) null else Seq(doubles(i), i.toDouble, null),
        if (i == 4) null else Row(longs(i), strings(i)),
        if (i == 5) null else Map(s"k$i" -> doubles(i), "\"q\"" -> null))
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val expected = df.limit(1000).toJSON.collect().toSeq
    assert(expected.size == 8)
    assert(Screeners.toJsonRecords(df) == expected)
    assert(Screeners.toJsonRecords(df, 3) == df.limit(3).toJSON.collect().toSeq)
    // through a screener's top-k, the plan the serving path runs
    val ranked = df.select(concat(lit("S"), col("id")).as("symbol"),
      col("d").as("composite_score"), col("*"))
    assert(Screeners.toJsonRecords(Screeners.run("btst", ranked)) ==
      Screeners.run("btst", ranked).limit(1000).toJSON.collect().toSeq)
  }

  test("query failure is caught into the envelope, not thrown") {
    // 'swing' filters on market_cap_category, absent here → analysis error
    val scored = Seq(("AAA", 1.0)).toDF("symbol", "composite_score")
    val resp = Screeners.respond(spark, "swing", scored)
    assert(resp.contains("\"success\":false"))
    assert(resp.contains("\"data\":null"))
    assert(resp.startsWith("{\"success\":false,\"data\":null,\"count\":0,"))
    // Spark analysis errors span multiple lines — the envelope must stay
    // valid JSON, i.e. no raw control characters survive the escape
    assert(!resp.exists(_ < ' '), "raw control char leaked into envelope")
  }
}
