package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The r12→r13 regression pin: the driver regenerated `events.parquet`
  * from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and every hard-coded
  * ns-as-long assumption broke (28 keys threw, 10 streaming keys silently
  * collapsed timestamps ~1000×). The loaders are now SCHEMA-ADAPTIVE —
  * this spec synthesizes a tiny events table in BOTH physical encodings
  * and pins that the batch loader ([[Tables.events]]) and the streaming
  * source (via the i1 query) produce identical results on each.
  *
  * Encoding note: a true TIMESTAMP(NANOS) file can't be written from
  * Spark; under the `nanosAsLong` session conf (pinned in TestSpark, as
  * in Verify/Bench) such a file is OBSERVED as a raw ns `LongType`
  * column — so the legacy side is synthesized as exactly that, which is
  * the loader's actual decision input.
  */
class TsEncodingSpec extends AnyFunSuite {
  import TsEncodingSpec._
  private val spark = TestSpark.spark
  import spark.implicits._

  test("Tables.events adapts to all three ts encodings and agrees exactly") {
    val dirs = writeAll()
    val loaded = dirs.map(d => Tables.events(spark, d))
    loaded.foreach(df => assert(df.schema("ts").dataType == TimestampType,
      "loader must canonicalize ts to TimestampType"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy("event_id").collect().toSeq
    val all = loaded.map(rows)
    assert(all.distinct.size == 1,
      "batch loader must yield identical µs instants on every encoding")
    assert(all.head.map(_.getLong(1)) == baseUs.map(_._2),
      "loaded instants must equal the synthesized epoch-µs values")
  }

  test("streaming source adapts to all three ts encodings (i1 end-to-end)") {
    val dirs = writeAll()
    val q = SparkEntry.queries("i1_stream_tumbling")
    val results = dirs.map(d => q(spark, d).collect().toSeq)
    assert(results.head.nonEmpty, "tumbling agg must emit windows")
    assert(results.head.size >= 3,
      s"3-hour span must yield several (window,type) rows, got ${results.head.size}")
    assert(results.distinct.size == 1,
      "streaming result must be identical across ts encodings")
  }

  test("Tables.events fails loud on an unsupported ts encoding") {
    val root = Tables.scratch(spark, TestSpark.sfTiny, "ts_encoding_bad")
    baseUs.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts_us").cast(StringType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/events.parquet")
    val e = intercept[RuntimeException](Tables.events(spark, root))
    assert(e.getMessage.contains("unsupported physical encoding"))
  }

  test("profileData prints one line per table without throwing") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Tables.profileData(spark, TestSpark.sfTiny)
    }
    val lines = out.toString.linesIterator.filter(_.startsWith("[profile]")).toSeq
    assert(lines.size == 10, s"expected 10 table lines, got ${lines.size}")
    assert(lines.exists(l => l.startsWith("[profile] events(") && l.contains("ts:timestamp")),
      s"events profile line must show the live ts encoding: $lines")
  }
}

object TsEncodingSpec {
  private val spark = TestSpark.spark
  import spark.implicits._

  // (event_id, epoch-µs ts, user_id, event_type, value, props) — spans
  // 3 hours so the i1 tumbling agg yields multiple windows per type
  val baseUs: Seq[(Long, Long, Long, String, Double, String)] = {
    val t0 = 1700000000000000L // 2023-11-14T22:13:20Z, µs
    (0L until 24L).map { i =>
      (i, t0 + i * 450L * 1000000L, i % 5,
        if (i % 3 == 0) "click" else "view", i * 1.5, s"""{"k":$i}""")
    }
  }

  /** The three encodings as Spark-written `events.parquet` directories;
    * returns their table dirs (µs, NTZ, ns-as-long). */
  def writeAll(): Seq[String] = {
    val root = Tables.scratch(spark, TestSpark.sfTiny, "ts_encoding_spec")
    val df = baseUs.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    def emit(sub: String, ts: org.apache.spark.sql.Column): String = {
      df.select(col("event_id"), ts.as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/$sub/events.parquet")
      s"$root/$sub"
    }
    Seq(
      // tz-adjusted µs: a real TimestampType column (TIMESTAMP(MICROS, UTC))
      emit("us", timestamp_micros(col("ts_us"))),
      // un-annotated µs (the 2026-08-13 driver generation): TIMESTAMP_NTZ
      emit("ntz", timestamp_micros(col("ts_us")).cast("timestamp_ntz")),
      // legacy generation: raw ns longs, as a NANOS file arrives under the conf
      emit("ns", col("ts_us") * 1000L))
  }
}
