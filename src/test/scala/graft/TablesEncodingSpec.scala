package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the events.ts encoding detection (Tables.tsEncoding) against all
  * three on-disk shapes the driver has shipped: TIMESTAMP(MICROS,
  * adjustedToUTC=true) → TimestampType, TIMESTAMP(MICROS,
  * adjustedToUTC=false) → TimestampNTZType (Spark infers NTZ — the round-5
  * regression), and un-annotated INT64 nanos (stand-in for TIMESTAMP(NANOS),
  * which Spark cannot write). `Tables.events` must normalize every shape to
  * the SAME microsecond TimestampType values, and `eventsSinceMicros` must
  * filter identically with the predicate pushed in the on-disk type.
  */
class TablesEncodingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 2024-03-01 00:00:00 UTC plus sub-second offsets — micros precision.
  private val baseMicros = 1709251200000000L
  private val microsVals = Seq(0L, 1L, 999999L, 86400000000L, 86400000001L).map(baseMicros + _)

  private def rows: DataFrame =
    microsVals.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong % 2, s"e$i", i.toDouble, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")

  private def writeDir(suffix: String)(f: DataFrame => DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-tsenc-$suffix").toString
    f(rows).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def withOutputTsType[A](t: String)(body: => A): A = {
    val key  = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, t)
    try body finally spark.conf.set(key, prev)
  }

  private lazy val nativeDir = withOutputTsType("TIMESTAMP_MICROS") {
    writeDir("native")(_.withColumn("ts", timestamp_micros(col("us"))).drop("us"))
  }
  private lazy val int96Dir = withOutputTsType("INT96") {
    writeDir("int96")(_.withColumn("ts", timestamp_micros(col("us"))).drop("us"))
  }
  private lazy val ntzDir = writeDir("ntz")(
    _.withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz")).drop("us"))
  private lazy val nanosDir = writeDir("nanos")(
    _.withColumn("ts", col("us") * 1000L).drop("us"))

  private def readMicros(dir: String): Map[Long, Long] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("all encodings normalize to identical microsecond TimestampType") {
    val expected = microsVals.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    for ((dir, label) <- Seq((nativeDir, "native"), (int96Dir, "int96"),
                             (ntzDir, "ntz"), (nanosDir, "nanos"))) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$label: ts must surface as TimestampType")
      assert(readMicros(dir) == expected, s"$label: values must be exact micros")
    }
  }

  test("eventsSinceMicros filters identically across encodings (strict >)") {
    val wm = microsVals(2) // == base+999999; strictly-after leaves 2 rows
    for ((dir, label) <- Seq((nativeDir, "native"), (int96Dir, "int96"),
                             (ntzDir, "ntz"), (nanosDir, "nanos"))) {
      val got = Tables.eventsSinceMicros(spark, dir, wm)
        .select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
      assert(got == microsVals.drop(3), s"$label: watermark filter must be strict-after in micros")
    }
  }

  test("an events file rewritten to another encoding is re-classified in the same session") {
    val expected = microsVals.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    val dir = withOutputTsType("TIMESTAMP_MICROS") {
      writeDir("rewrite")(_.withColumn("ts", timestamp_micros(col("us"))).drop("us"))
    }
    assert(readMicros(dir) == expected, "native micros before the rewrite")
    // same path, now un-annotated INT64 nanos: a memo of the first footer
    // would keep the micros decode (or the stale file listing)
    rows.withColumn("ts", col("us") * 1000L).drop("us")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.events(spark, dir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(readMicros(dir) == expected, "INT64 nanos after the rewrite")
    val got = Tables.eventsSinceMicros(spark, dir, microsVals(2))
      .select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
    assert(got == microsVals.drop(3))
  }

  private def fixtureDir(resource: String, as: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tsenc-real").toString
    val in = getClass.getResourceAsStream(s"/graft/$resource")
    java.nio.file.Files.copy(in, java.nio.file.Paths.get(s"$dir/$as"))
    in.close(); dir
  }

  test("real TIMESTAMP(NANOS) events fixture decodes to exact micros") {
    // pyarrow-written timestamp[ns] — the encoding Spark inference rejects
    // outright; the events loader must route it through the raw-long path
    val dir = fixtureDir("nanos_events.parquet", "events.parquet")
    assert(readMicros(dir) == microsVals.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap)
    val got = Tables.eventsSinceMicros(spark, dir, microsVals(2))
      .select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
    assert(got == microsVals.drop(3))
  }

  test("generic tables with TIMESTAMP(NANOS) columns normalize via the footer path") {
    // any OTHER table shipping a nanos column must not take down its scans:
    // Tables.table builds the schema in nanosAsLong mode and normalizes
    val dir = fixtureDir("nanos_table.parquet", "t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val got = df.select(col("id"), unix_micros(col("ts"))).as[(Long, Long)]
      .collect().toMap
    assert(got == microsVals.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap)
    // non-timestamp columns ride through the explicit schema untouched
    assert(df.select(sum(col("x"))).as[Double].head() == (0 until 5).map(_ * 1.5).sum)
  }

  test("NTZ watermark predicate reaches the parquet scan as a pushed filter") {
    val plan = Tables.eventsSinceMicros(spark, ntzDir, microsVals(2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      s"expected ts pushdown in NTZ plan, got:\n$plan")
  }
}
