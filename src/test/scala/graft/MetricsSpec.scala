package graft

import graft.ops.{Lifecycle, Metrics, Scalars}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("observe counters match a direct aggregation (A8)") {
    val status = Lifecycle.statusFromOrders(Tables.orders(spark, TestSpark.sfDir))
    val obs = Observation("run")
    Metrics.observed(status, obs, Metrics.lifecycleCounters).count()
    val m = obs.get
    val direct = status.agg(
      count(lit(1)), sum(when($"is_downloaded", 1L).otherwise(0L)),
      sum(when(coalesce($"download_details", lit("")).startsWith("Failed:"), 1L).otherwise(0L))
    ).head()
    assert(m("n_total") == direct.getLong(0))
    assert(m("n_downloaded") == direct.getLong(1))
    assert(m("n_failed") == direct.getLong(2))
  }

  test("F12 log-line timestamp parse") {
    val got = Seq("[2024-03-05T10:20:30.123456+0000] INFO done").toDF("line")
      .select(Scalars.parseLogLineTs($"line").cast("string")).head().getString(0)
    assert(got == "2024-03-05 10:20:30.123456")
  }
}
