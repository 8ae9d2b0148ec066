package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-query run record Bench and Verify keep, and the stream_*_parity
  * rows' one helper.
  */
class RunRecordSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def run(name: String, df: => DataFrame): RunRecord =
    RunRecord.run(spark, name, df, noop)

  private def rowsHash(df: DataFrame): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.collect().map(_.toString).mkString("\n").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  test("a plain aggregate's record counts the jobs, stages and tasks it ran") {
    def agg = Tables.orders(spark, TestSpark.sfDir)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    noop(agg) // the session's first read of the table adds a job
    val r = run("agg", agg)
    assert(r.failure.isEmpty)
    // 2 jobs, as countingJobs counted this write before it shared the
    // counter: AQE's shuffle stage, then the result stage
    assert(r.counts.jobs == 2, r.json)
    assert(TestSpark.countingJobs(noop(agg))._2 == 2)
    assert(r.counts.stages >= 2 && r.counts.tasks >= r.counts.stages, r.json)
    assert(r.counts.taskCpuNs > 0 && r.counts.shuffleWriteBytes > 0 &&
           r.counts.shuffleReadBytes > 0, r.json)
    assert(r.constructS >= 0 && r.executeS > 0 && !r.truncated)
  }

  test("a throwing query becomes a failure and the next query still runs") {
    val built = run("boom", throw new IllegalStateException("no \"table\"\there"))
    assert(built.failure.contains(QueryFailure("boom", "java.lang.IllegalStateException",
                                               "no \"table\"\there")))
    assert(built.executeS == 0.0 && built.counts.jobs == 0)
    val ran = RunRecord.run(spark, "boom_at_run", spark.range(3).toDF("id"),
      _ => throw new java.io.IOException("late"))
    assert(ran.failure.contains(QueryFailure("boom_at_run", "java.io.IOException", "late")))
    val next = run("next", spark.range(10).selectExpr("sum(id)"))
    assert(next.failure.isEmpty && next.counts.jobs > 0, next.json)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(built.json)
    assert(json.get("failure").get("exception").asText == "java.lang.IllegalStateException")
    assert(json.get("failure").get("message").asText == "no \"table\"\there")
    assert(json.get("jobs").asLong == 0L)
  }

  test("a stream_*_parity row records the jobs its stream thread ran") {
    val r = run("stream_daily_parity",
      SparkEntry.queries("stream_daily_parity")(spark, TestSpark.sfDir))
    assert(r.failure.isEmpty && r.counts.jobs > 0 && r.counts.stages > 0, r.json)
  }

  test("a saturating orderedReport sets truncated on that query's record only") {
    def small = spark.range(10).toDF("id")
      .transform(CatalogCore.orderedReport(_, col("id")))
    val rs = Seq(run("before", small),
      run("saturated", spark.range(CatalogCore.ReportBound + 50L).toDF("id")
        .transform(CatalogCore.orderedReport(_, col("id")))),
      run("after", small))
    assert(rs.map(_.truncated) == Seq(false, true, false), rs.map(_.json))
  }

  test("parity streams drop their memory-sink views; results and hashes are unchanged") {
    // row hashes at sf0.001, as the stream rows returned them before the
    // helper dropped the views
    val pinned = Map(
      "stream_daily_parity" -> "facb57a0c5e47b22",
      "stream_dedup_parity" -> "ca8b5006a15c858c",
      "stream_session_parity" -> "a2a3269828874fb6",
      "stream_retry_parity" -> "92e5ad521f48e561",
      "stream_context_parity" -> "ecbef6dea34eb1f7")
    def parityViews =
      spark.catalog.listTables().collect().map(_.name).filter(_.matches("graft_.*_parity_\\d+"))
    for ((name, hash) <- pinned) {
      val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      assert(parityViews.isEmpty, s"$name left ${parityViews.mkString(", ")}")
      assert(rowsHash(df) == hash, name)
    }
  }
}
