package graft

import graft.ops.Lifecycle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PagedReplaySourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def source(total: Long, pageSize: Int = 51) =
    spark.read.format("paged-replays")
      .option("format", "gen9ou").option("total", total.toString)
      .option("pageSize", pageSize.toString)
      .load()

  test("serves the requested volume in page-sized partitions (S1)") {
    val df = source(200, 51)
    assert(df.count() == 200)
    assert(df.rdd.getNumPartitions == 4, "⌈200/51⌉ pages, one partition each")
    assert(df.select("replay_id").distinct().count() == 200)
  }

  test("uploadtime strictly descends across the page stream") {
    val ts = source(150).orderBy($"uploadtime".desc).select("uploadtime").as[Long].collect()
    assert(ts.sliding(2).forall(w => w(0) > w(1)))
  }

  test("limit pushdown plans only the needed pages (T3 early termination)") {
    val plan = source(100000, 51).limit(10).queryExecution.executedPlan.toString
    assert(plan.contains("paged-replays"), plan)
    // the pushed scan advertises the reduced total
    assert(plan.contains("total=10"), s"limit did not reach the source:\n$plan")
  }

  private def scanRows(df: org.apache.spark.sql.DataFrame): Seq[Option[BigInt]] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.rowCount
    }

  test("the scan reports its row count, plain and under a pushed LIMIT") {
    val plain = source(500)
    assert(plain.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(500)))
    assert(scanRows(plain) == Seq(Some(BigInt(500))))
    assert(plain.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(500L * sources.PagedReplaySource.schema.defaultSize))
    val limited = source(100000).limit(10)
    assert(limited.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(10)))
    assert(scanRows(limited) == Seq(Some(BigInt(10))), "the pushed total is the scan's count")
  }

  test("a local-checkpointed discovery frame joined to a small one plans a broadcast") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // both sides' only size estimate is the paged source's: checkpoints
    // keep their origin plan's statistics
    val disc = source(500).localCheckpoint()
    val small = source(20).select($"replay_id", lit(1).as("seen")).localCheckpoint()
    val plan = disc.join(small, "replay_id").queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size == 1, plan.toString)
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
  }

  test("streaming face: throttled micro-batches drain the stream (T1/T3/T6)") {
    val q = spark.readStream.format("paged-replays")
      .option("format", "gen9ou").option("total", "300")
      .option("pageSize", "51").option("maxPagesPerTrigger", "2")
      .load()
      .writeStream.outputMode("append").format("memory").queryName("paged_stream")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM paged_stream").head().getLong(0) == 300)
      assert(spark.sql("SELECT count(DISTINCT replay_id) FROM paged_stream").head().getLong(0) == 300)
      // ⌈300/51⌉ = 6 pages at ≤2 pages/trigger ⇒ at least 3 micro-batches
      assert(q.lastProgress.batchId >= 2, s"batchId=${q.lastProgress.batchId}")
    } finally q.stop()
  }

  test("streaming restart resumes from the checkpointed offset without duplicates") {
    val ckpt = java.nio.file.Files.createTempDirectory("paged-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("paged-out").toString
    def run(): Unit = {
      val q = spark.readStream.format("paged-replays")
        .option("format", "gen9ou").option("total", "300")
        .option("pageSize", "51").option("maxPagesPerTrigger", "2")
        .load()
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // drains the whole stream
    run() // restart from checkpoint: a regressing offset would re-emit pages
    val rows = spark.read.parquet(out)
    assert(rows.count() == 300, "restart re-delivered or lost pages")
    assert(rows.select("replay_id").distinct().count() == 300)
  }

  test("a synthetic stream stopped mid-walk and restarted re-delivers nothing") {
    val ckpt = java.nio.file.Files.createTempDirectory("paged-ckpt2").toString
    val out = java.nio.file.Files.createTempDirectory("paged-out2").toString
    def start() = spark.readStream.format("paged-replays")
      .option("format", "gen9ou").option("total", "300")
      .option("pageSize", "51").option("maxPagesPerTrigger", "1")
      .load()
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .start()
    val q1 = start()
    val run1 =
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
               System.currentTimeMillis() < deadline)
          Thread.sleep(10)
        q1.stop()
        q1.recentProgress.map(_.numInputRows).sum
      } finally q1.stop()
    assert(run1 >= 102)
    val q2 = start()
    val run2 = try { q2.processAllAvailable(); q2.recentProgress.map(_.numInputRows).sum }
               finally q2.stop()
    assert(run1 + run2 == 300, s"run 1 served $run1 rows, run 2 $run2")
    val rows = spark.read.parquet(out)
    assert(rows.count() == 300 && rows.select("replay_id").distinct().count() == 300)
  }

  test("offsets round-trip with their cursor; a page past 0 without one is refused") {
    import graft.sources.{PagedMicroBatchStream, PagedReplaySource, PageOffset}
    val stream = new PagedMicroBatchStream(
      PagedReplaySource.syntheticPage("gen9ou", 300, 51, 1704067200L), 51, 2)
    for (o <- Seq(PageOffset(0, None), PageOffset(2, Some(1704063463L))))
      assert(stream.deserializeOffset(o.json()) == o)
    // a page-only offset would resume from the newest row and re-deliver
    intercept[IllegalArgumentException](stream.deserializeOffset("""{"page":3}"""))
  }

  test("a batch read with baseUrl fails and names the option") {
    val e = intercept[IllegalArgumentException](
      spark.read.format("paged-replays").option("baseUrl", "http://127.0.0.1:9/search.json")
        .load().count())
    assert(e.getMessage.contains("baseUrl"), e.getMessage)
  }

  test("discovery flow: anti-join new pages against the status table (J2)") {
    val incoming = source(300).select("replay_id", "format_id", "uploadtime")
    val known = incoming.limit(120).select("replay_id")
    val newOnes = Lifecycle.newRecords(incoming, known, Seq("replay_id"))
    assert(newOnes.count() == 180)
  }
}
