package graft

import graft.sources.PagedReplaySource
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamReader
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The live-network streaming discovery source over a REAL socket: an
  * in-process HTTP server reproduces the reference search API
  * (api.py:13-42 — JSON pages in descending uploadtime, `before` cursor,
  * short page ⇒ exhausted), and the `paged-replays` MicroBatchStream walks
  * it with per-trigger admission control and a real offset log.
  */
class LiveDiscoveryStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val pageSize = 51
  private val nRows = 130 // pages: 51 + 51 + 28(short) → 3 real triggers

  /** The synthetic API's corpus, in descending uploadtime (strictly, gappy). */
  private def corpus: Seq[PagedReplaySource.ReplayRow] =
    (0 until nRows).map(i => PagedReplaySource.row("gen9ou", 1704067200L, i))
  private def allRows: Seq[(String, Long)] = corpus.map(r => (r.id, r.uploadtime))

  private def pageJson(before: Option[Long]): String = {
    val page = corpus.filter(r => before.forall(r.uploadtime < _)).take(pageSize)
    page.map { r =>
      s"""{"id":"${r.id}","format":"${r.format}","uploadtime":${r.uploadtime},""" +
        s""""players":"${r.players}"}"""
    }.mkString("[", ",", "]")
  }

  private def startServer(hits: AtomicInteger, failFirst: Boolean = false) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    server.createContext("/search.json", ex => {
      val n = hits.incrementAndGet()
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val before = query.split("&").collectFirst {
        case kv if kv.startsWith("before=") => kv.stripPrefix("before=").toLong
      }
      val (code, body) =
        if (failFirst && !failed.getAndSet(true)) (503, "busy") // one transient 5xx
        else (200, pageJson(before))
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    server
  }

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  test("live discovery: >= 2 real triggers over a live server, short page " +
       "ends the stream, rows exactly once (S1/T1/T3/T6 network-real)") {
    val hits = new AtomicInteger(0)
    val server = startServer(hits)
    try {
      val port = server.getAddress.getPort
      val q = spark.readStream.format("paged-replays")
        .option("baseUrl", s"http://127.0.0.1:$port/search.json")
        .option("format", "gen9ou")
        .option("pageSize", pageSize.toString)
        .option("maxPagesPerTrigger", "1") // one page per trigger → 3 batches
        .load()
        .writeStream.format("memory").queryName("live_disc")
        .option("checkpointLocation", tmp("live-ckpt"))
        .start()
      try {
        q.processAllAvailable()
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        assert(batches.length == 3,
          s"3 pages at 1 page/trigger = 3 real triggers, got ${batches.length}")
        assert(batches.map(_.numInputRows).toSeq == Seq(51L, 51L, 28L),
          "admission control bounds each trigger to one page; last page short")
        val out = spark.sql("SELECT replay_id, uploadtime FROM live_disc").collect()
        assert(out.length == nRows, "every row delivered")
        assert(out.map(_.getString(0)).distinct.length == nRows, "exactly once")
        assert(out.map(_.getLong(1)).toSet == allRows.map(_._2).toSet)
        // short page ⇒ exhausted: nothing more arrives on a further nudge
        q.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM live_disc").head().getLong(0)
          == nRows.toLong)
      } finally q.stop()
      // the server really served the walk: 1 GET per page (no double fetch)
      assert(hits.get() >= 3 && hits.get() <= 4,
        s"one classified GET per page (+ at most one probe), got ${hits.get()}")
    } finally server.stop(0)
  }

  test("one walk over both page functions: the synthetic API and the live " +
       "server give the same micro-batches and rows") {
    def batches(reader: DataStreamReader): Seq[(Long, Seq[String])] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String])]()
      val q = reader.option("format", "gen9ou")
        .option("pageSize", pageSize.toString).option("maxPagesPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          buf.add(id -> b.collect().map((r: Row) => r.mkString("|")).sorted.toSeq); ()
        }
        .option("checkpointLocation", tmp("walk-ckpt"))
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.asScala.toSeq.sortBy(_._1)
    }
    val synthetic = batches(spark.readStream.format("paged-replays")
      .option("total", nRows.toString))
    assert(synthetic.map(_._2.size) == Seq(51, 51, 28), "one page per trigger, last short")
    val server = startServer(new AtomicInteger(0))
    val live =
      try batches(spark.readStream.format("paged-replays")
        .option("baseUrl", s"http://127.0.0.1:${server.getAddress.getPort}/search.json"))
      finally server.stop(0)
    assert(live == synthetic)
  }

  test("live discovery: transient 5xx is retried with backoff; a restarted " +
       "query resumes from the committed cursor, not page 0 (T1/T4)") {
    val hits = new AtomicInteger(0)
    val server = startServer(hits, failFirst = true)
    try {
      val port = server.getAddress.getPort
      val ckpt = tmp("live-ckpt2")
      val outDir = tmp("live-out2")
      def start() = spark.readStream.format("paged-replays")
        .option("baseUrl", s"http://127.0.0.1:$port/search.json")
        .option("format", "gen9ou")
        .option("pageSize", pageSize.toString)
        .option("maxPagesPerTrigger", "1")
        .load()
        .writeStream.format("parquet") // file sink: supports ckpt recovery
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      // run 1: two pages, then stop mid-stream
      val q1 = start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (q1.recentProgress.map(_.numInputRows).sum < 102 &&
               System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(q1.recentProgress.map(_.numInputRows).sum >= 102)
      } finally q1.stop()
      // run 2 from the same checkpoint: only the tail is fetched
      val q2 = start()
      try {
        q2.processAllAvailable()
        val run2Rows = q2.recentProgress.map(_.numInputRows).sum
        assert(run2Rows <= nRows - 102 + pageSize,
          s"resume from the committed cursor, not page 0: $run2Rows rows")
      } finally q2.stop()
      val out = spark.read.parquet(outDir).collect()
      assert(out.length == nRows, s"all rows across both runs: ${out.length}")
      assert(out.map(_.getString(0)).distinct.length == nRows,
        "no page re-delivered across the restart (exactly once end to end)")
    } finally server.stop(0)
  }
}
