package graftbench

import graft.ops.{Compaction, Fetch, Incremental, Lifecycle}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference's per-batch DAG on the write path: discovery over paged
  * search results, watermark filter, new-record detection, download with
  * retries, state upsert, retry planning and refetch, and compaction.
  * Every step hands its output to the next through parquet, as the
  * reference's tasks hand over through their database and files.
  */
object Etl {
  val Formats = Seq("gen9ou", "gen9randombattle", "gen9vgc2024regh")
  val PageSize = 51
  val Gap = 37L               // uploadtime spacing of the paged source
  val Window = 4 * PageSize   // rows per format in one batch's discovery window
  val Step = 170              // window advance per batch; windows overlap
  val Lookback = PageSize * Gap // resume one page behind the watermark
  val Batches = 5
  val RetryBatch = 50

  val StateSchema: StructType = StructType(Seq(
    StructField("replay_id", StringType), StructField("format_id", StringType),
    StructField("uploadtime", LongType), StructField("players", StringType),
    StructField("is_downloaded", BooleanType), StructField("download_details", StringType),
    StructField("is_retry_attempted", BooleanType), StructField("attempts", IntegerType),
    StructField("discovered_batch", IntegerType), StructField("downloaded_batch", IntegerType),
    StructField("rev", IntegerType)))

  /** Stable 0..99 bucket of an id: the first 32 bits of md5(salt || id). */
  def bucket(salt: String, id: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest((salt + id).getBytes(UTF_8))
    val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (hi % 100).toInt
  }

  def payload(id: String, b: Int): String =
    s"""{"id":"$id","rating":${1000 + 7 * b},"log":"${"|t:|" * (10 + b)}"}"""

  type Transport = (String, Int) => Either[(String, Boolean), String]

  /** Buckets 0-4 are gone (404); 5-19 fail once with 503; 20-24 fail with
    * 503 on every attempt of the first download and recover for the retry.
    */
  def transport(salt: String, retry: Boolean, calls: LongAccumulator,
                bytes: LongAccumulator): Transport = (id, attempt) => {
    calls.add(1)
    val b = bucket(salt, id)
    val out =
      if (b < 5) Left(("HTTP 404", false))
      else if (!retry && b < 20 && attempt == 1) Left(("HTTP 503", true))
      else if (!retry && b >= 20 && b < 25) Left(("HTTP 503", true))
      else Right(payload(id, b))
    out.foreach(p => bytes.add(p.length))
    out
  }
}

final class Etl(ctx: Ctx) extends Workload {
  import Etl._
  val minWarm = 1
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val salt = s"s${ctx.seed}:"
  // The seed moves the stream's newest upload by whole days.
  private val base = 1704067200L + (ctx.seed % 97) * 86400L
  private def endTs(b: Int): Long = base + b.toLong * Step * Gap

  private val calls = spark.sparkContext.longAccumulator("bench.fetch.calls")
  private val payloadBytes = spark.sparkContext.longAccumulator("bench.fetch.payload_bytes")
  private val mainT = transport(salt, retry = false, calls, payloadBytes)
  private val retryT = transport(salt, retry = true, calls, payloadBytes)

  private val stateHash = mutable.ArrayBuffer.empty[String]
  /** Per (pass, batch): transport calls and payload bytes; in traced passes
    * also rows discovered, new and queued for retry, and the compaction's
    * files written and partitions touched.
    */
  private val batchStats = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]

  private final class Abort extends RuntimeException

  private def passDir(p: Int) = s"${ctx.runDir}/etl/pass$p"

  private def step[A](name: String)(body: => A): A =
    ctx.op(name)(ctx.timed(name)(tr.span(name)(body))).getOrElse(throw new Abort)

  private def read(path: String): DataFrame = spark.read.parquet(path)
  private def write(df: DataFrame, path: String): Unit = df.write.parquet(path)

  /** Hands a step's output to the next step as in-memory blocks: one job,
    * no lineage re-run, no file commit. The batch's state goes to parquet.
    */
  private def hand(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Row count of a handed-over output, taken outside the timed region and
    * only in traced passes (it costs a job).
    */
  private def rows(stats: mutable.Map[String, Double], key: String, df: DataFrame): Unit =
    if (tr.recording) stats(key) = stats.getOrElse(key, 0.0) + df.count()

  /** One DAG run for batch `b` over the window ending at `end`; returns the
    * path of the state after the batch.
    */
  private def batch(dir: String, b: Int, end: Long, total: Long, prev: String): String = {
    val stats = batchStats.getOrElseUpdate((ctx.pass, b), mutable.Map.empty)
    val disc = step("sources.discover") {
      hand(Formats.map(f => spark.read.format("paged-replays").option("format", f)
        .option("total", total).option("pageSize", PageSize).option("endTs", end).load())
        .reduce(_ unionByName _))
    }
    rows(stats, "discovered", disc)
    val prevState = read(prev)
    val wm = step("incremental.watermark") {
      Incremental.highWatermark(prevState, "format_id", "uploadtime").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val fresh = step("lifecycle.new_records") {
      val cursor = wm.foldLeft(lit(Long.MinValue)) { case (c, (f, ts)) =>
        when(col("format_id") === f, lit(ts - Lookback)).otherwise(c)
      }
      hand(Lifecycle.newRecords(Incremental.newSince(disc, "uploadtime", cursor),
                                prevState.select("replay_id"), Seq("replay_id")))
    }
    rows(stats, "new", fresh)
    val (c0, p0) = (calls.value, payloadBytes.value)
    val fetched = step("fetch.fetch")(hand(Fetch.fetchAll(spark, fresh, mainT).toDF()))
    val stateA = step("lifecycle.upsert") {
      val ok = col("payload").isNotNull
      val incoming = fresh.join(fetched, "replay_id").select(
        col("replay_id"), col("format_id"), col("uploadtime"), col("players"),
        ok.as("is_downloaded"),
        when(ok, lit("OK")).otherwise(concat(lit("Failed: "), col("error"))).as("download_details"),
        lit(null).cast(BooleanType).as("is_retry_attempted"), col("attempts"),
        lit(b).as("discovered_batch"), when(ok, lit(b)).as("downloaded_batch"),
        lit(2 * b).as("rev"))
      hand(Lifecycle.upsert(prevState, incoming, Seq("replay_id"), Seq(col("rev").desc)))
    }
    val retry = step("lifecycle.retry_plan")(hand(Lifecycle.retryBatches(stateA, RetryBatch)))
    rows(stats, "retry", retry)
    val refetched = step("fetch.refetch")(hand(Fetch.fetchAll(spark, retry, retryT).toDF()))
    step("lifecycle.upsert") {
      val rf = refetched.select(col("replay_id"), col("payload").as("rp"),
        col("error").as("re"), col("attempts").as("ra"))
      val ok = col("rp").isNotNull
      val outcome = stateA.join(rf, "replay_id").select(
        col("replay_id"), col("format_id"), col("uploadtime"), col("players"),
        ok.as("is_downloaded"),
        when(ok, lit("OK (retry)")).otherwise(concat(lit("Failed: "), col("re"))).as("download_details"),
        lit(true).as("is_retry_attempted"), (col("attempts") + col("ra")).as("attempts"),
        col("discovered_batch"), when(ok, lit(b)).as("downloaded_batch"),
        lit(2 * b + 1).as("rev"))
      write(Lifecycle.upsert(stateA, outcome, Seq("replay_id"), Seq(col("rev").desc)), s"$dir/b$b/state")
    }
    val compactedPath = s"$dir/compacted"
    val t0 = System.currentTimeMillis()
    step("compaction.compact") {
      val docs = fetched.select("replay_id", "payload")
        .unionByName(refetched.select("replay_id", "payload"))
        .filter(col("payload").isNotNull)
        .join(fresh.select("replay_id", "format_id", "uploadtime"), "replay_id")
        .withColumn("batch_seq", lit(b.toLong))
      Compaction.compact(spark, docs, compactedPath, "replay_id", "batch_seq")
    }
    stats("calls") = (calls.value - c0).toDouble
    stats("payload_bytes") = (payloadBytes.value - p0).toDouble
    if (tr.recording) {
      val written = Files.walk(Paths.get(compactedPath)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && !f.toString.contains("_graft_staging") &&
          Files.getLastModifiedTime(f).toMillis >= t0 - 1)
        .toSeq
      stats("files_written") = written.size
      stats("partitions_touched") = written.map(_.getParent).distinct.size
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    s"$dir/b$b/state"
  }

  /** Runs the DAG batch by batch from an empty state; returns the final state. */
  private def dag(dir: String, windows: Seq[(Long, Long)]): String = {
    val empty = s"$dir/empty"
    spark.createDataFrame(java.util.Collections.emptyList[Row](), StateSchema).write.parquet(empty)
    windows.zipWithIndex.foldLeft(empty) { case (prev, ((end, total), b)) =>
      tr.span(s"batch.$b")(batch(dir, b, end, total, prev))
    }
  }

  private val windows = (0 until Batches).map(b => (endTs(b), Window.toLong))

  private def stateKey(df: DataFrame): DataFrame =
    // `players` comes from the generator's index within the window that
    // first discovered an id, so it legitimately differs from a one-shot run.
    df.select("replay_id", "format_id", "uploadtime", "is_downloaded",
              "download_details", "is_retry_attempted", "attempts")

  private var lastPass = 0

  def pass(ctx: Ctx): Unit = {
    lastPass = ctx.pass
    try {
      val fin = dag(passDir(ctx.pass), windows)
      val rows = read(fin).collect().map(_.toString).sorted
      stateHash += java.util.Arrays.hashCode(rows.map(_.hashCode)).toString + ":" + rows.length
    } catch { case _: Abort => }
    if (ctx.pass > 0) deleteTree(passDir(ctx.pass - 1))
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  def finish(ctx: Ctx): Unit = {
    ctx.check("check.passes_agree")(stateHash.distinct.size == 1,
      s"final states differ between passes: ${stateHash.distinct.mkString(", ")}")
    val last = Some(s"${passDir(lastPass)}/b${Batches - 1}/state").filter(p => Files.exists(Paths.get(p)))
    last.foreach { path =>
      val state = read(path)
      val downloaded = state.filter(col("is_downloaded")).select("replay_id")
      val compacted = read(s"${passDir(lastPass)}/compacted").select("replay_id")
      val (n, distinctN) = (compacted.count(), compacted.distinct().count())
      ctx.check("check.compacted_once")(n == distinctN,
        s"${n - distinctN} ids appear more than once in the compacted data")
      ctx.check("check.compacted_is_downloaded")(
        compacted.exceptAll(downloaded).isEmpty && downloaded.exceptAll(compacted).isEmpty,
        "compacted ids differ from the downloaded ids in the state")
      // A single batch over the union of every window must reach the same state.
      val oneShot = ctx.op("check.one_shot_run") {
        dag(s"${ctx.runDir}/etl/oneshot",
            Seq((endTs(Batches - 1), (Batches - 1).toLong * Step + Window)))
      }
      oneShot.foreach { os =>
        val (a, b) = (stateKey(read(path)), stateKey(read(os)))
        ctx.check("check.one_shot_state")(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          "state after the batches differs from the one-shot state")
      }
      read(path).coalesce(1).write.parquet(s"${ctx.runDir}/twin/etl_state")
      Json.write(s"${ctx.runDir}/twin/etl.json", Map(
        "salt" -> salt, "base" -> base, "batches" -> Batches, "window" -> Window,
        "step" -> Step, "gap" -> Gap, "formats" -> Formats))
    }
  }

  def layers(ctx: Ctx, cold: Int, tracedWarm: Seq[Int]): Map[String, Double] = {
    def per(p: Int): Map[String, Double] = {
      val sp = tr.below(s"pass.$p")
      val self = tr.selfSeconds
      def secs(n: String) = sp.filter(_.name == n).map(s => self(s.id)).sum
      def cnt(n: String, k: String) = sp.filter(_.name == n).map(_.counters.getOrElse(k, 0.0)).sum
      val tot = tr.leafTotals(sp)
      val bs = (0 until Batches).map(b => batchStats.getOrElse((p, b), mutable.Map.empty[String, Double]))
      def stat(k: String) = bs.map(_.getOrElse(k, 0.0)).sum
      val discovered = stat("discovered")
      val fresh = stat("new")
      val compact = sp.filter(_.name == "compaction.compact")
      val m = mutable.LinkedHashMap[String, Double](
        "sources.discover_s" -> secs("sources.discover"),
        "sources.pages" -> cnt("sources.discover", "spark.tasks"),
        "sources.rows" -> discovered,
        "incremental.watermark_s" -> secs("incremental.watermark"),
        "lifecycle.new_records_s" -> secs("lifecycle.new_records"),
        "lifecycle.new_share" -> (if (discovered > 0) fresh / discovered else 0.0),
        "lifecycle.upsert_s" -> secs("lifecycle.upsert"),
        "lifecycle.state_rows" -> sp.filter(_.name == "lifecycle.upsert").lastOption
          .map(_.counters.getOrElse("io.records_written", 0.0)).getOrElse(0.0),
        "lifecycle.retry_plan_s" -> secs("lifecycle.retry_plan"),
        "lifecycle.retry_rows" -> stat("retry"),
        "fetch.fetch_s" -> (secs("fetch.fetch") + secs("fetch.refetch")),
        "fetch.attempts_per_id" -> {
          val ids = fresh + stat("retry")
          if (ids > 0) stat("calls") / ids else 0.0
        },
        "fetch.failed_share" -> (if (fresh > 0) stat("retry") / fresh else 0.0),
        "compaction.compact_s" -> secs("compaction.compact"),
        "compaction.partitions_touched" -> stat("partitions_touched"),
        "compaction.files_written" -> stat("files_written"),
        "compaction.write_amp" -> {
          val in = stat("payload_bytes")
          if (in > 0) compact.map(_.counters.getOrElse("io.bytes_written", 0.0)).sum / in else 0.0
        })
      compact.zipWithIndex.foreach { case (s, b) =>
        m(s"compaction.compact_s.b$b") = s.seconds
        m(s"compaction.files_written.b$b") = bs(b).getOrElse("files_written", 0.0)
        m(s"compaction.partitions_touched.b$b") = bs(b).getOrElse("partitions_touched", 0.0)
        val in = bs(b).getOrElse("payload_bytes", 0.0)
        m(s"compaction.write_amp.b$b") = if (in > 0) s.counters.getOrElse("io.bytes_written", 0.0) / in else 0.0
      }
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s", "spark.task_run_s",
          "spark.task_cpu_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "spark.spill_bytes", "catalyst.analysis_ms", "catalyst.optimization_ms",
          "catalyst.planning_ms").foreach(k => m(k) = tot.getOrElse(k, 0.0))
      m.toMap
    }
    val warm = tracedWarm.map(per)
    val out = mutable.LinkedHashMap[String, Double]()
    warm.headOption.foreach(_.keys.foreach { k => out(k) = Main.settled(warm.map(_(k))) })
    out("spark.jobs_cold") = per(cold).getOrElse("spark.jobs", 0.0)
    out.toMap
  }
}
