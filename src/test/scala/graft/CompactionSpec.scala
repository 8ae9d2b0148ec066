package graft

import graft.ops.{Compaction, Lifecycle}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-compact").toString

  private def batch(rows: Seq[(String, String, Long, String)]) =
    rows.toDF("replay_id", "format_id", "uploadtime", "payload")

  private val day1 = 1704067200L // 2024-01-01
  private val day2 = 1704153600L // 2024-01-02

  test("compact writes date-partitioned parquet and dedups on append (S5/U1/U5)") {
    val path = tmp()
    Compaction.compact(spark,
      batch(Seq(("r1", "f", day1, "v1"), ("r2", "f", day1, "v1"))),
      path, "replay_id", "uploadtime")
    assert(spark.read.parquet(path).count() == 2)

    // second batch: r2 re-delivered with a later uploadtime (wins), r3 new on day2
    Compaction.compact(spark,
      batch(Seq(("r2", "f", day1 + 60, "v2"), ("r3", "f", day2, "v1"))),
      path, "replay_id", "uploadtime")
    val out = spark.read.parquet(path)
    assert(out.count() == 3, "dedup by key kept one row per replay")
    val r2 = out.filter($"replay_id" === "r2").collect().head
    assert(r2.getAs[String]("payload") == "v2", "latest-by-uploadtime survives")
    // partition layout exists
    assert(new java.io.File(s"$path/format_id=f/day=2024-01-02").exists())
  }

  test("P7/S8: extension glob + directory listing select only matching files") {
    // the reference lists a replay directory and keeps '*.json'
    // (import_existing_replays.py:28-34); the Spark form is the reader's
    // pathGlobFilter — the non-matching file is never read, not read-and-dropped
    val dir = tmp()
    Files.writeString(java.nio.file.Path.of(dir, "r-1.json"), """{"replay_id":"r-1"}""")
    Files.writeString(java.nio.file.Path.of(dir, "r-2.json"), """{"replay_id":"r-2"}""")
    Files.writeString(java.nio.file.Path.of(dir, "notes.txt"), "not a replay")
    val ids = spark.read.schema("replay_id STRING")
      .option("pathGlobFilter", "*.json").json(dir)
      .select("replay_id").as[String].collect().toSet
    assert(ids == Set("r-1", "r-2"))
  }

  test("first compaction into a path that does not exist yet: rows land, no sink WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val path = tmp() + "/not/yet/there"
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("compaction-spec", null, null, true,
                                        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("FileStreamSink"))
          warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try Compaction.compact(spark,
      batch(Seq(("r1", "f", day1, "v1"), ("r2", "f", day2, "v1"))),
      path, "replay_id", "uploadtime")
    finally { root.removeAppender(appender.getName); ctx.updateLoggers(); appender.stop() }
    val rows = spark.read.parquet(path).select("replay_id", "payload").as[(String, String)]
      .collect().toSet
    assert(rows == Set(("r1", "v1"), ("r2", "v1")))
    assert(warned.isEmpty, s"FileStreamSink logged: ${warned.peek()}")
  }

  test("untouched partitions survive dynamic overwrite") {
    val path = tmp()
    Compaction.compact(spark, batch(Seq(("a", "f", day1, "x"))), path, "replay_id", "uploadtime")
    Compaction.compact(spark, batch(Seq(("b", "f", day2, "y"))), path, "replay_id", "uploadtime")
    val days = spark.read.parquet(path).select("day").distinct().count()
    assert(days == 2, "day1 partition not clobbered by day2-only batch")
  }

  /** Visible parquet files of a dataset: path relative to it → length. */
  private def files(path: String): Map[String, Long] = {
    val root = java.nio.file.Path.of(path)
    Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && !f.toString.contains("_graft_staging"))
      .map(f => root.relativize(f).toString -> Files.size(f)).toMap
  }

  private def stagingEmpty(path: String): Boolean = {
    val root = new java.io.File(Compaction.stagingRoot(path))
    !root.exists() || root.list().isEmpty
  }

  test("crash between stage and commit point: old data intact, recover " +
       "rolls back") {
    val path = tmp()
    Compaction.compact(spark, batch(Seq(("r1", "f", day1, "old"))),
      path, "replay_id", "uploadtime")
    // stage a colliding batch and its merge, but "die" before the journal —
    // the staging dir is hidden, so readers still see exactly the old data
    val staged = Compaction.deduped(batch(Seq(("r1", "f", day1 + 60, "new"))),
      "replay_id", "uploadtime")
    val txn = Compaction.stage(spark, staged, path)
    Compaction.mergeStaged(spark, path, txn, Seq("format_id=f/day=2024-01-01"),
      "replay_id", "uploadtime", Seq.empty, staged.schema)
    val seen = spark.read.parquet(path).collect()
    assert(seen.length == 1 &&
      seen.head.getAs[String]("payload") == "old",
      "a reader mid-crash sees the old partition, whole")
    val (fwd, back) = Compaction.recover(spark, path)
    assert(fwd == 0 && back == 1, s"pre-commit leftovers roll back: $fwd/$back")
    assert(spark.read.parquet(path).count() == 1, "old data still intact")
    // staging root is clean — the next compact starts fresh
    Compaction.compact(spark, batch(Seq(("r1", "f", day1 + 60, "new"))),
      path, "replay_id", "uploadtime")
    assert(spark.read.parquet(path).collect()
      .head.getAs[String]("payload") == "new")
  }

  test("crash after the commit point: recover rolls the swap forward") {
    val path = tmp()
    Compaction.compact(spark, batch(Seq(("r1", "f", day1, "old"))),
      path, "replay_id", "uploadtime")
    val staged = Compaction.deduped(
      batch(Seq(("r1", "f", day1 + 60, "new"), ("r2", "f", day2, "d2"))),
      "replay_id", "uploadtime")
    val rels = Seq(s"format_id=f/day=2024-01-01", s"format_id=f/day=2024-01-02")
    val txn = Compaction.mergeStaged(spark, path, Compaction.stage(spark, staged, path),
      rels, "replay_id", "uploadtime", Seq.empty, staged.schema)
    // write the journal by hand (the commit point), then "die" before any
    // swap happens — recover must finish the job from the journal alone
    val root = new java.io.File(Compaction.stagingRoot(path))
    assert(root.list().toSeq == Seq(txn), "the merge dropped the batch's own txn")
    Files.writeString(java.nio.file.Path.of(root.getPath, s"$txn.commit"),
      rels.mkString("", "\n", "\n"))
    val (fwd, back) = Compaction.recover(spark, path)
    assert(fwd == 1 && back == 0, s"journaled txn rolls forward: $fwd/$back")
    val out = spark.read.parquet(path)
    assert(out.count() == 2, "both partitions published")
    assert(out.filter($"replay_id" === "r1").collect()
      .head.getAs[String]("payload") == "new", "swap published the new day1")
    assert(!new java.io.File(root, txn).exists() &&
           !new java.io.File(root, s"$txn.commit").exists(),
      "staging cleaned after roll-forward")
    // recover is idempotent on a clean dataset
    assert(Compaction.recover(spark, path) == ((0, 0)))
  }

  test("append path: a batch of new keys leaves every existing file's name and length") {
    val path = tmp()
    Compaction.compact(spark,
      batch(Seq(("r1", "f", day1, "v1"), ("r2", "f", day2, "v1"), ("r3", "g", day1, "v1"))),
      path, "replay_id", "uploadtime")
    val before = files(path)
    Compaction.compact(spark,
      batch(Seq(("r4", "f", day1, "v2"), ("r5", "f", day2, "v2"), ("r6", "h", day2, "v2"))),
      path, "replay_id", "uploadtime")
    val after = files(path)
    assert(before.forall { case (f, n) => after.get(f).contains(n) },
      s"existing files changed: $before vs $after")
    assert(after.size == before.size + 3, "one new file per touched partition")
    assert(spark.read.parquet(path).select("replay_id").as[String].collect().sorted.toSeq ==
      Seq("r1", "r2", "r3", "r4", "r5", "r6"))
    assert(stagingEmpty(path))
  }

  test("a colliding batch takes the merge path and the latest row wins") {
    val path = tmp()
    Compaction.compact(spark,
      batch(Seq(("r1", "f", day1, "old"), ("r2", "f", day1, "v1"), ("r3", "f", day2, "v1"))),
      path, "replay_id", "uploadtime")
    val before = files(path)
    Compaction.compact(spark,
      batch(Seq(("r1", "f", day1 + 60, "new"), ("r1", "f", day1 + 30, "mid"), ("r4", "f", day1, "v2"))),
      path, "replay_id", "uploadtime")
    val after = files(path)
    val day1Files = after.keys.filter(_.contains("day=2024-01-01")).toSeq
    assert(day1Files.size == 1 && !before.contains(day1Files.head),
      s"the touched partition was rewritten whole: $day1Files")
    assert(before.filter(_._1.contains("day=2024-01-02")).forall { case (f, n) =>
      after.get(f).contains(n) }, "the untouched partition kept its file")
    val out = spark.read.parquet(path).select("replay_id", "payload").as[(String, String)]
      .collect().sorted.toSeq
    assert(out == Seq(("r1", "new"), ("r2", "v1"), ("r3", "v1"), ("r4", "v2")))
    assert(stagingEmpty(path))
  }

  test("append path: a crash before the journal rolls back") {
    val path = tmp()
    Compaction.compact(spark, batch(Seq(("r1", "f", day1, "v1"))),
      path, "replay_id", "uploadtime")
    val before = files(path)
    Compaction.stage(spark, Compaction.deduped(batch(Seq(("r2", "f", day1, "v2"))),
      "replay_id", "uploadtime"), path)
    assert(files(path) == before, "staged files stay invisible")
    assert(Compaction.recover(spark, path) == ((0, 1)))
    assert(stagingEmpty(path) && files(path) == before)
    assert(spark.read.parquet(path).select("replay_id").as[String].collect().toSeq == Seq("r1"))
  }

  test("append path: a hand-written file journal rolls forward through recover") {
    val path = tmp()
    Compaction.compact(spark, batch(Seq(("r1", "f", day1, "v1"))),
      path, "replay_id", "uploadtime")
    val before = files(path)
    val txn = Compaction.stage(spark, Compaction.deduped(
      batch(Seq(("r2", "f", day1, "v2"), ("r3", "f", day2, "v2"))), "replay_id", "uploadtime"), path)
    val txnDir = java.nio.file.Path.of(Compaction.stagingRoot(path), txn)
    val staged = Files.walk(txnDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(f => txnDir.relativize(f).toString).toSeq
    assert(staged.size == 2, s"one staged file per partition: $staged")
    // the commit point, written by hand; then "die" before any rename
    Files.writeString(java.nio.file.Path.of(Compaction.stagingRoot(path), s"$txn.commit"),
      staged.mkString("", "\n", "\n"))
    assert(Compaction.recover(spark, path) == ((1, 0)))
    val after = files(path)
    assert(before.forall { case (f, n) => after.get(f).contains(n) })
    assert(staged.forall(after.contains), s"staged files published under their names: $after")
    assert(spark.read.parquet(path).select("replay_id").as[String].collect().sorted.toSeq ==
      Seq("r1", "r2", "r3"))
    assert(stagingEmpty(path))
    assert(Compaction.recover(spark, path) == ((0, 0)))
  }

  test("partition values Spark escapes in directory names: collisions still found") {
    val path = tmp()
    val fmt = "a/b=c:d e"
    Compaction.compact(spark, batch(Seq(("r1", fmt, day1, "old"))), path, "replay_id", "uploadtime")
    Compaction.compact(spark, batch(Seq(("r1", fmt, day1 + 60, "new"))), path, "replay_id", "uploadtime")
    Compaction.compact(spark, batch(Seq(("r2", fmt, day1, "v1"))), path, "replay_id", "uploadtime")
    val out = spark.read.parquet(path).select("replay_id", "format_id", "payload")
      .as[(String, String, String)].collect().sorted.toSeq
    assert(out == Seq(("r1", fmt, "new"), ("r2", fmt, "v1")))
    assert(stagingEmpty(path))
  }

  test("a new-key compaction into an existing dataset runs at most 6 jobs") {
    val path = tmp()
    Compaction.compact(spark, batch(Seq(("r1", "f", day1, "v1"), ("r2", "f", day2, "v1"))),
      path, "replay_id", "uploadtime")
    val incoming = batch(Seq(("r3", "f", day1, "v2"), ("r4", "f", day2, "v2")))
    val (_, jobs) = TestSpark.countingJobs(
      Compaction.compact(spark, incoming, path, "replay_id", "uploadtime"))
    assert(jobs <= 6, s"$jobs jobs")
    assert(spark.read.parquet(path).count() == 4)
  }

  test("compact is idempotent on re-delivery (T4)") {
    val path = tmp()
    val b = batch(Seq(("a", "f", day1, "x"), ("b", "f", day1, "y")))
    Compaction.compact(spark, b, path, "replay_id", "uploadtime")
    Compaction.compact(spark, b, path, "replay_id", "uploadtime")
    assert(spark.read.parquet(path).count() == 2)
  }

  test("S3/S4: date-partitioned JSON sink + schema-pinned scan round-trips") {
    // the reference's compacted daily JSON arrays (compaction.py:149,223-225)
    // become date-partitioned JSON written once per partition; the scan reads
    // with a supplied schema (never inferred — SURVEY §1.3)
    val path = tmp()
    val docs = batch(Seq(("r1", "f", day1, "v1"), ("r2", "f", day2, "v2")))
      .withColumn("day", graft.ops.Scalars.epochToDate($"uploadtime"))
    docs.write.mode("overwrite").partitionBy("format_id", "day").json(path)
    val back = spark.read.schema(
        "replay_id STRING, uploadtime BIGINT, payload STRING, format_id STRING, day DATE")
      .json(path)
    assert(back.count() == 2)
    assert(back.filter($"day" === "2024-01-02").select("replay_id").as[String].head() == "r2",
      "partition pruning columns recovered from the path")
  }

  test("plan groups downloaded-not-compacted by format and day (A4)") {
    val status = Lifecycle.statusFromOrders(Tables.orders(spark, TestSpark.sfDir))
    val plan = Compaction.plan(status)
    assert(plan.count() > 0)
    val row = plan.orderBy($"format_id", $"day").collect().head
    assert(row.getAs[Long]("n") == row.getAs[String]("ids_csv").split(",").length)
  }
}
