package graft

import graft.streaming.Streaming
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("ts", TimestampType),
    StructField("event_type", StringType), StructField("is_failure", BooleanType)))

  private def rows(data: Seq[(String, String, String, Boolean)]) =
    data.toDF("id", "ts_s", "event_type", "is_failure")
      .select($"id", $"ts_s".cast("timestamp").as("ts"), $"event_type", $"is_failure")

  test("watermarked tumbling daily aggregation (T1/T7)") {
    val src = tmp("stream-src")
    rows(Seq(
      ("a", "2024-01-01 01:00:00", "click", false),
      ("b", "2024-01-01 02:00:00", "error", false),
      ("c", "2024-01-02 03:00:00", "click", false)
    )).write.mode("append").parquet(src)

    val q = Streaming.dailyStats(spark, src, schema)
      .writeStream.outputMode("complete").format("memory").queryName("daily").start()
    try {
      q.processAllAvailable()
      val out = spark.sql(
          "SELECT date_format(day.start,'yyyy-MM-dd') d, n_events, n_error FROM daily")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == Set(("2024-01-01", 2L, 1L), ("2024-01-02", 1L, 0L)))
    } finally q.stop()
  }

  test("gap-based session windows: events within the gap merge, beyond it split") {
    val src = tmp("session-src")
    rows(Seq(
      ("u1", "2024-01-01 01:00:00", "click", false),
      ("u1", "2024-01-01 01:10:00", "click", false),  // 10 min later: same session
      ("u1", "2024-01-01 03:00:00", "click", false),  // > 30 min gap: new session
      ("u2", "2024-01-01 01:05:00", "click", false)   // other key: own session
    )).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = Streaming.sessionStats(stream, "id", "ts", "30 minutes", "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val out = spark.sql(
          "SELECT id, date_format(session_start,'HH:mm') s, date_format(session_end,'HH:mm') e, n_events FROM sessions")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      // session end = last event + gap (session_window semantics)
      assert(out == Set(
        ("u1", "01:00", "01:40", 2L),
        ("u1", "03:00", "03:30", 1L),
        ("u2", "01:05", "01:35", 1L)), out)
    } finally q.stop()
  }

  test("flatMapGroupsWithState retry machine resolves and drops state (T5)") {
    implicit val s = spark
    val src = tmp("retry-src")
    // k1: fail, fail, ok → success on attempt 3; k2: three fails → give up;
    // k3: one fail, unresolved (stays in state, emits nothing)
    Seq(("k1", false), ("k1", false), ("k1", true),
        ("k2", false), ("k2", false), ("k2", false),
        ("k3", false))
      .toDF("id", "ok").write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("id STRING, ok BOOLEAN").parquet(src)
      .as[graft.streaming.FetchAttempt]
    val q = graft.streaming.Streaming.retryStateMachine(stream, maxAttempts = 3)
      .writeStream.outputMode("append").format("memory").queryName("verdicts").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT id, attempts, gaveUp FROM verdicts").collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getBoolean(2))).toMap
      assert(out == Map("k1" -> ((3, false)), "k2" -> ((3, true))))
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark (U5 streaming)") {
    val src = tmp("dedup-src")
    rows(Seq(
      ("k1", "2024-01-01 01:00:00", "click", false),
      ("k1", "2024-01-01 01:10:00", "click", false),  // dup within watermark → dropped
      ("k2", "2024-01-01 01:20:00", "click", false)
    )).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = Streaming.dedupStream(stream, Seq("id"), "ts", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM deduped").as[String].collect().toSeq
      assert(ids.sorted == Seq("k1", "k2"), s"got $ids")
    } finally q.stop()
  }

  test("foreachBatch merge: idempotent state + dead-letter split (T4/T5)") {
    // the state path does not exist before the first micro-batch
    val src = tmp("stream-src2"); val state = tmp("stream-state") + "/state"
    val dead = tmp("stream-dead"); val ckpt = tmp("stream-ckpt")

    rows(Seq(("k1", "2024-01-01 01:00:00", "click", false),
             ("k2", "2024-01-01 01:00:00", "click", true)))
      .write.mode("append").parquet(src)

    val stream = spark.readStream.schema(schema).parquet(src)
    val q = Streaming.runToStateTable(spark, stream, state, dead, Seq("id"), ckpt,
      tiebreak = Seq(col("ts").desc))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(state).select("id").as[String].collect().toSet == Set("k1"))
      assert(spark.read.parquet(dead).select("id").as[String].collect().toSet == Set("k2"))

      // second micro-batch: k1 re-delivered (update wins), k3 new
      rows(Seq(("k1", "2024-01-01 05:00:00", "purchase", false),
               ("k3", "2024-01-01 06:00:00", "click", false)))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val st = spark.read.parquet(state)
      assert(st.select("id").as[String].collect().toSet == Set("k1", "k3"))
      assert(st.filter($"id" === "k1").select("event_type").as[String].head() == "purchase",
        "later micro-batch wins for the same key")
    } finally q.stop()
  }

  test("foreachBatch merge: a state dir with no readable data fails the query, " +
       "and the dir stays as it was") {
    val src = tmp("stream-src3"); val dead = tmp("stream-dead3"); val ckpt = tmp("stream-ckpt3")
    // what a crashed in-place overwrite leaves: the directory, no data
    val state = tmp("stream-state3")
    Files.writeString(java.nio.file.Path.of(state, "_SUCCESS"), "")
    def listing() = Files.list(java.nio.file.Path.of(state)).toArray.map(_.toString).toSet
    val before = listing()
    rows(Seq(("k1", "2024-01-01 01:00:00", "click", false)))
      .write.mode("append").parquet(src)
    val q = Streaming.runToStateTable(spark, spark.readStream.schema(schema).parquet(src),
      state, dead, Seq("id"), ckpt)
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains(state)), s"the failure names the path: $messages")
    } finally q.stop()
    assert(listing() == before, "the batch did not overwrite the state dir")
  }

  /** Where a whole-dir replace of `dir` stages. */
  private def stagingBeside(dir: String) = java.nio.file.Path.of(graft.ops.Commit.besideRoot(dir))

  /** Runs one micro-batch of k1 into a fresh state table, lets `crash`
    * leave what a crashed replace of the state leaves, then runs one more
    * micro-batch of k3. Returns the state's ids and whether the staging
    * root was left clean.
    */
  private def afterCrashedReplace(name: String)(crash: String => Unit): (Set[String], Boolean) = {
    val src = tmp(s"$name-src"); val state = tmp(s"$name-state") + "/state"
    val dead = tmp(s"$name-dead"); val ckpt = tmp(s"$name-ckpt")
    rows(Seq(("k1", "2024-01-01 01:00:00", "click", false))).write.mode("append").parquet(src)
    val q = Streaming.runToStateTable(spark, spark.readStream.schema(schema).parquet(src),
      state, dead, Seq("id"), ckpt, tiebreak = Seq(col("ts").desc))
    try {
      q.processAllAvailable()
      crash(state)
      rows(Seq(("k3", "2024-01-01 03:00:00", "click", false))).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val root = stagingBeside(state)
    (spark.read.parquet(state).select("id").as[String].collect().toSet,
     !Files.exists(root) || Files.list(root).count() == 0)
  }

  private def stateRows(state: String, ids: String*) =
    spark.read.parquet(state).unionByName(
      rows(ids.map(id => (id, "2024-01-01 02:00:00", "click", false))).withColumn("batch_id", lit(0L)))

  test("foreachBatch merge: a state replace journaled mid-swap rolls forward " +
       "at the next micro-batch") {
    val (ids, clean) = afterCrashedReplace("stream-fwd") { state =>
      // a batch merged k2 into the state, staged it and wrote the journal,
      // moved the visible dir to the txn's backup, and died before renaming
      // the staged dir into place
      val root = stagingBeside(state)
      stateRows(state, "k2").write.parquet(root.resolve("t1/state").toString)
      Files.writeString(root.resolve("t1.commit"), "state\n")
      Files.createDirectories(root.resolve("t1.old"))
      Files.move(java.nio.file.Path.of(state), root.resolve("t1.old/state"))
    }
    assert(ids == Set("k1", "k2", "k3"), "the journaled state plus the new batch")
    assert(clean, "staging left clean")
  }

  test("foreachBatch merge: a staged state replace with no journal rolls back") {
    val (ids, clean) = afterCrashedReplace("stream-back") { state =>
      stateRows(state, "k2").write.parquet(stagingBeside(state).resolve("t1/state").toString)
    }
    assert(ids == Set("k1", "k3"), "the state as it was plus the new batch")
    assert(clean, "staging left clean")
  }

  test("priorWindowPairs: cross-batch interval matches equal the batch range join") {
    import graft.ops.AsOf
    val src = tmp("stream-ctx-src"); val ckpt = tmp("stream-ctx-ckpt")
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    def ev(rows: Seq[(Long, String, String, Long)]) =
      rows.map { case (id, t, ty, u) =>
        (id, java.sql.Timestamp.valueOf(t), ty, u) }
        .toDF("event_id", "ts", "event_type", "user_id")
    // slice 1: context events; slice 2: the errors that must reach back
    // across the micro-batch boundary for their window
    val slice1 = Seq((1L, "2024-01-01 10:00:00", "view", 7L),
                     (2L, "2024-01-01 10:30:00", "click", 7L),
                     (3L, "2024-01-01 10:40:00", "view", 8L))
    val slice2 = Seq((4L, "2024-01-01 11:00:00", "error", 7L),  // sees 1, 2
                     (5L, "2024-01-01 10:20:00", "error", 8L),  // nothing prior
                     (6L, "2024-01-02 11:30:00", "error", 7L))  // window passed
    ev(slice1).coalesce(1).write.mode("append").parquet(src)
    ev(slice2).coalesce(1).write.mode("append").parquet(src)
    def srcDf() = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streaming.priorWindowPairs(
        srcDf().filter($"event_type" === "error"), srcDf(), 3600L, "10 days")
      .writeStream.outputMode("append").format("memory")
      .queryName("ctx_parity_spec").option("checkpointLocation", ckpt).start()
    val streamed =
      try { q.processAllAvailable(); spark.table("ctx_parity_spec") }
      finally q.stop()
    val got = streamed.select("err_id", "ctx_id").as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 1L), (4L, 2L)),
      "slice-2 error must match slice-1 context across the trigger boundary")
    // parity with the batch bucketed range join on the same data
    val all = ev(slice1 ++ slice2)
    val batch = AsOf.priorWindowCounts(
        all.filter($"event_type" === "error"), all, "user_id", "ts", "event_id", 3600L)
      .select("event_id", "n_prior").as[(Long, Long)].collect().toMap
    val streamedCounts = got.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(batch.forall { case (id, n) => streamedCounts.getOrElse(id, 0L) == n })
  }
}
