package graft.streaming

import graft.ops.{Commit, Lifecycle}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** One observed fetch outcome flowing through the retry state machine. */
case class FetchAttempt(id: String, ok: Boolean)

/** Verdict emitted when a key's retry budget resolves. */
case class RetryVerdict(id: String, attempts: Int, gaveUp: Boolean)

/** Structured-Streaming face of the incremental-ingest semantics
  * (SURVEY.md §2.9, T1–T7). The reference's cursor loop over API pages is a
  * stream; its daily compaction is a tumbling window; its re-run idempotence
  * is a `foreachBatch` idempotent merge.
  *
  * Scale notes: file-source streaming with `maxFilesPerTrigger` is the
  * reference's `max_pages` throttle (T6); the watermark bounds state exactly
  * like the reference's `last_seen_ts` cursor (T1); the dead-letter split
  * (T5) is a filter on the same micro-batch, not a second pass.
  */
object Streaming {

  /** T5 as *custom streaming state* (`flatMapGroupsWithState`): per-key
    * retry counter over a stream of fetch outcomes. Emits a verdict when a
    * key either succeeds (attempts so far) or exhausts `maxAttempts`
    * (dead-letter decision); state is dropped on resolution so the store
    * holds only in-flight keys — the stateful twin of the batch retry queue
    * (`Lifecycle.retryBatches`; reference retry.py:23-158).
    */
  def retryStateMachine(attempts: Dataset[FetchAttempt], maxAttempts: Int)(
      implicit spark: SparkSession): Dataset[RetryVerdict] = {
    import spark.implicits._
    attempts.groupByKey(_.id)
      .flatMapGroupsWithState[Int, RetryVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: String, rows: Iterator[FetchAttempt], state: GroupState[Int]) =>
          // Row order within a group is not defined, so the semantics are
          // order-insensitive: attempts = prior + failures in this batch
          // (+1 for the success); any success resolves the key.
          var failures = state.getOption.getOrElse(0)
          var succeeded = false
          rows.foreach { a => if (a.ok) succeeded = true else failures += 1 }
          if (succeeded) {
            state.remove()
            Iterator(RetryVerdict(id, failures + 1, gaveUp = false))
          } else if (failures >= maxAttempts) {
            state.remove()
            Iterator(RetryVerdict(id, failures, gaveUp = true))
          } else {
            state.update(failures)
            Iterator.empty
          }
      }
  }

  /** T1/T7 — watermarked tumbling daily aggregation over an event-file
    * stream: the streaming twin of the `daily_lifecycle_stats` batch query.
    * Late data beyond `lateness` is dropped (the reference simply never
    * revisits pages behind its cursor — same contract, stated precisely).
    */
  def dailyStats(spark: SparkSession, srcDir: String, schema: StructType,
                 lateness: String = "1 day"): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("day"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"))

  /** Gap-based session windows over a watermarked stream — the streaming
    * twin of the batch sessionizer (`AsOf.sessionize`, `user_sessions`
    * query): a session closes when `gap` passes with no event for the key,
    * exactly the lag-&gt;running-sum rule the batch form expresses. Uses the
    * built-in `session_window` (dynamic merging windows), so state per key
    * is one open window, bounded by the watermark — at ingest scale the
    * state store holds only sessions that could still grow, the same
    * bounded-state argument as [[dedupStream]].
    */
  def sessionStats(src: DataFrame, keyCol: String, eventTimeCol: String,
                   gap: String, lateness: String): DataFrame =
    src.withWatermark(eventTimeCol, lateness)
      .groupBy(col(keyCol), session_window(col(eventTimeCol), gap).as("session"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session.start").as("session_start"),
              col("session.end").as("session_end"), col("n_events"))

  /** Stream-stream interval self-join — the streaming twin of the batch
    * bucketed range join (`AsOf.priorWindowCounts`): each probe-side row
    * pairs with same-key build-side rows in its preceding
    * `[ts − windowSeconds, ts)` window, via Spark's native watermarked
    * interval join. State on BOTH sides is bounded by watermark + the range
    * condition — the state store holds only rows that could still match,
    * exactly the two-bucket retention the batch form materializes as a
    * join key. Inner join: matches emit as they form, no watermark-closure
    * wait, so a bounded replay drains to the complete deterministic match
    * set. Both inputs must carry (event_id, user_id, ts).
    */
  def priorWindowPairs(probe: DataFrame, build: DataFrame,
                       windowSeconds: Long, lateness: String): DataFrame = {
    val e = probe.withWatermark("ts", lateness).alias("err")
    val c = build.withWatermark("ts", lateness).alias("ctx")
    e.join(c, expr(
        s"""err.user_id = ctx.user_id AND
           |ctx.ts >= err.ts - INTERVAL $windowSeconds SECOND AND
           |ctx.ts < err.ts""".stripMargin))
      .select(col("err.event_id").as("err_id"),
              col("err.user_id").as("user_id"),
              col("ctx.event_id").as("ctx_id"))
  }

  /** Streaming dedup-on-append (U5's streaming twin; the training-data
    * surface's exact-dedup pass as a stream): drop rows whose `keys` were
    * already seen, holding per-key state only while the watermark allows a
    * duplicate to still arrive. With unbounded retention (the plain
    * `dropDuplicates`) the state store grows with the corpus — on a 100 TB
    * ingest the watermark bound is the difference between a state store and
    * an OOM. `eventTimeCol` must carry the watermark column.
    */
  def dedupStream(src: DataFrame, keys: Seq[String], eventTimeCol: String,
                  lateness: String): DataFrame =
    src.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** T4/T5 — drive a stream into a parquet state table with an idempotent
    * last-write-wins merge per micro-batch (`foreachBatch`), splitting a
    * dead-letter stream (`isFailure`) into a side directory for the retry
    * pass. Micro-batch id is recorded so replays are observable.
    *
    * Every write is a [[Commit]]: a crash leaves the old state or the new
    * one, and the next micro-batch finishes a swap it left journaled.
    *
    * `tiebreak` must totally order rows that share a key *within* one
    * micro-batch (e.g. event time desc + a unique id) — batch id alone is
    * constant there, and an arbitrary survivor would make replays
    * nondeterministic.
    */
  def runToStateTable(spark: SparkSession, src: DataFrame, statePath: String,
                      deadLetterPath: String, key: Seq[String],
                      checkpoint: String, tiebreak: Seq[Column] = Seq.empty): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Persist: the body runs several actions over this DataFrame, and an
        // unpersisted foreachBatch input re-reads the source per action.
        val stamped = batch.withColumn("batch_id", lit(batchId)).persist()
        try {
          val (ok, failed) = (stamped.filter(!col("is_failure")),
                              stamped.filter(col("is_failure")))
          // Dead letters land in a per-batch partition that replaces any
          // earlier one: a replayed micro-batch rewrites the same partition
          // instead of appending duplicates — idempotent like the merge.
          val deadRel = s"batch_id=$batchId"
          Commit(spark, s"$deadLetterPath/${Commit.Staging}", deadLetterPath) { txn =>
            failed.drop("batch_id").write.parquet(s"$txn/$deadRel")
            Seq(deadRel)
          }
          // The commit first recovers the state's root, so the read below
          // sees a swap that a crash left journaled. Only a state path that
          // does not exist yet is empty state: taking an existing one with
          // no data as empty would replace the table with this batch alone.
          val name = new Path(statePath).getName
          Commit.beside(spark, statePath) { txn =>
            val state =
              if (!Commit.fsOf(spark, statePath).exists(new Path(statePath))) ok
              else Lifecycle.upsert(try spark.read.parquet(statePath) catch {
                case e: AnalysisException => throw new IllegalStateException(
                  s"state table $statePath exists but holds no readable data", e)
              }, ok, key, Seq(col("batch_id").desc) ++ tiebreak ++ key.map(col(_).asc))
            state.write.parquet(s"$txn/$name")
            Seq(name)
          }
        } finally stamped.unpersist()
        ()
      }
      .start()
}
