package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed face of the lifecycle state record (SURVEY §1.4: case class at API
  * boundaries, untyped DataFrame for the relational interior).
  */
case class ReplayStatus(
    replay_id: String, format_id: String, uploadtime: Long,
    is_downloaded: Boolean, download_details: Option[String],
    is_retry_attempted: Option[Boolean], is_compacted: Boolean,
    players: String, order_key: Long)

/** The reference's core novelty: a four-stage lifecycle state table
  * (`replay_status`, reference db.py:43-70) driving idempotent incremental
  * processing — discovered → downloaded → [retried] → compacted.
  *
  * For oracle-checked queries the state table is derived deterministically
  * from `orders` (FIXTURES.md §C role mapping); [[statusSql]] is the exact
  * DuckDB CTE twin of [[statusFromOrders]] — keep the two in lockstep.
  *
  * Scale notes (100 TB): every operator here is a single shuffle on the
  * natural key or a broadcast; the state table would live partitioned by
  * `format_id` and sorted by `uploadtime` (the reference's secondary indexes,
  * db.py:73-76, become layout decisions), so the joins below co-partition.
  */
object Lifecycle {

  /** Deterministic `replay_status` stand-in derived from `orders`:
    *  - 'F' orders    → downloaded OK (even keys additionally compacted)
    *  - 'P' orders    → failed download ('Failed:' prefix channel, db.py:366);
    *                    every third key has had its retry attempted
    *  - 'O' orders    → still pending; retry flag left NULL (the tri-state
    *                    the reference probes with `IS NULL`, db.py:562-569)
    */
  def statusFromOrders(orders: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    orders.select(
      concat(lit("r-"), k.cast("string")).as("replay_id"),
      col("o_orderpriority").as("format_id"),
      // o_orderdate is parquet TIMESTAMP_NTZ; the UTC session makes the
      // LTZ cast an identity on the instant (matches DuckDB's naive epoch()).
      unix_seconds(col("o_orderdate").cast("timestamp")).as("uploadtime"),
      (col("o_orderstatus") === "F").as("is_downloaded"),
      when(col("o_orderstatus") === "F",
           concat(lit("OK (batch b-"), (k % 5).cast("string"), lit(")")))
        .when(col("o_orderstatus") === "P", lit("Failed: HTTP 500"))
        .as("download_details"),
      when(col("o_orderstatus") === "P", k % 3 === 0).as("is_retry_attempted"),
      (col("o_orderstatus") === "F" && k % 2 === 0).as("is_compacted"),
      concat(lit("p"), col("o_custkey").cast("string"),
             lit(" vs p"), (col("o_custkey") + 1).cast("string")).as("players"),
      k.as("order_key"))
  }

  /** [[statusFromOrders]] as a typed Dataset for API boundaries. */
  def typedStatus(spark: SparkSession, orders: DataFrame): Dataset[ReplayStatus] = {
    import spark.implicits._
    statusFromOrders(orders).as[ReplayStatus]
  }

  /** DuckDB CTE mirroring [[statusFromOrders]] exactly (oracle twin). */
  val statusSql: String =
    """WITH replay_status AS (
      |  SELECT 'r-' || CAST(o_orderkey AS VARCHAR) AS replay_id,
      |         o_orderpriority AS format_id,
      |         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS uploadtime,
      |         o_orderstatus = 'F' AS is_downloaded,
      |         CASE WHEN o_orderstatus = 'F'
      |                THEN 'OK (batch b-' || CAST(o_orderkey % 5 AS VARCHAR) || ')'
      |              WHEN o_orderstatus = 'P' THEN 'Failed: HTTP 500' END
      |           AS download_details,
      |         CASE WHEN o_orderstatus = 'P' THEN o_orderkey % 3 = 0 END
      |           AS is_retry_attempted,
      |         o_orderstatus = 'F' AND o_orderkey % 2 = 0 AS is_compacted,
      |         'p' || CAST(o_custkey AS VARCHAR) || ' vs p' || CAST(o_custkey + 1 AS VARCHAR) AS players,
      |         o_orderkey AS order_key
      |  FROM orders
      |)""".stripMargin

  /** P4 — the failed-download predicate exactly as the reference states it
    * (db.py:562-569): not downloaded, details carry the 'Failed:' prefix, and
    * the tri-state retry flag is false OR NULL.
    */
  def failedNotRetried(status: DataFrame): DataFrame =
    status.filter(!col("is_downloaded") &&
      Scalars.isFailed(col("download_details")) &&
      coalesce(col("is_retry_attempted"), lit(false)) === false)

  /** J1 — bulk existence check (db.py:702-734): left join with a false
    * default instead of per-id point lookups. `ids` must carry `replay_id`.
    */
  def checkExistence(ids: DataFrame, status: DataFrame): DataFrame =
    ids.join(status.select("replay_id", "is_downloaded"), Seq("replay_id"), "left_outer")
      .select(col("replay_id"),
              coalesce(col("is_downloaded"), lit(false)).as("is_downloaded"))

  /** J2 — new-records detection (db.py:857-871): incoming − existing. */
  def newRecords(incoming: DataFrame, status: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(status, keys, "left_anti")

  /** Bloom prescreen for J1/J2 at 100 TB: flag each incoming id with
    * `maybe_existing` from a Bloom sketch of the status keys — `false` is
    * definitive (no false negatives), so those rows skip the exact
    * anti-join entirely; only the `true` slice (existing + ~fpp false
    * positives) pays the shuffle. This is the runtime-filter pattern
    * Spark applies to joins internally, surfaced as an explicit operator:
    * the sketch is one aggregate over the status table (bits, not rows)
    * and the probe is a map-side broadcast — no shuffle of `incoming` at
    * all. With a daily incoming batch orders of magnitude smaller than
    * the accumulated status table, the exact join's build side shrinks to
    * the prescreen survivors.
    *
    * `numBits` defaults to ~10 bits/key (≈1% false-positive rate).
    */
  def bloomPrescreen(incoming: DataFrame, status: DataFrame,
                     keyCol: String = "replay_id",
                     expectedItems: Long = 1L << 20,
                     numBitsPerKey: Int = 10): DataFrame = {
    val bloom = status.agg(
      org.apache.spark.sql.graft.SketchExpressions
        .bloomAgg(col(keyCol), expectedItems, expectedItems * numBitsPerKey)
        .as("__bf"))
    incoming.withColumn("maybe_existing",
      org.apache.spark.sql.graft.SketchExpressions.mightContain(bloom, col(keyCol)))
  }

  /** U6 — last-write-wins upsert (INSERT OR REPLACE, db.py:229-236) as plain
    * Spark: union then keep one deterministic survivor per key. `precedence`
    * columns order candidates (first = highest priority); ties are broken by
    * the remaining sort columns so the survivor is total-order deterministic.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, key: Seq[String],
             precedence: Seq[Column]): DataFrame =
    dedupKeepFirst(existing.unionByName(incoming), key, precedence)

  /** M1/M2 — batch conditional status update (mark_replay_downloaded,
    * db.py:325-350): join the status table with a results relation and flip
    * flags columnar-conditionally. `results` carries `replay_id` + `success`.
    */
  def markDownloaded(status: DataFrame, results: DataFrame, batch: String): DataFrame =
    status.join(results.select("replay_id", "success"), Seq("replay_id"), "left_outer")
      .withColumn("is_downloaded",
        when(coalesce(col("success"), lit(false)), lit(true)).otherwise(col("is_downloaded")))
      .withColumn("download_details",
        when(col("success").isNull, col("download_details"))
          .when(col("success"), concat(lit("OK (batch "), lit(batch), lit(")")))
          .otherwise(lit("Failed: HTTP 500")))
      .drop("success")

  /** A5 — duplicate-key audit (cleanup_db.py:130-135). */
  def duplicateAudit(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** A6 — dedup repair with a deterministic survivor (the reference's SQLite
    * `GROUP BY` keeps an arbitrary row, cleanup_db.py:148-153; we pin the
    * survivor by explicit precedence so results are reproducible).
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], precedence: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(precedence: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** A6, aggregate form — the 100 TB path when the precedence is a plain
    * column tuple compared descending (the common "keep the latest/largest"
    * case): `max_by(payload, precedence-struct)` is a declarative aggregate
    * with partial merge, so survivors reduce map-side before the one
    * shuffle, where the window form above must shuffle every row and sort
    * whole partitions. Same pinned-survivor semantics (struct comparison is
    * lexicographic on the precedence columns; ties broken by nothing — pass
    * a full key prefix to pin them, as the window form also requires).
    */
  def dedupKeepFirstAgg(df: DataFrame, keys: Seq[String],
                        precedenceDesc: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    require(payload.nonEmpty,
      "dedupKeepFirstAgg needs at least one non-key column (with keys only, use distinct)")
    val surv = max_by(struct(payload.toIndexedSeq.map(col): _*),
                      struct(precedenceDesc.map(col): _*)).as("__surv")
    df.groupBy(keys.map(col): _*).agg(surv)
      // getField, not col("__surv.c"): a payload name containing a dot must
      // resolve as one field, not a nested path
      .select(keys.map(col) ++ payload.map(c => col("__surv").getField(c).as(c)): _*)
  }

  /** T5 — dead-letter retry planning (retry.py:23-158): order the failed
    * queue deterministically and cut it into fixed-size mini-batches.
    * Batches are numbered per `format_id` (the reference retries per-format
    * DAG runs), which also keeps the ranking window partitioned — no global
    * single-partition sort at scale.
    */
  def retryBatches(status: DataFrame, batchSize: Int): DataFrame = {
    val w = Window.partitionBy(col("format_id")).orderBy(col("uploadtime"), col("replay_id"))
    failedNotRetried(status)
      .select(col("format_id"), col("replay_id"), col("uploadtime"))
      .withColumn("batch_no", ((row_number().over(w) - 1) / batchSize).cast("long"))
  }
}
