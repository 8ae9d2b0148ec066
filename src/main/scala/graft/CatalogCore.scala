package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational + lifecycle query catalog (SURVEY.md §2.1–§2.9).
  *
  * Every entry is (name, Spark impl, DuckDB oracle SQL). Conventions that keep
  * the oracle hash stable across engines:
  *  - money sums go through exact integer cents (order-independent `long`
  *    arithmetic) and surface as DOUBLE only in the final projection — see
  *    [[graft.ops.Scalars.moneySum]];
  *  - epoch↔date conversions are UTC and tz-free on both sides
  *    (`make_timestamp(µs)` in DuckDB, `timestamp_seconds` in Spark);
  *  - every query ends in a total-order ORDER BY;
  *  - aggregate counts are BIGINT on both sides (DuckDB `SUM(int)` returns
  *    HUGEINT and is cast down).
  */
object CatalogCore {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Total order + TakeOrdered bound for *structurally bounded* report
    * outputs — queries whose row count is fixed by group structure
    * (formats, nations, languages, calendar days), not by corpus size.
    * `orderBy(...).limit(bound)` plans as one TakeOrderedAndProject stage
    * (per-partition top-k, single reduce) instead of a range exchange,
    * whose bound sampling costs an extra job + pass; since the input is
    * always a final aggregate (rows = groups ≪ bound at any SF), the
    * reduce side sees only group-count rows at 100 TB too. Measured:
    * daily_lifecycle_stats 0.56 → 0.27 s, 5 → 3 jobs at sf0.1. NEVER used
    * on outputs that grow with the corpus (per-doc tables, pair sets,
    * compaction plans) — those keep the scalable range sort.
    */
  private[graft] val ReportBound = 100000
  private[graft] def orderedReport(df: DataFrame,
                                   by: org.apache.spark.sql.Column*): DataFrame =
    // the observe metric + GraftSession.arm watcher make a bound hit LOUD:
    // result rows == ReportBound can only mean the group structure outgrew
    // the bound and limit() truncated (see GraftSession "truncation guard")
    df.orderBy(by: _*).limit(ReportBound)
      .observe(GraftSession.BoundMetric, count(lit(1)).as("rows"))

  /** Scratch directory for the catalog's ephemeral side-effect surfaces
    * (roundtrip writes, stream checkpoints, staged sources). Prefers a
    * RAM-backed tmpfs when one is mounted: this data is recreated per
    * session by construction, so paying ext4 journal+fsync on every
    * state-store commit / parquet task file is pure fixed overhead — the
    * cluster-scale equivalents live on the job's fast scratch/DFS tier,
    * not the durable store, for the same reason. Falls back to
    * java.io.tmpdir; override with -Dgraft.scratch.dir=....
    */
  private[graft] def scratchDir(prefix: String): String = {
    val base = sys.props.get("graft.scratch.dir").map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isWritable(shm)) Some(shm) else None
      }
    val dir = base match {
      case Some(b) => java.nio.file.Files.createTempDirectory(b, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    // Every invocation makes a fresh tree (often under /dev/shm) that the
    // query itself never deletes — across 3-pass bench + verify + audit runs
    // they would accumulate, so each JVM sweeps its own trees at exit.
    scratchCreated.add(dir)
    scratchHookArmed
    dir.toString
  }

  private val scratchCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val scratchHookArmed: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchCreated.forEach { root =>
        try {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { try java.nio.file.Files.deleteIfExists(p)
                            catch { case _: java.io.IOException => () } })
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }))

  private def status(spark: SparkSession, dir: String): DataFrame =
    Lifecycle.statusFromOrders(Tables.orders(spark, dir))

  /** Unique memory-sink names for the stream_*_parity rows (a session may
    * run a row several times — bench passes, verify + specs).
    */
  private val ParityRun = new java.util.concurrent.atomic.AtomicLong(0)
  private val ObsRun = new java.util.concurrent.atomic.AtomicLong(0)

  /** One stream_*_parity run: `stream` runs as a memory-sink query named
    * `graft_<tag>_parity_<run>` with `width` state-store partitions (the
    * stateful stream's shuffle width is fixed at query start and becomes
    * its state-store partition count; the session's width is restored
    * right after start), until all available input is processed. Returns
    * `result` over the sink's rows. The sink's temp view is dropped once
    * that DataFrame is built: the DataFrame holds the rows, and the view
    * would keep every run's rows for the rest of the session.
    */
  private def parityStream(spark: SparkSession, tag: String, width: Int, mode: String,
                           checkpoint: Long => String)(stream: => DataFrame)(
                           result: DataFrame => DataFrame): DataFrame = {
    val run = ParityRun.incrementAndGet()
    val name = s"graft_${tag}_parity_$run"
    val q = GraftSession.withConf(spark, GraftSession.ShufflePartitions, width.toString) {
      stream.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", checkpoint(run)).start()
    }
    try q.processAllAvailable() finally q.stop()
    try result(spark.table(name)) finally spark.catalog.dropTempView(name)
  }

  /** One staged stream-source copy of `events` per session and version of
    * `events.parquet` (see [[GraftSession.memo]]): the operator under test
    * is the streaming execution — in production the source files already
    * sit on disk (the copy exists only because the
    * raw table's nanosecond timestamps need the one-time µs conversion),
    * so repeated invocations re-run the STREAM, not the staging write.
    */
  private def stagedEvents(spark: SparkSession, dir: String): String =
    GraftSession.memo(spark, "parity stage", s"$dir/events.parquet") {
      val staged = scratchDir("graft_stream_parity_")
      Tables.events(spark, dir).select("ts", "event_type", "user_id")
        .write.mode("overwrite").parquet(s"$staged/src")
      staged
    }

  /** Sentinel-closed staging for stream_session_parity: the events
    * (user_id, ts) written as file 1, then a single far-future sentinel
    * row (user_id = −1, max ts + 2 h) as file 2 — with
    * `maxFilesPerTrigger = 1` the sentinel trigger pushes the watermark
    * past every real session's end (+30 min gap, −1 h lateness), so
    * APPEND-mode session windows all close and emit deterministically
    * (without it, sessions inside the final lateness horizon never leave
    * the state store and the row would hash short). Append order controls
    * trigger order, exactly as in [[stagedEventsTimeline]].
    */
  private def stagedSessionEvents(spark: SparkSession, dir: String): String =
    GraftSession.memo(spark, "session stage", s"$dir/events.parquet") {
      val staged = scratchDir("graft_session_parity_")
      val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
      ev.coalesce(1).write.mode("append").parquet(s"$staged/src")
      ev.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("user_id"),
                (col("mx") + expr("INTERVAL 2 HOURS")).as("ts"))
        .coalesce(1).write.mode("append").parquet(s"$staged/src")
      staged
    }

  /** Timeline-sliced staging for stream_context_parity: the events table
    * written as two SEQUENTIAL one-file slices (days ≤15 / ≥16) so
    * `maxFilesPerTrigger = 1` replays them as ordered micro-batches — an
    * error in slice 2 must find its prior-window context in slice 1's
    * retained join state, which is the cross-batch retention the parity
    * row exists to exercise. Two slices, not three: each extra trigger
    * costs a full two-sided state-store commit round (~1.2 s at the bench
    * profile) and the boundary-crossing property needs exactly one
    * boundary.
    */
  private def stagedEventsTimeline(spark: SparkSession, dir: String): String =
    GraftSession.memo(spark, "timeline stage", s"$dir/events.parquet") {
      val staged = scratchDir("graft_ctx_parity_")
      val ev = Tables.events(spark, dir)
        .select("event_id", "ts", "event_type", "user_id")
      val day = dayofmonth(col("ts"))
      for ((lo, hi) <- Seq((1, 15), (16, 31)))
        ev.filter(day >= lo && day <= hi).coalesce(1)
          .write.mode("append").parquet(s"$staged/src")
      staged
    }

  private val S = Lifecycle.statusSql // WITH replay_status AS (...)

  /** One staged fetch-attempt log per session and version of
    * `orders.parquet` for stream_retry_parity: three one-file "rounds"
    * derived from orders (succ_round = order_key % 5: 1–3 ⇒ success on that
    * round, 0/4 ⇒ never)
    * — a key appears in a round only while unresolved, exactly one attempt
    * per round. The staging write is scaffolding; repeated invocations
    * re-run the stateful STREAM.
    */
  private def stagedRetryAttempts(spark: SparkSession, dir: String): String =
    GraftSession.memo(spark, "retry stage", s"$dir/orders.parquet") {
      val src = scratchDir("graft_retry_parity_") + "/src"
      // a 1-in-7 key subset: the state machine's update/remove path is
      // exercised identically per key, and the full-corpus form pays ~7×
      // the per-key state work for no additional signal (measured 4.4 →
      // 2.7 s at sf0.1; the rest of the cost is the fixed 3-trigger
      // state-store commit floor, addressed at the stream's partition
      // count below)
      val st = status(spark, dir)
        .filter(col("order_key") % 7 === 0)
        .select(col("replay_id"), (col("order_key") % 5).as("sr"))
      for (r <- 1 to 3)
        st.filter((col("sr") >= r && col("sr") <= 3) ||
                  col("sr") === 0 || col("sr") === 4)
          .select(col("replay_id").as("id"), (col("sr") === r).as("ok"))
          .coalesce(1)
          .write.mode("append").parquet(src)
      src
    }

  /** One pair of bucketed tables per session and version of
    * `orders.parquet` for bucketed_join_counts (S9): the DDL write is
    * one-time layout preparation (in production the state table is bucketed
    * once at creation, db.py:73-76's CREATE INDEX analog) — repeated
    * invocations measure the bucketed-scan join, not the write. Table names
    * are unique per staging so concurrent sessions and re-created sessions
    * never collide in a shared metastore namespace.
    */
  private val BucketRun = new java.util.concurrent.atomic.AtomicLong(0)
  private def stagedBucketedTables(spark: SparkSession, dir: String): (String, String) =
    GraftSession.memo(spark, "bucketed stage", s"$dir/orders.parquet") {
      val run = BucketRun.incrementAndGet()
      val (ta, tb) = (s"graft_status_b_$run", s"graft_results_b_$run")
      val base = scratchDir("graft_bucketed_")
      val st = status(spark, dir)
      st.write.mode("overwrite").option("path", s"$base/$ta")
        .bucketBy(8, "replay_id").sortBy("replay_id").saveAsTable(ta)
      // results side: only a subset of replays has an attempt outcome, so
      // the inner join below actually selects (not an identity join)
      st.filter(col("order_key") % 5 < 4)
        .select(col("replay_id"), (col("order_key") % 3 === 0).as("success"))
        .write.mode("overwrite").option("path", s"$base/$tb")
        .bucketBy(8, "replay_id").sortBy("replay_id").saveAsTable(tb)
      (ta, tb)
    }

  /** §3.3 composed disk→state reconciliation, pre-sort form (the catalog
    * entry checkpoints + totally orders it; exposed so PlanSpec can assert
    * the anti-join composition below the checkpoint boundary).
    */
  def reconcilePipeline(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // synthetic disk listing: one replay JSON per doubled order key, a
    // date dir in the path, and a battle log carrying |t:| + players
    val files = Tables.lineitem(spark, dir)
      .select((col("l_orderkey") * 2).as("fk")).distinct()
      .select(
        concat(lit("/data/replays/gen9ou/2024-01-"),
               lpad(((col("fk") % 28) + 1).cast("string"), 2, "0"),
               lit("/r-"), col("fk").cast("string"), lit(".json")).as("path"),
        concat(lit("|player|p1|u"), (col("fk") % 997).cast("string"),
               lit("|player|p2|u"), ((col("fk") + 1) % 997).cast("string"),
               lit("|t:|"), (lit(1700000000L) + col("fk") % 86400).cast("string"),
               lit("|start")).as("log"))
    // id extraction precedes the anti-join; uploadtime/player/date
    // extraction runs only on its survivors — exactly the reference's
    // control flow (the already-in-DB skip happens BEFORE the file is
    // opened, import_existing_replays.py:174-180), and it keeps the
    // expensive regex work off the rows the join throws away.
    val listed = files.select(
      Scalars.idFromFilename(col("path")).as("replay_id"), col("path"), col("log"))
    val fresh = Lifecycle.newRecords(listed, status(spark, dir), Seq("replay_id"))
      .select(
        col("replay_id"), col("path"),
        regexp_extract(col("path"), "/([0-9]{4}-[0-9]{2}-[0-9]{2})/", 1).as("date_dir"),
        Scalars.logTimestamp(col("log")).as("uploadtime"),
        Scalars.versus(
          regexp_extract(col("log"), "[|]player[|]p1[|]([^|]+)", 1),
          regexp_extract(col("log"), "[|]player[|]p2[|]([^|]+)", 1)).as("players"))
    // compacted-file id listing (disk side), independent of the DB state
    val compacted = orders.filter(col("o_orderkey") % 4 === 0)
      .select(concat(lit("r-"), (col("o_orderkey") * 2).cast("string")).as("replay_id"),
              lit(true).as("in_compacted"))
    fresh.join(compacted, Seq("replay_id"), "left_outer")
      .select(
        col("replay_id"), lit("gen9ou").as("format_id"),
        lit("import_existing_20240101_000000").as("discovered_batch"),
        lit(true).as("is_downloaded"),
        concat(lit("Imported from file "), col("path")).as("download_details"),
        coalesce(col("in_compacted"), lit(false)).as("is_compacted"),
        when(col("in_compacted"),
             concat(lit("Found in compacted file for "), col("date_dir")))
          .as("compacted_details"),
        col("uploadtime"), col("players"),
        concat(lit("{\"date_dir\":\""), col("date_dir"),
               lit("\",\"imported\":\"true\"}")).as("additional_info"))
  }

  val entries: Seq[(String, QueryFn, Option[String])] = Seq(

    // ── S1 paginated search scan as a custom DataSource V2
    //    (graft.sources.PagedReplaySource; reference api.py:13-42). The
    //    synthetic page payload is a pure function, so DuckDB reproduces it
    //    from range() — a full hash-match oracle over a custom source.
    ("paged_source_scan",
      (spark, _) =>
        spark.read.format("paged-replays")
          .option("format", "gen9ou").option("total", "1000")
          .load()
          .orderBy(col("replay_id")),
      Some("""SELECT 'gen9ou-' || CAST(1704067200 - i * 37 AS VARCHAR) AS replay_id,
             |       'gen9ou' AS format_id,
             |       1704067200 - i * 37 AS uploadtime,
             |       'p' || CAST((i * 7919) % 1000 AS VARCHAR)
             |           || ' vs p' || CAST((i * 104729) % 1000 AS VARCHAR) AS players
             |FROM range(1000) t(i) ORDER BY replay_id""".stripMargin)),

    // ── A3+A4+F1 flagship: daily lifecycle/compaction stats over the event
    //    stream (reference get_stats_by_format db.py:629-664 + by-date
    //    grouping db.py:666-700).
    ("daily_lifecycle_stats",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        ev.groupBy(to_date(col("ts")).as("event_date"))
          .agg(count(lit(1)).as("n_events"),
               sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
               countDistinct(col("user_id")).as("n_users"),
               Scalars.moneySum(col("value")).as("value_sum"))
          .transform(orderedReport(_, col("event_date")))
      },
      Some("""SELECT CAST(ts AS DATE) AS event_date,
             |       COUNT(*) AS n_events,
             |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
             |       COUNT(DISTINCT user_id) AS n_users,
             |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── A3 conditional multi-aggregate, TPC-H Q1 shape (pricing summary).
    ("pricing_summary",
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(Scalars.moneySum(col("l_quantity")).as("sum_qty"),
               Scalars.moneySum(col("l_extendedprice")).as("sum_base_price"),
               Scalars.discountedSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
               (Scalars.moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
               count(lit(1)).as("count_order"))
          .transform(orderedReport(_, col("l_returnflag"), col("l_linestatus")))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
             |       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
             |       COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ── P1/P2 projection + filters (db.py:505-509) incl. prefix match (F5).
    ("filter_project",
      (spark, dir) =>
        Tables.orders(spark, dir)
          .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 250000 &&
                  col("o_orderpriority").startsWith("1"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
             |FROM orders
             |WHERE o_orderstatus = 'O' AND o_totalprice > 250000
             |  AND o_orderpriority LIKE '1%'
             |ORDER BY o_orderkey""".stripMargin)),

    // ── P4 failed-download predicate with tri-state NULL retry flag
    //    (db.py:562-569).
    ("failed_download_filter",
      (spark, dir) =>
        Lifecycle.failedNotRetried(status(spark, dir))
          .select(col("replay_id"), col("format_id"), col("uploadtime"))
          .orderBy(col("replay_id")),
      Some(s"""$S
              |SELECT replay_id, format_id, uploadtime FROM replay_status
              |WHERE NOT is_downloaded AND download_details LIKE 'Failed:%'
              |  AND COALESCE(is_retry_attempted, false) = false
              |ORDER BY replay_id""".stripMargin)),

    // ── P5/T1 high-watermark incremental filter (discovery.py:82-100).
    ("incremental_since",
      (spark, dir) =>
        Tables.eventsSinceMicros(spark, dir,
            java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli * 1000L)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), max(unix_seconds(col("ts"))).as("max_epoch"))
          .transform(orderedReport(_, col("event_type"))),
      Some("""SELECT event_type, COUNT(*) AS n,
             |       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_epoch
             |FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── A1/A2 watermark cursors per stream key (db.py:577-627).
    ("stream_watermarks",
      (spark, dir) =>
        Tables.events(spark, dir)
          .groupBy(col("event_type"))
          .agg(min(unix_seconds(col("ts"))).as("oldest_ts"),
               max(unix_seconds(col("ts"))).as("last_seen_ts"))
          .transform(orderedReport(_, col("event_type"))),
      Some("""SELECT event_type,
             |       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS oldest_ts,
             |       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_seen_ts
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── W1 latest-row-per-key (db.py:133-154).
    ("latest_event_per_user",
      (spark, dir) =>
        Lifecycle.dedupKeepFirst(
            Tables.spread(Tables.events(spark, dir), col("user_id")),
            Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_seconds(col("ts")).as("epoch_s"))
          .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id, event_type,
             |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
             |ORDER BY user_id""".stripMargin)),

    // ── O1 top-k under a total order (db.py:136-153).
    ("top_orders",
      (spark, dir) =>
        Windows.topK(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
            Seq(col("o_totalprice").desc, col("o_orderkey")), 10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ── J3/U3 semi join: customers that have orders.
    ("customers_with_orders",
      (spark, dir) =>
        Tables.customer(spark, dir)
          .join(Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey")),
                Seq("c_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ── J2/U4 anti join: new-records detection shape (db.py:857-871).
    //    "high-value" qualifier keeps the result non-degenerate (every
    //    customer has *some* order in this data).
    ("customers_without_orders",
      (spark, dir) =>
        Tables.customer(spark, dir)
          .join(Tables.orders(spark, dir)
                  .filter(col("o_totalprice") > 400000)
                  .select(col("o_custkey").as("c_custkey")),
                Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // ── grouping sets: per-(type,date) + per-type + per-date + grand total
    //    in one pass (the reference computes these roll-ups as separate
    //    Python dict passes, compaction.py:127,230).
    ("event_cube_stats",
      (spark, dir) =>
        Tables.events(spark, dir)
          .withColumn("event_date", to_date(col("ts")))
          .cube(col("event_type"), col("event_date"))
          .agg(count(lit(1)).as("n"), Scalars.moneySum(col("value")).as("value_sum"))
          .select(coalesce(col("event_type"), lit("ALL")).as("type_grp"),
                  coalesce(col("event_date").cast("string"), lit("ALL")).as("date_grp"),
                  col("n"), col("value_sum"))
          .transform(orderedReport(_, col("type_grp"), col("date_grp"))),
      Some("""SELECT COALESCE(event_type, 'ALL') AS type_grp,
             |       COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS date_grp,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM events
             |GROUP BY CUBE(event_type, CAST(ts AS DATE))
             |ORDER BY type_grp, date_grp""".stripMargin)),

    // ── J1 bulk existence check with false default (db.py:702-734).
    ("download_status_check",
      (spark, dir) => {
        // distinct on the narrow long key BEFORE building the id string: the
        // dedup shuffle then carries 8-byte keys, and the concat runs once
        // per surviving key instead of once per lineitem row (distinct
        // commutes with the injective id format)
        val ids = Tables.lineitem(spark, dir)
          .select((col("l_orderkey") * 2).as("k")).distinct()
          .select(concat(lit("r-"), col("k").cast("string")).as("replay_id"))
        Lifecycle.checkExistence(ids, status(spark, dir)).orderBy(col("replay_id"))
      },
      Some(s"""$S,
              |ids AS (SELECT DISTINCT 'r-' || CAST(l_orderkey * 2 AS VARCHAR) AS replay_id FROM lineitem)
              |SELECT ids.replay_id, COALESCE(rs.is_downloaded, false) AS is_downloaded
              |FROM ids LEFT JOIN replay_status rs ON ids.replay_id = rs.replay_id
              |ORDER BY ids.replay_id""".stripMargin)),

    // ── J4 broadcast dimension join (download.py:165-172 metadata map).
    ("brand_revenue",
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(Scalars.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
               count(lit(1)).as("n_items"))
          .transform(orderedReport(_, col("p_brand"))),
      Some("""SELECT p_brand,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
             |       COUNT(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ── multi-table join chain with broadcast dims + shuffled fact join.
    ("nation_revenue",
      (spark, dir) => {
        val c = Tables.customer(spark, dir); val o = Tables.orders(spark, dir)
        val li = Tables.lineitem(spark, dir); val n = Tables.nation(spark, dir)
        val r = Tables.region(spark, dir)
        // Pre-aggregate the fact side per order before the dimension chain:
        // shrinks lineitem ~4× ahead of every join shuffle and turns the
        // count-distinct-orders over the widest join into a plain count
        // (each order key is one row after the partial agg). Integer-cents
        // sums are exact and associative, so revenue is bit-identical to the
        // flat sum.
        val orderRev = li.groupBy(col("l_orderkey"))
          .agg(sum(Scalars.discountedCents(col("l_extendedprice"), col("l_discount")))
                 .as("order_rev"))
        // Aggregate to CUSTOMER grain before the dimension chain: after the
        // one unavoidable fact join (orderRev ⋈ orders, both order-grain),
        // collapse to (custkey, rev, n_orders) — the dimension joins and
        // the final rollup then move one narrow row per customer instead of
        // one per order (~15× fewer at TPC-H ratios; the same factor at any
        // scale). Sums/counts are associative so the two-level aggregation
        // is exact.
        val custRev = orderRev.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("order_rev")).as("cust_rev"), count(lit(1)).as("cust_orders"))
        custRev.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg((sum(col("cust_rev")).cast("double") / lit(10000.0)).as("revenue"),
               sum(col("cust_orders")).as("n_orders"))
          .transform(orderedReport(_, col("r_name"), col("n_name")))
      },
      Some("""SELECT r_name, n_name,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
             |       COUNT(DISTINCT o_orderkey) AS n_orders
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // ── supplier-side dimension chain (completes coverage of every test
    //    table): revenue by supplier nation, both dims broadcast.
    ("supplier_nation_revenue",
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(Scalars.discountedSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
               countDistinct(col("s_suppkey")).as("n_suppliers"))
          .transform(orderedReport(_, col("n_name"))),
      Some("""SELECT n_name,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
             |       COUNT(DISTINCT s_suppkey) AS n_suppliers
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ── U1/U5 union + dedup-by-key (compaction.py:158-180,219).
    ("union_dedup_counts",
      (spark, dir) => {
        val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
        val a = ev.filter(col("event_type") === "purchase")
        val b = ev.filter(col("value") > 150)
        a.unionByName(b).dropDuplicates("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), Scalars.moneySum(col("value")).as("value_sum"))
          .transform(orderedReport(_, col("event_type")))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM (SELECT DISTINCT event_id, event_type, value FROM (
             |        SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
             |        UNION ALL
             |        SELECT event_id, event_type, value FROM events WHERE value > 150))
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── U6 last-write-wins upsert (INSERT OR REPLACE, db.py:229-236):
    //    purchase events act as the incoming batch, all others as existing
    //    state; incoming wins, then latest-by-time.
    ("upsert_latest_wins",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val existing = ev.filter(col("event_type") =!= "purchase").withColumn("__src", lit(0))
        val incoming = ev.filter(col("event_type") === "purchase").withColumn("__src", lit(1))
        Lifecycle.upsert(existing, incoming, Seq("user_id"),
            Seq(col("__src").desc, col("ts").desc, col("event_id").desc))
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_seconds(col("ts")).as("epoch_s"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id, event_type,
             |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id
             |  ORDER BY (event_type = 'purchase') DESC, ts DESC, event_id DESC) = 1
             |ORDER BY user_id""".stripMargin)),

    // ── A5 duplicate-key audit (cleanup_db.py:130-135).
    ("duplicate_order_audit",
      (spark, dir) =>
        Lifecycle.duplicateAudit(
            Tables.spread(Tables.lineitem(spark, dir), col("l_orderkey")),
            Seq("l_orderkey"))
          .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, COUNT(*) AS n FROM lineitem
             |GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey""".stripMargin)),

    // ── A6 dedup repair with deterministic survivor (cleanup_db.py:148-153;
    //    survivor pinned to max line number instead of SQLite's arbitrary row).
    ("dedup_lineitem",
      (spark, dir) =>
        // aggregate form of A6 (see dedupKeepFirst/dedupKeepFirstAgg): the
        // precedence here is a descending column tuple, so the partial-
        // aggregating max_by path applies — survivors reduce map-side
        // instead of shuffling all 600 k rows into per-key sorted windows.
        // LifecycleSpec pins the two forms equal on this precedence.
        Lifecycle.dedupKeepFirstAgg(
            Tables.lineitem(spark, dir)
              .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
              .transform(Tables.spread(_, col("l_orderkey"))),
            Seq("l_orderkey"), Seq("l_linenumber", "l_quantity"))
          .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_quantity DESC) = 1
             |ORDER BY l_orderkey""".stripMargin)),

    // ── rollup lifecycle stats (the reference's per-format/per-date/overall
    //    stat family, SURVEY §2.4, as one grouping-sets pass).
    ("lifecycle_rollup",
      (spark, dir) =>
        status(spark, dir)
          .withColumn("yr", year(Scalars.epochToDate(col("uploadtime"))))
          .rollup(col("format_id"), col("yr"))
          .agg(count(lit(1)).as("n_total"),
               sum(when(col("is_downloaded"), 1L).otherwise(0L)).as("n_downloaded"),
               sum(when(col("is_compacted"), 1L).otherwise(0L)).as("n_compacted"))
          .select(coalesce(col("format_id"), lit("ALL")).as("format_grp"),
                  coalesce(col("yr"), lit(-1)).cast("long").as("year_grp"),
                  col("n_total"), col("n_downloaded"), col("n_compacted"))
          .transform(orderedReport(_, col("format_grp"), col("year_grp"))),
      Some(s"""$S
              |SELECT COALESCE(format_id, 'ALL') AS format_grp,
              |       COALESCE(year(CAST(make_timestamp(uploadtime * 1000000) AS DATE)), -1) AS year_grp,
              |       COUNT(*) AS n_total,
              |       CAST(SUM(CASE WHEN is_downloaded THEN 1 ELSE 0 END) AS BIGINT) AS n_downloaded,
              |       CAST(SUM(CASE WHEN is_compacted THEN 1 ELSE 0 END) AS BIGINT) AS n_compacted
              |FROM replay_status
              |GROUP BY ROLLUP(format_id, year(CAST(make_timestamp(uploadtime * 1000000) AS DATE)))
              |ORDER BY format_grp, year_grp""".stripMargin)),

    // ── frame window: 7-day rolling event volume (SURVEY §2.5 added surface).
    //    The frame is partitioned by year: an unpartitioned window moves the
    //    whole series to one task — harmless on a per-day series, but it is
    //    the pattern that dies at scale. Trade-off (documented): the first
    //    six days of each year restart their window instead of reaching back
    //    across the boundary.
    ("rolling_daily_counts",
      (spark, dir) => {
        val daily = Tables.events(spark, dir)
          .groupBy(to_date(col("ts")).as("event_date"))
          .agg(count(lit(1)).as("n"))
        daily.withColumn("yr", year(col("event_date")))
          .withColumn("rolling_7d",
            Windows.rollingSum(Seq("yr"), "event_date", "n", 7))
          .drop("yr")
          .transform(orderedReport(_, col("event_date")))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n
             |  FROM events GROUP BY 1)
             |SELECT event_date, n,
             |       CAST(SUM(n) OVER (PARTITION BY year(event_date) ORDER BY event_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_7d
             |FROM daily ORDER BY event_date""".stripMargin)),

    // ── F9/F10 JSON field extraction over the props column (db.py:269-270).
    ("props_json_stats",
      (spark, dir) =>
        Tables.events(spark, dir)
          .select((Scalars.jsonField(col("props"), "k").cast("long") % 10).as("k_mod"))
          .groupBy(col("k_mod"))
          .agg(count(lit(1)).as("n"))
          .transform(orderedReport(_, col("k_mod"))),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
             |       COUNT(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── F6 "(batch …)" detail extraction (db.py:171-179).
    ("batch_extract",
      (spark, dir) =>
        status(spark, dir).filter(col("is_downloaded"))
          .select(col("replay_id"), Scalars.batchFromDetails(col("download_details")).as("batch"))
          .orderBy(col("replay_id")),
      Some(s"""$S
              |SELECT replay_id,
              |       regexp_extract(download_details, '[(]batch ([^)]+)[)]', 1) AS batch
              |FROM replay_status WHERE is_downloaded ORDER BY replay_id""".stripMargin)),

    // ── F1/F4/F8/F13/F14 scalar-function showcase.
    ("scalar_showcase",
      (spark, dir) => {
        val k = col("k")
        Tables.events(spark, dir)
          // sort first on the narrow scan columns (the range sort's sampling
          // pass then re-reads only the scan, not the scalar pipeline below)
          .select(col("event_id"), col("ts"), col("event_type"),
                  col("user_id"), col("value"), col("props"))
          .orderBy(col("event_id"))
          // stage the JSON parse in its own projection: `k` is referenced
          // twice below, and CollapseProject would otherwise inline the
          // (non-cheap) get_json_object once per reference — two string
          // parses per row instead of one
          .withColumn("k", Scalars.jsonField(col("props"), "k").cast("long"))
          .select(col("event_id"),
                  Scalars.dayString(col("ts")).as("day_str"),
                  Scalars.batchId(col("event_type"), col("ts")).as("batch_id"),
                  Scalars.versus(concat(lit("u"), col("user_id").cast("string")),
                                 concat(lit("u"), (col("user_id") + 1).cast("string"))).as("pair"),
                  // exact: identical IEEE division on both engines — rounding
                  // would *introduce* half-boundary flakes, so none is applied
                  Scalars.safeDiv(col("value"), k).as("value_per_k"),
                  Scalars.orDefault(k, lit(-1L)).as("k_or_default"))
      },
      Some("""SELECT event_id,
             |       strftime(ts, '%Y-%m-%d') AS day_str,
             |       event_type || '_' || strftime(ts, '%Y%m%d_%H%M%S') AS batch_id,
             |       'u' || CAST(user_id AS VARCHAR) || ' vs u' || CAST(user_id + 1 AS VARCHAR) AS pair,
             |       CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) <> 0
             |            THEN value / CAST(json_extract_string(props, '$.k') AS BIGINT)
             |            ELSE 0.0 END AS value_per_k,
             |       COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k_or_default
             |FROM events ORDER BY event_id""".stripMargin)),

    // ── A4 compaction planning (db.py:666-700).
    ("compaction_plan",
      (spark, dir) =>
        Compaction.plan(status(spark, dir)).orderBy(col("format_id"), col("day")),
      Some(s"""$S
              |SELECT format_id,
              |       CAST(make_timestamp(uploadtime * 1000000) AS DATE) AS day,
              |       COUNT(*) AS n,
              |       string_agg(replay_id, ',' ORDER BY replay_id) AS ids_csv
              |FROM replay_status
              |WHERE is_downloaded AND NOT is_compacted
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── S5/S6/T4 write path, driver-hashed end to end: two successive
    //    Compaction.compact batches into a fresh date-partitioned parquet
    //    dataset (batch 2 re-delivers every third record at a higher
    //    precedence — exercising the merge path: union-with-existing, LWW
    //    dedup and the partition swap), then a read-back aggregate per
    //    (format, day).
    //    The oracle computes the EXPECTED final state relationally from the
    //    source table — any bug in the write/merge/overwrite/read cycle
    //    (dropped partition, double row, wrong survivor) shifts the hash.
    //    Three days of uploadtimes: compaction is a per-day incremental
    //    task, and the slice bounds the partition count (formats × days)
    //    for a query that really writes files on every bench/verify run —
    //    the semantics pinned (overlap, LWW survivor, multi-partition
    //    dynamic overwrite) don't depend on the day count.
    //    Reference anchor: tasks/compaction.py:149,219-225 (rewrite day file
    //    as union-dedup) — here only touched partitions rewrite, in parallel.
    ("compaction_roundtrip",
      (spark, dir) => {
        val st = status(spark, dir)
          .filter(col("uploadtime") < lit(789177600L)) // < 1995-01-04 UTC
          .select(col("replay_id"), col("format_id"), col("uploadtime"),
                  col("order_key"))
        val b1 = st.withColumn("batch_seq", lit(1L)).withColumn("rev", lit("v1"))
        val b2 = st.filter(col("order_key") % 3 === 0)
          .withColumn("batch_seq", lit(2L)).withColumn("rev", lit("v2"))
        val path = scratchDir("graft_compact_rt_") + "/compacted"
        Compaction.compact(spark, b1, path, "replay_id", "batch_seq")
        Compaction.compact(spark, b2, path, "replay_id", "batch_seq")
        spark.read.parquet(path)
          .groupBy(col("format_id"), col("day"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("rev") === "v2", 1L).otherwise(0L)).as("n_updated"),
               sum(Curation.hashBucket(col("replay_id"), 10000)).as("id_checksum"))
          .transform(orderedReport(_, col("format_id"), col("day")))
      },
      Some(s"""$S,
              |fin AS (
              |  SELECT replay_id, format_id, uploadtime,
              |         CASE WHEN order_key % 3 = 0 THEN 'v2' ELSE 'v1' END AS rev
              |  FROM replay_status WHERE uploadtime < 789177600)
              |SELECT format_id,
              |       CAST(make_timestamp(uploadtime * 1000000) AS DATE) AS day,
              |       COUNT(*) AS n,
              |       CAST(SUM(CASE WHEN rev = 'v2' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
              |       CAST(SUM(CAST(CAST('0x' || substr(md5(replay_id), 1, 8) AS UBIGINT) AS BIGINT) % 10000) AS BIGINT) AS id_checksum
              |FROM fin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── S8 directory-listing scan + P7 extension glob, driver-hashed: the
    //    downloaded slice is written out as a format-partitioned JSON
    //    document tree (the reference's per-replay file layout, discovered
    //    by directory walk — discovery.py), with .txt decoy manifests
    //    appended into the SAME partition dirs; the read back goes through
    //    partition discovery (format_id from dir names) + pathGlobFilter
    //    (*.json only). A listing or glob bug — decoys read, partition
    //    dropped, file missed — shifts the hash. The oracle computes the
    //    expected aggregate relationally from the source table. Same 3-day
    //    slice discipline as compaction_roundtrip: bounds the files written
    //    per run without weakening the pinned semantics.
    ("glob_directory_scan",
      (spark, dir) => {
        val st = status(spark, dir).filter(col("uploadtime") < lit(789177600L))
        val root = scratchDir("graft_glob_") + "/replays"
        st.filter(col("is_downloaded"))
          .select(col("format_id"), col("replay_id"), col("uploadtime"))
          .coalesce(2)
          .write.partitionBy("format_id").json(root)
        st.filter(!col("is_downloaded"))
          .select(col("format_id"), col("replay_id").as("value"))
          .coalesce(1)
          .write.partitionBy("format_id").mode("append").text(root)
        spark.read
          .schema("replay_id STRING, uploadtime BIGINT, format_id STRING")
          .option("pathGlobFilter", "*.json")
          .json(root)
          .groupBy(col("format_id"))
          .agg(count(lit(1)).as("n_docs"),
               sum(Curation.hashBucket(col("replay_id"), 10000)).as("id_checksum"),
               max(col("uploadtime")).as("max_upload"))
          .transform(orderedReport(_, col("format_id")))
      },
      Some(s"""$S
              |SELECT format_id, COUNT(*) AS n_docs,
              |       CAST(SUM(CAST(CAST('0x' || substr(md5(replay_id), 1, 8) AS UBIGINT) AS BIGINT) % 10000) AS BIGINT) AS id_checksum,
              |       MAX(uploadtime) AS max_upload
              |FROM replay_status
              |WHERE is_downloaded AND uploadtime < 789177600
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── A3 per-format lifecycle stats with exact rate arithmetic
    //    (db.py:629-664 + F13 zero-guarded rates).
    ("lifecycle_stats",
      (spark, dir) =>
        status(spark, dir)
          .groupBy(col("format_id"))
          .agg(count(lit(1)).as("n_total"),
               sum(when(col("is_downloaded"), 1L).otherwise(0L)).as("n_downloaded"),
               sum(when(col("is_compacted"), 1L).otherwise(0L)).as("n_compacted"),
               sum(when(Scalars.isFailed(col("download_details")), 1L).otherwise(0L)).as("n_failed"),
               sum(when(coalesce(col("is_retry_attempted"), lit(false)), 1L).otherwise(0L)).as("n_retried"))
          .withColumn("pct_downloaded",
              col("n_downloaded").cast("double") / col("n_total"))
          .transform(orderedReport(_, col("format_id"))),
      Some(s"""$S
              |SELECT format_id, n_total, n_downloaded, n_compacted, n_failed, n_retried,
              |       CAST(n_downloaded AS DOUBLE) / n_total AS pct_downloaded
              |FROM (
              |  SELECT format_id, COUNT(*) AS n_total,
              |         CAST(SUM(CASE WHEN is_downloaded THEN 1 ELSE 0 END) AS BIGINT) AS n_downloaded,
              |         CAST(SUM(CASE WHEN is_compacted THEN 1 ELSE 0 END) AS BIGINT) AS n_compacted,
              |         CAST(SUM(CASE WHEN download_details LIKE 'Failed:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
              |         CAST(SUM(CASE WHEN COALESCE(is_retry_attempted, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_retried
              |  FROM replay_status GROUP BY format_id)
              |ORDER BY format_id""".stripMargin)),

    // ── M1/M2 columnar conditional status update (db.py:325-377).
    ("mark_downloaded",
      (spark, dir) => {
        val results = Tables.orders(spark, dir)
          .filter(col("o_orderstatus") === "O")
          .select(concat(lit("r-"), col("o_orderkey").cast("string")).as("replay_id"),
                  (col("o_orderkey") % 5 < 4).as("success"))
        Lifecycle.markDownloaded(status(spark, dir), results, "retry_20240801")
          .select(col("replay_id"), col("is_downloaded"), col("download_details"))
          .orderBy(col("replay_id"))
      },
      Some(s"""$S,
              |results AS (
              |  SELECT 'r-' || CAST(o_orderkey AS VARCHAR) AS replay_id,
              |         o_orderkey % 5 < 4 AS success
              |  FROM orders WHERE o_orderstatus = 'O')
              |SELECT rs.replay_id,
              |       CASE WHEN COALESCE(r.success, false) THEN true ELSE rs.is_downloaded END AS is_downloaded,
              |       CASE WHEN r.success IS NULL THEN rs.download_details
              |            WHEN r.success THEN 'OK (batch retry_20240801)'
              |            ELSE 'Failed: HTTP 500' END AS download_details
              |FROM replay_status rs LEFT JOIN results r ON rs.replay_id = r.replay_id
              |ORDER BY rs.replay_id""".stripMargin)),

    // ── S2 effectful fetch with retry/backoff through the correctness gate:
    //    the injected transport is deterministic, so DuckDB reproduces the
    //    attempt/payload/error columns with CASE arithmetic.
    ("fetch_results",
      (spark, dir) => {
        val ids = Tables.orders(spark, dir)
          .select(concat(lit("r-"), col("o_orderkey").cast("string")).as("replay_id"))
        val transport = (id: String, attempt: Int) => {
          val n = id.stripPrefix("r-").toLong
          if (n % 10 == 0) Left(("HTTP 404", false))
          else if (n % 10 == 1 && attempt < 3) Left(("HTTP 500", true))
          else Right(s"payload-$id")
        }
        Fetch.fetchAll(spark, ids, transport).toDF().orderBy(col("replay_id"))
      },
      Some("""SELECT 'r-' || CAST(o_orderkey AS VARCHAR) AS replay_id,
             |       CASE WHEN o_orderkey % 10 = 0 THEN 1
             |            WHEN o_orderkey % 10 = 1 THEN 3 ELSE 1 END AS attempts,
             |       CASE WHEN o_orderkey % 10 = 0 THEN NULL
             |            ELSE 'payload-r-' || CAST(o_orderkey AS VARCHAR) END AS payload,
             |       CASE WHEN o_orderkey % 10 = 0 THEN 'HTTP 404' END AS error
             |FROM orders ORDER BY replay_id""".stripMargin)),

    // ── skew-safe aggregation (salted two-phase) through the gate: result
    //    must equal the plain GROUP BY the oracle runs.
    ("salted_user_counts",
      (spark, dir) =>
        Skew.saltedCount(Tables.events(spark, dir).select("event_id", "user_id"),
                         "user_id", 8)
          .orderBy(col("user_id")),
      Some("""SELECT user_id, COUNT(*) AS n FROM events
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ── T5 dead-letter retry planning in 50-row mini-batches (retry.py:60).
    ("retry_queue",
      (spark, dir) =>
        Lifecycle.retryBatches(status(spark, dir), 50)
          .orderBy(col("format_id"), col("replay_id")),
      Some(s"""$S
              |SELECT format_id, replay_id, uploadtime,
              |       CAST(floor((row_number() OVER (PARTITION BY format_id ORDER BY uploadtime, replay_id) - 1) / 50) AS BIGINT) AS batch_no
              |FROM replay_status
              |WHERE NOT is_downloaded AND download_details LIKE 'Failed:%'
              |  AND COALESCE(is_retry_attempted, false) = false
              |ORDER BY format_id, replay_id""".stripMargin)),

    // ── sessionization: 30-min inactivity gap per user (tumbling-window
    //    analytics surface, SURVEY §2.9 T7 extension).
    ("user_sessions",
      (spark, dir) =>
        AsOf.sessionize(Tables.spread(Tables.events(spark, dir), col("user_id")),
            "user_id", "ts", col("event_id"), 1800)
          .groupBy(col("user_id"), col("session_no"))
          .agg(min(unix_seconds(col("ts"))).as("start_epoch"),
               max(unix_seconds(col("ts"))).as("end_epoch"),
               count(lit(1)).as("n"))
          .orderBy(col("user_id"), col("session_no")),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
             |m AS (
             |  SELECT user_id, ts, event_id, ep,
             |         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |               OR ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
             |              THEN 1 ELSE 0 END AS nw
             |  FROM e),
             |s AS (
             |  SELECT user_id, ep,
             |         CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
             |  FROM m)
             |SELECT user_id, session_no, MIN(ep) AS start_epoch, MAX(ep) AS end_epoch,
             |       COUNT(*) AS n
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── as-of join composed from built-ins (union + ignoreNulls window):
    //    each event sees the user's latest purchase at-or-before it. Oracle
    //    is DuckDB's native ASOF LEFT JOIN — same semantics, two engines,
    //    two very different plans.
    ("last_purchase_asof",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
                  unix_seconds(col("ts")).as("purchase_epoch"))
        AsOf.asofJoin(ev.select(col("event_id"), col("user_id"), col("ts")),
                      purchases, "user_id", "ts", Seq("purchase_epoch"))
          .select(col("event_id"), col("user_id"),
                  unix_seconds(col("ts")).as("epoch_s"), col("asof_purchase_epoch"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id,
             |       CAST(floor(epoch(e.ts)) AS BIGINT) AS epoch_s,
             |       CAST(floor(epoch(p.ts)) AS BIGINT) AS asof_purchase_epoch
             |FROM events e ASOF LEFT JOIN
             |     (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
             |  ON e.user_id = p.user_id AND e.ts >= p.ts
             |ORDER BY e.event_id""".stripMargin)),

    // ── T2/W2 pagination plan: 51-row pages in descending event time per
    //    stream key (discovery.py:108-113).
    ("backfill_pages",
      (spark, dir) =>
        Windows.paginate(Tables.events(spark, dir), Seq("event_type"),
            Seq(col("ts").desc, col("event_id").desc), 51)
          .filter(col("page") < 5)
          .groupBy(col("event_type"), col("page"))
          .agg(count(lit(1)).as("n"),
               min(unix_seconds(col("ts"))).as("min_epoch"),
               max(unix_seconds(col("ts"))).as("max_epoch"))
          .orderBy(col("event_type"), col("page")),
      Some("""WITH paged AS (
             |  SELECT event_type, ts,
             |         CAST(floor((row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) - 1) / 51) AS BIGINT) AS page
             |  FROM events)
             |SELECT event_type, page, COUNT(*) AS n,
             |       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_epoch,
             |       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_epoch
             |FROM paged WHERE page < 5
             |GROUP BY event_type, page ORDER BY event_type, page""".stripMargin)),

    // ── F10 encode side + round trip: synthesize a multi-field raw API
    //    record, extract the known fields as columns, fold the leftovers into
    //    a canonical `additional_info` JSON map (db.py:269-270,878-879), then
    //    prove the round trip by pulling a folded field back out.
    ("additional_info_encode",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val raw = concat(
          lit("{\"k\": "), Scalars.jsonField(col("props"), "k"),
          lit(", \"rating\": "), (col("user_id") % 3000).cast("string"),
          lit(", \"uploader\": \"u"), col("user_id").cast("string"),
          lit("\", \"private\": "), (col("event_id") % 2).cast("string"), lit("}"))
        // single parse per row: the codegen'd JsonPartitionEncode emits the
        // known-field values AND the canonical leftover encoding in one pass
        // (the interpreted from_json→map_filter→transform HOF chain walked
        // the object repeatedly per row and dominated the whole bench); the
        // get_json_object on additional_info stays — it IS the round trip
        // being demonstrated.
        // Sort FIRST, on the narrow scan columns: a global sort's range
        // exchange samples its child with a full extra pass, so heavy
        // projections placed below the sort run twice. Ordering on event_id
        // is preserved by the 1:1 projections above the sort — same rows,
        // same order, one encode pass instead of two.
        ev.select(col("event_id"), col("user_id"), col("props"))
          .orderBy(col("event_id"))
          .select(col("event_id"), raw.as("raw"))
          .select(col("event_id"),
                  org.apache.spark.sql.graft.JsonExpressions
                    .jsonPartitionEncode(col("raw"), Seq("k", "uploader")).as("e"))
          .select(col("event_id"),
                  col("e").getItem(0).cast("long").as("k"),
                  col("e").getItem(1).as("uploader"),
                  col("e").getItem(2).as("additional_info"))
          .withColumn("rating_rt",
            Scalars.jsonField(col("additional_info"), "rating").cast("long"))
      },
      Some("""WITH raw AS (
             |  SELECT event_id,
             |         '{"k": ' || json_extract_string(props, '$.k')
             |           || ', "rating": ' || CAST(user_id % 3000 AS VARCHAR)
             |           || ', "uploader": "u' || CAST(user_id AS VARCHAR)
             |           || '", "private": ' || CAST(event_id % 2 AS VARCHAR) || '}' AS raw
             |  FROM events),
             |enc AS (
             |  SELECT event_id,
             |         CAST(json_extract_string(raw, '$.k') AS BIGINT) AS k,
             |         json_extract_string(raw, '$.uploader') AS uploader,
             |         '{' || array_to_string(
             |             list_transform(
             |               list_sort(list_filter(json_keys(raw), x -> x <> 'k' AND x <> 'uploader')),
             |               x -> '"' || x || '":"' || json_extract_string(raw, '$.' || x) || '"'),
             |             ',') || '}' AS additional_info
             |  FROM raw)
             |SELECT event_id, k, uploader, additional_info,
             |       CAST(json_extract_string(additional_info, '$.rating') AS BIGINT) AS rating_rt
             |FROM enc ORDER BY event_id""".stripMargin)),

    // ── O2 migration-version surface: run the real Migrations.migrate loop
    //    (db.py:79-154 — MAX(version) check, in-order apply, bookkeeping
    //    append) over a 5-step registry from a fresh log, then query the
    //    latest applied version. The oracle rebuilds the expected log from
    //    range(): a skipped/reordered/duplicated migration changes the row.
    ("latest_migration",
      (spark, _) => {
        val registry = (1L to 5L).map(v =>
          Migration(v, s"migration v$v", df => df.withColumn(s"v$v", lit(v))))
        val (_, log) = Migrations.migrate(
          spark.range(1).toDF("id"), Migrations.emptyLog(spark), registry,
          migratedAtEpoch = 1700000000L)
        Windows.topK(log, Seq(col("version").desc), 1)
      },
      Some("""SELECT version, 'migration v' || CAST(version AS VARCHAR) AS description,
             |       CAST(1700000000 AS BIGINT) AS migrated_at
             |FROM range(1, 6) t(version)
             |ORDER BY version DESC LIMIT 1""".stripMargin)),

    // ── F12+A9 composed end to end (calculate_throughput.py:22-117): emit
    //    Airflow-style log lines per format run, then parse them back and
    //    compute duration / replays-per-second / success rate / avg ms —
    //    the reference's whole throughput script as one declarative pass.
    ("throughput_from_logs",
      (spark, dir) => {
        val agg = status(spark, dir).groupBy(col("format_id"))
          .agg(min(col("uploadtime")).as("start_ep"), max(col("uploadtime")).as("end_ep"),
               sum(when(col("is_downloaded"), 1L).otherwise(0L)).as("n_dl"),
               sum(when(Scalars.isFailed(col("download_details")), 1L).otherwise(0L)).as("n_fail"),
               count(lit(1)).as("n_total"))
        def iso(ep: org.apache.spark.sql.Column) =
          date_format(timestamp_seconds(ep), "yyyy-MM-dd'T'HH:mm:ss")
        val l1 = agg.select(col("format_id").as("run_id"),
          concat(lit("["), iso(col("start_ep")),
                 lit("] {taskinstance.py} Starting attempt 1 of 1")).as("line"))
        val l2 = agg.select(col("format_id").as("run_id"),
          concat(lit("["), iso(col("end_ep")),
                 lit("] {local_task_job_runner.py} Task exited")).as("line"))
        val l3 = agg.select(col("format_id").as("run_id"),
          concat(lit("Download summary: "), col("n_dl").cast("string"),
                 lit(" downloaded, "), col("n_fail").cast("string"),
                 lit(" failed, 0 skipped out of "), col("n_total").cast("string"),
                 lit(" total")).as("line"))
        orderedReport(Throughput.fromLogs(l1.unionByName(l2).unionByName(l3)), col("run_id"))
      },
      Some(s"""$S,
              |agg AS (
              |  SELECT format_id AS run_id, MIN(uploadtime) AS start0, MAX(uploadtime) AS end0,
              |         CAST(SUM(CASE WHEN is_downloaded THEN 1 ELSE 0 END) AS BIGINT) AS n_dl,
              |         CAST(SUM(CASE WHEN download_details LIKE 'Failed:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
              |         COUNT(*) AS n_total
              |  FROM replay_status GROUP BY 1),
              |lines AS (
              |  SELECT run_id, '[' || strftime(make_timestamp(start0 * 1000000), '%Y-%m-%dT%H:%M:%S')
              |           || '] {taskinstance.py} Starting attempt 1 of 1' AS line FROM agg
              |  UNION ALL
              |  SELECT run_id, '[' || strftime(make_timestamp(end0 * 1000000), '%Y-%m-%dT%H:%M:%S')
              |           || '] {local_task_job_runner.py} Task exited' FROM agg
              |  UNION ALL
              |  SELECT run_id, 'Download summary: ' || CAST(n_dl AS VARCHAR) || ' downloaded, '
              |           || CAST(n_fail AS VARCHAR) || ' failed, 0 skipped out of '
              |           || CAST(n_total AS VARCHAR) || ' total' FROM agg),
              |parsed AS (
              |  SELECT run_id,
              |         CASE WHEN line LIKE '%Starting attempt%'
              |              THEN CAST(floor(epoch(strptime(substr(line, 2, 19), '%Y-%m-%dT%H:%M:%S'))) AS BIGINT) END AS start_ep,
              |         CASE WHEN line LIKE '%Task exited'
              |              THEN CAST(floor(epoch(strptime(substr(line, 2, 19), '%Y-%m-%dT%H:%M:%S'))) AS BIGINT) END AS end_ep,
              |         CASE WHEN line LIKE 'Download summary:%'
              |              THEN CAST(regexp_extract(line, 'Download summary: ([0-9]+) downloaded', 1) AS BIGINT) END AS downloaded,
              |         CASE WHEN line LIKE 'Download summary:%'
              |              THEN CAST(regexp_extract(line, 'out of ([0-9]+) total', 1) AS BIGINT) END AS total
              |  FROM lines)
              |SELECT run_id, MAX(start_ep) AS start_ep, MAX(end_ep) AS end_ep,
              |       MAX(downloaded) AS downloaded, MAX(total) AS total,
              |       MAX(end_ep) - MAX(start_ep) AS duration_s,
              |       CASE WHEN MAX(end_ep) - MAX(start_ep) <> 0
              |            THEN CAST(MAX(downloaded) AS DOUBLE) / (MAX(end_ep) - MAX(start_ep)) ELSE 0.0 END AS throughput_rps,
              |       CASE WHEN MAX(total) <> 0
              |            THEN CAST(MAX(downloaded) AS DOUBLE) * 100.0 / MAX(total) ELSE 0.0 END AS success_rate_pct,
              |       CASE WHEN MAX(downloaded) <> 0
              |            THEN CAST(MAX(end_ep) - MAX(start_ep) AS DOUBLE) * 1000.0 / MAX(downloaded) ELSE 0.0 END AS avg_ms_per_download
              |FROM parsed GROUP BY run_id ORDER BY run_id""".stripMargin)),

    // ── M3 integrity audit, driver-hashed (reference cleanup script's
    //    pre-repair report): duplicate-key and null-key violations are
    //    PLANTED deterministically (every 100th key re-delivered, every
    //    97th key null'd) so the audit exercises its non-zero paths; the
    //    oracle recomputes the same report from the same planted relation.
    //    Note the null-key group also counts as a duplicate key when ≥2
    //    null rows exist — mirrored exactly on both sides.
    ("integrity_audit",
      (spark, dir) => {
        // one scan (round 13): the three-branch union re-derived the
        // status projection (and its orders scan) per branch; a row's
        // planted copies are a pure function of its own key, so a
        // conditional-array explode emits the identical multiset map-side
        val st = status(spark, dir).select(col("replay_id"), col("order_key"))
        val none = array().cast("array<string>")
        val dirty = st.select(explode(concat(
            array(col("replay_id")),
            when(col("order_key") % 100 === 0, array(col("replay_id")))
              .otherwise(none),
            when(col("order_key") % 97 === 0,
                 array(lit(null).cast("string"))).otherwise(none)))
          .as("replay_id"))
        Maintenance.integrityReport(dirty, "replay_id")
          .orderBy(col("n_rows"))
      },
      Some(s"""$S,
              |st AS (SELECT replay_id, order_key FROM replay_status),
              |dirty AS (
              |  SELECT replay_id FROM st
              |  UNION ALL SELECT replay_id FROM st WHERE order_key % 100 = 0
              |  UNION ALL SELECT NULL FROM st WHERE order_key % 97 = 0),
              |dk AS (SELECT replay_id, COUNT(*) AS n FROM dirty
              |       GROUP BY replay_id HAVING COUNT(*) > 1),
              |agg1 AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows_in_dup_keys,
              |                COUNT(*) AS n_dup_keys FROM dk),
              |agg2 AS (SELECT COUNT(*) AS n_rows,
              |                COUNT(DISTINCT replay_id) AS n_distinct_keys,
              |                CAST(SUM(CASE WHEN replay_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys
              |         FROM dirty)
              |SELECT n_rows, n_distinct_keys, n_null_keys, n_rows_in_dup_keys, n_dup_keys
              |FROM agg2 CROSS JOIN agg1 ORDER BY n_rows""".stripMargin)),

    // ── S3/S4/S8/P7 in one driver-hashed pass: write a day's replay
    //    records as a JSON dataset (the reference's raw per-replay JSON
    //    shape, format-partitioned), then discover them back via directory
    //    listing + extension glob, scan with an explicit schema, and
    //    aggregate. The oracle computes the expected aggregate straight
    //    from the source table, so a serialization, listing, glob, or
    //    schema-projection bug shifts the hash. (Work-asymmetric like
    //    compaction_roundtrip — the twin never writes; itemized in Bench.)
    ("json_replay_roundtrip",
      (spark, dir) => {
        val st = status(spark, dir)
          .filter(col("uploadtime") < lit(789004800L)) // < 1995-01-02 UTC
          .select(col("replay_id"), col("format_id"), col("uploadtime"),
                  col("players"))
        val path = scratchDir("graft_json_rt_") + "/replays"
        st.repartition(col("format_id"))
          .write.mode("overwrite").partitionBy("format_id").json(path)
        spark.read
          .schema("replay_id STRING, uploadtime BIGINT, players STRING, format_id STRING")
          .option("pathGlobFilter", "*.json")
          .json(path)
          .groupBy(col("format_id"))
          .agg(count(lit(1)).as("n"),
               sum(Curation.hashBucket(col("replay_id"), 10000)).as("id_checksum"),
               min(col("uploadtime")).as("min_up"), max(col("uploadtime")).as("max_up"),
               sum(length(col("players")).cast("long")).as("players_len"))
          .transform(orderedReport(_, col("format_id")))
      },
      Some(s"""$S
              |SELECT format_id, COUNT(*) AS n,
              |       CAST(SUM(CAST(CAST('0x' || substr(md5(replay_id), 1, 8) AS UBIGINT) AS BIGINT) % 10000) AS BIGINT) AS id_checksum,
              |       MIN(uploadtime) AS min_up, MAX(uploadtime) AS max_up,
              |       CAST(SUM(length(players)) AS BIGINT) AS players_len
              |FROM replay_status WHERE uploadtime < 789004800
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── T7 batch-parity, driver-hashed through a REAL streaming execution:
    //    stage the events table as a file-stream source, run the watermarked
    //    tumbling daily aggregate (Streaming.dailyStats — the T1/T7 surface)
    //    through an actual micro-batch query into a memory sink, and hash
    //    the streamed result against the BATCH twin as the oracle. This
    //    converts the stream/batch-equivalence claim from spec-only into a
    //    driver-visible hash: a watermark, window-boundary, or sink bug
    //    shifts the row set. Deterministic because the staged source is one
    //    file → one micro-batch (the watermark starts at epoch and can drop
    //    nothing), and the aggregate itself is exact integer counts.
    ("stream_daily_parity",
      (spark, dir) => {
        import org.apache.spark.sql.types._
        val staged = stagedEvents(spark, dir)
        val schema = StructType(Seq(StructField("ts", TimestampType),
                                    StructField("event_type", StringType)))
        // 8 state-store partitions for a ~30-key (day) state
        parityStream(spark, "daily", 8, "complete", run => s"$staged/ckpt_$run") {
          graft.streaming.Streaming.dailyStats(spark, s"$staged/src", schema)
        } {
          _.select(to_date(col("day.start")).as("event_date"),
                   col("n_events"), col("n_error"))
            .transform(orderedReport(_, col("event_date")))
        }
      },
      Some("""SELECT CAST(ts AS DATE) AS event_date,
             |       COUNT(*) AS n_events,
             |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── U5's streaming twin driver-hashed through a REAL micro-batch
    //    execution: the staged events stream through
    //    `dropDuplicatesWithinWatermark` (watermark-bounded dedup state —
    //    the 100 TB ingest's exact-dedup pass) keyed on
    //    (user_id, event_type), and the emitted KEY SET is hashed against
    //    the batch DISTINCT. Keys only: within one micro-batch the surviving
    //    row's non-key columns depend on partition arrival order, but the
    //    key set is arrival-order-free — so the query is deterministic
    //    while still exercising the state store's insert/lookup path for
    //    every input row. Same one-file ⇒ one-batch staging argument as
    //    stream_daily_parity.
    ("stream_dedup_parity",
      (spark, dir) => {
        import org.apache.spark.sql.types._
        val staged = stagedEvents(spark, dir)
        val schema = StructType(Seq(StructField("ts", TimestampType),
                                    StructField("event_type", StringType),
                                    StructField("user_id", LongType)))
        val src = spark.readStream.schema(schema).parquet(s"$staged/src")
        // 8 state-store partitions: the dedup key set is small and a wider
        // store is commit overhead
        parityStream(spark, "dedup", 8, "append", run => s"$staged/ckpt_dd_$run") {
          graft.streaming.Streaming
            .dedupStream(src, Seq("user_id", "event_type"), "ts", "1 hour")
            .select(col("user_id"), col("event_type"))
        }(_.orderBy(col("user_id"), col("event_type")))
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY 1, 2""".stripMargin)),

    // ── T7's session-window twin driver-hashed through a REAL two-trigger
    //    micro-batch execution: gap-merged session windows
    //    (Streaming.sessionStats, 30-min gap) over the sentinel-closed
    //    staging, hashed against the batch gaps-and-islands form. The twin
    //    pins session_window's STRICT boundary (a gap of exactly the
    //    timeout starts a NEW session — [t, t+gap) windows that merely
    //    touch do not overlap), in microsecond precision end to end.
    ("stream_session_parity",
      (spark, dir) => {
        val staged = stagedSessionEvents(spark, dir)
        val src = spark.readStream
          .schema("user_id BIGINT, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$staged/src")
        // The memory sink holds its rows on the driver, and a plan over
        // them is a LocalTableScan that ships the rows inside its tasks, one
        // slice per core: at sf0.1 (~5 MB of session rows) the result's two
        // stages each send 1338 KiB tasks at local[4], over Spark's 1000 KiB
        // warning. A file sink would let executors read the rows, but it
        // has no complete mode, so the family keeps one sink.
        parityStream(spark, "session", 8, "append", run => s"$staged/ckpt_$run") {
          graft.streaming.Streaming
            .sessionStats(src, "user_id", "ts", "30 minutes", "1 hour")
        } {
          _.filter(col("user_id") >= 0L) // the sentinel's own session is scaffolding
            .select(col("user_id"),
                    unix_micros(col("session_start")).as("start_us"),
                    unix_micros(col("session_end")).as("end_us"),
                    col("n_events"))
            .orderBy(col("user_id"), col("start_us"))
        }
      },
      Some("""WITH e AS (SELECT user_id, ts, epoch_us(ts) AS ep FROM events),
             |m AS (SELECT user_id, ts, ep,
             |             CASE WHEN lag(ep) OVER w IS NULL
             |                    OR ep - lag(ep) OVER w >= 1800000000 THEN 1 ELSE 0 END AS nw
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (SELECT user_id, ep,
             |             CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sn
             |      FROM m)
             |SELECT user_id, MIN(ep) AS start_us, MAX(ep) + 1800000000 AS end_us,
             |       COUNT(*) AS n_events
             |FROM s GROUP BY user_id, sn ORDER BY user_id, start_us""".stripMargin)),

    // ── T5's custom streaming state driver-hashed through a REAL
    //    flatMapGroupsWithState execution: the staged three-round attempt
    //    log streams one file per trigger through the retry machine
    //    (per-key failure counter, success resolves, maxAttempts=3 dead-
    //    letters) and the final verdict set is hashed against the closed-
    //    form outcome. The machine is order-insensitive and failure counts
    //    are additive, so the verdicts are a pure function of the attempt
    //    multiset — independent of how the files land in micro-batches —
    //    while the state store's update/remove path still runs for every
    //    key. A dropped state update, a phantom re-delivery, or a wrong
    //    exhaustion boundary all shift the hash.
    ("stream_retry_parity",
      (spark, dir) => {
        implicit val s: SparkSession = spark
        import spark.implicits._
        val src = stagedRetryAttempts(spark, dir)
        val stream = spark.readStream
          .option("maxFilesPerTrigger", "1")
          .schema("id STRING, ok BOOLEAN").parquet(src)
          .as[graft.streaming.FetchAttempt]
        // 8 state-store partitions, not the session's width: at 32
        // partitions × 3 triggers that was 96 store commits for a small key
        // set (measured 2.7 → 1.5 s at 8). A production deployment sizes
        // this to keys/executor as usual.
        parityStream(spark, "retry", 8, "append", _ => scratchDir("graft_retry_ckpt_")) {
          graft.streaming.Streaming.retryStateMachine(stream, maxAttempts = 3).toDF()
        } {
          _.select(col("id").as("replay_id"), col("attempts"),
                   col("gaveUp").as("gave_up"))
            .orderBy(col("replay_id"))
        }
      },
      Some(s"""$S
              |SELECT replay_id,
              |       CAST(CASE WHEN order_key % 5 BETWEEN 1 AND 3
              |                 THEN order_key % 5 ELSE 3 END AS INTEGER) AS attempts,
              |       (order_key % 5) NOT BETWEEN 1 AND 3 AS gave_up
              |FROM replay_status WHERE order_key % 7 = 0
              |ORDER BY replay_id""".stripMargin)),

    // ── Stream-stream interval join driver-hashed through a REAL
    //    multi-trigger execution (the streaming twin of
    //    error_context_stats' bucketed range join): the events table
    //    replays as two sequential timeline micro-batches (days ≤15 /
    //    ≥16 — see stagedEventsTimeline) plus the final no-new-data
    //    watermark-advance batch; errors stream-join
    //    same-user context events in their prior 24 h via the native
    //    watermarked interval join, so slice-2 errors MUST find slice-1
    //    context in retained join state. Inner-join matches are a pure
    //    function of the data (no arrival-order or watermark-closure
    //    dependence — lateness 40 d > the staged span, so nothing drops),
    //    and the per-user rollup of the drained pair set hashes against
    //    the batch twin. A dropped buffer row, wrong range bound, or
    //    premature state eviction all shift the hash.
    ("stream_context_parity",
      (spark, dir) => {
        import org.apache.spark.sql.types._
        val staged = stagedEventsTimeline(spark, dir)
        val schema = StructType(Seq(StructField("event_id", LongType),
                                    StructField("ts", TimestampType),
                                    StructField("event_type", StringType),
                                    StructField("user_id", LongType)))
        def src() = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$staged/src")
        // 4 state-store partitions, not the parity family's usual 8: the
        // interval join keeps TWO stores per partition (one per side)
        // across the triggers, so commit count scales with
        // sides×triggers×parts — measured 4.38/4.41 → 4.01/3.68 s (two
        // quiet-window runs each side); per-user state is far below any
        // skew concern at this key cardinality
        parityStream(spark, "ctx", 4, "append", run => s"$staged/ckpt_$run") {
          graft.streaming.Streaming.priorWindowPairs(
            src().filter(col("event_type") === "error"), src(),
            86400L, "40 days")
        } {
          _.groupBy(col("user_id"))
            .agg(countDistinct(col("err_id")).as("n_ctx_errors"),
                 count(lit(1)).as("n_pairs"))
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH pairs AS (
             |  SELECT e.event_id AS err_id, e.user_id
             |  FROM events e JOIN events c
             |    ON c.user_id = e.user_id
             |   AND epoch_us(c.ts) >= epoch_us(e.ts) - 86400000000
             |   AND epoch_us(c.ts) < epoch_us(e.ts)
             |  WHERE e.event_type = 'error')
             |SELECT user_id, COUNT(DISTINCT err_id) AS n_ctx_errors,
             |       COUNT(*) AS n_pairs
             |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── §3.3 composed disk↔state reconciliation, end to end (reference
    //    import_existing_replays.py:103-228 + fix_compacted_status.py:158-211):
    //    S8 directory listing (synthesized deterministically from lineitem) →
    //    F11 id-from-filename → F7 |t:| log-timestamp extraction → F8 player
    //    concat → J2 anti-join against replay_status (only files the DB has
    //    never seen) → compacted-file membership as J5 boolean-map → the
    //    reference's batch INSERT row shape (discovered+downloaded flags,
    //    batch id, canonical additional_info JSON). Every constituent op is
    //    green individually elsewhere; this entry pins the composition a real
    //    corpus-repair run executes.
    //    100 TB shape: one anti-join shuffle on replay_id + one left join on
    //    the (small) compacted-id listing — both co-partition on the state
    //    table's natural key; everything else is map-side string work.
    ("reconcile_disk_state",
      (spark, dir) =>
        reconcilePipeline(spark, dir)
          // materialize before the total-order sort: a range exchange samples
          // its child with a full extra pass, which would re-run the whole
          // synth→extract→anti-join pipeline; the surviving import batch is
          // small relative to the corpus (the same bounded-result argument as
          // the LSH signature checkpoint, SCALE.md). Lazy persist, not
          // localCheckpoint: with a single consumer the sort's sampling pass
          // doubles as the materialization, saving the eager job (measured
          // 1.31 → 1.07 s; the reverse holds for the self-join
          // materializations — see SCALE.md "Checkpoint only what
          // re-executes expensively").
          // Lifecycle note: nothing unpersists this lazily-returned plan —
          // Bench/Verify clear all caches between queries, and a long-lived
          // session relies on LRU eviction of the (small) cached result; an
          // application embedding this query long-term should unpersist
          // after consuming it.
          .persist()
          .orderBy(col("replay_id")),
      Some(s"""$S,
              |files AS (
              |  SELECT DISTINCT
              |    '/data/replays/gen9ou/2024-01-'
              |      || lpad(CAST((l_orderkey*2) % 28 + 1 AS VARCHAR), 2, '0')
              |      || '/r-' || CAST(l_orderkey*2 AS VARCHAR) || '.json' AS path,
              |    '|player|p1|u' || CAST((l_orderkey*2) % 997 AS VARCHAR)
              |      || '|player|p2|u' || CAST((l_orderkey*2 + 1) % 997 AS VARCHAR)
              |      || '|t:|' || CAST(1700000000 + (l_orderkey*2) % 86400 AS VARCHAR)
              |      || '|start' AS log
              |  FROM lineitem),
              |parsed AS (
              |  SELECT regexp_extract(path, '([^/]+)[.]json$$', 1) AS replay_id,
              |         path,
              |         regexp_extract(path, '/([0-9]{4}-[0-9]{2}-[0-9]{2})/', 1) AS date_dir,
              |         CAST(regexp_extract(log, '[|]t:[|]([0-9]+)', 1) AS BIGINT) AS uploadtime,
              |         regexp_extract(log, '[|]player[|]p1[|]([^|]+)', 1) || ' vs '
              |           || regexp_extract(log, '[|]player[|]p2[|]([^|]+)', 1) AS players
              |  FROM files),
              |fresh AS (
              |  SELECT p.* FROM parsed p ANTI JOIN replay_status rs ON p.replay_id = rs.replay_id),
              |compacted AS (
              |  SELECT 'r-' || CAST(o_orderkey * 2 AS VARCHAR) AS replay_id, true AS in_compacted
              |  FROM orders WHERE o_orderkey % 4 = 0)
              |SELECT f.replay_id, 'gen9ou' AS format_id,
              |       'import_existing_20240101_000000' AS discovered_batch,
              |       true AS is_downloaded,
              |       'Imported from file ' || f.path AS download_details,
              |       COALESCE(c.in_compacted, false) AS is_compacted,
              |       CASE WHEN c.in_compacted
              |            THEN 'Found in compacted file for ' || f.date_dir END AS compacted_details,
              |       f.uploadtime, f.players,
              |       '{"date_dir":"' || f.date_dir || '","imported":"true"}' AS additional_info
              |FROM fresh f LEFT JOIN compacted c ON f.replay_id = c.replay_id
              |ORDER BY f.replay_id""".stripMargin)),

    // ── S9 driver-hashed through the real DDL path: both join sides are
    //    written as bucketed tables (bucketBy + sortBy saveAsTable — the
    //    reference's CREATE INDEX analog, db.py:73-76) and the lifecycle
    //    join runs over the bucketed scans. The zero-Exchange property of
    //    that join is plan-asserted in BucketingSpec; this row pins the
    //    bucketed write→catalog→scan→join round-trip's RESULTS with the
    //    driver's hash. 100 TB shape: bucket count scales with the corpus,
    //    the join stays co-located either way.
    ("bucketed_join_counts",
      (spark, dir) => {
        val (ta, tb) = stagedBucketedTables(spark, dir)
        spark.table(ta)
          .join(spark.table(tb), Seq("replay_id"))
          .groupBy(col("format_id"))
          .agg(count(lit(1)).as("n_attempted"),
               sum(when(col("success"), 1L).otherwise(0L)).as("n_success"),
               sum(Curation.hashBucket(col("replay_id"), 10000)).as("id_checksum"))
          .transform(orderedReport(_, col("format_id")))
      },
      Some(s"""$S
              |SELECT format_id, COUNT(*) AS n_attempted,
              |       CAST(SUM(CASE WHEN order_key % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
              |       CAST(SUM(CAST(CAST('0x' || substr(md5(replay_id), 1, 8) AS UBIGINT) AS BIGINT) % 10000) AS BIGINT) AS id_checksum
              |FROM replay_status WHERE order_key % 5 < 4
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── A8 driver-hashed through the real observe channel: the run-summary
    //    counters the reference accumulates in Python dicts
    //    (compaction.py:120-132, download.py:246-266) ride a CollectMetrics
    //    node on an action that runs anyway (noop write), aggregate across
    //    executors in the accumulator bus, and surface via Observation.get.
    //    The returned row IS the observed metric values — a broken metric
    //    channel (dropped updates, double-counted retries of a task) shifts
    //    the hash. A fresh Observation per invocation: observations are
    //    single-use by API contract.
    ("observed_metrics",
      (spark, dir) => {
        val obs = new org.apache.spark.sql.Observation(
          s"graft_obs_${ObsRun.incrementAndGet()}")
        Metrics.observed(status(spark, dir), obs, Metrics.lifecycleCounters)
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        import spark.implicits._
        Seq((m("n_total").asInstanceOf[Long],
             m("n_downloaded").asInstanceOf[Long],
             m("n_failed").asInstanceOf[Long]))
          .toDF("n_total", "n_downloaded", "n_failed")
          .orderBy(col("n_total"))
      },
      Some(s"""$S
              |SELECT COUNT(*) AS n_total,
              |       CAST(SUM(CASE WHEN is_downloaded THEN 1 ELSE 0 END) AS BIGINT) AS n_downloaded,
              |       CAST(SUM(CASE WHEN download_details LIKE 'Failed:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
              |FROM replay_status ORDER BY 1""".stripMargin)),

    // ── T6 driver-hashed through a REAL throttled micro-batch execution:
    //    the paged source streams with maxPagesPerTrigger=7 (the reference's
    //    max_pages pacing, constants.py:26 + discovery.py:78-79), and each
    //    micro-batch's row count / uploadtime span / id checksum is recorded
    //    from inside foreachBatch. Batch boundaries are a pure function of
    //    (cursor, pageSize, maxPagesPerTrigger) via SupportsAdmissionControl,
    //    so the per-batch rows are deterministic: a throttle bug (wrong
    //    advance, re-delivered or skipped pages, no exhaustion stop) changes
    //    the batch structure and the hash. Fresh checkpoint per invocation —
    //    resuming a finished checkpoint would replay zero batches.
    ("throttled_stream_stats",
      (spark, dir) => {
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Long, Long, Long, Long)]()
        val ckpt = scratchDir("graft_throttle_ckpt_")
        val q = spark.readStream.format("paged-replays")
          .option("format", "gen9ou").option("total", "1000")
          .option("pageSize", "51").option("maxPagesPerTrigger", "7")
          .load()
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val r = batch.agg(
              count(lit(1)), min(col("uploadtime")), max(col("uploadtime")),
              sum(Curation.hashBucket(col("replay_id"), 10000))).head()
            buf.add((batchId, r.getLong(0), r.getLong(1), r.getLong(2),
                     r.getLong(3)))
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
        import spark.implicits._
        scala.jdk.CollectionConverters.IteratorHasAsScala(buf.iterator())
          .asScala.toSeq
          .toDF("batch_id", "n_rows", "min_up", "max_up", "id_checksum")
          .orderBy(col("batch_id"))
      },
      Some("""SELECT CAST((i // 51) // 7 AS BIGINT) AS batch_id,
             |       COUNT(*) AS n_rows,
             |       MIN(1704067200 - i * 37) AS min_up,
             |       MAX(1704067200 - i * 37) AS max_up,
             |       CAST(SUM(CAST(CAST('0x' || substr(md5('gen9ou-' || CAST(1704067200 - i * 37 AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 10000) AS BIGINT) AS id_checksum
             |FROM range(1000) t(i) GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
