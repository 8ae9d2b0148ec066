package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.5/§2.6): top-k, rolling frames,
  * pagination cursors, funnels and paths (latest-row-per-key is
  * [[Lifecycle.dedupKeepFirst]]). The reference runs these as per-key
  * loops + `ORDER BY … LIMIT 1` (db.py:133-154) — here they are ranking
  * windows, one shuffle on the partition key.
  */
object Windows {

  /** O1 — global top-k under a total order. Spark plans this as
    * TakeOrderedAndProject: per-partition heaps + a k-row driver merge, no
    * global sort — this is the scalable form of `ORDER BY … LIMIT k`.
    */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Rolling frame over a pre-aggregated daily series: sum of the last
    * `days` rows per partition (the reference has no frame windows; this is
    * the added analytics surface from SURVEY §2.5). Returns a Column — apply
    * with `withColumn` on the series it should range over.
    */
  def rollingSum(partition: Seq[String], orderCol: String,
                 valueCol: String, days: Int): Column = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-(days - 1), Window.currentRow)
    sum(col(valueCol)).over(w)
  }

  /** W2/T2 — pagination plan over a descending event-time order
    * (discovery.py:112-113): assign each row to a fixed-size page and emit
    * per-page cursor stats. Partitioned by a stream key so the ranking window
    * scales; `pageSize` mirrors the reference's 51-row API pages.
    */
  def paginate(df: DataFrame, partition: Seq[String], order: Seq[Column],
               pageSize: Int): DataFrame = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    df.withColumn("page", ((row_number().over(w) - 1) / pageSize).cast("long"))
  }

  /** Ordered funnel per key: the earliest time each stage completes,
    * where stage i+1 must occur STRICTLY after stage i (the product-
    * analytics conversion funnel). ONE aggregate (round 13): the stage
    * chain folds over the per-key ts-ascending stage-event array with an
    * `aggregate` higher-order expression — each event may fill only the
    * first unfilled stage slot (filled slots form a prefix, and the
    * lambda reads the PRE-event state, so a slot never chains off a value
    * set by its own event — preserving the strict t_{i+1} > t_i
    * semantics), and the first eligible event in ascending (ts, type)
    * order IS the conditional min the previous per-stage join computed
    * (eligibility is strict >, so every eligible event sorts after the
    * event that set the predecessor slot). The previous form ran one
    * aggregate + join PER STAGE — `stages.size − 1` shuffles and
    * 2·stages−1 scans of the source, 11 single-task jobs at the bench
    * profile; this is one shuffle of the stage-filtered events at any
    * scale. Unreached stages are NULL and stay NULL for all later stages;
    * every key with a stage-1-typed event is kept, even when all its
    * stage-1 timestamps are NULL (min-skips-NULLs semantics — NULL-ts
    * events drop from the fold but still count for presence).
    *
    * Skew bound: the per-key aggregation buffer holds EVERY stage-typed
    * event of the key (the old per-stage join shape never materialized a
    * key's history in one buffer). That is bounded by per-key activity —
    * fine at this catalog's user-keyed event grain — but a deployment
    * keying funnels on a value with pathological hot keys (a bot user, a
    * NULL/default key) should pre-reduce per (key, type, coarse time
    * bucket) or fall back to the per-stage conditional-min join shape past
    * a per-key event bound.
    */
  def funnelStages(events: DataFrame, key: String, tsCol: String,
                   typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val dt = events.schema(tsCol).dataType
    val grouped = events
      .filter(col(typeCol).isin(stages.distinct: _*))
      .groupBy(col(key))
      .agg(
        sort_array(collect_list(when(col(tsCol).isNotNull,
          struct(col(tsCol).as("ts"), col(typeCol).as("ty"))))).as("__evs"),
        max(when(col(typeCol) === stages.head, lit(1)).otherwise(lit(0)))
          .as("__has1"))
    val labels = array(stages.map(lit): _*)
    val fold = aggregate(col("__evs"), array_repeat(lit(null).cast(dt), stages.size),
      (st, e) => transform(st, (t, i) => {
        val prev = st.getItem(i - 1)
        when(t.isNotNull, t)
          .when(e.getField("ty") === element_at(labels, i + 1) &&
                  (i === 0 || (prev.isNotNull && e.getField("ts") > prev)),
                e.getField("ts"))
          .otherwise(t)
      }))
    grouped
      .filter(col("__has1") === 1)
      .withColumn("__st", fold)
      .select(col(key) +:
        stages.indices.map(i => col("__st")(i).as(s"t${i + 1}")): _*)
  }

  /** Top event-type paths: the most frequent length-`n` consecutive
    * event-type sequences across per-key ordered streams (path mining — the
    * "what do users do next" report). One shuffle on the key for the lag
    * window; the n−1 lags ride the same sorted pass; the count is a plain
    * partial+final aggregate over the path string. Paths never cross keys
    * (the first n−1 rows of each key have NULL lags and are filtered).
    */
  def topEventPaths(events: DataFrame, key: String, tsCol: String,
                    typeCol: String, tiebreak: Column, n: Int,
                    k: Int): DataFrame = {
    require(n >= 2, s"path length must be >= 2, got $n")
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), tiebreak)
    val stepped = events.select(
      (n - 1 to 0 by -1).map {
        case 0 => col(typeCol).as("s0")
        case d => lag(col(typeCol), d).over(w).as(s"s$d")
      }: _*)
    stepped
      .filter(col(s"s${n - 1}").isNotNull) // row starts a full in-key window
      .select(concat_ws(">", (n - 1 to 0 by -1).map(d => col(s"s$d")): _*).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** Cohort retention matrix: keys bucketed by first-seen period, counted
    * by distinct activity in each later period — (cohort, period_no,
    * n_active). Two aggregates: first-seen per key (one shuffle), then a
    * distinct count per (cohort, offset) over the activity join. The
    * first-seen relation is key-grain, so it carries NO broadcast hint —
    * key cardinality grows with the user base; AQE broadcasts it from
    * runtime stats when it is small and keeps the co-partitioned shuffle
    * join when it is not (both sides already hash on the key).
    */
  def retentionCohorts(events: DataFrame, key: String, tsCol: String,
                       periodDays: Int): DataFrame = {
    // integer epoch-day division — exact on any engine (BIGINT to match
    // SQL engines whose date arithmetic is 64-bit)
    val period = expr(s"CAST(unix_date(to_date($tsCol)) div $periodDays AS BIGINT)")
    val firstSeen = events.groupBy(col(key))
      .agg(min(period).as("cohort"))
    events.select(col(key), period.as("__p"))
      .join(firstSeen, Seq(key))
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("period_no"))
      .agg(countDistinct(col(key)).as("n_active"))
  }

  /** SCD2-style status history: compress a per-key ordered event stream to
    * its change points and emit validity intervals — a row per maximal run
    * of an unchanged `statusCol`, with `valid_from` = first ts of the run
    * and `valid_to` = the next run's start (NULL for the current status).
    * Two stacked window passes on ONE shuffle of (key): lag to mark change
    * points, running count to number runs, then a per-run aggregate +
    * lead for the closing timestamp. `tiebreak` must complete a total
    * order for deterministic runs at equal timestamps.
    */
  def statusHistory(events: DataFrame, key: String, tsCol: String,
                    statusCol: String, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), tiebreak)
    val runs = events
      .withColumn("__chg",
        when(lag(col(statusCol), 1).over(w).isNull ||
             lag(col(statusCol), 1).over(w) =!= col(statusCol), 1L)
          .otherwise(0L))
      .withColumn("__run",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
      .groupBy(col(key), col("__run"))
      .agg(min(col(statusCol)).as("status"), // constant within a run
           min(col(tsCol)).as("valid_from"),
           count(lit(1)).as("n_events"))
    val wr = Window.partitionBy(col(key)).orderBy(col("__run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
      .select(col(key), col("__run").as("run_no"), col("status"),
              col("valid_from"), col("valid_to"), col("n_events"))
  }

  /** Gap-filled daily series per group: every calendar day between the
    * GLOBAL min and max of `dayCol` appears for every group, absent days
    * zero-filled, with a per-group running total — the resample/gap-fill
    * step every time-series report needs before rates and rolling frames
    * make sense (a rolling mean over a series with silently missing days is
    * wrong, not just incomplete).
    *
    * Scale shape: the counts aggregate is the only input-sized pass
    * (partial+final on (group, day)); its OUTPUT — like the
    * `sequence()`-exploded calendar grid it left-joins under — is bounded
    * by groups × calendar days, a wall-clock bound, not a data-volume one.
    * So the aggregated counts broadcast into the grid join (grid is the
    * row-preserved side; Spark builds the right side of a left join), and
    * the running total is one window over the already-tiny result.
    */
  def calendarFill(df: DataFrame, groupCol: String, dayCol: Column): DataFrame = {
    val d = df.select(col(groupCol).as("g"), dayCol.as("day"))
    val cnts = d.groupBy("g", "day").agg(count(lit(1)).as("n"))
    val cal = d.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day")))
        .as("day"))
    val grid = d.select(col("g")).distinct().crossJoin(broadcast(cal))
    grid.join(broadcast(cnts), Seq("g", "day"), "left")
      .select(col("g"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("cum_n",
        sum(col("n")).over(Window.partitionBy(col("g")).orderBy(col("day"))))
  }

  /** Gaps-and-islands: collapse each key's ordered event stream into
    * maximal runs of an unchanged `stateCol` value — the SCD-2 dimension
    * builder (validity intervals from a change log) and the run-length
    * view behind "how long do users stay in a mode". A run breaks exactly
    * when `stateCol` differs from the previous row; `island` is the
    * 1-based per-key run number (change-flag running sum — the same
    * lag→cumsum rule as the sessionizer, keyed on value change instead of
    * time gap).
    *
    * Emits one row per island: key, island, state, start/end epoch,
    * n_events. Integer-exact throughout; `orderCols` must totally order
    * rows within a key. One shuffle on the key; islands aggregate with
    * partial map-side combine.
    */
  def stateIslands(events: DataFrame, key: String, tsCol: String,
                   stateCol: String, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), tiebreak)
    val flagged = events
      .withColumn("__chg",
        when(lag(col(stateCol), 1).over(w).isNull ||
             lag(col(stateCol), 1).over(w) =!= col(stateCol), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col(key), col("island"))
      .agg(max(col(stateCol)).as("state"),
           min(unix_seconds(col(tsCol))).as("start_epoch"),
           max(unix_seconds(col(tsCol))).as("end_epoch"),
           count(lit(1)).as("n_events"))
  }

  /** Distinct keys over a trailing `days`-day sliding window, per active
    * day — the "7-day active users" metric. COUNT(DISTINCT) is not a
    * window function in any engine; the scalable exact form is cover-set
    * expansion: dedup to (day, key) pairs (map-side partial), explode each
    * pair onto the ≤`days` window-end days it covers (a bounded fanout of
    * pre-aggregated rows, NOT raw events), and count distinct keys per
    * cover day. Reported days are restricted to days that actually have
    * activity (semi-join against the observed-day set, mirrored in the
    * twin); the trailing window is the calendar intersection, so leading
    * days report their partial-but-exact window.
    */
  def rollingDistinct(events: DataFrame, key: String, dayCol: Column,
                      days: Int): DataFrame = {
    val pairs = events.select(dayCol.as("day"), col(key).as("k")).distinct()
    val observed = pairs.select(col("day")).distinct()
    pairs
      .select(col("k"), explode(sequence(col("day"),
        date_add(col("day"), days - 1), expr("interval 1 day"))).as("day"))
      .join(observed, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("k")).as(s"distinct_${days}d"))
  }

  /** First-order Markov transition matrix of the per-key event stream:
    * for every ordered pair of consecutive events, the (from, to) count
    * and the row-normalized transition probability — the behavioral
    * fingerprint behind "what do users do after an error". States are
    * domain-bounded, so the matrix is ≤ |types|² rows at any corpus size;
    * one key-partitioned lag window + one partial+final aggregate, then a
    * states-partitioned share window over matrix rows only. `p` is the
    * one mirrored double division, rounded 6.
    */
  def transitionMatrix(events: DataFrame, key: String, tsCol: String,
                       stateCol: String, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), tiebreak)
    val pairs = events
      .withColumn("from_state", lag(col(stateCol), 1).over(w))
      .filter(col("from_state").isNotNull)
      .groupBy(col("from_state"), col(stateCol).as("to_state"))
      .agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy(col("from_state"))
    pairs
      .withColumn("row_total", sum(col("n")).over(wRow))
      .select(col("from_state"), col("to_state"), col("n"),
        round(col("n").cast("double") / col("row_total").cast("double"), 6)
          .as("p"))
  }

  /** Conversion latency through a two-stage funnel: per key, the first
    * `fromState` event and the first `toState` event at-or-after it; the
    * report row carries the conversion count and the latency profile in
    * exact integer seconds (mean = one mirrored division, percentiles =
    * exact interpolation — the [[graft.ops.Stats.customerOrderGaps]]
    * convention). Two min-aggregates on the key (map-side partial), no
    * window over raw events.
    */
  def funnelLatency(events: DataFrame, key: String, tsCol: String,
                    stateCol: String, fromState: String,
                    toState: String): DataFrame = {
    val firstFrom = events.filter(col(stateCol) === fromState)
      .groupBy(col(key)).agg(min(unix_seconds(col(tsCol))).as("t_from"))
    val converted = events.filter(col(stateCol) === toState)
      .select(col(key), unix_seconds(col(tsCol)).as("t_to"))
      .join(firstFrom, Seq(key))
      .filter(col("t_to") >= col("t_from"))
      .groupBy(col(key)).agg(min(col("t_to")).as("t_conv"))
      .join(firstFrom, Seq(key))
      .select((col("t_conv") - col("t_from")).as("latency_s"))
    converted.agg(
      count(lit(1)).as("n_converted"),
      round(sum(col("latency_s")).cast("double") / count(lit(1)), 6)
        .as("mean_latency_s"),
      round(expr("percentile(latency_s, 0.5)"), 6).as("p50_latency_s"),
      round(expr("percentile(latency_s, 0.9)"), 6).as("p90_latency_s"))
  }

  /** Floor-clamped running balance per key — the stateful accumulator
    * (wallet floor, inventory that can't go negative, token bucket) that
    * looks like it needs a per-key sequential fold, expressed DECLARATIVELY
    * through the Lindley reflection identity: with prefix sums P_t of the
    * signed deltas, the balance clamped below at 0 is
    *
    *   B_t = P_t − min(0, min_{k ≤ t} P_k)
    *
    * (the queueing-theory waiting-time recursion in closed form), and the
    * floor binds at t exactly when P_t sets a new running minimum below 0.
    * So the whole operator is two per-key ordered windows — prefix sum and
    * running min — with NO mapGroups/flatMapGroups iterator: it stays in
    * whole-stage codegen, partitions by key, and an engine twin can mirror
    * it as plain SQL windows (a recursive per-row fold can't cross the
    * oracle gate at all). All arithmetic is BIGINT-exact.
    *
    * Emits one row per key: transaction count, final clamped balance,
    * unclamped net sum, total absorbed by the floor (= −min running
    * prefix, ≥ 0), number of floor hits, and the clamped running peak.
    * `order` must totally order rows within a key.
    */
  def cappedRunningBalance(df: DataFrame, key: String, deltaInt: Column,
                           order: Seq[Column]): DataFrame = {
    val wOrd = Window.partitionBy(col(key)).orderBy(order: _*)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val stepped = df
      .select(Seq(col(key), deltaInt.as("delta")) ++ order: _*)
      .withColumn("prefix", sum(col("delta")).over(wOrd))
      .withColumn("runmin_prev",
        least(lit(0L), coalesce(min(col("prefix")).over(wPrev), lit(0L))))
      .withColumn("runmin", least(col("runmin_prev"), col("prefix")))
      .withColumn("balance", col("prefix") - col("runmin"))
      .withColumn("floor_hit",
        when(col("prefix") < col("runmin_prev"), 1L).otherwise(0L))
      // "last row" selected by rank, not by aggregate arrival order —
      // last() in a groupBy is partition-order-dependent and would break
      // the determinism contract
      .withColumn("rn_desc",
        row_number().over(Window.partitionBy(col(key)).orderBy(order.map(_.desc_nulls_last): _*)))
    stepped.groupBy(col(key))
      .agg(count(lit(1)).as("n_txns"),
           max(when(col("rn_desc") === 1, col("balance"))).as("final_balance"),
           max(when(col("rn_desc") === 1, col("prefix"))).as("net_sum"),
           (-min(col("runmin"))).as("floor_absorbed"),
           sum(col("floor_hit")).as("n_floor_hits"),
           max(col("balance")).as("peak_balance"))
  }
}
