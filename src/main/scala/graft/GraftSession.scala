package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: a SparkSession pre-configured the way every
  * graft operator expects (and the way the oracle gate assumes).
  *
  *  - UTC session time zone — every epoch↔date conversion in the engine is
  *    tz-free; a local-zone session would silently shift day boundaries;
  *  - AQE on for every query — runtime partition coalescing, skew-join
  *    splitting;
  *  - shuffle width derived from the cores: [[arm]] sets
  *    `spark.sql.shuffle.partitions` to the session's `defaultParallelism`
  *    unless the caller set it explicitly (builder `.config`, `--conf`, or a
  *    `-Dspark.sql.shuffle.partitions` system property), which then wins.
  *    Never the 200 default for local/small-cluster runs, and never a
  *    constant tuned on one host's core count;
  *  - [[GraftExtensions]] wired so `cosine_similarity(a, b)` is callable
  *    from SQL.
  *
  * Every session path goes through [[arm]]: [[local]], Bench, Verify,
  * JobAudit, CalibProbe, the test session and the benchmark harness, so the
  * harness mains and a user session can never drift apart.
  */
object GraftSession {

  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The engine's standard configuration, exposed for audit/tests. */
  val conf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** Builder with the standard configuration applied; call-site `.config`
    * calls layered after this override individual keys.
    */
  def builder(): SparkSession.Builder =
    conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** Local session (tests, single-node runs) — guard-armed. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    arm(builder().master(s"local[$cores]").getOrCreate())

  /** `body` with `key` set to `value` on `spark`'s session conf. The previous
    * setting, or its absence, is restored afterwards, also when `body`
    * throws, so a scoped override never leaks into the next query.
    */
  def withConf[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = if (spark.sessionState.conf.contains(key)) Some(spark.conf.get(key)) else None
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** `body` with adaptive execution off: for materializing a plan whose
    * output partitioning must be captured (an adaptive plan reports
    * UnknownPartitioning to a checkpoint). Not a per-query policy — the
    * query around it keeps AQE on.
    */
  def withStaticPlan[A](spark: SparkSession)(body: => A): A =
    withConf(spark, "spark.sql.adaptive.enabled", "false")(body)

  // ── bounded-report truncation guard ──────────────────────────────────
  // CatalogCore.orderedReport caps structurally-bounded reports with
  // limit(ReportBound); if a group structure ever outgrew the bound, rows
  // would silently truncate (and silently diverge from any SQL twin, which
  // has no LIMIT). Every orderedReport plan carries an observe() metric
  // counting result rows; armed sessions watch it and flag result == bound
  // — loud instead of silent, with no extra job or shuffle (CollectMetrics
  // is a pass-through accumulator node).

  private[graft] val BoundMetric = "graft_report_bound"
  private val lastTruncation =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** The most recent query whose bounded report hit ReportBound exactly
    * (truncation suspect), if any since the last [[clearBoundTruncation]].
    */
  def lastBoundTruncation: Option[String] = Option(lastTruncation.get)
  def clearBoundTruncation(): Unit = lastTruncation.set(null)

  private val armed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Apply the session policy to `spark` and register the truncation
    * watcher (idempotent): the shuffle width becomes the session's
    * `defaultParallelism` unless already set explicitly. [[local]] and every
    * harness main arm their sessions; arm any long-lived application
    * session the same way.
    */
  def arm(spark: SparkSession): SparkSession = {
    if (!spark.sessionState.conf.contains(ShufflePartitions))
      spark.conf.set(ShufflePartitions, spark.sparkContext.defaultParallelism.toString)
    // Silence WindowExec's "No Partition Defined" warning (round-13 verdict
    // item 10): every unpartitioned window in the catalog runs over a
    // STRUCTURALLY bounded grid (≤6-row split-leakage cells, part-dimension
    // cuts, ≤|quantiles| report rows — each call site documents its bound),
    // so the warning is always a false alarm here, and at ~1 line per window
    // execution it floods the Verify/entry/test tails and buries real
    // warnings. Scoped to that one logger — real WindowExec errors still
    // surface.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    if (armed.add(spark))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.get(BoundMetric).foreach { row =>
            if (row.getLong(0) >= CatalogCore.ReportBound) {
              val msg = s"bounded report hit ReportBound=${CatalogCore.ReportBound} " +
                "rows — output is almost certainly TRUNCATED (group structure " +
                "outgrew the bound); raise ReportBound or drop orderedReport " +
                "for this query"
              lastTruncation.set(msg)
              System.err.println(s"[graft] ERROR: $msg")
            }
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    spark
  }
}
