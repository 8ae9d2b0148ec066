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
  *    from SQL;
  *  - compile once per session: Spark's generated-class cache holds
  *    [[CodegenCacheEntries]] classes, not the 100 default, so a repeated
  *    plan reuses its compiled class instead of evicting it and running
  *    Janino again. The cache is static and JVM-wide, built once from the
  *    session active when Spark first generates code; [[arm]] warns (see
  *    [[codegenCacheWarning]]) when the live cache is smaller. Artifact
  *    isolation is off for the same reason: the cache is keyed by class
  *    loader, and an isolated session, like the clone each streaming query
  *    runs in, gets its own executor class loader, so every streaming query
  *    compiled its classes again. The engine adds no session artifacts
  *    (`addArtifact`); with isolation off, any a caller adds are shared
  *    by the JVM's sessions. Whole-stage classes are named without their
  *    stage id: adaptive execution numbers stages in the order they are
  *    planned, which can change between runs of one query, and the id in
  *    the class name made the same code a different class.
  *
  * Every session path goes through [[arm]]: [[local]], Bench, Verify,
  * JobAudit, CalibProbe, the test session and the benchmark harness, so the
  * harness mains and a user session can never drift apart.
  *
  * It also holds all per-session engine state, in one registry: see
  * [[memo]] and [[lastBoundTruncation]].
  */
object GraftSession {

  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated classes the codegen cache holds. A full 219-query Verify at
    * sf0.1, the largest session the repo runs, compiles 2317 distinct
    * classes (2526 with stage ids in class names); this is the larger count
    * plus a ~58 % margin for catalog growth. A cached class costs about
    * 32 KB of heap and 10 KB of metaspace (SCALE.md "Compile once per
    * session").
    */
  val CodegenCacheEntries = 4000

  /** The engine's standard configuration, exposed for audit/tests. */
  val conf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    CodegenCacheKey -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")

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

  // ── session state ────────────────────────────────────────────────────
  // Everything the engine remembers about a session sits in one State
  // behind one registry: whether it is armed, its truncation flag, and its
  // memos of per-file work. The registry holds a session only while its
  // SparkContext runs.

  private final class Memo {
    var identity: Option[Seq[(String, Long, Long)]] = None
    var value: Any = null
  }

  private final class State {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val truncation = new java.util.concurrent.atomic.AtomicReference[String](null)
    val codegenWarning = new java.util.concurrent.atomic.AtomicReference[String](null)
    val memos = new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]()
  }

  private val states = new java.util.concurrent.ConcurrentHashMap[SparkSession, State]()

  /** `spark`'s state. Creating one first drops the states of sessions
    * whose SparkContext has stopped, so the registry never outlives them.
    */
  private def stateOf(spark: SparkSession): State = {
    val known = states.get(spark)
    if (known != null) known
    else {
      states.keySet.removeIf(_.sparkContext.isStopped)
      states.computeIfAbsent(spark, _ => new State)
    }
  }

  /** The sessions the registry currently holds (for specs). */
  private[graft] def registered: Set[SparkSession] = {
    import scala.jdk.CollectionConverters._
    states.keySet.asScala.toSet
  }

  /** The value `build` made for (`kind`, `path`) in `spark`, rebuilt when
    * the data at `path` changed since: a file is identified by its length
    * and mtime, a directory by its one-level listing (one stat, or one
    * listing, per call). A rebuild replaces the entry, so at most one value
    * is held per (`kind`, `path`); a `build` that throws caches nothing.
    * Builds of one entry run one at a time; different entries may nest.
    */
  def memo[A](spark: SparkSession, kind: String, path: String)(build: => A): A = {
    val id = Some(identityOf(spark, path))
    val m = stateOf(spark).memos.computeIfAbsent((kind, path), _ => new Memo)
    m.synchronized {
      if (m.identity != id) {
        m.identity = None // a build that throws leaves the entry empty
        m.value = null
        m.value = build
        m.identity = id
      }
      m.value.asInstanceOf[A]
    }
  }

  /** (path, length, mtime) of `path` if it is a file, of its children if
    * it is a directory; empty when it does not exist.
    */
  private def identityOf(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sortBy(_._1)
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  // ── bounded-report truncation guard ──────────────────────────────────
  // CatalogCore.orderedReport caps structurally-bounded reports with
  // limit(ReportBound); if a group structure ever outgrew the bound, rows
  // would silently truncate (and silently diverge from any SQL twin, which
  // has no LIMIT). Every orderedReport plan carries an observe() metric
  // counting result rows; armed sessions watch it and flag result == bound
  // — loud instead of silent, with no extra job or shuffle (CollectMetrics
  // is a pass-through accumulator node).

  private[graft] val BoundMetric = "graft_report_bound"

  /** The most recent query of `spark` whose bounded report hit ReportBound
    * exactly (truncation suspect), if any since the last
    * [[clearBoundTruncation]] on `spark`.
    */
  def lastBoundTruncation(spark: SparkSession): Option[String] =
    Option(stateOf(spark).truncation.get)
  def clearBoundTruncation(spark: SparkSession): Unit = stateOf(spark).truncation.set(null)

  // ── codegen cache ────────────────────────────────────────────────────
  // Spark keeps compiled classes in one LRU per JVM, sized once from
  // `spark.sql.codegen.cache.maxEntries` when CodeGenerator first loads.
  // No later conf changes it, so arm can only detect an undersized cache.

  /** The entry bound of this JVM's generated-class cache. Reading it first
    * builds the cache, from the active session's conf, if no code was
    * generated yet. None if Spark's cache internals cannot be read.
    */
  private[graft] def codegenCacheBound(): Option[Long] = scala.util.Try {
    def field(o: AnyRef, name: String): AnyRef = {
      val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass)
        .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == name).get
      f.setAccessible(true)
      f.get(o)
    }
    // CodeGenerator.cache → its Guava cache → the LocalCache → maxWeight
    Seq("cache", "cache", "localCache", "maxWeight")
      .foldLeft[AnyRef](org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator)(field)
      .asInstanceOf[Long]
  }.toOption

  /** Why `spark` may compile the same plan more than once: the live codegen
    * cache holds fewer than [[CodegenCacheEntries]] classes (the session
    * was built without [[builder]], or an earlier session in the JVM sized
    * the cache first), or its bound could not be read. Set by [[arm]].
    */
  def codegenCacheWarning(spark: SparkSession): Option[String] =
    Option(stateOf(spark).codegenWarning.get)

  /** Apply the session policy to `spark` and register the truncation
    * watcher (idempotent): the shuffle width becomes the session's
    * `defaultParallelism` unless already set explicitly, and an undersized
    * codegen cache is recorded and logged once ([[codegenCacheWarning]]).
    * [[local]] and every harness main arm their sessions; arm any
    * long-lived application session the same way. No I/O and no job.
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
    val state = stateOf(spark)
    if (state.armed.compareAndSet(false, true)) {
      val bound = codegenCacheBound()
      if (!bound.exists(_ >= CodegenCacheEntries)) {
        val msg = bound.fold("the codegen cache's bound could not be read")(b =>
          s"the codegen cache holds $b classes, below the policy's " +
          s"$CodegenCacheEntries") + s"; $CodegenCacheKey is static and JVM-wide, " +
          "so plans may be compiled again on every run — build the first " +
          "session of the JVM with GraftSession.builder()"
        state.codegenWarning.set(msg)
        System.err.println(s"[graft] WARN: $msg")
      }
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
              state.truncation.set(msg)
              System.err.println(s"[graft] ERROR: $msg")
            }
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }
    spark
  }
}
