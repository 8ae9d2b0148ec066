package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query that threw: its name, the exception class and message. */
final case class QueryFailure(query: String, exception: String, message: String) {
  def json: String =
    Seq("query" -> query, "exception" -> exception, "message" -> message)
      .map { case (k, v) => s"${Verify.jsonString(k)}:${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
}
object QueryFailure {
  def apply(query: String, e: Throwable): QueryFailure =
    QueryFailure(query, e.getClass.getName, String.valueOf(e.getMessage))
  def jsonArray(fs: Seq[QueryFailure]): String = fs.map(_.json).mkString("[", ",", "]")
}

/** What one run of one catalog query did: seconds to build its DataFrame
  * (`constructS`: the eager collects, checkpoints and training done before
  * the plan is returned) and to run it (`executeS`); the jobs, stages,
  * tasks, task CPU, shuffle and spill bytes its SparkContext ran
  * ([[GraftSession.Counts]]); the generated classes it compiled; whether a
  * bounded report hit its bound ([[GraftSession.lastBoundTruncation]]); and
  * why it failed. The reference times each task with `timer.py`'s
  * `time_process` and keeps run-summary counters; this is that record.
  */
final case class RunRecord(query: String, constructS: Double, executeS: Double,
                           counts: GraftSession.Counts, compiles: ops.Metrics.Compiles,
                           truncated: Boolean, failure: Option[QueryFailure]) {
  def seconds: Double = constructS + executeS
  def json: String = {
    val c = counts
    f"""{"query":${Verify.jsonString(query)},"construct_s":$constructS%.6f,""" +
    f""""execute_s":$executeS%.6f,"jobs":${c.jobs},"stages":${c.stages},""" +
    f""""tasks":${c.tasks},"task_cpu_s":${c.taskCpuNs / 1e9}%.6f,""" +
    s""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
    f""""spill_bytes":${c.spillBytes},"compiles":${compiles.count},""" +
    f""""compile_ms":${compiles.ms}%.3f,"truncated":$truncated,""" +
    s""""failure":${failure.fold("null")(_.json)}}"""
  }
}

object RunRecord {
  type Query = (SparkSession, String) => DataFrame

  /** Comma-separated catalog names to run instead of the whole catalog
    * (Bench and Verify; unset = every query).
    */
  val OnlyEnv = "SPARK_GRAFT_ONLY"

  /** The catalog, cut to the names in [[OnlyEnv]] when it is set. */
  def selected(): Map[String, Query] = {
    val only = sys.env.get(OnlyEnv).map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** Run one query alone: `construct` builds its DataFrame and `execute`
    * runs it (Bench's noop write, Verify's parquet dump). A throw in either
    * becomes the record's `failure`; the next query still runs. The
    * listener-bus drains of [[GraftSession.counted]] fall outside the two
    * timed spans, and the truncation flag is cleared first, so `truncated`
    * belongs to this query.
    */
  def run(spark: SparkSession, name: String, construct: => DataFrame,
          execute: DataFrame => Unit): RunRecord = {
    val c0 = ops.Metrics.compiles()
    var start, built, end = 0L // built stays 0 when construct throws
    val (result, counts) = GraftSession.counted(spark) {
      GraftSession.clearBoundTruncation(spark)
      start = System.nanoTime()
      try execute { val df = construct; built = System.nanoTime(); df }
      finally end = System.nanoTime()
    }
    val compiles = ops.Metrics.compiles() - c0
    if (built == 0L) built = end
    RunRecord(name, (built - start) / 1e9, (end - built) / 1e9, counts, compiles,
      GraftSession.lastBoundTruncation(spark).isDefined,
      result.left.toOption.map(QueryFailure(name, _)))
  }

  def jsonArray(rs: Seq[RunRecord]): String = rs.map(_.json).mkString("[\n", ",\n", "\n]")
}
