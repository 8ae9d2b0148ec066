package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Observability-as-testing (SURVEY §2.4 A8 / §5): the reference accumulates
  * run-summary counters in Python dicts (skip-reason breakdowns,
  * compaction.py:120-132; retry summaries, retry.py:153-158). In Spark these
  * are `df.observe` metrics — collected as a side effect of the action that
  * runs anyway, no second pass over the data, and they aggregate across all
  * executors for free.
  */
object Metrics {

  /** Attach named counters to a DataFrame; read them from the returned
    * [[Observation]] after any action completes.
    */
  def observed(df: DataFrame, obs: Observation, metrics: Map[String, Column]): DataFrame = {
    require(metrics.nonEmpty, "observed() needs at least one metric column")
    val cols = metrics.map { case (n, c) => c.as(n) }.toSeq
    df.observe(obs, cols.head, cols.tail: _*)
  }

  /** The reference's download-run summary (download.py:246-266): totals,
    * successes, failures, and the throughput-relevant value sum.
    */
  def lifecycleCounters: Map[String, Column] = Map(
    "n_total" -> count(lit(1)),
    "n_downloaded" -> sum(when(col("is_downloaded"), 1L).otherwise(0L)),
    "n_failed" -> sum(when(coalesce(col("download_details"), lit(""))
      .startsWith("Failed:"), 1L).otherwise(0L)))

  /** Generated-code compiles in this JVM so far: Janino compiles (the count
    * of `CodegenMetrics`' compilation-time histogram) and their total
    * milliseconds (CodeGenerator's nanosecond accumulator: the histogram
    * keeps whole ms per compile in a sampled reservoir, so its sum is not
    * exact). JVM-wide: subtract two readings around a span that runs alone.
    */
  final case class Compiles(count: Long, ms: Double) {
    def -(o: Compiles): Compiles = Compiles(count - o.count, ms - o.ms)
  }
  def compiles(): Compiles = Compiles(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
}
