package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Read-only analytics over the state layer: catalog queries grouped by the
  * layer they exercise, each run under `Tuning.withTuned` into the noop sink.
  * The seed sets the query order; every pass runs the same order.
  */
object Catalog {
  val Queries: Seq[String] = Seq(
    // state reads (ops.Lifecycle)
    "daily_lifecycle_stats", "upsert_latest_wins", "retry_queue", "mark_downloaded",
    // dedup and text (ops.Dedup, ops.TextAnalysis, ops.Pipeline)
    "exact_dedup_docs", "minhash_signatures", "ngram_jaccard_dups", "tf_cosine_dups",
    "curation_pipeline",
    // trained-artifact memos and bucketed staging (ops.Similarity)
    "ivfpq_ann_topk", "pq_codes", "bucketed_join_counts",
    // driver tails (ops.Stats, ops.Graph)
    "kaplan_meier_retention", "price_histogram_quantiles", "supplier_pagerank",
    // streaming
    "stream_dedup_parity")
  val Memoized: Set[String] = Set("ivfpq_ann_topk", "pq_codes", "bucketed_join_counts")

  /** Order-independent fingerprint of a collected result: row count, and
    * the sum and xor of a hash of each row's text.
    */
  def fingerprint(rows: Array[Row]): String = {
    val h = rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong)
    s"${rows.length}:${h.sum}:${h.foldLeft(0L)(_ ^ _)}"
  }
}

final class Catalog(ctx: Ctx, dataDir: String) extends Workload {
  import Catalog._
  val minWarm = 1
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val order = new scala.util.Random(ctx.seed).shuffle(Queries)
  private val fns = graft.SparkEntry.queries
  private val prints = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  private val last = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private val rowsOut = mutable.Map.empty[Int, Double]

  def pass(ctx: Ctx): Unit = {
    var rows = 0.0
    for (name <- order) ctx.op(name) {
      tr.span(s"query.$name") {
        graft.Tuning.withTuned(spark, name) {
          val df = ctx.timed(s"$name construct")(tr.span("catalog.construct")(fns(name)(spark, dataDir)))
          // The client's read of the result: the rows it receives are the
          // rows the checks compare, so no query runs twice.
          val got = ctx.timed(s"$name execute")(tr.span("catalog.execute")(df.collect()))
          rows += got.length
          prints.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += fingerprint(got)
          last(name) = (got, df.schema)
        }
      }
    }
    rowsOut(ctx.pass) = rows
  }

  /** Every pass must return the same rows; the last pass's rows go to the
    * DuckDB twin.
    */
  def finish(ctx: Ctx): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    for ((name, hs) <- prints)
      ctx.check(s"check.passes_agree.$name")(hs.distinct.size == 1,
        s"$name results differ across passes: ${hs.mkString(" / ")}")
    for ((name, (rows, schema)) <- last) ctx.op(s"twin.write.$name") {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(s"${ctx.runDir}/twin/catalog/$name")
    }
    Json.write(s"${ctx.runDir}/twin/catalog.json", Map(
      "data_dir" -> dataDir,
      "oracle" -> last.keys.toSeq.sorted.map(n => n -> oracle.getOrElse(n, "")).toMap))
  }

  def layers(ctx: Ctx, cold: Int, tracedWarm: Seq[Int]): Map[String, Double] = {
    def jobsOf(p: Int, q: String): Double = {
      val sp = tr.below(s"pass.$p")
      sp.find(_.name == s"query.$q").map(s => tr.leafTotals(tr.below(s))).getOrElse(Map.empty)
        .getOrElse("spark.jobs", 0.0)
    }
    def per(p: Int): Map[String, Double] = {
      val sp = tr.below(s"pass.$p")
      val self = tr.selfSeconds
      def secs(n: String) = sp.filter(_.name == n).map(s => self(s.id)).sum
      val tot = tr.leafTotals(sp)
      val m = mutable.LinkedHashMap[String, Double](
        "catalog.construct_s" -> secs("catalog.construct"),
        "catalog.execute_s" -> secs("catalog.execute"),
        "catalog.rows_out" -> rowsOut.getOrElse(p, 0.0))
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s", "spark.task_run_s",
          "spark.task_cpu_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "spark.spill_bytes", "catalyst.analysis_ms", "catalyst.optimization_ms",
          "catalyst.planning_ms").foreach(k => m(k) = tot.getOrElse(k, 0.0))
      m.toMap
    }
    val warm = tracedWarm.map(per)
    val out = mutable.LinkedHashMap[String, Double]()
    warm.headOption.foreach(_.keys.foreach { k => out(k) = Main.settled(warm.map(_(k))) })
    val c = per(cold)
    out("catalog.construct_s_cold") = c("catalog.construct_s")
    out("catalog.execute_s_cold") = c("catalog.execute_s")
    out("spark.jobs_cold") = c("spark.jobs")
    out("catalog.memo_jobs_saved") = tracedWarm.lastOption
      .map(w => Memoized.toSeq.map(q => jobsOf(cold, q) - jobsOf(w, q)).sum).getOrElse(0.0)
    out.toMap
  }
}
