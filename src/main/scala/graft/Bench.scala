package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** The catalog benchmark: every selected query ([[RunRecord.selected]]) run
  * in three passes, one [[RunRecord]] per query per pass, timed against the
  * pinned DuckDB comparator (BASELINE.md). Prints one JSON contract line
  * and writes it to `SPARK_GRAFT_BENCH_OUT` (default `bench_out.json`);
  * the records go to `bench_records.json` next to it.
  */
object Bench {
  /** Cores of the host the calibration pin was measured on: the probe's
    * fixed 32-partition range job times the core count as much as the
    * window, so the pin corrects only a run of the same width.
    */
  val CalibPinCores = 32

  /** Host-speed probe: a fixed deterministic job, an ALU loop plus a
    * full-width parquet scan-and-hash, because the host's slowdown windows
    * have hit memory and decompression bandwidth without showing in a
    * pure-ALU probe. Returns seconds.
    */
  def calibOnce(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 2000000000L, 1L, 32).selectExpr("bit_xor(xxhash64(id))").collect()
    Tables.lineitem(spark, sfDir).selectExpr("bit_xor(hash(*))").collect()
    Tables.eventsRaw(spark, sfDir).selectExpr("bit_xor(hash(*))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.arm(GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (JIT, codegen compiler, parquet footer/codec paths)
    // so the first timed query isn't charged for JVM startup costs.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).groupBy("l_returnflag").count().collect()
    Tables.events(spark, sfDir).limit(1000).count()
    // Floor mode (SPARK_GRAFT_BENCH_FLOOR=1): the same loop over one trivial
    // single-task plan per catalog query, so the total is the per-query
    // session floor (scheduler, codegen, noop commit) that every query pays.
    val floorMode = sys.env.contains("SPARK_GRAFT_BENCH_FLOOR")
    val selected: Map[String, RunRecord.Query] =
      if (floorMode) RunRecord.selected().map { case (n, _) =>
        n -> ((s: SparkSession, _: String) => s.range(1).toDF("id"))
      }
      else RunRecord.selected()
    def once(qs: Map[String, RunRecord.Query] = selected): Seq[RunRecord] =
      qs.toSeq.map { case (name, fn) =>
        // noop sink: every output column is fully computed (count() would let
        // Catalyst prune projection-only queries to a bare scan), no I/O cost
        val r = RunRecord.run(spark, name, fn(spark, sfDir),
          _.write.mode("overwrite").format("noop").save())
        // isolate queries from each other: drop the caches and checkpoint
        // blocks a query left behind, so later timings don't pay earlier
        // queries' storage and GC pressure
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        r
      }
    // Three passes, per-query minimum over successful runs: a fast failure
    // never masquerades as the best time, and a query that fails every pass
    // reports -1. Three, not two: the host has multi-minute slow windows,
    // and one that covers a query in two consecutive passes sticks in a
    // 2-pass min. The DuckDB comparator is measured with the same protocol
    // (tools/pin_baseline.py). A probe brackets each pass, so the host
    // factor describes the window the suite ran in.
    calibOnce(spark, sfDir) // JIT warm, untimed
    val calibs = scala.collection.mutable.ArrayBuffer[Double]()
    val passCompiles = scala.collection.mutable.ArrayBuffer[ops.Metrics.Compiles]()
    val passes = Seq.fill(3) {
      calibs += calibOnce(spark, sfDir)
      val c0 = ops.Metrics.compiles()
      val pass = once()
      passCompiles += ops.Metrics.compiles() - c0
      pass
    }
    calibs += calibOnce(spark, sfDir)
    def okTimes(k: String, rs: Seq[RunRecord]): Seq[Double] =
      rs.filter(r => r.query == k && r.failure.isEmpty).map(_.seconds)
    // Selective extra pass: when a query's two warm passes disagree badly,
    // a stall may cover one of them, and one targeted retry pins it. Pass 1
    // is left out of the judgement: it is a query's first (cold) run and
    // is slow for that reason alone. A retried query's minimum is over the
    // two warm passes and the retry, so every row is a minimum of 3 runs.
    val warm = passes.drop(1).flatten
    val noisy = selected.keySet.filter { k =>
      val ts = okTimes(k, warm)
      ts.nonEmpty && ts.max > 1.5 * ts.min && ts.max > 1.0
    }
    val retry = if (noisy.nonEmpty) once(selected.view.filterKeys(noisy).toMap) else Nil
    val records = passes.flatten ++ retry
    val results = selected.keys.map { k =>
      val ts = if (noisy(k)) okTimes(k, warm ++ retry) else okTimes(k, passes.flatten)
      k -> (if (ts.isEmpty) -1.0 else ts.min)
    }.toMap
    // each query's first failure, in run order
    val failures = scala.collection.mutable.LinkedHashMap[String, QueryFailure]()
    records.flatMap(_.failure).foreach(f => failures.getOrElseUpdate(f.query, f))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The DuckDB comparator covers the oracle'd queries; the headline ratio
    // is over that subset and the rest is itemized under "noncomparable".
    val (comparable, noncomparable) = results.partition {
      case (k, _) => SparkEntry.oracleSql.contains(k)
    }
    val comparableSec = comparable.values.sum
    val noncompJson = noncomparable.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Work-asymmetric rows (BASELINE.md "Work asymmetry"): their oracles
    // check the result relationally while the Spark side does categorically
    // more work by design (real streaming executions, write-and-reread
    // roundtrips, one-time bucketed staging). They stay in the primary
    // ratio; vs_baseline_symmetric_quiet is the like-for-like diagnostic.
    val asymmetric = Set("compaction_roundtrip", "glob_directory_scan", "stream_daily_parity",
      "json_replay_roundtrip", "throttled_stream_stats", "stream_dedup_parity",
      "stream_retry_parity", "stream_context_parity", "stream_session_parity",
      "bucketed_join_counts")
    val symmetricSec = comparable.collect {
      case (k, v) if !asymmetric.contains(k) => v
    }.sum
    val asymSec = comparableSec - symmetricSec
    // Pinned comparator: the DuckDB oracle-suite total on the same sf0.1
    // parquet, 3-pass per-query min, measured in the same probe-bracketed
    // window as calib_quiet (BASELINE.md "Round-14 quiet re-pin").
    val baselineQuiet = sys.env.getOrElse("SPARK_GRAFT_BASELINE_SEC", "58.13").toDouble
    val calibQuiet = sys.env.getOrElse("SPARK_GRAFT_CALIB_QUIET_SEC", "0.706").toDouble
    // Host-speed correction (BASELINE.md "Host-speed calibration"): the
    // shared host has multi-minute windows where everything runs slower, so
    // the bar is scaled by the probe's slowdown against the pin. Min, not
    // median: the per-query min gravitates to the fastest window the run
    // saw. Floor 1.0 (a fast window never shrinks the bar), cap 2.0 (beyond
    // that the run is junk). Only a run as wide as the pin's host is
    // corrected; vs_baseline_quiet is the uncorrected ratio.
    val corrected = spark.sparkContext.defaultParallelism == CalibPinCores
    val hostFactor =
      if (corrected) math.min(2.0, math.max(1.0, calibs.min / calibQuiet)) else 1.0
    val baselineSec = baselineQuiet * hostFactor
    val ratio = comparableSec / baselineSec
    // k-means job-chain floor (SCALE.md "k-means job-chain floor"): the
    // quantizer rows are sequential driver-blocking job chains with
    // single-digit task counts, so their wall time is the per-job scheduler
    // and per-plan constant, not data work. Itemized so the reader can
    // subtract it; the primary ratio keeps carrying it.
    val jobChain = Set("ivf_assign", "ivf_ann_topk", "ivf_recall",
      "pq_codes", "pq_ann_topk", "pq_recall", "ivfpq_ann_topk", "ivfpq_recall",
      "kcenter_coreset", "ivf_index_search", "ivf_incremental_assign",
      "copurchase_lift", "copurchase_link_prediction")
    val jobChainSec = comparable.collect { case (k, v) if jobChain(k) => v }.sum
    // ivf_index_search's wall time is mostly its train+save+load file ops,
    // not serving: time the two halves once, diagnostically (in no ratio),
    // with the catalog row's config.
    val ivfSplitJson =
      if (selected.contains("ivf_index_search") && !floorMode) {
        try {
          import org.apache.spark.sql.functions.col
          val emb = Tables.embeddings(spark, sfDir)
          val corpus = emb.filter(col("vec_id") >= 8)
          val path = CatalogCore.scratchDir("graft_ivf_bench_")
          val t0 = System.nanoTime()
          ops.Similarity.saveIvfIndex(spark, path, corpus, 16, 1)
          val cents = ops.Similarity.loadIvfIndex(spark, path, 16, 1)
          val t1 = System.nanoTime()
          ops.Similarity.ivfTopKWithIndex(emb.filter(col("vec_id") < 8),
              corpus, k = 3, nProbe = 2, cents)
            .write.mode("overwrite").format("noop").save()
          val t2 = System.nanoTime()
          f""","ivf_index_search_split":{"train_save_load_sec":${(t1 - t0) / 1e9}%.3f,"serve_sec":${(t2 - t1) / 1e9}%.3f}"""
        } catch { case scala.util.control.NonFatal(e) =>
          // the split is diagnostic: its failure is a record, not a silence
          failures.getOrElseUpdate("ivf_index_search_split",
            QueryFailure("ivf_index_search_split", e))
          ""
        }
      } else ""
    val calibJson = calibs.map(c => f"$c%.3f").mkString("[", ",", "]")
    // the asymmetric rows' DuckDB cost is taken as 0, which understates the
    // symmetric denominator and so never flatters the symmetric ratio
    val symRatioQuiet = symmetricSec / baselineQuiet
    val scaleJson =
      s""""cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""shuffle_partitions":${spark.conf.get(GraftSession.ShufflePartitions)},""" +
      s""""floor_mode":$floorMode"""
    // Compile once per session (GraftSession.CodegenCacheEntries): warm
    // passes should compile next to nothing. Totals count the whole JVM,
    // warm-up and calibration included.
    val runCompiles = ops.Metrics.compiles()
    val queryCompilesJson = records.groupBy(_.query).toSeq
      .sortBy { case (k, _) => records.indexWhere(_.query == k) }
      .map { case (k, rs) => "\"" + k + "\":" + rs.map(_.compiles.count).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val codegenJson =
      s""""codegen":{"cache_entries":${GraftSession.codegenCacheBound().getOrElse(-1L)},""" +
      f""""compiles":${runCompiles.count},"compile_ms":${runCompiles.ms}%.1f,""" +
      s""""pass_compiles":${passCompiles.map(_.count).mkString("[", ",", "]")},""" +
      s""""pass_compile_ms":${passCompiles.map(c => f"${c.ms}%.1f").mkString("[", ",", "]")},""" +
      s""""query_compiles":$queryCompilesJson}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec",$scaleJson,"comparable_sec":$comparableSec,"symmetric_sec":$symmetricSec,"asymmetric_sec":$asymSec,"jobchain_floor_sec":$jobChainSec$ivfSplitJson,"noncomparable":$noncompJson,"failures":${QueryFailure.jsonArray(failures.values.toSeq)},"baseline_sec":$baselineSec,"baseline_quiet_sec":$baselineQuiet,"calib_quiet_sec":$calibQuiet,"calib_secs":$calibJson,"host_factor":$hostFactor,"host_correction_applied":$corrected,"vs_baseline":$ratio,"vs_baseline_quiet":${comparableSec / baselineQuiet},"vs_baseline_symmetric_quiet":$symRatioQuiet,$codegenJson,"queries":$qs,"sf":"$sfDir"}"""
    // stdout goes through sbt's "[info] "-prefixed logger, which breaks
    // line-oriented JSON parsing downstream, so the line is also a file
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    Files.writeString(out, json + "\n")
    // every record of every pass, kept out of the contract line
    Files.writeString(out.resolveSibling("bench_records.json"),
      s"""{"passes":[${passes.map(RunRecord.jsonArray).mkString(",")}],""" +
      s""""retry":${RunRecord.jsonArray(retry)}}""" + "\n")
    println(json)
    // The stream-parity queries' async state-store maintenance timer would
    // otherwise fire after SparkContext teardown and end the log with a
    // "SparkEnv not active" stack trace. Stop it first.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
    // A short headline line after stop, last in the log, so it survives any
    // last-N-chars log-tail truncation: the gate numbers and the slowest 10.
    val slowest = results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","comparable_sec":$comparableSec%.3f,"baseline_sec":$baselineSec%.3f,"host_factor":$hostFactor%.4f,"vs_baseline":$ratio%.4f,"vs_baseline_quiet":${comparableSec / baselineQuiet}%.4f,"slowest10":$slowest,"queries_full":"bench_out.json","sf":"$sfDir"}""")
  }
}
