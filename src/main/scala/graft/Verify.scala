package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.arm(GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, RunRecord.selected())
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val c = ops.Metrics.compiles()
    System.err.println(f"[verify] codegen compiles=${c.count} compile_ms=${c.ms}%.0f " +
      s"cache_entries=${GraftSession.codegenCacheBound().getOrElse(-1L)}")
    spark.stop()
  }

  /** Write each query's result to `<outDir>/<name>` as parquet, and one
    * [[RunRecord]] per query to `<outDir>/runs.json`. A query that throws
    * prints a `[verify]` line on stderr and does not stop the others; when
    * any failed, `<outDir>/failures.json` lists one [[QueryFailure]] per
    * failed query (a green run writes no such file).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Iterable[(String, RunRecord.Query)]): Seq[QueryFailure] = {
    new java.io.File(outDir).mkdirs()
    val records = queries.toSeq.map { case (name, fn) =>
      val r = RunRecord.run(spark, name, fn(spark, sfDir),
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      r.failure.foreach(f => System.err.println(s"[verify] $name failed: ${f.message}"))
      r
    }
    Files.writeString(Paths.get(s"$outDir/runs.json"), RunRecord.jsonArray(records) + "\n")
    val failures = records.flatMap(_.failure)
    if (failures.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/failures.json"),
        QueryFailure.jsonArray(failures) + "\n")
    failures
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in an oracle's SQL or an exception message would
    * otherwise make a strict reader (Python's json.load) reject the file.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
