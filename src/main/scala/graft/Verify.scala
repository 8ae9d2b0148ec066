package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

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
    // optional comma-separated subset for local iteration (tools/selfcheck.py
    // on one query); unset = full suite (what the driver runs)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val c = ops.Metrics.compiles()
    System.err.println(f"[verify] codegen compiles=${c.count} compile_ms=${c.ms}%.0f " +
      s"cache_entries=${GraftSession.codegenCacheBound().getOrElse(-1L)}")
    spark.stop()
  }

  /** Write each query's result to `<outDir>/<name>` as parquet. A query that
    * throws prints a `[verify]` line on stderr and does not stop the others;
    * when any failed, `<outDir>/failures.json` lists one [[QueryFailure]]
    * per failed query (a green run writes no such file).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Seq[QueryFailure] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(QueryFailure(name, e))
      }
    }
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
