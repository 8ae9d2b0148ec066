package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.arm(GraftSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
              java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** `body` with [[graft.ops.DriverTail.MaxRowsKey]] set to `maxRows`
    * (≤ 0: every driver tail takes its distributed path).
    */
  def withDriverTail[A](maxRows: Long)(body: => A): A = {
    spark.conf.set(graft.ops.DriverTail.MaxRowsKey, maxRows.toString)
    try body finally spark.conf.unset(graft.ops.DriverTail.MaxRowsKey)
  }

  /** `body`'s result and the number of Spark jobs it started, read from
    * the engine's one job counter ([[GraftSession.counted]]).
    */
  def countingJobs[A](body: => A): (A, Int) = {
    val (a, counts) = GraftSession.counted(spark)(body)
    (a.fold(e => throw e, identity), counts.jobs.toInt)
  }
}
