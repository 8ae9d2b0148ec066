package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
              java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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

  /** `body`'s result and the number of Spark jobs it started. */
  def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graft.ListenerSync.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.sql.graft.ListenerSync.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
