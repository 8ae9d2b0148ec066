package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two low-severity-advice guards: the bounded-report truncation
  * watcher and spread()'s scan-rooted precondition.
  */
class GuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("spread() skips the partition probe on non-scan-rooted plans (returns input unchanged)") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    // scan-rooted: filter/project over the scan — spread may act
    val scanRooted = docs.filter(col("doc_id") > 0).select("doc_id", "text")
    assert(Tables.spread(scanRooted, col("doc_id")).rdd.getNumPartitions >= 1)
    // aggregate-rooted: probing .rdd here would materialize the shuffle
    // stage under AQE; the guard must hand the plan back untouched
    val agg = docs.groupBy("source").agg(count(lit(1)).as("n"))
    assert(Tables.spread(agg, col("source")) eq agg)
    val joined = docs.join(docs.select("doc_id"), Seq("doc_id"))
    assert(Tables.spread(joined, col("doc_id")) eq joined)
  }

  /** Waits (listener delivery is async) until `spark`'s truncation flag
    * reads `expect`; false on timeout.
    */
  private def awaitFlag(s: SparkSession, expect: Boolean): Boolean = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (GraftSession.lastBoundTruncation(s).isDefined != expect &&
           System.nanoTime() < deadline) Thread.sleep(50)
    GraftSession.lastBoundTruncation(s).isDefined == expect
  }

  private def saturatingReport(s: SparkSession): Unit =
    s.range(CatalogCore.ReportBound + 50L).toDF("id")
      .transform(CatalogCore.orderedReport(_, col("id")))
      .write.mode("overwrite").format("noop").save()

  test("orderedReport flags a bound-saturated result loudly; normal reports stay silent") {
    GraftSession.arm(spark)
    GraftSession.clearBoundTruncation(spark)
    import spark.implicits._
    // under the bound: no flag
    CatalogCore.orderedReport((1 to 10).toDF("id"), col("id"))
      .write.mode("overwrite").format("noop").save()
    assert(awaitFlag(spark, false), "an under-bound report must not flag")
    // exactly at the bound: truncation suspect must flag
    saturatingReport(spark)
    assert(awaitFlag(spark, true), "a bound-saturated report must flag")
    GraftSession.clearBoundTruncation(spark)
  }

  test("truncation flags are per session: only the saturating session is flagged") {
    val other = GraftSession.arm(spark.newSession())
    GraftSession.arm(spark)
    GraftSession.clearBoundTruncation(spark)
    saturatingReport(other)
    assert(awaitFlag(other, true), "the saturating session must flag")
    org.apache.spark.sql.graft.ListenerSync.drain(spark.sparkContext)
    assert(GraftSession.lastBoundTruncation(spark).isEmpty,
      "another session's report must not flag this one")
    GraftSession.clearBoundTruncation(other)
    assert(GraftSession.lastBoundTruncation(other).isEmpty)
  }
}
