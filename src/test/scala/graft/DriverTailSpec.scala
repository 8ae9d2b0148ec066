package graft

import graft.ops.{Dedup, DriverTail}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class DriverTailSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{countingJobs, withDriverTail}

  private lazy val pairs =
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")

  /** dupClusters' driver union-find returns a local relation; its
    * distributed loop returns checkpoint-rooted labels.
    */
  private def clustersOnDriver(): Boolean =
    Dedup.dupClusters(pairs).queryExecution.executedPlan.toString
      .contains("LocalTableScan")

  test("budget: each site's own limit, capped by the one key") {
    assert(DriverTail.budget(spark, 100L) == 100L)
    withDriverTail(40)(assert(DriverTail.budget(spark, 100L) == 40L))
    withDriverTail(400)(assert(DriverTail.budget(spark, 100L) == 100L))
  }

  test("a budget <= 0 means distributed and launches no probe job") {
    val df = (1 to 5).toDF("x")
    for (v <- Seq(0L, -5L)) withDriverTail(v) {
      assert(DriverTail.budget(spark, 100L) == 0L)
      val (probe, jobs) = countingJobs(DriverTail.collectWithin(df, 100L))
      assert(probe.isEmpty && jobs == 0, s"maxRows=$v: $jobs jobs")
      // a negative value used to reach limit() and fail there
      assert(!clustersOnDriver(), s"maxRows=$v")
      assert(Dedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
    assert(DriverTail.collectWithin(df, -1L).isEmpty)
  }

  test("Long.MaxValue is clamped below Int.MaxValue") {
    withDriverTail(Long.MaxValue) {
      assert(DriverTail.budget(spark, Long.MaxValue) == DriverTail.MaxRows)
      assert(DriverTail.budget(spark, 100L) == 100L)
      assert(clustersOnDriver())
    }
    val df = (1 to 5).toDF("x")
    assert(DriverTail.collectWithin(df, Long.MaxValue).map(_.length).contains(5))
  }

  test("a non-numeric value fails loudly and names the key") {
    spark.conf.set(DriverTail.MaxRowsKey, "lots")
    try {
      val e = intercept[IllegalArgumentException](DriverTail.budget(spark, 100L))
      assert(e.getMessage.contains(DriverTail.MaxRowsKey) &&
             e.getMessage.contains("lots"), e.getMessage)
      intercept[IllegalArgumentException](Dedup.dupClusters(pairs))
    } finally spark.conf.unset(DriverTail.MaxRowsKey)
  }

  test("exactly limit rows go to the driver; limit + 1 rows go distributed") {
    val df = (1 to 5).toDF("x")
    assert(DriverTail.collectWithin(df, 5L).map(_.map(_.getInt(0)).sorted.toSeq)
      .contains(1 to 5))
    assert(DriverTail.collectWithin(df, 4L).isEmpty)
    // the same edge at a site: 3 pairs
    assert(withDriverTail(3)(clustersOnDriver()))
    assert(!withDriverTail(2)(clustersOnDriver()))
  }

  test("round6/round0 mirror Spark's HALF_UP round") {
    val xs = Seq(0.0000005, -0.0000005, 2.5, -2.5, 1.2345675, 123456.7890125,
                 1e-7, 0.1 + 0.2)
    val spark6 = xs.toDF("x")
      .select(org.apache.spark.sql.functions.round($"x", 6),
              org.apache.spark.sql.functions.round($"x", 0).cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(xs.map(x => (DriverTail.round6(x), DriverTail.round0(x))) == spark6)
  }

  test("structure: one conf key reader, one trained-artifact LRU") {
    // copies of the driver-tail knob or of the memo must not grow back:
    // only DriverTail reads a spark.graft.* conf key, and only
    // TrainedArtifactCache declares a removeEldestEntry memo
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"source tree not found at $root")
    val sources: Seq[(Path, String)] = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq
    assert(sources.exists(_._1.endsWith("graft/ops/DriverTail.scala")))
    def offenders(allowed: String, token: String): Seq[Path] = sources.collect {
      case (p, text) if !p.getFileName.toString.equals(allowed) &&
                        text.contains(token) => p
    }
    assert(offenders("DriverTail.scala", "\"spark.graft.").isEmpty,
      "spark.graft.* conf keys belong to DriverTail")
    assert(offenders("TrainedArtifactCache.scala", "removeEldestEntry").isEmpty,
      "trained-artifact memos belong to TrainedArtifactCache")
    // the session policy (AQE on, derived shuffle width, scoped overrides)
    // lives in GraftSession; no per-query AQE switch may grow back
    for (key <- Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"))
      assert(offenders("GraftSession.scala", key).isEmpty,
        s"$key belongs to GraftSession")
    // session-held state lives in GraftSession's one registry: no other
    // collection may be keyed on a SparkSession
    for (token <- Seq("[(SparkSession", "[SparkSession]", "[SparkSession,"))
      assert(offenders("GraftSession.scala", token).isEmpty,
        s"a collection keyed on SparkSession ($token) belongs to GraftSession")
  }
}
