package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session policy (derived shuffle width, scoped conf overrides)
  * and Verify's structured failure records.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import GraftSession.ShufflePartitions

  test("an armed session's shuffle width is its defaultParallelism") {
    val parallelism = spark.sparkContext.defaultParallelism.toString
    assert(spark.conf.get(ShufflePartitions) == parallelism)
    // a session with no width of its own gets it from arm, not Spark's 200
    val s = spark.newSession()
    s.conf.unset(ShufflePartitions)
    assert(GraftSession.arm(s).conf.get(ShufflePartitions) == parallelism)
  }

  test("a shuffle width set before arm wins") {
    val s = spark.newSession()
    s.conf.set(ShufflePartitions, "7")
    assert(GraftSession.arm(s).conf.get(ShufflePartitions) == "7")
  }

  test("withConf restores the previous value, or its absence, also when the body throws") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val s = spark.newSession()
    assert(!s.sessionState.conf.contains(key))
    assert(GraftSession.withConf(s, key, "1")(s.conf.get(key)) == "1")
    assert(!s.sessionState.conf.contains(key))
    s.conf.set(key, "5")
    intercept[IllegalStateException] {
      GraftSession.withConf(s, key, "1")(throw new IllegalStateException("boom"))
    }
    assert(s.conf.get(key) == "5")
  }

  test("Verify writes one failures.json record per throwing query, none on a green run") {
    type Q = (SparkSession, String) => DataFrame
    val ok: Q = (s, _) => s.range(3).toDF("id")
    val boom: Q = (_, _) => throw new IllegalStateException("no \"table\"\there")
    val green = Files.createTempDirectory("graft-verify-green").toString
    assert(Verify.dump(spark, TestSpark.sfDir, green, Seq("ok" -> ok)).isEmpty)
    assert(Files.isDirectory(Paths.get(green, "ok")))
    assert(!Files.exists(Paths.get(green, "failures.json")))

    val red = Files.createTempDirectory("graft-verify-red").toString
    val failures = Verify.dump(spark, TestSpark.sfDir, red, Seq("ok" -> ok, "boom" -> boom))
    assert(failures == Seq(QueryFailure("boom", "java.lang.IllegalStateException",
                                        "no \"table\"\there")))
    val records = new ObjectMapper()
      .readTree(Files.readString(Paths.get(red, "failures.json"))).elements().asScala.toSeq
    assert(records.size == 1)
    val r = records.head
    assert(r.fieldNames().asScala.toSet == Set("query", "exception", "message"))
    assert(r.get("query").asText == "boom")
    assert(r.get("exception").asText == "java.lang.IllegalStateException")
    assert(r.get("message").asText == "no \"table\"\there")
    assert(Files.isDirectory(Paths.get(red, "ok")))
  }
}
