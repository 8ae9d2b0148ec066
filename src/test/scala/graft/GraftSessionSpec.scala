package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session policy (derived shuffle width, compile once, scoped conf
  * overrides), the session-state registry and its memos, and Verify's
  * structured failure records.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import GraftSession.ShufflePartitions

  /** stdout of `main` run in a child JVM on the test classpath, for what
    * one JVM can do only once (a second SparkContext, sizing the codegen
    * cache); fails the test on a non-zero exit.
    */
  private def childJvm(main: String, args: String*): String = {
    import scala.sys.process._
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), main) ++ args
    val out = new StringBuilder
    val exit = Process(cmd).!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(exit == 0, out.toString)
    out.toString
  }

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

  test("the session policy sizes the codegen cache and keeps generated code reusable") {
    assert(GraftSession.CodegenCacheEntries == 4000)
    assert(GraftSession.conf(GraftSession.CodegenCacheKey) == "4000")
    assert(GraftSession.conf("spark.sql.artifact.isolation.enabled") == "false")
    assert(GraftSession.conf("spark.sql.codegen.useIdInClassName") == "false")
    // the test session was the JVM's first, so it sized the cache
    assert(GraftSession.codegenCacheBound().contains(4000L))
    assert(GraftSession.codegenCacheWarning(spark).isEmpty)
  }

  test("a repeated catalog query compiles no generated class the second time") {
    val queries = SparkEntry.queries.toMap
    // a batch query with many stages; a multi-distinct profile, whose
    // Expand must read attribute ids that do not change per call; and a
    // streaming query, whose cloned session must share the class loader
    for (name <- Seq("curation_pipeline", "orders_column_profile", "stream_dedup_parity")) {
      def run(): Unit =
        queries(name)(spark, TestSpark.sfDir).write.mode("overwrite").format("noop").save()
      run()
      val before = ops.Metrics.compiles()
      run()
      assert((ops.Metrics.compiles() - before).count == 0, s"$name compiled again")
    }
  }

  test("arm records a warning when the JVM's codegen cache is below the policy") {
    // the cache is sized once per JVM, so a child JVM arms a session built
    // without the policy, then a policy session that comes too late
    val lines = childJvm("graft.CodegenCacheMain").linesIterator.toSet
    assert(lines.contains("CODEGEN user bound=100 warned=true"), lines)
    assert(lines.contains("CODEGEN policy bound=100 warned=true"), lines)
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

  test("memo: one build per data version, per session; a throwing build caches nothing") {
    val path = Files.createTempDirectory("graft-memo").resolve("t.bin")
    Files.writeString(path, "a")
    var builds = 0
    def get(s: SparkSession) =
      GraftSession.memo(s, "spec", path.toString) { builds += 1; builds }
    assert(get(spark) == 1 && get(spark) == 1)
    Files.writeString(path, "bbb")
    assert(get(spark) == 2 && get(spark) == 2, "a changed file must rebuild, once")
    assert(get(spark.newSession()) == 3, "sessions do not share memos")
    intercept[IllegalStateException] {
      GraftSession.memo(spark, "spec-throw", path.toString)(
        throw new IllegalStateException("boom"))
    }
    assert(GraftSession.memo(spark, "spec-throw", path.toString)(42) == 42)
    // a directory is identified by its listing
    val dir = Files.createTempDirectory("graft-memo-dir")
    def inDir() = GraftSession.memo(spark, "spec-dir", dir.toString) { builds += 1; builds }
    val first = inDir()
    assert(inDir() == first)
    Files.writeString(dir.resolve("part-1"), "x")
    assert(inDir() == first + 1)
  }

  test("a table rewritten under one path is re-read through Tables with no clear call") {
    val src = s"${TestSpark.sfDir}/orders.parquet"
    val dir = Files.createTempDirectory("graft-rewrite")
    Files.copy(Paths.get(src), dir.resolve("orders.parquet"))
    val n = spark.read.parquet(src).count()
    assert(Tables.orders(spark, dir.toString).count() == n)
    // rewrite in place as Spark writes it (the file becomes a directory)
    spark.read.parquet(src).union(spark.read.parquet(src))
      .write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)
    assert(Tables.orders(spark, dir.toString).count() == 2 * n)
    spark.read.parquet(src).limit(7)
      .write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)
    assert(Tables.orders(spark, dir.toString).count() == 7)
  }

  test("the registry drops the state of a session whose SparkContext stopped") {
    // a second SparkContext cannot start in this JVM, so a child JVM stops
    // one session, builds another and reports what the registry holds
    val out = childJvm("graft.SessionRegistryMain", TestSpark.sfDir)
    assert(out.linesIterator.contains(
      "REGISTRY held_first=false held_second=true size=1"), out)
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
