package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only audit main: run each catalog query once and report how many
  * Spark jobs / stages / tasks it schedules. Wall-clock on this host swings
  * ±2× with background load, but job+stage counts are deterministic, and at
  * the bench's measured ~0.3–0.5 s per-plan floor (BASELINE.md "Per-query
  * floor decomposition") the scheduler constant — not data work — dominates
  * every sub-second query. Lowering a query's job count is therefore the
  * noise-proof way to shave the tail: each job removed is worth roughly the
  * floor divided by the jobs-per-query average, in ANY window.
  *
  * Usage: sbt "runMain graft.JobAudit <sfDir>" [SPARK_GRAFT_BENCH_ONLY=a,b]
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.arm(GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong); ()
      }
    })

    // same warm-up as Bench so first-query codegen/JIT doesn't skew counts
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).groupBy("l_returnflag").count().collect()

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val catalog = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)

    val out = catalog.map { case (name, fn) =>
      // settle listener deliveries from the previous query before zeroing
      org.apache.spark.sql.graft.ListenerSync.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0L)
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true
        } catch { case _: Throwable => false }
      org.apache.spark.sql.graft.ListenerSync.drain(spark.sparkContext)
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      (name, jobs.get, stages.get, tasks.get, dt, ok)
    }
    println(f"${"query"}%-34s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%7s ${"sec"}%7s ok")
    out.sortBy(-_._2).foreach { case (n, j, s, t, dt, ok) =>
      println(f"$n%-34s $j%5d $s%7d $t%7d $dt%7.2f $ok")
    }
    println(f"TOTAL jobs=${out.map(_._2).sum} stages=${out.map(_._3).sum} tasks=${out.map(_._4).sum}")
    spark.stop()
  }
}
