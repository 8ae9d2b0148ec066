package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** A failed operation or check, kept as data instead of a sentinel value. */
final case class Failure(workload: String, pass: Int, step: String,
                         exception: String, message: String)

/** Per-run state shared by a workload and the pass loop. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val workload: String,
                val seed: Long, val runDir: String) {
  val failures = mutable.ArrayBuffer.empty[Failure]
  var attempted = 0L
  var pass = 0
  private var wallNs = 0L
  private var cpuS = 0.0

  def resetPassClock(): Unit = { wallNs = 0L; cpuS = 0.0 }
  def passWall: Double = wallNs / 1e9
  def passCpu: Double = cpuS

  /** Adds `body`'s wall and process-CPU time to the current pass. */
  def timed[A](label: String)(body: => A): A = {
    val c0 = Jvm.cpuSeconds; val t0 = System.nanoTime()
    try body finally {
      val dt = System.nanoTime() - t0
      wallNs += dt; cpuS += Jvm.cpuSeconds - c0
      Main.progress(f"pass $pass%d $label%s ${dt / 1e9}%.3f s")
    }
  }

  def fail(step: String, e: Throwable): Unit =
    failures += Failure(workload, pass, step, e.getClass.getName,
                        String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))

  /** One counted operation; an exception becomes a failure record. */
  def op[A](step: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body) catch { case NonFatal(e) => fail(step, e); None }
  }

  /** One counted output check, run outside the timed region. */
  def check(step: String)(ok: => Boolean, detail: => String): Unit =
    op(step) { if (!ok) fail(step, new AssertionError(detail)) }
}

trait Workload {
  /** Warm passes every run makes, whatever `--seconds` says. Passes keep
    * getting faster for the first few; `warm_s` counts the later half.
    */
  def minWarm: Int
  /** One pass; timed work goes through `ctx.timed`, checks stay outside it. */
  def pass(ctx: Ctx): Unit
  /** Checks that need every pass done (cross-pass equality, twins). */
  def finish(ctx: Ctx): Unit
  /** Layer metrics from the traced passes; `tracedWarm` are warm pass ids. */
  def layers(ctx: Ctx, cold: Int, tracedWarm: Seq[Int]): Map[String, Double]
}

/** Entry point: `graftbench.Main --workload W --seed N
  * --seconds S --trace 0|1 --run-dir D --data-dir D --cores C --launch-ns T`.
  * Writes `<run-dir>/out.json`; the Python launcher prints the result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val runDir = o("run-dir")
    val cores = o("cores").toInt
    val spark = graft.GraftSession.arm(
      graft.GraftSession.builder().master(s"local[$cores]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$runDir/local")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
        .getOrCreate())
    spark.range(1).count()
    val setupS = (nowNs() - o("launch-ns").toLong) / 1e9
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    try {
      out ++= run(spark, o, runDir)
    } finally {
      Json.write(s"$runDir/out.json", out.toMap)
      spark.stop()
      progress("stopped")
    }
  }

  /** A progress line on stderr with the JVM's uptime. */
  def progress(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[sessionbench] t=$up%.1f $msg%s")
  }

  private def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Warm passes keep speeding up for the first few; the settled half counts. */
  def settled(xs: Seq[Double]): Double = median(xs.drop(xs.size / 2))

  private def run(spark: SparkSession, o: Map[String, String], runDir: String): Map[String, Any] = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val budgetS = o("seconds").toDouble
    val traced = o("trace") == "1"
    val tracer = new Tracer(spark, s"$workload-$seed-${ProcessHandle.current().pid()}", traced)
    val ctx = new Ctx(spark, tracer, workload, seed, runDir)
    val w: Workload = workload match {
      case "etl_incremental" => new Etl(ctx)
      case "catalog_session" => new Catalog(ctx, o("data-dir"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // A traced run alternates untraced and traced warm passes and ends on an
    // untraced one, so each traced pass has an untraced pass on either side.
    val minWarm = if (traced) 2 * w.minWarm + 1 else w.minWarm
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)] // id, traced, wall, cpu
    def onePass(p: Int, trace: Boolean): Unit = {
      ctx.pass = p
      if (trace) tracer.attach() else tracer.detach()
      ctx.resetPassClock()
      tracer.span(s"pass.$p")(w.pass(ctx))
      passes += ((p, trace, ctx.passWall, ctx.passCpu))
    }
    onePass(0, traced)
    val warmStart = System.nanoTime()
    var p = 1
    while (p <= minWarm || (System.nanoTime() - warmStart) / 1e9 < budgetS ||
           (traced && p % 2 == 1 && passes.last._2)) {
      onePass(p, traced && p % 2 == 0)
      p += 1
    }
    tracer.detach()
    ctx.pass = -1
    Main.progress("checks")
    w.finish(ctx)
    Main.progress("checks done")

    val warm = passes.filter(_._1 > 0)
    val plainWarm = warm.filterNot(_._2)
    val res = mutable.LinkedHashMap[String, Any](
      "cold_s" -> passes.head._3, "cold_cpu_s" -> passes.head._4,
      "warm_s" -> settled(plainWarm.map(_._3).toSeq),
      "warm_cpu_s" -> settled(plainWarm.map(_._4).toSeq),
      "pass_wall_s" -> passes.map(_._3).toSeq, "pass_cpu_s" -> passes.map(_._4).toSeq,
      "pass_traced" -> passes.map(_._2).toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failures.size,
      "failures" -> ctx.failures.map(f => Map("workload" -> f.workload, "pass" -> f.pass,
        "step" -> f.step, "exception" -> f.exception, "message" -> f.message)).toSeq)
    if (traced) {
      val tracedWarm = warm.filter(_._2)
      val layers = mutable.LinkedHashMap[String, Double]()
      layers ++= w.layers(ctx, 0, tracedWarm.map(_._1).toSeq)
      layers("trace.warm_s") = settled(tracedWarm.map(_._3).toSeq)
      layers("trace.untraced_warm_s") = settled(plainWarm.map(_._3).toSeq)
      // Warm passes still speed up, so a traced pass is compared with the mean
      // of the untraced passes just before and after it.
      val wall = passes.map(_._3)
      layers("trace.overhead_s") = median(tracedWarm.map(_._1).toSeq
        .filter(_ + 1 < wall.size).map(t => wall(t) - (wall(t - 1) + wall(t + 1)) / 2))
      layers("jvm.jit_ms") = Jvm.jitMs
      layers("jvm.gc_ms") = Jvm.gcMs
      layers("jvm.heap_peak_mb") = Jvm.heapPeakMb
      res("layers") = layers.toMap
      val self = tracer.selfSeconds
      res("spans") = tracer.all.map(s => Map("run" -> tracer.runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id), "counters" -> s.counters))
    }
    res.toMap
  }
}

/** JSON result files, written with the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
