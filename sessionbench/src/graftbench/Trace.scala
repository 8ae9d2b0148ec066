package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Monotone counters fed by the listener bus (one writer thread). */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = synchronized { c(k) = c.getOrElse(k, 0.0) + v }
  def snapshot(): Map[String, Double] = synchronized { c.toMap }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      // Spark UI's scheduler delay: task lifetime not spent deserializing,
      // running, serializing or fetching the result.
      val delayMs = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      add("spark.sched_delay_s", delayMs / 1e3)
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("io.records_written", m.outputMetrics.recordsWritten.toDouble)
      add("io.bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"catalyst.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One recorded layer call. `counters` holds the listener deltas between the
  * span's boundaries; self time is derived after the run from the tree.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's own calls into the library. While
  * the listeners are detached (always, when `enabled` is false), `span` is a
  * plain call: no listener, no drain, no record.
  */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var attached = false

  def attach(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    attached = false
  }
  def recording: Boolean = attached

  private def drain(): Unit = org.apache.spark.sessionbench.Bus.drain(spark.sparkContext)

  def span[A](name: String)(body: => A): A =
    if (!attached) body
    else {
      drain()
      val before = counters.snapshot()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        val after = counters.snapshot()
        stack = stack.tail
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        spans.synchronized { spans += Span(id, parent, name, t0, t1, delta) }
      }
    }

  def all: Seq[Span] = spans.synchronized { spans.toList }

  /** Every span below the first span called `root`, depth first. */
  def below(root: String): Seq[Span] = all.find(_.name == root).map(below).getOrElse(Nil)

  def below(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: go(c.id))
    go(root.id)
  }

  /** Counter totals over the leaves of `spans`: the layer calls themselves,
    * without the checks run between them.
    */
  def leafTotals(spans: Seq[Span]): Map[String, Double] = {
    val parents = spans.map(_.parent).toSet
    spans.filterNot(x => parents(x.id)).flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Span duration minus the durations of its direct children. */
  def selfSeconds: Map[Int, Double] = {
    val s = all
    val childSum = s.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    s.map(x => x.id -> (x.seconds - childSum.getOrElse(x.id, 0.0))).toMap
  }
}

/** Process-wide JVM readings: CPU of every thread (JIT and GC included). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }
  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
