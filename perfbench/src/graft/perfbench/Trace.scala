package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task-level counters gathered from outside the program: one listener
  * the benchmark registers, read only after the listener bus drains.
  * Attribution is by deltas around sequential calls, never by job group
  * (threads of `graft.engine.Par` carry stale local properties).
  */
final class TaskCounters extends SparkListener {
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outBytes = new AtomicLong
  val inBytes = new AtomicLong
  val tasks = new AtomicLong
  val jobs = new AtomicLong
  /** (launch, finish) epoch millis of every finished task, in bus order. */
  val intervals = new ArrayBuffer[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    val info = e.taskInfo
    intervals.synchronized {
      intervals += ((info.launchTime, info.finishTime))
    }
  }
}

/** One reading of every counter, taken after the bus has drained. */
final case class Reading(
    nanos: Long, epochMs: Long, cpuNs: Long, runMs: Long, taskGcMs: Long,
    shuffleBytes: Long, spillBytes: Long, outBytes: Long, inBytes: Long,
    tasks: Long, jobs: Long, intervalCount: Int, jitMs: Long, jvmGcMs: Long,
    codegenClasses: Long, codegenNs: Long)

/** Spans around the benchmark's own calls into the program, kept in
  * memory and written once at the end. Each span records wall time,
  * executor CPU, the task intervals that ran inside it (for
  * `driver_only_s`), job and task counts, shuffle and spill bytes, JIT,
  * GC and Janino counters, and, for spans that write, files and bytes
  * found under the written paths. `ownS` is the time spent in the
  * tracer itself around spans (draining, reading, walking written files):
  * the tracing overhead.
  */
final class Tracer(spark: SparkSession) {
  private val counters = new TaskCounters
  spark.sparkContext.addSparkListener(counters)
  val spans = new ArrayBuffer[Map[String, Any]]
  private var ownNs = 0L
  def ownS: Double = ownNs / 1e9

  private def drain(): Unit =
    if (!org.apache.spark.graft.MetricsBridge
        .drainListenerBus(spark.sparkContext, 30000L))
      throw new IllegalStateException("listener bus did not drain")

  def read(): Reading = {
    drain()
    Reading(System.nanoTime(), System.currentTimeMillis(),
      counters.cpuNs.get, counters.runMs.get, counters.gcMs.get,
      counters.shuffleBytes.get, counters.spillBytes.get,
      counters.outBytes.get, counters.inBytes.get, counters.tasks.get,
      counters.jobs.get, counters.intervals.synchronized(counters.intervals.size),
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        .getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime)
  }

  /** Counter deltas between two readings, with the task intervals that
    * finished in between. */
  def delta(a: Reading, b: Reading): Map[String, Any] = {
    val iv = counters.intervals.synchronized(
      counters.intervals.slice(a.intervalCount, b.intervalCount).toList)
    Map(
      "start_ms" -> a.epochMs, "end_ms" -> b.epochMs,
      "wall_s" -> (b.nanos - a.nanos) / 1e9,
      "cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "task_run_s" -> (b.runMs - a.runMs) / 1e3,
      "task_gc_s" -> (b.taskGcMs - a.taskGcMs) / 1e3,
      "shuffle_bytes" -> (b.shuffleBytes - a.shuffleBytes),
      "spill_bytes" -> (b.spillBytes - a.spillBytes),
      "task_out_bytes" -> (b.outBytes - a.outBytes),
      "input_bytes" -> (b.inBytes - a.inBytes),
      "tasks" -> (b.tasks - a.tasks),
      "jobs" -> (b.jobs - a.jobs),
      "jit_s" -> (b.jitMs - a.jitMs) / 1e3,
      "gc_s" -> (b.jvmGcMs - a.jvmGcMs) / 1e3,
      "codegen_classes" -> (b.codegenClasses - a.codegenClasses),
      "codegen_compile_s" -> (b.codegenNs - a.codegenNs) / 1e9,
      "intervals" -> iv.map { case (l, f) => Seq(l, f) })
  }

  /** Time `body` as span `name` under operation `op`; `writes` are the
    * directories whose files and bytes the span leaves behind. */
  def span[T](name: String, op: Int, writes: Seq[String] = Nil)(
      body: => T): T = {
    val t0 = System.nanoTime()
    val a = read()
    val t1 = System.nanoTime()
    val r = body
    val t2 = System.nanoTime()
    val b = read()
    val extra =
      if (writes.isEmpty) Map.empty[String, Any]
      else {
        val (files, bytes) = Files.dataFiles(writes)
        Map("files_out" -> files, "bytes_out" -> bytes)
      }
    spans += (delta(a, b) ++ extra ++ Map("name" -> name, "op" -> op))
    ownNs += (t1 - t0) + (System.nanoTime() - t2)
    r
  }
}

/** Peak heap occupancy right after a garbage collection — the live set
  * plus whatever the collector kept, so caches held on the heap show even
  * though the heap's size is fixed. */
final class HeapWatch {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification,
        handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Files {
  /** Data files (no `_SUCCESS`, no checksums) and their bytes under the
    * given roots. */
  def dataFiles(roots: Seq[String]): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    roots.map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.exists(_)).foreach { root =>
        val it = java.nio.file.Files.walk(root).iterator().asScala
        it.filter(java.nio.file.Files.isRegularFile(_)).foreach { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".")) {
            files += 1
            bytes += java.nio.file.Files.size(p)
          }
        }
      }
    (files, bytes)
  }
}
