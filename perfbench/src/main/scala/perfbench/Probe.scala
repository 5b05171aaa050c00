package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Cumulative Spark and JVM counters; subtract two readings for an interval. */
final case class Counters(tasks: Long, runMs: Long, cpuNs: Long, fetchWaitMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long, jobs: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, fetchWaitMs - o.fetchWaitMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, jobs - o.jobs, gcMs - o.gcMs)
  /** Task CPU time over task wall time; 1.0 when every scheduled task
    * second was on a CPU. */
  def taskCpuFrac: Double = if (runMs > 0) cpuNs / 1e6 / runMs else 0.0
}

/** The benchmark's own `SparkListener` plus the JVM's GC beans. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val tasks, runMs, cpuNs, fetchWait, shWrite, spill, jobs = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      fetchWait.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  spark.sparkContext.addSparkListener(this)

  /** Counters after every event posted so far has been delivered. */
  def read(): Counters = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    Counters(tasks.get, runMs.get, cpuNs.get, fetchWait.get, shWrite.get,
      spill.get, jobs.get, Probe.gcMs())
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, in MB. Spark's ContextCleaner
    * frees blocks whose handles a collection found unreachable on its own
    * thread, so collect, give it time, and collect again. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat: time
    * the hypervisor gave this machine's CPUs to someone else. */
  def stealTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }
}
