package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Shared timing/quality instrumentation for [[Bench]] and [[ScaleProbe]].
  *
  * The problem this solves: three consecutive rounds produced driver bench
  * artifacts inflated 2-50x by host contention that NO in-VM counter saw —
  * `/proc/stat` only shows co-tenants in the same kernel; a hypervisor-level
  * neighbor steals cycles invisibly (loadavg 23 at start, ext-CPU detector
  * reading 0.00, a 0.65 s query timing 34.7 s). The counters the hypervisor
  * CANNOT fake are the ones we burn ourselves:
  *
  *  - `selfCpuSec / wall` — the JVM's own CPU seconds per wall second. A
  *    query that schedules work on 32 local threads and still averages
  *    under ~0.8 cores was runnable-but-descheduled: SOMETHING ate the
  *    cycles, whoever it was. (A genuinely serial query holds ~1 core.)
  *  - `taskCpuSec / taskRunSec` — Spark's own task metrics: CPU time vs
  *    wall time inside scheduled tasks. Tasks that spend most of their
  *    scheduled wall off-CPU (with GC quiet) were starved, not working.
  *    This is the per-stage-parallelism-aware signal: it normalizes by
  *    what the query actually scheduled, so a 1-task query and a 256-task
  *    query get the same verdict scale.
  *
  * Both trigger the same response as the visible-external-load detector:
  * re-time, keep the fastest sample (contention only ever inflates wall, so
  * min is the honest pick). Every sample carries the full quality quadruple
  * so an artifact consumer can re-adjudicate without access to the host. */
object BenchSampler {

  final case class Sample(
      wall: Double,       // seconds; -1 on query failure
      ext: Double,        // external busy cores fraction (same-kernel view); -1 unknown
      selfCpuSec: Double, // this JVM's CPU seconds over the interval
      taskRunSec: Double, // sum of Spark task wall (executorRunTime) landed in the interval
      taskCpuSec: Double, // sum of Spark task CPU (executorCpuTime) landed in the interval
      gcMs: Long,         // collector time over the interval
      memoHits: Long = 0L,   // MemoCache lookups served from cache this interval
      memoMisses: Long = 0L, // MemoCache lookups that recomputed this interval
      jitMs: Long = 0L) { // JIT compilation time over the interval (whole JVM)
    def selfRatio: Double = if (wall > 0) selfCpuSec / wall else -1.0
    /** Memo provenance of this sample: "hit" = every query-layer memo lookup
      * was cache-resident (the number measures the consumer side of a
      * materialized-once index — the production steady state); "recomputed"
      * = at least one memoized intermediate was rebuilt inside the timed
      * interval (evicted by LRU churn, or first touch); "n/a" = the query
      * performs no memo lookups. Disambiguates what a "warm" wall means. */
    def memo: String =
      if (memoHits + memoMisses == 0) "n/a"
      else if (memoMisses == 0) "hit"
      else "recomputed"
    /** CPU fraction of scheduled task wall; 1.0 = every scheduled task
      * second was on-CPU. -1 when no tasks landed (pure-driver work). */
    def taskCpuFrac: Double = if (taskRunSec > 0.05) taskCpuSec / taskRunSec else -1.0
    def gcStorm: Boolean = wall > 0 && gcMs > (wall * 500).toLong // >50% of wall in GC
  }

  /** External busy-core fraction above which a sample is dirty ("ext"). */
  private val ExtThreshold = 0.15
  /** Walls below this are too short for contention to matter: never dirty. */
  private val MinRetimeSec = 0.3
  /** Re-samples [[steady]] takes of one dirty measurement at most. */
  private val MaxRetries = 3

  /** Why a sample was judged non-steady-state; empty = clean. */
  def dirtyReasons(s: Sample, extThreshold: Double = ExtThreshold,
                   minWall: Double = MinRetimeSec): Seq[String] = {
    if (s.wall < 0) return Seq("failed") // query threw: never report clean
    if (s.wall < minWall) return Seq.empty // too short for contention to matter
    val out = scala.collection.mutable.ArrayBuffer[String]()
    if (s.ext >= 0 && s.ext > extThreshold) out += "ext"
    if (s.gcStorm) out += "gc"
    // JVM couldn't even hold one core on average: starved (or blocked on
    // I/O the whole time, which on page-cached local parquet means the
    // sample is dominated by something other than the operator anyway).
    if (s.selfRatio >= 0 && s.selfRatio < 0.8) out += "starved"
    // Scheduled tasks spent most of their wall off-CPU while GC was quiet:
    // cycles went to an invisible neighbor. The 0.5 floor leaves room for
    // genuine spill/shuffle I/O waits inside tasks, and the wall floor is
    // 5x the general one: a sub-second sample of many tiny tasks reads a
    // low CPU fraction from fixed per-task overheads (scheduler latency,
    // block-manager locking on cached reads), not from contention —
    // measured as a persistent false "stalled" on an idle host.
    if (!s.gcStorm && s.wall > 5 * minWall && s.taskRunSec > 1.0 &&
        s.taskCpuFrac >= 0 && s.taskCpuFrac < 0.5)
      out += "stalled"
    out.toSeq
  }

  /** [[dirtyReasons]] plus the COLD-only criterion (r11 demerit #2): a
    * cold sample whose GC exceeds 15% of a non-trivial wall is under
    * JVM-wide allocation/compile pressure that the ext/starved/stalled
    * detectors cannot see (doc_typo_pairs: 23.6 s cold stamped clean with
    * gc at 22% of wall vs a 3.2 s idle cold). Warm adjudication keeps the
    * 50% gcStorm bar — steady-state churn legitimately carries moderate
    * GC, and warm dirt already triggers in-loop retries; a cold flagged
    * here just earns its end-of-run floor. The 1 s wall floor keeps
    * sub-second colds (where a single young-gen pause is a large
    * fraction) out of the net. */
  def coldDirtyReasons(s: Sample, extThreshold: Double = ExtThreshold,
                       minWall: Double = MinRetimeSec): Seq[String] = {
    val base = dirtyReasons(s, extThreshold, minWall)
    val b2 =
      if (s.wall >= 1.0 && !s.gcStorm && s.gcMs > (s.wall * 150).toLong)
        base :+ "gcfrac"
      else base
    // JIT > 50% of a non-trivial wall: one query's own codegen classes
    // don't cost seconds of C2; this is the compile QUEUE of earlier
    // queries draining through the sample's window (r12 contended run:
    // doc_typo_pairs 13.8 s cold stamped clean carrying 7.2 s jit vs a
    // 3.3 s idle cold; evt_rolling_distinct 4.8 s clean at 117% jit/wall).
    // Effect is only to earn the end-of-run floor — the raw cold stays
    // published as the upper bracket, so a genuinely jit-heavy giant
    // (the bounded-Levenshtein codegen) keeps its honest cold while the
    // floor shows what a warm-code-cache cold costs.
    if (s.wall >= 1.0 && s.jitMs > (s.wall * 500).toLong) b2 :+ "jitfrac"
    else b2
  }

  // ------------------------------------------------------------- counters

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def gcCount(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum

  /** 1/5/15-min load averages, comma-joined; "" when unreadable. */
  def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** Host-wide busy jiffies (all cpus) from the aggregate `cpu` line of
    * /proc/stat; -1 when unreadable. Same-kernel co-tenants only — a
    * hypervisor neighbor is invisible here, which is why the self-CPU
    * signals above exist. */
  def hostBusyJiffies(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cols = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val idle = cols(3) + (if (cols.length > 4) cols(4) else 0L) // idle+iowait
        cols.sum - idle
      } finally f.close()
    } catch { case _: Throwable => -1L }

  /** Total JIT compilation time; -1 when the JVM doesn't expose it. A big
    * delta on a COLD sample is legitimate codegen cost; published per cold
    * sample so a consumer can separate compile pressure from contention. */
  def jitMillis(): Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime
    else -1L
  }

  def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  // ------------------------------------------------------------- listener

  private val taskRunMs = new AtomicLong(0L)
  private val taskCpuNs = new AtomicLong(0L)
  @volatile private var installed = false

  private object Listener extends SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        ()
      }
    }
  }

  /** Idempotent per-JVM install. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!installed) {
      spark.sparkContext.addSparkListener(Listener)
      installed = true
    }
  }

  /** The listener bus is async: task-end events can land after the job
    * returns. Poll the counters until stable (or 500 ms) — untimed, outside
    * the measured interval's wall but inside its counter delta window. */
  private def drainListeners(): Unit = {
    var prev = -1L
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 500) {
      val cur = taskRunMs.get() + taskCpuNs.get()
      if (cur == prev) stable += 1 else stable = 0
      prev = cur
      if (stable < 2) { Thread.sleep(20); waited += 20 }
    }
  }

  /** Time one execution of `work`, attributing host/self/task CPU and GC to
    * the interval. `hostCores` sizes the external-load fraction. */
  def sample(hostCores: Int)(work: => Unit): Sample = {
    drainListeners() // flush stragglers from the PREVIOUS sample first
    val j0 = hostBusyJiffies(); val c0 = processCpuNanos()
    val tr0 = taskRunMs.get(); val tc0 = taskCpuNs.get()
    val (mh0, mm0) = graft.queries.MemoCache.lookupCounts
    val g0 = gcMillis()
    val jit0 = jitMillis()
    val t0 = System.nanoTime()
    try {
      work
      val wall = (System.nanoTime() - t0) / 1e9
      drainListeners()
      val j1 = hostBusyJiffies(); val c1 = processCpuNanos()
      val (mh1, mm1) = graft.queries.MemoCache.lookupCounts
      val selfSec = if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9
      val ext =
        if (j0 < 0 || j1 < 0 || selfSec < 0 || wall <= 0) -1.0
        else {
          // USER_HZ is 100 on every mainstream linux; a wrong constant only
          // mis-scales the diagnostic, never the timing itself.
          val hostBusySec = (j1 - j0) / 100.0
          math.max(0.0, (hostBusySec - selfSec) / (hostCores * wall))
        }
      Sample(wall, ext, selfSec,
        (taskRunMs.get() - tr0) / 1e3, (taskCpuNs.get() - tc0) / 1e9,
        gcMillis() - g0, mh1 - mh0, mm1 - mm0,
        { val j = jitMillis(); if (j < 0 || jit0 < 0) -1L else j - jit0 })
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] query failed: $e")
        Sample(-1.0, -1.0, -1.0, 0.0, 0.0, 0L)
    }
  }

  /** One steady-state measurement: sample, and while the sample is dirty
    * (external load, GC storm, starvation, task stall) and budget remains,
    * re-sample keeping the FASTEST wall (contention only inflates). Returns
    * (bestSample, retries, dirtyReasonsOfBest). `budget` is decremented by
    * retry wall seconds (shared across a run). `chargeInitial` also debits
    * the first sample — set it when the WHOLE call is discretionary (the
    * end-of-run retime pass), so every timed second there is charged
    * exactly once; the first-pass call leaves it false because its initial
    * sample is the mandatory warm measurement, not budgeted retry work. */
  def steady(hostCores: Int, budget: AtomicLong,
             chargeInitial: Boolean = false)(work: => Unit)
      : (Sample, Int, Seq[String]) = {
    var best = sample(hostCores)(work)
    if (chargeInitial) budget.addAndGet(-math.max(0L, (best.wall * 1000).toLong))
    var reasons = dirtyReasons(best)
    var retries = 0
    while (best.wall >= 0 && reasons.nonEmpty && retries < MaxRetries &&
           budget.get() > 0) {
      retries += 1
      val s = sample(hostCores)(work)
      budget.addAndGet(-math.max(0L, (s.wall * 1000).toLong))
      if (s.wall >= 0 && s.wall < best.wall) best = s
      reasons = dirtyReasons(best)
    }
    (best, retries, reasons)
  }
}
