package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. `session` builds the shared
  * session on first use; a workload may stop it and build another. */
final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean,
                val cores: Int, val workDir: java.io.File, val benchDir: java.io.File,
                val breakCheck: Option[String], val report: Report, val tracer: Tracer) {
  private var sessionOpt: Option[SparkSession] = None
  private var probeOpt: Option[Probe] = None

  def spark: SparkSession = sessionOpt.get
  def probe: Probe = probeOpt.get

  /** Build the session on `cores` local threads; returns the build seconds. */
  def buildSession(threads: Int = cores): Double = {
    val t0 = System.nanoTime()
    val s = graft.GraftSession.build(threads, "perfbench")
    sessionOpt = Some(s)
    probeOpt = Some(new Probe(s))
    (System.nanoTime() - t0) / 1e9
  }

  def stopSession(): Unit = { sessionOpt.foreach(_.stop()); sessionOpt = None; probeOpt = None }

  /** The expected value of a check, shifted by one when the run was asked to
    * break that check (to show that a failed check reaches the result). */
  def expect(check: String, v: Long): Long = if (breakCheck.contains(check)) v + 1 else v

  def dir(name: String): String = new java.io.File(workDir, name).getPath
}

object Clock {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
