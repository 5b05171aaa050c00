package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds its session here so engine-required configs are applied uniformly.
  *
  * Settings are chosen for a multi-executor deployment and merely sized down
  * for local runs: shuffle partitions follow the core count (AQE coalesces
  * further at runtime), and adaptive execution handles skew/broadcast
  * re-planning the same way it would on a 1000-executor cluster.
  */
object GraftSession {

  /** Local cores every main runs on: `SPARK_GRAFT_CPUS` when set (the
    * driver runs with 32 and with 8), else the cores this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Ephemeral-scratch directory for shuffle blocks and spills: prefer RAM-
    * backed /dev/shm when present, writable, AND with generous free
    * headroom (shuffle blocks are ephemeral by contract — executor loss
    * already invalidates them, so tmpfs loses nothing), else fall back to
    * the JVM temp dir. `SPARK_LOCAL_DIRS` (the cluster-operator knob)
    * overrides the conf this feeds, per Spark's documented precedence, so
    * when it is set neither /dev/shm nor its sweep is touched.
    *
    * Caveats the gate addresses: tmpfs pages compete with the heap for the
    * same RAM (and /dev/shm is typically capped at 50% of it), so spills
    * that would have succeeded on disk can ENOSPC — hence the free-space
    * check; the dir is per-user + per-pid so concurrent runs on a shared
    * host never collide; and because Spark's shutdown hook only cleans on
    * normal exit, a killed run leaves its scratch pinning RAM — so startup
    * sweeps this user's scratch dirs whose owning pid is no longer alive. */
  private val TmpfsMinFreeBytes = 8L << 30
  private def scratchDir(): String = {
    val user = sys.env.getOrElse("USER", "anon")
    val shm = new java.io.File("/dev/shm")
    val useShm = !sys.env.contains("SPARK_LOCAL_DIRS") &&
      shm.isDirectory && shm.canWrite && shm.getUsableSpace >= TmpfsMinFreeBytes
    if (useShm) {
      sweepDeadScratch(shm, user)
      s"/dev/shm/graft-scratch-$user-${ProcessHandle.current().pid()}"
    } else sys.props.getOrElse("java.io.tmpdir", "/tmp") + s"/graft-scratch-$user"
  }

  /** Best-effort removal of this user's scratch dirs left by crashed runs
    * (their pids no longer alive). Never touches other users' dirs. */
  private def sweepDeadScratch(shm: java.io.File, user: String): Unit = {
    val pat = s"graft-scratch-$user-(\\d+)".r
    Option(shm.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case pat(pid) if !ProcessHandle.of(pid.toLong)
            .map[Boolean](_.isAlive).orElse(false) =>
          try deleteRecursively(f) catch { case _: Exception => () }
        case _ => ()
      }
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  def build(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesces DOWN from initialPartitionNum but never splits UP
      // from it: with the default (= shuffle.partitions = cores) a
      // fact-scale intermediate — e.g. the setsim verify join's
      // pairs-with-shingle-arrays shuffle — is stuck at `cpus` oversized
      // sort partitions and spills (measured: the x64 scale probe's setsim
      // segment ran 2.5x over linear purely from this). 8x cores gives big
      // intermediates room while AQE coalesces small ones back to a
      // handful — the same asymmetry a real cluster configures.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      // The generated-code cache defaults to 100 entries; a corpus of ~60
      // queries compiles several hundred codegen units, so consecutive runs
      // of the same query would otherwise re-run janino on every unit.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // ContextCleaner only reclaims dropped broadcast/shuffle/RDD state
      // when a JVM GC runs; with a pre-touched heap sized well above the
      // working set, GCs can be minutes apart, so a long sweep accumulates
      // every prior query's shuffle files and broadcast blocks (measured as
      // a creeping ~2x per-query slowdown across a 128-query run). The
      // periodic driver GC is Spark's own knob for exactly this.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // the SQL status store retains 1000 executions by default — pure
      // driver-heap ballast with the UI disabled
      .config("spark.sql.ui.retainedExecutions", "50")
      // SQL names for the custom expression library (GraftExtensions)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS): read as raw long (see Tables)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed (bucketed) tables land outside the repo
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      // Shuffle/spill scratch on the fastest local storage available: a
      // cluster provisions NVMe for exactly this (and SPARK_LOCAL_DIRS,
      // which takes precedence, is how it says so); a local run should not
      // bottleneck ephemeral shuffle blocks on a throttled root disk.
      .config("spark.local.dir", scratchDir())
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerAggregators(s)
    s
  }

  /** SQL names for the typed sketch AGGREGATORS — `injectFunction` covers
    * scalar expressions ([[GraftExtensions]]), but udafs register on the
    * session. Idempotent; `getOrCreate` may return an existing session. */
  private def registerAggregators(s: SparkSession): Unit = {
    import org.apache.spark.sql.functions.udaf
    import graft.functions.{Hll, TDigest}
    s.udf.register("tdigest_agg",
      udaf(new TDigest.TDigestAgg(TDigest.DefaultDelta)))
    s.udf.register("tdigest_merge_agg",
      udaf(new TDigest.TDigestMergeAgg(TDigest.DefaultDelta),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()))
    s.udf.register("hll_distinct_agg", udaf(new Hll.HllDistinct))
  }
}
