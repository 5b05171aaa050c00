package perfbench

import java.io.File

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --bench-dir <dir> --work-dir <dir>`.
  * Prints each metric by name with its unit, then, as the last line, one
  * JSON object with `correct`, `attempted`, `failed` and `metrics`: the
  * end-to-end metrics untraced, the per-layer metrics traced.
  *
  * One helper mode builds the stored query list:
  * `--dump-oracles <names-file> <out.json>` writes the DuckDB oracle SQL of
  * the named queries. */
object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_batch" -> IngestBatch.run,
    "query_session" -> QuerySession.run)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_rate" -> "1/s", "op_p50_ms" -> "ms", "heap_live_mb" -> "MB")

  /** Every per-layer metric, printed on every traced run. A layer the
    * workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.browser_decode_s" -> "s", "sources.json_decode_s" -> "s",
    "sources.corrupt_events" -> "count", "sources.oversize_events" -> "count",
    "state.dupflag_s" -> "s", "state.dup_flagged" -> "count", "state.dup_recall" -> "ratio",
    "state.shuffle_write_mb" -> "MB", "dsl.map_s" -> "s",
    "topology.route_s" -> "s", "topology.routed_rows" -> "count",
    "sinks.avro_write_s" -> "s", "sinks.avro_mb" -> "MB", "sinks.avro_files" -> "count",
    "sinks.kafka_frame_s" -> "s", "sinks.kafka_mb" -> "MB",
    "sinks.pubsub_publish_s" -> "s", "sinks.pubsub_messages" -> "count",
    "diag.local1_eps" -> "1/s",
    "streaming.batch_p50_ms" -> "ms", "streaming.eps" -> "1/s", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.offset_commit_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "tables.resolve_ms" -> "ms",
    "queries.construct_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.cold_construct_s" -> "s", "queries.cold_plan_s" -> "s", "queries.cold_exec_s" -> "s",
    "queries.construct_jobs" -> "count", "queries.shuffle_mb" -> "MB", "queries.spill_mb" -> "MB",
    "memo.hits" -> "count", "memo.misses" -> "count",
    "spark.tasks" -> "count", "spark.task_cpu_frac" -> "ratio",
    "spark.shuffle_fetch_wait_ms" -> "ms", "spark.gc_ms" -> "ms",
    "trace.pass_self_s" -> "s", "trace.work_rate" -> "1/s", "trace.cold_pass_s" -> "s",
    "failed_frac" -> "ratio")

  /** Spark-wide counters over a workload's timed phase. */
  def sparkLayers(r: Report, c: Counters): Unit = {
    r.layer("spark.tasks", c.tasks.toDouble, "count")
    r.layer("spark.task_cpu_frac", c.taskCpuFrac, "ratio")
    r.layer("spark.shuffle_fetch_wait_ms", c.fetchWaitMs.toDouble, "ms")
    r.layer("spark.gc_ms", c.gcMs.toDouble, "ms")
  }

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    arg(args, "--dump-oracles").foreach { namesFile =>
      val names = scala.io.Source.fromFile(namesFile).getLines().map(_.trim).filter(_.nonEmpty).toSeq
      val oracles = graft.SparkEntry.oracleSql
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val out = m.createObjectNode()
      names.foreach(n => oracles.get(n).foreach(sql => out.put(n, sql)))
      m.writerWithDefaultPrettyPrinter().writeValue(new File(args(args.indexOf("--dump-oracles") + 2)), out)
      sys.exit(0)
    }

    val workload = arg(args, "--workload").getOrElse("")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val benchDir = new File(arg(args, "--bench-dir").getOrElse("perfbench"))
    val workDir = new File(arg(args, "--work-dir").getOrElse(".bench_build/work"))
    val runId = s"$workload-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis()}"
    val cores = Runtime.getRuntime.availableProcessors()
    val report = new Report
    val tracer = new Tracer(runId, traced)
    val ctx = new Ctx(seed, seconds, traced, cores, workDir, benchDir,
      arg(args, "--break-check"), report, tracer)

    val load0 = Probe.loadAvg()
    val cpu0 = Probe.processCpuNs()
    val steal0 = Probe.stealTicks()
    val t0 = System.nanoTime()
    val outcome =
      try { run(ctx); None }
      catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Probe.processCpuNs() - cpu0) / 1e9
    val steal1 = Probe.stealTicks()
    val stealPct = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    ctx.stopSession()
    outcome.foreach { e =>
      System.err.println(s"perfbench: $workload failed: $e")
      e.printStackTrace()
      sys.exit(1)
    }

    report.layer("failed_frac", report.failedFrac, "ratio")
    report.note(f"host: cores=$cores loadavg start=[$load0] end=[${Probe.loadAvg()}] " +
      f"process cpu=$cpu%.1f s over $wall%.1f s wall (${cpu / wall / cores * 100}%.0f%% of the cores), " +
      f"cpu steal $stealPct%.1f%%")
    report.note(s"checks: attempted=${report.attempted} failed=${report.failed} " +
      s"failed_frac=${report.failedFrac}")
    report.failures.take(20).foreach(f => report.note(s"FAILED $f"))
    if (traced) tracer.writeTo(new File(workDir, s"spans-$runId.jsonl"))

    val chosen = if (traced) PerLayer else EndToEnd
    val table = if (traced) report.perLayer else report.endToEnd
    val metrics = chosen.map { case (n, unit) => n -> (table.get(n).map(_._1).getOrElse(0.0), unit) }
    report.notes.foreach(n => println(s"# $n"))
    metrics.foreach { case (n, (v, u)) => println(s"$n $v $u") }
    println(report.json(metrics))
    System.out.flush()
    sys.exit(0)
  }
}
