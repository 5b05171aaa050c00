package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `query_session`: a fixed list of the program's analytics queries over the
  * fixture tables, once cold and then warm, each forced with
  * `queryExecution.toRdd.count()` and its row count checked. */
object QuerySession {
  final case class Spec(fixture: String, queries: Seq[(String, Long)])

  def load(file: java.io.File): Spec = {
    val root = new ObjectMapper().readTree(file)
    Spec(root.get("fixture").asText(),
      root.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.get("rows").asLong).toSeq.sortBy(_._1))
  }

  /** Untimed warm passes after the cold one: the JIT keeps speeding warm
    * passes up for about six passes, so a run that timed them from the first
    * would report a median that depends on how many passes fit. */
  val WarmupPasses = 3
  val MinWarmPasses = 3

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Per-query walls and counters of one pass over the list. */
  final case class Pass(walls: Seq[Double], construct: Double, plan: Double, exec: Double,
                        constructJobs: Long, shuffleBytes: Long, spillBytes: Long,
                        memoHits: Long, memoMisses: Long) {
    def total: Double = walls.sum
  }

  def pass(ctx: Ctx, spec: Spec, dir: String, label: String): Pass = {
    val spark = ctx.spark
    val all = graft.SparkEntry.queries
    val tr = ctx.tracer
    val walls = ArrayBuffer.empty[Double]
    var construct, plan, exec = 0.0
    var jobs, shuffle, spill = 0L
    val (h0, m0) = graft.PerfbenchMemo.lookups
    spec.queries.foreach { case (name, expected) =>
      val t0 = System.nanoTime()
      try {
        val rows = if (!ctx.traced) all(name)(spark, dir).queryExecution.toRdd.count()
        else tr.span("query") {
          val c0 = ctx.probe.read()
          val (df, cs) = Clock.time(tr.span("queries.construct")(all(name)(spark, dir)))
          val c1 = ctx.probe.read()
          val (_, ps) = Clock.time(tr.span("queries.plan")(df.queryExecution.executedPlan))
          val (n, es) = Clock.time(tr.span("queries.exec")(df.queryExecution.toRdd.count()))
          val c2 = ctx.probe.read()
          construct += cs; plan += ps; exec += es
          jobs += (c1 - c0).jobs
          shuffle += (c2 - c1).shuffleWriteBytes
          spill += (c2 - c1).spillBytes
          n
        }
        ctx.report.check(s"$label $name rows", ctx.expect(name, expected), rows)
      } catch {
        case e: Exception => ctx.report.fail(s"$label $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      walls += (System.nanoTime() - t0) / 1e9
    }
    val (h1, m1) = graft.PerfbenchMemo.lookups
    Pass(walls.toSeq, construct, plan, exec, jobs, shuffle, spill, h1 - h0, m1 - m0)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val (spec, loadS) = Clock.time(load(new java.io.File(ctx.benchDir, "query_session.json")))
    val build = ctx.buildSession()
    val dir = new java.io.File(ctx.benchDir, spec.fixture).getPath
    require(Tables.forall(t => new java.io.File(dir, s"$t.parquet").isFile), s"fixture missing under $dir")

    // the cold pass and the untimed warm-up passes count in set-up; then
    // timed warm passes, at least MinWarmPasses, until `seconds` have passed
    val cold = pass(ctx, spec, dir, "cold")
    val warmups = (1 to WarmupPasses).map(i => pass(ctx, spec, dir, s"warmup$i"))
    val c0 = ctx.probe.read()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val warm = ArrayBuffer.empty[Pass]
    while (warm.size < MinWarmPasses || System.nanoTime() < deadline)
      warm += pass(ctx, spec, dir, s"warm${warm.size}")
    val c = ctx.probe.read() - c0
    val heap = Probe.heapLiveMb()

    // per query: the median of its warm walls
    val perQuery = spec.queries.indices.map(i => Stats.median(warm.map(_.walls(i)).toSeq))
    val warmTotal = Stats.median(warm.map(_.total).toSeq)
    r.e2e("setup_s", build + loadS + cold.total + warmups.map(_.total).sum, "s")
    r.e2e("work_rate", spec.queries.size / warmTotal, "1/s")
    r.e2e("op_p50_ms", Stats.median(perQuery) * 1000, "ms")
    r.e2e("heap_live_mb", heap, "MB")
    r.note(f"queries: ${spec.queries.size}; cold total ${cold.total}%.3f s; " +
      f"${warm.size} warm passes, median total $warmTotal%.3f s; " +
      s"totals s = ${warm.map(p => f"${p.total}%.3f").mkString(" ")}")
    Stats.tail(perQuery).foreach { case (p, v) =>
      r.note(f"warm per-query p${p / 10.0}%.1f ${v * 1000}%.1f ms over ${perQuery.size} queries")
    }
    spec.queries.map(_._1).zip(cold.walls.zip(perQuery)).foreach { case (n, (c, w)) =>
      r.note(f"query $n cold ${c * 1000}%.1f ms warm ${w * 1000}%.1f ms")
    }
    Main.sparkLayers(r, c)

    if (ctx.traced) {
      val last = warm.last
      r.layer("trace.cold_pass_s", cold.total, "s")
      r.layer("queries.cold_construct_s", cold.construct, "s")
      r.layer("queries.cold_plan_s", cold.plan, "s")
      r.layer("queries.cold_exec_s", cold.exec, "s")
      r.layer("queries.construct_s", last.construct, "s")
      r.layer("queries.plan_s", last.plan, "s")
      r.layer("queries.exec_s", last.exec, "s")
      r.layer("queries.construct_jobs", cold.constructJobs.toDouble, "count")
      r.layer("queries.shuffle_mb", last.shuffleBytes / 1048576.0, "MB")
      r.layer("queries.spill_mb", last.spillBytes / 1048576.0, "MB")
      r.layer("memo.hits", last.memoHits.toDouble, "count")
      r.layer("memo.misses", last.memoMisses.toDouble, "count")
      r.layer("trace.work_rate", spec.queries.size / warmTotal, "1/s")
      // table resolution, per call, after the session is warm
      val resolve = Tables.flatMap { t =>
        (1 to 3).map(_ => Clock.time(ctx.tracer.span("tables.resolve")(
          graft.Tables.table(ctx.spark, dir, t)))._2 * 1000)
      }
      r.layer("tables.resolve_ms", Stats.median(resolve), "ms")
    }
  }
}
