package perfbench

import graft.dsl.DefaultMapping
import graft.sinks.{AvroFileSink, PubSubSink, TopicSinks}
import graft.sources.{BrowserSource, JsonSource}
import graft.state.DuplicateMemory
import graft.topology.{MappingSpec, SinkSpec, Topology}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A Pub/Sub transport that only counts: every message succeeds. */
object CountingPubSub {
  val Name = "perfbench-count"
  val messages = new AtomicLong
  val bytes = new AtomicLong
  PubSubSink.register(Name, () => new PubSubSink.Transport {
    def send(topic: String, batch: Seq[PubSubSink.Message]): Seq[graft.sinks.KafkaSink.SendOutcome] = {
      messages.addAndGet(batch.size)
      bytes.addAndGet(batch.iterator.map(_.data.length.toLong).sum)
      batch.map(_ => graft.sinks.KafkaSink.Completed)
    }
  })
  def reset(): Unit = { messages.set(0); bytes.set(0) }
}

/** `ingest_batch`: the whole batch spine over staged browser and JSON events.
  * decode → transport size check → duplicate flag → default mapping →
  * topology (all / purchases) → Avro files, Kafka frames, Pub/Sub frames.
  * [[WarmupPasses]] untimed warm-up passes first, then at least
  * [[MinPasses]] timed ones ([[TracedPasses]] in a traced run). */
object IngestBatch {
  val Events = 80000
  val WarmupPasses = 2
  val MinPasses = 3
  val TracedPasses = 2
  /** Slices of the input the two single-thread diagnostic passes run over. */
  val Local1Slices = (2000, 20000)

  val topology = new Topology(
    Seq(MappingSpec("all", Seq("events"), identity, "DefaultEventRecord"),
      MappingSpec("purchases", Seq("events"), _.filter(col("eventType") === "purchase"),
        "DefaultEventRecord")),
    Seq(SinkSpec("files", Seq("all", "purchases")), SinkSpec("kafka", Seq("all")),
      SinkSpec("pubsub", Seq("purchases"))))

  final case class Staged(browser: DataFrame, json: DataFrame, truth: Truth)

  def stage(spark: SparkSession, w: Workload, parts: Int): Staged = {
    import spark.implicits._
    val b = w.browser.toDF().repartition(parts).cache()
    val j = w.json.toDF().repartition(parts).cache()
    b.count(); j.count()
    Staged(b, j, w.truth)
  }

  def unstage(s: Staged): Unit = { s.browser.unpersist(true); s.json.unpersist(true) }

  /** Sink-side outcome of one pass. */
  final case class Out(avroRecords: Long, avroFiles: Int, avroBytes: Long, kafkaFrames: Long,
                       kafkaBytes: Long, pubsubMessages: Long, corrupt: Long, dups: Long,
                       oversize: Long)

  private def filesIn(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".avro"))

  /** One pass. Untraced, the layers compose lazily and the sinks pull the
    * whole plan; traced, each layer's output is cached and counted before
    * the next layer is called, inside a span named after the layer. */
  def pass(ctx: Ctx, in: Staged, tag: String, traced: Boolean): (Out, Double) = {
    val spark = ctx.spark
    val tr = if (traced) ctx.tracer else new Tracer(ctx.tracer.runId, enabled = false)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stageOut(df: DataFrame): DataFrame =
      if (!traced) df else { val c = df.cache(); c.count(); held += c; c }
    val dir = ctx.dir(s"avro-$tag")
    CountingPubSub.reset()
    var shuffleBytes = 0L

    val t0 = System.nanoTime()
    val (mapped, kafka) = tr.span("pass") {
      val b = tr.span("sources.browser_decode") {
        stageOut(BrowserSource.decode(in.browser, "qs").drop("qs"))
      }
      val j = tr.span("sources.json_decode") {
        stageOut(JsonSource.decode(in.json, "body", "partyId").drop("body"))
      }
      val flagged = tr.span("state.dupflag") {
        val before = if (traced) ctx.probe.read() else null
        // the transport rejects oversize bodies before any processing
        val accepted = j.filter(!col("bodyOversized")).drop("bodyOversized")
        val f = stageOut(DuplicateMemory.flagDuplicates(
          b.unionByName(accepted, allowMissingColumns = true),
          Seq("partyId", "sessionId", "eventId"), "partyId", "requestTimestamp"))
        if (traced) shuffleBytes = (ctx.probe.read() - before).shuffleWriteBytes
        f
      }
      val mapped = tr.span("dsl.map") { stageOut(DefaultMapping(flagged)) }
      val routed = tr.span("topology.route") {
        topology(Map("events" -> mapped)).map { case (k, v) => k -> stageOut(v) }
      }
      tr.span("sinks.avro_write") {
        AvroFileSink.write(routed("files"), dir, tag = tag, stamp = Some(tag))
      }
      val kafka = tr.span("sinks.kafka_frame") {
        TopicSinks.kafkaFrameConfluent(routed("kafka"), "partyId", 42)
          .agg(count(lit(1)), sum(octet_length(col("value")) + octet_length(col("key"))))
          .collect()(0)
      }
      tr.span("sinks.pubsub_publish") {
        PubSubSink.publishBatch(
          TopicSinks.pubsubFrame(routed("pubsub"), "partyId", "pageViewId", "timestamp"),
          "perfbench", CountingPubSub.Name)
      }
      if (traced) ctx.report.layer("topology.routed_rows",
        routed.values.map(_.count()).sum.toDouble, "count")
      (mapped, kafka)
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // Checks, outside the timed pass. The topology cached `mapped`.
    val ledger = mapped.agg(count(lit(1)),
      sum(when(col("detectedCorruption"), 1).otherwise(0)),
      sum(when(col("detectedDuplicate"), 1).otherwise(0))).collect()(0)
    val files = filesIn(dir)
    val records = AvroFileSink.readBack(spark, dir).map(_._2).sum
    val out = Out(records, files.size, files.map(_.length).sum, kafka.getLong(0),
      Option(kafka.get(1)).map(_.toString.toLong).getOrElse(0L), CountingPubSub.messages.get,
      // every staged event reaches the mapping except the rejected oversize ones
      ledger.getLong(1), ledger.getLong(2), in.truth.events - ledger.getLong(0))
    mapped.unpersist(true)
    held.foreach(_.unpersist(true))
    files.foreach(_.delete())
    if (traced) ctx.report.layer("state.shuffle_write_mb", shuffleBytes / 1048576.0, "MB")
    (out, wall)
  }

  def verify(ctx: Ctx, t: Truth, o: Out): Unit = {
    val r = ctx.report
    r.deliveries("avro records read back", ctx.expect("avro", t.routed + t.purchases), o.avroRecords)
    r.deliveries("kafka frames", ctx.expect("kafka", t.routed), o.kafkaFrames)
    r.deliveries("pubsub messages", ctx.expect("pubsub", t.purchases), o.pubsubMessages)
    r.check("corrupt events flagged", ctx.expect("corrupt", t.corrupt), o.corrupt)
    r.check("duplicates flagged", ctx.expect("duplicate", t.duplicates), o.dups)
    r.check("oversize bodies rejected", ctx.expect("oversize", t.oversize), o.oversize)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val build = ctx.buildSession()
    val parts = ctx.cores * 2
    // set-up: generate the input three times (the median counts), then
    // stage it into the session's cache
    val gens = (1 to 3).map(_ => Clock.time(Gen.generate(ctx.seed, Gen.Shape(Events))))
    val work = gens.last._1
    val (staged, stageS) = Clock.time(stage(ctx.spark, work, parts))
    val t = work.truth
    val warmups = (1 to WarmupPasses).map { i =>
      val (o, wall) = pass(ctx, staged, s"warmup$i", traced = false)
      verify(ctx, t, o)
      (o, wall)
    }
    val (warm, warmWall) = warmups.head
    val genS = Stats.median(gens.map(_._2))
    val setup = build + genS + stageS + warmups.map(_._2).sum
    r.note(f"setup: session $build%.2f s, generation ${gens.map(g => f"${g._2}%.2f").mkString(" ")} s, " +
      f"staging $stageS%.2f s, warm-up passes ${warmups.map(w => f"${w._2}%.2f").mkString(" ")} s")
    r.note(s"input: ${t.browser} browser + ${t.json} json events; planted corrupt=${t.corrupt} " +
      s"duplicates=${t.duplicates} oversize=${t.oversize} purchases=${t.purchases}")

    val c0 = ctx.probe.read()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last = warm
    var k = 0
    val minPasses = if (ctx.traced) TracedPasses else MinPasses
    while (walls.size < minPasses || (!ctx.traced && System.nanoTime() < deadline)) {
      val (o, wall) = pass(ctx, staged, s"p$k", ctx.traced)
      walls += wall
      verify(ctx, t, o)
      last = o
      k += 1
    }
    val c = ctx.probe.read() - c0
    val heap = Probe.heapLiveMb()
    val rate = t.events / Stats.median(walls.toSeq)
    r.note(s"passes: ${walls.size} timed, walls s = ${walls.map(w => f"$w%.3f").mkString(" ")}")

    r.e2e("setup_s", setup, "s")
    r.e2e("work_rate", rate, "1/s")
    r.e2e("op_p50_ms", Stats.median(walls.toSeq) * 1000, "ms")
    r.e2e("heap_live_mb", heap, "MB")
    Main.sparkLayers(r, c)

    if (ctx.traced) {
      val self = Trace.selfSecondsByName(ctx.tracer.spans)
      def med(n: String) = self.get(n).map(Stats.median).getOrElse(0.0)
      Seq("sources.browser_decode", "sources.json_decode", "state.dupflag", "dsl.map",
        "topology.route", "sinks.avro_write", "sinks.kafka_frame", "sinks.pubsub_publish")
        .foreach(n => r.layer(n + "_s", med(n), "s"))
      r.layer("trace.pass_self_s", med("pass"), "s")
      r.layer("trace.cold_pass_s", warmWall, "s")
      r.layer("trace.work_rate", rate, "1/s")
      r.layer("sources.corrupt_events", last.corrupt.toDouble, "count")
      r.layer("sources.oversize_events", last.oversize.toDouble, "count")
      r.layer("state.dup_flagged", last.dups.toDouble, "count")
      r.layer("state.dup_recall", if (t.duplicates > 0) last.dups.toDouble / t.duplicates else 1.0, "ratio")
      r.layer("sinks.avro_mb", last.avroBytes / 1048576.0, "MB")
      r.layer("sinks.avro_files", last.avroFiles.toDouble, "count")
      r.layer("sinks.kafka_mb", last.kafkaBytes / 1048576.0, "MB")
      r.layer("sinks.pubsub_messages", last.pubsubMessages.toDouble, "count")
      unstage(staged)
      IngestStream.layers(ctx)
      local1(ctx, work)
    }
  }

  /** Single-thread (`local[1]`) passes over a small and a large slice of
    * the same input. The rate between the two is net of the per-pass fixed
    * cost, for comparison with the reference's per-thread rate. */
  private def local1(ctx: Ctx, w: Workload): Unit = {
    ctx.stopSession()
    ctx.buildSession(1)
    def slice(n: Int): (Staged, Int) = {
      val share = n.toDouble / w.truth.events
      val b = w.browser.take((w.browser.size * share).toInt)
      val j = w.json.take((w.json.size * share).toInt)
      (stage(ctx.spark, Workload(b, j, w.truth), 1), b.size + j.size)
    }
    val (small, nSmall) = slice(Local1Slices._1)
    val (large, nLarge) = slice(Local1Slices._2)
    pass(ctx, small, "l1warm", traced = false)
    val (_, s0) = pass(ctx, small, "l1small", traced = false)
    val (_, s1) = pass(ctx, large, "l1large", traced = false)
    val eps = (nLarge - nSmall) / math.max(s1 - s0, 1e-3)
    ctx.report.layer("diag.local1_eps", eps, "1/s")
    ctx.report.note(f"local[1] passes: $nSmall events in $s0%.3f s, $nLarge in $s1%.3f s; " +
      f"$eps%.0f events/s/thread between them (the reference publishes 12-15k per thread)")
    unstage(small)
    unstage(large)
  }
}
