package perfbench

import graft.dsl.DefaultMapping
import graft.sinks.AvroFileSink
import graft.sources.BrowserSource
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer

/** The streaming layer, measured inside the traced `ingest_batch` run: a
  * closed loop with one client that adds one micro-batch of browser events
  * to a memory stream and waits until the query has committed it:
  * decode → default mapping → streaming duplicate flag (slot-keyed state)
  * → `AvroFileSink.writeStreamTo`. The sink pulls the whole micro-batch
  * plan inside its call, so the sink's share is the batch's `addBatch`
  * duration; no layer's output is materialized before the next. */
object IngestStream {
  val BatchEvents = 1000
  val WarmupBatches = 5
  /** Timed batches: at least this many; replays make the last one partial. */
  val TimedBatches = 15

  private final class Progress extends StreamingQueryListener {
    val all = ArrayBuffer.empty[StreamingQueryProgress]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { all += e.progress; () }
    def snapshot: Seq[StreamingQueryProgress] = synchronized(all.toSeq)
  }

  def layers(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    import spark.implicits._

    val batches = Gen.generate(ctx.seed,
      Gen.Shape(BatchEvents * (WarmupBatches + TimedBatches), jsonShare = 0.0))
      .browser.grouped(BatchEvents).toIndexedSeq
    val progress = new Progress
    spark.streams.addListener(progress)

    val input = MemoryStream[BrowserRow](spark)
    val mapped = DefaultMapping(BrowserSource.decode(input.toDF(), "qs").drop("qs"))
    val keyed = mapped.select(col("partyId"), col("sessionId"), col("pageViewId"), col("timestamp"))
      .as[(String, String, String, Long)]
    val flagged = Streams.flagDuplicatesStream(keyed)
      .toDF("partyId", "sessionId", "eventId", "ts", "duplicate")
    val sinkDir = ctx.dir("stream-avro")
    val query = AvroFileSink.writeStreamTo(flagged, sinkDir, ctx.dir("stream-ckpt"))

    val lat = ArrayBuffer.empty[Double]
    var p0 = 0
    var timedS = 0.0
    var timedEvents = 0L
    try batches.indices.foreach { k =>
      if (k == WarmupBatches) p0 = progress.snapshot.size
      val t0 = System.nanoTime()
      ctx.tracer.span("streaming.batch") {
        input.addData(batches(k))
        query.processAllAvailable()
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (k >= WarmupBatches) { lat += s * 1000; timedS += s; timedEvents += batches(k).size }
      r.ok()
    } catch { case e: Exception => r.fail(s"micro-batch ${lat.size}: ${e.getMessage}") }
    query.stop()
    spark.streams.removeListener(progress)
    val prog = progress.snapshot.drop(p0).filter(_.numInputRows > 0)

    val added = batches.take(WarmupBatches + lat.size).map(_.size.toLong).sum
    val sunk = AvroFileSink.readBack(spark, sinkDir).map(_._2).sum
    r.deliveries("stream rows sunk", ctx.expect("stream_rows", added), sunk)

    def p50(f: StreamingQueryProgress => Double) =
      if (prog.isEmpty) 0.0 else Stats.median(prog.map(f))
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val lastState = prog.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    r.layer("streaming.batch_p50_ms", if (lat.isEmpty) 0.0 else Stats.median(lat.toSeq), "ms")
    r.layer("streaming.eps", if (timedS > 0) timedEvents / timedS else 0.0, "1/s")
    r.layer("streaming.add_batch_ms_p50", p50(dur(_, "addBatch")), "ms")
    r.layer("streaming.planning_ms_p50", p50(dur(_, "queryPlanning")), "ms")
    r.layer("streaming.offset_commit_ms_p50", p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms")
    r.layer("streaming.state_commit_ms_p50", p50(_.stateOperators.map(_.commitTimeMs.toDouble).sum), "ms")
    r.layer("streaming.state_rows", lastState.map(_.numRowsTotal.toDouble).sum, "count")
    r.layer("streaming.state_mb", lastState.map(_.memoryUsedBytes.toDouble).sum / 1048576.0, "MB")
    r.note(f"stream: ${lat.size} timed micro-batches of $BatchEvents events, " +
      f"p50 ${r.perLayer("streaming.batch_p50_ms")._1}%.1f ms; rows sunk $sunk of $added")
  }
}
