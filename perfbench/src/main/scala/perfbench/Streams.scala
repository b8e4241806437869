package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.kafka.MiniBroker
import graft.streaming.{KafkaEdges, Rec}

/** Shared plumbing of the streaming workloads: the `graft-kafka` edges,
  * and the stream and state metrics read from query progress. */
object Streams {

  def source(ctx: Ctx, broker: MiniBroker, topic: String,
             maxOffsetsPerTrigger: Option[Long] = None): Dataset[Rec] = {
    val r = ctx.spark.readStream.format("graft-kafka")
      .option("kafka.bootstrap.servers", broker.bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
    KafkaEdges.project(maxOffsetsPerTrigger.fold(r)(n =>
      r.option("maxOffsetsPerTrigger", n.toString)).load())
  }

  /** Start `kv` (string columns `key`, `value`) into a `graft-kafka` topic;
    * with no `trigger` each batch starts as soon as the last one ends. */
  def sink(ctx: Ctx, kv: DataFrame, broker: MiniBroker, topic: String,
           compression: String, checkpoint: String,
           mode: String = "append", trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = ctx.spark
    import spark.implicits._
    val recs = kv.select(col("key"), col("value"), lit(0L).as("ts"), lit(0L).as("seq")).as[Rec]
    val w = KafkaEdges.sink(recs, broker.bootstrapServers, topic, checkpoint,
        format = "graft-kafka")
      .option("compression", compression)
      .outputMode(mode)
    trigger.fold(w)(w.trigger).start()
  }

  def logEnds(broker: MiniBroker, topic: String): Seq[Long] =
    (0 until broker.numPartitions).map(p => broker.logEnd(topic, p))

  /** Block until `topic` holds at least `n` records. */
  def awaitRecords(broker: MiniBroker, topic: String, n: Long, q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (logEnds(broker, topic).sum < n) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"$topic never reached $n records")
      Thread.sleep(2)
    }
  }

  /** Block until `q` has finished its first batch, so stopping it does not
    * abort a batch mid-commit. */
  def awaitProgress(q: StreamingQuery): Unit =
    while (q.lastProgress == null) {
      q.exception.foreach(e => throw e)
      Thread.sleep(2)
    }

  private val OffsetEntry = """"(\d+)"\s*:\s*(\d+)""".r
  /** Total offset over all partitions of a source offset JSON. */
  def offsetSum(json: String): Long =
    if (json == null) 0L else OffsetEntry.findAllMatchIn(json).map(_.group(2).toLong).sum

  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** `stream.*` and `state.*` metrics over `ps`, the progress of one
    * query during a window of `wallMs`. */
  def metrics(ps: Seq[StreamingQueryProgress], wallMs: Double, checkpoint: String): Seq[Metric] = {
    def med(f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    val withData = ps.filter(_.numInputRows > 0)
    val ops = (p: StreamingQueryProgress) => p.stateOperators.toSeq
    Seq(
      Metric("stream.batches", ps.size, "count"),
      Metric("stream.trigger_ms", med(d(_, "triggerExecution")), "ms"),
      Metric("stream.latest_offset_ms", med(d(_, "latestOffset")), "ms"),
      Metric("stream.planning_ms", med(d(_, "queryPlanning")), "ms"),
      Metric("stream.wal_commit_ms", med(d(_, "walCommit")), "ms"),
      Metric("stream.commit_offsets_ms", med(d(_, "commitOffsets")), "ms"),
      Metric("stream.add_batch_ms", med(d(_, "addBatch")), "ms"),
      Metric("stream.rows_per_batch",
        if (withData.isEmpty) 0.0 else withData.map(_.numInputRows).sum.toDouble / withData.size, "rows"),
      Metric("stream.empty_batch_share",
        if (ps.isEmpty) 0.0 else (ps.size - withData.size).toDouble / ps.size, "share"),
      Metric("stream.idle_share",
        math.max(0.0, 1.0 - ps.map(d(_, "triggerExecution")).sum / math.max(1.0, wallMs)), "share"),
      Metric("state.commit_ms", med(p => ops(p).map(_.commitTimeMs.toDouble).sum), "ms"),
      Metric("state.update_ms", ps.map(p => ops(p).map(_.allUpdatesTimeMs.toDouble).sum).sum, "ms"),
      Metric("state.removal_ms", ps.map(p => ops(p).map(_.allRemovalsTimeMs.toDouble).sum).sum, "ms"),
      Metric("state.rows_total", ps.lastOption.map(p => ops(p).map(_.numRowsTotal.toDouble).sum).getOrElse(0.0), "rows"),
      Metric("state.memory_bytes", if (ps.isEmpty) 0.0 else ps.map(p => ops(p).map(_.memoryUsedBytes.toDouble).sum).max, "bytes"),
      Metric("state.rows_dropped_late", ps.map(p => ops(p).map(_.numRowsDroppedByWatermark.toDouble).sum).sum, "rows"),
      Metric("state.checkpoint_files", checkpointFiles(checkpoint), "count"))
  }

  /** Spans for each micro-batch, with its `durationMs` phases as children
    * laid end to end in the order the engine runs them. */
  def batchSpans(tracer: Tracer, ps: Seq[StreamingQueryProgress], parent: Long = 0L): Unit =
    if (tracer.enabled) ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val total = (d(p, "triggerExecution") * 1e6).toLong
      val id = tracer.newId()
      tracer.add(Span(id, parent, id, s"batch ${p.batchId}", "stream.batch", start, start + total))
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          val ns = (d(p, ph) * 1e6).toLong
          if (ns > 0) {
            tracer.add(Span(tracer.newId(), id, id, ph, s"stream.$ph", at, at + ns))
            at += ns
          }
        }
    }

  def checkpointFiles(dir: String): Double = {
    val state = Paths.get(dir, "state")
    if (!Files.exists(state)) 0.0
    else {
      val s = Files.walk(state)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toDouble finally s.close()
    }
  }
}
