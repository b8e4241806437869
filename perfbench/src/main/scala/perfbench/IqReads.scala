package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kafka.{MiniBroker, MiniKafkaClient, Wire}
import graft.kafka.Wire.WireRecord
import graft.state.{StateHttpServer, StateQueries}
import graft.streaming.WindowedStreams

/** `iq_reads`: the reference's Interactive Queries face, closed loop with
  * one HTTP client.
  *
  * A WordCount-style `counts-store` and a 10 s windowed-count
  * `window-store` are built over the wire across [[Chunks]] micro-batches,
  * so a read reconstructs state from a snapshot plus deltas. The
  * generator process then sends a fixed mix of point lookups (Zipf keys,
  * a tenth absent), key ranges and windowed fetches to `StateHttpServer`,
  * one request at a time. */
object IqReads extends Workload {

  val Chunks = 6
  val PerChunk = 1000

  def countsView(spark: SparkSession, ckpt: String): () => DataFrame = () =>
    StateQueries.flattened(spark, ckpt)
      .select(col("key_key").as("key"), col("value_count").as("count"))

  def windowView(spark: SparkSession, ckpt: String): () => DataFrame = () =>
    StateQueries.flattened(spark, ckpt)
      .select(col("key_key").as("key"), col("key_window.start").cast("long").as("win_start"),
        col("value_count").as("cnt"))

  /** Build both stores; returns their checkpoints and the expected counts. */
  private def build(ctx: Ctx, broker: MiniBroker)
      : (String, String, Map[String, Long], Map[(String, Long), Long]) = {
    val src = Streams.source(ctx, broker, "words").toDF()
      .withColumn("ts", timestamp_millis(col("ts")))
    val (ck1, ck2) = (ctx.freshDir("counts"), ctx.freshDir("windows"))
    val counts = Streams.sink(ctx,
      src.groupBy(col("key")).count()
        .select(col("key"), col("count").cast("string").as("value")),
      broker, "counts-out", "none", ck1, mode = "update")
    val windows = Streams.sink(ctx,
      WindowedStreams.tumblingCounts(src, "ts", s"${Data.IqWindowSec} seconds", "1 hour", col("key"))
        .select(col("key"), concat_ws(":", col("window.start").cast("long"), col("count")).as("value")),
      broker, "windows-out", "none", ck2, mode = "update")
    val client = new MiniKafkaClient("localhost", broker.port)
    val words = (0 until Chunks).map(c => Data.iqWords(ctx.args.seed, c, PerChunk))
    try words.foreach { chunk =>
      chunk.groupBy { case (w, _) => Wire.partitionFor(w.getBytes(UTF_8), broker.numPartitions) }
        .toSeq.sortBy(_._1).foreach { case (p, ws) =>
          client.produce("words", p, ws.map { case (w, ts) =>
            WireRecord(0L, ts, w.getBytes(UTF_8), w.getBytes(UTF_8)) }, 0)
        }
      counts.processAllAvailable()
      windows.processAllAvailable()
    } finally client.close()
    counts.stop(); windows.stop()
    val all = words.flatten
    val wc = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val win = all.groupBy { case (w, ts) =>
      (w, ts / 1000 / Data.IqWindowSec * Data.IqWindowSec) }.view.mapValues(_.size.toLong).toMap
    (ck1, ck2, wc, win)
  }

  private def server(spark: SparkSession, ck1: String, ck2: String): StateHttpServer =
    new StateHttpServer(spark)
      .registerView("counts-store", countsView(spark, ck1), "key")
      .registerView("window-store", windowView(spark, ck2), "key", Some("win_start"))

  private val mapper = new ObjectMapper()

  /** A JSON array of flat objects as field maps. */
  def rows(body: String): Seq[Map[String, String]] =
    mapper.readTree(body).elements().asScala.map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.toSeq

  def run(ctx: Ctx): Outcome = {
    val broker = new MiniBroker(numPartitions = 2)
    try measure(ctx, broker) finally broker.close()
  }

  private def measure(ctx: Ctx, broker: MiniBroker): Outcome = {
    val spark = ctx.spark
    val b0 = System.nanoTime()
    val (ck1, ck2, counts, windows) = build(ctx, broker)
    val buildS = (System.nanoTime() - b0) / 1e9
    val hot = counts.maxBy(_._2)._1
    // set-up: start a server and answer its first lookup
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val srv = server(spark, ck1, ck2)
      val port = srv.start()
      val (code, _) = Gen.get(port, s"/state/keyvalue/counts-store/$hot")
      require(code == 200, s"first lookup answered $code")
      (srv, port, (System.nanoTime() - t0) / 1e9)
    }
    setups.init.foreach(_._1.stop())
    val (srv, port, _) = setups.last

    ctx.probes.reset()
    val results = ctx.args.work.resolve("iq-gen.tsv")
    val w0 = System.nanoTime()
    val gen = new GenProcess(Seq("iq", port.toString, ctx.args.seed.toString,
      (ctx.args.seconds * 1000L).toString, Chunks.toString, results.toString,
      if (ctx.args.trace) "1" else "0"))
    try gen.finish() finally gen.close()
    val wallMs = (System.nanoTime() - w0) / 1e6
    ctx.probes.drain()
    val jobs = ctx.probes.exec.jobCount
    val tasks = ctx.probes.exec.taskCount
    val scanned = ctx.probes.exec.inputRecords
    val layerCommon = ctx.probes.layerMetrics(wallMs, ctx.cores)

    val g = new GenResults(results)
    g.spans.foreach(ctx.tracer.add)
    final case class Answer(kind: String, ms: Double, ok: Boolean, rows: Int, path: String)
    val answers = g.rows("R").map { r =>
      val rs = if (r(2) == "200") rows(r(5)) else Nil
      Answer(r(1), r(3).toDouble / 1e6,
        Checks.iqAnswerOk(r(4), r(2).toInt, rs, counts, windows), rs.size, r(4))
    }
    require(answers.nonEmpty, "no IQ request completed")
    val verdict = Verdict(answers.size, answers.count(!_.ok),
      answers.filterNot(_.ok).take(3).map(a => s"wrong answer to ${a.path}"))
    def lat(kind: String) = answers.filter(_.kind == kind).map(_.ms)
    val point = lat("point")
    val (tailPct, tail) = Stats.tail(point)

    // the same point lookups through StateQueries directly, no HTTP
    val direct = answers.filter(_.kind == "point").take(20).map { a =>
      val key = a.path.split("/").last
      val t0 = System.nanoTime()
      ctx.tracer.span("point", "iq.read") { _ =>
        StateQueries.point(countsView(spark, ck1)(), col("key") === key).collect()
      }
      (System.nanoTime() - t0) / 1e6
    }
    srv.stop()

    val returned = answers.map(_.rows).sum
    val named = Seq(
      Metric("iq_point_p50_ms", Stats.median(point), "ms"),
      Metric("iq_point_tail_ms", tail, "ms"),
      Metric("iq_point_tail_pct", tailPct, "pct"),
      Metric("iq_point_samples", point.size, "count"),
      Metric("iq_range_p50_ms", Stats.median(lat("range")), "ms"),
      Metric("iq_window_p50_ms", Stats.median(lat("window")), "ms"),
      Metric("iq_requests_per_s", answers.size / (wallMs / 1000), "1/s"),
      Metric("iq_build_s", buildS, "s"))
    val httpMs = Stats.median(point)
    val readMs = Stats.median(direct)
    val layer = Seq(
      Metric("iq.http_ms", httpMs, "ms"),
      Metric("iq.read_ms", readMs, "ms"),
      Metric("iq.http_self_ms", httpMs - readMs, "ms"),
      Metric("iq.jobs_per_request", jobs.toDouble / answers.size, "count"),
      Metric("iq.tasks_per_request", tasks.toDouble / answers.size, "count"),
      Metric("iq.rows_scanned_per_returned", scanned.toDouble / math.max(1, returned), "ratio"),
      Metric("state.checkpoint_files", Streams.checkpointFiles(ck1) + Streams.checkpointFiles(ck2), "count")) ++
      layerCommon ++ ctx.traceMetrics(wallMs, g.metrics("trace_overhead_ns"))
    Outcome(verdict, Stats.median(setups.map(_._3)), httpMs, tail,
      answers.size / (wallMs / 1000), named, layer)
  }
}
