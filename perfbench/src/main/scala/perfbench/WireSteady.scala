package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.kafka.{MiniBroker, MiniKafkaClient, Wire}
import graft.kafka.Wire.WireRecord
import graft.streaming.StreamJoins

/** `wire_steady`: the reference's WindowedJoin under an open loop.
  *
  * The generator process sends two keyed topics at [[Rate]] events/s over
  * one connection (Zipf keys, a tenth of events out of order) while
  * `StreamJoins.bandJoin` (±10 s) runs from a `graft-kafka` source to an
  * uncompressed `graft-kafka` sink. Micro-batches stay small, so their
  * fixed cost dominates. Latency runs from the scheduled send time of the
  * later event of a pair to the pair's append on the output topic. */
object WireSteady extends Workload {

  /** Events per second over both topics: half of 16,000/s, a rate a
    * 4-core box sustained with flat batch times and a source lag of at
    * most one batch. */
  val Rate = 8000
  val WarmMs = 1000L
  val BandMs = 10000L
  val Grace = "5 seconds"
  /** Batches start on a fixed one-second grid, as a deployed stream's
    * trigger interval has them; a batch of this join takes about 0.85 s,
    * so each one's fixed cost stays inside the interval. */
  val TriggerMs = 1000L

  private final case class Pipeline(query: StreamingQuery, left: String, right: String,
                                    out: String, checkpoint: String)

  private def start(ctx: Ctx, broker: MiniBroker, i: Int): Pipeline = {
    val (left, right, out) = (s"left$i", s"right$i", s"out$i")
    def side(topic: String) =
      Streams.source(ctx, broker, topic).toDF().withColumn("ts", timestamp_millis(col("ts")))
    val joined = StreamJoins.bandJoin(side(left), side(right), BandMs / 1000, Grace)
      .select(col("l_key").as("key"), concat_ws(",", col("l_value"), col("r_value")).as("value"))
    val ckpt = ctx.freshDir("steady")
    Pipeline(Streams.sink(ctx, joined, broker, out, "none", ckpt,
      trigger = Some(Trigger.ProcessingTime(TriggerMs))), left, right, out, ckpt)
  }

  /** Set-up: start the query and carry one warm pair through to the sink. */
  private def setUp(ctx: Ctx, broker: MiniBroker, i: Int): (Pipeline, Double) = {
    val t0 = System.nanoTime()
    val p = start(ctx, broker, i)
    val c = new MiniKafkaClient("localhost", broker.port)
    try {
      val key = "warm".getBytes(UTF_8)
      val part = Wire.partitionFor(key, broker.numPartitions)
      val now = System.currentTimeMillis()
      c.produce(p.left, part, Seq(WireRecord(0L, now, key, "-1".getBytes(UTF_8))), 0)
      c.produce(p.right, part, Seq(WireRecord(0L, now, key, "-2".getBytes(UTF_8))), 0)
    } finally c.close()
    Streams.awaitRecords(broker, p.out, 1, p.query)
    (p, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Outcome = {
    val broker = new MiniBroker(numPartitions = 2)
    try measure(ctx, broker) finally broker.close()
  }

  private def measure(ctx: Ctx, broker: MiniBroker): Outcome = {
    val setups = (1 to 3).map(i => setUp(ctx, broker, i))
    setups.init.foreach { case (p, _) => Streams.awaitProgress(p.query); p.query.stop() }
    val p = setups.last._1
    val runMs = ctx.args.seconds * 1000L
    val lags = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.probes.reset()
    ctx.probes.stream.onProgress = pr => if (pr.id == p.query.id) {
      val end = pr.sources.map(s => Streams.offsetSum(s.endOffset)).sum
      lags.synchronized(lags += (Streams.logEnds(broker, p.left).sum +
        Streams.logEnds(broker, p.right).sum - end).toDouble)
    }

    val results = ctx.args.work.resolve("steady-gen.tsv")
    val w0 = System.nanoTime()
    val gen = new GenProcess(Seq("steady", broker.port.toString, ctx.args.seed.toString,
      Rate.toString, WarmMs.toString, runMs.toString, p.left, p.right, p.out,
      results.toString, if (ctx.args.trace) "1" else "0"))
    try {
      gen.await("PRODUCED")
      p.query.processAllAvailable()
      gen.send("END " + Streams.logEnds(broker, p.out).mkString(" "))
      gen.finish()
    } finally gen.close()
    val wallMs = (System.nanoTime() - w0) / 1e6
    p.query.stop()
    ctx.probes.drain()
    ctx.probes.stream.onProgress = _ => ()

    val g = new GenResults(results)
    val t0 = g.metrics("t0_ms").toLong
    val events = Data.steadyEvents(ctx.args.seed, Rate, WarmMs + runMs)
    val outs = g.rows("O").filter(_(4) != "warm")
    val pairs = outs.map { o =>
      val Array(l, r) = o(5).split(",")
      Checks.Pair(o(4), l.toInt, r.toInt)
    }
    val verdict = Checks.checkSteady(events, pairs, BandMs)

    // latency of each pair's first emission whose later event was due
    // after the warm-up
    val seen = scala.collection.mutable.HashSet.empty[Checks.Pair]
    val lat = outs.zip(pairs).flatMap { case (o, pr) =>
      val due = t0 + math.max(events(pr.leftId).schedMs, events(pr.rightId).schedMs)
      if (seen.add(pr) && due >= t0 + WarmMs) Some(o(3).toDouble - due) else None
    }
    require(lat.nonEmpty, "no results after the warm-up")
    val (tailPct, tail) = Stats.tail(lat)
    val ps = ctx.probes.stream.all.filter(_.id == p.query.id)
    // input events per second from the first send to the last result:
    // the offered rate stretched by how long the last events took
    val lastResult = outs.map(_(3).toLong).max
    val throughput = events.size / ((lastResult - t0) / 1000.0)
    Streams.batchSpans(ctx.tracer, ps)
    g.spans.foreach(ctx.tracer.add)

    val named = Seq(
      Metric("emit_latency_p50_ms", Stats.median(lat), "ms"),
      Metric("emit_latency_tail_ms", tail, "ms"),
      Metric("emit_latency_tail_pct", tailPct, "pct"),
      Metric("emit_latency_samples", lat.size, "count"),
      Metric("input_rate_per_s", Rate, "1/s"),
      Metric("events_per_s", throughput, "1/s"))
    val layer = Seq(
      Metric("kafka.produce_ms", g.metrics("produce_ns") / 1e6, "ms"),
      Metric("kafka.produce_calls", g.metrics("produce_calls"), "count"),
      Metric("kafka.fetch_ms", g.metrics("fetch_ns") / 1e6, "ms"),
      Metric("kafka.fetch_calls", g.metrics("fetch_calls"), "count"),
      Metric("kafka.source_lag_max", lags.synchronized(if (lags.isEmpty) 0.0 else lags.max), "records"),
      Metric("kafka.sink_dup_share", (pairs.size - pairs.distinct.size).toDouble / math.max(1, pairs.size), "share"),
      Metric("kafka.gen_late_ms_max", g.metrics("gen_late_ms_max"), "ms")) ++
      Streams.metrics(ps, wallMs, p.checkpoint) ++
      ctx.probes.layerMetrics(wallMs, ctx.cores) ++
      ctx.traceMetrics(wallMs, g.metrics("trace_overhead_ns"))
    Outcome(verdict, Stats.median(setups.map(_._2)), Stats.median(lat), tail, throughput,
      named, layer)
  }
}
