package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.kafka.{MiniBroker, MiniKafkaClient}
import graft.kafka.Wire.WireRecord
import graft.streaming.{FkJoinStream, Rec}

/** `wire_backlog`: the reference's ForeignJoin draining a backlog.
  *
  * The generator preloads [[Records]] changelog records (zstd, with null
  * FKs, FK changes and tombstones) on one single-partition topic, so the
  * offset is the global change order. `FkJoinStream.join(how = "left")`
  * then drains them under a fixed `maxOffsetsPerTrigger` into a zstd
  * sink. A few large batches make per-record cost dominate. The drain
  * repeats on fresh topics until the run's time is used. */
object WireBacklog extends Workload {

  val Records = 20000
  val MaxPerTrigger = 5000L

  private def start(ctx: Ctx, broker: MiniBroker, in: String, out: String): (StreamingQuery, String) = {
    val spark = ctx.spark
    import spark.implicits._
    val recs = Streams.source(ctx, broker, in, Some(MaxPerTrigger))
    def side(prefix: String) = recs.filter(col("key").startsWith(prefix))
      .withColumn("key", expr("substring(key, 3)")).as[Rec]
    val joined = FkJoinStream.join(side("L:"), side("R:"), Data.fkOf, "left")
    val kv = joined.select(col("leftKey").as("key"),
      concat_ws("|", col("seq"), when(col("deleted"), "D").otherwise("U"),
        coalesce(col("leftPayload"), lit("~")), coalesce(col("rightValue"), lit("~"))).as("value"))
    val ckpt = ctx.freshDir("backlog")
    (Streams.sink(ctx, kv, broker, out, "zstd", ckpt), ckpt)
  }

  /** Set-up: start the query on an empty topic and carry one warm change
    * through to the sink. */
  private def setUp(ctx: Ctx, broker: MiniBroker, i: Int): Double = {
    val t0 = System.nanoTime()
    val (q, _) = start(ctx, broker, s"warm$i", s"warmout$i")
    val c = new MiniKafkaClient("localhost", broker.port)
    try c.produce(s"warm$i", 0, Seq(WireRecord(0L, 0L, "L:warm".getBytes(UTF_8),
      "fwarm;w".getBytes(UTF_8))), 4)
    finally c.close()
    Streams.awaitRecords(broker, s"warmout$i", 1, q)
    val s = (System.nanoTime() - t0) / 1e9
    Streams.awaitProgress(q)
    q.stop()
    s
  }

  /** The FK-join changes on `topic`, read back over the wire. */
  def readOutput(broker: MiniBroker, topic: String): Seq[Checks.FkOut] = {
    val c = new MiniKafkaClient("localhost", broker.port)
    try c.fetchAll(topic, 0).map { r =>
      val Array(seq, op, lv, rv) = new String(r.value, UTF_8).split("\\|", 4)
      def v(s: String) = if (s == "~") null else s
      Checks.FkOut(new String(r.key, UTF_8), seq.toLong, op == "D", v(lv), v(rv))
    } finally c.close()
  }

  private final case class Cycle(produceS: Double, produceCalls: Double, wireBytes: Double,
                                 drainS: Double, verdict: Verdict, checkpoint: String,
                                 genOverheadNs: Double)

  private def cycle(ctx: Ctx, broker: MiniBroker, i: Int, changes: Seq[Data.Change]): Cycle = {
    val (in, out) = (s"in$i", s"out$i")
    val results = ctx.args.work.resolve(s"backlog-gen-$i.tsv")
    val gen = new GenProcess(Seq("preload", broker.port.toString, ctx.args.seed.toString,
      Records.toString, in, results.toString, if (ctx.args.trace) "1" else "0"))
    try gen.finish() finally gen.close()
    val g = new GenResults(results)
    g.spans.foreach(ctx.tracer.add)
    val (drainS, ckpt) = ctx.tracer.span(s"drain $i", "stream.drain") { id =>
      val t0 = System.nanoTime()
      val (q, ckpt) = start(ctx, broker, in, out)
      q.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9
      q.stop()
      ctx.probes.drain()
      Streams.batchSpans(ctx.tracer, ctx.probes.stream.all.filter(_.id == q.id), id)
      (s, ckpt)
    }
    Cycle(g.metrics("produce_ns") / 1e9, g.metrics("produce_calls"), g.metrics("wire_bytes"),
      drainS, Checks.checkBacklog(changes, readOutput(broker, out)), ckpt,
      g.metrics("trace_overhead_ns"))
  }

  def run(ctx: Ctx): Outcome = {
    val broker = new MiniBroker(numPartitions = 1)
    try measure(ctx, broker) finally broker.close()
  }

  private def measure(ctx: Ctx, broker: MiniBroker): Outcome = {
    val setups = (1 to 3).map(i => setUp(ctx, broker, i))
    val changes = Data.backlogChanges(ctx.args.seed, Records)
    ctx.probes.reset()
    val w0 = System.nanoTime()
    val deadline = w0 + ctx.args.seconds * 1000000000L
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    // at least two drains; another only if it is likely to end in time
    var lastNs = 0L
    while (cycles.size < 2 || System.nanoTime() + lastNs <= deadline) {
      val c0 = System.nanoTime()
      cycles += cycle(ctx, broker, cycles.size + 1, changes)
      lastNs = System.nanoTime() - c0
    }
    val wallMs = (System.nanoTime() - w0) / 1e6
    ctx.probes.drain()
    val ps = ctx.probes.stream.all

    // the standalone fetch drain of one input topic
    val c = new MiniKafkaClient("localhost", broker.port)
    var fetchCalls = 0
    val f0 = System.nanoTime()
    try {
      var off = 0L
      var more = true
      while (more) {
        val b = ctx.tracer.span("fetch", "kafka.fetch") { _ => c.fetch("in1", 0, off) }
        fetchCalls += 1
        more = b.nonEmpty
        if (more) off = b.last.offset + 1
      }
    } finally c.close()
    val fetchMs = (System.nanoTime() - f0) / 1e6

    // the fastest drain and preload: interference from outside the run
    // only ever adds time
    val drainRps = cycles.map(Records / _.drainS).max
    val produceRps = cycles.map(Records / _.produceS).max
    // a query's first batch also starts it; drain_rps counts that, the
    // batch times do not
    val batchMs = ps.filter(_.batchId > 0).map(_.durationMs.get("triggerExecution").doubleValue)
    val (tailPct, tail) = Stats.tail(batchMs)
    val named = Seq(
      Metric("drain_rps", drainRps, "1/s"),
      Metric("produce_rps", produceRps, "1/s"),
      Metric("drain_cycles", cycles.size, "count"),
      Metric("batch_p50_ms", Stats.median(batchMs), "ms"),
      Metric("batch_tail_ms", tail, "ms"),
      Metric("batch_tail_pct", tailPct, "pct"))
    val layer = Seq(
      Metric("kafka.produce_ms", Stats.median(cycles.map(_.produceS * 1000)), "ms"),
      Metric("kafka.produce_calls", cycles.head.produceCalls, "count"),
      Metric("kafka.wire_bytes_per_record", cycles.head.wireBytes / Records, "bytes"),
      Metric("kafka.fetch_ms", fetchMs, "ms"),
      Metric("kafka.fetch_calls", fetchCalls, "count")) ++
      Streams.metrics(ps, wallMs, cycles.last.checkpoint) ++
      ctx.probes.layerMetrics(wallMs, ctx.cores) ++
      ctx.traceMetrics(wallMs, cycles.map(_.genOverheadNs).sum)
    val oneCore =
      if (!ctx.args.trace) Nil
      else Seq(Metric("exec.speedup_vs_1core", drainRps / singleCoreRps(ctx, broker, changes), "ratio"))
    Outcome(cycles.map(_.verdict).reduce(_ + _), Stats.median(setups), Stats.median(batchMs),
      tail, drainRps, named, layer ++ oneCore)
  }

  /** One drain on a `local[1]` session: the single-threaded baseline. */
  private def singleCoreRps(ctx: Ctx, broker: MiniBroker, changes: Seq[Data.Change]): Double = {
    ctx.spark.stop()
    val one = Main.session(ctx.args, 1)
    try {
      val c1 = new Ctx(one, new Probes(one), new Tracer(false), ctx.args)
      val cy = cycle(c1, broker, 1000, changes)
      require(cy.verdict.ok, s"single-core drain failed its check: ${cy.verdict.examples}")
      Records / cy.drainS
    } finally one.stop()
  }
}
