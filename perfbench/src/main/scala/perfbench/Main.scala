package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run measured. `p50Ms`, `tailMs` and `throughput` are
  * the workload's own end-to-end figures (see perfbench/README.md for
  * what each means per workload); `named` holds them again under their
  * workload-specific names, with the rest of that workload's end-to-end
  * figures; `layer` holds every per-layer metric the run could measure. */
final case class Outcome(verdict: Verdict, setupS: Double, p50Ms: Double, tailMs: Double,
                         throughput: Double, named: Seq[Metric], layer: Seq[Metric])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, data: String, expected: Path)

/** Everything a workload needs: the session, its probes, the tracer. */
final class Ctx(val spark: SparkSession, val probes: Probes, val tracer: Tracer,
                val args: Args) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** A fresh directory under the run's work directory. */
  def freshDir(prefix: String): String = {
    val d = args.work.resolve(s"$prefix-${Ctx.dirs.incrementAndGet()}")
    Files.createDirectories(d)
    d.toString
  }

  /** `trace.*` over a window of `wallMs`; `genOverheadNs` is what the
    * generator process spent on its own spans. */
  def traceMetrics(wallMs: Double, genOverheadNs: Double = 0.0): Seq[Metric] = Seq(
    Metric("trace.spans", tracer.all.size, "count"),
    Metric("trace.overhead_share",
      (tracer.overheadNs + genOverheadNs) / 1e6 / math.max(1.0, wallMs), "share"))
}

object Ctx {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Main {

  val Workloads: Map[String, Workload] = Map(
    "wire_steady" -> WireSteady,
    "wire_backlog" -> WireBacklog,
    "iq_reads" -> IqReads,
    "batch_suite" -> BatchSuite)

  /** The per-layer metrics the last output line carries on a traced run:
    * the ones every workload measures. The other layer metrics a
    * workload measures are in the detail line before it. */
  val ContractLayer: Seq[String] = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.scheduler_delay_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.task_skew", "exec.cores_busy_share",
    "codegen.compiles", "codegen.compile_ms",
    "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms",
    "trace.overhead_share")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w) || w == "batch_calibrate", s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("data"), Paths.get(need("expected")))
  }

  def session(args: Args, cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", args.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** What a run prints: the check result, the workload's named end-to-end
    * metrics, every layer metric it measured, and the metrics of the last
    * output line. */
  final case class Report(verdict: Verdict, named: Seq[Metric], layer: Seq[Metric],
                          last: Seq[Metric])

  def execute(args: Args): Report = {
    Files.createDirectories(args.work)
    val spark = session(args, Runtime.getRuntime.availableProcessors())
    val ctx = new Ctx(spark, new Probes(spark), new Tracer(args.trace), args)
    val out = try Workloads(args.workload).run(ctx) finally spark.stop()
    val v = out.verdict
    val named = Seq(
      Metric("setup_s", out.setupS, "s"),
      Metric("peak_rss_mb", peakRssMb(), "MB"),
      Metric("failed_share", v.failed.toDouble / math.max(1L, v.attempted), "share")) ++ out.named
    val e2e = Seq(named(0), named(1),
      Metric("p50_ms", out.p50Ms, "ms"),
      Metric("tail_ms", out.tailMs, "ms"),
      Metric("throughput_per_s", out.throughput, "1/s"))
    val layer = out.layer ++ Tracer.selfTimesMs(ctx.tracer.all).toSeq.sortBy(_._1).map {
      case (l, ms) => Metric(s"self.$l", ms, "ms") }
    if (args.trace) ctx.tracer.write(args.work.getParent.resolve(
      s"spans-${args.workload}-${args.seed}.jsonl"))
    val last = if (args.trace) {
      val byName = layer.map(m => m.name -> m).toMap
      ContractLayer.map(n => byName.getOrElse(n, sys.error(s"per-layer metric $n not measured")))
    } else e2e
    Report(v, named, layer, last)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.workload == "batch_calibrate") {
      val spark = session(args, Runtime.getRuntime.availableProcessors())
      try BatchSuite.calibrate(new Ctx(spark, new Probes(spark), new Tracer(false), args))
      finally spark.stop()
      return
    }
    val r = execute(args)
    val v = r.verdict
    v.examples.foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    val detail = s"""{"workload":${Json.str(args.workload)},"seed":${args.seed},""" +
      s""""seconds":${args.seconds},"trace":${args.trace},"correct":${v.ok},""" +
      s""""named":${render(r.named)},"layer":${render(r.layer)}}"""
    Files.write(args.work.getParent.resolve(
      s"result-${args.workload}-${args.seed}-trace${if (args.trace) 1 else 0}.json"),
      (detail + "\n").getBytes(UTF_8))
    println(detail)
    println(s"""{"correct":${v.ok},"attempted":${v.attempted},"failed":${v.failed},""" +
      s""""metrics":${render(r.last)}}""")
    System.out.flush()
    sys.exit(if (v.ok) 0 else 1)
  }

  private def render(ms: Seq[Metric]): String =
    ms.map(m => s"""${Json.str(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}""")
      .mkString("{", ",", "}")
}
