package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every workload, run for one second, passes its output check and emits
  * each of its metrics with its unit; the traced run emits the per-layer
  * metrics. Run from the perfbench directory (`sbt test`). */
class WorkloadsSpec extends AnyFunSuite {

  private val work = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "wl")

  private def args(w: String, trace: Boolean) =
    Args(w, seed = 11, seconds = 1, trace = trace, work = work.resolve(s"$w-$trace"),
      data = Paths.get("data/sf0.01").toAbsolutePath.toString,
      expected = Paths.get("expected").toAbsolutePath)

  private val common = Seq("setup_s" -> "s", "peak_rss_mb" -> "MB", "failed_share" -> "share")
  private val named = Map(
    "wire_steady" -> Seq("emit_latency_p50_ms" -> "ms", "emit_latency_tail_ms" -> "ms"),
    "wire_backlog" -> Seq("drain_rps" -> "1/s", "produce_rps" -> "1/s"),
    "iq_reads" -> Seq("iq_point_p50_ms" -> "ms", "iq_point_tail_ms" -> "ms",
      "iq_range_p50_ms" -> "ms", "iq_window_p50_ms" -> "ms"),
    "batch_suite" -> Seq("batch_suite_s" -> "s", "batch_query_p50_s" -> "s",
      "batch_query_tail_s" -> "s"))
  private val e2e = Seq("setup_s" -> "s", "peak_rss_mb" -> "MB", "p50_ms" -> "ms",
    "tail_ms" -> "ms", "throughput_per_s" -> "1/s")
  private val layerOnly = Map(
    "wire_steady" -> Seq("kafka.source_lag_max", "kafka.sink_dup_share", "kafka.gen_late_ms_max",
      "stream.trigger_ms", "stream.wal_commit_ms", "state.commit_ms", "self.stream.batch"),
    "wire_backlog" -> Seq("kafka.produce_ms", "kafka.fetch_ms", "kafka.wire_bytes_per_record",
      "stream.add_batch_ms", "state.update_ms", "exec.speedup_vs_1core"),
    "iq_reads" -> Seq("iq.http_ms", "iq.read_ms", "iq.http_self_ms", "iq.jobs_per_request",
      "iq.rows_scanned_per_returned", "state.checkpoint_files", "self.iq.http"),
    "batch_suite" -> Seq("plan.scans", "plan.exchanges", "plan.reused_exchange_share",
      "batch.count_gap_s", "self.batch.write"))

  private def units(ms: Seq[Metric]) = ms.map(m => m.name -> m.unit).toMap

  Main.Workloads.keys.toSeq.sorted.foreach { w =>
    test(s"$w: correct, with every end-to-end metric and its unit") {
      val r = Main.execute(args(w, trace = false))
      assert(r.verdict.ok, r.verdict.examples)
      val got = units(r.named)
      (common ++ named(w)).foreach { case (n, u) => assert(got.get(n).contains(u), n) }
      assert(r.named.find(_.name == "failed_share").get.value == 0.0)
      assert(r.last.map(m => m.name -> m.unit) == e2e)
      assert(r.last.forall(m => m.value > 0), r.last)
    }

    test(s"$w: the traced run emits the per-layer metrics") {
      val r = Main.execute(args(w, trace = true))
      assert(r.verdict.ok, r.verdict.examples)
      assert(r.last.map(_.name) == Main.ContractLayer)
      val got = units(r.layer)
      layerOnly(w).foreach(n => assert(got.contains(n), n))
      assert(got.keySet.exists(_.startsWith("self.")))
    }
  }
}
