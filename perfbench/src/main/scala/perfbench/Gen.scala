package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.kafka.{MiniKafkaClient, Wire, WireSize}
import graft.kafka.Wire.WireRecord

/** The load generator: a process of its own, apart from the system under
  * test, with at most one producer connection, one output-reader
  * connection and one HTTP client thread.
  *
  * Modes (arguments are positional; `trace` is 0 or 1):
  *  - `steady port seed rate warmMs runMs left right out results trace`:
  *    open loop. Sends [[Data.steadyEvents]] on schedule, prints
  *    `PRODUCED n`, then reads the output topic until stdin says
  *    `END <log end per partition>`.
  *  - `preload port seed n topic results trace`: produces
  *    [[Data.backlogChanges]] as zstd batches and reports the time.
  *  - `iq port seed runMs chunks results trace`: closed loop of
  *    [[Data.iqRequests]] against the IQ HTTP server.
  *
  * Results go to the `results` file as tab-separated lines: `M name value`
  * for counters, `E id sentMs` per sent event, `O partition offset ts key
  * value` per output record, `R kind status latencyNs path body` per
  * request and `S span-json` per span. */
object Gen {

  def main(args: Array[String]): Unit = {
    val out = ArrayBuffer.empty[String]
    val tracer = new Tracer(args.last == "1", idBase = 1L << 40)
    args(0) match {
      case "steady" => steady(args, out, tracer)
      case "preload" => preload(args, out, tracer)
      case "iq" => iq(args, out, tracer)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    out += s"M\ttrace_overhead_ns\t${tracer.overheadNs}"
    tracer.all.foreach(s => out += s"S\t${s.toJson}")
    val resultsIdx = args.length - 2
    Files.write(Paths.get(args(resultsIdx)), out.mkString("", "\n", "\n").getBytes(UTF_8))
    println("DONE")
  }

  private def sleepUntil(epochMs: Long): Unit = {
    val d = epochMs - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  private def steady(a: Array[String], out: ArrayBuffer[String], tracer: Tracer): Unit = {
    val port = a(1).toInt
    val seed = a(2).toLong
    val rate = a(3).toInt
    val warmMs = a(4).toLong
    val runMs = a(5).toLong
    val (left, right, outTopic) = (a(6), a(7), a(8))
    val events = Data.steadyEvents(seed, rate, warmMs + runMs)
    val producer = new MiniKafkaClient("localhost", port)
    val reader = new MiniKafkaClient("localhost", port)
    val parts = producer.partitionsFor(left)
    require(producer.partitionsFor(right) == parts)
    val outParts = reader.partitionsFor(outTopic)

    @volatile var ends: Array[Long] = null
    val got = ArrayBuffer.empty[String]
    var fetchCalls, fetchNs = 0L
    val readerThread = new Thread(() => {
      val next = Array.fill(outParts)(0L)
      var done = false
      while (!done) {
        (0 until outParts).foreach { p =>
          val t0 = System.nanoTime()
          val recs = tracer.span("fetch", "kafka.fetch") { _ =>
            reader.fetch(outTopic, p, next(p), maxWaitMs = 10, minBytes = 1)
          }
          fetchNs += System.nanoTime() - t0
          fetchCalls += 1
          recs.foreach { r =>
            got += s"O\t$p\t${r.offset}\t${r.timestamp}\t${new String(r.key, UTF_8)}\t${new String(r.value, UTF_8)}"
            next(p) = r.offset + 1
          }
        }
        val e = ends
        done = e != null && (0 until outParts).forall(p => next(p) >= e(p))
      }
    }, "gen-output-reader")
    readerThread.start()

    val t0 = System.currentTimeMillis() + 100
    val sent = new Array[Long](events.length)
    var produceCalls, produceNs = 0L
    var i = 0
    while (i < events.length) {
      sleepUntil(t0 + events(i).schedMs)
      val now = System.currentTimeMillis()
      var j = i
      while (j < events.length && t0 + events(j).schedMs <= now) j += 1
      val due = events.slice(i, j)
      due.groupBy { e =>
        val topic = if (e.side == 0) left else right
        (topic, Wire.partitionFor(e.key.getBytes(UTF_8), parts))
      }.toSeq.sortBy(_._1).foreach { case ((topic, p), es) =>
        val recs = es.map(e => WireRecord(0L, t0 + e.eventMs, e.key.getBytes(UTF_8),
          e.id.toString.getBytes(UTF_8)))
        val c0 = System.nanoTime()
        tracer.span("produce", "kafka.produce") { _ => producer.produce(topic, p, recs, 0) }
        produceNs += System.nanoTime() - c0
        produceCalls += 1
      }
      val at = System.currentTimeMillis()
      due.foreach(e => sent(e.id) = at)
      i = j
    }
    println(s"PRODUCED ${events.length}")
    System.out.flush()
    val end = scala.io.StdIn.readLine()
    require(end != null && end.startsWith("END "), s"expected END line, got $end")
    ends = end.split(" ").tail.map(_.toLong)
    readerThread.join()
    producer.close(); reader.close()

    out += s"M\tt0_ms\t$t0"
    out += s"M\tproduce_calls\t$produceCalls"
    out += s"M\tproduce_ns\t$produceNs"
    out += s"M\tfetch_calls\t$fetchCalls"
    out += s"M\tfetch_ns\t$fetchNs"
    out += s"M\tgen_late_ms_max\t${events.indices.map(k => sent(k) - t0 - events(k).schedMs).max}"
    events.indices.foreach(k => out += s"E\t$k\t${sent(k)}")
    out ++= got
  }

  /** Records of the backlog topic: side-prefixed keys, the global change
    * number as the timestamp. */
  def backlogRecords(changes: Seq[Data.Change]): Seq[WireRecord] =
    changes.map { c =>
      WireRecord(0L, c.seq.toLong,
        ((if (c.side == 0) "L:" else "R:") + c.key).getBytes(UTF_8),
        if (c.value == null) null else c.value.getBytes(UTF_8))
    }

  val PreloadBatch = 500

  private def preload(a: Array[String], out: ArrayBuffer[String], tracer: Tracer): Unit = {
    val port = a(1).toInt
    val changes = Data.backlogChanges(a(2).toLong, a(3).toInt)
    val topic = a(4)
    val batches = backlogRecords(changes).grouped(PreloadBatch).toSeq
    val client = new MiniKafkaClient("localhost", port)
    require(client.partitionsFor(topic) == 1, "the backlog topic has one partition")
    val t0 = System.nanoTime()
    batches.foreach { b =>
      tracer.span("produce", "kafka.produce") { _ => client.produce(topic, 0, b, 4) }
    }
    val ns = System.nanoTime() - t0
    client.close()
    out += s"M\tproduce_ns\t$ns"
    out += s"M\tproduce_calls\t${batches.size}"
    out += s"M\trecords\t${changes.size}"
    out += s"M\twire_bytes\t${batches.map(WireSize.batchBytes(_, 4).toLong).sum}"
  }

  private def iq(a: Array[String], out: ArrayBuffer[String], tracer: Tracer): Unit = {
    val port = a(1).toInt
    val runMs = a(3).toLong
    val requests = Data.iqRequests(a(2).toLong, 100000, a(4).toInt)
    val deadline = System.currentTimeMillis() + runMs
    var i = 0
    while (System.currentTimeMillis() < deadline) {
      val r = requests(i)
      val t0 = System.nanoTime()
      val (status, body) = tracer.span("GET " + r.kind, "iq.http") { _ => get(port, r.path) }
      out += s"R\t${r.kind}\t$status\t${System.nanoTime() - t0}\t${r.path}\t$body"
      i += 1
    }
  }

  def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    try {
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
      (code, body.replaceAll("[\t\n\r]", " "))
    } finally conn.disconnect()
  }
}

/** The generator process as seen from the harness. */
final class GenProcess(args: Seq[String]) extends AutoCloseable {
  private val proc = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    new ProcessBuilder((Seq(java, "-Xmx512m", "-XX:-UsePerfData", "-cp", System.getProperty("java.class.path"),
      "perfbench.Gen") ++ args): _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
  }
  private val stdout = new java.io.BufferedReader(
    new java.io.InputStreamReader(proc.getInputStream, UTF_8))
  private val stdin = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream, UTF_8))

  /** Block until the generator prints a line starting with `prefix`. */
  def await(prefix: String): String = {
    var line = stdout.readLine()
    while (line != null && !line.startsWith(prefix)) line = stdout.readLine()
    require(line != null, s"generator exited before printing $prefix")
    line
  }

  def send(line: String): Unit = { stdin.write(line + "\n"); stdin.flush() }

  /** Wait for a clean exit. */
  def finish(): Unit = {
    await("DONE")
    require(proc.waitFor() == 0, s"generator exited with ${proc.exitValue()}")
  }

  override def close(): Unit = if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
}

/** A generator results file, parsed. */
final class GenResults(path: java.nio.file.Path) {
  val lines: Seq[Array[String]] =
    Files.readAllLines(path, UTF_8).toArray(new Array[String](0)).toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))
  val metrics: Map[String, Double] =
    lines.collect { case Array("M", k, v) => k -> v.toDouble }.toMap
  def rows(tag: String): Seq[Array[String]] = lines.filter(_(0) == tag)
  def spans: Seq[Span] = lines.collect { case Array("S", j) => Span.parse(j) }.flatten
}
