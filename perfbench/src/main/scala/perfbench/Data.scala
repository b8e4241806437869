package perfbench

import scala.util.Random

/** Seeded input generators. The harness and the generator process both
  * call these, so each side rebuilds the same inputs from the seed alone. */
object Data {

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- wire_steady ---------------------------------------------------

  /** One keyed event of the two-topic join input. `schedMs` is the send
    * time relative to the run start; `eventMs` the event time relative to
    * the same origin (earlier than `schedMs` for out-of-order events). */
  final case class SteadyEvent(id: Int, side: Int, key: String,
                               schedMs: Long, eventMs: Long)

  val SteadyKeys = 200000
  val SteadyZipf = 0.5
  val SteadyOooShare = 0.1
  /** Out-of-order events are at most this much older than their send time,
    * which stays under the join's watermark grace, so no event is late. */
  val SteadyOooMaxMs = 3000L

  def steadyEvents(seed: Long, ratePerSec: Int, durationMs: Long): Vector[SteadyEvent] = {
    val rnd = new Random(seed)
    val zipf = new Zipf(SteadyKeys, SteadyZipf)
    val n = (ratePerSec * durationMs / 1000L).toInt
    Vector.tabulate(n) { i =>
      val sched = i * 1000L / ratePerSec
      val side = rnd.nextInt(2)
      val key = f"k${zipf.sample(rnd)}%06d"
      val shift =
        if (rnd.nextDouble() < SteadyOooShare) 500L + rnd.nextInt((SteadyOooMaxMs - 500L).toInt)
        else 0L
      SteadyEvent(i, side, key, sched, sched - shift)
    }
  }

  // ---- wire_backlog --------------------------------------------------

  /** One changelog record in global order: `side` 0 = left table (value
    * `fk;payload`, empty fk = null FK), 1 = right table; null value =
    * tombstone. */
  final case class Change(seq: Int, side: Int, key: String, value: String)

  def backlogChanges(seed: Long, n: Int): Vector[Change] = {
    val rnd = new Random(seed)
    val nLeft = math.max(4, n / 4)
    val nRight = math.max(2, n / 40)
    Vector.tabulate(n) { i =>
      if (rnd.nextDouble() < 0.7) {
        val pk = f"p${rnd.nextInt(nLeft)}%06d"
        val u = rnd.nextDouble()
        val value =
          if (u < 0.10) null // tombstone
          else if (u < 0.15) s";v${rnd.nextInt(1000)}" // null FK
          else {
            // a few FKs never appear on the right: dangling references
            val fk = f"f${rnd.nextInt(nRight + 3)}%05d"
            s"$fk;v${rnd.nextInt(1000)}"
          }
        Change(i, 0, pk, value)
      } else {
        val fk = f"f${rnd.nextInt(nRight)}%05d"
        Change(i, 1, fk, if (rnd.nextDouble() < 0.10) null else s"r${rnd.nextInt(1000)}")
      }
    }
  }

  /** The FK of a left value; null for a null FK. */
  def fkOf(value: String): String = {
    val fk = value.substring(0, value.indexOf(';'))
    if (fk.isEmpty) null else fk
  }

  /** The left FK join of the final left and right tables:
    * left key -> (left value, right value or null). */
  def leftJoinOfFinalTables(changes: Seq[Change]): Map[String, (String, String)] = {
    val left = scala.collection.mutable.Map.empty[String, String]
    val right = scala.collection.mutable.Map.empty[String, String]
    changes.foreach { c =>
      val t = if (c.side == 0) left else right
      if (c.value == null) t.remove(c.key) else t(c.key) = c.value
    }
    left.map { case (k, v) =>
      val fk = fkOf(v)
      k -> ((v, if (fk == null) null else right.getOrElse(fk, null)))
    }.toMap
  }

  // ---- iq_reads ------------------------------------------------------

  val IqVocab = 2000
  val IqWindowSec = 10L
  /** Event-time origin of the word stream (epoch seconds). */
  val IqBaseSec = 1700000000L

  /** `(word, event time in epoch ms)` for one of `chunks` micro-batches;
    * chunk `c` covers window `c`. */
  def iqWords(seed: Long, chunk: Int, perChunk: Int): Vector[(String, Long)] = {
    val rnd = new Random(seed * 1000003L + chunk)
    val zipf = new Zipf(IqVocab, 1.0)
    Vector.fill(perChunk) {
      val w = f"w${zipf.sample(rnd)}%05d"
      (w, (IqBaseSec + chunk * IqWindowSec) * 1000L + rnd.nextInt((IqWindowSec * 1000).toInt))
    }
  }

  /** One IQ request of the closed-loop mix. */
  final case class IqRequest(kind: String, path: String)

  def iqRequests(seed: Long, n: Int, chunks: Int): Vector[IqRequest] = {
    val rnd = new Random(seed ^ 0x5eedL)
    val zipf = new Zipf(IqVocab, 1.0)
    def word(i: Int) = f"w$i%05d"
    Vector.fill(n) {
      val u = rnd.nextDouble()
      if (u < 0.6) {
        // a tenth of point lookups ask for a word no batch ever held
        val key = if (rnd.nextDouble() < 0.1) f"x${rnd.nextInt(IqVocab)}%05d"
                  else word(zipf.sample(rnd))
        IqRequest("point", s"/state/keyvalue/counts-store/$key")
      } else if (u < 0.8) {
        val from = rnd.nextInt(IqVocab - 20)
        IqRequest("range", s"/state/keyvalues/counts-store/range/${word(from)}/${word(from + 9)}")
      } else {
        val w = word(zipf.sample(rnd))
        val c0 = rnd.nextInt(math.max(1, chunks - 2))
        val from = IqBaseSec + c0 * IqWindowSec
        IqRequest("window", s"/state/windowed/window-store/$w/$from/${from + 2 * IqWindowSec}")
      }
    }
  }
}
