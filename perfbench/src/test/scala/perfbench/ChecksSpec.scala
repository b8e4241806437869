package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Checks._

/** Each checker passes a correct output and fails one with a single
  * dropped or altered record, which shows the check is live. */
class ChecksSpec extends AnyFunSuite {

  private val events = Data.steadyEvents(seed = 3, ratePerSec = 1000, durationMs = 30000)
  private val band = 10000L
  private val truth = bandPairs(events, band).toSeq.sortBy(p => (p.leftId, p.rightId))

  test("steady inputs hold in-band pairs and out-of-order events") {
    assert(truth.size > 50)
    assert(events.exists(e => e.eventMs < e.schedMs))
    assert(events.forall(e => e.schedMs - e.eventMs <= Data.SteadyOooMaxMs))
  }

  test("steady check: all true pairs once passes") {
    assert(checkSteady(events, truth, band).ok)
  }

  test("steady check: a dropped pair fails") {
    val v = checkSteady(events, truth.tail, band)
    assert(!v.ok && v.failed == 1)
  }

  test("steady check: an altered pair fails") {
    val p = truth.head
    val notInBand = events.find(e => e.side == 1 && !truth.contains(Pair(p.key, p.leftId, e.id))).get
    val v = checkSteady(events, truth.tail :+ p.copy(rightId = notInBand.id), band)
    assert(!v.ok && v.failed == 2) // one missing, one spurious
  }

  test("steady check: a duplicated pair fails") {
    assert(!checkSteady(events, truth :+ truth.head, band).ok)
  }

  private val changes = Data.backlogChanges(seed = 5, n = 800)
  /** A changelog whose last change per key is the final join row, with an
    * earlier superseded change in front of each. */
  private val outs: Seq[FkOut] = Data.leftJoinOfFinalTables(changes).toSeq.sortBy(_._1).flatMap {
    case (k, (lv, rv)) => Seq(FkOut(k, 1, deleted = false, "stale", null),
      FkOut(k, 2, deleted = false, lv, rv))
  } :+ FkOut("gone", 3, deleted = true, null, null)

  test("backlog inputs hold the FK edge cases") {
    assert(changes.exists(c => c.side == 0 && c.value == null)) // left tombstone
    assert(changes.exists(c => c.side == 1 && c.value == null)) // right tombstone
    assert(changes.exists(c => c.side == 0 && c.value != null && Data.fkOf(c.value) == null))
    val fkChanged = changes.filter(c => c.side == 0 && c.value != null)
      .groupBy(_.key).exists(_._2.map(c => Data.fkOf(c.value)).distinct.size > 1)
    assert(fkChanged)
  }

  test("backlog check: the materialized final join passes") {
    assert(checkBacklog(changes, outs).ok)
  }

  test("backlog check: a dropped last change fails") {
    val v = checkBacklog(changes, outs.filterNot(o => o.leftKey == outs.head.leftKey && o.seq == 2))
    assert(!v.ok && v.failed == 1)
  }

  test("backlog check: an altered right value fails") {
    val i = outs.indexWhere(_.seq == 2)
    val v = checkBacklog(changes, outs.updated(i, outs(i).copy(rightValue = "rX")))
    assert(!v.ok && v.failed == 1)
  }

  test("backlog check: the tie between an FK's delete and upsert goes to the upsert") {
    val o = FkOut("k", 7, deleted = false, "f1;a", null)
    assert(materialize(Seq(o, o.copy(deleted = true, leftValue = null))) ==
      Map("k" -> (("f1;a", null))))
  }

  private val counts = Map("w00001" -> 5L, "w00002" -> 3L, "w00004" -> 1L)
  private val windows = Map(("w00001", 100L) -> 2L, ("w00001", 110L) -> 3L, ("w00002", 100L) -> 3L)

  test("iq check: right answers pass") {
    assert(iqAnswerOk("/state/keyvalue/counts-store/w00001", 200,
      Seq(Map("key" -> "w00001", "count" -> "5")), counts, windows))
    assert(iqAnswerOk("/state/keyvalue/counts-store/x00001", 200, Nil, counts, windows))
    assert(iqAnswerOk("/state/keyvalues/counts-store/range/w00001/w00003", 200,
      Seq(Map("key" -> "w00001", "count" -> "5"), Map("key" -> "w00002", "count" -> "3")),
      counts, windows))
    assert(iqAnswerOk("/state/windowed/window-store/w00001/100/105", 200,
      Seq(Map("key" -> "w00001", "win_start" -> "100", "cnt" -> "2",
        "rendered_key" -> "w00001@100")), counts, windows))
  }

  test("iq check: an altered count, a dropped row or an error status fails") {
    assert(!iqAnswerOk("/state/keyvalue/counts-store/w00001", 200,
      Seq(Map("key" -> "w00001", "count" -> "4")), counts, windows))
    assert(!iqAnswerOk("/state/keyvalues/counts-store/range/w00001/w00003", 200,
      Seq(Map("key" -> "w00001", "count" -> "5")), counts, windows))
    assert(!iqAnswerOk("/state/keyvalue/counts-store/w00001", 500,
      Seq(Map("key" -> "w00001", "count" -> "5")), counts, windows))
  }

  test("batch check: equal digests pass, an altered or missing one fails") {
    val want = Map("a1" -> Digest(10, 99), "b2" -> Digest(3, 7))
    assert(checkBatch(want, want).ok)
    assert(!checkBatch(want, want.updated("b2", Digest(3, 8))).ok)
    assert(!checkBatch(want, want.updated("a1", Digest(9, 99))).ok)
    assert(!checkBatch(want, want - "a1").ok)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs)._1 == 90.0)
    assert(Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0)
    assert(Stats.tail(xs.take(15))._1 == 50.0)
    assert(Stats.median(Seq(1.0, 3.0, 2.0)) == 2.0)
  }

  test("self time subtracts direct children") {
    val spans = Seq(Span(1, 0, 1, "batch", "stream.batch", 0, 100),
      Span(2, 1, 1, "addBatch", "stream.addBatch", 10, 70))
    val self = Tracer.selfTimesMs(spans)
    assert(self("stream.batch") == 40 / 1e6 && self("stream.addBatch") == 60 / 1e6)
  }
}
