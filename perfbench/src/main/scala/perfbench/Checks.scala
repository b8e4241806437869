package perfbench

import Data._

/** How many checked operations a workload attempted and how many failed,
  * with a few examples of what went wrong. */
final case class Verdict(attempted: Long, failed: Long, examples: Seq[String] = Nil) {
  def ok: Boolean = failed == 0 && attempted > 0
  def +(o: Verdict): Verdict =
    Verdict(attempted + o.attempted, failed + o.failed, (examples ++ o.examples).take(5))
}

/** Output checks, one per workload. Each compares what the program emitted
  * with what the generated inputs imply. */
object Checks {

  // ---- wire_steady ---------------------------------------------------

  /** One emitted join result: the key and the ids of the left and right
    * events it pairs. */
  final case class Pair(key: String, leftId: Int, rightId: Int)

  /** Every in-band pair: same key, event times at most `bandMs` apart. */
  def bandPairs(events: Seq[SteadyEvent], bandMs: Long): Set[Pair] =
    events.groupBy(_.key).iterator.flatMap { case (key, evs) =>
      val (ls, rs) = evs.partition(_.side == 0)
      val rSorted = rs.sortBy(_.eventMs).toArray
      ls.iterator.flatMap { l =>
        rSorted.iterator.dropWhile(_.eventMs < l.eventMs - bandMs)
          .takeWhile(_.eventMs <= l.eventMs + bandMs)
          .map(r => Pair(key, l.id, r.id))
      }
    }.toSet

  /** Every emitted pair must be a true in-band pair, none may be emitted
    * twice, and every in-band pair must be emitted (no event here is late,
    * see [[Data.SteadyOooMaxMs]]). */
  def checkSteady(events: Seq[SteadyEvent], emitted: Seq[Pair], bandMs: Long): Verdict = {
    val expected = bandPairs(events, bandMs)
    val counts = emitted.groupBy(identity).view.mapValues(_.size).toMap
    val dups = counts.values.map(_ - 1).sum
    val spurious = counts.keySet -- expected
    val missing = expected -- counts.keySet
    Verdict(expected.size + spurious.size, missing.size + spurious.size + dups,
      (missing.take(2).map(p => s"missing $p") ++ spurious.take(2).map(p => s"spurious $p") ++
        counts.collect { case (p, n) if n > 1 => s"$n copies of $p" }.take(1)).toSeq)
  }

  // ---- wire_backlog --------------------------------------------------

  /** One FK-join change read back from the sink topic. */
  final case class FkOut(leftKey: String, seq: Long, deleted: Boolean,
                         leftValue: String, rightValue: String)

  /** Last change per left key wins; on a tie the upsert beats the delete
    * that left the old FK (both carry the seq of the same input record). */
  def materialize(outs: Seq[FkOut]): Map[String, (String, String)] =
    outs.groupBy(_.leftKey).flatMap { case (k, cs) =>
      val last = cs.maxBy(c => (c.seq, !c.deleted))
      if (last.deleted) None else Some(k -> ((last.leftValue, last.rightValue)))
    }

  /** The materialized changelog must equal the left FK join of the final
    * tables, key by key. */
  def checkBacklog(changes: Seq[Change], outs: Seq[FkOut]): Verdict = {
    val expected = leftJoinOfFinalTables(changes)
    val got = materialize(outs)
    val keys = expected.keySet ++ got.keySet
    val bad = keys.filter(k => expected.get(k) != got.get(k))
    Verdict(keys.size, bad.size,
      bad.take(3).map(k => s"$k: expected ${expected.get(k)}, got ${got.get(k)}").toSeq)
  }

  // ---- iq_reads ------------------------------------------------------

  /** Expected answer rows of one IQ request, as field maps, from the word
    * counts and the per-window counts the generator produced. */
  def expectedIq(path: String, counts: Map[String, Long],
                 windows: Map[(String, Long), Long]): Set[Map[String, String]] =
    path.stripPrefix("/").split("/").toList match {
      case "state" :: "keyvalue" :: _ :: key :: Nil =>
        counts.get(key).map(c => Map("key" -> key, "count" -> c.toString)).toSet
      case "state" :: "keyvalues" :: _ :: "range" :: from :: to :: Nil =>
        counts.collect { case (k, c) if k >= from && k <= to =>
          Map("key" -> k, "count" -> c.toString) }.toSet
      case "state" :: "windowed" :: _ :: key :: from :: to :: Nil =>
        windows.collect { case ((k, start), c)
            if k == key && start >= from.toLong && start <= to.toLong =>
          Map("key" -> k, "win_start" -> start.toString, "cnt" -> c.toString,
            "rendered_key" -> s"$k@$start") }.toSet
      case _ => Set(Map("unknown path" -> path))
    }

  /** An answer is right when it is a 200 whose rows, restricted to the
    * expected fields, are exactly the expected rows. */
  def iqAnswerOk(path: String, status: Int, rows: Seq[Map[String, String]],
                 counts: Map[String, Long], windows: Map[(String, Long), Long]): Boolean = {
    val want = expectedIq(path, counts, windows)
    val fields = want.headOption.map(_.keySet)
      .getOrElse(Set("key", "count", "win_start", "cnt", "rendered_key"))
    status == 200 && rows.size == want.size &&
      rows.map(_.filter { case (f, _) => fields(f) }).toSet == want
  }

  // ---- batch_suite ---------------------------------------------------

  /** Row count and order-insensitive digest of one query's full output. */
  final case class Digest(rows: Long, hash: Long)

  def checkBatch(expected: Map[String, Digest], got: Map[String, Digest]): Verdict = {
    val bad = expected.keys.filter(q => !got.get(q).contains(expected(q))).toSeq.sorted
    Verdict(expected.size, bad.size,
      bad.take(3).map(q => s"$q: expected ${expected(q)}, got ${got.get(q)}"))
  }
}
