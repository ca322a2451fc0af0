package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Ingest._

class GeneratorSpec extends AnyFunSuite {

  /** 30 days of synthetic events, 40 a day. */
  private val events: IndexedSeq[Ev] = {
    val day0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val types = Seq("click", "view", "purchase", "signup", "error")
    for (d <- 0 until 30; i <- 0 until 40)
      yield Ev(d * 40L + i, day0 + d * 86400000000L + i * 2000000000L, i % 7,
        types(i % types.size), (d * 40 + i) * 0.25)
  }

  test("the same seed gives a byte-identical operation sequence") {
    val a = render(generate(events, 7L, 3))
    val b = render(generate(events, 7L, 3))
    assert(a == b)
    assert(Report.sha256(a) == Report.sha256(b))
  }

  test("a different seed gives a different operation sequence") {
    assert(render(generate(events, 7L, 3)) != render(generate(events, 8L, 3)))
  }

  test("every operation type is in the stream, in time order") {
    val steps = generate(events, 1L, 3)
    val kinds = steps.map(_.kind).toSet
    assert(Set("append", "upsert", "backfill", "correct", "maintain", "rollup", "asof",
      "changes", "stats").subsetOf(kinds))
    assert(steps.collect { case c: Correct => c }.nonEmpty && steps.collect { case f: Fix => f }.nonEmpty)
    val fresh = steps.collect { case Put(k, _, rows) if k != "backfill" => rows.filter(_.seq >= 0) }
    val firstDays = fresh.map(_.map(_.day).max)
    assert(firstDays == firstDays.sorted)
    // the whole table is replayed
    assert(steps.collect { case Put(k, _, rows) if k != "backfill" => rows.map(_.id) }
      .flatten.toSet == events.map(_.id).toSet)
  }

  test("the model replaces a backfilled day and applies corrections") {
    val rows = events.take(80).map(e => Rec(e.id, e.tsMicros, e.user, e.etype, e.value, e.day, 0))
    var m = applyStep(Map.empty, Put("append", "append", rows.toVector))
    assert(m.size == 80)
    val d0 = rows.head.day
    val redo = rows.filter(_.day == d0).take(3).map(_.copy(value = 1.0, seq = 1))
    m = applyStep(m, Put("backfill", "backfill", redo.toVector))
    assert(m.values.count(_.day == d0) == 3 && m.values.filter(_.day == d0).forall(_.seq == 1))
    val before = m.values.count(r => r.day != d0 && r.etype == "click")
    m = applyStep(m, Correct("delete_mor", rows.last.day, "click"))
    assert(m.values.count(r => r.day == rows.last.day && r.etype == "click") == 0)
    assert(before > 0)
    val ghost = rows.head.copy(id = 999999L)
    assert(!applyStep(m, Fix(Vector(ghost))).contains(999999L))
  }

  test("the replay order depends on the seed only") {
    assert(Replay.sequence("olap_read", 3L) == Replay.sequence("olap_read", 3L))
    assert(Replay.sequence("olap_read", 3L) != Replay.sequence("olap_read", 4L))
  }

  test("quantiles and interval unions") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.quantile(Seq(1.0, OpRecord.FailedS), 0.9) > 1e8)
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
  }
}
