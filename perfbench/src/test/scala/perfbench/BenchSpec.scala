package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val fixture = Ods.Fixture(
    users = (1L to 50L).map(u => (u, (u % 5).toInt)),
    provinces = (0 until 5).map(p => (p, s"province$p")),
    skus = (1L to 40L).map(s => (s, s"red widget $s")),
    orders = (1L to 30L),
    lines = (1L to 30L).map(o => o -> IndexedSeq((o % 40 + 1, 2.0, 19.99 * o))).toMap,
    eventTypes = IndexedSeq("click", "signup", "error", "view", "purchase"),
    eventValues = IndexedSeq(1.5, 2.25, 0.5, 3.0, 4.75))

  test("the same seed gives byte-identical waves; another seed gives different ones") {
    val a = Ods.generate(fixture, seed = 7, n = 6)
    val b = Ods.generate(fixture, seed = 7, n = 6)
    val c = Ods.generate(fixture, seed = 8, n = 6)
    assert(a.map(w => (w.log, w.db)) == b.map(w => (w.log, w.db)))
    assert(a.map(w => (w.log, w.db)) != c.map(w => (w.log, w.db)))
    assert(a.size == 7 && a.last.index == 6, "six waves then the flush wave")
  }

  test("every wave advances every DWS watermark, and disorder stays inside the wave") {
    val waves = Ods.generate(fixture, seed = 3, n = 5)
    waves.init.foreach { w =>
      assert(Layers.Sinks.forall(s => w.sinkMaxTs.contains(s)), s"wave ${w.index} misses a sink")
      val start = Ods.BaseMs + w.index * Ods.WindowMs
      w.sinkMaxTs.values.foreach(ts => assert(ts >= start && ts < start + Ods.WindowMs))
    }
    assert(Topology.closes(waves).nonEmpty)
  }

  test("the reported percentile is the highest with at least ten samples beyond it") {
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(99).contains(75.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(19).isEmpty)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.pct(xs, 50) == 50.0 && Stats.pct(xs, 90) == 90.0 && Stats.pct(xs, 100) == 100.0)
    assert(Stats.median(xs) == 50.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("self time subtracts the part of a span its children cover, merging overlaps") {
    val spans = IndexedSeq(
      Span("round", 0, 100, -1, 1),
      Span("a", 10, 30, 0, 1),
      Span("b", 25, 50, 0, 1), // overlaps a: children cover 10..50
      Span("b.inner", 30, 35, 2, 1),
      Span("c", 90, 120, 0, 1)) // runs past its parent: only 90..100 counts
    assert(Stats.selfTimes(spans) == IndexedSeq(100 - 40 - 10, 20, 25 - 5, 5, 30))
  }

  test("fingerprints do not depend on row order and see every value") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, Map("k" -> 1)), Row(3L, "c", Seq(1.5, 2.0)))
    val f = Fingerprint.ofRows(rows)
    assert(Fingerprint.ofRows(rows.reverse) == f)
    assert(Fingerprint.ofRows(rows.updated(0, Row(1L, "a", 0.31))) != f)
    assert(Fingerprint.ofRows(rows :+ rows.head).rows == 4)
    assert(Fingerprint.parse(f.toString) == f)
    assert(Fingerprint.render(Row(0.30000000000000004, new java.math.BigDecimal("1.50"))) == "(0.3,1.5)")
  }

  test("every gate maps to a family, and every family has per-layer metrics") {
    assert(Sweep.Gates.map(Sweep.family).toSet == Sweep.Families.toSet)
    assert(Sweep.Families.size == 11)
    assert(Layers.names.distinct.size == Layers.names.size && Layers.names.size <= 128)
  }
}
