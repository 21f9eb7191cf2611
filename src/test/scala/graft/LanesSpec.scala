package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's lane table: each lane is one BENCH_DETAIL key, every
  * headline row is a real query (a missing one would drop out of the
  * headline silently), and every row is a `graft.Probe` target. */
class LanesSpec extends AnyFunSuite {

  test("lane keys are unique and every row is in a known group") {
    // a scale lane's key carries its factor, so it may share a query's name
    val keys = Lanes.all.map(l => if (l.scales) s"x1.${l.name}" else l.name)
    assert(keys.diff(keys.distinct).isEmpty)
    val groups = Set(Lanes.Headline, Lanes.Served, Lanes.CoreProbe, Lanes.Ingest, Lanes.Scale)
    assert(Lanes.all.filterNot(l => groups(l.group)).isEmpty)
  }

  test("every headline row names a SparkEntry query") {
    assert(Lanes.group(Lanes.Headline).map(_.name) === Lanes.headline)
    assert(Lanes.headline.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("every row parses as a Probe target: scale lanes at a factor, the rest by name") {
    Lanes.all.foreach { l =>
      val t = if (l.scales) s"${l.name}@x3" else l.name
      val Seq((label, lane, times)) = Probe.parseTargets(t)
      assert(label === t)
      assert(times === (if (l.scales) 3 else 1), t)
      // a headline row is its query; every other row resolves to itself
      if (l.group == Lanes.Headline) assert(lane.isEmpty, t)
      else assert(lane.contains(l), t)
    }
    val e = intercept[IllegalArgumentException](Probe.parseTargets("ingest_load_largest@x2"))
    assert(e.getMessage.contains("unknown lane 'ingest_load_largest'"))
  }
}
