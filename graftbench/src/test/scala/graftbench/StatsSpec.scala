package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p90 has ten samples beyond it from 100 samples on") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.samplesBeyond(xs, 90) == 10)
    assert(Stats.samplesBeyond(xs.dropRight(1), 90) == 9)
    assert(Stats.samplesBeyond(xs.take(20), 75) == 5)
    // nearest rank: the p50 of 1..4 is 2, the median interpolates to 2.5
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("union of intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 100L), (40L, 50L))) == 100L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("self time is the span minus the union of its clipped children") {
    // op [0, 100) with jobs [10, 30), [20, 40) and one running past its end
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((-50L, 200L))) == 0L)
  }

  test("failed_ratio counts failures against attempted ops") {
    assert(Stats.failedRatio(200, 0) == 0.0)
    assert(Stats.failedRatio(200, 3) == 0.015)
    assert(Stats.failedRatio(1, 1) == 1.0)
    intercept[IllegalArgumentException](Stats.failedRatio(0, 0))
    intercept[IllegalArgumentException](Stats.failedRatio(5, 6))
  }

  test("kv commits: version bumps, every publish of a new or recreated table") {
    import KvProbe.{Snapshot, Table}
    def snap(catalogSeq: Long, ts: (String, Table)*) = Snapshot(ts.toMap, catalogSeq, 0L)
    val a = snap(4L, "t" -> Table(3L, "f1", 100L), "u" -> Table(0L, "f2", 10L))
    assert(KvProbe.commits(a, a) == 0L)
    // t published twice, v created with three publishes, u dropped
    assert(KvProbe.commits(a, snap(4L, "t" -> Table(5L, "f3", 150L),
      "v" -> Table(2L, "f4", 50L))) == 5L)
    // u dropped and rebuilt with as many publishes: a new manifest file
    assert(KvProbe.commits(a, snap(4L, "t" -> Table(3L, "f1", 100L),
      "u" -> Table(0L, "f5", 10L))) == 1L)
    // t recreated with fewer publishes; the keyed catalog bumped twice
    assert(KvProbe.commits(a, snap(6L, "t" -> Table(1L, "f6", 20L))) == 4L)
  }
}
