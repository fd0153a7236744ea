package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("interval union: overlaps merge, touching and disjoint spans add") {
    assert(Intervals.covered(Seq((10L, 30L), (20L, 50L), (70L, 80L)), 0, 100) == 50)
    assert(Intervals.covered(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    assert(Intervals.covered(Seq((5L, 15L)), 10, 100) == 5)
    assert(Intervals.covered(Nil, 0, 100) == 0)
  }

  test("self time is the span minus what its children cover") {
    val tr = new Tracer(true)
    tr.spans += Span(0, -1, "runner", "build", 0L, 100L)
    tr.spans += Span(1, 0, "models", "build", 10L, 30L)
    tr.spans += Span(2, 0, "models", "build", 20L, 50L)
    tr.spans += Span(3, 2, "runner", "build", 25L, 40L)
    tr.spans += Span(4, -1, "sinks", "replicate", 100L, 130L)
    val self = tr.selfTimes
    assert(self == Map(0 -> 60L, 1 -> 20L, 2 -> 15L, 3 -> 15L, 4 -> 30L))
    // a grandchild is covered by its parent, not counted twice
    assert(tr.innermost(30L) == 3)
    assert(tr.innermost(45L) == 2)
    assert(tr.innermost(99L) == 0)
    assert(tr.innermost(200L) == -1)
    val m = tr.layerMetrics
    def near(k: String, v: Double) = assert(math.abs(m(k) - v) < 1e-12, k)
    near("runner.self_s", 75e-6)
    near("models.self_s", 35e-6)
    near("sinks.self_s", 30e-6)
    near("runner.model_max_s", 100e-6)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the row check catches a planted wrong row, a lost row and a duplicate") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val good = Seq((1L, "a", 0.1 + 0.2), (2L, "b", 1.5), (3L, "c", -2.0))
        .toDF("id", "s", "x")
      val fp = Check.fingerprint(good)
      // order and partitioning do not matter, nor the last bits of a sum
      assert(Check.fingerprint(good.orderBy($"id".desc).repartition(3)) == fp)
      assert(Check.fingerprint(Seq((3L, "c", -2.0), (1L, "a", 0.3),
        (2L, "b", 1.5)).toDF("id", "s", "x")) == fp)
      val planted = Seq((1L, "a", 0.3), (2L, "B", 1.5), (3L, "c", -2.0))
        .toDF("id", "s", "x")
      assert(Check.fingerprint(planted) != fp)
      assert(Check.fingerprint(good.filter($"id" =!= 2L)) != fp)
      assert(Check.fingerprint(good.union(good.filter($"id" === 1L))) != fp)
      val both = Check.fingerprints(Seq("good" -> good, "planted" -> planted,
        "empty" -> good.filter($"id" < 0L)))
      assert(both("good") == fp && both("planted") != fp && both("empty") == "0:0")
    } finally spark.stop()
  }
}
