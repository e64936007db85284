package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail keeps at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    // 40 samples: the 30th smallest has exactly 10 above it (p75)
    assert(Stats.tail(xs).contains(30.0))
    assert(xs.count(_ > Stats.tail(xs).get) == 10)
    // 11 samples: only the smallest has 10 beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains(1.0))
    // 10 samples: no percentile has 10 samples beyond it
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("tail ignores input order") {
    val xs = scala.util.Random.shuffle((1 to 25).map(_.toDouble))
    assert(Stats.tail(xs).contains(15.0))
  }

  test("union of overlapping, nested, touching and empty intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 5L), (3L, 8L))) == 18L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("driver gap is the window minus the union of clipped job intervals") {
    // jobs overlap each other and stick out of the [100, 200) window
    val jobs = Seq((90L, 120L), (110L, 130L), (150L, 160L), (190L, 260L))
    // covered: [100,130) + [150,160) + [190,200) = 30 + 10 + 10
    assert(Stats.gap(jobs, 100L, 200L) == 50L)
    assert(Stats.gap(Nil, 100L, 200L) == 100L)
    val busy = Stats.unionLength(Stats.clip(jobs, 100L, 200L))
    assert(busy + Stats.gap(jobs, 100L, 200L) == 100L)
  }

  test("span self time subtracts the union of its direct children") {
    val spans = Seq(
      Span(1, 0, "pipeline.pass", "r", 0, 100),
      Span(2, 1, "pipeline.extract", "r", 10, 40),
      Span(3, 1, "functions.tag", "r", 30, 60), // overlaps span 2
      Span(4, 2, "pipeline.list", "r", 15, 20), // grandchild of 1
      Span(5, 0, "store.build", "r", 200, 210))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100 - 50) // children cover [10, 60)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(self(5) == 10)
  }

  test("the tracer records nested spans and sums self time by layer") {
    val tr = new Tracer(true, "t")
    tr.span("pipeline.pass") {
      tr.span("functions.tag")(Thread.sleep(5))
    }
    val Seq(outer, inner) = tr.spans
    assert(outer.name == "pipeline.pass" && inner.parent == outer.id)
    assert(tr.subtree(outer.id) == Set(outer.id, inner.id))
    val total = outer.seconds
    assert(math.abs(tr.layerSelfSeconds("pipeline") + tr.layerSelfSeconds("functions") - total) < 1e-9)
    val off = new Tracer(false, "t")
    assert(off.span("pipeline.pass")(7) == 7 && off.spans.isEmpty)
  }

  test("per-layer metrics are completed with zeros in declared order") {
    val done = PerLayer.complete(Seq("spark.jobs" -> Metric(3, "count")))
    assert(done.map(_._1) == PerLayer.Units.map(_._1))
    assert(done.toMap.apply("spark.jobs").value == 3)
    assert(done.toMap.apply("store.fold_s") == Metric(0, "s"))
    assertThrows[IllegalArgumentException](PerLayer.complete(Seq("spark.jobs" -> Metric(3, "s"))))
  }
}
