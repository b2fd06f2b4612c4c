package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, req: Int, start: Long, end: Long, name: String = "x") =
    Span(id, parent, req, name, start, end)

  test("self time subtracts the union of child intervals, overlaps counted once") {
    val spans = Seq(
      span(0, -1, 0, 0, 100),
      span(1, 0, 0, 10, 40),
      span(2, 0, 0, 30, 50), // overlaps span 1 by 10
      span(3, 1, 0, 15, 20),
      span(4, 0, 0, 90, 130)) // runs past its parent: clipped to 90..100
    val self = Trace.selfNanos(spans)
    assert(self(0) == 100 - (40 + 10)) // children cover 10..50 and 90..100
    assert(self(1) == 30 - 5)
    assert(self(2) == 20)
    assert(self(3) == 5)
    assert(self(4) == 40)
  }

  test("layer self times plus the residual add up to each request's wall") {
    val spans = Seq(
      span(0, -1, 7, 1000, 2000),
      span(1, 0, 7, 1000, 1300),
      span(2, 0, 7, 1300, 1990),
      span(3, 2, 7, 1400, 1900),
      span(4, -1, -1, 2000, 2500)) // between requests: not a request root
    val Seq((root, layers, residual)) = Trace.attribution(spans)
    assert(root.req == 7)
    assert(layers + residual == root.nanos)
    assert(residual == 10)
    assert(residual.toDouble / root.nanos <= Layers.MaxResidual)
  }

  test("the run's residual share is summed residual over summed wall") {
    val spans = Seq(
      span(0, -1, 0, 0, 100), span(1, 0, 0, 0, 70), // a short request with a 30 ns gap
      span(2, -1, 1, 100, 1000), span(3, 2, 1, 100, 990))
    val attributed = Trace.attribution(spans)
    assert(attributed.map(_._3) == Seq(30L, 10L))
    assert(Layers.residualShare(attributed) == 40.0 / 1000)
    assert(Layers.residualShare(attributed) <= Layers.MaxResidual)
    assert(Layers.residualShare(Nil) == 0.0)
  }

  test("a traced request's spans nest under its root and account for its wall") {
    val t = new Trace(on = true)
    t.request(0, "req.khop") {
      t.span("graph.localexec.admit")(Thread.sleep(2))
      t.span("graph.localexec.khop")(Thread.sleep(20))
      t.span("result.collect")(Thread.sleep(5))
    }
    val Seq((root, layers, residual)) = Trace.attribution(t.spans)
    assert(root.name == "req.khop")
    assert(layers + residual == root.nanos)
    assert(layers > 0 && residual >= 0)
    assert(t.spans.count(_.parent == root.id) == 3)
  }

  test("tracing off records nothing and still runs the body") {
    val t = new Trace(on = false)
    assert(t.request(0, "req.ssp")(t.span("graph.graphx.ssp")(41) + 1) == 42)
    assert(t.spans.isEmpty)
  }

  test("quantiles interpolate like numpy") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.median(Nil).isNaN)
  }

  test("the request stream keeps the mix in every short prefix") {
    val data = GraphData.powerLaw(1000, 10000, 5)
    for (seed <- 1 to 20) {
      val rs = GraphWorkload.requests(new java.util.SplittableRandom(seed), data)
        .take(GraphWorkload.MinWindow).toSeq
      val ks = rs.collect { case KHop(_, k) => k }.sorted
      assert(ks.length == 7 && (1 to 3).forall(k => ks.count(_ == k) >= 2))
      assert(ks(3) == 2) // the median k-hop is a 2-hop, whatever the seed
      assert(rs.count(_.isInstanceOf[Ssp]) == 6)
      assert(rs.count(_.isInstanceOf[Lookup]) == 5)
      assert(rs.collect { case KHop(s, _) => s; case Ssp(s, _) => s }.forall(_ < 100))
    }
  }

  test("ssp targets sit at the hop distance asked for") {
    val data = GraphData.powerLaw(2000, 20000, 3)
    val rng = new java.util.SplittableRandom(1)
    for (source <- Seq(0, 5, 150); hops <- Seq(1, 2, 3, 4)) {
      val levels = data.levels(source, -1)
      val t = data.targetAt(source, hops, rng)
      if (levels.indices.exists(v => v != source && levels(v) == hops)) {
        assert(t != source && levels(t) == hops)
        assert(data.shortestPath(source, t) == hops)
      }
    }
  }

  test("the generator is seeded and its oracle agrees with itself") {
    val a = GraphData.powerLaw(500, 5000, 11)
    val b = GraphData.powerLaw(500, 5000, 11)
    assert(a.src.sameElements(b.src) && a.dst.sameElements(b.dst))
    assert(!GraphData.powerLaw(500, 5000, 12).src.sameElements(a.src))
    assert(a.src.indices.forall(i => a.src(i) != a.dst(i)))
    val (n, _) = a.kHop(0, 1)
    assert(n == a.src.indices.filter(a.src(_) == 0).map(a.dst(_)).distinct.length)
    assert(a.shortestPath(0, 0) == 0)
  }
}
