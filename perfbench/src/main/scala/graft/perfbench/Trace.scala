package graft.perfbench

import scala.collection.mutable

/** One timed interval around a call into a layer. `req` is the request the
  * span belongs to (-1 outside any request); `parent` is the enclosing
  * span (-1 for a root). Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
                      start: Long, end: Long) {
  def nanos: Long = end - start
}

/** Span recorder for the single client thread. With tracing off, `span`
  * only runs its body. Spans are kept in memory and written out when the
  * run ends. `onEnter` / `onExit` let the counters tag the Spark jobs a
  * span submits (see [[Counters]]). */
final class Trace(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentReq = -1
  /** Called with the span entered, and on exit with the span that is
    * current again (-1 for none). */
  var onEnter: Int => Unit = _ => ()
  var onExit: Int => Unit = _ => ()

  def spans: Seq[Span] = done.toSeq
  private def current: Int = stack.headOption.getOrElse(-1)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack ::= id
      onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        onExit(current)
        done += Span(id, parent, currentReq, name, t0, t1)
      }
    }

  /** Run `body` as request `req`: a root span named `name` whose children
    * are the layer calls the request makes. */
  def request[A](req: Int, name: String)(body: => A): A = {
    val outer = currentReq
    currentReq = req
    try span(name)(body) finally currentReq = outer
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of that
    * interval its child spans cover (overlapping children counted once). */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.nanos - covered)
    }.toMap
  }

  /** Per request root: (wall ns, sum of self ns over the root's layer
    * descendants, residual ns). Self times over the whole tree add up to
    * the root's wall, so the residual is the root's own self time: the
    * part of the request no layer span covers. */
  def attribution(spans: Seq[Span]): Seq[(Span, Long, Long)] = {
    val self = selfNanos(spans)
    spans.filter(s => s.parent < 0 && s.req >= 0).map { root =>
      val layers = spans.filter(s => s.req == root.req && s.id != root.id)
        .map(s => self(s.id)).sum
      (root, layers, self(root.id))
    }
  }

  /** JSON lines, one span per line, for the run's trace file, each with
    * the Spark work its own jobs did. */
  def toJsonLines(spans: Seq[Span], self: Map[Int, Long], degraded: Set[Int],
                  work: Int => Work): Iterator[String] =
    spans.iterator.map { s =>
      val w = work(s.id)
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},"run_ms":${w.runMs},"cpu_ns":${w.cpuNs},""" +
        s""""degraded":${degraded.contains(s.req)}}"""
    }
}
