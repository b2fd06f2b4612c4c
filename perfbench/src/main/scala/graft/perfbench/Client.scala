package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one request did: its interval, whether it failed, and (traced
  * runs) the JVM readings taken around it. `phase` is `cold`,
  * `window` or `warm`. */
final case class Outcome(id: Int, kind: String, phase: String,
                         startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                         error: Option[String], degraded: Boolean,
                         gcMs: Long, compiles: Long, codegenNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
}

/** The benchmark's single closed-loop client: it issues one request,
  * waits for the answer, then issues the next. Every request gets an id
  * that tags the Spark jobs it submits. With tracing on, each request is a
  * root span, the listener bus is drained after it so its counters are
  * complete when read, and a drain that times out marks the request
  * degraded instead of silently keeping counts that may be incomplete. */
final class Client(val spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  val trace = new Trace(traced)
  val counters = new Counters
  val outcomes = mutable.ArrayBuffer.empty[Outcome]
  private var nextReq = 0

  sc.addSparkListener(counters)
  if (traced) {
    spark.listenerManager.register(counters)
    trace.onEnter = span => sc.setLocalProperty(Counters.SpanKey, span.toString)
    trace.onExit = parent =>
      sc.setLocalProperty(Counters.SpanKey, if (parent >= 0) parent.toString else null)
  }

  def span[A](name: String)(body: => A): A = trace.span(name)(body)

  /** Run one request; the answer, or None when it threw. */
  def request[A](kind: String, phase: String)(body: => A): Option[A] = {
    val id = nextReq
    nextReq += 1
    sc.setLocalProperty(Counters.ReqKey, id.toString)
    val gc0 = if (traced) Jvm.gcMillis() else 0L
    val cc0 = if (traced) Jvm.codegenCompiles() else 0L
    val cn0 = if (traced) Jvm.codegenNanos() else 0L
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(trace.request(id, s"req.$kind")(body))
      catch { case t: Throwable => Left(Option(t.getMessage).getOrElse(t.getClass.getName)) }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    sc.setLocalProperty(Counters.ReqKey, null)
    val gc = if (traced) Jvm.gcMillis() - gc0 else 0L
    val cc = if (traced) Jvm.codegenCompiles() - cc0 else 0L
    val cn = if (traced) Jvm.codegenNanos() - cn0 else 0L
    val degraded = traced && !org.apache.spark.perfbench.Internals.drained(sc, Client.DrainTimeoutMs)
    outcomes += Outcome(id, kind, phase, t0, t1, ms0, ms1,
      result.left.toOption.map(_.replaceAll("\\s+", " ").take(200)), degraded, gc, cc, cn)
    result.toOption
  }

  /** Mark a request failed after the fact: its answer did not match the
    * oracle. */
  def fail(id: Int, why: String): Unit = {
    val i = outcomes.indexWhere(_.id == id)
    if (i >= 0 && outcomes(i).ok) outcomes(i) = outcomes(i).copy(error = Some(why))
  }

  def lastId: Int = nextReq - 1
}

object Client {
  /** Bound on the per-request listener-bus drain in traced runs. */
  val DrainTimeoutMs = 3000L
}
