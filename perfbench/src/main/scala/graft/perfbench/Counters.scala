package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor counts for one span or one request. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var delayMs = 0L // job submission to its first task launch, summed
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var peakMem = 0L
}

/** The benchmark's own listener. Jobs are attributed to the request and
  * span that submitted them through two local properties the client
  * thread sets around each request and span; stages and tasks follow
  * their job. Catalyst phase times come from every query execution that
  * completes, with each phase's wall-clock start, so they can be matched
  * to the request whose interval holds it. */
final class Counters extends SparkListener with QueryExecutionListener {
  import Counters._

  private val byReq = new ConcurrentHashMap[Int, Work]()
  private val bySpan = new ConcurrentHashMap[Int, Work]()
  private val stageOwner = new ConcurrentHashMap[Int, (Int, Int, Int)]() // stage -> (job, req, span)
  private val jobSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobLaunched = ConcurrentHashMap.newKeySet[Int]()
  private val seenQe = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]()))
  /** (phase, wall-clock start ms, duration ms) of every completed query. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  private def each(req: Int, span: Int)(f: Work => Unit): Unit = {
    if (req >= 0) f(byReq.computeIfAbsent(req, _ => new Work))
    if (span >= 0) f(bySpan.computeIfAbsent(span, _ => new Work))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = prop(e.properties, ReqKey)
    val span = prop(e.properties, SpanKey)
    e.stageIds.foreach(s => stageOwner.put(s, (e.jobId, req, span)))
    jobSubmitted.put(e.jobId, e.time)
    each(req, span)(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (_, r, s) =>
      each(r, s)(_.stages += 1)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (job, r, s) =>
      if (jobLaunched.add(job)) {
        val delay = math.max(0L, e.taskInfo.launchTime - jobSubmitted.getOrDefault(job, e.taskInfo.launchTime))
        each(r, s)(_.delayMs += delay)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (_, r, s) =>
      val m = e.taskMetrics
      each(r, s) { w =>
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.input += m.inputMetrics.bytesRead
          w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    if (seenQe.add(qe))
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs, p.durationMs))
      }

  def request(req: Int): Work = Option(byReq.get(req)).getOrElse(new Work)
  def span(id: Int): Work = Option(bySpan.get(id)).getOrElse(new Work)

  /** Catalyst milliseconds per phase for phases that started inside the
    * wall-clock interval [fromMs, toMs]. */
  def catalyst(fromMs: Long, toMs: Long): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    phases.asScala.foreach { case (n, s, d) => if (s >= fromMs && s <= toMs) acc(n) += d }
    acc.toMap
  }
}

object Counters {
  val ReqKey = "perfbench.req"
  val SpanKey = "perfbench.span"
}

/** Driver-JVM readings taken at request boundaries. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenCompiles(): Long = org.apache.spark.perfbench.Internals.codegenCompiles()

  def codegenNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Heap still in use after full collections: what the run retains.
    * Collects until two readings agree within 1 MB, so cached blocks
    * that non-blocking unpersists are still releasing are not counted. */
  def retainedHeapMb(): Double = {
    def reading(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = reading()
    var cur = reading()
    var tries = 2
    while (math.abs(cur - prev) > 1.0 && tries < 20) {
      prev = cur
      cur = reading()
      tries += 1
    }
    cur
  }
}
