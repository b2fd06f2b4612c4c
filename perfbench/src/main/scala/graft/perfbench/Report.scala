package graft.perfbench

import scala.collection.mutable

/** One reported figure with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The highest whole percentile with at least ten samples above it, for
    * the report: p90 needs 100 samples. */
  def tail(kind: String, xs: Seq[Double]): Option[(String, String)] = {
    val p = math.floor(100.0 * (1.0 - 10.0 / xs.length)).toInt
    if (xs.length < 20 || p < 50) None
    else Some(s"${kind}_p${p}_ms" -> f"${quantile(xs, p / 100.0)}%.4f ms (n=${xs.length})")
  }
}

/** Wall time of a run's phases, for the report. */
final class Clock {
  private var last = System.nanoTime()
  private val marks = mutable.ArrayBuffer.empty[(String, Double)]
  def mark(name: String): Unit = {
    val now = System.nanoTime()
    marks += name -> (now - last) / 1e9
    last = now
  }
  def render: String = marks.map { case (n, s) => f"$n=$s%.2f" }.mkString(" ")
}

/** What a workload run hands back to [[Main]]. */
final case class RunResult(endToEnd: Seq[Metric], perLayer: Seq[Metric],
                           attempted: Int, failed: Int, report: Seq[(String, String)])

/** Builds the per-layer metrics every workload shares from the client's
  * traced requests. A layer the workload never reaches reports 0. */
final class Layers(client: Client, cores: Int) {
  private val out = mutable.LinkedHashMap.empty[String, Metric]

  def put(name: String, value: Double, unit: String, n: Int): Unit =
    out(name) = Metric(name, if (value.isNaN) 0.0 else value, unit, n)

  def metrics(names: Seq[(String, String)]): Seq[Metric] =
    names.map { case (n, u) => out.getOrElse(n, Metric(n, 0.0, u, 0)) }

  /** Median duration (ms) of the spans called `name` inside `reqs`. */
  def spanMs(name: String, reqs: Seq[Outcome]): (Double, Int) = {
    val ids = reqs.map(_.id).toSet
    val ds = client.trace.spans.filter(s => s.name == name && ids(s.req)).map(_.nanos / 1e6)
    (Stats.median(ds), ds.length)
  }

  /** Catalyst, scheduler, executor, driver and trace metrics over `reqs`. */
  def common(reqs: Seq[Outcome]): Unit = {
    val n = reqs.length
    val work = reqs.map(r => client.counters.request(r.id))
    def per(f: Work => Double): Double = if (n == 0) 0.0 else work.map(f).sum / n
    val cat = reqs.map(r => client.counters.catalyst(r.startMs, r.endMs))
    Seq("analysis", "optimization", "planning").foreach { p =>
      put(s"catalyst.${p}_ms", Stats.mean(cat.map(_.getOrElse(p, 0L).toDouble)), "ms", n)
    }
    put("scheduler.jobs", per(_.jobs.toDouble), "count", n)
    put("scheduler.stages", per(_.stages.toDouble), "count", n)
    put("scheduler.tasks", per(_.tasks.toDouble), "count", n)
    put("scheduler.delay_ms", per(_.delayMs.toDouble), "ms", n)
    put("executor.run_ms", per(_.runMs.toDouble), "ms", n)
    put("executor.cpu_ms", per(_.cpuNs / 1e6), "ms", n)
    val wallMs = reqs.map(_.ms).sum
    put("executor.utilization", if (wallMs > 0) work.map(_.runMs).sum / (wallMs * cores) else 0.0, "ratio", n)
    put("executor.shuffle_write_mb", per(_.shuffleWrite / 1048576.0), "MB", n)
    put("executor.shuffle_read_mb", per(_.shuffleRead / 1048576.0), "MB", n)
    put("executor.spill_mb", per(_.spill / 1048576.0), "MB", n)
    put("executor.input_mb", per(_.input / 1048576.0), "MB", n)
    put("executor.peak_mem_mb", (work.map(_.peakMem) :+ 0L).max / 1048576.0, "MB", n)
    put("driver.gc_ms", Stats.mean(reqs.map(_.gcMs.toDouble)), "ms", n)
    put("driver.codegen_compiles", Stats.mean(reqs.map(_.compiles.toDouble)), "count", n)
    put("driver.codegen_ms", Stats.mean(reqs.map(_.codegenNs / 1e6)), "ms", n)
    put("trace.degraded", reqs.count(_.degraded).toDouble, "count", n)
    val ids = reqs.map(_.id).toSet
    val attributed = Trace.attribution(client.trace.spans).filter { case (root, _, _) => ids(root.req) }
    put("trace.residual_max", attributed.collect {
      case (root, _, residual) if root.nanos > 0 => residual.toDouble / root.nanos
    }.maxOption.getOrElse(0.0), "ratio", n)
    put("trace.residual_share", Layers.residualShare(attributed), "ratio", n)
  }
}

object Layers {
  /** Largest share of the requests' summed wall their layer spans may
    * leave uncovered; a traced run over it is not a correct run. The
    * bound is on the sum, not on each request: a GC pause or a class
    * load between two spans can leave a short request's gap well over
    * it, while a call no span wraps shows on every request of its kind. */
  val MaxResidual = 0.05

  /** Residual over wall, summed over (root, layers, residual) triples. */
  def residualShare(attributed: Seq[(Span, Long, Long)]): Double = {
    val wall = attributed.map(_._1.nanos).sum
    if (wall > 0) attributed.map(_._3).sum.toDouble / wall else 0.0
  }

  /** Every per-layer metric, in the order the traced run prints them. */
  val Names: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "graph.property.build_ms" -> "ms", "sources.load_s" -> "s",
    "graph.localexec.admit_ratio" -> "ratio", "graph.localexec.khop_ms" -> "ms",
    "graph.localexec.ssp_ms" -> "ms", "graph.localexec.warm_entries" -> "count",
    "graph.traversals.khop_ms" -> "ms", "graph.traversals.jobs_per_khop" -> "count",
    "graph.graphx.ssp_ms" -> "ms", "graph.graphx.supersteps_per_ssp" -> "count",
    "graph.graphx.jobs_per_ssp" -> "count",
    "sources.lookup_build_ms" -> "ms", "sources.input_mb_per_lookup" -> "MB",
    "sources.files_per_lookup" -> "count",
    "result.collect_ms" -> "ms", "result.rows_per_req" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.delay_ms" -> "ms",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.utilization" -> "ratio",
    "executor.shuffle_write_mb" -> "MB", "executor.shuffle_read_mb" -> "MB",
    "executor.spill_mb" -> "MB", "executor.input_mb" -> "MB", "executor.peak_mem_mb" -> "MB",
    "driver.gc_ms" -> "ms", "driver.codegen_compiles" -> "count", "driver.codegen_ms" -> "ms",
    "operators.relational.wall_s" -> "s", "operators.relational.cpu_s" -> "s",
    "operators.graphops.wall_s" -> "s", "operators.graphops.cpu_s" -> "s",
    "operators.dedup.wall_s" -> "s", "operators.dedup.cpu_s" -> "s",
    "operators.similarity.wall_s" -> "s", "operators.similarity.cpu_s" -> "s",
    "operators.multimodal.wall_s" -> "s", "operators.multimodal.cpu_s" -> "s",
    "functions.text.wall_s" -> "s", "functions.text.cpu_s" -> "s",
    "reset.clear_ms" -> "ms",
    "trace.degraded" -> "count", "trace.residual_max" -> "ratio", "trace.residual_share" -> "ratio",
    "trace.ops_per_s" -> "1/s", "trace.batch_warm_s" -> "s")
}
