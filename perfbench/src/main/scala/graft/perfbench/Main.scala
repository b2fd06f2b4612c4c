package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Minimal JSON writing: values are passed in already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** What [[Main]] hands a workload: the session it runs on and the run's
  * parameters. */
final case class Ctx(spark: SparkSession, client: Client, work: Path, seed: Long,
                     seconds: Double, cores: Int, clock: Clock)

/** One set-up: session start, graph build (graph workloads) and the
  * rest of the load, and their total. A workload's `setUp` fills in the
  * build and the load; [[Main]] the session start and the total. */
final case class Setup(sessionS: Double, buildMs: Double, loadS: Double, totalS: Double)

object Setup {
  /** Each set-up as total(session start), for the report. */
  def render(setups: Seq[Setup]): String =
    setups.map(x => f"${x.totalS}%.2f(${x.sessionS}%.2f)").mkString(",")
}

/** A workload loads its inputs into a fresh session in `setUp`, as often
  * as [[Main]] asks, and then runs on the last session. */
trait Workload {
  def setUp(): Setup
  def run(setups: Seq[Setup]): RunResult
}

/** One benchmark run inside one JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR --out FILE`.
  * Writes the run's metrics, counts and report to `--out`; `run.py`
  * turns that into the benchmark's result line. */
object Main {
  val Workloads = Seq("graph_local", "graph_dist", "registry_batch")
  val SetupRuns = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; expected one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val clock = new Clock
    val make: Ctx => Workload = workload match {
      case "registry_batch" =>
        val dir = out.getParent.resolve("registry")
        Files.createDirectories(dir)
        c => new RegistryWorkload(c, opt("data"), dir)
      case graphWorkload =>
        val shape = if (graphWorkload == "graph_local") GraphWorkload.Local else GraphWorkload.Dist
        val data = GraphData.powerLaw(shape.nodes, shape.edges, seed)
        val in = work.resolve(workload).resolve("in")
        data.writeFiles(in.resolve("nodes"), in.resolve("edges"), GraphWorkload.Parts)
        c => new GraphWorkload(shape, data, in, c)
    }
    clock.mark("inputs")

    // Every set-up starts its own session and loads the inputs into it;
    // the run continues on the last one. A set-up's time is session
    // start plus load, and setup_s is the median over the set-ups.
    var ctx: Ctx = null
    var wl: Workload = null
    val setups = (1 to SetupRuns).map { i =>
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.tune(SparkSession.builder().master(s"local[$cores]")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve(s"warehouse$i").toString), cores)
        .getOrCreate()
      val sessionS = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLogLevel("ERROR")
      ctx = Ctx(spark, new Client(spark, traced), work.resolve(workload), seed, seconds, cores, clock)
      wl = make(ctx)
      val load = wl.setUp()
      load.copy(sessionS = sessionS, totalS = (System.nanoTime() - t0) / 1e9)
    }
    clock.mark("setup")
    val spark = ctx.spark
    val client = ctx.client
    val result = wl.run(setups)

    val residualShare = if (traced) writeTrace(client, work.resolve("trace.jsonl")) else 0.0
    val metrics = if (traced) result.perLayer else result.endToEnd
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> traced.toString,
      "cores" -> cores.toString,
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "residual_ok" -> (residualShare <= Layers.MaxResidual).toString,
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString)))),
      "report" -> Json.obj(result.report.map { case (k, v) => k -> Json.str(v) })))
    Files.writeString(out, json + "\n")
    spark.stop()
  }

  /** Spans to JSON lines; returns the share of all requests' wall that
    * no layer span covers. */
  private def writeTrace(client: Client, path: Path): Double = {
    val spans = client.trace.spans
    val self = Trace.selfNanos(spans)
    val degraded = client.outcomes.filter(_.degraded).map(_.id).toSet
    val w = Files.newBufferedWriter(path)
    try Trace.toJsonLines(spans, self, degraded, client.counters.span).foreach { l => w.write(l); w.write('\n') }
    finally w.close()
    Layers.residualShare(Trace.attribution(spans))
  }
}
