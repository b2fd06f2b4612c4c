package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.Reset
import graft.graph.{GraphXBridge, LocalExec, PropertyGraph, Traversals}
import graft.sources.Bucketing

/** Size of a graph workload's input and the route LocalExec should pick
  * for it (1.0 = every traversal driver-local, 0.0 = every one
  * distributed), and how many cold passes a run makes. */
final case class GraphShape(nodes: Int, edges: Int, maxBytes: Option[Long], expectedAdmit: Double,
                            coldPasses: Int)

sealed trait GraphReq { def kind: String }
final case class Lookup(id: Int) extends GraphReq { def kind = "lookup" }
final case class KHop(src: Int, k: Int) extends GraphReq { def kind = "khop" }
final case class Ssp(src: Int, dst: Int) extends GraphReq { def kind = "ssp" }

/** The reference's interactive `GraphDriver` ops against a seeded
  * power-law digraph: `get_single_node` (bucketed point lookup),
  * `get_nodes_hops` (k-hop) and `ssp`, issued by one closed-loop client. */
final class GraphWorkload(shape: GraphShape, data: GraphData, in: Path, ctx: Ctx) extends Workload {
  import GraphWorkload._
  private val spark = ctx.spark
  private val client = ctx.client

  private var edges: DataFrame = _
  private var graph: PropertyGraph = _

  /** Per request id: the request, its route (true = driver-local), the
    * rows it returned, GraphX supersteps, files its scan read. */
  private val issued = mutable.LinkedHashMap.empty[Int, GraphReq]
  private val answers = mutable.Map.empty[Int, Any]
  private val localRoute = mutable.Map.empty[Int, Boolean]
  private val rows = mutable.Map.empty[Int, Int]
  private val supersteps = mutable.Map.empty[Int, Int]
  private val files = mutable.Map.empty[Int, Long]

  /** Load the node and edge lists, stage the edges to parquet and the
    * nodes (with out-degree) to a bucketed table. */
  def setUp(): Setup = {
    val stage = ctx.work.resolve("stage")
    shape.maxBytes.foreach(b => spark.conf.set(LocalExec.MaxBytesKey, b.toString))
    client.span("reset.clear")(Reset.clear(spark))
    val t0 = System.nanoTime()
    val g = client.span("graph.property.build")(
      PropertyGraph.fromNodeEdgeLists(spark, in.resolve("nodes").toString, in.resolve("edges").toString))
    val t1 = System.nanoTime()
    client.span("sources.load") {
      g.edges.select("src", "dst").write.mode("overwrite").parquet(stage.toString)
      edges = spark.read.parquet(stage.toString)
      val degree = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
      Bucketing.writeBucketed(
        g.nodes.select("id", "label").join(degree, Seq("id"), "left").na.fill(0L, Seq("out_degree")),
        NodeTable, "id", Buckets)
    }
    graph = PropertyGraph(spark.table(NodeTable), edges)
    client.span("graph.localexec.admit")(LocalExec.smallEnoughEdges(edges))
    val t2 = System.nanoTime()
    Setup(0.0, (t1 - t0) / 1e6, (t2 - t1) / 1e9, (t2 - t0) / 1e9)
  }

  private def issue(r: GraphReq, phase: String): Unit = {
    val id = client.lastId + 1
    issued(id) = r
    val ans = client.request(r.kind, phase) {
      r match {
        case Lookup(v) =>
          val df = client.span("sources.lookup_build")(Bucketing.pointLookup(spark, NodeTable, "id", v.toLong))
          (client.span("result.collect")(df.collect()), df)
        case KHop(s, k) =>
          val local = client.span("graph.localexec.admit")(LocalExec.smallEnoughEdges(edges))
          localRoute(id) = local
          val df = client.span(if (local) "graph.localexec.khop" else "graph.traversals.khop")(
            Traversals.kHop(edges, s.toLong, k))
          client.span("result.collect")(df.collect())
        case Ssp(s, t) =>
          val local = client.span("graph.localexec.admit")(LocalExec.smallEnoughEdges(edges))
          localRoute(id) = local
          var rounds = 0
          val d = client.span(if (local) "graph.localexec.ssp" else "graph.graphx.ssp")(
            GraphXBridge.shortestPathLength(spark, graph, s.toLong, t.toLong, onRound = _ => rounds += 1))
          supersteps(id) = rounds
          d
      }
    }
    // answers are reduced outside the timed request
    ans.foreach {
      case (rs: Array[org.apache.spark.sql.Row] @unchecked, df: DataFrame @unchecked) =>
        rows(id) = rs.length
        files(id) = filesRead(df)
        answers(id) = rs.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
      case rs: Array[org.apache.spark.sql.Row] @unchecked =>
        rows(id) = rs.length
        answers(id) = (rs.length, rs.map(x => GraphData.mix(x.getLong(0) * 31 + x.getInt(1))).sum)
      case d: Long => answers(id) = d
      case other => answers(id) = other
    }
  }

  private def expected(r: GraphReq): Any = r match {
    case Lookup(v) => Seq((v.toLong, "node", data.outDegree(v).toLong))
    case KHop(s, k) => data.kHop(s, k)
    case Ssp(s, t) => data.shortestPath(s, t)
  }

  def run(setups: Seq[Setup]): RunResult = {
    // The request stream runs untimed for WarmupSeconds, so the JIT has
    // settled, then timed in the window for at least `seconds` and at
    // least MinWindow requests. The cold passes follow: one request of
    // each kind, drawn from a second stream (the k-hop always a 2-hop),
    // each pass right after a Reset.clear. Requests are drawn ahead, so
    // the BFS behind each ssp target stays out of the timed window.
    val stream = {
      val it = requests(new SplittableRandom(ctx.seed), data)
      Vector.fill(Planned)(it.next()).iterator ++ it
    }
    ctx.clock.mark("plan")
    val warmupEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    while (System.nanoTime() < warmupEnd) issue(stream.next(), "warmup")
    ctx.clock.mark("warmup")
    val warm0 = LocalExec.warmEntries
    val w0 = System.nanoTime()
    val deadline = w0 + (ctx.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline || n < MinWindow) {
      issue(stream.next(), "window")
      n += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val warmGrowth = LocalExec.warmEntries - warm0
    ctx.clock.mark("window")
    val coldStream = requests(new SplittableRandom(GraphData.mix(ctx.seed)), data)
    def nextOf(kind: String): GraphReq = {
      var r = coldStream.next()
      while (r.kind != kind) r = coldStream.next()
      r match {
        case KHop(s, _) => KHop(s, 2)
        case other => other
      }
    }
    val coldPasses = (1 to shape.coldPasses).map(_ => Kinds.map(nextOf))
    coldPasses.foreach { pass =>
      client.span("reset.clear")(Reset.clear(spark))
      pass.foreach(issue(_, "cold"))
    }
    ctx.clock.mark("cold")

    org.apache.spark.perfbench.Internals.drained(spark.sparkContext, 10000L)
    issued.foreach { case (id, r) =>
      answers.get(id).foreach { got =>
        val want = expected(r)
        if (got != want) client.fail(id, s"$r returned $got, expected $want")
      }
    }
    val heap = Jvm.retainedHeapMb()
    ctx.clock.mark("check")

    val all = client.outcomes.toSeq
    val window = all.filter(_.phase == "window")
    val ok = window.filter(_.ok)
    def lat(kind: String) = ok.filter(_.kind == kind).map(_.ms)
    val opsPerS = ok.length / windowS
    // the cost of one request of each kind: cold, at its median over the
    // cold passes; warm, at its window median
    val cold = all.filter(o => o.phase == "cold" && o.ok)
    def coldLat(kind: String) = cold.filter(_.kind == kind).map(_.ms)
    val coldS = Kinds.map(k => Stats.median(coldLat(k))).sum / 1000.0
    val warmS = Kinds.map(k => Stats.median(lat(k))).sum / 1000.0
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.map(_.totalS)), "s", setups.length),
      Metric("lookup_p50_ms", Stats.median(lat("lookup")), "ms", lat("lookup").length),
      Metric("khop_p50_ms", Stats.median(lat("khop")), "ms", lat("khop").length),
      Metric("ssp_p50_ms", Stats.median(lat("ssp")), "ms", lat("ssp").length),
      Metric("ops_per_s", opsPerS, "1/s", ok.length),
      Metric("batch_cold_s", coldS, "s", shape.coldPasses),
      Metric("batch_warm_s", warmS, "s", ok.length),
      Metric("retained_heap_mb", heap, "MB", 1))

    val traversals = window.filter(o => o.kind == "khop" || o.kind == "ssp")
    val admit = if (traversals.isEmpty) 0.0
      else traversals.count(o => localRoute.getOrElse(o.id, false)).toDouble / traversals.length
    def jobsPer(kind: String): Double = {
      val os = window.filter(_.kind == kind)
      if (os.isEmpty) 0.0 else os.map(o => client.counters.request(o.id).jobs).sum.toDouble / os.length
    }
    val layers = new Layers(client, ctx.cores)
    layers.common(window)
    layers.put("session.start_s", Stats.median(setups.map(_.sessionS)), "s", setups.length)
    layers.put("graph.property.build_ms", Stats.median(setups.map(_.buildMs)), "ms", setups.length)
    layers.put("sources.load_s", Stats.median(setups.map(_.loadS)), "s", setups.length)
    layers.put("graph.localexec.admit_ratio", admit, "ratio", traversals.length)
    Seq("graph.localexec.khop", "graph.localexec.ssp", "graph.traversals.khop", "graph.graphx.ssp",
        "sources.lookup_build", "result.collect").foreach { s =>
      val (v, n) = layers.spanMs(s, window)
      layers.put(s + "_ms", v, "ms", n)
    }
    layers.put("graph.localexec.warm_entries", warmGrowth.toDouble, "count", 1)
    layers.put("graph.traversals.jobs_per_khop", jobsPer("khop"), "count", window.count(_.kind == "khop"))
    layers.put("graph.graphx.jobs_per_ssp", jobsPer("ssp"), "count", window.count(_.kind == "ssp"))
    val distSsp = window.filter(o => o.kind == "ssp" && !localRoute.getOrElse(o.id, true))
    layers.put("graph.graphx.supersteps_per_ssp",
      Stats.mean(distSsp.map(o => supersteps.getOrElse(o.id, 0).toDouble)), "count", distSsp.length)
    val lookups = window.filter(_.kind == "lookup")
    layers.put("sources.input_mb_per_lookup",
      Stats.mean(lookups.map(o => client.counters.request(o.id).input / 1048576.0)), "MB", lookups.length)
    layers.put("sources.files_per_lookup",
      Stats.mean(lookups.map(o => files.getOrElse(o.id, 0L).toDouble)), "count", lookups.length)
    val fetched = window.filter(o => rows.contains(o.id))
    layers.put("result.rows_per_req", Stats.mean(fetched.map(o => rows(o.id).toDouble)), "count", fetched.length)
    val clears = client.trace.spans.filter(_.name == "reset.clear").map(_.nanos / 1e6)
    layers.put("reset.clear_ms", Stats.median(clears), "ms", clears.length)
    layers.put("trace.ops_per_s", opsPerS, "1/s", ok.length)
    layers.put("trace.batch_warm_s", warmS, "s", ok.length)

    val report = mutable.ArrayBuffer[(String, String)](
      "phases_s" -> ctx.clock.render,
      "setup_runs_s" -> Setup.render(setups),
      "cold_ms" -> Kinds.map(k => s"$k=" + coldLat(k).map(x => f"$x%.0f").mkString("/")).mkString(" "),
      "generator" -> s"power-law nodes=${shape.nodes} edges=${shape.edges} (after self-loop drop: ${data.edges}) seed=${ctx.seed}",
      "route" -> f"admit_ratio=$admit%.3f expected=${shape.expectedAdmit}%.1f jobs_per_khop=${jobsPer("khop")}%.2f jobs_per_ssp=${jobsPer("ssp")}%.2f jobs_per_lookup=${jobsPer("lookup")}%.2f warm_entries_growth=$warmGrowth",
      "estimate_bytes" -> edges.select(col("src").cast("long"), col("dst").cast("long"))
        .queryExecution.optimizedPlan.stats.sizeInBytes.toString,
      "window_errors" -> s"${window.length - ok.length} of ${window.length}")
    if (ok.length < 100)
      report += "window_ms" -> ok.map(o => f"${issued(o.id)}=${o.ms}%.0f").mkString(" ")
    Kinds.foreach { k =>
      report ++= Stats.tail(k, lat(k))
    }
    val failures = all.filterNot(_.ok)
    failures.take(5).foreach(o => report += s"failed.${o.id}" -> o.error.getOrElse(""))
    RunResult(e2e, layers.metrics(Layers.Names), all.length, failures.length, report.toSeq)
  }
}

object GraphWorkload {
  val NodeTable = "perfbench_nodes"
  val Buckets = 8
  /** Input files per list, so the text scan splits across cores. */
  val Parts = 4

  /** graph_dist makes fewer cold passes: each takes about two seconds,
    * and the run has to stay short. Its median over three passes spread
    * no more across seeds than over five. */
  val Local = GraphShape(nodes = 20000, edges = 200000, maxBytes = None, expectedAdmit = 1.0, coldPasses = 9)
  val Dist = GraphShape(nodes = 20000, edges = 200000, maxBytes = Some(512L << 10), expectedAdmit = 0.0,
    coldPasses = 3)

  /** Endless closed-loop request stream: kinds repeat [[Pattern]] (four
    * k-hops, three ssp and three lookups in every ten; its first
    * [[MinWindow]] hold seven k-hops, at least two per k, six ssp and
    * five lookups). k cycles through a seeded permutation of 1..3, so
    * the median k-hop is a 2-hop. k-hop and ssp sources come from the
    * lowest-id decile, where the power-law mass is; lookup ids are
    * uniform. An ssp target is a uniform node [[SspHops]] hops from its
    * source: with uniform targets nearly half the pairs are 3 hops apart
    * and nearly half 4, so the median ssp would sit between two latency
    * modes and move with the seed. */
  def requests(rng: SplittableRandom, data: GraphData): Iterator[GraphReq] = {
    val decile = math.max(1, data.nodes / 10)
    val ks = Iterator.continually(GraphData.shuffled(rng, Seq(1, 2, 3))).flatten
    Iterator.continually(Pattern).flatten.map {
      case 'k' => KHop(rng.nextInt(decile), ks.next())
      case 'l' => Lookup(rng.nextInt(data.nodes))
      case _ =>
        val s = rng.nextInt(decile)
        Ssp(s, data.targetAt(s, SspHops, rng))
    }
  }

  val SspHops = 3
  /** Requests drawn before the warm-up: more than a run issues. */
  val Planned = 1000

  val Pattern: String = "kslkslkslk"
  val Kinds = Seq("lookup", "khop", "ssp")
  val MinWindow = 18
  val WarmupSeconds = 5.0

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Files the scans of `df` read: with a bucketed scan, only the files
    * of the buckets it selected. */
  def filesRead(df: DataFrame): Long =
    PlanWalk.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.map { s =>
      val files = s.selectedPartitions.toPartitionArray
      s.optionalBucketSet match {
        case Some(buckets) if s.bucketedScan =>
          files.count(f => BucketingUtils.getBucketId(f.toPath.getName).exists(b => buckets.get(b))).toLong
        case _ => files.length.toLong
      }
    }.sum
}
