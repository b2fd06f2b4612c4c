package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.{Reset, SparkEntry}
import graft.functions.TextAnalysis
import graft.operators.{Dedup, GraphOps, Multimodal, Relational, Similarity}
import graft.sources.{Bucketing, Tables}

/** Batch analytics through the engine's query registry
  * (`SparkEntry.queries`): one cold pass, then warm passes, over a fixed
  * key set on the bundled TPC-H-style tables, with `Reset.clear` between
  * keys and the registry's own action rule (a client `collect` for
  * client-fetch keys, the noop sink otherwise). Client point lookups on a
  * bucketed customer table ride along in every pass. Results are dumped
  * after the timed passes for the DuckDB oracle check `run.py` makes. */
final class RegistryWorkload(ctx: Ctx, dataDir: String, out: Path) extends Workload {
  import RegistryWorkload._
  private val spark = ctx.spark
  private val client = ctx.client
  private val keyOf = mutable.Map.empty[Int, String]
  private val lookupRows = mutable.ArrayBuffer.empty[(Int, Long, Seq[Seq[Any]])]
  private val lookupFiles = mutable.Map.empty[Int, Long]

  /** Write the bucketed customer table the lookups read. */
  def setUp(): Setup = {
    client.span("reset.clear")(Reset.clear(spark))
    val t0 = System.nanoTime()
    client.span("sources.load") {
      Bucketing.writeBucketed(
        Tables.customer(spark, dataDir).select(
          col("c_custkey").cast("long").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("mktsegment")),
        LookupTable, "id", 16)
    }
    val loadS = (System.nanoTime() - t0) / 1e9
    Setup(0.0, 0.0, loadS, loadS)
  }

  private def runKey(key: String, phase: String): Unit = {
    val id = client.lastId + 1
    keyOf(id) = key
    val fn = SparkEntry.queries(key)
    client.request(kindOf(key), phase) {
      val df = client.span("registry.build")(fn(spark, dataDir))
      client.span("result.action") {
        if (SparkEntry.clientFetch(key)) df.collect()
        else df.write.mode("overwrite").format("noop").save()
      }
    }
    client.span("reset.clear")(Reset.clear(spark))
  }

  private def lookup(v: Long, phase: String): Unit = {
    val id = client.lastId + 1
    keyOf(id) = "lookup"
    client.request("lookup", phase) {
      val df = client.span("sources.lookup_build")(Bucketing.pointLookup(spark, LookupTable, "id", v))
      (client.span("result.collect")(df.collect()), df)
    }.foreach { case (rs, df) =>
      lookupFiles(id) = GraphWorkload.filesRead(df)
      lookupRows += ((id, v, rs.toSeq.map(_.toSeq)))
    }
  }

  def run(setups: Seq[Setup]): RunResult = {
    val rng = new SplittableRandom(ctx.seed)
    val customers = Tables.customer(spark, dataDir).count().toInt
    val order: Seq[Either[String, Long]] = {
      val items = Keys.flatMap(k => Seq.fill(perPass(k))(Left(k))) ++
        Seq.fill(LookupsPerPass)(Right(1L + rng.nextInt(customers).toLong))
      GraphData.shuffled(rng, items)
    }
    def pass(phase: String): Double = {
      val t0 = System.nanoTime()
      order.foreach {
        case Left(k) => runKey(k, phase)
        case Right(v) => lookup(v, phase)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val coldS = pass("cold")
    ctx.clock.mark("cold")
    val warm = mutable.ArrayBuffer(pass("warm"))
    while (warm.length < MinWarmPasses || warm.sum + Stats.median(warm.toSeq) <= ctx.seconds)
      warm += pass("warm")

    ctx.clock.mark("warm")
    // outputs for the oracle check, outside every timed window
    val results = out.resolve("results")
    Keys.foreach { k =>
      try SparkEntry.queries(k)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(k).toString)
      catch { case _: Throwable => () } // a failing key is already counted
      Reset.clear(spark)
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(Keys.map(k => k -> Json.str(SparkEntry.oracleSql(k)))))
    Files.writeString(out.resolve("lookups.json"), Json.arr(lookupRows.toSeq.map { case (id, v, rs) =>
      Json.obj(Seq("req" -> id.toString, "id" -> v.toString,
        "rows" -> Json.arr(rs.map(r => Json.arr(r.map(x => Json.str(String.valueOf(x))))))))
    }))
    org.apache.spark.perfbench.Internals.drained(spark.sparkContext, 10000L)
    val heap = Jvm.retainedHeapMb()
    ctx.clock.mark("dump")

    val all = client.outcomes.toSeq
    val warmReqs = all.filter(_.phase == "warm")
    val ok = warmReqs.filter(_.ok)
    def lat(kind: String) = ok.filter(_.kind == kind).map(_.ms)
    val warmS = Stats.median(warm.toSeq)
    val opsPerS = ok.length / warm.sum
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.map(_.totalS)), "s", setups.length),
      Metric("lookup_p50_ms", Stats.median(lat("lookup")), "ms", lat("lookup").length),
      Metric("khop_p50_ms", Stats.median(lat("khop")), "ms", lat("khop").length),
      Metric("ssp_p50_ms", Stats.median(lat("ssp")), "ms", lat("ssp").length),
      Metric("ops_per_s", opsPerS, "1/s", ok.length),
      Metric("batch_cold_s", coldS, "s", 1),
      Metric("batch_warm_s", warmS, "s", warm.length),
      Metric("retained_heap_mb", heap, "MB", 1))

    val layers = new Layers(client, ctx.cores)
    layers.common(warmReqs)
    layers.put("session.start_s", Stats.median(setups.map(_.sessionS)), "s", setups.length)
    layers.put("sources.load_s", Stats.median(setups.map(_.loadS)), "s", setups.length)
    Seq("sources.lookup_build", "result.collect").foreach { s =>
      val (v, n) = layers.spanMs(s, warmReqs)
      layers.put(s + "_ms", v, "ms", n)
    }
    val lookups = warmReqs.filter(_.kind == "lookup")
    layers.put("sources.input_mb_per_lookup",
      Stats.mean(lookups.map(o => client.counters.request(o.id).input / 1048576.0)), "MB", lookups.length)
    layers.put("sources.files_per_lookup",
      Stats.mean(lookups.map(o => lookupFiles.getOrElse(o.id, 0L).toDouble)), "count", lookups.length)
    layers.put("result.rows_per_req",
      Stats.mean(lookupRows.filter(r => lookups.exists(_.id == r._1)).map(_._3.length.toDouble).toSeq), "count", lookups.length)
    Modules.foreach { case (layer, keys) =>
      val rs = warmReqs.filter(o => keys(keyOf(o.id)))
      layers.put(s"$layer.wall_s", rs.map(_.ms).sum / 1000.0 / warm.length, "s", rs.length)
      layers.put(s"$layer.cpu_s", rs.map(o => client.counters.request(o.id).cpuNs).sum / 1e9 / warm.length, "s", rs.length)
    }
    val clears = client.trace.spans.filter(s => s.name == "reset.clear").map(_.nanos / 1e6)
    layers.put("reset.clear_ms", Stats.median(clears), "ms", clears.length)
    layers.put("trace.ops_per_s", opsPerS, "1/s", ok.length)
    layers.put("trace.batch_warm_s", warmS, "s", warm.length)

    val report = mutable.ArrayBuffer[(String, String)](
      "phases_s" -> ctx.clock.render,
      "setup_runs_s" -> Setup.render(setups),
      "data" -> s"$dataDir (TPC-H-style tables, sf0.001); key order and lookup ids from seed ${ctx.seed}",
      "keys" -> s"${Keys.length} benchmarked: ${Keys.mkString(",")}",
      "skipped" -> s"${Absent.length} keys whose input is absent (${AbsentReason}): ${Absent.mkString(",")}",
      "excluded" -> s"${OutsideCheckout.length} keys that write outside the working tree (${OutsideReason}): ${OutsideCheckout.mkString(",")}",
      "not_in_key_set" -> (SparkEntry.queries.keySet -- Keys -- Absent -- OutsideCheckout).toSeq.sorted.mkString(","),
      "executions_per_key" -> Keys.map(k => s"$k=${(1 + warm.length) * perPass(k)}").mkString(","))
    report ++= Stats.tail("lookup", lat("lookup"))
    report += "key_warm_ms" -> warmReqs.groupBy(o => keyOf(o.id)).toSeq
      .map { case (k, os) => (k, Stats.median(os.map(_.ms))) }.sortBy(-_._2)
      .map { case (k, v) => f"$k=$v%.0f" }.mkString(",")
    all.filterNot(_.ok).take(5).foreach(o => report += s"failed.${o.id}" -> s"${keyOf(o.id)}: ${o.error.getOrElse("")}")
    RunResult(e2e, layers.metrics(Layers.Names), all.length, all.count(!_.ok), report.toSeq)
  }
}

object RegistryWorkload {
  val LookupTable = "perfbench_customers"
  val LookupsPerPass = 4
  /** Executions of a key in every pass: the two keys behind
    * `khop_p50_ms` and `ssp_p50_ms` run three times, so their medians
    * rest on more than a handful of samples. */
  def perPass(key: String): Int = if (kindOf(key) == "key") 1 else 3
  /** Warm passes run while another fits in the run's seconds, and at
    * least this many. */
  val MinWarmPasses = 5
  /** The benchmarked keys: at least one from every registry module,
    * including a k-hop and an ssp key, chosen so that a cold and a warm
    * pass fit one run. */
  val Keys: Seq[String] = Seq(
    "q1_pricing_summary",
    "g_khop_grid", "g_ssp_pair",
    "d_exact_dedup",
    "s_kmeans_update",
    "m_media_meta",
    "t_token_count")

  def kindOf(key: String): String = key match {
    case "g_khop_grid" => "khop"
    case "g_ssp_pair" => "ssp"
    case _ => "key"
  }

  val AbsentReason = s"they read the Wiki-Vote files ${GraphOps.WikiVoteNodes} and ${GraphOps.WikiVoteEdges}"
  val Absent: Seq[String] = Seq(
    "g_adamic_adar", "g_assortativity", "g_clustering", "g_common_neighbors", "g_coreness",
    "g_hits", "g_ktruss", "g_random_walks", "g_reciprocity", "g_transitivity", "g_wikivote_cc",
    "g_wikivote_degree", "g_wikivote_kcore", "g_wikivote_khop", "g_wikivote_lookup",
    "g_wikivote_pagerank", "g_wikivote_triangles")

  val OutsideReason = "scratch tables under /tmp, or the insert WAL under /dev/shm"
  val OutsideCheckout: Seq[String] = Seq(
    "c_curated_sink", "c_jsonl_roundtrip", "g_edgelist_roundtrip", "g_node_lookup",
    "g_node_lookup_fast", "g_insert_stream", "g_insert_edges")

  /** Layer name -> the keys of the module registry map they come from. */
  lazy val Modules: Seq[(String, Set[String])] = Seq(
    "operators.relational" -> Relational.queries.keySet,
    "operators.graphops" -> GraphOps.queries.keySet,
    "operators.dedup" -> Dedup.queries.keySet,
    "operators.similarity" -> Similarity.queries.keySet,
    "operators.multimodal" -> Multimodal.queries.keySet,
    "functions.text" -> TextAnalysis.queries.keySet)
}
