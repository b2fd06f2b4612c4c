package graft.perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}

/** The seeded power-law digraph a graph workload runs on, generated in
  * plain Scala so that the answer oracle never goes through the engine.
  *
  * Same shape as the engine's `GraphScale.powerLawEdges`: each endpoint is
  * floor(n · u²) with u uniform in [0, 1), so degree density falls off as
  * x^(-1/2) and the lowest ids hold the hubs; self-loops are dropped.
  * The two endpoint salts are derived from the seed. */
final class GraphData(val nodes: Int, val src: Array[Int], val dst: Array[Int]) {

  def edges: Int = src.length

  /** Compressed out-adjacency (duplicates kept, as in the edge file). */
  private lazy val (offsets, targets): (Array[Int], Array[Int]) = {
    val off = new Array[Int](nodes + 1)
    src.foreach(s => off(s + 1) += 1)
    var i = 0
    while (i < nodes) { off(i + 1) += off(i); i += 1 }
    val fill = off.clone()
    val tg = new Array[Int](src.length)
    i = 0
    while (i < src.length) { tg(fill(src(i))) = dst(i); fill(src(i)) += 1; i += 1 }
    (off, tg)
  }

  def outDegree(v: Int): Int = offsets(v + 1) - offsets(v)

  /** BFS levels from `source`, stopping after `maxHops` (-1 = unbounded).
    * Unreached nodes read -1. */
  def levels(source: Int, maxHops: Int): Array[Int] = {
    val dist = Array.fill(nodes)(-1)
    dist(source) = 0
    var frontier = Array(source)
    var hop = 1
    while (frontier.nonEmpty && (maxHops < 0 || hop <= maxHops)) {
      val next = Array.newBuilder[Int]
      frontier.foreach { u =>
        var j = offsets(u)
        while (j < offsets(u + 1)) {
          val v = targets(j)
          if (dist(v) < 0) { dist(v) = hop; next += v }
          j += 1
        }
      }
      frontier = next.result()
      hop += 1
    }
    dist
  }

  /** Nodes first reached at hop 1..k, as (size, order-free digest). */
  def kHop(source: Int, k: Int): (Int, Long) = {
    val d = levels(source, k)
    var n = 0
    var h = 0L
    var v = 0
    while (v < nodes) {
      if (d(v) >= 1) { n += 1; h += GraphData.mix(v.toLong * 31 + d(v)) }
      v += 1
    }
    (n, h)
  }

  def shortestPath(source: Int, target: Int): Long =
    if (source == target) 0L else levels(source, -1)(target).toLong

  /** A node `hops` BFS levels from `source`, uniform among those by
    * `rng`; a uniform node when there is none. */
  def targetAt(source: Int, hops: Int, rng: java.util.SplittableRandom): Int = {
    val d = levels(source, -1)
    val at = d.indices.filter(v => v != source && d(v) == hops)
    if (at.isEmpty) rng.nextInt(nodes) else at(rng.nextInt(at.length))
  }

  /** The reference's `load_database` input pair: one node id per line,
    * and a '#'-commented `src<TAB>dst` edge list. Each is a directory of
    * `parts` files, so the engine's text scan splits across cores. */
  def writeFiles(nodesDir: Path, edgesDir: Path, parts: Int): Unit = {
    def write(dir: Path, part: Int)(body: BufferedWriter => Unit): Unit = {
      Files.createDirectories(dir)
      val w = new BufferedWriter(new FileWriter(dir.resolve(f"part-$part%05d.txt").toFile), 1 << 16)
      try body(w) finally w.close()
    }
    for (p <- 0 until parts) {
      write(nodesDir, p) { w =>
        var v = p
        while (v < nodes) { w.write(v.toString); w.write('\n'); v += parts }
      }
      write(edgesDir, p) { w =>
        if (p == 0) w.write("# Directed graph: perfbench power-law\n# FromNodeId\tToNodeId\n")
        var i = p
        while (i < src.length) {
          w.write(src(i).toString); w.write('\t'); w.write(dst(i).toString); w.write('\n')
          i += parts
        }
      }
    }
  }
}

object GraphData {

  /** Fisher-Yates shuffle driven by `rng`. */
  def shuffled[A](rng: java.util.SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** SplitMix64 finalizer: the hash behind every seeded draw here. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def endpoint(nodes: Int, i: Long, salt: Long): Int = {
    val u = (mix(i ^ salt) >>> 11).toDouble / (1L << 53).toDouble
    math.min(nodes - 1, (nodes * u * u).toInt)
  }

  def powerLaw(nodes: Int, edges: Int, seed: Long): GraphData = {
    val s1 = mix(seed * 2 + 1)
    val s2 = mix(seed * 2 + 2)
    val src = Array.newBuilder[Int]
    val dst = Array.newBuilder[Int]
    var i = 0L
    while (i < edges) {
      val a = endpoint(nodes, i, s1)
      val b = endpoint(nodes, i, s2)
      if (a != b) { src += a; dst += b }
      i += 1
    }
    new GraphData(nodes, src.result(), dst.result())
  }
}
