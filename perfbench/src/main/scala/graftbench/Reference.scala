package graftbench

import scala.collection.mutable.ArrayBuffer
import graft.sources.SyntheticPages

/** Single-threaded reference code for the benchmark's checks. Everything
  * here is computed from the page generator's own link lists, never from
  * engine output; engine answers only enter through the check functions. */
object Reference {

  /** The generator's link graph in the engine's vertex-id space (url → vid
    * through the engine's dictionary), as a compact CSR over the sorted
    * vid list. `edges` holds the packed (srcIdx, dstIdx) pairs, sorted. */
  final class Graph(val vids: Array[Long], val offsets: Array[Int],
                    val dsts: Array[Int]) {
    def n: Int = vids.length
    def m: Int = dsts.length
    def indexOf(vid: Long): Int = java.util.Arrays.binarySearch(vids, vid)
    def outDeg(i: Int): Int = offsets(i + 1) - offsets(i)
    /** Directed edges as sorted (srcVid, dstVid) pairs. */
    def edgePairs: Array[(Long, Long)] =
      Array.tabulate(n)(i => (offsets(i) until offsets(i + 1))
        .map(k => (vids(i), vids(dsts(k))))).flatten
  }

  /** Build the expected graph of `pages` generated pages from the
    * generator's link lists. Fails if a linked url has no dictionary vid. */
  def expectedGraph(pages: Long, seed: Long,
                    vidOfUrl: String => Option[Long]): Either[String, Graph] = {
    def vid(i: Long): Either[String, Long] = {
      val u = SyntheticPages.urlOf(i, pages, seed)
      vidOfUrl(u).toRight(s"dictionary has no vid for $u")
    }
    val adj = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    val all = scala.collection.mutable.HashSet.empty[Long]
    var i = 0L
    while (i < pages) {
      val ts = SyntheticPages.targetsOf(i, pages, seed)
      if (ts.nonEmpty) {
        val s = vid(i) match { case Right(v) => v; case Left(e) => return Left(e) }
        val ds = ts.map(j => vid(j) match {
          case Right(v) => v; case Left(e) => return Left(e)
        }).distinct.sorted
        adj(s) = ds
        all += s
        all ++= ds
      }
      i += 1
    }
    val vids = all.toArray.sorted
    val offsets = new Array[Int](vids.length + 1)
    var k = 0
    while (k < vids.length) {
      offsets(k + 1) = offsets(k) + adj.get(vids(k)).map(_.length).getOrElse(0)
      k += 1
    }
    val dsts = new Array[Int](offsets(vids.length))
    k = 0
    while (k < vids.length) {
      adj.get(vids(k)).foreach { ds =>
        var j = 0
        while (j < ds.length) {
          dsts(offsets(k) + j) = java.util.Arrays.binarySearch(vids, ds(j)); j += 1
        }
      }
      k += 1
    }
    Right(new Graph(vids, offsets, dsts))
  }

  /** Personalized PageRank from vertex index `s` by power iteration, with
    * the engine's pinned conventions: stop probability `alpha` per step,
    * uniform move to an out-neighbour otherwise, and a dangling vertex
    * absorbs all mass that reaches it. Iterates until the mass still in
    * flight is below `tol`. */
  def ppr(g: Graph, s: Int, alpha: Double, tol: Double = 1e-13): Array[Double] = {
    val pi = new Array[Double](g.n)
    var x = new Array[Double](g.n)
    var nx = new Array[Double](g.n)
    x(s) = 1.0
    var inFlight = 1.0
    while (inFlight > tol) {
      java.util.Arrays.fill(nx, 0.0)
      var v = 0
      while (v < g.n) {
        val xv = x(v)
        if (xv != 0.0) {
          val d = g.outDeg(v)
          if (d == 0) pi(v) += xv
          else {
            pi(v) += alpha * xv
            val share = (1 - alpha) * xv / d
            var k = g.offsets(v)
            while (k < g.offsets(v + 1)) { nx(g.dsts(k)) += share; k += 1 }
          }
        }
        v += 1
      }
      val t = x; x = nx; nx = t
      inFlight = x.sum
    }
    pi
  }

  /** Global PageRank, `iters` power iterations from the uniform vector,
    * with the engine's pinned conventions: damping `d`, dangling mass
    * spread uniformly over all n vertices. */
  def pagerank(g: Graph, d: Double, iters: Int): Array[Double] = {
    var r = Array.fill(g.n)(1.0 / g.n)
    (0 until iters).foreach { _ =>
      val next = new Array[Double](g.n)
      var dangling = 0.0
      var v = 0
      while (v < g.n) {
        val deg = g.outDeg(v)
        if (deg == 0) dangling += r(v)
        else {
          val share = r(v) / deg
          var k = g.offsets(v)
          while (k < g.offsets(v + 1)) { next(g.dsts(k)) += share; k += 1 }
        }
        v += 1
      }
      val base = (1 - d) / g.n + d * dangling / g.n
      r = next.map(x => base + d * x)
    }
    r
  }

  /** The undirected simple edge set as (lo, hi) index pairs, self-loops
    * kept (the engine's `undirectedEdges`). */
  def undirected(g: Graph): Array[(Int, Int)] =
    (0 until g.n).flatMap(v => (g.offsets(v) until g.offsets(v + 1))
      .map { k => val u = g.dsts(k); (math.min(v, u), math.max(v, u)) }).distinct.toArray

  /** Connected components by union-find; label = smallest vid. */
  def components(g: Graph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    undirected(g).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // indices are sorted by vid: the smaller root stays the root
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(g.n)(v => g.vids(find(v)))
  }

  /** Synchronous label propagation: each round every vertex takes the
    * most frequent label among its undirected neighbours (a self-loop
    * counts its own label twice), ties to the smallest label; vertices
    * start with their own vid. */
  def labelPropagation(g: Graph, rounds: Int): Array[Long] = {
    val nbrs = Array.fill(g.n)(ArrayBuffer.empty[Int])
    undirected(g).foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    var label = g.vids.clone()
    (0 until rounds).foreach { _ =>
      val cur = label
      label = Array.tabulate(g.n) { v =>
        if (nbrs(v).isEmpty) cur(v)
        else nbrs(v).groupBy(cur(_)).iterator.map { case (l, xs) => (-xs.size, l) }.min._2
      }
    }
    label
  }

  /** Triangles of the undirected simple graph: each edge is oriented from
    * the endpoint of lower (degree, index) to the higher one, and every
    * triangle is counted once as a common out-neighbour of an edge. */
  def triangles(g: Graph): Long = {
    val und = undirected(g).filter { case (a, b) => a != b }
    val deg = new Array[Int](g.n)
    und.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = Array.fill(g.n)(ArrayBuffer.empty[Int])
    und.foreach { case (a, b) => if (before(a, b)) out(a) += b else out(b) += a }
    val up = out.map(_.toArray.sorted)
    var count = 0L
    up.foreach { ua =>
      ua.foreach { b =>
        val ub = up(b)
        var i = 0; var j = 0
        while (i < ua.length && j < ub.length) {
          if (ua(i) == ub(j)) { count += 1; i += 1; j += 1 }
          else if (ua(i) < ub(j)) i += 1 else j += 1
        }
      }
    }
    count
  }

  // --- checks: each returns None when the answer passes ------------------

  /** The engine's edge set equals the generator's. */
  def checkEdges(engine: Array[(Long, Long)], g: Graph): Option[String] = {
    val want = g.edgePairs
    val got = engine.sorted
    if (got.length != want.length)
      Some(s"edge count ${got.length} != expected ${want.length}")
    else {
      val bad = got.indices.find(i => got(i) != want(i))
      bad.map(i => s"edge $i is ${got(i)}, expected ${want(i)}")
    }
  }

  /** Scores of one source sum to 1. */
  def checkSum(sum: Double, tol: Double = 1e-9): Option[String] =
    if (math.abs(sum - 1.0) <= tol) None else Some(f"score sum $sum%.12f != 1")

  /** FORA's guarantee: every vertex with π ≥ δ is within ε·π. */
  def checkEpsDelta(est: Map[Long, Double], g: Graph, pi: Array[Double],
                    eps: Double, delta: Double): Option[String] = {
    val bad = pi.indices.filter { i =>
      pi(i) >= delta &&
        math.abs(est.getOrElse(g.vids(i), 0.0) - pi(i)) > eps * pi(i)
    }
    if (bad.isEmpty) None
    else {
      val i = bad.head
      Some(s"${bad.size} vertices with pi >= $delta outside eps=$eps, e.g. " +
        s"vid ${g.vids(i)}: estimate ${est.getOrElse(g.vids(i), 0.0)} vs ${pi(i)}")
    }
  }

  /** Per-vertex values (every vertex, nothing else) within `tol` of the
    * reference. */
  def checkClose(got: Array[(Long, Double)], g: Graph, want: Array[Double],
                 tol: Double): Option[String] = {
    val m = got.toMap
    if (m.size != g.n || got.length != g.n) Some(s"${got.length} values for ${g.n} vertices")
    else g.vids.indices.find(i => !m.get(g.vids(i)).exists(x => math.abs(x - want(i)) <= tol))
      .map(i => s"vid ${g.vids(i)}: ${m.get(g.vids(i))} vs expected ${want(i)}")
  }

  /** Per-vertex labels (every vertex, nothing else) equal to the reference. */
  def checkLabels(got: Array[(Long, Long)], g: Graph, want: Array[Long]): Option[String] = {
    val m = got.toMap
    if (m.size != g.n || got.length != g.n) Some(s"${got.length} labels for ${g.n} vertices")
    else g.vids.indices.find(i => !m.get(g.vids(i)).contains(want(i)))
      .map(i => s"vid ${g.vids(i)}: label ${m.get(g.vids(i))}, expected ${want(i)}")
  }

  /** An exact count. */
  def checkCount(got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"count $got != expected $want")
}
