package perfbench

import scala.collection.mutable

/** Plain-Scala reference answers for the graph operations, computed from the
  * benchmark's own edge list. Each returns rows sorted by vertex id, in the
  * same shape as the corresponding `GraphOps` result. */
object Refs {
  /** Queue BFS: (v, level) for every vertex reachable from `start`. */
  def bfsLevels(g: Graph, start: Long): Array[(Long, Int)] = {
    val level = mutable.LongMap[Int](start -> 0)
    val q = mutable.Queue(start)
    while (q.nonEmpty) {
      val u = q.dequeue()
      val (o, l) = (g.off, level(u))
      if (u < g.n) for (i <- o(u.toInt) until o(u.toInt + 1)) {
        val v = g.adj(i)
        if (!level.contains(v)) { level(v) = l + 1; q.enqueue(v) }
      }
    }
    level.toArray.sortBy(_._1)
  }

  /** Leaves of the min-parent BFS tree: parent(u) is the smallest v one
    * level above u with an edge v -> u; a reachable vertex is a leaf when it
    * is nobody's parent. */
  def bfsTreeLeaves(g: Graph, start: Long): Array[(Long, Int)] = {
    val levels = bfsLevels(g, start)
    val level = mutable.LongMap(levels: _*)
    val parent = mutable.LongMap.empty[Long]
    for (i <- 0 until g.m) {
      val (s, d) = (g.src(i), g.dst(i))
      if (level.contains(s) && level.get(d).contains(level(s) + 1))
        parent(d) = math.min(parent.getOrElse(d, Long.MaxValue), s)
    }
    val parents = parent.values.toSet
    levels.filterNot { case (v, _) => parents(v) }
  }

  /** Dijkstra over the weighted edges: (v, dist) for reachable vertices. */
  def sssp(g: Graph, start: Long): Array[(Long, Long)] = {
    val dist = mutable.LongMap[Long](start -> 0L)
    val pq = mutable.PriorityQueue((0L, start))(Ordering.by[(Long, Long), Long](-_._1))
    val done = mutable.LongMap.empty[Unit]
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!done.contains(u)) {
        done(u) = ()
        if (u < g.n) for (i <- g.off(u.toInt) until g.off(u.toInt + 1)) {
          val (v, nd) = (g.adj(i), d + g.adjW(i))
          if (nd < dist.getOrElse(v, Long.MaxValue)) { dist(v) = nd; pq.enqueue((nd, v)) }
        }
      }
    }
    dist.toArray.sortBy(_._1)
  }

  /** Union-find over both directions of every edge: (v, min id of v's
    * component) for every vertex that appears in an edge. */
  def connectedComponents(g: Graph): Array[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    for (i <- 0 until g.m) {
      val (a, b) = (find(g.src(i)), find(g.dst(i)))
      parent.getOrElseUpdate(g.src(i), g.src(i)); parent.getOrElseUpdate(g.dst(i), g.dst(i))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    parent.keys.toArray.sorted.map(v => (v, find(v)))
  }

  /** Weighted personalized PageRank by power iteration, the formulation
    * `GraphOps.personalizedPageRank` documents: pr0 = 1[v = seed],
    * pr' (v) = 0.15·1[v = seed] + 0.85·Σ_{(u,v)} pr(u)·w(u,v)/wout(u), over
    * the vertices that appear in an edge, no dangling redistribution. */
  def personalizedPageRank(g: Graph, seed: Long, iterations: Int = 10): Array[(Long, Double)] = {
    val verts = (g.src ++ g.dst).distinct.sorted
    val idx = mutable.LongMap(verts.zipWithIndex.map { case (v, i) => v -> i }: _*)
    val wout = new Array[Double](verts.length)
    for (i <- 0 until g.m) wout(idx(g.src(i))) += g.w(i)
    val isSeed = verts.map(v => if (v == seed) 1.0 else 0.0)
    var pr = isSeed.clone()
    for (_ <- 0 until iterations) {
      val c = new Array[Double](verts.length)
      for (i <- 0 until g.m) {
        val s = idx(g.src(i))
        c(idx(g.dst(i))) += pr(s) * g.w(i) / wout(s)
      }
      pr = Array.tabulate(verts.length)(i => 0.15 * isSeed(i) + 0.85 * c(i))
    }
    verts.zip(pr)
  }

  /** Relative-or-absolute tolerance for the PageRank check: the engine sums
    * contributions in partition order, so only the last bits may differ. */
  val PageRankTolerance = 1e-9

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= PageRankTolerance * math.max(1.0, math.abs(b))
}
