package perfbench

import java.util.SplittableRandom

/** Seeded R-MAT-style directed graph held as primitive arrays: edge i is
  * `src(i) -> dst(i)` with positive weight `w(i)`. Self-loops and duplicate
  * edges are dropped, so the arrays are a set of distinct directed edges.
  */
final case class Graph(n: Int, src: Array[Long], dst: Array[Long], w: Array[Long]) {
  def m: Int = src.length

  /** Out-neighbours as CSR: `adj(off(v) until off(v + 1))`, each slice
    * sorted ascending by target. */
  lazy val (off, adj, adjW) = Graph.csr(n, src, dst, w)

  def outDegree(v: Int): Int = off(v + 1) - off(v)
}

object Graph {
  def csr(n: Int, src: Array[Long], dst: Array[Long], w: Array[Long])
      : (Array[Int], Array[Long], Array[Long]) = {
    val order = src.indices.sortBy(i => (src(i), dst(i))).toArray
    val off = new Array[Int](n + 1)
    src.foreach(s => off(s.toInt + 1) += 1)
    for (v <- 0 until n) off(v + 1) += off(v)
    (off, order.map(dst(_)), order.map(w(_)))
  }

  /** Packs an edge into one long (both ends are below 2^31). */
  def key(s: Long, d: Long): Long = (s << 32) | d
}

object GraphGen {
  /** R-MAT quadrant probabilities (Chakrabarti et al., the Graph500 set). */
  val A = 0.57; val B = 0.19; val C = 0.19

  /** `edgeFactor * 2^scale` draws, deduplicated, ids permuted so that
    * vertex id carries no degree information. Weights are 1..100. */
  def rmat(scale: Int, edgeFactor: Int, seed: Long): Graph = {
    val n = 1 << scale
    val rnd = new SplittableRandom(seed)
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val seen = new scala.collection.mutable.LongMap[Unit]()
    val s = scala.collection.mutable.ArrayBuffer.empty[Long]
    val d = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 0 until edgeFactor * n) {
      var u = 0; var v = 0
      for (_ <- 0 until scale) {
        val r = rnd.nextDouble()
        u <<= 1; v <<= 1
        if (r < A) ()
        else if (r < A + B) v |= 1
        else if (r < A + B + C) u |= 1
        else { u |= 1; v |= 1 }
      }
      val (pu, pv) = (perm(u).toLong, perm(v).toLong)
      if (pu != pv && !seen.contains(Graph.key(pu, pv))) {
        seen(Graph.key(pu, pv)) = ()
        s += pu; d += pv
      }
    }
    val w = Array.fill(s.length)(1L + rnd.nextInt(100))
    Graph(n, s.toArray, d.toArray, w)
  }
}
