package perfbench

/** Driver-side reference traversals the benchmark checks every read
  * against, over a plain edge list (vertex ids 0 until n).
  */
final class RefGraph(n: Int, src: Array[Int], dst: Array[Int]) {
  require(src.length == dst.length)

  private def csr(keep: Int => Boolean): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < src.length) { if (keep(i)) off(src(i) + 1) += 1; i += 1 }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val adj = new Array[Int](off(n))
    val fill = off.clone()
    i = 0
    while (i < src.length) {
      if (keep(i)) { adj(fill(src(i))) = dst(i); fill(src(i)) += 1 }
      i += 1
    }
    (off, adj)
  }
  private lazy val full = csr(_ => true)
  // the DAG view DFS-terminal runs on: edges that go up in vertex id
  private lazy val dag = csr(i => src(i) < dst(i))

  private def levels(g: (Array[Int], Array[Int]), source: Int): Array[Int] = {
    val (off, adj) = g
    val dist = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    var head = 0; var tail = 0
    dist(source) = 0; queue(tail) = source; tail += 1
    while (head < tail) {
      val u = queue(head); head += 1
      var k = off(u)
      while (k < off(u + 1)) {
        val w = adj(k)
        if (dist(w) < 0) { dist(w) = dist(u) + 1; queue(tail) = w; tail += 1 }
        k += 1
      }
      ()
    }
    dist
  }

  /** BFS levels from `source`: reached vertex -> hop distance. */
  def bfs(source: Int): Map[Int, Int] =
    levels(full, source).zipWithIndex.collect { case (d, v) if d >= 0 => v -> d }.toMap

  /** Vertices reachable from `source` on the DAG view that have no
    * outgoing DAG edge: the reference's DFS terminal nodes.
    */
  def sinks(source: Int): Set[Int] = {
    val (off, _) = dag
    levels(dag, source).zipWithIndex
      .collect { case (d, v) if d >= 0 && off(v) == off(v + 1) => v }.toSet
  }

  /** Frontier rounds a loop needs: the deepest level plus the round
    * that finds nothing new.
    */
  def bfsRounds(source: Int): Int = levels(full, source).max + 1
  def reachRounds(source: Int): Int = levels(dag, source).max + 1

  /** Edges a traversal scans: all out-edges of every reached vertex. */
  def bfsEdgesScanned(source: Int): Long = scanned(full, source)
  def reachEdgesScanned(source: Int): Long = scanned(dag, source)
  private def scanned(g: (Array[Int], Array[Int]), source: Int): Long = {
    val (off, _) = g
    levels(g, source).zipWithIndex.collect { case (d, v) if d >= 0 => (off(v + 1) - off(v)).toLong }.sum
  }
}

object RefGraph {
  def fromMatrix(m: Array[Array[Boolean]]): RefGraph = {
    val pairs = for (i <- m.indices; j <- m.indices if m(i)(j)) yield (i, j)
    new RefGraph(m.length, pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }
}
