package perfbench

import org.apache.spark.sql.SparkSession

import graft.graph.{GraphStore, Traversals}

/** Checks of the benchmark's own logic: percentile choice, reference
  * traversals, TEPS accounting and the read-consistency window.
  * Exits non-zero if any check fails.
  *
  * Usage: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    reference()
    generatedGraphs()
    val root = java.nio.file.Files.createTempDirectory("perfbench-selftest")
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      programAgreesWithReference(spark)
      consistencyWindow(spark, root)
    } finally {
      spark.stop()
      Pipeline.deleteTree(root)
    }
    println(if (failures == 0) "selftest: all checks passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def percentiles(): Unit = {
    check("19 samples support no percentile", Stats.tailPercentile(19).isEmpty)
    check("20 samples support p50", Stats.tailPercentile(20).contains(50.0))
    check("99 samples support p75, not p90", Stats.tailPercentile(99).contains(75.0))
    check("100 samples support p90", Stats.tailPercentile(100).contains(90.0))
    check("1000 samples support p99", Stats.tailPercentile(1000).contains(99.0))
    check("10000 samples support p99.9", Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p90 of 1..100 is 90", Stats.percentile(xs, 90) == 90.0)
    check("median of 1..100 is 50", Stats.median(xs) == 50.0)
    check("median of one sample is that sample", Stats.median(Seq(7.0)) == 7.0)
  }

  // 0→1, 1→2, 0→3, 3→1, 2→0: a cycle, and a DAG view of 0→1, 1→2, 0→3
  private val Src = Array(0, 1, 0, 3, 2)
  private val Dst = Array(1, 2, 3, 1, 0)

  private def reference(): Unit = {
    val g = new RefGraph(5, Src, Dst)
    check("reference BFS levels", g.bfs(0) == Map(0 -> 0, 1 -> 1, 3 -> 1, 2 -> 2))
    check("reference BFS from an isolated vertex", g.bfs(4) == Map(4 -> 0))
    check("reference sinks: reached vertices with no DAG out-edge", g.sinks(0) == Set(2, 3))
    check("reference sinks of a DAG sink is itself", g.sinks(2) == Set(2))
    check("BFS rounds = deepest level + 1", g.bfsRounds(0) == 3)
    check("reach rounds on the DAG view", g.reachRounds(0) == 3)
    check("BFS scans every out-edge of every reached vertex", g.bfsEdgesScanned(0) == 5)
    check("reach scans DAG out-edges only", g.reachEdgesScanned(0) == 3)
    check("TEPS sums edges over summed time", Stats.teps(Seq((100L, 1.0), (300L, 1.0))) == 200.0)
    check("TEPS of no time is 0", Stats.teps(Nil) == 0.0)
  }

  /** Serve's generated graphs have the reference fixtures' shape, and
    * its read check tells them apart: a BFS or DFS-terminal answer from
    * the wrong start, or from another version, must be rejected.
    */
  private def generatedGraphs(): Unit = {
    val r = new scala.util.Random(7)
    val ms = Seq.fill(400)(Serve.randomMatrix(r))
    val n = Serve.N
    check("generated graphs are symmetric", ms.forall(m => (0 until n).forall(i => (0 until n).forall(j => m(i)(j) == m(j)(i)))))
    check("every vertex v > 0 has exactly one lower-numbered neighbour",
      ms.forall(m => (1 until n).forall(v => (0 until v).count(m(v)(_)) == 1)))
    // G13, a reference fixture: 0-1, 1-2, 1-3, 2-4, 4-5, 2-6
    val g13 = Array.ofDim[Boolean](7, 7)
    for ((a, b) <- Seq(0 -> 1, 1 -> 2, 1 -> 3, 2 -> 4, 4 -> 5, 2 -> 6)) { g13(a)(b) = true; g13(b)(a) = true }
    val fromZero = RefGraph.fromMatrix(g13).sinks(0)
    check("G13 sinks from 0 are 3, 5, 6", fromZero == Set(3, 5, 6))
    check("a DFS-terminal answer that ignored its start is rejected",
      Serve.explain(Seq(g13), 2, bfs = false, fromZero).isEmpty)
    check("the answer from the right start is accepted",
      Serve.explain(Seq(g13), 2, bfs = false, Set(5, 6)).isDefined)
    // pairs of versions with a start: the read's own version, another
    def caught(bfs: Boolean, wrong: (Serve.Matrix, Serve.Matrix, Int) => Any): Double = {
      val cases = ms.grouped(2).zipWithIndex.map { case (Seq(a, b), i) =>
        val s = 1 + i % (n - 1)
        Serve.explain(Seq(a), s, bfs, wrong(a, b, s)).isEmpty
      }.toSeq
      cases.count(identity).toDouble / cases.size
    }
    val ref = RefGraph.fromMatrix _
    check("a BFS answer from another version is rejected (>= 99%)",
      caught(bfs = true, (_, b, s) => ref(b).bfs(s)) >= 0.99)
    check("a BFS answer that ignored its start is rejected (>= 99%)",
      caught(bfs = true, (a, _, _) => ref(a).bfs(0)) >= 0.99)
    check("a DFS-terminal answer that ignored its start is rejected (>= 99%)",
      caught(bfs = false, (a, _, _) => ref(a).sinks(0)) >= 0.99)
    // a DFS from a vertex that is a leaf in both versions answers
    // itself in both: about a third of random starts
    check("a DFS-terminal answer from another version is rejected (>= 50%)",
      caught(bfs = false, (_, b, s) => ref(b).sinks(s)) >= 0.5)
  }

  private def programAgreesWithReference(spark: SparkSession): Unit = {
    import spark.implicits._
    val edges = Src.zip(Dst).toSeq.toDF("src", "dst")
    val g = new RefGraph(5, Src, Dst)
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    for (s <- 0 until 4) {
      val bfs = Traversals.bfsLevels(edges, s, 30).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      check(s"bfsLevels from $s equals the reference", bfs == g.bfs(s))
      check(s"DFS-terminal from $s equals the reference", Serve.dfsTerminal(edges, s, tracer) == g.sinks(s))
    }
  }

  private def consistencyWindow(spark: SparkSession, root: java.nio.file.Path): Unit = {
    import spark.implicits._
    val store = new GraphStore(spark, root.resolve("store").toString)
    val chain: Serve.Matrix = Array.tabulate(Serve.N, Serve.N)((i, j) => j == i + 1)
    val star: Serve.Matrix = Array.tabulate(Serve.N, Serve.N)((i, j) => i == 0 && j > 0)
    def edges(m: Serve.Matrix) =
      (for (i <- m.indices; j <- m.indices if m(i)(j)) yield (i, j)).toDF("src", "dst")
    val st = new Serve.GraphState
    store.put("g", edges(chain)); st.record(store.currentVersion("g").get, chain)
    store.put("g", edges(star)); st.record(store.currentVersion("g").get, star)
    def bfsOf(v: Long) =
      Traversals.bfsLevels(store.readVersion("g", v), 0, Serve.N).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val low = st.acked
    val high = store.currentVersion("g").get
    check("current read falls in the window", Serve.explain(st.window(low, high), 0, bfs = true, bfsOf(high)).isDefined)
    check("a stale readVersion read is rejected", Serve.explain(st.window(low, high), 0, bfs = true, bfsOf(1)).isEmpty)
    check("an older version is legal when the read began before its successor was acknowledged",
      Serve.explain(st.window(1, high), 0, bfs = true, bfsOf(1)).isDefined)
    st.pending(chain)
    check("a published but unacknowledged version is in the window",
      st.window(high, high + 1).exists(_ eq chain))
  }
}
