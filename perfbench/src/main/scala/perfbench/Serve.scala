package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.graph.{GraphStore, TradeGraph, Traversals}

/** serve_small: the reference's own traffic. Sixteen 30-vertex graphs
  * in one GraphStore; a closed loop of clients picks a graph from a
  * Zipf distribution (so reads and writes collide on hot graphs) and
  * issues BFS, DFS-terminal or an overwrite. No vacuum runs: a vacuum
  * could delete a version a concurrent reader is still scanning.
  */
final class Serve(spark: SparkSession, seed: Long, tracer: Tracer, report: Report) {
  import Serve._

  private val rng = new scala.util.Random(seed)
  private var store: GraphStore = _
  private var storeDir: java.nio.file.Path = _
  private val graphs = Array.fill(Graphs)(new GraphState)
  private val quiet = new Tracer(spark.sparkContext, enabled = false)

  private def name(g: Int) = f"g$g%02d"

  private def edgesOf(m: Matrix): DataFrame = {
    import spark.implicits._
    (for (i <- 0 until N; j <- 0 until N if m(i)(j)) yield (i, j)).toDF("src", "dst")
  }

  /** Populate a fresh store at `dir` with every graph; returns seconds. */
  def populate(dir: java.nio.file.Path): Double = {
    val t0 = System.nanoTime()
    store = new GraphStore(spark, dir.toString)
    storeDir = dir
    for (g <- 0 until Graphs) {
      val m = randomMatrix(rng)
      graphs(g) = new GraphState
      store.put(name(g), edgesOf(m))
      graphs(g).record(store.currentVersion(name(g)).get, m)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: `clients` threads each issue their next request when
    * the previous one returns, until `seconds` have passed. Returns the
    * wall time until the last in-flight request returned.
    */
  private def loop(seconds: Double, clients: Int, stream: Int, t: Tally, tr: Tracer): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = new scala.util.Random(seed * 31 + stream * 1009 + c)
        val zipf = new Zipf(Graphs, 1.0, r)
        try {
          val ops = Iterator.continually(block(r)).flatten.drop(c * 5)
          while (System.nanoTime() < deadline) {
            val g = zipf.next()
            ops.next() match {
              case ("bfs", start) => read(g, start, bfs = true, t, tr)
              case ("dfs", start) => read(g, start, bfs = false, t, tr)
              case _ => write(g, randomMatrix(r), t, tr)
            }
          }
        } catch { case e: Throwable => t.bad.add(s"client $c stopped: $e") }
      }, s"serve-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The same traffic, untimed, until the JIT has compiled the request
    * paths: latencies fall for the first several seconds of a fresh
    * JVM. Its requests are checked like measured ones.
    */
  def warmUp(seconds: Double, clients: Int): Unit = {
    val t = new Tally
    loop(seconds, clients, stream = 1, t, quiet)
    t.samples.asScala.foreach(_ => report.attempt(ok = true))
    t.bad.asScala.foreach(report.fail)
  }

  def run(seconds: Double, clients: Int): Unit = {
    val t = new Tally
    val cpu0 = Host.processCpuNs()
    val wall = loop(seconds, clients, stream = 0, t, tracer)
    val cpuMs = (Host.processCpuNs() - cpu0) / 1e6
    val all = t.samples.asScala.toSeq
    all.foreach(_ => report.attempt(ok = true))
    t.bad.asScala.foreach(report.fail)
    def lat(kinds: String*) = all.filter(s => kinds.contains(s.kind)).map(_.ms)
    report.put("measured_s", wall, "s")
    // closed loop, no think time: each client's rate is the inverse of
    // its mean latency (Little's law); summing them avoids counting
    // requests cut by the deadline
    report.put("ops_per_s", all.groupBy(_.client).values.map(s => s.size / s.map(_.ms / 1e3).sum).sum, "1/s")
    report.put("cpu_ms_per_op", cpuMs / all.size, "ms")
    // a BFS takes about four times the rounds of a DFS-terminal reach,
    // so one median over both kinds would flip between them with each
    // run's mix, and a DFS median jumps between round counts; each
    // kind's mean is weighted by its share of the traffic (40:35)
    report.put("read_ms", (40 * Stats.mean(lat("bfs")) + 35 * Stats.mean(lat("dfs"))) / 75, "ms")
    report.put("write_ms", Stats.mean(lat("write")), "ms")
    for (k <- Seq("bfs", "dfs", "write")) Stats.describe(report, s"serve_$k", lat(k))
    val scans = all.filter(_.kind != "write")
    report.put("traversed_edges_per_s", Stats.teps(scans.map(s => (s.edges, s.ms / 1e3))), "1/s")
    report.put("trav.rounds", scans.map(_.rounds).sum.toDouble, "count")
    val puts = lat("write").size.max(1)
    report.put("store.files_per_put", t.putFiles.get.toDouble / puts, "count")
    report.put("store.bytes_written_per_put", t.putBytes.get.toDouble / puts, "bytes")
  }

  private def read(g: Int, start: Int, bfs: Boolean, t: Tally, tr: Tracer): Unit = {
    val st = graphs(g)
    val low = st.acked
    val t0 = System.nanoTime()
    val got: Any = tr.request(if (bfs) "serve.bfs" else "serve.dfs") {
      val df = tr.span("store.read")(store.read(name(g)))
      if (bfs) tr.span("trav.bfs")(Traversals.bfsLevels(df, start, N)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
      else tr.span("trav.sinks")(dfsTerminal(df, start, tr))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val high = store.currentVersion(name(g)).get
    explain(st.window(low, high), start, bfs, got) match {
      case Some(ref) =>
        val (rounds, edges) =
          if (bfs) (ref.bfsRounds(start), ref.bfsEdgesScanned(start))
          else (ref.reachRounds(start), ref.reachEdgesScanned(start))
        t.samples.add(Sample(Thread.currentThread.getName, if (bfs) "bfs" else "dfs", ms, rounds, edges))
      case None =>
        t.bad.add(s"${if (bfs) "bfs" else "dfs"} of ${name(g)} from $start matches no version in [$low, $high]")
    }
  }

  private def write(g: Int, m: Matrix, t: Tally, tr: Tracer): Unit = {
    val st = graphs(g)
    // timed from before the lock: a write's latency includes its wait
    // for the graph's exclusive writer
    val t0 = System.nanoTime()
    st.writer.synchronized {
      st.pending(m)
      tr.request("serve.write")(tr.span("store.put")(store.put(name(g), edgesOf(m))))
      val ms = (System.nanoTime() - t0) / 1e6
      val v = store.currentVersion(name(g)).get
      st.record(v, m)
      if (tr.enabled) {
        val files = java.nio.file.Files.list(storeDir.resolve(name(g)).resolve(s"v$v"))
        try files.forEach { f =>
          t.putFiles.incrementAndGet(); t.putBytes.addAndGet(java.nio.file.Files.size(f))
        } finally files.close()
      }
      t.samples.add(Sample(Thread.currentThread.getName, "write", ms, 0, 0))
    }
  }
}

object Serve {
  type Matrix = Array[Array[Boolean]]
  val N = 30        // the reference's vertex cap
  val Graphs = 16

  final case class Sample(client: String, kind: String, ms: Double, rounds: Int, edges: Long)
  final class Tally {
    val samples = new ConcurrentLinkedQueue[Sample]
    val bad = new ConcurrentLinkedQueue[String]
    val putFiles = new java.util.concurrent.atomic.AtomicLong
    val putBytes = new java.util.concurrent.atomic.AtomicLong
  }

  /** One block of a client's requests: every fourth an overwrite, the
    * rest alternating BFS and DFS-terminal (8 BFS, 7 DFS, 5 writes:
    * 40/35/25), with start vertices spread over the vertex range. The
    * order is fixed and clients start at different offsets, so each
    * run, on any seed, issues the same mix even when it ends
    * mid-block.
    */
  def block(r: scala.util.Random): Seq[(String, Int)] = {
    def starts(k: Int) = r.shuffle((0 until k).map(i => (i * N + r.nextInt(N)) / k))
    val bfs = starts(8).iterator
    val dfs = starts(7).iterator
    (0 until 20).map { i =>
      if (i % 4 == 0) "write" -> 0
      else if ((i - i / 4 - 1) % 2 == 0) "bfs" -> bfs.next()
      else "dfs" -> dfs.next()
    }
  }

  /** A random graph shaped like the reference's own shipped fixtures
    * (G1, G12, G13, G16): symmetric, and a tree in which every vertex
    * v > 0 has exactly one lower-numbered neighbour, its parent. The
    * fixtures do not fix how parents are chosen; here each is uniform
    * over 0 until v (a uniform recursive tree).
    */
  def randomMatrix(r: scala.util.Random): Matrix = {
    val m = Array.ofDim[Boolean](N, N)
    for (v <- 1 until N) {
      val p = r.nextInt(v)
      m(p)(v) = true; m(v)(p) = true
    }
    m
  }

  /** DFS-terminal composed as the registered g04 query composes it. */
  def dfsTerminal(edges: DataFrame, start: Int, tracer: Tracer): Set[Int] = {
    val dag = TradeGraph.dagEdges(edges).localCheckpoint()
    val reach = tracer.span("trav.reach")(Traversals.reachableFrom(dag, start))
    reach.join(dag.select(col("src")).distinct(), reach("node") === col("src"), "left_anti")
      .select(col("node")).collect().map(_.getInt(0)).toSet
  }

  /** The first of `window`'s versions whose reference BFS levels (or
    * DFS-terminal set) from `start` equal `got`, if any.
    */
  def explain(window: Seq[Matrix], start: Int, bfs: Boolean, got: Any): Option[RefGraph] =
    window.map(RefGraph.fromMatrix)
      .find(ref => if (bfs) ref.bfs(start) == got else ref.sinks(start) == got)

  /** Versions of one graph the benchmark has published, and the one
    * being written. Reads are checked against the versions that could
    * legally be visible to them.
    */
  final class GraphState {
    val writer = new Object
    private val versions = mutable.Map.empty[Long, Matrix]
    private var inFlight: Option[Matrix] = None
    @volatile private var ackedV = 0L

    def acked: Long = ackedV
    def pending(m: Matrix): Unit = synchronized { inFlight = Some(m) }
    def record(v: Long, m: Matrix): Unit = synchronized {
      versions(v) = m; inFlight = None; ackedV = v
    }

    /** Matrices a read may have seen: every version no older than the
      * last put acknowledged before it began (`low`) and no newer than
      * the newest published when it ended (`high`). A version published
      * but not yet acknowledged is the one in flight.
      */
    def window(low: Long, high: Long): Seq[Matrix] = synchronized {
      (low to high).flatMap(v => versions.get(v).orElse(inFlight))
    }
  }

  /** Zipf(s) over 0 until n, rank 0 the most popular. */
  final class Zipf(n: Int, s: Double, r: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
