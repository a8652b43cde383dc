package graft

import graft.graph._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    // keep top_k_scored on the object-hash path (see TopKAggregate doc)
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
    // the sf1-gated scale tests run multi-minute jobs under broadcast
    // exchanges on this deliberately-small 4-thread session; the 300s
    // default would fail them spuriously
    .config("spark.sql.broadcastTimeout", "1800")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class GraphSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def edgeDf(pairs: (Int, Int)*) =
    pairs.toSeq.toDF("src", "dst")

  test("bfsLevels finds level order on a known path graph") {
    // 0 -> 1 -> 2 -> 3, plus shortcut 0 -> 2
    val e = edgeDf((0, 1), (1, 2), (2, 3), (0, 2))
    val got = Traversals.bfsLevels(e, 0, 6).orderBy("node")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((0, 0), (1, 1), (2, 1), (3, 2)))
  }

  test("reachableFrom stops at unreachable nodes") {
    val e = edgeDf((0, 1), (1, 2), (5, 6))
    val got = Traversals.reachableFrom(e, 0).orderBy("node")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 1, 2))
  }

  test("bfsLevels: the driver path equals the frontier path in rows and schema") {
    import SparkJobs.withConf
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(11)
    def tree(n: Int) = (1 until n).map(v => (rnd.nextInt(v), v))
    // duplicate edges and a self-loop on top of random arcs
    def digraph(n: Int, m: Int) = {
      val arcs = Seq.fill(m)((rnd.nextInt(n), rnd.nextInt(n)))
      arcs ++ arcs.take(3) :+ ((2, 2))
    }
    def ints(pairs: Seq[(Int, Int)]) = pairs.toDF("src", "dst")
    def longs(pairs: Seq[(Int, Int)]) =
      pairs.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    // a nullable dst with one null, reached from vertex 1
    def longsWithNull(pairs: Seq[(Int, Int)]) =
      (pairs.map { case (a, b) => (a.toLong, Option(b.toLong)) } :+ ((1L, None))).toDF("src", "dst")
    def intsWithNull(pairs: Seq[(Int, Int)]) =
      (pairs.map { case (a, b) => (a, Option(b)) } :+ ((1, None))).toDF("src", "dst")
    val inputs: Seq[(String, DataFrame)] = Seq(
      "int tree" -> ints(tree(16)),
      "long tree, null dst" -> longsWithNull(tree(16)),
      "int digraph, null dst" -> intsWithNull(digraph(12, 24)),
      "long digraph" -> longs(digraph(12, 24)))
    // each graph also as a GraphStore version's read: a local relation
    // over the stored rows, every column nullable
    val store = new GraphStore(spark, java.nio.file.Files.createTempDirectory("bfspaths").toString)
    val frames = inputs.zipWithIndex.flatMap { case ((label, e), i) =>
      store.put(s"g$i", e)
      Seq(label -> e, s"$label, stored" -> store.read(s"g$i"))
    }
    def sorted(df: DataFrame) = (df.schema, df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq)
    def frontierPath[T](body: => T) = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    for ((label, e) <- frames) {
      assert(graft.util.Par.broadcastSized(e), s"$label would not take the driver path")
      for (source <- Seq(0, 5, 999); hops <- Seq(0, 1, 3, Int.MaxValue)) {
        def run() = sorted(Traversals.bfsLevels(e, source, hops))
        assert(run() == frontierPath(run()), s"$label from $source, maxHops $hops")
      }
      // the DFS-terminal composition of g04, g23 and the serve benchmark
      val dag = TradeGraph.dagEdges(e).localCheckpoint()
      assert(graft.util.Par.broadcastSized(dag), s"$label: the DAG would not take the driver path")
      for (source <- Seq(0, 5)) {
        def sinks() = sorted(Traversals.reachableSinks(dag, source))
        assert(sinks() == frontierPath(sinks()), s"$label: sinks from $source")
      }
    }
  }

  test("serve path cost: no job per small read or traversal, one file per small put") {
    import SparkJobs.{forksOf, jobsOf}
    val dir = java.nio.file.Files.createTempDirectory("graphserve")
    val store = new GraphStore(spark, dir.toString)
    val rnd = new scala.util.Random(3)
    val tree = (1 until 30).flatMap { v => val p = rnd.nextInt(v); Seq((p, v), (v, p)) }
    val ((_, putJobs), putForks) = forksOf(jobsOf(store.put("T", edgeDf(tree: _*))))
    assert(putJobs.isEmpty, s"a small put ran ${putJobs.size} jobs")
    // no chmod process per directory or file it creates
    assert(putForks == 0, s"a small put forked $putForks processes")
    val parts = java.nio.file.Files.list(dir.resolve("T").resolve("v1"))
    try assert(parts.filter(_.getFileName.toString.startsWith("part-")).count() == 1)
    finally parts.close()

    // the tree's own levels: a vertex is one hop below its parent
    val parent = tree.filter { case (p, v) => p < v }.map(_.swap).toMap
    def depth(v: Int): Int = parent.get(v).map(depth(_) + 1).getOrElse(0)
    val levels = (0 until 30).map(v => v -> depth(v)).toMap
    // one request of each traversal kind over one read
    def serve(s: GraphStore) = {
      val edges = s.read("T")
      (Traversals.bfsLevels(edges, 0, 30).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap,
        Traversals.reachableFrom(edges, 0).collect().map(_.getInt(0)).sorted.toSeq)
    }
    def pin(s: GraphStore, label: String, jobs: Int): Unit = {
      val (got, ran) = jobsOf(serve(s))
      assert(ran.size == jobs, s"$label ran ${ran.size} jobs")
      assert(got == (levels -> (0 until 30)), label)
    }
    pin(store, "the first read after the store's own put, with its traversals", 0)
    pin(store, "a repeat read, with its traversals", 0)
    // another instance collects a version it did not write once
    val other = new GraphStore(spark, dir.toString)
    pin(other, "another instance's first read, with its traversals", 1)
    pin(other, "another instance's repeat read, with its traversals", 0)

    // a drop and a new put, from another store instance, reuse v1: the
    // read must serve the new version's schema and rows, not the memo's
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val path = (0 until 29).map(v => (v, v + 1, 1.5))
    other.drop("T")
    other.put("T", path.toDF("src", "dst", "weight"))
    assert(store.currentVersion("T").contains(1L))
    assert(store.read("T").schema.fieldNames.toSeq == Seq("src", "dst", "weight"))
    assert(rows(store.read("T")) == rows(path.toDF()))
    val star = (1 until 30).map(v => (0, v, 2.5))
    other.drop("T")
    other.put("T", star.toDF("src", "dst", "weight"))
    assert(rows(store.read("T")) == rows(star.toDF()))
  }

  test("GraphStore: a driver-written version equals a Spark-written one") {
    import SparkJobs.{jobsOf, withConf}
    val dir = java.nio.file.Files.createTempDirectory("graphwrite").toString
    val frames = Seq(
      "ints" -> Seq[(Int, Option[Int])]((0, Some(1)), (1, Some(2)), (2, None)).toDF("src", "dst"),
      "longs" -> Seq[(Long, Long, Option[Double], Option[String])](
        (0L, 1L, Some(1.5), Some("a")), (1L, 2L, None, None), (3L, 0L, Some(-2.25), Some("")))
        .toDF("src", "dst", "weight", "label"),
      "empty" -> Seq.empty[(Int, Int, Double, String)].toDF("src", "dst", "weight", "label"))
    val store = new GraphStore(spark, dir)
    frames.foreach { case (n, df) =>
      val (_, driverJobs) = jobsOf(store.put(s"$n-driver", df))
      assert(driverJobs.isEmpty, s"$n: the driver write ran ${driverJobs.size} jobs")
      val (_, sparkJobs) = jobsOf(withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
        store.put(s"$n-spark", df)))
      assert(sparkJobs.nonEmpty, s"$n: the Spark write ran no job")
    }
    // the footers carry the same Spark schema (non-null columns stay
    // REQUIRED, as in Spark's own write)
    def footerSchemas(v1: String) = {
      val parts = new java.io.File(v1).listFiles().filter(_.getName.startsWith("part-"))
      parts.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
        finally r.close()
      }.toSet
    }
    // another process: a second store instance and a plain parquet read
    val other = new GraphStore(spark, dir)
    def rows(r: org.apache.spark.sql.DataFrame) = r.collect().map(_.toString).sorted.toSeq
    frames.foreach { case (n, df) =>
      assert(footerSchemas(s"$dir/$n-driver/v1") == footerSchemas(s"$dir/$n-spark/v1"), n)
      val reads = Seq(store.read(s"$n-driver"), store.read(s"$n-spark"),
        other.read(s"$n-driver"), other.read(s"$n-spark"),
        spark.read.parquet(s"$dir/$n-driver/v1"), spark.read.parquet(s"$dir/$n-spark/v1"))
      assert(reads.head.schema.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType))
      assert(reads.head.schema.forall(_.nullable), s"$n: ${reads.head.schema}")
      reads.foreach { r =>
        assert(r.schema == reads.head.schema, n)
        assert(rows(r) == rows(df), n)
      }
    }
  }

  test("GraphStore: a failed small put publishes nothing, and its claim is skipped and swept") {
    val dir = java.nio.file.Files.createTempDirectory("graphfail")
    val store = new GraphStore(spark, dir.toString)
    store.put("G", edgeDf((0, 1)))
    val bad = spark.range(3).select(col("id").as("src"), raise_error(lit("boom")).cast("long").as("dst"))
    assert(graft.util.Par.broadcastSized(bad))
    val failed = intercept[Exception](store.put("G", bad))
    assert(failed.getMessage.contains("boom"), failed.toString)
    def edges(s: GraphStore) = s.read("G").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val other = new GraphStore(spark, dir.toString)
    assert(store.currentVersion("G").contains(1L) && other.currentVersion("G").contains(1L))
    assert(edges(store) == Seq((0, 1)) && edges(other) == Seq((0, 1)))
    store.put("G", edgeDf((1, 2)))
    assert(store.currentVersion("G").contains(3L) && other.currentVersion("G").contains(3L))
    assert(edges(other) == Seq((1, 2)))
    assert(store.vacuum("G", keepLast = 2) == Seq(2L))
    assert(!java.nio.file.Files.exists(dir.resolve("G").resolve("_claim.v2")))
    assert(store.versions("G") == Seq(1L, 3L))
  }

  test("labelPropagate separates two components") {
    val nodes = Seq(0, 1, 2, 10, 11).toDF("node")
    val sym = edgeDf((0, 1), (1, 0), (1, 2), (2, 1), (10, 11), (11, 10))
    val got = Components.labelPropagate(nodes, sym).orderBy("node")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((0, 0), (1, 0), (2, 0), (10, 10), (11, 10)))
  }

  test("labelPropagate labels every vertex of a 60-vertex path with 0") {
    // diameter 59: hash-min needs 60 rounds, so a round cap below that
    // would leave the far end with a wrong label
    val nodes = (0 until 60).toDF("node")
    val path = (0 until 59).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val got = Components.labelPropagate(nodes, edgeDf(path: _*))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == (0 until 60).map(_ -> 0).toMap)
  }

  test("adjacency matrix text roundtrip matches G.txt format") {
    val e = edgeDf((0, 1), (1, 2), (2, 0))
    val path = java.nio.file.Files.createTempDirectory("gtxt").resolve("G1.txt")
    sources.GraphTextIO.write(e, 3, path.toString)
    assert(new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      == "3\n0 1 0\n0 0 1\n1 0 0\n")
    val back = sources.GraphTextIO.read(spark, path.toString)
      .select("src", "dst").orderBy("src", "dst")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(back == Seq((0, 1), (1, 2), (2, 0)))
  }

  test("GraphStore add/modify/read with snapshot versioning") {
    val dir = java.nio.file.Files.createTempDirectory("graphstore").toString
    val store = new GraphStore(spark, dir)
    assert(store.list().isEmpty)
    store.add("G1", edgeDf((0, 1), (1, 2)))
    assert(store.currentVersion("G1").contains(1L))
    assert(store.read("G1").count() == 2)
    store.modify("G1", edgeDf((4, 5)))
    assert(store.currentVersion("G1").contains(2L))
    val rows = store.read("G1").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((4, 5)))
    store.add("G2", edgeDf((7, 8)))
    assert(store.list() == Seq("G1", "G2"))
    intercept[java.util.NoSuchElementException](store.read("missing"))
    // time travel: immutable snapshots keep history readable
    assert(store.versions("G1") == Seq(1L, 2L))
    val v1 = store.readVersion("G1", 1L).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(v1 == Set((0, 1), (1, 2)))
    intercept[java.util.NoSuchElementException](store.readVersion("G1", 9L))
  }

  test("GraphStore publish is atomic under concurrent reads") {
    // regression for the delete/rename pointer window: a reader
    // polling currentVersion during repeated put() calls must always
    // see some version — never a missing pointer — and versions must
    // be strictly increasing
    val dir = java.nio.file.Files.createTempDirectory("graphrace").toString
    val store = new GraphStore(spark, dir)
    store.add("G", edgeDf((0, 1)))
    @volatile var failure: Option[String] = None
    @volatile var running = true
    val reader = new Thread(() => {
      var last = 0L
      while (running && failure.isEmpty) {
        store.currentVersion("G") match {
          case None => failure = Some("pointer vanished mid-publish")
          case Some(v) =>
            if (v < last) failure = Some(s"version went backwards: $last -> $v")
            last = v
        }
      }
    })
    reader.start()
    (2 to 6).foreach(i => store.modify("G", edgeDf((i, i + 1))))
    running = false
    reader.join(10000)
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(store.currentVersion("G").contains(6L))
  }

  test("GraphStore applyDelta and drop") {
    val dir = java.nio.file.Files.createTempDirectory("graphdelta").toString
    val store = new GraphStore(spark, dir)
    store.add("G", edgeDf((0, 1), (1, 2), (2, 3)))
    store.applyDelta("G", additions = edgeDf((5, 6)), deletions = edgeDf((1, 2)))
    val rows = store.read("G").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rows == Set((0, 1), (2, 3), (5, 6)))
    assert(store.currentVersion("G").contains(2L))
    store.drop("G")
    assert(store.list().isEmpty)
    intercept[java.util.NoSuchElementException](store.read("G"))
  }

  test("GraphStore: concurrent deltas on one name both land; a view publishes at its own delta's version") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val base = java.nio.file.Files.createTempDirectory("graphdeltarace").toString
    val store = new GraphStore(spark, s"$base/store")
    val view = new DistinctPairView(spark, store, "G", s"$base/view")
    def edges(v: Long) = store.readVersion("G", v).collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    store.add("G", edgeDf((0, 1)))
    view.rebuild()
    for (round <- 1 to 4) {
      val (a, b) = ((100 + round, 1), (200 + round, 2))
      // both deltas start together, one through the view
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val fa = Future { gate.await(); view.applyDelta(edgeDf(a), edgeDf()) }
      val fb = Future { gate.await(); store.applyDelta("G", edgeDf(b), edgeDf()) }
      val (va, vb) = (Await.result(fa, 2.minutes), Await.result(fb, 2.minutes))
      assert(va != vb)
      val newest = store.currentVersion("G").get
      assert(newest == math.max(va, vb))
      assert(edges(newest).contains(a) && edges(newest).contains(b), s"round $round lost a delta")
      assert(view.version.contains(va))
      assert(view.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet == edges(va))
    }
  }

  test("GraphStore vacuum retains newest versions and the current pointer") {
    val dir = java.nio.file.Files.createTempDirectory("graphvacuum").toString
    val store = new GraphStore(spark, dir)
    (1 to 5).foreach(i => store.put("G", edgeDf((i, i + 1))))
    assert(store.versions("G") == Seq(1L, 2L, 3L, 4L, 5L))
    val dropped = store.vacuum("G", keepLast = 2)
    assert(dropped == Seq(1L, 2L, 3L))
    assert(store.versions("G") == Seq(4L, 5L))
    assert(store.read("G").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((5, 6)))
    // vacuumed history is gone; retained history still time-travels
    intercept[java.util.NoSuchElementException](store.readVersion("G", 1L))
    assert(store.readVersion("G", 4L).count() == 1)
    // idempotent: nothing more to drop
    assert(store.vacuum("G", keepLast = 2).isEmpty)
    intercept[IllegalArgumentException](store.vacuum("G", keepLast = 0))
  }

  test("GraphStore readers of retained snapshots survive a concurrent vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graphvacrace").toString
    val store = new GraphStore(spark, dir)
    (1 to 8).foreach(i => store.put("G", edgeDf((i, i + 1))))
    @volatile var failure: Option[String] = None
    @volatile var running = true
    // readers hammer the two versions every vacuum(keepLast=2) retains
    val readers = Seq(7L, 8L).map { v =>
      new Thread(() => {
        while (running && failure.isEmpty) {
          try {
            if (store.readVersion("G", v).count() != 1)
              failure = Some(s"v$v lost rows mid-vacuum")
          } catch {
            case e: Exception => failure = Some(s"v$v read failed: $e")
          }
        }
      })
    }
    readers.foreach(_.start())
    // repeated vacuums while writers add history behind the readers
    (9 to 12).foreach { i =>
      store.put("G", edgeDf((i, i + 1)))
      store.vacuum("G", keepLast = 6)
    }
    running = false
    readers.foreach(_.join(20000))
    assert(failure.isEmpty, failure.getOrElse(""))
    // the hammered versions are still within the retained window
    assert(store.versions("G").toSet.intersect(Set(7L, 8L)) == Set(7L, 8L))
  }

  test("bipartite components report consistent sides") {
    val got = SparkEntry.queries("g11_bipartite_cc")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3)) // n_nodes = customers + suppliers
    }
  }

  test("labelPropagate matches GraphX connectedComponents on the trade graph") {
    // independent cross-check against Spark's own graph library:
    // GraphX CC also labels each component with its min vertex id, so
    // the outputs must agree exactly
    import org.apache.spark.graphx.{Edge, Graph}
    val edges = TradeGraph.edgesTable(spark, "/root/testdata/sf0.001")
    val sym = TradeGraph.symEdges(edges)
    val nodes = TradeGraph.nodes(spark, "/root/testdata/sf0.001")
    val ours = Components.labelPropagate(nodes, sym)
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap
    val vRdd = spark.sparkContext.parallelize(
      nodes.collect().map(r => (r.getInt(0).toLong, ())).toSeq)
    val eRdd = spark.sparkContext.parallelize(
      sym.collect().map(r => Edge(r.getInt(0).toLong, r.getInt(1).toLong, ())).toSeq)
    val theirs = Graph(vRdd, eRdd).connectedComponents()
      .vertices.collect().toMap
    assert(ours == theirs)
  }

  test("bipartiteComponents contraction equals direct label propagation") {
    // three components: {c1,c2 / s1,s2}, {c5 / s9}, {c7,c8 / s3} —
    // plus a case where the min node is a supplier (s3=7 < c7*2=14)
    val pairs = Seq((1L, 1L), (1L, 2L), (2L, 2L), (5L, 9L), (7L, 3L), (8L, 3L))
      .toDF("cust", "supp")
    val got = Components.bipartiteComponents(pairs).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // direct propagation on the doubled graph for comparison
    val bip = pairs.select((col("cust") * 2).cast("long").as("src"),
      (col("supp") * 2 + 1).cast("long").as("dst"))
    val nodes = bip.select(col("src").as("node"))
      .unionAll(bip.select(col("dst").as("node"))).distinct()
    val sym = bip.unionAll(bip.select(col("dst").as("src"), col("src").as("dst")))
    val want = Components.labelPropagate(nodes, sym).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(got.map(_._2).distinct.size == 3)
    // the {c7,c8,s3} component is labeled by its supplier (7 < 14)
    assert(got.toMap.apply(14L) == 7L)
  }

  test("kCoreBipartite peels a pendant chain over several rounds, like a driver-side peel") {
    // customers c0, c1 and suppliers s0, s1 form a 2-core; the chain
    // c1-s2-c2-s3-c3-s4 hangs off it and peels one pair per round from
    // the s4 end (5 rounds), so a loop that stops early keeps some of it
    val pairs = Seq((0, 0), (0, 1), (1, 0), (1, 1),
      (1, 2), (2, 2), (2, 3), (3, 3), (3, 4))
    def peel(ps: Set[(Int, Int)], k: Int): Set[(Int, Int)] = {
      val dc = ps.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
      val ds = ps.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
      val kept = ps.filter { case (c, s) => dc(c) >= k && ds(s) >= k }
      if (kept == ps) ps else peel(kept, k)
    }
    val want = peel(pairs.toSet, 2)
    assert(want == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    // duplicate pairs must not inflate degrees
    val got = Components.kCoreBipartite((pairs :+ ((3, 4))).toDF("cust", "supp"), 2)
      .select("cust", "supp").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == want)
  }

  test("triangle counting on a known graph") {
    // square 0-1-2-3 with one diagonal 0-2: triangles (0,1,2) and (0,2,3)
    val e = edgeDf((0, 1), (1, 2), (2, 3), (3, 0), (0, 2))
    val tris = Triangles.orderedEdges(e)
    val t1 = tris.as("e1"); val t2 = tris.as("e2"); val t3 = tris.as("e3")
    val n = t1.join(t2, col("e1.b") === col("e2.a"))
      .join(t3, col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .count()
    assert(n == 2)
  }

  test("bounded Bellman-Ford relaxes through cheaper multi-hop paths") {
    import org.apache.spark.sql.functions.{col => c}
    // reference: 4 full-relaxation rounds, every edge relaxed every round
    def fullRelax(dag: org.apache.spark.sql.DataFrame): Map[Int, Long] = {
      var dist = Seq((0, 0L)).toDF("node", "cost")
      for (_ <- 1 to 4) {
        val relaxed = dist.join(dag, dist("node") === dag("src"))
          .select(dag("dst").as("node"), (dist("cost") + dag("cost")).as("cost"))
        dist = dist.unionAll(relaxed)
          .groupBy(c("node")).agg(org.apache.spark.sql.functions.min(c("cost")).as("cost"))
          .localCheckpoint()
      }
      dist.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    def bounded(dag: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      Traversals.ssspConverged(dag, 0L, maxRounds = 4)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    // direct 0->3 cost 10 vs 0->1->2->3 cost 3
    val dag = Seq((0, 3, 10L), (0, 1, 1L), (1, 2, 1L), (2, 3, 1L))
      .toDF("src", "dst", "cost").localCheckpoint()
    val m = bounded(dag)
    assert(m == fullRelax(dag))
    assert(m(3) == 3L && m(2) == 2L && m(1) == 1L && m(0) == 0L)
    // the cap binds: the 5-hop cheap path 0->1->...->5 (cost 5) lies
    // beyond 4 rounds, so node 5 keeps the 1-hop expensive edge's cost
    val capped = (Seq((0, 5, 100L)) ++ (0 until 5).map(i => (i, i + 1, 1L)))
      .toDF("src", "dst", "cost").localCheckpoint()
    val mc = bounded(capped)
    assert(mc == fullRelax(capped))
    assert(mc(5) == 100L && mc(4) == 4L)
  }

  test("pagerank ranks sum to ~1") {
    val nodes = Seq(0, 1, 2).toDF("node")
    val e = edgeDf((0, 1), (1, 2)) // node 2 dangles
    val total = PageRank.run(nodes, e.withColumn("weight", lit(1L)), 10)
      .agg(sum("rank")).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("racing writers from separate store instances never share a version") {
    // Two GraphStore instances on one directory model two driver
    // processes: the in-JVM writer lock cannot serialize them, so the
    // atomic claim-file allocation must — a shared version number
    // would mean one writer's parquet overwrite clobbers the other's
    // snapshot mid-write.
    val dir = java.nio.file.Files.createTempDirectory("graphrace2").toString
    val a = new GraphStore(spark, dir)
    val b = new GraphStore(spark, dir)
    a.add("G", edgeDf((0, 1)))
    val dfs = (1 to 12).map(i => edgeDf((i, i + 1)))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => try {
        val st = if (t % 2 == 0) a else b
        (0 until 3).foreach(j => st.put("G", dfs(t * 3 + j)))
      } catch { case e: Throwable => failures.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    // 1 initial + 12 racing puts: 13 DISTINCT versions, no clobbers
    assert(a.versions("G") == (1L to 13L))
    // pointer monotonicity at quiescence: a slow writer's rename can
    // transiently roll the pointer back, but its post-publish fix-up
    // must re-publish the newest complete snapshot — once all writers
    // finish, the pointer is the max version, never a rolled-back one
    assert(a.currentVersion("G").contains(13L))
    // the pointer resolves to a readable snapshot that is one of the
    // racing writers' single-edge frames
    assert(a.read("G").count() == 1L)
    // every snapshot is intact (none half-overwritten)
    (1L to 13L).foreach(v => assert(a.readVersion("G", v).count() == 1L))
  }

  test("bipairs delta refresh on real testdata equals full rebuild") {
    // The concrete instance of the incremental story: the bipartite
    // customer-supplier pair index maintained under a stream of trade
    // deltas without rescanning the fact data.
    val base = java.nio.file.Files.createTempDirectory("bipairsview").toString
    val store = new GraphStore(spark, s"$base/store")
    val view = new DistinctPairView(spark, store, "bipairs", s"$base/view")
    val pairs = Components.bipartitePairs(spark, "/root/testdata/sf0.001")
      .select(col("cust").as("src"), col("supp").as("dst"))
    store.add("bipairs", pairs)
    view.rebuild()
    // new trade relationships + a churned one, as a delta
    val adds = Seq((900001L, 1L), (900001L, 2L), (900002L, 3L)).toDF("src", "dst")
    val dels = pairs.limit(5)
    view.applyDelta(adds, dels)
    val got = view.read().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = store.read("bipairs").select("src", "dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == full && got.contains((900001L, 1L)))
    assert(view.isFresh)
  }

  test("DistinctPairView delta refresh equals full rebuild across deltas") {
    val base = java.nio.file.Files.createTempDirectory("graphview").toString
    val store = new GraphStore(spark, s"$base/store")
    val view = new DistinctPairView(spark, store, "G", s"$base/view")
    def viewSet() = view.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    def fullSet() = store.read("G").select("src", "dst").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet

    // multiplicity matters: (1,2) twice, so the view must not need counts
    store.add("G", edgeDf((0, 1), (1, 2), (1, 2), (2, 3)))
    view.rebuild()
    assert(view.isFresh && viewSet() == Set((0, 1), (1, 2), (2, 3)))

    // delete a multi-edge key + a single key, add a new key and re-add
    // a deleted one — the union/anti algebra's corner cases in one delta
    view.applyDelta(additions = edgeDf((5, 6), (2, 3)),
      deletions = edgeDf((1, 2), (2, 3)))
    assert(view.isFresh && store.currentVersion("G").contains(2L))
    assert(viewSet() == fullSet() && viewSet() == Set((0, 1), (2, 3), (5, 6)))

    // second chained delta stays consistent
    view.applyDelta(additions = edgeDf((7, 8)), deletions = edgeDf((0, 1)))
    assert(view.isFresh && viewSet() == fullSet())

    // store modified behind the view's back -> stale, next delta recovers
    store.modify("G", edgeDf((9, 9)))
    assert(!view.isFresh)
    view.applyDelta(additions = edgeDf((4, 4)), deletions = edgeDf((9, 9)))
    assert(view.isFresh && viewSet() == fullSet() && viewSet() == Set((4, 4)))
  }

  test("DegreeView delta refresh equals full rebuild, multiplicity counted") {
    val base = java.nio.file.Files.createTempDirectory("degview").toString
    val store = new GraphStore(spark, s"$base/store")
    val view = new DegreeView(spark, store, "G", s"$base/view")
    def viewMap() = view.read().collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def fullMap() = {
      val e = store.read("G")
      val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("o"))
      val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("i"))
      out.join(in, Seq("node"), "full_outer").collect().map { r =>
        val o = if (r.isNullAt(1)) 0L else r.getLong(1)
        val i = if (r.isNullAt(2)) 0L else r.getLong(2)
        r.getInt(0) -> (o, i, o + i)
      }.toMap
    }

    // (1,2) twice: degrees MUST count multi-edges, unlike the pair view
    store.add("G", edgeDf((0, 1), (1, 2), (1, 2), (2, 3)))
    view.rebuild()
    assert(view.isFresh && viewMap() == fullMap())
    assert(viewMap()(1) == ((2L, 1L, 3L))) // out counts both (1,2) rows

    // delete the multi-edge key (removes BOTH rows), re-add it once,
    // stack an extra row on a surviving key, add a brand-new key
    view.applyDelta(
      additions = edgeDf((1, 2), (0, 1), (5, 6)),
      deletions = edgeDf((1, 2)))
    assert(view.isFresh && viewMap() == fullMap())
    assert(viewMap()(1) == ((1L, 2L, 3L))) // (1,2) back to one row; in from 0 twice
    assert(viewMap()(0) == ((2L, 0L, 2L))) // (0,1) stacked to multiplicity 2

    // chained delta: a node whose degree drops to zero leaves the view
    view.applyDelta(additions = edgeDf(), deletions = edgeDf((5, 6)))
    assert(view.isFresh && viewMap() == fullMap() && !viewMap().contains(5))

    // store modified behind the view's back -> stale, next delta recovers
    store.modify("G", edgeDf((9, 8)))
    assert(!view.isFresh)
    view.applyDelta(additions = edgeDf((4, 3)), deletions = edgeDf())
    assert(view.isFresh && viewMap() == fullMap())
    assert(viewMap() == Map(9 -> ((1L, 0L, 1L)), 8 -> ((0L, 1L, 1L)),
      4 -> ((1L, 0L, 1L)), 3 -> ((0L, 1L, 1L))))
  }

  test("DegreeView half-published snapshot is invisible and recovered") {
    val base = java.nio.file.Files.createTempDirectory("degviewcrash").toString
    val store = new GraphStore(spark, s"$base/store")
    val view = new DegreeView(spark, store, "G", s"$base/view")
    store.add("G", edgeDf((0, 1), (1, 2)))
    view.rebuild()
    view.applyDelta(additions = edgeDf((2, 3)), deletions = edgeDf())
    assert(view.version.contains(2L) && view.isFresh)

    // a writer that crashed between the kcnt and deg writes leaves a
    // markerless v3 whose kcnt holds a part file: must not become the
    // served version
    Seq((7, 8, 5L)).toDF("src", "dst", "cnt").write.parquet(s"$base/view/v3/kcnt")
    assert(view.version.contains(2L) && view.isFresh)
    assert(view.read().count() == 4) // v2 still serves (nodes 0,1,2,3)

    // crash AFTER the marker was removed (simulates marker-less newest
    // at the CURRENT graph version): view reports the older complete
    // snapshot, shows stale, and the next delta recovers via rebuild
    val marker = java.nio.file.Paths.get(s"$base/view/v2/_VIEW_OK")
    java.nio.file.Files.delete(marker)
    assert(view.version.contains(1L) && !view.isFresh)
    view.applyDelta(additions = edgeDf((5, 6)), deletions = edgeDf((0, 1)))
    assert(view.isFresh && view.version.contains(3L))
    val got = view.read().collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(got == Map(1 -> 1L, 2 -> 2L, 3 -> 1L, 5 -> 1L, 6 -> 1L))
    // the recovery publish at v3 replaced the crashed writer's kcnt
    assert(spark.read.parquet(s"$base/view/v3/kcnt").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet ==
      Set((1, 2, 1L), (2, 3, 1L), (5, 6, 1L)))
  }

  test("a view rebuilt twice at one graph version holds its rows once") {
    val base = java.nio.file.Files.createTempDirectory("viewrebuild").toString
    val store = new GraphStore(spark, s"$base/store")
    val pv = new DistinctPairView(spark, store, "G", s"$base/pv")
    val dv = new DegreeView(spark, store, "G", s"$base/dv")
    store.add("G", edgeDf((0, 1), (1, 2), (1, 2)))
    pv.rebuild(); dv.rebuild()
    pv.rebuild(); dv.rebuild()
    assert(pv.version.contains(1L) && dv.version.contains(1L))
    def pairs() = pv.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    def degs() = dv.read().collect().map(r => r.getInt(0) -> r.getLong(3)).toSeq.sorted
    assert(pairs() == Seq((0, 1), (1, 2)))
    assert(degs() == Seq(0 -> 1L, 1 -> 3L, 2 -> 2L))
    // the next incremental refresh folds the delta into kcnt and deg
    // once each
    dv.applyDelta(additions = edgeDf((2, 0)), deletions = edgeDf((0, 1)))
    assert(degs() == Seq(0 -> 1L, 1 -> 2L, 2 -> 3L))
  }

  test("view vacuum retains the served snapshot and drops history + crash leftovers") {
    val base = java.nio.file.Files.createTempDirectory("viewvacuum").toString
    val store = new GraphStore(spark, s"$base/store")
    val dv = new DegreeView(spark, store, "G", s"$base/dv")
    val pv = new DistinctPairView(spark, store, "G", s"$base/pv")
    store.add("G", edgeDf((0, 1), (1, 2)))
    dv.rebuild(); pv.rebuild()
    dv.applyDelta(additions = edgeDf((2, 3)), deletions = edgeDf())
    pv.applyDelta(additions = edgeDf((3, 4)), deletions = edgeDf())
    // view versions now: dv {1,2}, pv {1,3} (pv's delta bumped store to 3)
    intercept[IllegalArgumentException](dv.vacuum(0))
    // plant a markerless crash leftover; vacuum sweeps it too
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/dv/v9/kcnt"))
    assert(dv.vacuum(1).toSet == Set(1L, 9L))
    assert(dv.version.contains(2L) && dv.read().count() == 4)
    assert(pv.vacuum(1) == Seq(1L))
    assert(pv.version.contains(3L))
    assert(pv.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((0, 1), (1, 2), (2, 3), (3, 4)))
    // vacuum keeps everything when keepLast covers all versions
    assert(dv.vacuum(5).isEmpty)
  }

  test("DegreeView incremental refresh never scans the base edge table") {
    // The g21 serve-path guarantee, proven the brutal way: after the
    // store publishes the delta, DELETE every base snapshot's data
    // files — the incremental refresh must still succeed (it reads only
    // the view's own kcnt/deg snapshots + the delta) and produce the
    // same degrees a full rebuild would have.
    val base = java.nio.file.Files.createTempDirectory("degviewnoscan").toString
    val store = new GraphStore(spark, s"$base/store")
    val view = new DegreeView(spark, store, "G", s"$base/view")
    store.add("G", edgeDf((0, 1), (1, 2), (1, 2), (2, 3)))
    view.rebuild()
    assert(view.isFresh)
    val adds = edgeDf((3, 4), (1, 2))
    val dels = edgeDf((0, 1))
    // expected result of (base ∖ {(0,1)}) ∪ adds, multiplicity counted:
    // edges (1,2)x3, (2,3), (3,4)
    val expected = Map(
      1 -> ((3L, 0L, 3L)), 2 -> ((1L, 3L, 4L)),
      3 -> ((1L, 1L, 2L)), 4 -> ((0L, 1L, 1L)))
    val published = store.applyDelta("G", adds, dels) // view now one version behind
    // scorched earth: no base data left to scan
    store.versions("G").foreach { v =>
      val d = java.nio.file.Paths.get(s"$base/store/G/v$v")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    view.refreshIncremental(adds, dels, published)
    assert(view.isFresh && view.version.contains(2L))
    val got = view.read().collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  test("g21 repeated invocations share one stored base: same result, flat disk") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def g21Dirs() = java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_g21")).toSet
    def versionDirs(p: java.nio.file.Path) =
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(d => java.nio.file.Files.isDirectory(d) &&
          d.getFileName.toString.matches("v\\d+")).toSeq

    val before = g21Dirs()
    def run() = SparkEntry.queries("g21_stored_degrees")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toList
    val first = run()
    assert(first.nonEmpty)
    assert(run() == first) // delta is idempotent against the shared base
    assert(run() == first)
    // at most one scratch dir for the whole session — zero new when an
    // earlier suite in this session (e.g. Smoke) already ran g21 —
    // never one per invocation
    assert((g21Dirs() -- before).size <= 1)
    // and vacuum keeps store+view snapshots bounded (≤3 store versions
    // + ≤3 view versions live right after a delta), so disk cannot
    // grow with the invocation count
    g21Dirs().foreach(d => assert(versionDirs(d).size <= 6))
  }
}
