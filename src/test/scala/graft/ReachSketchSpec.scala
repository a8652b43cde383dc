package graft

import graft.SparkJobs.{jobsOf, withConf}
import graft.graph.ReachSketch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sketch ops are only useful if their estimates track the exact
  * counts they replace — these gates compare g18/g19 against the exact
  * closure (g07) and exact component sizes (bipartiteComponents) on
  * graphs small enough to know the truth.
  *
  * FM with R=16 registers has σ ≈ 28%; the factor-3 bound is ~4σ in
  * log space, tight enough to catch a broken hash (the first, replica-
  * in-low-bits attempt saturated every estimate near 1.8 regardless of
  * true count) while never flaking on a correct one.
  */
class ReachSketchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private val Phi = 0.77351

  private def assertWithinFactor(rows: Seq[(Long, Double, Long)], factor: Double): Unit = {
    val bad = rows.filter { case (_, est, exact) =>
      est > exact * factor || est < exact / factor }
    assert(bad.isEmpty, s"estimates off by >${factor}x: $bad")
  }

  test("g18 estimates track exact g07 reachability counts (factor 3, exact >= 8)") {
    val exact = SparkEntry.queries("g07_reachability")(spark, sf)
      .select(col("node"), col("n_reachable"))
    val est = SparkEntry.queries("g18_reach_sketch")(spark, sf)
      .withColumn("est", pow(lit(2.0), col("est_log2")) / lit(Phi))
      .select(col("node"), col("est"))
    val rows = exact.join(est, Seq("node"))
      .filter(col("n_reachable") >= 8)
      .collect()
      .map(r => (r.getAs[Int]("node").toLong, r.getAs[Double]("est"),
        r.getAs[Long]("n_reachable")))
      .toSeq
    assert(rows.nonEmpty, "fixture has no node reaching >= 8 others")
    assertWithinFactor(rows, 3.0)
  }

  test("g20 sketch closeness tracks exact g14 on the nation graph (factor 3)") {
    val exact = SparkEntry.queries("g14_closeness")(spark, sf)
      .select(col("node"), col("n_reachable"), col("sum_dist"))
    val sym = graph.TradeGraph.symEdges(
      graph.TradeGraph.edgesTable(spark, sf)).localCheckpoint()
    val est = graph.ReachSketch.sketchCloseness(
      sym, graph.TradeGraph.nodes(spark, sf))
    val rows = exact.join(est, Seq("node"))
      .filter(col("n_reachable") >= 8)
      .collect()
      .map(r => (r.getAs[Int]("node").toLong,
        r.getAs[Double]("est_n"), r.getAs[Long]("n_reachable"),
        r.getAs[Double]("est_sum_dist"), r.getAs[Long]("sum_dist")))
      .toSeq
    assert(rows.nonEmpty, "fixture has no node reaching >= 8 others")
    // reachable-count estimate: the same gate g18/g19 pass
    assertWithinFactor(rows.map(r => (r._1, r._2, r._3)), 3.0)
    // distance-sum estimate: per-round diffs of correlated estimates
    // are noisier than the final count, but factor 3 still holds and
    // still catches a broken hash or a mis-telescoped sum
    assertWithinFactor(rows.map(r => (r._1, r._4, r._5)), 3.0)
  }

  test("g19 estimates track exact bipartite component sizes (factor 3, size >= 8)") {
    val comps = graph.Components.bipartiteComponents(
      graph.Components.bipartitePairs(spark, sf))
    val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
    val exact = comps.join(sizes, Seq("comp")).select(col("node"), col("csize"))
    val est = SparkEntry.queries("g19_reach_sketch_bipartite")(spark, sf)
      .withColumn("est", pow(lit(2.0), col("est_log2")) / lit(Phi))
      .select(col("node"), col("est"))
    val rows = exact.join(est, Seq("node"))
      .filter(col("csize") >= 8)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Double]("est"), r.getAs[Long]("csize")))
      .toSeq
    assert(rows.nonEmpty, "fixture has no component of size >= 8")
    assertWithinFactor(rows, 3.0)
  }

  /** Node `w`'s own bit in register `r`: the lowest set bit of the
    * sketch's two-round Lehmer hash, with bit 30 forced on.
    */
  private def ownBit(w: Long, r: Int): Long = {
    val m = 2147483647L
    val h1 = 16807L * (w + r * 1000003L + 1) % m
    val h2 = 48271L * h1 % m
    1L << java.lang.Long.numberOfTrailingZeros(h2 | (1L << 30))
  }

  /** Round d's registers per source node, from the exact set of nodes
    * its walks of 1..d edges reach.
    */
  private def expectedFrames(edges: Seq[(Int, Int)]): Seq[Map[Long, Seq[Long]]] = {
    val succ = edges.groupBy(_._1).view.mapValues(_.map(_._2.toLong).toSet).toMap
    val reach = Iterator.iterate(succ.map { case (v, s) => v.toLong -> s }) { prev =>
      succ.map { case (v, s) => v.toLong -> (s ++ s.flatMap(w => prev.getOrElse(w, Set.empty))) }
    }.take(ReachSketch.Rounds).toSeq
    reach.map(_.map { case (v, ws) =>
      v -> (0 until ReachSketch.R).map(r => ws.foldLeft(0L)((acc, w) => acc | ownBit(w, r))) })
  }

  private def sketchFrames(edges: Seq[(Int, Int)]): (Seq[Map[Long, Seq[Long]]], Int) = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").localCheckpoint()
    // AQE off: then each round is exactly one job
    val (frames, jobs) = withConf("spark.sql.adaptive.enabled" -> "false") {
      jobsOf(ReachSketch.sketchRegisterRounds(df))
    }
    (frames.map(_.collect().map(r => r.getInt(0).toLong ->
      (1 to ReachSketch.R).map(r.getLong)).toMap), jobs.size)
  }

  test("each round-d sketch frame is the bit_or of own bits over the exact <=d-hop reach " +
      "set: the round cap binds on a 15-vertex path, the early exit fires by round 4") {
    assert(ReachSketch.Rounds == 10)
    // 0 -> 1 -> ... -> 14: round 10 still adds a node to every source
    // below 5, so all nine rounds after the first run
    val path = (0 until 14).map(i => (i, i + 1))
    val wantPath = expectedFrames(path)
    assert(wantPath(9) != wantPath(8), "the path fixture does not grow in round 10")
    val (gotPath, pathJobs) = sketchFrames(path)
    assert(gotPath == wantPath)
    assert(pathJobs == ReachSketch.Rounds, s"$pathJobs jobs on the path")

    // depth 3 from node 0: round 3 is the last that grows, round 4
    // finds no node grew and ends the loop; frames 5..10 repeat it
    val tree = Seq((0, 1), (0, 2), (1, 3), (2, 4), (3, 5), (4, 6))
    val wantTree = expectedFrames(tree)
    assert(wantTree(2) != wantTree(1), "the tree fixture does not grow in round 3")
    assert(wantTree.drop(3).forall(_ == wantTree(2)))
    val (gotTree, treeJobs) = sketchFrames(tree)
    assert(gotTree == wantTree)
    assert(treeJobs == 4, s"$treeJobs jobs: the early exit did not fire after round 4")
  }

  test("a last growing round that adds a single bit still counts as growth: " +
      "the loop runs the round after it") {
    // 0 -> {1, 2, 3} and 3 -> 25: round 2 adds node 25 to node 0's
    // reach, and all but one of 25's own bits are already set there
    val star = Seq((0, 1), (0, 2), (0, 3), (3, 25))
    val want = expectedFrames(star)
    def bitCount(f: Map[Long, Seq[Long]]) =
      f.valuesIterator.flatten.map(java.lang.Long.bitCount).sum
    assert(bitCount(want(1)) - bitCount(want(0)) == 1, "round 2 does not add exactly one bit")
    assert(want.drop(2).forall(_ == want(1)), "round 2 is not the last growing round")
    val (got, jobs) = sketchFrames(star)
    assert(got == want)
    assert(jobs == 3, s"$jobs jobs: round 2's one-bit growth did not run round 3")
  }
}
